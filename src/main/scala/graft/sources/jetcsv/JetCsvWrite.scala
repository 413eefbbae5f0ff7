package graft.sources.jetcsv

import java.time.LocalDateTime
import java.time.ZoneOffset
import java.time.format.DateTimeFormatter
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

import graft.sources.JetTypes._

/** Write side of the jetcsv source (the `mdb-export`-format SINK): a
  * DSv2 [[BatchWrite]] with the standard staged two-phase commit —
  * every task writes its partition to `.staging-<uuid>/part-*.csv`,
  * the driver's commit MOVES the staged parts into the table
  * directory and (re)writes `schema.jet`; abort deletes the staging
  * directory and the table is untouched. Overwrite mode clears
  * existing parts inside the same commit, so readers never observe a
  * half-written table.
  *
  * The Spark→Jet type mapping is the exact inverse of
  * [[JetTypes.toSpark]]; types Jet cannot hold (BIGINT — Jet has no
  * 64-bit integer) fail fast at plan time with a cast hint instead of
  * corrupting silently.
  */
object JetCsvWrite {

  def jetTypeOf(f: StructField): JetType = f.dataType match {
    case BooleanType => YesNo
    case ShortType => JetInteger
    case IntegerType => LongInteger
    case FloatType => Single
    case DoubleType => JetDouble
    case d: DecimalType if d.precision == 19 && d.scale == 4 => Currency
    case d: DecimalType => Numeric(d.precision, d.scale)
    case TimestampType | TimestampNTZType => DateTime
    case StringType => ShortText
    case BinaryType => OleObject
    // ACE 2016 Large Number (r12): without this, the 'export to CSV
    // (jetcsv)' escape route named by the jetmdb COMPLEX/DATEXT
    // rejections dead-ended for any .accdb table that also carries a
    // Large Number column
    case LongType => BigNumber
    case other => throw new IllegalArgumentException(
      s"jetcsv: column ${f.name}: $other has no Jet rendering " +
        "(array/struct/map need the parquet sink)")
  }

  def sidecarText(schema: StructType): String =
    schema.map { f =>
      jetTypeOf(f) match {
        case Numeric(p, s) => s"${f.name}:numeric:$p:$s"
        case t => s"${f.name}:${t.name}"
      }
    }.mkString("", "\n", "\n")

  private val tsFmt =
    DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS")

  /** One Catalyst value → CSV token (inverse of JetCsv.convert). */
  def render(v: Any, t: JetType): String =
    if (v == null) ""
    else t match {
      case YesNo => if (v.asInstanceOf[Boolean]) "-1" else "0"
      case DateTime =>
        val us = v.asInstanceOf[Long]
        LocalDateTime.ofEpochSecond(
          Math.floorDiv(us, 1000000L),
          (Math.floorMod(us, 1000000L) * 1000L).toInt,
          ZoneOffset.UTC).format(tsFmt)
      case Currency | Numeric(_, _) =>
        v.asInstanceOf[org.apache.spark.sql.types.Decimal]
          .toJavaBigDecimal.toPlainString
      case OleObject =>
        java.util.Base64.getEncoder
          .encodeToString(v.asInstanceOf[Array[Byte]])
      case _ => v.toString
    }

  def csvEscape(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s
}

private[jetcsv] final class JetCsvWriteBuilder(
    dir: String, info: LogicalWriteInfo)
  extends WriteBuilder with SupportsTruncate {

  private var doTruncate = false

  override def truncate(): WriteBuilder = { doTruncate = true; this }

  override def build(): Write = new Write {
    override def toBatch: BatchWrite = {
      // schema validated NOW (plan time), not per executor
      JetCsvWrite.sidecarText(info.schema())
      JetCsvBatchWrite(dir, info.schema(), doTruncate,
        new SerializableConfiguration(SparkSession.active
          .sparkContext.hadoopConfiguration))
    }
  }
}

private[jetcsv] final case class JetCsvBatchWrite(
    dir: String,
    schema: StructType,
    truncate: Boolean,
    conf: SerializableConfiguration) extends BatchWrite {

  private val stagingName = s".staging-${UUID.randomUUID().toString}"

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    JetCsvWriterFactory(dir, stagingName, schema, conf)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(dir).getFileSystem(conf.value)
    val staging = new Path(dir, stagingName)
    if (truncate) {
      // clear previous parts inside the same commit
      Option(fs.globStatus(new Path(dir, "*.csv")))
        .getOrElse(Array.empty)
        .foreach(s => fs.delete(s.getPath, false))
    }
    messages.collect { case m: JetCsvCommit if m.file != null =>
      if (!fs.rename(new Path(staging, m.file), new Path(dir, m.file)))
        throw new java.io.IOException(
          s"jetcsv commit: failed to move ${m.file} into $dir " +
            "(staging left in place for inspection)")
    }
    val out = fs.create(new Path(dir, "schema.jet"), true)
    try out.write(
      JetCsvWrite.sidecarText(schema).getBytes("UTF-8"))
    finally out.close()
    fs.delete(staging, true)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(dir).getFileSystem(conf.value)
    fs.delete(new Path(dir, stagingName), true)
  }
}

private[jetcsv] final case class JetCsvCommit(file: String)
  extends WriterCommitMessage

private[jetcsv] final case class JetCsvWriterFactory(
    dir: String,
    stagingName: String,
    schema: StructType,
    conf: SerializableConfiguration) extends DataWriterFactory {

  override def createWriter(
      partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new JetCsvDataWriter(dir, stagingName, schema, conf.value,
      partitionId, taskId)
}

private[jetcsv] final class JetCsvDataWriter(
    dir: String,
    stagingName: String,
    schema: StructType,
    hconf: Configuration,
    partitionId: Int,
    taskId: Long) extends DataWriter[InternalRow] {

  private val fileName = f"part-$partitionId%05d-$taskId.csv"
  private val path = new Path(new Path(dir, stagingName), fileName)
  private val fs = path.getFileSystem(hconf)
  private val out = fs.create(path, true)
  private val jetTypes = schema.fields.map(JetCsvWrite.jetTypeOf)
  private var wroteAny = false

  override def write(row: InternalRow): Unit = {
    val sb = new StringBuilder
    var i = 0
    while (i < schema.length) {
      if (i > 0) sb.append(',')
      val v =
        if (row.isNullAt(i)) null
        else row.get(i, schema(i).dataType)
      sb.append(JetCsvWrite.csvEscape(JetCsvWrite.render(v, jetTypes(i))))
      i += 1
    }
    sb.append('\n')
    out.write(sb.result().getBytes("UTF-8"))
    wroteAny = true
  }

  override def commit(): WriterCommitMessage = {
    out.close()
    if (wroteAny) JetCsvCommit(fileName)
    else { fs.delete(path, false); JetCsvCommit(null) } // empty part
  }

  override def abort(): Unit = {
    out.close()
    fs.delete(path, false)
  }

  override def close(): Unit = ()
}
