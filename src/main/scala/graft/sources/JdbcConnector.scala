package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** JDBC source/sink — the reference's defining I/O (SURVEY.md §2.1
  * jdbc_source/jdbc_sink; the Access→PostgreSQL bulk-load half of the
  * migration).
  *
  * Thin: the option plumbing below is the entire integration surface.
  * JdbcConnectorSpec and the migration specs exercise it end to end
  * against an embedded Derby; JdbcConnectorSpec additionally drives an
  * external server when GRAFT_PG_URL or SPARK_GRAFT_JDBC_URL is set.
  *
  * Scale notes (the knobs that matter on a 1000-executor cluster):
  *   - reads MUST be partitioned (`partitionColumn` + bounds +
  *     `numPartitions`) or the whole table funnels through one task;
  *   - `pushDownPredicate` is on by default — filters run server-side,
  *     exactly like the reference's WHERE-less COPY but better;
  *   - writes batch via `batchsize` (server round-trips per 10k rows)
  *     and `truncate` avoids DDL churn on overwrite.
  */
object JdbcConnector {

  final case class PartitionSpec(
      column: String, lowerBound: Long, upperBound: Long, numPartitions: Int)

  /** Driver-side connection honoring the SAME props map the Spark
    * JDBC read/write paths honor. `DriverManager.getConnection(url)`
    * alone silently drops `user`/`password` entries — an upsert or
    * DDL batch against an authenticated target would then fail
    * despite credentials being passed. Every prop except `driver`
    * (JVM-side class loading, not a connection property) forwards;
    * JDBC drivers ignore unknown keys by contract. */
  private[graft] def connect(
      url: String, props: Map[String, String]): java.sql.Connection = {
    props.get("driver").foreach(Class.forName)
    val p = new java.util.Properties()
    props.foreach { case (k, v) => if (k != "driver") p.setProperty(k, v) }
    java.sql.DriverManager.getConnection(url, p)
  }

  def read(
      spark: SparkSession,
      url: String,
      table: String,
      partition: Option[PartitionSpec] = None,
      props: Map[String, String] = Map.empty): DataFrame = {
    val base = spark.read
      .format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("fetchsize", props.getOrElse("fetchsize", "10000"))
    val withPart = partition.fold(base) { p =>
      base
        .option("partitionColumn", p.column)
        .option("lowerBound", p.lowerBound)
        .option("upperBound", p.upperBound)
        .option("numPartitions", p.numPartitions)
    }
    props.foldLeft(withPart) { case (r, (k, v)) => r.option(k, v) }.load()
  }

  def write(
      df: DataFrame,
      url: String,
      table: String,
      mode: SaveMode = SaveMode.Append,
      batchSize: Int = 10000,
      props: Map[String, String] = Map.empty): Unit = {
    val w = df.write
      .format("jdbc")
      .mode(mode)
      .option("url", url)
      .option("dbtable", table)
      .option("batchsize", batchSize)
    props.foldLeft(w) { case (r, (k, v)) => r.option(k, v) }.save()
  }

  /** Key-based upsert — the INCREMENTAL load a one-shot overwrite
    * lacks (re-running a full overwrite per delta is the anti-pattern
    * at warehouse scale).
    *
    * Shape: bulk-load the delta into a staging table with the normal
    * distributed batched write (all executors participate — the rows
    * never pass through the driver), then one server-side ANSI MERGE
    * folds staging into the target. The MERGE is a single driver-issued
    * statement; the heavy lifting (row transfer) stays distributed, the
    * set operation runs where the data already is. Works on any MERGE-
    * capable target (Derby 10.11+, PostgreSQL 15+, SQL Server, Oracle);
    * for PostgreSQL < 15 pass a custom `mergeSql` builder producing
    * `INSERT ... ON CONFLICT (keys) DO UPDATE`.
    */
  def upsert(
      df: DataFrame,
      url: String,
      table: String,
      keyCols: Seq[String],
      props: Map[String, String] = Map.empty,
      mergeSql: Option[(String, String) => String] = None): Unit = {
    require(keyCols.nonEmpty, "upsert requires at least one key column")
    val nonKey = df.columns.filterNot(keyCols.contains)
    require(nonKey.nonEmpty, "upsert requires at least one non-key column")
    val staging = s"${table}__stage"
    write(df, url, staging, SaveMode.Overwrite, props = props)
    val sql = mergeSql.map(_(table, staging)).getOrElse {
      // Spark's JDBC writer passes the dbtable string through VERBATIM
      // (so callers can schema-qualify) but CREATEs columns with quoted
      // case-exact identifiers — the MERGE must match: table names raw,
      // column names quoted, or the server's case folding (Derby upper,
      // Postgres lower) misses the quoted lowercase columns.
      def q(id: String): String = "\"" + id + "\""
      val on = keyCols.map(k => s"t.${q(k)} = s.${q(k)}").mkString(" AND ")
      val set = nonKey.map(c => s"${q(c)} = s.${q(c)}").mkString(", ")
      val cols = df.columns.map(q).mkString(", ")
      val vals = df.columns.map(c => s"s.${q(c)}").mkString(", ")
      s"""MERGE INTO $table t USING $staging s ON $on
         |WHEN MATCHED THEN UPDATE SET $set
         |WHEN NOT MATCHED THEN INSERT ($cols) VALUES ($vals)""".stripMargin
    }
    val conn = connect(url, props)
    try {
      val st = conn.createStatement()
      try {
        st.execute(sql)
        st.execute(s"DROP TABLE $staging")
      } finally st.close()
    } finally conn.close()
  }

  /** Driver-side `SELECT COUNT(*)` of `table` on the target — a
    * migration's post-load verify, one round-trip instead of a Spark
    * JDBC scan. */
  private[graft] def count(
      url: String,
      table: String,
      props: Map[String, String] = Map.empty): Long = {
    val conn = connect(url, props)
    try {
      val st = conn.createStatement()
      try {
        val rs = st.executeQuery(s"SELECT COUNT(*) FROM $table")
        rs.next()
        rs.getLong(1)
      } finally st.close()
    } finally conn.close()
  }

  /** Driver-issued DDL batch (the post-load constraints stage of a
    * migration): statements run in order on one connection, failing
    * fast with the offending statement in the exception — a half-
    * applied constraint set must be visible, not swallowed. */
  def execute(
      url: String,
      sqls: Seq[String],
      props: Map[String, String] = Map.empty): Unit = {
    if (sqls.isEmpty) return
    val conn = connect(url, props)
    try {
      val st = conn.createStatement()
      try sqls.foreach { sql =>
        try st.execute(sql)
        catch {
          case e: java.sql.SQLException =>
            throw new java.sql.SQLException(
              s"DDL failed: $sql — ${e.getMessage}",
              e.getSQLState, e.getErrorCode, e)
        }
      } finally st.close()
    } finally conn.close()
  }
}
