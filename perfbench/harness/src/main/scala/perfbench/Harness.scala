package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{coalesce, col, concat_ws, count, lit, sum, xxhash64}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.etl.MigrationPipeline
import graft.plans.Checkpoints
import graft.sources.{JdbcConnector, JetTypes, SessionCache, TableLoader}
import graft.sources.jetmdb.JetMdbSource

/** JVM side of the benchmark. Runs one workload in a closed loop (one
  * client: an operation starts when the previous one has finished) and
  * writes the raw facts as JSON: per-operation spans, listener events
  * of the traced passes, check outputs and host counters. All
  * arithmetic on them lives in `perfbench/stats.py`.
  *
  * Usage: `Harness key=value ...` with keys workload, seed, seconds,
  * trace (0|1), sf, work, out, queries (comma list), reps, cores.
  */
object Harness {

  /** Seconds on one clock shared with the listener events (epoch ms):
    * the epoch at start plus a monotonic offset. */
  private val epoch0 = System.currentTimeMillis() / 1e3
  private val nano0 = System.nanoTime()
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e9

  final case class Args(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      sf: String, work: String, out: String, queries: Seq[String],
      reps: Int, cores: Int)

  def parse(argv: Array[String]): Args = {
    val m = argv.map { kv =>
      val i = kv.indexOf('=')
      require(i > 0, s"argument '$kv' is not key=value")
      kv.substring(0, i) -> kv.substring(i + 1)
    }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("sf"), m("work"), m("out"),
      m.getOrElse("queries", "").split(',').map(_.trim)
        .filter(_.nonEmpty).toSeq,
      m.getOrElse("reps", "3").toInt, m("cores").toInt)
  }

  def newSession(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** (steal, iowait) milliseconds from /proc/stat's aggregate cpu line,
    * summed over all cores (USER_HZ = 100); (-1, -1) when unreadable. */
  def stealIowaitMs(): (Long, Long) =
    try {
      val f = Files.readString(Paths.get("/proc/stat")).linesIterator
        .find(_.startsWith("cpu ")).getOrElse("").trim.split("\\s+")
      (f(8).toLong * 10, f(5).toLong * 10)
    } catch { case NonFatal(_) => (-1L, -1L) }

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum / 1e3
  }

  def storeMb(spark: SparkSession): Double =
    spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum / 1048576.0

  /** Host counters for one region of the run. */
  final class HostWindow {
    private val (steal0, iowait0) = stealIowaitMs()
    private val gc0 = gcSeconds()
    def close(): Map[String, Any] = {
      val (steal1, iowait1) = stealIowaitMs()
      def delta(a: Long, b: Long): Long =
        if (a < 0 || b < 0) -1L else math.max(0L, b - a)
      Map("steal_ms" -> delta(steal0, steal1),
        "iowait_ms" -> delta(iowait0, iowait1),
        "gc_s" -> (gcSeconds() - gc0))
    }
  }

  /** Listener side of a traced pass: jobs, stages, task failures and
    * every QueryExecution's planning phases, in arrival order. */
  final class Recorder extends SparkListener with QueryExecutionListener {
    val jobs = ArrayBuffer[Map[String, Any]]()
    val stages = ArrayBuffer[Map[String, Any]]()
    val qes = ArrayBuffer[Map[String, Any]]()
    private val jobStarts = scala.collection.mutable.Map[Int, (Double, Seq[Int])]()
    var failedTasks = 0L

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobStarts(e.jobId) = (e.time / 1e3, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStarts.remove(e.jobId).foreach { case (start, stageIds) =>
        jobs += Map("id" -> e.jobId, "start" -> start, "end" -> e.time / 1e3,
          "stages" -> stageIds)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (!e.taskInfo.successful) failedTasks += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val i = e.stageInfo
        val m = i.taskMetrics
        stages += Map(
          "id" -> i.stageId,
          "start" -> i.submissionTime.getOrElse(0L) / 1e3,
          "end" -> i.completionTime.getOrElse(0L) / 1e3,
          "tasks" -> i.numTasks,
          "task_s" -> (if (m == null) 0.0 else m.executorRunTime / 1e3),
          "shuffle_read_b" -> (if (m == null) 0L
            else m.shuffleReadMetrics.totalBytesRead),
          "shuffle_write_b" -> (if (m == null) 0L
            else m.shuffleWriteMetrics.bytesWritten),
          "spill_b" -> (if (m == null) 0L else m.diskBytesSpilled),
          "records_written" -> (if (m == null) 0L
            else m.outputMetrics.recordsWritten))
      }
    override def onSuccess(
        funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      synchronized {
        val ph = qe.tracker.phases
        val plan = Seq(QueryPlanningTracker.ANALYSIS,
          QueryPlanningTracker.OPTIMIZATION, QueryPlanningTracker.PLANNING)
          .flatMap(ph.get).map(_.durationMs).sum / 1e3
        qes += Map("func" -> funcName, "plan_s" -> plan, "t" -> now())
      }
    override def onFailure(
        funcName: String, qe: QueryExecution, e: Exception): Unit = ()

    /** Marks the end of a span in the QE stream: the QE callbacks
      * before a mark belong to the span the mark closes. */
    def mark(): Int = synchronized(qes.size)
    def snapshot(): Map[String, Any] = synchronized {
      Map("jobs" -> jobs.toList, "stages" -> stages.toList,
        "qes" -> qes.toList, "failed_tasks" -> failedTasks)
    }
  }

  /** Codegen counters, read before and after a span. */
  def codegen(): (Long, Double) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      CodeGenerator.compileTime / 1e9)

  /** One traced span around a call into a layer: the QE callbacks it
    * caused are `qes[qe_from, qe_to)` once the bus is drained. The
    * drain itself is excluded from the recorded wall. */
  def span[T](spark: SparkSession, rec: Recorder, name: String,
      out: ArrayBuffer[Map[String, Any]])(body: => T): T = {
    val qeFrom = rec.mark()
    val (c0, cs0) = codegen()
    val t0 = now()
    val r = body
    val t1 = now()
    val (c1, cs1) = codegen()
    PerfbenchBus.drain(spark.sparkContext)
    out += Map("span" -> name, "start" -> t0, "end" -> t1,
      "qe_from" -> qeFrom, "qe_to" -> rec.mark(),
      "compiles" -> (c1 - c0), "compile_s" -> (cs1 - cs0))
    r
  }

  def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** The traced part of a run: rounds of one untraced group of
    * operations (the baseline) followed by the same group traced, so
    * that host drift between the two stays small. */
  def tracedRounds(spark: SparkSession, seconds: Double, min: Int)(
      group: (Int, Option[Recorder]) => Seq[Map[String, Any]]): Map[String, Any] = {
    val rec = new Recorder
    val base, ops = ArrayBuffer[Map[String, Any]]()
    val hosts = ArrayBuffer[Map[String, Any]]()
    loop(seconds, min) { i =>
      base ++= group(i, None)
      spark.sparkContext.addSparkListener(rec)
      spark.listenerManager.register(rec)
      val h = new HostWindow
      ops ++= group(i, Some(rec))
      PerfbenchBus.drain(spark.sparkContext)
      hosts += h.close()
      spark.listenerManager.unregister(rec)
      spark.sparkContext.removeSparkListener(rec)
    }
    Map("ops" -> ops.toList, "baseline" -> base.toList, "hosts" -> hosts.toList,
      "store_mb" -> storeMb(spark)) ++ rec.snapshot()
  }

  // ---------------------------------------------------------------- queries

  /** One query call as the closed-loop client makes it. Untraced: the
    * whole call is one span. Traced: the build (`QDef.fn`) and the
    * write are separate spans. Checkpoint sweeps and cache counters
    * are read outside the spans. */
  def runQuery(spark: SparkSession, a: Args, name: String, pass: Int,
      rec: Option[Recorder], write: DataFrame => Unit): Map[String, Any] = {
    val fn = SparkEntry.queries(name)
    val (hit0, miss0) = SessionCache.stats
    val spans = ArrayBuffer[Map[String, Any]]()
    val t0 = now()
    val err =
      try {
        rec match {
          case None => write(fn(spark, a.sf))
          case Some(r) =>
            val df = span(spark, r, "build", spans)(fn(spark, a.sf))
            span(spark, r, "write", spans)(write(df))
        }
        None
      } catch { case NonFatal(e) => Some(String.valueOf(e.getMessage)) }
    val t1 = now()
    val (hit1, miss1) = SessionCache.stats
    val swept = Checkpoints.sweep(spark).size
    Map("op" -> name, "pass" -> pass, "start" -> t0, "end" -> t1,
      "ok" -> err.isEmpty, "err" -> err.orNull, "hit" -> (hit1 - hit0),
      "miss" -> (miss1 - miss0), "swept" -> swept, "spans" -> spans.toList)
  }

  def order(names: Seq[String], rng: Random): Seq[String] =
    rng.shuffle(names)

  /** Repeats `body` while another round still fits in `seconds` (judged
    * by the last round's length), and at least `min` times. */
  def loop(seconds: Double, min: Int)(body: Int => Unit): Unit = {
    val start = now()
    var i = 0
    var last = 0.0
    while (i < min || now() - start + last <= seconds) {
      val t0 = now()
      body(i)
      last = now() - t0
      i += 1
    }
  }

  /** Closed-loop passes over the query list, the seed fixing each
    * pass's order. At least two passes, so that the tail percentile has
    * ten samples beyond it. */
  def queryPasses(spark: SparkSession, a: Args, rng: Random)
      : (Seq[Map[String, Any]], Map[String, Any]) = {
    val ops = ArrayBuffer[Map[String, Any]]()
    val host = new HostWindow
    loop(a.seconds, 2) { pass =>
      order(a.queries, rng).foreach { q =>
        ops += runQuery(spark, a, q, pass, None, noop)
      }
    }
    (ops.toList, host.close() + ("store_mb" -> storeMb(spark)))
  }

  def queries(a: Args, rec0: Map[String, Any]): Map[String, Any] = {
    val rng = new Random(a.seed)
    var spark: SparkSession = null
    val host = new HostWindow
    // set-up, repeated: session start and table warm-up
    val setups = (1 to a.reps).map { _ =>
      if (spark != null) spark.stop()
      val t0 = now()
      spark = newSession(a)
      TableLoader.warm(spark, a.sf)
      now() - t0
    }
    // the first pass is the check pass: every query's output goes to
    // parquet for the oracle compare, and its cold cost (codegen,
    // session-cache builds) is part of set-up
    val checkDir = s"${a.work}/check"
    val cold = order(a.queries, rng).map { q =>
      runQuery(spark, a, q, -1, None,
        df => df.coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$q"))
    }
    // and four untimed warm passes: JIT compilation (of the engine and
    // of the Janino compiler behind codegen) keeps speeding up the first
    // warm passes
    val warmup = (1 to 4).flatMap(_ =>
      order(a.queries, rng).map(q => runQuery(spark, a, q, -1, None, noop)))
    val (timed, timedHost) = queryPasses(spark, a, rng)
    val traced =
      if (!a.trace) Map.empty[String, Any]
      else tracedRounds(spark, a.seconds, 2) { (pass, rec) =>
        order(a.queries, rng).map(q => runQuery(spark, a, q, pass, rec, noop))
      }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => a.queries.contains(k) }
    spark.stop()
    rec0 ++ Map("setup_reps_s" -> setups, "cold" -> cold, "warmup" -> warmup,
      "timed" -> timed, "timed_host" -> timedHost, "traced" -> traced,
      "check_dir" -> checkDir, "oracle_sql" -> oracle,
      "run_host" -> host.close())
  }

  // -------------------------------------------------------------- migration

  /** Source tables of the migration with their keys: PKs on every
    * table, enforced FKs lineitem→orders→customer. lineitem's
    * (orderkey, linenumber) repeats in this data, so its key adds
    * partkey and suppkey. */
  val migTables: Seq[(String, String, Option[String])] = Seq(
    ("customer", "c_custkey", None),
    ("orders", "o_orderkey", Some("fk_orders_customer:o_custkey>customer.c_custkey")),
    ("lineitem", "l_orderkey+l_linenumber+l_partkey+l_suppkey",
      Some("fk_lineitem_orders:l_orderkey>orders.o_orderkey")))

  /** The migration's source tables. lineitem keeps the lines of every
    * fourth order (~150 k of 600 k rows), so that one migration
    * (~315 k rows) fits a run's time budget. `sample` > 1 keeps only the
    * customers whose key it divides, and their orders and lines: the
    * small database of the warm-up migration. Every FK still holds. */
  def sources(spark: SparkSession, a: Args, sample: Int): Seq[(String, DataFrame)] = {
    def read(t: String) = spark.read.parquet(s"${a.sf}/$t.parquet")
    val c = read("customer").where(col("c_custkey") % sample === 0)
    val o0 = read("orders")
    val o = if (sample == 1) o0 else o0.where(col("o_custkey") % sample === 0)
    val l0 = read("lineitem").where(col("l_orderkey") % 4 === 0)
    val l = if (sample == 1) l0
      else l0.join(o.select(col("o_orderkey")), l0("l_orderkey") === o("o_orderkey"), "left_semi")
    Seq("customer" -> c, "orders" -> o, "lineitem" -> l)
  }

  /** An `.accdb` of the source tables in a seed-fixed row order, with
    * their keys and relationships. */
  def buildAccdb(a: Args, tables: Seq[(String, DataFrame)], path: String): Unit = {
    Files.deleteIfExists(Paths.get(path))
    MigrationPipeline.exportToJetMdb(
      tables.map { case (t, df) =>
        t -> df.orderBy(xxhash64(df.columns.map(col) :+ lit(a.seed): _*) +:
          df.columns.map(col).toIndexedSeq: _*)
      }, path,
      indexSpecs = migTables.map { case (t, pk, _) => t -> s"pk_$t:$pk:p" }.toMap,
      relationshipSpecs = migTables.collect { case (t, _, Some(r)) => t -> r }.toMap,
      version = "ace")
  }

  /** Order-independent content checksum: row count and the sum of a
    * 64-bit hash of each row's canonical text (columns by name, NULL
    * as \u0000), summed as a decimal so it cannot overflow. */
  def checksum(df: DataFrame): (Long, String) = {
    val cols = df.columns.sortBy(_.toLowerCase).map(c =>
      coalesce(col(c).cast("string"), lit("\u0000")))
    val r = df.select(xxhash64(concat_ws("\u0001", cols.toIndexedSeq: _*))
        .cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), String.valueOf(r.get(1)))
  }

  def freshDerby(a: Args, i: Int): (String, Path) = {
    val dir = Paths.get(a.work, "derby", s"target$i").toAbsolutePath
    deleteTree(dir)
    java.sql.DriverManager.getConnection(s"jdbc:derby:$dir;create=true").close()
    (s"jdbc:derby:$dir", dir)
  }

  def dropDerby(url: String, dir: Path): Unit = {
    try java.sql.DriverManager.getConnection(s"$url;shutdown=true")
    catch { case _: java.sql.SQLException => () } // 08006 = shut down
    deleteTree(dir)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.delete(x))
      finally s.close()
    }

  /** The traced migration: `migrateJetMdb` taken apart into its public
    * steps so each layer gets its own span, then a decode probe and a
    * normalize probe per table (noop sinks) that the untraced
    * migration does not run; they come last so they cannot warm the
    * steps the migration times. */
  def tracedMigration(spark: SparkSession, path: String, url: String,
      rec: Recorder, spans: ArrayBuffer[Map[String, Any]]): Map[String, Long] = {
    val (specs, rels) = span(spark, rec, "catalog", spans)(
      (MigrationPipeline.specsFromJetMdb(path), JetMdbSource.relationships(path)))
    val counts = specs.map { spec =>
      val table = JetTypes.sanitizeName(spec.name)
      // the column types migrate() gives bounded Access text
      val shortTexts = spec.jetSchema.collect {
        case (n, JetTypes.ShortText) => s"${JetTypes.sanitizeName(n)} VARCHAR(255)"
      }
      val props =
        if (shortTexts.isEmpty) Map.empty[String, String]
        else Map("createTableColumnTypes" -> shortTexts.mkString(", "))
      span(spark, rec, s"load:$table", spans)(JdbcConnector.write(
        MigrationPipeline.normalizeTyped(spec.source(spark)), url, table,
        SaveMode.Overwrite, props = props))
      spec.name -> span(spark, rec, s"verify:$table", spans)(
        JdbcConnector.read(spark, url, table).count())
    }.toMap
    val ddl = MigrationPipeline.constraintDdl(specs, rels, "derby")
      .filterNot(_.startsWith("--"))
    span(spark, rec, "constraints", spans)(JdbcConnector.execute(url, ddl))
    spans(spans.size - 1) = spans.last + ("statements" -> ddl.size)
    specs.foreach { spec =>
      val table = JetTypes.sanitizeName(spec.name)
      span(spark, rec, s"decode:$table", spans)(noop(spec.source(spark)))
      span(spark, rec, s"normalize:$table", spans)(
        noop(MigrationPipeline.normalizeTyped(spec.source(spark))))
    }
    counts
  }

  def migrate(a: Args, rec0: Map[String, Any]): Map[String, Any] = {
    System.setProperty("derby.stream.error.file", s"${a.work}/derby.log")
    val host = new HostWindow
    var spark: SparkSession = null
    // set-up, repeated: session start and source-table warm-up
    val setups = (1 to a.reps).map { _ =>
      if (spark != null) spark.stop()
      val t0 = now()
      spark = newSession(a)
      sources(spark, a, 1).foreach { case (_, df) => df.count() }
      now() - t0
    }
    // then once: the .accdb, and a warm-up migration of a small one
    // (1/10 of the customers) so the timed migrations do not start cold
    val accdb = s"${a.work}/migrate.accdb"
    val small = s"${a.work}/warmup.accdb"
    val p0 = now()
    buildAccdb(a, sources(spark, a, 1), accdb)
    buildAccdb(a, sources(spark, a, 10), small)
    val (wUrl, wDir) = freshDerby(a, -1)
    MigrationPipeline.migrateJetMdb(spark, small, MigrationPipeline.JdbcSink(wUrl))
    dropDerby(wUrl, wDir)
    val prepS = now() - p0
    val source = sources(spark, a, 1).map { case (t, df) => t -> checksum(df) }.toMap
    def migration(i: Int, rec: Option[Recorder]): Map[String, Any] = {
      val (url, dir) = freshDerby(a, i)
      val spans = ArrayBuffer[Map[String, Any]]()
      val t0 = now()
      val (counts, err) =
        try {
          (rec match {
            case None => MigrationPipeline.migrateJetMdb(
              spark, accdb, MigrationPipeline.JdbcSink(url))
            case Some(r) => tracedMigration(spark, accdb, url, r, spans)
          }, None)
        } catch { case NonFatal(e) => (Map.empty[String, Long], Some(String.valueOf(e.getMessage))) }
      val t1 = now()
      // untimed check: the target's content against the source parquet
      val target =
        if (err.isDefined) Map.empty[String, (Long, String)]
        else source.keys.map(t => t -> checksum(JdbcConnector.read(spark, url, t))).toMap
      dropDerby(url, dir)
      Map("op" -> "migrate", "start" -> t0, "end" -> t1,
        "ok" -> err.isEmpty, "err" -> err.orNull, "counts" -> counts,
        "target" -> target.map { case (k, (n, s)) => k -> Map("rows" -> n, "sum" -> s) },
        "spans" -> spans.toList)
    }
    val timedHost = new HostWindow
    val timed = ArrayBuffer[Map[String, Any]]()
    loop(a.seconds, 1)(i => timed += migration(i, None))
    val timedFacts = timedHost.close() + ("store_mb" -> storeMb(spark))
    val traced =
      if (!a.trace) Map.empty[String, Any]
      else tracedRounds(spark, a.seconds, 1)((i, rec) => Seq(migration(i, rec)))
    spark.stop()
    Seq(accdb, small).foreach(p => Files.deleteIfExists(Paths.get(p)))
    rec0 ++ Map("setup_reps_s" -> setups, "prep_s" -> prepS,
      "source" -> source.map { case (k, (n, s)) => k -> Map("rows" -> n, "sum" -> s) },
      "timed" -> timed.toList, "timed_host" -> timedFacts, "traced" -> traced,
      "run_host" -> host.close())
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val rec0 = Map[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "cores" -> a.cores,
      "sf" -> a.sf, "derby_durability" ->
        Option(System.getProperty("derby.system.durability")).getOrElse("default"))
    val record = a.workload match {
      case "migrate_accdb" => migrate(a, rec0)
      case _               => queries(a, rec0)
    }
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    Files.writeString(Paths.get(a.out), mapper.writeValueAsString(record))
  }
}
