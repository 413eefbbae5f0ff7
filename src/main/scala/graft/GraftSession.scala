package graft

import org.apache.spark.sql.SparkSession

/** The one way the engine's own mains and test suites build a session,
  * so a plan dump, a timing, a correctness dump and a test all run on
  * the same engine settings. Queries that need [[GraftExtensions]]
  * register them on whatever session they are given, so the factory
  * does not inject them. */
object GraftSession {

  /** Local width from `SPARK_GRAFT_CPUS` (default 4). */
  lazy val cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  /** Test-data directory from `SPARK_GRAFT_SF_DIR`. */
  lazy val sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  private[graft] def parseCpus(raw: Option[String]): Int =
    raw.fold(4) { v =>
      v.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
    }

  /** `local[cpus]` with `cpus` shuffle partitions, UTC, no UI. */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the ContextCleaner is WEAK-REF driven: on a 128 GiB heap a
      // whole bench session can finish without one full GC (gc_ms ≈ 0
      // in every r9 raw run), so broadcast/shuffle/checkpoint cleanup
      // never fires and a long session accumulates. Periodic GC (down
      // from the 30 min default) bounds that accumulation; per-run
      // `rdds` makes any residue visible in the artifact.
      .config("spark.cleaner.periodicGC.interval", "60s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
