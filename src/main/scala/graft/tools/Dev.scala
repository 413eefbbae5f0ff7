package graft.tools

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.execution.adaptive.ShuffleQueryStageExec

import graft.{GraftSession, SparkEntry}
import graft.plans.Checkpoints

/** Dev main for the optimization loop, on the same session settings as
  * Bench and Verify (`SPARK_GRAFT_CPUS`, `SPARK_GRAFT_SF_DIR`):
  *
  * {{{
  * runMain graft.tools.Dev time q…
  * runMain graft.tools.Dev explain [--exec] [--out DIR SUFFIX] q…
  * runMain graft.tools.Dev dup-exchanges
  * }}}
  *
  *  - `time`: warm the tables, then per query one warm-up and one timed
  *    run into a noop sink (Bench's materialization).
  *  - `explain`: `explain("formatted")` per query, to stdout, or with
  *    `--out` to `DIR/<query>_SUFFIX.txt` so plan claims can be checked
  *    without running Spark. `--exec` drives the query's own
  *    executedPlan once first, so the dump shows the FINAL adaptive
  *    plan (isFinalPlan=true) with runtime stage reuse, coalescing and
  *    broadcast promotion — the plan the bench actually pays for, not
  *    the pre-execution estimate.
  *  - `dup-exchanges`: run every registered query once and report those
  *    whose final adaptive plan materialized the same shuffle stage more
  *    than once.
  */
object Dev {
  private val usage =
    "usage: Dev time q... | explain [--exec] [--out DIR SUFFIX] q... | " +
      "dup-exchanges"

  def main(args: Array[String]): Unit = {
    val cmd: (SparkSession, String) => Unit = args.toList match {
      case "time" :: names if names.nonEmpty => time(_, _, names)
      case "explain" :: rest => explain(rest, exec = false, out = None)
      case List("dup-exchanges") => dupExchanges
      case _ => throw new IllegalArgumentException(usage)
    }
    val spark = GraftSession.local(GraftSession.cpus)
    try cmd(spark, GraftSession.sfDir)
    finally spark.stop()
  }

  private def query(name: String) = SparkEntry.registry.find(_.name == name)
    .getOrElse(throw new IllegalArgumentException(s"unknown query: $name"))

  private def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  private def time(spark: SparkSession, sfDir: String,
      names: Seq[String]): Unit = {
    graft.sources.TableLoader.warm(spark, sfDir)
    for (name <- names) {
      val fn = query(name).fn
      noop(fn(spark, sfDir))
      val t0 = System.nanoTime()
      noop(fn(spark, sfDir))
      println(f"$name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
  }

  private def explain(args: List[String], exec: Boolean,
      out: Option[(Path, String)]): (SparkSession, String) => Unit =
    args match {
      case "--exec" :: rest => explain(rest, exec = true, out)
      case "--out" :: dir :: suffix :: rest =>
        explain(rest, exec, Some((Paths.get(dir), suffix)))
      case names if names.nonEmpty && !names.head.startsWith("--") =>
        (spark, sfDir) => {
          val mode = ExplainMode.fromString("formatted")
          out.foreach { case (dir, _) => Files.createDirectories(dir) }
          for (name <- names) {
            val df = query(name).fn(spark, sfDir)
            if (exec) df.queryExecution.executedPlan.execute().count()
            val plan = df.queryExecution.explainString(mode)
            out match {
              case None => println(plan)
              case Some((dir, suffix)) =>
                Files.writeString(dir.resolve(s"${name}_$suffix.txt"), plan)
                println(s"[explain] wrote ${name}_$suffix.txt")
            }
            Checkpoints.sweep(spark)
          }
        }
      case _ => throw new IllegalArgumentException(usage)
    }

  /** Static planning (AQE off) collapses semantically-equal exchanges
    * with ReuseExchange, so a static sweep reports nothing; but under
    * AQE (how Bench/Verify actually run) stage reuse keys on
    * canonicalized stage plans and demonstrably misses shapes involving
    * TableCacheQueryStage / window chains (see plans/r14/
    * q_quantile_normalize_final.txt: stages 15 and 39 identical, both
    * executed). This sweep finds every query paying that recompute. */
  private def dupExchanges(spark: SparkSession, sfDir: String): Unit = {
    graft.sources.TableLoader.warm(spark, sfDir)
    for (q <- SparkEntry.registry) {
      try {
        val df = q.fn(spark, sfDir)
        df.queryExecution.executedPlan.execute().count()
        val stages = df.queryExecution.executedPlan.collectWithSubqueries {
          case s: ShuffleQueryStageExec => s
        }
        // distinct stage INSTANCES (a reused stage appears as the same
        // object / same stage id), grouped by semantic equality
        val distinctById = stages.groupBy(_.id).map(_._2.head).toSeq
        val groups = ArrayBuffer.empty[ArrayBuffer[ShuffleQueryStageExec]]
        for (e <- distinctById) {
          groups.find(g => g.head.plan.sameResult(e.plan)) match {
            case Some(g) => g += e
            case None => groups += ArrayBuffer(e)
          }
        }
        val dups = groups.filter(_.size > 1)
        if (dups.nonEmpty) {
          val sizes = dups.map(_.size).toSeq.sorted.reverse
          println(s"[dup] ${q.name} dupStages=${sizes.sum} " +
            s"(of ${distinctById.size} materialized) groups=" +
            sizes.mkString(","))
        }
      } catch {
        case scala.util.control.NonFatal(e) =>
          println(s"[dup] ${q.name} ERROR ${e.getMessage}")
      }
      Checkpoints.sweep(spark)
    }
  }
}
