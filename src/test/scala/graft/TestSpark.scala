package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all suites (SURVEY.md §5). */
object TestSpark {
  lazy val session: SparkSession = GraftSession.local(4)
}
