package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (forked test JVM), built the
  * same way as Bench's and Verify's.
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(4)
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}
