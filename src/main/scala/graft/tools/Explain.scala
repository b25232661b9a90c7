package graft.tools

import graft.{GraftSession, SparkEntry}

/** Print the formatted physical plan of registered queries, in Bench's
  * session configuration, so the plan trees recorded in PLANS.md are
  * generated, not transcribed.
  *
  * Usage: runMain graft.tools.Explain [q_name ...]   (all queries if none)
  * Env: SPARK_GRAFT_SF_DIR (default sf0.01), SPARK_GRAFT_CPUS (default 4).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = GraftSession.local(GraftSession.cpus)
    names.foreach { n =>
      println(s"\n===================== $n =====================")
      SparkEntry.queries(n)(spark, dir).explain("formatted")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
