package graft.tools

import graft.{Bench, GraftSession, SparkEntry}

/** Ad-hoc timing harness for a SUBSET of registered queries — the
  * iterate-on-one-plan complement of [[graft.Bench]] (which always runs all
  * of them), with Bench's session, warmup and per-run timing.
  *
  * Usage: runMain graft.tools.TimeQueries q_name1 q_name2 ...
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 4),
  * SPARK_GRAFT_REPS (default 1 measured rep per query).
  */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "1").toInt
    val names =
      if (args.nonEmpty) args.toSeq
      else sys.error("pass query names, e.g. runMain graft.tools.TimeQueries q_neardup_clusters")
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = GraftSession.local(GraftSession.cpus)
    val smallDir = Bench.warmDir(sfDir)
    names.foreach(n => Bench.warmup(spark, n)(Bench.exhaust(SparkEntry.queries(n)(spark, smallDir))))
    names.foreach { n =>
      (1 to reps).foreach { r =>
        Bench.timed(spark, n)(Bench.exhaust(SparkEntry.queries(n)(spark, sfDir))) match {
          case Some(dt) => println(f"[time] $n rep$r: $dt%.2f s")
          case None => println(s"[time] $n rep$r: failed")
        }
      }
    }
    spark.stop()
  }
}
