package graft

import org.apache.spark.sql.SparkSession

/** The one way to build a session: Bench, Verify, the developer tools and
  * the specs all run the same configuration, so a number measured by one
  * of them means the same thing in the others.
  */
object GraftSession {

  /** Local cores: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(4)

  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // keep the bounded-heap UDAF aggregates (top-M adjacency, top-k
      // search) in HASH mode: the default 128-distinct-key fallback
      // degrades every group-heavy ObjectHashAggregate into a full sort
      // of its input — measured 76s (spilling sort of a 101M-row pair
      // stream) vs hash-mode minutes->seconds at the sf1 K=20 decade.
      // Heap buffers are M-bounded (~500B), so 1M keys/partition is MBs
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1048576")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
