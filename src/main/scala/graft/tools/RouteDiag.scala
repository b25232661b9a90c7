package graft.tools

import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables}
import graft.ops.SimilarityOps

/** Quantizer-routing structure probe: replicate the embeddings corpus K×
  * (the ScaleSmoke sf1 recipe) and print, for the uncapped vs auto-capped
  * hier router, the machine-independent numbers the whale-subdivision
  * claim rests on — candidate volume Σ m² (the pair-join cost driver),
  * max realized list membership, list count, and the routing wall time.
  *
  * Usage: runMain graft.tools.RouteDiag [K ...]   (default 5 10 20)
  */
object RouteDiag {
  def main(args: Array[String]): Unit = {
    val ks = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(5, 10, 20)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.cpus)
    val baseEmb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    println("routediag: k,vectors,nLists,mode,seconds,volume,max_list,lists")
    ks.foreach { k =>
      val emb = (0 until k).map { c =>
        baseEmb.select(
          (col("vec_id") + lit(c * 1000000L)).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            when(i === 0, x + lit(c * 0.001f)).otherwise(x)).as("embedding"))
      }.reduce(_ unionByName _).cache()
      val nv = emb.count()
      val nl = math.max(16, (nv / 125L).toInt)
      Seq("uncapped" -> Long.MaxValue, "auto" -> 0L).foreach { case (mode, cap) =>
        val t0 = System.nanoTime()
        val m = SimilarityOps.routeForTest(
          emb, "vec_id", "embedding", nLists = nl, nProbe = 3, iters = 2,
          hierThreshold = SimilarityOps.HierRoutingThreshold, fineCap = cap)
        val stats = m.groupBy(col("cid")).agg(count(lit(1)).as("m"))
          .agg(sum(col("m") * col("m")).as("vol"), max(col("m")).as("mx"),
            count(lit(1)).as("nl"))
          .head()
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"routediag: $k,$nv,$nl,$mode,$secs%.2f," +
          s"${stats.getLong(0)},${stats.getLong(1)},${stats.getLong(2)}")
      }
      emb.unpersist()
    }
    spark.stop()
  }
}
