package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.graft_l2sq
import graft.ops.DedupOps

/** The relational formulation of the fixed-point Lloyd fit, kept as the
  * reference that `SimilarityOps`' driver-held fit is checked against
  * (LloydSpec). Every round is a broadcast assignment, an argmin aggregate
  * over `(id, cid, dist)` triples, a re-join of the vectors and a
  * posexplode → per-(cid, pos) `sum div count` update, localCheckpointed.
  */
object RelationalLloyd {

  def quantizeFp(vecs: DataFrame, idCol: String, vecCol: String): DataFrame =
    vecs.select(
      col(idCol),
      transform(col(vecCol), x => round(x.cast("double") * lit(1000000.0)).cast("long"))
        .as("vfp"))

  def assignFp(v: DataFrame, idCol: String, cs: DataFrame): DataFrame =
    v.join(broadcast(cs), lit(true))
      .withColumn("dist_fp", graft_l2sq(col("vfp"), col("cfp")))
      .groupBy(col(idCol))
      .agg(min(struct(col("dist_fp").as("d"), col("cid").as("c"))).as("m"))
      .select(col(idCol), col("m.c").as("cid"), col("m.d").as("dist_fp"))

  def pqAssignFp(s: DataFrame, idCol: String, cs: DataFrame): DataFrame =
    s.join(broadcast(cs), Seq("sub"))
      .withColumn("dist_fp", graft_l2sq(col("svfp"), col("cfp")))
      .groupBy(col(idCol), col("sub"))
      .agg(min(struct(col("dist_fp").as("d"), col("cid").as("c"))).as("m"))
      .select(col(idCol), col("sub"), col("m.c").as("code"), col("m.d").as("dist_fp"))

  /** `(cid, cfp)` after `iters` rounds over an `(id, vfp)` relation. */
  def lloyd(v: DataFrame, idCol: String, k: Int, iters: Int): DataFrame = {
    val seedW = Window.orderBy(col(idCol))
    var centroids = v.orderBy(col(idCol)).limit(k)
      .withColumn("cid", row_number().over(seedW).cast("long") - 1)
      .select(col("cid"), col("vfp").as("cfp"))
      .localCheckpoint()
    for (_ <- 1 to iters) {
      val means = assignFp(v, idCol, centroids).join(v, idCol)
        .select(col("cid"), posexplode(col("vfp")).as(Seq("pos", "x")))
        .groupBy(col("cid"), col("pos"))
        .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        .select(col("cid"), col("pos"), expr("s div n").as("m"))
        .groupBy(col("cid"))
        .agg(DedupOps.bindOnce(sort_array(collect_list(struct(col("pos"), col("m"))))) { arr =>
          transform(arr, e => e.getField("m"))
        }.as("cfp_new"))
      centroids = centroids.join(means, Seq("cid"), "left")
        .select(col("cid"), coalesce(col("cfp_new"), col("cfp")).as("cfp"))
        .localCheckpoint()
    }
    centroids
  }

  /** `(sub, cid, cfp)` after `iters` rounds over an `(id, sub, svfp)`
    * relation, seeding at most `least(__cap, kSub)` codewords per sub when
    * `subCaps` `(sub, __cap)` is given (a sub absent from it gets none).
    */
  def pqLloyd(
      s: DataFrame, idCol: String, kSub: Int, iters: Int,
      subCaps: Option[DataFrame] = None): DataFrame = {
    val seedW = Window.partitionBy(col("sub")).orderBy(col(idCol))
    val seeded = s.withColumn("rn", row_number().over(seedW))
    val capped = subCaps match {
      case None => seeded.filter(col("rn") <= kSub)
      case Some(c) => seeded.join(broadcast(c), Seq("sub"))
        .filter(col("rn") <= least(col("__cap"), lit(kSub.toLong)))
    }
    var codebooks = capped
      .select(col("sub"), (col("rn").cast("long") - 1).as("cid"), col("svfp").as("cfp"))
      .localCheckpoint()
    for (_ <- 1 to iters) {
      val means = pqAssignFp(s, idCol, codebooks)
        .withColumnRenamed("code", "cid")
        .join(s, Seq(idCol, "sub"))
        .select(col("sub"), col("cid"), posexplode(col("svfp")).as(Seq("pos", "x")))
        .groupBy(col("sub"), col("cid"), col("pos"))
        .agg(sum(col("x")).as("sm"), count(lit(1)).as("n"))
        .select(col("sub"), col("cid"), col("pos"), expr("sm div n").as("mn"))
        .groupBy(col("sub"), col("cid"))
        .agg(DedupOps.bindOnce(sort_array(collect_list(struct(col("pos"), col("mn"))))) { arr =>
          transform(arr, e => e.getField("mn"))
        }.as("cfp_new"))
      codebooks = codebooks.join(means, Seq("sub", "cid"), "left")
        .select(col("sub"), col("cid"), coalesce(col("cfp_new"), col("cfp")).as("cfp"))
        .localCheckpoint()
    }
    codebooks
  }
}
