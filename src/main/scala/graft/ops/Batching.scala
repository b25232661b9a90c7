package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Grouping / batching / completion aggregation (SURVEY.md §2.B B13/B14/B17).
  *
  *  - group-by asset_type bucketing (`fetch_historical_market_data.py:177-186`)
  *  - fixed-size batch chunking, sizes 100/100/50
  *    (`fetch_market_data.py:93`, `fetch_market_index_data.py:171`,
  *    `fetch_historical_market_data.py:191`)
  *  - completion payload aggregation: record_count / totalBatches /
  *    totalAssets / status (`fetch_market_data.py:110-115`,
  *    `BATCHING_IMPLEMENTATION.md:72-85`)
  *
  * Scale note: explicit batch ids require a global row_number, i.e. a
  * single-partition sort. That is ONLY legitimate on the request side (symbol
  * lists — bounded by the number of distinct keys, thousands), never on fact
  * tables; at fact scale "batching" is just partitioning, which Spark already
  * does. These operators therefore assume a small input and the optimizer
  * sees that (the distinct request list arrives pre-reduced).
  */
object Batching {

  /** B13 — bucket keys by group: `{group: sorted [keys]}` as a relation.
    * `collect_set` + `sort_array` for a deterministic member list (the
    * reference builds dict-of-lists in insertion order; set+sort is the
    * order-free equivalent).
    */
  def groupKeys(df: DataFrame, groupCol: String, keyCol: String): DataFrame =
    df.groupBy(col(groupCol))
      .agg(
        sort_array(collect_set(col(keyCol))).as("members"),
        countDistinct(col(keyCol)).as("n_members"))

  /** B14 — assign contiguous batch ids of `size` per group (partition the
    * window by group so no global sort when batching per asset_type).
    */
  def assignBatches(df: DataFrame, groupCols: Seq[String], orderCol: String, size: Int): DataFrame = {
    val w =
      if (groupCols.isEmpty) Window.orderBy(col(orderCol))
      else Window.partitionBy(groupCols.map(col): _*).orderBy(col(orderCol))
    df.withColumn("batch_id", ceil(row_number().over(w) / lit(size.toDouble)).cast("long"))
  }

  /** Spark's ascending string order: NULL first, then UTF-8 binary order
    * (code-point order — NOT `String.compareTo`'s UTF-16 order, which
    * sorts supplementary-plane characters below U+E000..U+FFFF).
    */
  val sparkStringOrder: Ordering[String] = (a, b) =>
    if (a == null || b == null) java.lang.Boolean.compare(b == null, a == null)
    else java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** B14 on the driver, for request-bounded `(group, key)` lists: the
    * [[assignBatches]] rule over the DISTINCT pairs — keys in
    * [[sparkStringOrder]], contiguous batches of `size` per group, ids from
    * 1. One `(group, batch_id, keys)` per batch, groups in the same order.
    */
  def chunkPerGroup(pairs: Seq[(String, String)], size: Int): Seq[(String, Long, Seq[String])] =
    pairs.distinct.groupBy(_._1).toSeq.sortBy(_._1)(sparkStringOrder).flatMap { case (g, ps) =>
      ps.map(_._2).sorted(sparkStringOrder).grouped(size).zipWithIndex
        .map { case (keys, i) => (g, i + 1L, keys) }
    }

  /** B17 — completion stats per group: counts, batch totals, status literal.
    * `processingTimeMs` is wall-clock driver state in the reference — it is
    * attached by the job layer (graft.jobs), not the relational op.
    */
  def completionStats(batched: DataFrame, groupCols: Seq[String], keyCol: String): DataFrame =
    batched
      .groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("record_count"),
        countDistinct(col(keyCol)).as("total_assets"),
        max(col("batch_id")).as("total_batches"),
        lit("complete").as("status"))

  /** Per-batch completion payloads — the reference publishes one completion
    * message per batch INSIDE the historical job
    * (`fetch_historical_market_data.py:207-213`: symbols of the batch +
    * record_count of the fetch), in addition to the final aggregate
    * [[completionStats]]. One row per (group, batch_id): the batch's full
    * sorted member list (symbols with ZERO fetched records still appear,
    * exactly like the reference's `batch_symbols`), the member count, and
    * the total record count across the batch's members.
    *
    * Inputs: `symbolBatches` = the [[assignBatches]] output over the
    * REQUEST list (bounded, one row per key); `records` = the fetched data
    * relation carrying `groupCols` and `keyCol` per record. The record
    * side is reduced per key BEFORE the join (partial-aggregating groupBy),
    * so the join is request-list-sized regardless of fetch volume.
    */
  def completionPerBatch(
      symbolBatches: DataFrame,
      records: DataFrame,
      groupCols: Seq[String],
      keyCol: String): DataFrame = {
    val joinKeys = groupCols :+ keyCol
    val counts = records
      .groupBy(joinKeys.map(col): _*)
      .agg(count(lit(1)).as("__n"))
    symbolBatches
      .join(counts, joinKeys, "left")
      .groupBy((groupCols :+ "batch_id").map(col): _*)
      .agg(
        sort_array(collect_set(col(keyCol))).as("symbols"),
        count(lit(1)).as("symbol_count"),
        sum(coalesce(col("__n"), lit(0L))).as("record_count"),
        lit("complete").as("status"))
  }
}
