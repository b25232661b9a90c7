package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental-update planning — the heart of the reference's dataflow
  * (SURVEY.md §2.B B7-B11, §3): decide WHAT is missing from the store before
  * fetching anything.
  *
  *  - anti-join "needs update" (`fetch_market_data.py:16-29`) → B7
  *  - semi-join "already stored" probe (`etl/fetch_utils.py:118-151`) → B8
  *  - B9, the cache-first guard, is applied on the driver by
  *    `graft.jobs.Jobs.indexUpdate`
  *  - calendar-spine month-gap detection
  *    (`etl/fetch_utils.py:203-233`) → B10
  *  - date-range normalization (`etl/fetch_utils.py:182-201`) → B11
  *
  * Scale notes (100 TB stance): the request side (symbols to check) is always
  * small relative to the store — mark it broadcastable so the anti/semi joins
  * are broadcast-hash, never a full shuffle of the store. Gap detection
  * shuffles only the DISTINCT (key, month) projection of the store (partial
  * aggregation collapses it map-side first), and the month spine is
  * |keys| × |months| — linear in keys, never in facts.
  */
object Incremental {

  /** B7 — keys in `requested` with no row in `stored`: the "needs fetch" set.
    * `requested` is the small side: Spark plans a broadcast anti-join when it
    * fits `spark.sql.autoBroadcastJoinThreshold` (AQE also converts at
    * runtime); the store is only scanned on the join keys (column pruning).
    */
  def needingUpdate(requested: DataFrame, stored: DataFrame, keys: Seq[String]): DataFrame =
    requested.join(stored, keys, "left_anti")

  /** B8 — keys already present in the store (the complement probe). */
  def existing(requested: DataFrame, stored: DataFrame, keys: Seq[String]): DataFrame =
    requested.join(stored, keys, "left_semi")

  /** Month spine: one row per key per first-of-month between `start` and
    * `stop` (inclusive, like the reference's `month_range`,
    * `etl/fetch_utils.py:212-218`). `sequence` + `explode` keeps generation
    * distributed — each key's spine is produced where the key row lives.
    *
    * Both bounds are normalized to their month start HERE: coverage months
    * are `date_trunc`'d to the 1st, so a mid-month start would otherwise
    * generate 15th-of-month spine rows that can never match coverage —
    * every month would read as missing on every run (incrementality
    * silently destroyed). The reference applies the same normalization in
    * `adjust_date_range` before building its month range.
    */
  def monthSpine(keys: DataFrame, start: Column, stop: Column, monthCol: String = "month"): DataFrame = {
    val startM = to_date(date_trunc("month", start))
    val stopM = to_date(date_trunc("month", stop))
    keys.withColumn(
      monthCol,
      // inverted range (start after the clamped end — e.g. a request dated
      // beyond `today`) → EMPTY spine, not sequence()'s IllegalArgumentException
      // mid-job; explode of the empty array drops the key's rows, so the
      // gap set is empty, which is the correct "nothing to fetch" answer
      explode(when(startM <= stopM,
        sequence(startM, stopM, expr("interval 1 month")))
        .otherwise(array().cast("array<date>"))))
  }

  /** B10 — calendar-spine gap detection (`determine_symbols_needing_update`,
    * `etl/fetch_utils.py:203-233`): expected months minus stored months per
    * key; fully-covered keys drop out of the anti-join; the rest coalesce to
    * one `(key, gap_start, gap_end, missing_months)` fetch range —
    * the reference's min/max range coalescing (`:231`) so one fetch per key
    * covers every hole.
    *
    * @param stored  (key, month) coverage — pass the RAW fact table projected
    *                to (keys..., dateCol); this op reduces it to distinct
    *                months itself (map-side partial agg before the shuffle).
    */
  def gapDetection(
      requested: DataFrame,
      stored: DataFrame,
      keys: Seq[String],
      dateCol: String,
      start: Column,
      stop: Column): DataFrame = {
    val spine = monthSpine(requested.select(keys.map(col): _*).distinct(), start, stop)
    val coverage = stored
      .select(keys.map(col) :+ to_date(date_trunc("month", col(dateCol))).as("month"): _*)
      .distinct()
    spine
      .join(coverage, keys :+ "month", "left_anti")
      .groupBy(keys.map(col): _*)
      .agg(
        min(col("month")).as("gap_start"),
        max(col("month")).as("gap_end"),
        count(lit(1)).as("missing_months"))
  }

  /** B11 — date-range normalization (`adjust_date_range`,
    * `etl/fetch_utils.py:182-201`): truncate start to its month start, clamp
    * end to "today", flag the single-month case (which triggers the
    * last-value pick, B12). `today` is a column so tests pin a literal.
    */
  def adjustDateRange(df: DataFrame, startCol: String, endCol: String, today: Column): DataFrame =
    df.withColumn("adj_start", to_date(date_trunc("month", col(startCol))))
      .withColumn("adj_end", least(to_date(col(endCol)), today))
      .withColumn(
        "single_month",
        to_date(date_trunc("month", col(startCol))) === to_date(date_trunc("month", least(to_date(col(endCol)), today))))
}
