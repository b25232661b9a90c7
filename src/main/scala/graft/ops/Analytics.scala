package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Caching.Syntax

/** Ranking / ordering / event-time / set operators. The reference has none of
  * these (SURVEY.md §2.D) — they exist because the Spark-native expression of
  * its last-wins/last-pick semantics and the `events` stream slice requires
  * them, plus general engine completeness.
  *
  * Scale notes: top-k compiles to TakeOrderedAndProject (per-partition heap
  * of k + driver merge of k·partitions rows — never a global sort); the
  * event-time window is a plain hash aggregate on (bucket, keys); the as-of
  * carry is one shuffle on the join key with an in-partition ordered frame
  * (no point-in-time self-join blowup). Double sums in oracle-checked
  * aggregates go through DECIMAL so results are order-independent —
  * float addition is not associative, and a 1000-executor plan must not
  * produce different bits than a single-node oracle.
  */
object Analytics {

  /** Global top-k under a total order — TakeOrdered, not sort-the-world. */
  def topK(df: DataFrame, k: Int, orderBy: Seq[Column]): DataFrame =
    df.orderBy(orderBy: _*).limit(k)

  /** Tumbling event-time window aggregate: count + exact (decimal) sum of
    * `valueCol` per (window, keys). Emits `window_start` + flattened keys.
    */
  def eventTimeWindow(
      df: DataFrame,
      tsCol: String,
      keys: Seq[String],
      valueCol: String,
      windowLen: String): DataFrame =
    df.groupBy(window(col(tsCol), windowLen) +: keys.map(col): _*)
      .agg(
        count(lit(1)).as("n_events"),
        sum(col(valueCol).cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(
        col("window.start").cast("timestamp_ntz").as("window_start") +:
          keys.map(col) :+ col("n_events") :+ col("total_value"): _*)

  /** As-of carry: for every row, the most recent STRICTLY PRIOR value of
    * `pickWhen`-matching rows within the same `keys` partition — the
    * composition form of an as-of join (union the two sides, then one
    * ordered-frame window; no per-row range self-join).
    */
  def asOfCarry(
      df: DataFrame,
      keys: Seq[String],
      orderBy: Seq[String],
      pickWhen: Column,
      valueCol: String,
      as: String): DataFrame = {
    val w = Window
      .partitionBy(keys.map(col): _*)
      .orderBy(orderBy.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn(as, last(when(pickWhen, col(valueCol)), ignoreNulls = true).over(w))
  }

  /** Two-relation AS-OF join (trades⋈quotes shape): every left row picks
    * the right row with the greatest `tsCol` ≤ its own, per key — emitted
    * as `asof_<valueCol>` (NULL when no prior right row exists, i.e. a LEFT
    * as-of). The right side must be unique per (keys, ts) — pre-reduce with
    * [[graft.ops.Merge.lastWins]] otherwise, or the picked row is
    * tie-ambiguous (same contract as DuckDB's ASOF JOIN, which is this
    * operator's oracle).
    *
    * Shape: the classic point-in-time self-join explodes into a per-row
    * range probe (BroadcastNestedLoop at best); this is instead the UNION
    * form — tag sides, one shuffle on the key, one in-partition ordered
    * frame carrying the last right value forward (right sorts before left
    * on ts ties, so same-instant quotes are visible to trades, matching
    * ASOF's ≤). Cost is sort-merge of |L|+|R| rows — linear, no range
    * blowup, and the window reuses the exchange's partitioning.
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String): DataFrame = {
    val as = s"asof_$valueCol"
    val l = left
      .withColumn("__src", lit(1))
      .withColumn("__rv", lit(null).cast(right.schema(valueCol).dataType))
    val r = right
      .select((keys :+ tsCol).map(col) :+ col(valueCol).as("__rv"): _*)
      .withColumn("__src", lit(0))
    val u = l.unionByName(r, allowMissingColumns = true)
    val w = Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col("__src"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the carried marker is a STRUCT gated on the side tag, never the raw
    // value: a right row whose value is legitimately NULL must still BE the
    // as-of match (yielding NULL), not get skipped in favor of an older
    // row — ASOF matches on time, not on non-nullness (DuckDB agrees)
    u.withColumn("__m", last(
        when(col("__src") === 0, struct(col("__rv").as("v"))), ignoreNulls = true).over(w))
      .filter(col("__src") === 1)
      .withColumn(as, col("__m.v"))
      .drop("__src", "__rv", "__m")
  }

  /** Tolerance-bounded AS-OF join: like [[asofJoin]], but a match older
    * than `toleranceMs` before the left timestamp is discarded (pandas
    * merge_asof `tolerance` semantics — a quote from last week shouldn't
    * price today's trade). Correct because the as-of pick is the GREATEST
    * prior right row: if that one is out of tolerance, no in-tolerance
    * match exists. Same linear union+window shape; the window carries the
    * (right ts, value) struct so the tolerance check is a post-window
    * projection, not a second join. `tsCol` must be numeric/castable for
    * the subtraction (ms-epoch longs in the engine convention).
    */
  def asofJoinWithin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String,
      toleranceMs: Long): DataFrame = {
    val as = s"asof_$valueCol"
    val l = left
      .withColumn("__src", lit(1))
      .withColumn("__rv", lit(null).cast(right.schema(valueCol).dataType))
      .withColumn("__rts", lit(null).cast(left.schema(tsCol).dataType))
    val r = right
      .select((keys :+ tsCol).map(col) :+ col(valueCol).as("__rv"): _*)
      .withColumn("__src", lit(0))
      .withColumn("__rts", col(tsCol))
    val u = l.unionByName(r, allowMissingColumns = true)
    val w = Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col("__src"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    u.withColumn("__m", last(
        when(col("__src") === 0, struct(col("__rts").as("ts"), col("__rv").as("v"))),
        ignoreNulls = true).over(w))
      .filter(col("__src") === 1)
      .withColumn(as,
        when(col("__m.ts") >= col(tsCol) - lit(toleranceMs), col("__m.v")))
      .drop("__src", "__rv", "__rts", "__m")
  }

  /** Keys holding more than `minShare` of all rows — the whale-key detector
    * that tells a pipeline to route its merge through the salted two-phase
    * reduction (Merge.lastWinsSalted) or expect AQE skew splits. Per-key
    * counts partially aggregate map-side and are cached; the grand total
    * derives from the tiny (key, n) relation (every row lands in exactly
    * one group), so the fact table is scanned ONCE — nothing but (key, n)
    * ever shuffles, and the total is one broadcast scalar.
    */
  def heavyHitters(df: DataFrame, keys: Seq[String], minShare: Double): DataFrame = {
    val counts = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n")).scopedCache()
    val total = counts.agg(sum(col("n")).as("__t"))
    counts.crossJoin(broadcast(total))
      .filter(col("n") > col("__t") * minShare)
      .withColumn("share", col("n").cast("double") / col("__t"))
      .drop("__t")
  }

  /** Distinct set algebra: (a EXCEPT b) ∪ (c INTERSECT d) — SQL set
    * semantics (Spark's except/intersect are already distinct; union is ALL,
    * so a final distinct restores set semantics).
    */
  def setCombine(a: DataFrame, b: DataFrame, c: DataFrame, d: DataFrame): DataFrame =
    a.except(b).union(c.intersect(d)).distinct()

  /** Rollup aggregate with grouping indicator and exact decimal sums. */
  def rollupStats(df: DataFrame, groupCol: String, valueCol: String): DataFrame =
    df.rollup(col(groupCol))
      .agg(
        count(lit(1)).as("n"),
        sum(col(valueCol).cast("decimal(18,2)")).cast("double").as("total_value"),
        grouping(col(groupCol)).cast("int").as("g"))

  /** CUBE aggregate over two dimensions — all four grouping sets in one
    * pass (Spark expands to a single hash aggregate over the grouping-set
    * union; no per-set rescans).
    */
  def cubeStats(df: DataFrame, dimA: String, dimB: String, valueCol: String): DataFrame =
    df.cube(col(dimA), col(dimB))
      .agg(
        count(lit(1)).as("n"),
        sum(col(valueCol).cast("decimal(18,2)")).cast("double").as("total_value"),
        grouping(col(dimA)).cast("int").as("ga"),
        grouping(col(dimB)).cast("int").as("gb"))

  /** Partial aggregate of (count, exact-decimal sum) per key — the
    * materialized building block of incremental rollup maintenance.
    */
  def partialAgg(df: DataFrame, keys: Seq[String], valueCol: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        sum(col(valueCol).cast("decimal(18,2)")).as("__total"))

  /** Incremental aggregate maintenance: merge partial (count, sum)
    * relations into the aggregate a full rescan would produce — the
    * 100 TB answer to "update yesterday's rollup with today's partition"
    * without touching history. Correct because count and decimal sum form
    * a commutative monoid: merging partials is associative and exact (the
    * decimal sums never round), so ANY split of the fact table — by date
    * partition, by arrival batch, by cluster — merges to the identical
    * result, which is exactly what the oracle checks (merged partials vs
    * one full-scan aggregate). One union + one hash aggregate; each
    * partial is |keys|-sized, so the merge cost is independent of the raw
    * fact volume.
    */
  def mergePartialAggs(parts: Seq[DataFrame], keys: Seq[String]): DataFrame = {
    require(parts.nonEmpty, "need at least one partial")
    parts.reduce(_ unionByName _)
      .groupBy(keys.map(col): _*)
      .agg(sum(col("n")).as("n"), sum(col("__total")).as("__total"))
  }

  /** Per-key KMV (k-minimum-values) distinct-count sketch — the
    * DETERMINISTIC, fully oracle-checkable alternative to HLL: the sketch
    * is the k smallest md5-derived 60-bit hash values of the distinct
    * inputs (a pure function of the data, no randomness, no opaque
    * binary), so the whole sketch relation hash-matches a SQL oracle on
    * any engine with md5 — which HLL's implementation-defined registers
    * never can. Standard error ≈ 1/√(k−2) (~12.6% at k=64); store the
    * sketch rows, not the estimate. Mergeable: min-k of a union of
    * min-k parts equals min-k of the union (lossless by construction,
    * and the registered incremental query proves it by sharing the
    * from-scratch oracle).
    *
    * Output: (keys…, hv, pos) with pos 1..k per key.
    */
  def kmvSketch(
      df: DataFrame,
      keys: Seq[String],
      valueCol: String,
      k: Int = 64): DataFrame = {
    require(k >= 2, "k must be at least 2")
    val hv = expr(
      s"cast(conv(substring(md5(cast(`$valueCol` as string)), 1, 15), 16, 10) as bigint)")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("hv"))
    df.select(keys.map(col) :+ hv.as("hv"): _*).distinct()
      .withColumn("pos", row_number().over(w).cast("long"))
      .filter(col("pos") <= k)
  }

  /** Fold KMV sketch increments: min-k of the distinct union, re-ranked.
    * Parts may overlap (distinct absorbs re-counted values) — unlike the
    * additive folds (mergeBm25Stats, mergeLmCounts) no disjointness
    * contract is needed.
    */
  def kmvMerge(k: Int, parts: DataFrame*): DataFrame = {
    require(parts.nonEmpty, "need at least one sketch")
    val keys = parts.head.columns.filterNot(Set("hv", "pos")).toSeq
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("hv"))
    parts.map(_.drop("pos")).reduce(_.unionByName(_)).distinct()
      .withColumn("pos", row_number().over(w).cast("long"))
      .filter(col("pos") <= k)
  }

  /** Distinct-count estimate from a KMV sketch: exact count when the key
    * holds fewer than k values (the sketch IS the distinct set), else the
    * standard (k−1)·M/v₍k₎ estimator over the 16¹⁵-value hash space.
    * Output: (keys…, n_sketch, est_distinct).
    */
  def kmvEstimate(sketch: DataFrame, keys: Seq[String], k: Int = 64): DataFrame = {
    val space = 1152921504606846976.0 // 16^15 = 2^60, exact as a double
    sketch
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_sketch"), max(col("hv")).as("__vk"))
      .select(keys.map(col) :+ col("n_sketch") :+
        when(col("n_sketch") < k, col("n_sketch").cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(space) / col("__vk").cast("double"))
          .as("est_distinct"): _*)
  }

  /** Per-key HLL sketch partials — the distinct-count analog of
    * [[partialAgg]]: sketches are a commutative monoid under union, so
    * per-partition (e.g. per-day) sketches merge into exactly the sketch a
    * full scan would build. Store the sketch column, not the estimate.
    */
  def sketchPartial(df: DataFrame, keys: Seq[String], valueCol: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(hll_sketch_agg(col(valueCol)).as("sk"))

  /** Merge sketch partials over a coarser key and estimate: the incremental
    * answer to "distinct users per type, updated daily without rescanning
    * history" — each day contributes a fixed-size sketch (~KB), the merge
    * cost is |partials|, and the estimate is IDENTICAL to sketching the
    * full history in one pass (union is exact on sketch state; only the
    * estimate itself carries the HLL error vs true distinct).
    */
  def sketchMergeEstimate(partials: DataFrame, keys: Seq[String]): DataFrame =
    partials.groupBy(keys.map(col): _*)
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_distinct"))

  // ---------------------------------------------------------------------
  // Fixed-point HLL — the ORACLE-CHECKABLE HyperLogLog. Spark's native
  // hll_sketch_agg (above) carries an xxhash-seeded register file no other
  // engine can replay; this variant builds the registers from the SAME
  // md5 hex-fold 60-bit hash as the KMV/CMS sketches, keeps them as a
  // LONG-FORM RELATION (keys…, reg, mx) instead of an opaque binary, and
  // derives the estimate with integer-exact dyadic sums so a DuckDB oracle
  // reproduces every register AND every estimate bit-for-bit.
  //
  // Scale shape: one hash projection + one (keys, reg) max-aggregate —
  // map-side combine collapses each partition to ≤ m rows per key before
  // the shuffle, so a 100 TB scan moves only |keys|·m tiny rows. Registers
  // are a max-monoid: per-day partials fold losslessly ([[hllMerge]]).
  // ---------------------------------------------------------------------

  /** Register width p: 2^p registers over the 60-bit hash space. m = 256
    * gives ~6.5% raw-HLL rsd and an exact-ish linear-counting regime below
    * 2.5·m = 640 distinct — both branches of the estimator are exercised
    * across the shipped scale factors (sf0.01 ≈ 150 distinct users/type,
    * sf0.1 ≈ 1500).
    */
  val HllP: Int = 8

  /** alpha_m · m² · 2^(width+1) — the raw-estimate numerator, computed ONCE
    * here and embedded as the same double literal in both the Spark plan
    * and the DuckDB oracle (Double.toString round-trips, so both engines
    * divide the identical constant by the identical integer-exact scaled
    * harmonic sum: the estimate is deterministic to the last bit).
    */
  def hllNumerator(p: Int): Double = {
    val m = 1 << p
    0.7213 / (1 + 1.079 / m) * m * m * math.pow(2.0, 61 - p)
  }

  /** Per-key fixed-point HLL registers: (keys…, reg, mx) — one row per
    * NON-EMPTY register, mx the max "rank" (leading-zero count + 1 of the
    * hash's low `60-p` bits; 0 remaining bits rank as width+1, the standard
    * convention). Missing registers read as rank 0 at estimate time.
    */
  def hllRegisters(df: DataFrame, keys: Seq[String], valueCol: String, p: Int = HllP): DataFrame = {
    require(p >= 4 && p <= 16, s"p=$p out of the sane register range [4,16]")
    val width = 60 - p
    val hv = expr(
      s"cast(conv(substring(md5(cast(`$valueCol` as string)), 1, 15), 16, 10) as bigint)")
    // rank via length(bin(w)): bin renders a positive long with NO leading
    // zeros (Java Long.toBinaryString — DuckDB's bin() agrees), so
    // floor(log2 w)+1 is an exact INTEGER string length, never a float log
    val w = col("__w")
    val rank = when(w === 0L, lit((width + 1).toLong))
      .otherwise(lit((width + 1).toLong) - length(bin(w)).cast("long"))
    df.filter(col(valueCol).isNotNull)
      .select(keys.map(col) :+ hv.as("__hv"): _*)
      .select(keys.map(col) :+
        shiftright(col("__hv"), width).as("reg") :+
        col("__hv").bitwiseAND(lit((1L << width) - 1)).as("__w"): _*)
      .groupBy((keys :+ "reg").map(col): _*)
      .agg(max(rank).as("mx"))
  }

  /** Fold register partials over a coarser key: registers are a max-monoid,
    * so merge-of-partials is EXACTLY the one-pass register file (the
    * registered incremental query proves it by sharing the from-scratch
    * oracle, the same discipline as kmvMerge/mergeLmCounts).
    */
  def hllMerge(registers: DataFrame, keys: Seq[String]): DataFrame =
    registers.groupBy((keys :+ "reg").map(col): _*).agg(max(col("mx")).as("mx"))

  /** Distinct-count estimate from fixed-point registers. The harmonic sum
    * Σ 2^(−mx) is computed as the INTEGER Σ 2^(width+1−mx) (every term a
    * dyadic rational scaled to exactness; ≤ m·2^(width+1) = 2^61 fits a
    * BIGINT), so the only floating-point steps are one long→double
    * conversion and one division — both IEEE-deterministic. Small-range
    * linear counting (E ≤ 2.5m with empty registers) quantizes its ln to
    * micro-nats before the arithmetic, the engine-wide transcendental
    * discipline. Output: (keys…, approx_distinct DOUBLE).
    */
  def hllEstimate(registers: DataFrame, keys: Seq[String], p: Int = HllP): DataFrame = {
    val m = 1 << p
    val scale = 61 - p // width + 1
    val z = lit(m.toLong) - col("__nz")
    val sScaled = call_function("shiftleft", z, lit(scale)) + col("__snz")
    val raw = lit(hllNumerator(p)) / sScaled.cast("double")
    val lc = round(log(lit(m.toDouble) / z.cast("double")) * lit(1e6)).cast("long")
      .cast("double") * lit(m.toDouble) / lit(1e6)
    registers
      .groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("__nz"),
        sum(call_function("shiftleft", lit(1L), (lit(scale) - col("mx")).cast("int"))).as("__snz"))
      .select(keys.map(col) :+
        when(z > 0 && raw <= lit(2.5 * m), lc).otherwise(raw).as("approx_distinct"): _*)
  }

  /** The count-min sketch slot of `value` in hash row `rowId` — the ONE
    * hash expression shared by sketch build ([[cmsSketch]]), probe
    * ([[cmsEstimate]]) and the streaming adapter ([[cmsCells]]): the
    * KMV md5→60-bit recipe salted with the row id, reduced mod `width`.
    * Deterministic and engine-portable (the DuckDB oracle replays the
    * same hex fold), unlike xxhash-seeded families an oracle cannot see.
    */
  private def cmsSlot(value: Column, rowId: Column, width: Int): Column = {
    val h = conv(
      substring(md5(concat(rowId.cast("string"), lit(":"), value).cast("binary")), 1, 15),
      16, 10).cast("long")
    pmod(h, lit(width.toLong))
  }

  /** Per-key COUNT-MIN sketch — the FREQUENCY analog of the KMV
    * distinct-count and fixed-histogram quantile sketches: `depth` salted
    * 60-bit md5 hash rows × `width` counters, stored SPARSELY as
    * `(keys…, row_id, slot, n)` (zero cells carry no row; a probe reads a
    * missing cell as 0). Cell counts are an additive monoid — disjoint
    * batches fold with [[cmsMerge]], and a streaming
    * [[graft.streaming.Streaming.RollupStream]] over `(keys…, row_id,
    * slot)` maintains the cells under the store's slot/compaction/replay
    * guarantees (bin with [[cmsCells]]). This is the 100 TB frequency
    * path: the exact per-value count ([[heavyHitters]]) shuffles every
    * distinct value forever, while the sketch holds ≤ depth·width longs
    * of state per key at ANY cardinality, over-estimating by at most the
    * collision mass (est ≥ true always; P[err > 2N/width] < 2⁻ᵈᵉᵖᵗʰ).
    * Deterministic md5 hashing, no randomness — the whole sketch relation
    * hash-matches a SQL oracle.
    */
  def cmsSketch(
      df: DataFrame,
      keys: Seq[String],
      valueCol: String,
      depth: Int = 4,
      width: Int = 512): DataFrame = {
    require(depth >= 1 && width >= 2, "need depth >= 1 and width >= 2")
    df.filter(col(valueCol).isNotNull)
      .select(keys.map(col) :+ col(valueCol).cast("string").as("__cms_v"): _*)
      .withColumn("__row", explode(sequence(lit(0L), lit(depth - 1L))))
      .withColumn("slot", cmsSlot(col("__cms_v"), col("__row"), width))
      .withColumnRenamed("__row", "row_id")
      .groupBy(keys.map(col) ++ Seq(col("row_id"), col("slot")): _*)
      .agg(count(lit(1)).as("n"))
  }

  /** Fold count-min sketch increments from DISJOINT batches (same keys,
    * same depth/width — the caller's pinned sketch geometry). Cells add;
    * min-of-rows estimates derive AFTER the fold ([[cmsEstimate]]) — the
    * histogram-sketch fold discipline applied to frequencies.
    */
  def cmsMerge(keys: Seq[String])(parts: DataFrame*): DataFrame = {
    require(parts.nonEmpty, "need at least one sketch")
    parts.reduce(_.unionByName(_))
      .groupBy(keys.map(col) ++ Seq(col("row_id"), col("slot")): _*)
      .agg(sum(col("n")).as("n"))
  }

  /** STREAMING adapter: expand a micro-batch's rows into their
    * `(keys…, row_id, slot, one)` sketch cells; a RollupStream over
    * `(keys…, row_id, slot)` summing `one` IS the count-min sketch (its
    * maintained `n` is the cell count), finalized by [[cmsEstimate]]
    * over `current`. NULL values drop here, matching [[cmsSketch]].
    */
  def cmsCells(
      df: DataFrame,
      keys: Seq[String],
      valueCol: String,
      depth: Int,
      width: Int): DataFrame =
    df.filter(col(valueCol).isNotNull)
      .select(keys.map(col) :+ col(valueCol).cast("string").as("__cms_v"): _*)
      .withColumn("__row", explode(sequence(lit(0L), lit(depth - 1L))))
      .select(keys.map(col) ++ Seq(
        col("__row").as("row_id"),
        cmsSlot(col("__cms_v"), col("__row"), width).as("slot"),
        lit(1L).as("one")): _*)

  /** Point-estimate frequencies from a (possibly folded / streamed)
    * count-min sketch: each probe value hashes to its `depth` cells and
    * the estimate is the MIN cell count (missing sparse cell = 0). The
    * probe relation joins the sketch on `(keys…, row_id, slot)` — an
    * equi-join at probe·depth rows, never value·width — so estimating a
    * billion-value candidate set is one keyed shuffle. Output:
    * `(keys…, valueCol, est_n)` with est_n ≥ the true count, equality
    * when none of the value's `depth` cells collide.
    */
  def cmsEstimate(
      sketch: DataFrame,
      probes: DataFrame,
      keys: Seq[String],
      valueCol: String,
      depth: Int,
      width: Int): DataFrame = {
    require(depth >= 1 && width >= 2, "need depth >= 1 and width >= 2")
    probes.filter(col(valueCol).isNotNull)
      .select(keys.map(col) :+ col(valueCol): _*).distinct()
      .withColumn("__cms_v", col(valueCol).cast("string"))
      .withColumn("__row", explode(sequence(lit(0L), lit(depth - 1L))))
      .withColumn("slot", cmsSlot(col("__cms_v"), col("__row"), width))
      .withColumnRenamed("__row", "row_id")
      .join(sketch, keys ++ Seq("row_id", "slot"), "left")
      .groupBy(keys.map(col) :+ col(valueCol): _*)
      .agg(min(coalesce(col("n"), lit(0L))).as("est_n"))
  }

  /** Session-window aggregate: Spark's native `session_window` merges each
    * key's events closer than `gap` into one session (same partitioning as a
    * plain keyed aggregate — one shuffle on the key, sessions formed within
    * the partition; also the streaming form with a watermark).
    */
  def sessionWindowAgg(
      df: DataFrame,
      tsCol: String,
      keys: Seq[String],
      valueCol: String,
      gap: String): DataFrame =
    df.groupBy(session_window(col(tsCol), gap) +: keys.map(col): _*)
      .agg(
        count(lit(1)).as("n_events"),
        sum(col(valueCol).cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(
        keys.map(col) :+
          col("session_window.start").cast("timestamp_ntz").as("session_start") :+
          col("n_events") :+ col("total_value"): _*)

  /** Time-series motif search: for each key's value series (ordered by
    * (ts, tiebreaker)), the sliding-window offset minimizing the squared
    * Euclidean distance to a fixed query pattern — the brute subsequence
    * matcher behind price-shape screens ("find the V-bottom in every
    * symbol's history"). Distances are computed in INTEGER cents
    * (round(value·100)), so the result is exact and order-independent on
    * any engine — the same trick the token-rarity stats use to keep an
    * otherwise-float pipeline oracle-checkable; with ~1e6-cent values and
    * pattern length m, the distance fits a Long for m ≪ 2⁶³/1e12.
    *
    * Output per key: series length, best offset (1-based; ties → lowest
    * offset) and its distance; series shorter than the pattern yield NULL
    * offset/distance but KEEP their row (screens must distinguish "no
    * match possible" from "dropped").
    *
    * Scale shape: one shuffle groups each key's points; the O(n·m) scan
    * runs inside a projection over the collected per-key array (bounded:
    * one key's history must fit a row — same contract as every
    * collect_list window in the engine); the argmin is an array_min over
    * (distance, offset) structs, never a per-offset explode+shuffle.
    */
  def seriesMotifMatch(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      tieCol: String,
      valueCol: String,
      patternCents: Seq[Long]): DataFrame = {
    require(patternCents.nonEmpty, "pattern must be non-empty")
    val m = patternCents.size
    val pat = typedLit(patternCents)
    val series = array_sort(
      collect_list(struct(col(tsCol), col(tieCol), round(col(valueCol) * 100).cast("long").as("c"))))
    df.groupBy(col(keyCol))
      .agg(transform(series, p => p.getField("c")).as("__s"))
      .select(
        col(keyCol),
        DedupOps.bindOnce(col("__s")) { s =>
          DedupOnceHelpers.motif(s, pat, m)
        }.as("r"))
      .select(
        col(keyCol),
        col("r.n_points"),
        col("r.best_offset"),
        col("r.best_dist2"))
  }

  /** Internal expression pieces for [[seriesMotifMatch]] (kept out of the
    * method body so the argmin construction is readable).
    */
  private object DedupOnceHelpers {
    def motif(s: Column, pat: Column, m: Int): Column = {
      // per offset: left fold of integer squared diffs — exact, no floats;
      // the argmin struct orders (d, off) lexicographically, so ties break
      // to the lowest offset
      val best = array_min(
        transform(
          sequence(lit(1), size(s) - lit(m - 1)),
          off => struct(
            aggregate(
              sequence(lit(0), lit(m - 1)),
              lit(0L),
              (acc, j) =>
                DedupOps.bindOnce(
                  element_at(s, (off + j).cast("int")) - element_at(pat, (j + 1).cast("int"))
                )(d => acc + d * d)
            ).as("d"),
            off.cast("long").as("off"))))
      // the ENTIRE argmin sits in the when-true branch: evaluated once (via
      // bindOnce), and never for short series (where the offset sequence
      // would be descending)
      when(size(s) >= m,
        DedupOps.bindOnce(best) { b =>
          struct(
            size(s).cast("long").as("n_points"),
            b.getField("off").as("best_offset"),
            b.getField("d").as("best_dist2"))
        })
        .otherwise(struct(
          size(s).cast("long").as("n_points"),
          lit(null).cast("long").as("best_offset"),
          lit(null).cast("long").as("best_dist2")))
    }
  }

  /** Monthly gap INTERPOLATION — the fill complement of the reference's gap
    * DETECTION (Incremental.gapDetection finds the missing months; this
    * reconstructs values for them): every key's series expands to its
    * observed min..max month spine, and interior gaps get linear
    * interpolation between the nearest observed neighbors on the integer
    * month axis (year·12+month — exact arithmetic, no date-diff float
    * ambiguity). Endpoints are always observed (the spine is bounded by
    * observations), so every gap interpolates; `is_interpolated` marks
    * reconstructed rows. Observation dates anywhere inside a month are
    * normalized to its start (the last-trading-day convention joins
    * correctly).
    *
    * Precondition: at most one row per (key, month) after that
    * normalization. Two observations in one month tie on the window
    * order, so which one a neighbor frame sees is arbitrary and the
    * output is not deterministic; dedup upstream (e.g. last-wins).
    *
    * Scale shape: one bounds aggregate, a narrow spine explode, one left
    * join back on (key, month), and one exchange's worth of per-key window
    * work carrying (t, v) structs — both neighbors resolve via running
    * ignore-nulls LAST frames (the next-neighbor one over the descending
    * order: two in-partition sorts, one shuffle, every frame O(rows));
    * no self-join, no per-gap probing.
    */
  def interpolateMonthlyGaps(
      series: DataFrame,
      keyCol: String,
      dateCol: String,
      valueCol: String): DataFrame = {
    // truncate the SERIES side to month starts before joining — the spine
    // is month-start dated, and month-end-dated input (the last-trading-day
    // convention) would otherwise match nothing and silently NULL every
    // observation (the same hazard gapDetection normalizes away)
    // cached: the normalized series feeds BOTH the bounds aggregate and the
    // spine join, and Spark performs no cross-branch subtree reuse — without
    // the barrier the upstream series derivation (e.g. a last-wins window)
    // executes twice (module caching contract: caller/harness clears)
    val norm = series.select(
      col(keyCol),
      to_date(date_trunc("month", col(dateCol))).as("month"),
      col(valueCol).as("__v"))
      .scopedCache()
    val bounds = norm.groupBy(col(keyCol))
      .agg(min(col("month")).as("__lo"), max(col("month")).as("__hi"))
    val spine = Incremental.monthSpine(bounds, col("__lo"), col("__hi"), "month")
      .select(col(keyCol), col("month"))
    val joined = spine.join(norm, Seq(keyCol, "month"), "left")
    val mi = (year(col("month")) * 12 + month(col("month"))).cast("long")
    val w = Window.partitionBy(col(keyCol)).orderBy(col("month"))
    val wDesc = Window.partitionBy(col(keyCol)).orderBy(col("month").desc)
    val obs = when(col("__v").isNotNull, struct(mi.as("t"), col("__v").as("v")))
    val prevS = last(obs, ignoreNulls = true)
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    // the NEXT observation (first non-null strictly after the row in month
    // order) is computed as the running LAST over the month-DESC order:
    // identical value, but an UnboundedPreceding frame accumulates
    // incrementally (O(rows) per partition) where the (1, unboundedFollowing)
    // frame re-scans the tail per row (O(rows²) — Spark's
    // UnboundedFollowingWindowFunctionFrame rebuilds its buffer for every
    // row). Costs one extra in-partition sort, no extra exchange.
    val nextS = last(obs, ignoreNulls = true)
      .over(wDesc.rowsBetween(Window.unboundedPreceding, -1))
    joined
      .withColumn("__mi", mi)
      .withColumn("__p", prevS)
      .withColumn("__n", nextS)
      .withColumn(valueCol,
        when(col("__v").isNotNull, col("__v"))
          .otherwise(when(col("__p").isNotNull && col("__n").isNotNull,
            col("__p.v") + (col("__n.v") - col("__p.v")) *
              ((col("__mi") - col("__p.t")).cast("double")
                / (col("__n.t") - col("__p.t")).cast("double")))))
      .withColumn("is_interpolated", col("__v").isNull && col(valueCol).isNotNull)
      .select(col(keyCol), col("month"), col(valueCol), col("is_interpolated"))
  }

  /** Cohort retention: users grouped by the period of their FIRST event,
    * counted per (cohort, period_offset) — the classic retention triangle. Period
    * indices are pure integer arithmetic on epoch seconds
    * (secs div 86400 div `periodDays`), so the matrix is exact on any
    * engine; `pct` is the one derived double, computed per-row from the
    * two integer counts. Offsets are dense only where activity exists —
    * zero cells are absent rows, not zero rows (the sparse contract; a
    * reporting layer left-joins the offset spine it wants).
    *
    * Scale shape: one groupBy(user) for first-events (partial-aggregated),
    * one broadcast-joinable (user, cohort) relation back onto the event
    * stream (at 100 TB the user dimension outgrows broadcast → standard
    * shuffle join on user_id), then count(DISTINCT user) per (cohort,
    * offset) — Spark expands the distinct into a two-level aggregate, both
    * levels partial. Nothing but (user, period) pairs ever shuffles.
    */
  def cohortRetention(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      periodDays: Int = 7): DataFrame = {
    require(periodDays >= 1, "periodDays must be positive")
    // integral div end-to-end (epoch secs are non-negative, so Spark `div`
    // and the oracle's `//` agree) — no double division anywhere.
    // cached: the corpus-wide first-event aggregation feeds BOTH the
    // activity join and the cohort-size count (module caching contract)
    val firsts = events.groupBy(col(userCol))
      .agg(min(unix_timestamp(col(tsCol))).as("__secs__"))
      .select(col(userCol), expr(s"(__secs__ div 86400) div $periodDays").as("cohort"))
      .scopedCache()
    val act = events
      .select(col(userCol), unix_timestamp(col(tsCol)).as("__secs__"))
      .select(col(userCol), expr(s"(__secs__ div 86400) div $periodDays").as("__p"))
      .join(firsts.select(col(userCol), col("cohort")), Seq(userCol))
      .groupBy(col("cohort"), (col("__p") - col("cohort")).as("period_offset"))
      .agg(countDistinct(col(userCol)).as("n_users"))
    val sizes = firsts.groupBy(col("cohort")).agg(count(lit(1)).as("cohort_size"))
    act.join(sizes, Seq("cohort"))
      .select(
        col("cohort"), col("period_offset"), col("n_users"), col("cohort_size"),
        (col("n_users").cast("double") / col("cohort_size").cast("double")).as("pct"))
  }

  /** First-order Markov transition matrix over per-user event sequences:
    * counts of (event_type → next event_type) under the (ts, id) total
    * order, with the row-normalized transition probability in BIGINT
    * millionths ((n·10⁶) div row_total — integral arithmetic, exact on any
    * engine; terminal events have no successor and drop out, so each row's
    * fixed-point probabilities sum to 10⁶ − (rounding loss < out-degree)).
    *
    * Scale shape: one per-user window (shuffle on user, the natural event
    * partitioning) for the successor, then a partial-aggregating groupBy
    * on the (src, dst) type pairs — the type×type matrix is tiny; the
    * window's (user, ts) sort is the same exchange sessionization already
    * pays, reusable across both when pipelined.
    */
  def transitionMatrix(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      idCol: String,
      typeCol: String): DataFrame = {
    val byUser = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    // cached: the (src,dst) counts feed the row totals AND the final join —
    // without the barrier the corpus-wide window pass runs twice
    // (module caching contract: caller/harness clears)
    val pairs = events
      .select(col(userCol), col(tsCol), col(idCol), col(typeCol))
      .withColumn("dst_type", lead(col(typeCol), 1).over(byUser))
      .filter(col("dst_type").isNotNull)
      .groupBy(col(typeCol).as("src_type"), col("dst_type"))
      .agg(count(lit(1)).as("n"))
      .scopedCache()
    val totals = pairs.groupBy(col("src_type")).agg(sum(col("n")).as("__t"))
    pairs.join(totals, Seq("src_type"))
      .select(
        col("src_type"), col("dst_type"), col("n"),
        expr("(n * 1000000) div __t").as("p_fp"))
  }

  /** Next-event-prediction training examples from an event log — the
    * dataset-builder step of a sequence model: per key, every position
    * with a COMPLETE k-event history emits (context of the k preceding
    * tokens in order, the current token as label). The context is
    * space-joined to a scalar cell (the engine's cell contract), total
    * order inside each key pinned by (tsCol, idCol). One partitioned
    * window over the log — no self-joins, no explode; at any scale the
    * work is one shuffle on the key column, and the per-row state is the
    * k-element frame (bounded by construction).
    *
    * NULL tokens are dropped BEFORE the window: Spark's collect_list
    * silently skips NULLs inside the frame while SQL list() keeps them,
    * so a NULL event would shift/shrink contexts on one engine only —
    * excluding the row entirely (it can be neither context nor label)
    * is the one semantics both engines express identically.
    *
    * Output: (keyCol, idCol, context, label).
    */
  def sequenceExamples(
      events: DataFrame,
      keyCol: String,
      tsCol: String,
      idCol: String,
      tokenCol: String,
      k: Int): DataFrame = {
    require(k >= 1, "need at least one context token")
    val byKey = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(idCol))
      .rowsBetween(-k, -1)
    events
      .select(col(keyCol), col(tsCol), col(idCol), col(tokenCol))
      .filter(col(tokenCol).isNotNull)
      .withColumn("__ctx", collect_list(col(tokenCol)).over(byKey))
      .filter(size(col("__ctx")) === k)
      .select(
        col(keyCol), col(idCol),
        array_join(col("__ctx"), " ").as("context"),
        col(tokenCol).as("label"))
  }

  /** Bollinger bands per key series: rolling mid/σ from integer sum and
    * sum-of-squares of CENT-quantized values over a `window`-row frame
    * (order-free, engine-exact — the [[rollingZscore]] moments at a price
    * scale: |v|·100 up to ~7·10⁷ keeps n·Σv² inside int64 at window ≤ 20),
    * bands at mid ± `numSigma`·σ with σ = √(n·Σv²−(Σv)²)/n, and breach
    * flags against the raw value. Head-of-series rows use the partial
    * frame (n < window) rather than going NULL — the convention that
    * keeps the first year of a series monitorable.
    *
    * Output: (keys…, date, value, n_window, mid, sigma, upper, lower,
    * breach_upper, breach_lower).
    */
  def bollingerBands(
      series: DataFrame,
      keyCol: String,
      dateCol: String,
      valueCol: String,
      window: Int = 12,
      numSigma: Double = 2.0): DataFrame = {
    require(window >= 2, "window must be at least 2")
    val w = Window.partitionBy(col(keyCol)).orderBy(col(dateCol))
      .rowsBetween(-(window - 1), Window.currentRow)
    val vfp = round(col(valueCol) * lit(100.0)).cast("long")
    val base = series
      .withColumn("__v", vfp)
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("__s", sum(col("__v")).over(w))
      .withColumn("__sq", sum(col("__v") * col("__v")).over(w))
    val den = col("__n") * col("__sq") - col("__s") * col("__s")
    val mid = expr("__s div __n").cast("double") / lit(100.0)
    val sigma = sqrt(den.cast("double")) / col("__n").cast("double") / lit(100.0)
    base
      .withColumn("mid", mid)
      .withColumn("sigma", sigma)
      .withColumn("upper", col("mid") + lit(numSigma) * col("sigma"))
      .withColumn("lower", col("mid") - lit(numSigma) * col("sigma"))
      .select(
        col(keyCol), col(dateCol), col(valueCol),
        col("__n").as("n_window"), col("mid"), col("sigma"),
        col("upper"), col("lower"),
        (col(valueCol) > col("upper")).as("breach_upper"),
        (col(valueCol) < col("lower")).as("breach_lower"))
  }

  /** OHLC bars per key/period: open and close are the first/last values
    * under the (ts, tie) total order — selected with ONE hash aggregate
    * via struct-ordered min/max (no window, no sort: the struct compares
    * (ts, tie, value) lexicographically, so the extreme struct IS the
    * extreme row) — high/low/count/volume-style stats ride the same
    * aggregate. Every output is an input double (selection, never
    * arithmetic), so the bars are engine-exact by construction.
    *
    * Output: (keys…, open, high, low, close, n).
    */
  def ohlcBars(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      tieCol: String,
      valueCol: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(
        min(struct(col(tsCol).as("t"), col(tieCol).as("i"), col(valueCol).as("v"))).as("__o"),
        max(col(valueCol)).as("high"),
        min(col(valueCol)).as("low"),
        max(struct(col(tsCol).as("t"), col(tieCol).as("i"), col(valueCol).as("v"))).as("__c"),
        count(lit(1)).as("n"))
      .select(keys.map(col) :+ col("__o.v").as("open") :+ col("high") :+ col("low") :+
        col("__c.v").as("close") :+ col("n"): _*)

  /** Rolling z-score anomaly detection per key stream, in FIXED POINT:
    * values quantize to BIGINT thousandths and the rolling mean/variance
    * come from integer sum and sum-of-squares over a `window`-row frame —
    * both order-free within the frame, so unlike float rolling sums the
    * score is engine-exact. z = (n·v − Σv)/√(n·Σv² − (Σv)²): one double
    * division over exact longs (the identity avoids materializing
    * mean/std separately and keeps every cross-row term integer). Rows
    * with zero in-frame variance score NULL; `is_anomaly` is |z| >
    * `threshold`. One window pass (sum, sumsq, count share the sort).
    *
    * Quantization headroom: |v|·10³ up to ~3·10⁶ keeps n·Σv² under 10¹⁵
    * at window ≤ 100 — far inside int64.
    *
    * Output: (keys…, orderBy cols…, value, n_window, z, is_anomaly).
    */
  def rollingZscore(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      idCol: String,
      valueCol: String,
      window: Int = 20,
      threshold: Double = 3.0): DataFrame = {
    require(window >= 2, "window must be at least 2")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(tsCol), col(idCol))
      .rowsBetween(-(window - 1), Window.currentRow)
    val vfp = round(col(valueCol) * lit(1000.0)).cast("long")
    val base = df
      .withColumn("__v", vfp)
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("__s", sum(col("__v")).over(w))
      .withColumn("__sq", sum(col("__v") * col("__v")).over(w))
    val num = col("__n") * col("__v") - col("__s")
    val den = col("__n") * col("__sq") - col("__s") * col("__s")
    base
      .withColumn("z", when(den > 0, num.cast("double") / sqrt(den.cast("double"))))
      .withColumn("is_anomaly", coalesce(abs(col("z")) > threshold, lit(false)))
      .select(keys.map(col) :+ col(tsCol) :+ col(idCol) :+ col(valueCol) :+
        col("__n").as("n_window") :+ col("z") :+ col("is_anomaly"): _*)
  }

  /** Per-group equi-width histogram over data-driven [min, max] bounds:
    * bin = ⌊(v − mn)/(mx − mn)·nBins⌋ clamped into [0, nBins−1] (the max
    * lands in the last bin; a constant group collapses to bin 0). The
    * binning expression is mirrored double arithmetic on two exact
    * aggregate doubles, so the histogram is engine-exact — the
    * distribution-observability scan a pipeline runs per metric before
    * choosing clamp/outlier thresholds. Sparse output: only occupied
    * bins. One bounds aggregate joined back (AQE broadcasts it when its
    * runtime size fits — no forced hint, so high key cardinality cannot
    * OOM the driver), one count aggregate.
    *
    * Output: (keys…, bin, n, bin_lo, bin_hi).
    */
  def histogram(
      df: DataFrame,
      keys: Seq[String],
      valueCol: String,
      nBins: Int = 20): DataFrame = {
    require(nBins >= 1, "nBins must be positive")
    val bounds = df.groupBy(keys.map(col): _*)
      .agg(min(col(valueCol)).as("__mn"), max(col(valueCol)).as("__mx"))
    // no broadcast() hint: bounds is one row per key GROUP, which is only
    // small when key cardinality is — at 10⁸ groups a forced broadcast
    // would OOM the driver and AQE could not override the explicit hint.
    // Left to itself AQE sees the aggregate's true runtime size and
    // broadcasts exactly when it fits.
    val binned = df.join(bounds, keys)
      .withColumn("bin",
        when(col("__mx") === col("__mn"), lit(0L))
          .otherwise(least(
            floor((col(valueCol) - col("__mn")) / (col("__mx") - col("__mn")) * nBins).cast("long"),
            lit(nBins - 1L))))
    binned
      .groupBy((keys.map(col) :+ col("bin")): _*)
      .agg(
        count(lit(1)).as("n"),
        first(col("__mn")).as("__mn"),
        first(col("__mx")).as("__mx"))
      .select(keys.map(col) :+ col("bin") :+ col("n") :+
        (col("__mn") + col("bin").cast("double") * (col("__mx") - col("__mn")) / nBins).as("bin_lo") :+
        (col("__mn") + (col("bin") + 1).cast("double") * (col("__mx") - col("__mn")) / nBins).as("bin_hi"): _*)
  }

  /** FIXED-bounds equi-width histogram counts `(keys…, bin, n)` — the
    * MERGEABLE form of [[histogram]]: bounds are caller-pinned instead of
    * data-driven, so per-batch counts are a true monoid (they add across
    * disjoint batches via [[mergeHistogramCounts]]) and quantile
    * estimates derive from the folded counts ([[quantilesFromCounts]]).
    * This is the 100 TB quantile path: exact per-key quantiles need a
    * per-key sort of ALL values, while this is one hash aggregate per
    * batch with nBins-bounded state per key — the classic
    * histogram-sketch trade (error ≤ one bin width, here (hi−lo)/nBins).
    * `valueCol` must be integral (quantize upstream — the cents
    * convention); binning is pure integer arithmetic (`div`), so counts
    * and estimates are engine-exact. Values outside [lo, hi) clamp into
    * the edge bins — counted, never dropped (the NULL-conservative
    * discipline); NULL values are dropped like every count aggregate.
    */
  def histogramFixed(
      df: DataFrame,
      keys: Seq[String],
      valueCol: String,
      lo: Long,
      hi: Long,
      nBins: Int): DataFrame = {
    require(nBins >= 1 && hi > lo, "need nBins >= 1 and hi > lo")
    df.filter(col(valueCol).isNotNull)
      .withColumn("bin", fixedBin(valueCol, lo, hi, nBins))
      .groupBy((keys.map(col) :+ col("bin")): _*)
      .agg(count(lit(1)).as("n"))
  }

  /** Truncating integer division as a Column (Spark `div` ≡ DuckDB `//`,
    * toward zero) — the Catalyst node directly, since `functions._` has
    * no spelling and an `expr()` string would re-parse the column name.
    */
  private[ops] def divTrunc(num: Column, den: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(num),
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(den)))

  /** The ONE fixed-bounds bin expression behind [[histogramFixed]] —
    * exposed as the STREAMING adapter: bin a micro-batched stream's rows
    * with it and a [[graft.streaming.Streaming.RollupStream]] over
    * `(keys…, bin)` maintains the sketch counts (the rollup's `n` IS the
    * bin count) under the store's existing per-batch-slot/compaction/
    * replay guarantees — the rowCheckLong precedent applied to quantile
    * monitoring. Finalize `rollup.current` with [[quantilesFromCounts]]
    * over `(keys…, bin, n)`. A NULL value bins to NULL — filter upstream
    * (as [[histogramFixed]] does) or rely on [[quantilesFromCounts]]
    * dropping the NULL-bin group, so the streamed sketch matches the
    * one-shot form on NULL-bearing data.
    */
  def fixedBin(valueCol: String, lo: Long, hi: Long, nBins: Int): Column = {
    require(nBins >= 1 && hi > lo, "need nBins >= 1 and hi > lo")
    when(col(valueCol) < lo, lit(0L))
      .when(col(valueCol) >= hi, lit(nBins - 1L))
      .otherwise(divTrunc((col(valueCol) - lit(lo)) * lit(nBins.toLong), lit(hi - lo)))
  }

  /** Fold [[histogramFixed]] increments from DISJOINT batches (same keys,
    * same bounds/bins — the caller's pinned sketch geometry).
    */
  def mergeHistogramCounts(keys: Seq[String])(parts: DataFrame*): DataFrame = {
    require(parts.nonEmpty, "need at least one counts relation")
    parts.reduce(_.unionByName(_))
      .groupBy((keys.map(col) :+ col("bin")): _*)
      .agg(sum(col("n")).as("n"))
  }

  /** Per-group DISTRIBUTION DRIFT over a fixed-bounds histogram:
    * KL(group ‖ whole-relation reference) as per-(group, bin) Laplace-
    * smoothed contributions over the FULL bin domain (zero-count bins
    * included — the fixed geometry is the smoothing domain, so no union
    * vocabulary is needed), in the [[graft.ops.TextOps.distributionDrift]]
    * fixed-point recipe: the contribution pg·ln(pg/pr) quantizes to
    * BIGINT micro-nats after a fully mirrored double expression on
    * integer-derived probabilities, so Σcontrib_fp per group is an
    * order-free integer KL total. The per-domain data-quality monitor:
    * which sources' metric distributions diverge from the corpus.
    *
    * Shape: ONE binned scan ([[histogramFixed]]); everything else —
    * reference counts, group totals, the dense (groups × nBins) domain —
    * derives from the dimension-sized counts relation via
    * [[driftFromCounts]]. Because the derive phase consumes only the
    * histogram-monoid counts, the incremental form is free: fold
    * per-batch [[histogramFixed]] increments with
    * [[mergeHistogramCounts]] and derive AFTER the fold, and the
    * streaming form is a [[graft.streaming.Streaming.RollupStream]] over
    * `(group, bin)` finalized the same way.
    *
    * Output: (groupCol, bin, c_g, c_r, contrib_fp).
    */
  def histogramDriftByGroup(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      lo: Long,
      hi: Long,
      nBins: Int): DataFrame =
    driftFromCounts(
      histogramFixed(df, Seq(groupCol), valueCol, lo, hi, nBins), groupCol, nBins)

  /** The DERIVE phase of [[histogramDriftByGroup]], over an already-built
    * `(groupCol, bin, n)` counts relation (one [[histogramFixed]] batch,
    * a [[mergeHistogramCounts]] fold, or a RollupStream's `current`).
    * Counts are the monoid; contributions derive here, after any fold —
    * the audit/classifier/quantile discipline applied to drift. A NULL
    * bin group (a rollup fed unfiltered NULL values) is dropped, matching
    * the one-shot form's NULL filter. All inputs to the mirrored double
    * expression are exact longs, so the fold cannot perturb the output.
    */
  def driftFromCounts(counts: DataFrame, groupCol: String, nBins: Int): DataFrame = {
    val cg = counts.filter(col("bin").isNotNull)
      .select(col(groupCol), col("bin"), col("n").cast("long").as("__cg"))
      .scopedCache()
    val dom = cg.select(col(groupCol)).distinct()
      .select(col(groupCol), explode(sequence(lit(0L), lit(nBins - 1L))).as("bin"))
    val cr = cg.groupBy(col("bin")).agg(sum(col("__cg")).as("__cr"))
    val ng = cg.groupBy(col(groupCol)).agg(sum(col("__cg")).as("__ng"))
    val nr = cg.agg(sum(col("__cg")).as("__nr"))
    val pg = (col("c_g") + 1).cast("double") / (col("__ng") + nBins).cast("double")
    val pr = (col("c_r") + 1).cast("double") / (col("__nr") + nBins).cast("double")
    dom
      .join(cg, Seq(groupCol, "bin"), "left")
      .join(cr, Seq("bin"), "left")
      .select(col(groupCol), col("bin"),
        coalesce(col("__cg"), lit(0L)).as("c_g"),
        coalesce(col("__cr"), lit(0L)).as("c_r"))
      .join(ng, Seq(groupCol))
      .crossJoin(broadcast(nr))
      .select(col(groupCol), col("bin"), col("c_g"), col("c_r"),
        round(pg * log(pg / pr) * lit(1.0e6)).cast("long").as("contrib_fp"))
  }

  /** Per-key quantile estimates from (possibly folded) fixed-bounds
    * histogram counts: for each requested permille q, the smallest bin
    * whose cumulative count reaches ⌈N·q/1000⌉, reported as that bin's
    * UPPER edge (integer arithmetic throughout — the estimate is exact
    * given the sketch, and the sketch error is one bin width). The
    * cumulative window is keys-partitioned and nBins-bounded — never a
    * global sort. Output `(keys…, q_permille, n_total, est)`.
    */
  def quantilesFromCounts(
      hist: DataFrame,
      keys: Seq[String],
      qsPermille: Seq[Int],
      lo: Long,
      hi: Long,
      nBins: Int): DataFrame = {
    require(qsPermille.nonEmpty && qsPermille.forall(q => q >= 1 && q <= 1000),
      "quantiles are permille values in [1, 1000]")
    val wCum = Window.partitionBy(keys.map(col): _*).orderBy(col("bin"))
    val wAll = Window.partitionBy(keys.map(col): _*)
    hist
      // a NULL bin group can only come from a rollup-maintained sketch fed
      // unfiltered NULL values ([[fixedBin]]); drop it here so streamed
      // estimates equal the one-shot form, which never counts NULLs
      .filter(col("bin").isNotNull)
      .withColumn("cum", sum(col("n")).over(wCum))
      .withColumn("total", sum(col("n")).over(wAll))
      .select((keys.map(col) :+ col("bin") :+ col("cum") :+ col("total") :+
        explode(array(qsPermille.map(q => lit(q.toLong)): _*)).as("q_permille")): _*)
      .filter(col("cum") >= expr("(total * q_permille + 999) div 1000"))
      .groupBy((keys.map(col) :+ col("q_permille")): _*)
      .agg(min(col("bin")).as("__bin"), min(col("total")).as("n_total"))
      .select((keys.map(col) :+ col("q_permille") :+ col("n_total") :+
        expr(s"$lo + ((__bin + 1) * ${hi - lo}) div $nBins").as("est")): _*)
  }

  /** Per-key OLS beta and correlation against the cross-sectional market
    * return, in FIXED POINT: monthly returns quantize to BIGINT
    * basis-point units (×10⁴ — sized so every moment sum fits int64 with
    * ~30× headroom at this corpus's extreme swings), the market return is
    * the equal-weighted TRUNCATED-division mean of that month's return
    * units (Spark `div` and DuckDB `//` both truncate toward zero,
    * verified on negative sums), and all five moment sums are order-free
    * integer aggregations. The only doubles are the final
    * beta/corr ratios of exact longs — mirrored association, engine-exact.
    *
    * Shape: one lag window per key (the return build), one month
    * aggregate (dimension-sized market relation, broadcast back), one
    * hash aggregate of five longs per key. Degenerate keys (< 2 returns,
    * or zero variance on either side) yield NULL beta/corr rather than a
    * division artifact.
    *
    * Output: (key, n, beta, corr).
    */
  def marketBeta(
      series: DataFrame,
      keyCol: String,
      dateCol: String,
      valueCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(dateCol))
    // cached: the return relation feeds the market aggregate AND the join
    // (module caching contract: caller/harness clears)
    val rets = series
      .withColumn("__prev", lag(col(valueCol), 1).over(w))
      .filter(col("__prev").isNotNull && col("__prev") =!= 0)
      .select(
        col(keyCol), col(dateCol),
        round((col(valueCol) - col("__prev")) / col("__prev") * lit(10000.0))
          .cast("long").as("__r"))
      .scopedCache()
    val market = rets.groupBy(col(dateCol))
      .agg(sum(col("__r")).as("__s"), count(lit(1)).as("__c"))
      .select(col(dateCol), expr("__s div __c").as("__m"))
    val moments = rets.join(broadcast(market), dateCol)
      .groupBy(col(keyCol))
      .agg(
        count(lit(1)).as("n"),
        sum(col("__m")).as("__sx"),
        sum(col("__r")).as("__sy"),
        sum(col("__m") * col("__r")).as("__sxy"),
        sum(col("__m") * col("__m")).as("__sxx"),
        sum(col("__r") * col("__r")).as("__syy"))
    moments
      .withColumn("__num", col("n") * col("__sxy") - col("__sx") * col("__sy"))
      .withColumn("__dx", col("n") * col("__sxx") - col("__sx") * col("__sx"))
      .withColumn("__dy", col("n") * col("__syy") - col("__sy") * col("__sy"))
      .select(
        col(keyCol), col("n"),
        when(col("__dx") > 0,
          col("__num").cast("double") / col("__dx").cast("double")).as("beta"),
        when(col("__dx") > 0 && col("__dy") > 0,
          col("__num").cast("double")
            / sqrt(col("__dx").cast("double") * col("__dy").cast("double"))).as("corr"))
  }

  /** Winsorized robust statistics per key group: values clamp to the
    * EXACT order statistics at ranks ⌊q·(n−1)⌋+1 under the total order
    * (value, tieCol) — rank selection, not interpolation, so the clamp
    * bounds are input doubles and the whole operator is engine-exact;
    * the winsorized mean quantizes the clamped values to BIGINT
    * millionths per row (order-free integer sum, one final division).
    * The robust-mean shape for outlier-heavy metrics where a plain mean
    * follows the whales.
    *
    * Shape: one window pass ranks each group (the sort a quantile needs
    * anyway), the two bound rows are selected by rank and joined back
    * broadcast-sized (2 rows per key), and the stats are one hash
    * aggregate. No self-join, no percentile UDAF.
    *
    * Output: (keys…, n, lo, hi, wmean_fp, wmean).
    */
  def winsorizedStats(
      df: DataFrame,
      keys: Seq[String],
      valueCol: String,
      tieCol: String,
      qLo: Double = 0.05,
      qHi: Double = 0.95): DataFrame = {
    require(qLo >= 0 && qHi <= 1 && qLo < qHi, "need 0 <= qLo < qHi <= 1")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(valueCol), col(tieCol))
    // cached: the ranked relation feeds the bound pick AND the clamp scan
    // (module caching contract: caller/harness clears). NULL values are
    // excluded up front — engines disagree on NULL ordering (Spark NULLS
    // FIRST vs SQL NULLS LAST would shift every order statistic), and a
    // NULL contributes nothing to a robust mean but would inflate n
    val ranked = df
      .filter(col(valueCol).isNotNull)
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
      .scopedCache()
    val loRank = (floor(lit(qLo) * (col("__n") - 1)) + 1).cast("long")
    val hiRank = (floor(lit(qHi) * (col("__n") - 1)) + 1).cast("long")
    val bounds = ranked
      .filter(col("__rn") === loRank || col("__rn") === hiRank)
      .groupBy(keys.map(col): _*)
      .agg(
        min(when(col("__rn") === loRank, col(valueCol))).as("lo"),
        max(when(col("__rn") === hiRank, col(valueCol))).as("hi"))
    ranked
      // no broadcast() hint (one bounds row per key group — unbounded at
      // high key cardinality); AQE broadcasts when the runtime size fits
      .join(bounds, keys)
      .withColumn("__wv", least(greatest(col(valueCol), col("lo")), col("hi")))
      .groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        first(col("lo")).as("lo"),
        first(col("hi")).as("hi"),
        sum(round(col("__wv") * lit(1000000.0)).cast("long")).as("wmean_fp_sum"))
      .select(keys.map(col) :+ col("n") :+ col("lo") :+ col("hi") :+
        col("wmean_fp_sum") :+
        (col("wmean_fp_sum").cast("double") / col("n").cast("double") / lit(1000000.0)).as("wmean"): _*)
  }

  /** Running-peak drawdown per key series: peak = cumulative max of the
    * value in date order, drawdown = value/peak − 1 (≤ 0, the standard
    * loss-from-high metric). Engine-exact without quantization: cumulative
    * max SELECTS an input double (no accumulation), and the division is
    * one correctly-rounded operation on two exact inputs. One window pass
    * per key, no self-join.
    */
  def drawdown(
      series: DataFrame,
      keyCol: String,
      dateCol: String,
      valueCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(dateCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    series
      .withColumn("peak", max(col(valueCol)).over(w))
      .withColumn("drawdown", col(valueCol) / col("peak") - lit(1.0))
  }

  /** Weight-averaged value per key group in FIXED POINT — the VWAP shape:
    * each row's value·weight product and weight quantize to BIGINT
    * millionths BEFORE aggregation, so both sums are order-free integer
    * arithmetic (the engine's standard float-portability recipe) and the
    * mean is a single double division of two exact longs. One partial-
    * aggregating hash groupBy — map-side combine, one shuffle of
    * (key, two longs), no window.
    *
    * Output: (keys…, wv_fp, w_fp, wmean).
    */
  def weightedMean(
      df: DataFrame,
      keys: Seq[String],
      valueCol: String,
      weightCol: String): DataFrame =
    df
      .select(keys.map(col) :+
        round(col(valueCol) * col(weightCol) * lit(1000000.0)).cast("long").as("__wv") :+
        round(col(weightCol) * lit(1000000.0)).cast("long").as("__w"): _*)
      .groupBy(keys.map(col): _*)
      .agg(sum(col("__wv")).as("wv_fp"), sum(col("__w")).as("w_fp"))
      .withColumn("wmean",
        when(col("w_fp") =!= 0L, col("wv_fp").cast("double") / col("w_fp").cast("double")))

  /** Exponentially-weighted moving average over a per-key time series, in
    * FIXED POINT: values quantize to BIGINT millionths and the recurrence
    * is s₁ = v₁, sᵢ = (vᵢ + (k−1)·sᵢ₋₁) div k with α = 1/`alphaInv` —
    * every step is integer arithmetic on the quantized inputs, so the
    * whole trajectory reproduces bit-for-bit on any engine (the
    * [[graft.ops.TextOps.lmScore]] portability contract applied to a
    * sequential recurrence, where float accumulation drift would
    * otherwise compound per step). Inputs must be non-negative (prices,
    * counts): integral `div` is floor division there, matching SQL `//`.
    *
    * Shape: an EWMA is inherently sequential per key, so the series is
    * assembled in-row — one hash aggregation collects each key's
    * (date, value) structs, `sort_array` orders them, and ONE codegen'd
    * `aggregate` lambda runs the recurrence — then explodes back to rows.
    * One shuffle on the key, no window, no self-join, no driver state.
    * The per-key array is the operating constraint (a monthly series is
    * a few hundred structs; this is NOT the operator for tick-level
    * series — aggregate to periods first, as the registered query does).
    *
    * Output: (key, date, value, ewma_fp, ewma).
    */
  def ewmaFixedPoint(
      series: DataFrame,
      keyCol: String,
      dateCol: String,
      valueCol: String,
      alphaInv: Int = 4): DataFrame = {
    require(alphaInv >= 2, "alphaInv must be >= 2 (alpha = 1/alphaInv)")
    ewmaRun(series, keyCol, dateCol, valueCol, alphaInv, useSeed = false)
  }

  /** Resume [[ewmaFixedPoint]] from externally-stored state — the
    * incremental operating mode: `prior` carries each key's last smoothed
    * value (`keyCol`, `priorFpCol` as BIGINT millionths) from the
    * previously-processed prefix; new batches fold in WITHOUT replaying
    * history, so the per-increment cost is O(batch), not O(series). Keys
    * absent from `prior` start the recurrence fresh. Losslessness is
    * proven by the registered incremental query, which splits the series
    * at a pivot date, resumes the suffix from the prefix's final states,
    * and must reproduce the from-scratch trajectory bit-for-bit (shared
    * oracle) — exactly the [[graft.ops.TextOps.mergeBm25Stats]] /
    * mergeLmCounts proof pattern, here for a SEQUENTIAL state.
    */
  def ewmaResume(
      series: DataFrame,
      keyCol: String,
      dateCol: String,
      valueCol: String,
      prior: DataFrame,
      priorFpCol: String = "ewma_fp",
      alphaInv: Int = 4): DataFrame = {
    val seeded = series.join(
      prior.select(col(keyCol), col(priorFpCol).as("__seed")),
      Seq(keyCol), "left")
    ewmaRun(seeded, keyCol, dateCol, valueCol, alphaInv, useSeed = true)
  }

  private def ewmaRun(
      series: DataFrame,
      keyCol: String,
      dateCol: String,
      valueCol: String,
      alphaInv: Int,
      useSeed: Boolean): DataFrame = {
    require(alphaInv >= 2, "alphaInv must be >= 2 (alpha = 1/alphaInv)")
    val seq = sort_array(collect_list(struct(
      col(dateCol).as("d"),
      col(valueCol).as("v"),
      round(col(valueCol) * lit(1000000.0)).cast("long").as("fp"))))
    val grouped =
      if (useSeed)
        series.groupBy(col(keyCol))
          .agg(seq.as("__seq"), first(col("__seed")).as("__seed"))
      else
        series.groupBy(col(keyCol))
          .agg(seq.as("__seq"))
          .withColumn("__seed", lit(null).cast("long"))
    grouped
      .select(col(keyCol), explode(expr(df_rec(alphaInv))).as("__e"))
      .select(
        col(keyCol),
        col("__e.d").as(dateCol),
        col("__e.v").as(valueCol),
        col("__e.s").as("ewma_fp"),
        (col("__e.s").cast("double") / lit(1000000.0)).as("ewma"))
  }

  /** Two-sided CUSUM change detection over a per-key series of ALREADY
    * fixed-point deviations (callers quantize — e.g. basis-point returns):
    * c⁺ᵢ = max(0, c⁺ᵢ₋₁ + dᵢ − slack), c⁻ᵢ = min(0, c⁻ᵢ₋₁ + dᵢ + slack),
    * alarm when either side breaches ±threshold (non-resetting; the Page
    * CUSUM shape for drift that per-point outlier flags miss because no
    * single observation is extreme). Pure integer recurrence — the same
    * engine-exact portability contract as [[ewmaFixedPoint]], and the
    * same shape: one hash aggregation collects each key's sorted series,
    * ONE codegen'd aggregate lambda runs both accumulators in-row, one
    * explode back. One shuffle on the key, no window, no driver state;
    * the per-key array is the operating constraint (period-aggregated
    * series, not ticks).
    *
    * Output: (key, date, value_fp, cusum_pos, cusum_neg, alarm).
    */
  def cusumFixedPoint(
      series: DataFrame,
      keyCol: String,
      dateCol: String,
      valueFpCol: String,
      slackFp: Long = 0L,
      thresholdFp: Long): DataFrame = {
    require(slackFp >= 0, "slackFp must be non-negative")
    require(thresholdFp > 0, "thresholdFp must be positive")
    val seq = sort_array(collect_list(struct(
      col(dateCol).as("d"), col(valueFpCol).cast("long").as("fp"))))
    val rec =
      s"""aggregate(
         |  __seq,
         |  cast(array() as array<struct<d:date,fp:bigint,cp:bigint,cn:bigint>>),
         |  (acc, x) -> array_append(acc, named_struct(
         |    'd', x.d, 'fp', x.fp,
         |    'cp', CASE WHEN size(acc) = 0 THEN greatest(0L, x.fp - $slackFp)
         |               ELSE greatest(0L, element_at(acc, -1).cp + x.fp - $slackFp) END,
         |    'cn', CASE WHEN size(acc) = 0 THEN least(0L, x.fp + $slackFp)
         |               ELSE least(0L, element_at(acc, -1).cn + x.fp + $slackFp) END)))""".stripMargin
    series
      .groupBy(col(keyCol))
      .agg(seq.as("__seq"))
      .select(col(keyCol), explode(expr(rec)).as("__e"))
      .select(
        col(keyCol),
        col("__e.d").as(dateCol),
        col("__e.fp").as("value_fp"),
        col("__e.cp").as("cusum_pos"),
        col("__e.cn").as("cusum_neg"),
        (col("__e.cp") > thresholdFp || col("__e.cn") < -thresholdFp).as("alarm"))
  }

  /** The SQL-lambda recurrence for [[ewmaFixedPoint]]/[[ewmaResume]] —
    * `aggregate` over the sorted struct array, appending each step's
    * smoothed value so the full trajectory is emitted, not just the final
    * state. A NULL `__seed` means a fresh start (first element passes
    * through); a non-NULL seed is the stored sᵢ₋₁ for the first element.
    */
  private def df_rec(alphaInv: Int): String = {
    val k = alphaInv
    val km1 = alphaInv - 1
    s"""aggregate(
       |  __seq,
       |  cast(array() as array<struct<d:date,v:double,fp:bigint,s:bigint>>),
       |  (acc, x) -> array_append(acc, named_struct(
       |    'd', x.d, 'v', x.v, 'fp', x.fp,
       |    's', CASE WHEN size(acc) = 0 THEN
       |               CASE WHEN __seed IS NULL THEN x.fp
       |                    ELSE (x.fp + $km1 * __seed) div $k END
       |              ELSE (x.fp + $km1 * element_at(acc, -1).s) div $k END)))""".stripMargin
  }
}
