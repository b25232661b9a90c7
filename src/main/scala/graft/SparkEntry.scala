package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops._
import graft.ops.Caching.Syntax

/** Driver contract — every implemented operator from SURVEY.md §2 is
  * registered here as a named query over the testdata tables, with an ANSI
  * SQL oracle (run by the driver in DuckDB over the same parquet) in
  * [[oracleSql]]. Column names/aliases are kept identical between the Spark
  * plan and the oracle (the driver compare sorts columns by name).
  *
  * Role-cast (FIXTURES.md §B): `events` plays the quote/tick stream
  * (user_id≈symbol, event_type≈asset_type, value≈price, ts≈updated_at),
  * `orders` plays the stored monthly history, `customer` the requested-symbol
  * catalog, `documents`/`embeddings` the north-star text/similarity corpora.
  *
  * Timestamp parity: the testdata's `ts` is nanosecond-precision parquet;
  * both Spark and DuckDB floor it to microseconds on read, and all oracle
  * queries emit `timestamp_ntz` (naive, UTC session) so the driver compares
  * naive-µs against naive-µs.
  */
object SparkEntry {

  /** Flagship on sf0.001: last-wins snapshot per (symbol, asset_type) with
    * change vs previous tick — the reference's realtime upsert semantics
    * (SURVEY.md §7.3). Driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame =
    qLatestSnapshotUpsert(spark, "/root/testdata/sf0.001")

  // ---- shared constants (deterministic bounds of the testdata, TESTDATA.md) ----
  private val OrdersStart = "1995-01-01" // min(o_orderdate) month
  private val OrdersStop  = "2001-08-01" // max(o_orderdate) month
  private val Today       = "2001-06-15" // pinned "today" for clamp tests

  // =========================================================================
  // Step-3 merge/window queries (A11-A13, B12, B18)
  // =========================================================================

  /** B18/A11 — latest tick per key + delta vs previous tick (lead() in the
    * same DESC window, so one shuffle + one sort serves both).
    */
  def qLatestSnapshotUpsert(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val w = Window
      .partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts").desc, col("event_id").desc)
    ev.select(col("user_id"), col("event_type"), col("value"), col("ts"), col("event_id"))
      .withColumn("prev_value", lead(col("value"), 1).over(w))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(
        col("user_id").as("symbol"),
        col("event_type").as("asset_type"),
        col("value").as("price"),
        (col("value") - col("prev_value")).as("change"),
        when(col("prev_value") =!= 0,
          (col("value") - col("prev_value")) / col("prev_value") * lit(100)).as("percent_change"),
        col("ts").cast("timestamp_ntz").as("updated_at"))
  }

  /** A11 — upsert = union(previous snapshot, delta ticks) → last-wins. The
    * snapshot/delta split comes from [[Tables.eventsSplitAt]], which
    * phrases each slice's predicate against the RAW stored column so both
    * scans prune to their own time range (a predicate on the derived
    * ts/ts_ns would read the whole table twice).
    */
  def qMergeLastWins(spark: SparkSession, dir: String): DataFrame = {
    val (beforeRaw, afterRaw) = Tables.eventsSplitAt(
      spark, dir, java.time.Instant.parse("2024-01-15T00:00:00Z"))
    def sel(df: DataFrame) = df.select(
      col("user_id"), col("event_type"), col("value"), col("ts"), col("event_id"))
    val previous = Merge.lastWins(
      sel(beforeRaw), Seq("user_id", "event_type"), Seq(col("ts"), col("event_id")))
    val delta = sel(afterRaw)
    Merge
      .upsert(previous, delta, Seq("user_id", "event_type"), Seq(col("ts"), col("event_id")))
      .select(
        col("user_id").as("symbol"),
        col("event_type").as("asset_type"),
        col("value").as("price"),
        col("ts").cast("timestamp_ntz").as("updated_at"))
  }

  /** CDC apply — the upsert family completed with deletes: the pre-cutoff
    * snapshot merged with a post-cutoff change stream whose op is derived
    * deterministically (value < 5 → 'D'); a key whose LAST change is a
    * delete leaves the store entirely.
    */
  def qCdcApply(spark: SparkSession, dir: String): DataFrame = {
    val (beforeRaw, afterRaw) = Tables.eventsSplitAt(
      spark, dir, java.time.Instant.parse("2024-01-15T00:00:00Z"))
    def sel(df: DataFrame) = df.select(
      col("user_id"), col("event_type"), col("value"), col("ts"), col("event_id"))
    val snapshot = Merge.lastWins(
      sel(beforeRaw), Seq("user_id", "event_type"), Seq(col("ts"), col("event_id")))
    val changes = sel(afterRaw)
      .withColumn("op", when(col("value") < 5, lit("D")).otherwise(lit("U")))
    Merge
      .applyCdc(snapshot, changes, Seq("user_id", "event_type"),
        Seq(col("ts"), col("event_id")), "op")
      .select(
        col("user_id").as("symbol"),
        col("event_type").as("asset_type"),
        col("value").as("price"),
        col("ts").cast("timestamp_ntz").as("updated_at"))
  }

  /** A12 — monthly series: last close per (symbol, month), the
    * `market_data_monthly` relation built from the stored history.
    */
  def qMonthlyLastClose(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(
        col("o_custkey"),
        to_date(date_trunc("month", col("o_orderdate"))).as("date"),
        col("o_totalprice"),
        col("o_orderdate"),
        col("o_orderkey"))
    Merge
      .lastWins(o, Seq("o_custkey", "date"), Seq(col("o_orderdate"), col("o_orderkey")))
      .select(col("o_custkey").as("symbol"), col("date"), col("o_totalprice").as("price"))
  }

  /** Gap FILL over the monthly close series: each symbol's observed
    * min..max month spine with interior gaps linearly interpolated
    * ([[Analytics.interpolateMonthlyGaps]]) — the reconstruction complement
    * of the reference's gap detection, oracle-checked on the integer month
    * axis with identical IEEE expression order.
    */
  def qGapInterpolate(spark: SparkSession, dir: String): DataFrame =
    Analytics.interpolateMonthlyGaps(
      qMonthlyLastClose(spark, dir), "symbol", "date", "price")

  /** Fixed-point EWMA over the monthly close series — the smoothing
    * complement of gap detection/interpolation. Integer recurrence on
    * millionth-quantized prices (α = 1/4), so the sequential trajectory
    * is engine-exact; the oracle replays it with a recursive CTE.
    */
  def qEwmaSmooth(spark: SparkSession, dir: String): DataFrame =
    Analytics.ewmaFixedPoint(qMonthlyLastClose(spark, dir), "symbol", "date", "price")

  /** Incremental EWMA maintenance, proven lossless BY CONSTRUCTION: the
    * series is split at a pivot date, the suffix resumes from the
    * prefix's stored final states via [[Analytics.ewmaResume]], and
    * prefix-trajectory ∪ resumed-suffix must reproduce the from-scratch
    * recurrence bit-for-bit — q_ewma_smooth's oracle, shared verbatim.
    * This is the sequential-state instance of the incremental-proof
    * pattern (mergeBm25Stats, mergeLmCounts, knnMerge): per-increment
    * cost O(batch), history never replayed.
    */
  def qEwmaIncremental(spark: SparkSession, dir: String): DataFrame = {
    val monthly = qMonthlyLastClose(spark, dir).cache()
    val pivot = lit("1996-01-01").cast("date")
    val storedTraj = Analytics.ewmaFixedPoint(
      monthly.filter(col("date") < pivot), "symbol", "date", "price").cache()
    val lastState = storedTraj
      .groupBy(col("symbol"))
      .agg(max_by(col("ewma_fp"), col("date")).as("ewma_fp"))
    val resumed = Analytics.ewmaResume(
      monthly.filter(col("date") >= pivot), "symbol", "date", "price", lastState)
    storedTraj.unionByName(resumed)
  }

  /** B12 — current-period last-value pick via `max_by` (hash agg, no sort). */
  def qCurrentMonthPick(spark: SparkSession, dir: String): DataFrame = {
    val cur = Tables.orders(spark, dir)
      .filter(date_trunc("month", col("o_orderdate")) === lit(OrdersStop).cast("timestamp"))
    Merge
      .latestByKey(cur, Seq("o_custkey"), Seq("o_orderdate", "o_orderkey"), Seq("o_totalprice"))
      .select(col("o_custkey").as("symbol"), col("o_totalprice").as("price"))
  }

  /** §3.1 end-to-end — the realtime job's whole dataflow as ONE oracle-
    * checked relation: store = last-wins snapshot before the cutoff;
    * requests = every key ever seen; needed = keys absent from the store
    * (anti-join); fetch = latest post-cutoff tick per needed key; result =
    * merge(store, fetched). Differentially tests the COMPOSITION, not just
    * the operators.
    */
  def qJobMarketDataE2e(spark: SparkSession, dir: String): DataFrame = {
    val (beforeRaw, afterRaw) = Tables.eventsSplitAt(
      spark, dir, java.time.Instant.parse("2024-01-20T00:00:00Z"))
    def sel(df: DataFrame) = df.select(
      col("user_id"), col("event_type"), col("value"), col("ts"), col("event_id"))
    val store = Merge.lastWins(
      sel(beforeRaw), Seq("user_id", "event_type"), Seq(col("ts"), col("event_id")))
    // requests = every key ever seen, either side of the cutoff
    val requests = sel(beforeRaw).unionByName(sel(afterRaw))
      .select(col("user_id"), col("event_type")).distinct()
    val needed = Incremental.needingUpdate(requests, store, Seq("user_id", "event_type"))
    val quotes = Merge.lastWins(
      sel(afterRaw), Seq("user_id", "event_type"), Seq(col("ts"), col("event_id")))
    val fetched = needed.join(quotes, Seq("user_id", "event_type"))
    Merge
      .upsert(store, fetched, Seq("user_id", "event_type"), Seq(col("ts"), col("event_id")))
      .select(
        col("user_id").as("symbol"),
        col("event_type").as("asset_type"),
        col("value").as("price"),
        col("ts").cast("timestamp_ntz").as("updated_at"))
  }

  /** §3.2 end-to-end — the historical backfill dataflow as one relation:
    * store = monthly closes from pre-1999 orders; gap detection over the full
    * spine; fetch = post-store months from the feed (orders) restricted to
    * each symbol's gap range; result = merged monthly table.
    */
  def qJobHistoricalE2e(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(
      col("o_custkey"),
      to_date(date_trunc("month", col("o_orderdate"))).as("date"),
      col("o_totalprice"), col("o_orderdate"), col("o_orderkey"))
    val cut = lit("1999-01-01").cast("timestamp")
    val store = Merge.lastWins(
      o.filter(col("o_orderdate") < cut), Seq("o_custkey", "date"),
      Seq(col("o_orderdate"), col("o_orderkey")))
      .select(col("o_custkey"), col("date"), col("o_totalprice"))
    val requests = Tables.customer(spark, dir).select(col("c_custkey").as("o_custkey"))
    val gaps = Incremental.gapDetection(
      requests, store.select(col("o_custkey"), col("date")), Seq("o_custkey"), "date",
      lit(OrdersStart).cast("date"), lit(OrdersStop).cast("date"))
    val fetched = o
      .join(gaps, Seq("o_custkey"))
      .filter(col("date") >= col("gap_start") && col("date") <= col("gap_end"))
    val monthly = Merge.lastWins(
      fetched.select(col("o_custkey"), col("date"), col("o_totalprice"), col("o_orderdate"), col("o_orderkey")),
      Seq("o_custkey", "date"), Seq(col("o_orderdate"), col("o_orderkey")))
      .select(col("o_custkey"), col("date"), col("o_totalprice"))
    store
      .unionByName(monthly)
      .groupBy(col("o_custkey"), col("date"))
      // Covered months INSIDE a symbol's coalesced [gap_start, gap_end] span
      // are re-fetched from the full feed, so store ∩ fetched overlap and
      // max(price) is a real tie-break (stale-wins-if-higher), not a no-op
      // pick. Oracle uses the same max, so parity holds; the production-
      // semantics EXCLUDED-wins variant is Jobs.historicalBackfill.
      .agg(max(col("o_totalprice")).as("price"))
      .select(col("o_custkey").as("symbol"), col("date"), col("price"))
  }

  // =========================================================================
  // Step-2 incremental planning (B7-B11)
  // =========================================================================

  /** "Freshly stored" horizon: a symbol counts as present only if it has rows
    * since this date — so the anti/semi probes split the catalog non-trivially.
    */
  private val FreshSince = "2001-01-01"

  /** B7 — requested symbols with no fresh stored rows (broadcast anti-join). */
  def qAssetsNeedingUpdate(spark: SparkSession, dir: String): DataFrame = {
    val requested = Tables.customer(spark, dir).select(col("c_custkey"), col("c_name"))
    val stored = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(FreshSince).cast("timestamp"))
      .select(col("o_custkey").as("c_custkey"))
    Incremental
      .needingUpdate(requested, stored, Seq("c_custkey"))
      .select(col("c_custkey").as("symbol"), col("c_name").as("name"))
  }

  /** B8 — requested symbols already freshly present (semi-join probe). */
  def qExistingSymbols(spark: SparkSession, dir: String): DataFrame = {
    val requested = Tables.customer(spark, dir).select(col("c_custkey"), col("c_name"))
    val stored = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(FreshSince).cast("timestamp"))
      .select(col("o_custkey").as("c_custkey"))
    Incremental
      .existing(requested, stored, Seq("c_custkey"))
      .select(col("c_custkey").as("symbol"), col("c_name").as("name"))
  }

  /** Month spine per symbol between its own first/last stored month. */
  def qMonthSpine(spark: SparkSession, dir: String): DataFrame = {
    val rng = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(
        to_date(date_trunc("month", min(col("o_orderdate")))).as("start"),
        to_date(date_trunc("month", max(col("o_orderdate")))).as("stop"))
    Incremental
      .monthSpine(rng, col("start"), col("stop"))
      .select(col("o_custkey").as("symbol"), col("month"))
  }

  /** B10 — calendar-spine gap detection → one (symbol, gap range) per symbol
    * with missing months; fully-covered symbols drop out.
    */
  def qGapDetection(spark: SparkSession, dir: String): DataFrame = {
    val requested = Tables.customer(spark, dir).select(col("c_custkey"))
    val stored    = Tables.orders(spark, dir).select(col("o_custkey").as("c_custkey"), col("o_orderdate"))
    Incremental
      .gapDetection(
        requested, stored, Seq("c_custkey"), "o_orderdate",
        lit(OrdersStart).cast("date"), lit(OrdersStop).cast("date"))
      .select(col("c_custkey").as("symbol"), col("gap_start"), col("gap_end"), col("missing_months"))
  }

  /** B11 — date-range normalization with pinned "today" clamp. */
  def qAdjustDateRange(spark: SparkSession, dir: String): DataFrame = {
    val rng = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(
        min(col("o_orderdate")).cast("date").as("start_date"),
        max(col("o_orderdate")).cast("date").as("end_date"))
    Incremental
      .adjustDateRange(rng, "start_date", "end_date", lit(Today).cast("date"))
      .select(col("o_custkey").as("symbol"), col("adj_start"), col("adj_end"), col("single_month"))
  }

  // =========================================================================
  // Step-1 ingest / validate (B1-B6)
  // =========================================================================

  /** B1 — required-field validation over a derived document (a deterministic
    * null is injected so the reject path is actually exercised).
    */
  def qValidateRequiredFields(spark: SparkSession, dir: String): DataFrame = {
    val doc = Tables.lineitem(spark, dir).select(
      col("l_orderkey"),
      col("l_linenumber"),
      col("l_quantity").as("quantity"),
      when(col("l_discount") === 0.0, lit(null)).otherwise(col("l_discount")).as("discount"))
    Relational.validateRequired(doc, Seq("l_orderkey", "l_linenumber", "quantity", "discount"))
  }

  /** Declarative constraint audit over the orders/lineitem/customer star —
    * completeness, range and domain row checks (one scan per table for ALL
    * its predicates), key uniqueness (one groupBy, no self-join), and both
    * foreign keys (child pre-aggregated to key cardinality before the
    * parent join). The synthetic data genuinely violates two constraints
    * (duplicated lineitem (orderkey, linenumber) pairs, negative account
    * balances), so both scorecard outcomes are oracle-exercised.
    */
  def qConstraintAudit(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val li = Tables.lineitem(spark, dir)
    val cust = Tables.customer(spark, dir)
    AuditOps.suite(
      AuditOps.auditRows(orders, "orders", Seq(
        "orders_custkey_complete" -> col("o_custkey").isNull,
        "orders_totalprice_positive" -> !(col("o_totalprice") > 0),
        "orders_status_domain" -> !col("o_orderstatus").isin("O", "F", "P"))),
      AuditOps.auditRows(li, "lineitem", Seq(
        "lineitem_quantity_range" -> !(col("l_quantity") >= 1 && col("l_quantity") <= 50),
        "lineitem_discount_range" -> !(col("l_discount") >= 0 && col("l_discount") <= 0.1))),
      AuditOps.auditRows(cust, "customer", Seq(
        "customer_acctbal_nonneg" -> (col("c_acctbal") < 0))),
      AuditOps.auditUnique(orders, "orders", Seq("o_orderkey"), "orders_pk_unique"),
      AuditOps.auditUnique(li, "lineitem", Seq("l_orderkey", "l_linenumber"),
        "lineitem_pk_unique"),
      AuditOps.auditReferential(li, "lineitem", Seq("l_orderkey" -> "o_orderkey"),
        orders, "lineitem_orders_fk"),
      AuditOps.auditReferential(orders, "orders", Seq("o_custkey" -> "c_custkey"),
        cust, "orders_customer_fk"))
  }

  /** Incremental audit maintenance: each table's batches (id-parity
    * split) contribute row-check scorecards and (key, n) count relations;
    * the folds finalize to the same 10-row scorecard — must reproduce
    * q_constraint_audit bit-for-bit (shared oracle, the audit-monoid
    * losslessness proof).
    */
  def qConstraintAuditIncremental(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val li = Tables.lineitem(spark, dir)
    val cust = Tables.customer(spark, dir)
    // provably TOTAL split: pmod covers negative keys (% keeps their sign
    // and -1 % 2 = -1 would satisfy neither branch) and a NULL key lands
    // in batch 0 via the coalesce — no row can silently vanish from every
    // batch, matching the NULL-conservatism the audit checks themselves
    // are built around (PropertiesSpec's fold tests already split by pmod)
    def halves(df: DataFrame, key: String): Seq[DataFrame] = {
      val b = coalesce(pmod(col(key), lit(2)), lit(0))
      Seq(df.filter(b === 0), df.filter(b === 1))
    }
    val orderChecks = Seq(
      "orders_custkey_complete" -> col("o_custkey").isNull,
      "orders_totalprice_positive" -> !(col("o_totalprice") > 0),
      "orders_status_domain" -> !col("o_orderstatus").isin("O", "F", "P"))
    val liChecks = Seq(
      "lineitem_quantity_range" -> !(col("l_quantity") >= 1 && col("l_quantity") <= 50),
      "lineitem_discount_range" -> !(col("l_discount") >= 0 && col("l_discount") <= 0.1))
    val custChecks = Seq("customer_acctbal_nonneg" -> (col("c_acctbal") < 0))
    def rowFold(df: DataFrame, key: String, table: String, checks: Seq[(String, Column)]) =
      AuditOps.mergeRowAudits(halves(df, key).map(AuditOps.auditRows(_, table, checks)): _*)
    def countFold(df: DataFrame, key: String, keys: Seq[String]) =
      AuditOps.mergeKeyCounts(keys)(halves(df, key).map(AuditOps.keyCounts(_, keys)): _*)
    AuditOps.suite(
      rowFold(orders, "o_orderkey", "orders", orderChecks),
      rowFold(li, "l_orderkey", "lineitem", liChecks),
      rowFold(cust, "c_custkey", "customer", custChecks),
      AuditOps.auditUniqueFromCounts(
        countFold(orders, "o_orderkey", Seq("o_orderkey")), "orders", "orders_pk_unique"),
      AuditOps.auditUniqueFromCounts(
        countFold(li, "l_orderkey", Seq("l_orderkey", "l_linenumber")),
        "lineitem", "lineitem_pk_unique"),
      AuditOps.auditReferentialFromCounts(
        countFold(li, "l_orderkey", Seq("l_orderkey")), "lineitem",
        Seq("l_orderkey" -> "o_orderkey"), orders, "lineitem_orders_fk"),
      AuditOps.auditReferentialFromCounts(
        countFold(orders, "o_orderkey", Seq("o_custkey")), "orders",
        Seq("o_custkey" -> "c_custkey"), cust, "orders_customer_fk"))
  }

  /** B3 — string→double round-trip, timestamp→date, epoch seconds. */
  def qCoerceTypes(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).select(
      col("event_id"),
      col("value").cast("string").cast("double").as("price"),
      col("ts").cast("date").as("event_date"),
      unix_timestamp(col("ts")).as("ts_epoch_s"))

  /** B2 — rename/extract projection; absent source fields pass as nulls. */
  def qIndexProjection(spark: SparkSession, dir: String): DataFrame =
    Relational
      .renameProject(
        Tables.events(spark, dir),
        Seq("user_id" -> "symbol", "value" -> "price", "ts" -> "updated_at"))
      .withColumn("updated_at", col("updated_at").cast("timestamp_ntz"))
      .withColumn("price_high", lit(null).cast("double"))
      .withColumn("price_low", lit(null).cast("double"))

  /** B4+B5 — asset-type dispatch (unknown types skipped) + pair split. */
  def qAssetTypeDispatch(spark: SparkSession, dir: String): DataFrame = {
    val routed = Relational.dispatchAssetType(
      Tables.events(spark, dir).select(col("event_id"), col("event_type"), col("user_id")),
      "event_type",
      Seq("click" -> "stock_fetcher", "purchase" -> "crypto_fetcher", "view" -> "forex_fetcher"))
    val (fromLeg, toLeg) = Relational.splitPair(concat(col("event_type"), lit("/USD")))
    routed.withColumn("from_leg", fromLeg).withColumn("to_leg", toLeg)
  }

  /** B6 — JSON payload parse with shape guard. */
  def qPayloadParse(spark: SparkSession, dir: String): DataFrame =
    Relational
      .parsePayload(Tables.events(spark, dir), "props", "k INT")
      .filter(col("payload.k").isNotNull)
      .select(col("event_id"), col("payload.k").as("k"))

  // =========================================================================
  // Step-4 grouping / batching / completion (B13, B14, B17)
  // =========================================================================

  /** B13 — deterministic group→members bucketing (members packed to a
    * comma-joined string for the driver's scalar row-hash compare; the
    * relational array form is [[Batching.groupKeys]]).
    */
  def qGroupByAssetType(spark: SparkSession, dir: String): DataFrame =
    Batching
      .groupKeys(Tables.events(spark, dir), "event_type", "user_id")
      .withColumn("members", array_join(transform(col("members"), m => m.cast("string")), ","))

  /** B14 — fixed-size batch assignment per group (request-side only). */
  def qBatchAssignment(spark: SparkSession, dir: String): DataFrame =
    Batching
      .assignBatches(
        Tables.customer(spark, dir).select(col("c_custkey"), col("c_mktsegment")),
        Seq("c_mktsegment"), "c_custkey", 100)
      .select(col("c_custkey").as("symbol"), col("c_mktsegment").as("asset_type"), col("batch_id"))

  /** B17 — completion payload stats per group. */
  def qCompletionStats(spark: SparkSession, dir: String): DataFrame = {
    val batched = Batching.assignBatches(
      Tables.customer(spark, dir).select(col("c_custkey"), col("c_mktsegment")),
      Seq("c_mktsegment"), "c_custkey", 100)
    Batching
      .completionStats(batched, Seq("c_mktsegment"), "c_custkey")
      .select(
        col("c_mktsegment").as("asset_type"),
        col("record_count"), col("total_assets"), col("total_batches"), col("status"))
  }

  // =========================================================================
  // Analytics / ordering / event-time / set operators (engine completeness;
  // SURVEY.md §2.D rationale)
  // =========================================================================

  /** Top-100 line items by price under a total order (TakeOrdered, no global
    * sort).
    */
  def qTopK(spark: SparkSession, dir: String): DataFrame =
    Analytics
      .topK(
        Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice")),
        100,
        Seq(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber")))

  /** Tumbling 1-hour event-time windows per event_type (exact decimal sums —
    * order-independent, so a 1000-executor plan matches the oracle bitwise).
    */
  def qEventTimeWindow(spark: SparkSession, dir: String): DataFrame =
    Analytics.eventTimeWindow(
      Tables.events(spark, dir), "ts", Seq("event_type"), "value", "1 hour")

  /** As-of carry: each error event joined to the user's most recent prior
    * click value (composition form of an as-of join).
    */
  def qAsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "error"))
      .select(col("user_id"), col("event_type"), col("value"), col("ts"), col("event_id"))
    Analytics
      .asOfCarry(ev, Seq("user_id"), Seq("ts", "event_id"),
        col("event_type") === "click", "value", "last_click_value")
      .filter(col("event_type") === "error")
      .select(
        col("user_id").as("symbol"),
        col("ts").cast("timestamp_ntz").as("event_ts"),
        col("value").as("error_value"),
        col("last_click_value"))
  }

  /** Two-relation AS-OF join (trades⋈quotes shape): each purchase picks the
    * latest view value at-or-before its timestamp per user, via the linear
    * union+window form (Analytics.asofJoin — no point-in-time range
    * self-join). The right side is pre-reduced to one row per (user, ts)
    * (the as-of tie contract); the oracle is DuckDB's native ASOF LEFT
    * JOIN — an independent implementation of the same semantics.
    */
  def qAsofJoin2t(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("value"), col("ts"), col("event_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    val views = Merge.lastWins(
      ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id"), col("value")),
      Seq("user_id", "ts"), Seq(col("event_id")))
      .select(col("user_id"), col("ts"), col("value"))
    Analytics.asofJoin(purchases, views, Seq("user_id"), "ts", "value")
      .select(
        col("user_id").as("symbol"),
        col("ts").cast("timestamp_ntz").as("purchase_ts"),
        col("event_id"),
        col("value").as("purchase_value"),
        col("asof_value").as("last_view_value"))
  }

  /** Tolerance-bounded AS-OF join: as q_asof_join_2t but a view older than
    * one hour before the purchase is discarded (pandas merge_asof
    * `tolerance` semantics). Timestamps run as epoch-ms longs
    * (`unix_millis` / DuckDB `epoch_ms`) so the tolerance arithmetic is
    * integer-exact on both engines.
    */
  def qAsofJoinTol(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("value"),
        unix_millis(col("ts")).as("tsm"), col("event_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("tsm"), col("event_id"), col("value"))
    val views = Merge.lastWins(
      ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("tsm"), col("event_id"), col("value")),
      Seq("user_id", "tsm"), Seq(col("event_id")))
      .select(col("user_id"), col("tsm"), col("value"))
    Analytics.asofJoinWithin(purchases, views, Seq("user_id"), "tsm", "value",
      toleranceMs = 3600000L)
      .select(
        col("user_id").as("symbol"),
        col("tsm").as("purchase_ts_ms"),
        col("event_id"),
        col("value").as("purchase_value"),
        col("asof_value").as("last_view_value"))
  }

  /** Whale-key detection: keys holding > 0.3% of all event rows — the
    * skew probe that routes merges to the salted two-phase reduction.
    */
  def qHeavyHitters(spark: SparkSession, dir: String): DataFrame =
    Analytics
      .heavyHitters(
        Tables.events(spark, dir).select(col("user_id")), Seq("user_id"), minShare = 0.003)
      .select(col("user_id").as("symbol"), col("n"), col("share"))

  private val CmsDepth = 4
  private val CmsWidth = 512
  private val CmsMinShare = 0.008

  /** The CMS estimate→threshold tail shared by the one-shot and
    * incremental count-min queries: probe every candidate user against
    * the sketch, derive each type's grand total FROM the sketch itself
    * (one hash row's cells sum to N — no exact count anywhere), and keep
    * users whose estimated share clears the whale threshold. Everything
    * downstream of the cell counts, so a folded or streamed sketch
    * finalizes identically.
    */
  private def cmsHeavyTail(sketch: DataFrame, probes: DataFrame): DataFrame = {
    val est = Analytics.cmsEstimate(
      sketch, probes, Seq("event_type"), "user_id", CmsDepth, CmsWidth)
    val tot = sketch.filter(col("row_id") === 0)
      .groupBy(col("event_type")).agg(sum(col("n")).as("__t"))
    est.join(tot, Seq("event_type"))
      .filter(col("est_n") > col("__t") * lit(CmsMinShare))
      .select(col("event_type"), col("user_id").as("symbol"), col("est_n"))
  }

  /** Sketch-estimated whale keys: a count-min sketch (4 salted md5 hash
    * rows × 512 counters per event type) replaces the exact per-user
    * count — ≤ depth·width longs of state per type at ANY user
    * cardinality, est ≥ true with the collision mass bounded by 2N/512
    * per row. The deterministic-hash analog of q_heavy_hitters for the
    * regime where the distinct-key relation itself is too big to carry.
    */
  def qCmsHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("event_type"), col("user_id"))
    cmsHeavyTail(
      Analytics.cmsSketch(ev, Seq("event_type"), "user_id", CmsDepth, CmsWidth),
      ev)
  }

  /** Incremental maintenance of the count-min sketch: four disjoint
    * event-id batches contribute sparse cell counts, the cells fold
    * additively, the min-of-rows estimates derive AFTER the fold — must
    * reproduce q_cms_heavy_hitters bit-for-bit (shared oracle; the
    * histogram/KMV monoid discipline applied to frequency sketches).
    */
  def qCmsIncremental(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("user_id"), col("event_id"))
    val batches = (0 until 4).map(m => ev.filter(pmod(col("event_id"), lit(4)) === m))
    cmsHeavyTail(
      Analytics.cmsMerge(Seq("event_type"))(
        batches.map(b =>
          Analytics.cmsSketch(
            b.drop("event_id"), Seq("event_type"), "user_id", CmsDepth, CmsWidth)): _*),
      ev.drop("event_id"))
  }

  /** Distinct set algebra over per-type key sets:
    * (signup ∖ error) ∪ (purchase ∩ view).
    */
  def qSetOps(spark: SparkSession, dir: String): DataFrame = {
    def keysOf(t: String) = Tables.events(spark, dir)
      .filter(col("event_type") === t).select(col("user_id").as("symbol")).distinct()
    Analytics.setCombine(keysOf("signup"), keysOf("error"), keysOf("purchase"), keysOf("view"))
  }

  /** Rollup totals per event_type with grand total. */
  def qRollupStats(spark: SparkSession, dir: String): DataFrame =
    Analytics.rollupStats(Tables.events(spark, dir), "event_type", "value")

  /** A2 — completion payload JSON assembly (deterministic field order via
    * manual concat; integers only, so both engines render identically).
    */
  def qCompletionPayload(spark: SparkSession, dir: String): DataFrame = {
    val batched = Batching.assignBatches(
      Tables.customer(spark, dir).select(col("c_custkey"), col("c_mktsegment")),
      Seq("c_mktsegment"), "c_custkey", 100)
    Batching
      .completionStats(batched, Seq("c_mktsegment"), "c_custkey")
      .select(
        col("c_mktsegment").as("asset_type"),
        concat(
          lit("{\"asset_type\":\""), col("c_mktsegment"),
          lit("\",\"record_count\":"), col("record_count").cast("string"),
          lit(",\"total_batches\":"), col("total_batches").cast("string"),
          lit(",\"status\":\"complete\"}")).as("payload"))
  }

  /** Per-batch completion payloads (the reference's publish-inside-the-loop
    * contract, `fetch_historical_market_data.py:207-213`): customers batched
    * 100 per market segment; one row per batch with the batch's full sorted
    * symbol list, member count, and the total order-record count for its
    * members (customers with zero orders still listed, count 0 — exactly
    * the reference's `batch_symbols` + `record_count` pairing).
    */
  def qCompletionPerBatch(spark: SparkSession, dir: String): DataFrame = {
    val batched = Batching.assignBatches(
      Tables.customer(spark, dir).select(col("c_custkey"), col("c_mktsegment")),
      Seq("c_mktsegment"), "c_custkey", 100)
    val records = Tables.orders(spark, dir)
      .select(col("o_custkey").as("c_custkey"))
      .join(
        Tables.customer(spark, dir).select(col("c_custkey"), col("c_mktsegment")),
        Seq("c_custkey"))
    Batching
      .completionPerBatch(batched, records, Seq("c_mktsegment"), "c_custkey")
      .select(
        col("c_mktsegment").as("asset_type"),
        col("batch_id"),
        array_join(transform(col("symbols"), s => s.cast("string")), ",").as("symbols"),
        col("symbol_count"),
        col("record_count"),
        col("status"))
  }

  /** Multi-way star join: fact ⋈ orders ⋈ customer ⋈ nation with dimension
    * broadcast and exact decimal revenue — the plan-quality staple (Catalyst
    * reorders and broadcasts the dims; only the fact⋈orders equi-join
    * shuffles).
    */
  def qStarJoinRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, dir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        count(lit(1)).as("n_items"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,4)"))
          .cast("double").as("revenue"))

  /** Rolling-frame analytics: 7-row trailing sum and average of each user's
    * tick values (ordered frame window; sums through DECIMAL for
    * order-independent results).
    */
  def qRollingWindow(spark: SparkSession, dir: String): DataFrame = {
    val w = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-6, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("rolling_sum",
        sum(col("value").cast("decimal(18,2)")).over(w).cast("double"))
      .withColumn("rolling_n", count(lit(1)).over(w))
      .select(
        col("user_id").as("symbol"),
        col("ts").cast("timestamp_ntz").as("event_ts"),
        col("value").as("price"),
        col("rolling_sum"),
        col("rolling_n"))
  }

  /** Sessionization: break a user's event stream into sessions on >30-min
    * inactivity gaps — lag + cumulative-sum-of-breaks over one ordered
    * window (single shuffle on the user key; the standard event-analytics
    * building block).
    */
  /** Weekly cohort retention over the event stream: users bucketed by
    * first-event week, activity counted per (cohort, offset) with exact
    * integer period arithmetic ([[Analytics.cohortRetention]]).
    */
  def qCohortRetention(spark: SparkSession, dir: String): DataFrame =
    Analytics.cohortRetention(Tables.events(spark, dir), "user_id", "ts", periodDays = 7)

  /** First-order Markov transition matrix over per-user event sequences,
    * probabilities in BIGINT millionths ([[Analytics.transitionMatrix]]).
    */
  def qEventTransitions(spark: SparkSession, dir: String): DataFrame =
    Analytics.transitionMatrix(
      Tables.events(spark, dir), "user_id", "ts", "event_id", "event_type")

  /** Sequence-model training examples from the event log: per user, each
    * position with a complete 3-event history emits (space-joined
    * context, next-event label) — the dataset-construction step of a
    * next-event model ([[graft.ops.Analytics.sequenceExamples]]); one
    * user-partitioned window, order pinned (ts, event_id).
    */
  def qSequenceExamples(spark: SparkSession, dir: String): DataFrame =
    Analytics.sequenceExamples(
      Tables.events(spark, dir), "user_id", "ts", "event_id", "event_type", k = 3)

  /** Running-peak drawdown over the monthly close series — cumulative max
    * selects an input double, so the whole metric is engine-exact with no
    * quantization needed.
    */
  def qDrawdown(spark: SparkSession, dir: String): DataFrame =
    Analytics.drawdown(qMonthlyLastClose(spark, dir), "symbol", "date", "price")

  /** Per-document trigram novelty (first-corpus-occurrence attribution) —
    * the curation signal for "recombined from earlier material".
    */
  def qNgramNovelty(spark: SparkSession, dir: String): DataFrame =
    DedupOps.ngramNovelty(Tables.documents(spark, dir), "doc_id", "text", n = 3)

  /** Per-part VWAP over lineitem — [[Analytics.weightedMean]] in fixed
    * point: order-free integer sums of millionth-quantized value·weight
    * products, one hash aggregation over the engine's biggest table.
    */
  def qVwap(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir).select(
      col("l_partkey"),
      (col("l_extendedprice") / col("l_quantity")).as("unit_price"),
      col("l_quantity"))
    Analytics.weightedMean(l, Seq("l_partkey"), "unit_price", "l_quantity")
  }

  /** Consecutive-duplicate debounce on the event stream (at-least-once
    * feed cleaner): A→A→B collapses to A→B per user, alternations
    * survive, run_seq indexes the runs.
    */
  def qDebounce(spark: SparkSession, dir: String): DataFrame =
    Merge.debounceConsecutive(
      Tables.events(spark, dir).select(col("user_id"), col("ts"), col("event_id"), col("event_type")),
      Seq("user_id"), Seq(col("ts"), col("event_id")), Seq("event_type"))
      .select(
        col("user_id"),
        col("ts").cast("timestamp_ntz").as("event_ts"),
        col("event_id"), col("event_type"), col("run_seq"))

  /** Per-symbol OLS beta/correlation vs the equal-weighted market return
    * over the monthly close series — five integer moment sums in
    * basis-point fixed point, engine-exact ratios at the end.
    */
  def qMarketBeta(spark: SparkSession, dir: String): DataFrame =
    Analytics.marketBeta(qMonthlyLastClose(spark, dir), "symbol", "date", "price")

  /** Deterministic KMV distinct-user estimate per event type — the
    * oracle-checkable sketch complement of the rows-only HLL queries:
    * sketch rows AND estimates hash-match the DuckDB oracle.
    */
  def qKmvUsers(spark: SparkSession, dir: String): DataFrame = {
    val s = Analytics.kmvSketch(
      Tables.events(spark, dir).select(col("event_type"), col("user_id")),
      Seq("event_type"), "user_id", k = 64)
    Analytics.kmvEstimate(s, Seq("event_type"), k = 64)
  }

  /** Incremental KMV maintenance: per-half sketches folded with
    * [[Analytics.kmvMerge]] must estimate identically to the from-scratch
    * sketch — shared oracle (min-k-of-union losslessness).
    */
  def qKmvIncremental(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("event_type"), col("user_id"), col("event_id"))
    def half(m: Int) = Analytics.kmvSketch(
      ev.filter(col("event_id") % 2 === m), Seq("event_type"), "user_id", k = 64)
    Analytics.kmvEstimate(
      Analytics.kmvMerge(64, half(0), half(1)), Seq("event_type"), k = 64)
  }

  /** 12-month Bollinger bands over the monthly close series — integer
    * rolling moments at cent precision, breach flags vs the raw price.
    */
  def qBollinger(spark: SparkSession, dir: String): DataFrame =
    Analytics.bollingerBands(qMonthlyLastClose(spark, dir), "symbol", "date", "price")

  /** Monthly OHLC bars per symbol — first/last by the (date, orderkey)
    * total order via one struct-ordered hash aggregate, no window.
    */
  def qOhlcBars(spark: SparkSession, dir: String): DataFrame =
    Analytics.ohlcBars(
      Tables.orders(spark, dir).select(
        col("o_custkey").as("symbol"),
        to_date(date_trunc("month", col("o_orderdate"))).as("month"),
        col("o_orderdate"), col("o_orderkey"), col("o_totalprice")),
      Seq("symbol", "month"), "o_orderdate", "o_orderkey", "o_totalprice")

  /** Rolling 20-event z-score anomalies per user — integer rolling
    * moments, engine-exact scores, |z| > 3 flags.
    */
  def qRollingZscore(spark: SparkSession, dir: String): DataFrame =
    Analytics.rollingZscore(
      Tables.events(spark, dir)
        .select(col("user_id"), col("ts").cast("timestamp_ntz").as("event_ts"),
          col("event_id"), col("value")),
      Seq("user_id"), "event_ts", "event_id", "value", window = 20, threshold = 3.0)

  /** Per-event-type equi-width value histogram (20 data-driven bins) —
    * the distribution-observability scan before clamp/outlier decisions.
    */
  def qValueHistogram(spark: SparkSession, dir: String): DataFrame =
    Analytics.histogram(
      Tables.events(spark, dir).select(col("event_type"), col("value")),
      Seq("event_type"), "value", nBins = 20)

  /** Two-sided CUSUM on basis-point monthly returns per symbol (slack 0,
    * alarm at ±5000 bp cumulative drift) — the Page-style drift detector
    * for shifts no single-month outlier flag catches; integer recurrence,
    * recursive-CTE oracle.
    */
  def qCusum(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("symbol")).orderBy(col("date"))
    val rets = qMonthlyLastClose(spark, dir)
      .withColumn("__prev", lag(col("price"), 1).over(w))
      .filter(col("__prev").isNotNull && col("__prev") =!= 0)
      .select(col("symbol"), col("date"),
        round((col("price") - col("__prev")) / col("__prev") * lit(10000.0))
          .cast("long").as("ret_fp"))
    Analytics.cusumFixedPoint(rets, "symbol", "date", "ret_fp", slackFp = 0L, thresholdFp = 5000L)
  }

  /** Winsorized robust stats per event type — rank-exact quantile clamps
    * (order statistics, not interpolation, so the bounds are input
    * doubles) and a fixed-point winsorized mean.
    */
  def qWinsorize(spark: SparkSession, dir: String): DataFrame =
    Analytics.winsorizedStats(
      Tables.events(spark, dir).select(col("event_type"), col("value"), col("event_id")),
      Seq("event_type"), "value", "event_id")

  /** Quota sample: exactly 200 documents drawn per the τ=0.5 mixture —
    * the allocation composed with deterministic md5-order selection per
    * source ([[SamplingOps.quotaSample]]).
    */
  def qQuotaSample(spark: SparkSession, dir: String): DataFrame =
    SamplingOps.quotaSample(Tables.documents(spark, dir), "doc_id", "source", slots = 200L)

  /** Temperature-flattened (τ=0.5) mixture allocation of 100k training
    * slots across sources — exact integer Hamilton apportionment
    * ([[SamplingOps.temperatureAllocation]]); Σalloc == slots bit-exactly.
    */
  def qTemperatureMix(spark: SparkSession, dir: String): DataFrame =
    SamplingOps.temperatureAllocation(Tables.documents(spark, dir), "source", slots = 100000L)

  def qSessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapS = unix_timestamp(col("ts")) - unix_timestamp(lag(col("ts"), 1).over(byUser))
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("is_new", when(gapS.isNull || gapS > 1800, lit(1L)).otherwise(lit(0L)))
      .withColumn("session_seq",
        sum(col("is_new")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(
        col("user_id").as("symbol"),
        col("ts").cast("timestamp_ntz").as("event_ts"),
        col("event_type"),
        col("session_seq"))
  }

  /** CUBE over (event_type, event_date): all four grouping sets in one
    * hash aggregate, with grouping indicators.
    */
  def qCubeStats(spark: SparkSession, dir: String): DataFrame =
    Analytics.cubeStats(
      Tables.events(spark, dir)
        .select(col("event_type"), col("ts").cast("date").as("event_date"), col("value")),
      "event_type", "event_date", "value")

  /** Incremental rollup maintenance: per-customer order stats as a merge of
    * two partial aggregates (history < 1997-01-01, delta ≥) — the count/sum
    * monoid merge that updates a stored rollup from a new partition without
    * rescanning history. The oracle is the full-scan aggregate, proving the
    * split-merge is exact.
    */
  def qIncrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val cut = lit("1997-01-01").cast("timestamp_ntz")
    val prev = Analytics.partialAgg(
      orders.filter(col("o_orderdate") < cut), Seq("o_custkey"), "o_totalprice")
    val delta = Analytics.partialAgg(
      orders.filter(col("o_orderdate") >= cut), Seq("o_custkey"), "o_totalprice")
    Analytics.mergePartialAggs(Seq(prev, delta), Seq("o_custkey"))
      .select(
        col("o_custkey"),
        col("n").as("n_orders"),
        col("__total").cast("double").as("total_price"))
  }

  /** Z-order (Morton) layout values over (customer, order-day) — the
    * two-dimensional clustering key that gives files tight min/max
    * envelopes on BOTH columns; ztile is the 4096-wide curve tile a writer
    * would partition by. Pure integer bit arithmetic, oracle-checked.
    */
  def qZorderLayout(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val zx = pmod(col("o_custkey"), lit(65536L))
    val zy = pmod(
      datediff(col("o_orderdate").cast("date"), lit("1992-01-01").cast("date")).cast("long"),
      lit(65536L))
    val z = Layout.zvalue(col("zx"), col("zy"))
    o.select(col("o_orderkey"), zx.as("zx"), zy.as("zy"))
      .withColumn("zval", z)
      .withColumn("ztile", shiftright(col("zval"), 20))
  }

  /** Pivot: per-user value totals spread across the five event types (fixed
    * value list, so the plan is a single aggregate — no distinct-scan).
    */
  def qPivotValues(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id").as("symbol"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double"))

  /** Unpivot (melt): lineitem measures to long form — the inverse reshape,
    * a generator projection (no shuffle at all).
    */
  def qUnpivotMeasures(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"))
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        "measure", "val")

  /** Native session-window aggregate (session_window merges events closer
    * than 30 min per user; one shuffle on the key). Oracle reproduces the
    * merge with the lag/cumsum construction at full µs precision.
    */
  def qSessionWindowAgg(spark: SparkSession, dir: String): DataFrame =
    Analytics
      .sessionWindowAgg(
        Tables.events(spark, dir).select(col("user_id"), col("ts"), col("value")),
        "ts", Seq("user_id"), "value", "30 minutes")
      .select(
        col("user_id").as("symbol"), col("session_start"),
        col("n_events"), col("total_value"))

  /** Exact per-type value quantiles (interpolated medians/p95). */
  def qValueQuantiles(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.95)").as("p95"),
        count(lit(1)).as("n"))

  /** Sketch geometry of the histogram-quantile pair — pinned once so the
    * from-scratch and incremental forms (and their shared oracle) can
    * never disagree on bounds/bins: cents in [0, 50000) (covers the
    * corpus's 1¢..49,002¢ range), 50 bins, p50/p90/p99.
    */
  private val HqLo = 0L
  private val HqHi = 50000L
  private val HqBins = 50
  private val HqPermille = Seq(500, 900, 990)

  /** MERGEABLE histogram-sketch quantiles (p50/p90/p99 per event type):
    * values quantize to integer cents, one fixed-bounds histogram
    * aggregate, estimates from the bin-bounded cumulative window — the
    * quantile path that survives 100 TB (exact per-key percentiles sort
    * every value; the sketch is one hash aggregate with 50 longs of state
    * per key, error ≤ one bin = 1000¢). Engine-exact integer arithmetic
    * throughout, so the sketch replays in the oracle bit-for-bit —
    * q_value_quantiles remains the small-scale exact form.
    */
  def qHistQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), round(col("value") * 100).cast("long").as("c"))
    Analytics.quantilesFromCounts(
      Analytics.histogramFixed(ev, Seq("event_type"), "c", HqLo, HqHi, HqBins),
      Seq("event_type"), HqPermille, HqLo, HqHi, HqBins)
  }

  /** Per-source QUALITY-DISTRIBUTION drift (the per-domain data-quality
    * monitor): each source's quality-score histogram vs the corpus-wide
    * reference as Laplace-smoothed KL contributions per (source, bin) —
    * micro-nat fixed point over the shared 20-bin [0, 1e6) geometry, so a
    * source whose quality profile diverges from the corpus reads as a
    * large positive Σcontrib. Quality doubles are the SAME mirrored
    * expression q_quality_score hash-matches, quantized once to
    * millionths; NULL quality (empty text) drops like every count.
    */
  def qQualityDrift(spark: SparkSession, dir: String): DataFrame =
    Analytics.histogramDriftByGroup(
      qualityFpBySource(spark, dir), "source", "q_fp", QdLo, QdHi, QdBins)

  /** The quality-drift input relation: per document, its source and the
    * q_quality_score expression quantized once to millionths — shared by
    * the one-shot and incremental drift forms so both bin the SAME
    * fixed-point value under the SAME 20-bin geometry.
    */
  private def qualityFpBySource(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(col("doc_id"), col("source"),
      round(TextOps.qualityExpr(col("text")) * lit(1.0e6)).cast("long").as("q_fp"))

  private val QdLo = 0L
  private val QdHi = 1000000L
  private val QdBins = 20

  /** Incremental maintenance of the drift monitor: four disjoint doc-id
    * batches contribute per-(source, bin) histogram counts, the counts
    * fold, the KL contributions derive AFTER the fold — must reproduce
    * q_quality_drift bit-for-bit (shared oracle; the histogram-monoid
    * losslessness discipline applied to drift). The pmod split is total
    * by the PropertiesSpec convention: pmod covers negative keys,
    * coalesce routes a NULL key to batch 0.
    */
  def qQualityDriftIncremental(spark: SparkSession, dir: String): DataFrame = {
    // cached: the four batch branches otherwise EACH re-scan the corpus
    // and re-evaluate the regex-heavy quality expression — 4× the one-shot
    // query's scan cost, and the cold-barrier profile behind this query's
    // chronic first-touch bench flags (r8 1.55×, r9 1.55× driver windows)
    val docs = qualityFpBySource(spark, dir).scopedCache()
    val batches = (0 until 4).map(m =>
      docs.filter(coalesce(pmod(col("doc_id"), lit(4)), lit(0)) === m))
    Analytics.driftFromCounts(
      Analytics.mergeHistogramCounts(Seq("source"))(
        batches.map(b =>
          Analytics.histogramFixed(b, Seq("source"), "q_fp", QdLo, QdHi, QdBins)): _*),
      "source", QdBins)
  }

  /** Incremental maintenance of the quantile sketch: four disjoint
    * event-id batches contribute histogram counts, the counts fold, the
    * estimates derive AFTER the fold — must reproduce q_hist_quantiles
    * bit-for-bit (shared oracle, the histogram-monoid losslessness
    * proof, the audit/classifier/BM25 fold discipline applied to
    * quantiles).
    */
  def qHistQuantilesIncremental(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"),
        round(col("value") * 100).cast("long").as("c"))
    val batches = (0 until 4).map(m => ev.filter(pmod(col("event_id"), lit(4)) === m))
    Analytics.quantilesFromCounts(
      Analytics.mergeHistogramCounts(Seq("event_type"))(
        batches.map(b =>
          Analytics.histogramFixed(b, Seq("event_type"), "c", HqLo, HqHi, HqBins)): _*),
      Seq("event_type"), HqPermille, HqLo, HqHi, HqBins)
  }

  /** Batch form of the stream-stream interval join (same function, no
    * watermark effect): purchases attributed to clicks of the same user
    * within 1 hour.
    */
  def qIntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val clicks = ev.filter(col("event_type") === "click").drop("event_type")
    val purchases = ev.filter(col("event_type") === "purchase").drop("event_type")
    graft.streaming.Streaming.intervalJoin(clicks, purchases, "user_id", "ts", "1 hour")
      .select(
        col("l_event_id").as("click_id"),
        col("r_event_id").as("purchase_id"),
        col("l_ts").cast("timestamp_ntz").as("click_ts"),
        col("r_ts").cast("timestamp_ntz").as("purchase_ts"))
  }

  /** Funnel conversion: per user, the first view and the first purchase
    * strictly after it — one conditional aggregation pass (no self-join,
    * no per-step scans), then a single funnel-stage rollup row.
    */
  def qFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val perUser = ev.groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "view", col("ts"))).as("first_view"),
        min(when(col("event_type") === "purchase", col("ts"))).as("first_purchase"))
    perUser.agg(
      count(lit(1)).as("n_users"),
      count(col("first_view")).as("n_viewed"),
      count(when(col("first_purchase") > col("first_view"), lit(1))).as("n_converted"))
  }

  /** Percentile-threshold outlier flags: each event against its type's
    * exact p99 — the stats relation is |types|-sized and broadcast back, so
    * flagging is a codegen'd filter over one corpus scan (the same
    * tiny-stats-join-back shape as the domain rebalance).
    */
  def qOutlierFlags(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"))
    val stats = ev.groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.99)").as("p99"))
    ev.join(broadcast(stats), Seq("event_type"))
      .select(
        col("event_id"), col("event_type"), col("value"), col("p99"),
        (col("value") > col("p99")).as("is_outlier"))
  }

  /** Range join: facts banded into broadcast value ranges (the engine's
    * theta-join form — broadcast nested-loop against a tiny bands dim, then
    * hash-aggregate; never a shuffle of facts on a range key).
    */
  def qRangeBand(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bands = Seq(
      (1L, 0.0, 10.0), (2L, 10.0, 20.0), (3L, 20.0, 30.0),
      (4L, 30.0, 40.0), (5L, 40.0, 60.0)
    ).toDF("band_id", "lo", "hi")
    Tables.lineitem(spark, dir)
      .join(broadcast(bands), col("l_quantity") >= col("lo") && col("l_quantity") < col("hi"))
      .groupBy(col("band_id"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("total_price"))
  }

  /** Range join at REAL band cardinality (1000 bands) through the custom
    * RangeLookupJoin operator (graft.plans): broadcast bands sorted by lo,
    * binary-search probe per fact row — O(log bands) where the built-in
    * BroadcastNestedLoopJoin is O(bands) per row. Same semantics
    * (v ≥ lo AND v < hi), oracle-checked.
    */
  def qRangeBandFast(spark: SparkSession, dir: String): DataFrame = {
    val bands = spark.range(1000).select(
      col("id").as("band_id"),
      (lit(900.0) + col("id").cast("double") * 105.0).as("lo"),
      (lit(1005.0) + col("id").cast("double") * 105.0).as("hi"))
    val facts = Tables.lineitem(spark, dir)
      .select(col("l_extendedprice").cast("double").as("price"))
    plans.Plans
      .rangeLookup(facts, bands, "price", "lo", "hi")
      .groupBy(col("band_id"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("price").cast("decimal(18,2)")).cast("double").as("total_price"))
  }

  /** HLL distinct-user counts per event_type — the FIXED-POINT HLL
    * ([[graft.ops.Analytics.hllRegisters]]): md5 hex-fold hash, long-form
    * registers, integer-exact dyadic harmonic sum. Fully DuckDB-oracled
    * (register file AND estimate replay bit-for-bit — rounds 3–9 carried
    * this rows-only because approx_count_distinct's xxhash register file
    * is invisible to any other engine; the fp form closes that).
    * ScalaTest still bounds the estimate against exact distinct.
    */
  def qApproxUsers(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    Analytics.hllEstimate(
      Analytics.hllRegisters(ev, Seq("event_type"), "user_id"),
      Seq("event_type"))
      .withColumnRenamed("approx_distinct", "approx_users")
      .join(ev.groupBy(col("event_type")).agg(count(lit(1)).as("n_events")),
        Seq("event_type"))
  }

  /** Incremental distinct maintenance: per-(type, day) fixed-point HLL
    * register partials merged up to per-type estimates — the max-monoid
    * analog of q_incremental_agg. The oracle computes the registers in ONE
    * pass; equality proves merge-of-partials is lossless (max is
    * associative), the same shared-oracle discipline as q_kmv_incremental.
    */
  def qHllIncremental(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("user_id"), col("ts").cast("date").as("d"))
    Analytics.hllEstimate(
      Analytics.hllMerge(
        Analytics.hllRegisters(ev, Seq("event_type", "d"), "user_id"),
        Seq("event_type")),
      Seq("event_type"))
  }

  /** B16 — coverage map: per symbol the sorted set of stored months (the
    * relational form of the reference's `{symbol: set(dates)}` fold). The
    * month set is emitted packed as a comma-joined string — the driver's
    * row-hash compare needs scalar cells, and the packed form is also what
    * the reference serializes into its completion payloads.
    */
  def qCoverageMap(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_custkey").as("symbol"), to_date(date_trunc("month", col("o_orderdate"))).as("month"))
      .groupBy(col("symbol"))
      .agg(
        array_join(
          transform(sort_array(collect_set(col("month"))), d => date_format(d, "yyyy-MM-dd")),
          ",").as("months"),
        countDistinct(col("month")).as("n_months"))

  /** Month-over-month percent change on the monthly last-close series (the
    * stored-vs-new delta the reference derives from its API responses).
    */
  def qMonthlyPctChange(spark: SparkSession, dir: String): DataFrame = {
    val monthly = qMonthlyLastClose(spark, dir)
    val w = Window.partitionBy(col("symbol")).orderBy(col("date"))
    monthly
      .withColumn("prev_price", lag(col("price"), 1).over(w))
      .withColumn("pct_change",
        when(col("prev_price") =!= 0, (col("price") - col("prev_price")) / col("prev_price") * lit(100)))
      .select(col("symbol"), col("date"), col("price"), col("pct_change"))
  }

  /** Corpus dedup-rate metrics (pipeline observability for dedup stages). */
  def qDedupRate(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_distinct"),
        countDistinct(md5(TextOps.normalize(col("text")))).as("n_distinct_norm"))
      .withColumn(
        "dup_ratio",
        when(col("n_docs") > 0,
          lit(1.0) - col("n_distinct").cast("double") / col("n_docs").cast("double")))

  /** Embedding-corpus statistics: dimension bounds and exact total L2 norm
    * (decimal-summed — order-independent across any partitioning).
    */
  def qEmbeddingStats(spark: SparkSession, dir: String): DataFrame = {
    val prepared = SimilarityOps.prepared(Tables.embeddings(spark, dir), "vec_id", "embedding")
    prepared
      .agg(
        count(lit(1)).as("n_vectors"),
        min(size(col("v"))).cast("long").as("min_dim"),
        max(size(col("v"))).cast("long").as("max_dim"),
        sum(col("nrm").cast("decimal(18,6)")).cast("double").as("total_norm"))
  }

  // =========================================================================
  // North-star extensions (BASELINE.json): text analysis, dedup, similarity
  // =========================================================================

  /** Per-document token/char statistics. */
  def qTextStats(spark: SparkSession, dir: String): DataFrame =
    TextOps.textStats(Tables.documents(spark, dir), "doc_id", "text")

  /** Whitespace + BPE-ish token counting. */
  def qTokenCount(spark: SparkSession, dir: String): DataFrame =
    TextOps.tokenCount(Tables.documents(spark, dir), "doc_id", "text")

  /** Stopword-marker language ID vs the labeled lang column. */
  def qLangId(spark: SparkSession, dir: String): DataFrame =
    TextOps
      .langId(Tables.documents(spark, dir), "text")
      .select(col("doc_id"), col("pred_lang"), (col("pred_lang") === col("lang")).as("is_match"))

  /** Composite quality score (length/punct/stopword heuristics). */
  def qQualityScore(spark: SparkSession, dir: String): DataFrame =
    TextOps.qualityScore(Tables.documents(spark, dir), "doc_id", "text")

  /** Normalized-content fingerprint. */
  def qDocFingerprint(spark: SparkSession, dir: String): DataFrame =
    TextOps.fingerprint(Tables.documents(spark, dir), "doc_id", "text")

  /** Character-entropy junk signal: per-document char-unigram Shannon
    * entropy in micro-nat fixed point, flagged below the 2.5-nat policy
    * threshold — the compression-proxy quality gate, fully in-row.
    */
  def qCharEntropy(spark: SparkSession, dir: String): DataFrame =
    TextOps.charEntropy(Tables.documents(spark, dir), "doc_id", "text")

  /** Label of the trained classifier queries: the heuristic
    * [[graft.ops.TextOps.qualityScore]] composite ≥ 0.5 — the "distill a
    * hand rule into a learned filter" loop (the rule's unsaturated terms
    * aren't linear in the classifier's saturated feature space, so the fit
    * is a genuine approximation: 0.944 train / 0.928 held-out measured at
    * sf0.01). NULL quality (empty text) labels negative in both engines
    * (when().otherwise ≡ CASE ELSE).
    */
  private def qualityLabel: Column = TextOps.qualityExpr(col("text")) >= 0.5

  /** TRAINED quality classifier: Rocchio centroid-midpoint fit over the
    * fixed-point feature relation, engine-exact integer arithmetic
    * throughout — the oracle replays the class means, weight differences
    * and folded midpoint threshold as CTEs. Output: the learned (j, w_fp)
    * weights.
    */
  def qClassifierTrain(spark: SparkSession, dir: String): DataFrame =
    ClassifierOps.centroidTrain(
      ClassifierOps.features(Tables.documents(spark, dir), "doc_id", "text", qualityLabel),
      "doc_id")

  /** The sample-train / full-score classifier split (the kmeansAssign
    * discipline): weights trained on the even-id half, every document
    * scored against the broadcast model — one scan, no iteration over the
    * scored corpus.
    */
  def qClassifierFilter(spark: SparkSession, dir: String): DataFrame = {
    val feats = ClassifierOps.features(
      Tables.documents(spark, dir), "doc_id", "text", qualityLabel)
    val w = ClassifierOps.centroidTrain(feats.filter(col("doc_id") % 2 === 0), "doc_id")
    ClassifierOps.score(feats, "doc_id", w)
  }

  /** The LABEL-FREE deployment leg of the classifier split: even-half
    * trained weights applied through [[graft.ops.ClassifierOps.scoreWith]]
    * to the unlabeled `(doc_id, x)` feature projection — no label column
    * exists anywhere in the scored relation, the shape new data actually
    * arrives in. Output (doc_id, score_fp, pred); q_classifier_filter
    * remains the labeled EVAL leg of the same split.
    */
  def qClassifierApply(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val w = ClassifierOps.centroidTrain(
      ClassifierOps.features(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
        qualityLabel),
      "doc_id")
    ClassifierOps.scoreWith(
      ClassifierOps.featuresUnlabeled(docs, "doc_id", "text"), "doc_id", w)
  }

  /** Isotonic (PAV) calibration of the trained classifier's scores into
    * monotone empirical positive rates — the step that turns a raw margin
    * into a keep-probability a curation pipeline can threshold honestly.
    * Fixed 20-bin score geometry over [−2·10¹¹, 2·10¹¹) (clamped — the
    * histogram-sketch discipline; the sf0.01 scores span ±1.9·10¹¹), the
    * minimax closed form computed relationally over the bounded
    * histogram, everything integer after the binned scan.
    */
  def qCalibrateScores(spark: SparkSession, dir: String): DataFrame =
    ClassifierOps.calibrateIsotonic(
      qClassifierFilter(spark, dir), "score_fp", "is_pos",
      lo = -200000000000L, hi = 200000000000L, nBins = 20)

  /** kNN label-noise screen over the labeled embedding corpus: each
    * vector's 5 exact nearest neighbors vote, a strict majority of
    * differently-labeled neighbors flags a suspect label
    * ([[graft.ops.SimilarityOps.labelNoise]]). The vote consumes ANY
    * candidate relation — at scale the IVF/PQ searches replace the brute
    * leg; the vote itself is n·k-sized.
    */
  def qLabelNoise(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.labelNoise(
      Tables.embeddings(spark, dir), "vec_id", "embedding", "label", k = 5)

  /** Quality TIER of the multiclass classifier queries — the heuristic
    * quality bucketed at 0.45/0.55 (balanced 155/140/205 at sf0.01); NULL
    * quality falls to the top tier in both engines (CASE ELSE).
    */
  private def qualityTier: Column = {
    val q = TextOps.qualityExpr(col("text"))
    when(q < 0.45, lit(0L)).when(q < 0.55, lit(1L)).otherwise(lit(2L))
  }

  /** Multiclass nearest-centroid: per-tier centroids trained on the
    * even-id half, every document assigned to its nearest tier centroid
    * (native integer L2 argmin, ties to the lowest tier) — the k-classes
    * generalization of the binary classifier split.
    */
  def qNearestCentroid(spark: SparkSession, dir: String): DataFrame = {
    val feats = ClassifierOps.featuresLabeled(
      Tables.documents(spark, dir), "doc_id", "text", qualityTier)
    val model = ClassifierOps.nearestCentroidTrain(feats.filter(col("doc_id") % 2 === 0))
    // the true tier rides the argmin via `carry` — no corpus join-back,
    // no third derivation of the regex feature projection
    ClassifierOps.nearestCentroidAssign(feats, "doc_id", model, carry = Seq("label"))
      .select(col("doc_id"), col("pred_label"), col("dist_fp"), col("label").as("tier"),
        (col("pred_label") === col("label")).as("correct"))
  }

  /** Incremental classifier maintenance: per-(class, dim) sufficient
    * statistics folded from quarter-stride batches, means taken after the
    * fold — must reproduce q_classifier_train bit-for-bit (shared oracle,
    * the mergeCentroidStats losslessness proof).
    */
  def qClassifierIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    def stats(m: Int) = ClassifierOps.centroidStats(
      ClassifierOps.features(docs.filter(col("doc_id") % 4 === m), "doc_id", "text", qualityLabel))
    ClassifierOps.centroidFromStats(
      ClassifierOps.mergeCentroidStats(stats(0), stats(1), stats(2), stats(3)))
  }

  /** Top-3 distinctive terms per document (TF-IDF-style integer-safe
    * ranking: tf DESC, document-frequency ASC, term ASC).
    */
  def qTfidfTopTerms(spark: SparkSession, dir: String): DataFrame =
    TextOps.tfidfTopTerms(Tables.documents(spark, dir), "doc_id", "text", k = 3)

  /** Topic labels for the k-means cells: c-TF-IDF top-5 terms per cluster
    * ([[TextOps.clusterKeywords]] over the [[qKmeans]] assignment, vec_id
    * ≡ doc_id in the synthetic corpus) — the "what is this cluster about"
    * report a curation pipeline attaches to its semantic partitions.
    */
  def qClusterKeywords(spark: SparkSession, dir: String): DataFrame = {
    val assign = SimilarityOps.kmeansFixedPoint(
      Tables.embeddings(spark, dir), "vec_id", "embedding", k = 8, iters = 2)
      .select(col("vec_id").as("doc_id"), col("cid"))
    TextOps.clusterKeywords(
      Tables.documents(spark, dir), assign, "doc_id", "text", "cid", k = 5)
  }

  /** Corpus top-100 bigram collocations (deterministic total order at the
    * LIMIT boundary).
    */
  def qBigramCounts(spark: SparkSession, dir: String): DataFrame =
    TextOps.bigramCounts(Tables.documents(spark, dir), "text", k = 100)

  /** PII scrub over the corpus with deterministic synthetic PII injected
    * into every 7th document (the raw corpus is clean, so the injection
    * makes the redaction path actually fire and be oracle-checked).
    */
  def qPiiScrub(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(
      col("doc_id"),
      when(col("doc_id") % 7 === 0,
        concat(col("text"), lit(" contact: user"), col("doc_id"),
          lit("@example.com or 555-123-4567")))
        .otherwise(col("text")).as("text"))
    TextOps.piiScrub(docs, "doc_id", "text")
  }

  /** HTML boilerplate extraction over the corpus, GROUND-TRUTH-oracled:
    * every document is wrapped in a deterministic full-page template —
    * head with title/style/script (the script body contains raw `<`, `>`
    * and `&&` — exactly the bytes that corrupt a naive tag-stripper),
    * nav and footer link blocks, an `<h1>` and the entity-escaped body —
    * and [[TextOps.htmlExtract]] must recover EXACTLY `"Doc {id} {text}"`
    * (whitespace-normalized) with all three anchors counted. The oracle
    * computes the expected text straight from the `documents` table: the
    * extractor is checked against ground truth, not replayed — an
    * extractor that leaks script bytes, keeps nav/footer chrome, drops
    * body text or double-decodes entities (`&amp;amp;` must land as the
    * literal `&amp;`) cannot pass.
    */
  def qHtmlExtract(spark: SparkSession, dir: String): DataFrame = {
    val esc = (c: Column) => regexp_replace(regexp_replace(regexp_replace(
      c, "&", "&amp;"), "<", "&lt;"), ">", "&gt;")
    val page = concat(
      lit("<html><head><title>Doc "), col("doc_id"),
      lit("</title><style>p{margin:0}</style>" +
        "<script>if(1<2&&2>1){var x=\"<p>\";}</script></head><body>" +
        "<nav><a href=\"/\">Home</a> <a href=\"/about\">About</a></nav><h1>Doc "),
      col("doc_id"),
      lit("</h1><p>"), esc(col("text")),
      lit("</p><footer><a href=\"/tos\">Terms</a> &copy; Example &amp; Co." +
        "</footer></body></html>"))
    TextOps.htmlExtract(
      Tables.documents(spark, dir).select(col("doc_id"), page.as("html")),
      "doc_id", "html")
  }

  /** C4 gate over a modulus-planted corpus (the qGopherRules discipline —
    * the base corpus is single-line unpunctuated word soup, so every rule
    * needs planted structure to fire both ways): %7 plants three real
    * sentences (line survival + the 3-sentence page minimum), %11 a
    * javascript boilerplate line (line-dropped, sentence count unchanged),
    * %13 a short terminal-punctuated line (word-count drop), %17 a
    * trailing "lorem ipsum" (page drop; it also de-terminates the host
    * line when %7 co-fires — deterministic, oracle replays the concat
    * order), %19 a brace snippet (page drop), %23 a full bad-word
    * sentence that SURVIVES the line filter while killing the page —
    * line-keep and page-drop are independent axes.
    */
  def qC4Rules(spark: SparkSession, dir: String): DataFrame = {
    val planted = Tables.documents(spark, dir).withColumn("text",
      concat(col("text"),
        when(col("doc_id") % 7 === 0,
          lit("\nThe quick brown fox jumps over the lazy dog today." +
            "\nIt was a bright cold day in April and the clocks were striking one." +
            "\nWhere is the small key that opens the heavy door now?"))
          .otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          lit("\nPlease enable javascript to view this page properly today."))
          .otherwise(lit("")),
        when(col("doc_id") % 13 === 0, lit("\nShort line here.")).otherwise(lit("")),
        when(col("doc_id") % 17 === 0, lit(" lorem ipsum dolor")).otherwise(lit("")),
        when(col("doc_id") % 19 === 0, lit(" if (x) { return; }")).otherwise(lit("")),
        when(col("doc_id") % 23 === 0,
          lit("\nThis testpage contains craptastic material for screening purposes."))
          .otherwise(lit(""))))
    TextOps.c4Rules(planted, "doc_id", "text", badWords = Seq("craptastic", "obscenex"))
  }

  /** URL canonicalization over doc_id-derived URLs exercising every rule:
    * mixed-case scheme/host, www. label, default port dropped (http:80 on
    * %4, https:443 otherwise) vs non-default kept (:8443 on %6 \ %4),
    * trailing path slash on evens, a tracking-heavy query string (3 kept /
    * 3 dropped params, bytewise re-sort) absent on %8, and a fragment on
    * every URL.
    */
  def qUrlNormalize(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val url = concat(
      when(id % 4 === 0, lit("HTTP://")).otherwise(lit("HTTPS://")),
      when(id % 3 === 0, lit("WWW.")).otherwise(lit("")),
      lit("Site"), (id % 5).cast("string"), lit(".Example.COM"),
      when(id % 4 === 0, lit(":80"))
        .otherwise(when(id % 6 === 0, lit(":8443")).otherwise(lit(":443"))),
      lit("/Path/"), (id % 7).cast("string"),
      when(id % 2 === 0, lit("/")).otherwise(lit("")),
      when(id % 8 === 0, lit(""))
        .otherwise(concat(lit("?utm_source=feed&z=9&id="), (id % 13).cast("string"),
          lit("&utm_campaign=x&a=2&ref=tw"))),
      lit("#sec"), id.cast("string"))
    TextOps.urlNormalize(
      Tables.documents(spark, dir).select(col("doc_id"), url.as("url")),
      "doc_id", "url")
  }

  /** Unicode normalization over a plant set covering each rule: %7 a
    * decomposed combining acute (NFC composes), %11 a combining ring plus
    * the U+2126 Ohm singleton (NFC maps to Greek Ω), %13 a non-breaking
    * space (→ plain space), %17 zero-width space + BOM (stripped), %19 a
    * C0 control + DEL (stripped). The untouched majority pins the
    * `changed=false` fast path.
    */
  def qTextNormalize(spark: SparkSession, dir: String): DataFrame = {
    val planted = Tables.documents(spark, dir).withColumn("text",
      concat(col("text"),
        when(col("doc_id") % 7 === 0, lit(" cafe\u0301 items")).otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit(" A\u030A unit \u2126 ohm")).otherwise(lit("")),
        when(col("doc_id") % 13 === 0, lit(" x\u00A0y")).otherwise(lit("")),
        when(col("doc_id") % 17 === 0, lit(" z\u200Bw\uFEFF")).otherwise(lit("")),
        when(col("doc_id") % 19 === 0, lit(" a\u0001b\u007Fc")).otherwise(lit(""))))
    TextOps.unicodeNormalize(planted, "doc_id", "text")
  }

  /** Mojibake repair over mutually-exclusive doc_id%10 residue plants
    * (one plant per doc keeps the ground-truth oracle a flat CASE):
    * r1 single mojibake "cafÃ©" (1 round), r2 double "cafÃƒÂ©" (2
    * rounds), r3 GENUINE "café" (provably untouched — the safety half),
    * r4 curly-quote "itâ€™s" (1 round), r5 CJK (unmappable → untouched),
    * everything else pure ASCII (fast path). The oracle states the
    * EXPECTED REPAIRED TEXT from the plant arithmetic — ground truth,
    * not a mechanism replay, so a fake or over-eager fixer cannot pass.
    */
  def qFixMojibake(spark: SparkSession, dir: String): DataFrame = {
    val r = col("doc_id") % 10
    val planted = Tables.documents(spark, dir).withColumn("text",
      concat(col("text"),
        when(r === 1, lit(" caf\u00c3\u00a9 one")).otherwise(lit("")),
        when(r === 2, lit(" caf\u00c3\u0192\u00c2\u00a9 two")).otherwise(lit("")),
        when(r === 3, lit(" caf\u00e9 three")).otherwise(lit("")),
        when(r === 4, lit(" it\u00e2\u20ac\u2122s four")).otherwise(lit("")),
        when(r === 5, lit(" \u4e2d five")).otherwise(lit(""))))
    TextOps.fixMojibake(planted, "doc_id", "text")
  }

  /** C4 three-sentence-span dedup over doc_id%9 residue plants: %9=0 docs
    * share a 4-sentence block (the first extracted sentence absorbs the
    * doc-specific base soup, so window 0 is unique per doc and window 1
    * is a CROSS-DOC duplicate — keeper = lowest doc_id); %9=3 docs carry
    * an alternating 6-sentence block whose windows repeat INTRA-doc
    * (span 3 of period 2 ⇒ window 3 duplicates window 1; window 0
    * absorbs the soup and stays unique) and cross-doc;
    * %9=6 docs have only two sentences (under the span — emit nothing);
    * all other docs are unpunctuated soup (zero sentences).
    */
  def qSentenceSpanDedup(spark: SparkSession, dir: String): DataFrame = {
    val r = col("doc_id") % 9
    val planted = Tables.documents(spark, dir).withColumn("text",
      concat(col("text"),
        when(r === 0, lit("\nAlpha beta gamma delta. Epsilon zeta eta theta." +
          " Iota kappa lambda mu. Nu xi omicron pi."))
          .otherwise(when(r === 3, lit("\nRho sigma tau upsilon. Phi chi psi omega." +
            " Rho sigma tau upsilon. Phi chi psi omega. Rho sigma tau upsilon." +
            " Phi chi psi omega."))
            .otherwise(when(r === 6, lit("\nOne two. Three four.")).otherwise(lit(""))))))
    DedupOps.sentenceSpanDedup(planted, "doc_id", "text")
  }

  /** Link extraction over deterministic full pages (the qHtmlExtract
    * page shape): two nav anchors, one per-doc body anchor whose URL is
    * doc_id arithmetic, one footer anchor. GROUND-TRUTH oracle: the
    * expected (idx, href) rows are stated from the construction — an
    * extractor that misses an anchor, misorders, or leaks tag bytes
    * cannot pass.
    */
  def qHtmlLinks(spark: SparkSession, dir: String): DataFrame = {
    val page = concat(
      lit("<html><head><title>D</title></head><body>" +
        "<nav><a href=\"/\">Home</a> <a class=\"x\" href=\"/about\">About</a></nav><p>"),
      col("text"),
      lit("</p><a href=\"https://site"), (col("doc_id") % 5).cast("string"),
      lit(".example.com/p/"), (col("doc_id") % 7).cast("string"),
      lit("\">out</a><footer><a href=\"/tos\">Terms</a></footer></body></html>"))
    TextOps.htmlLinks(
      Tables.documents(spark, dir).select(col("doc_id"), page.as("html")),
      "doc_id", "html")
  }

  /** Block-density main-content extraction over constructed pages
    * ([[graft.ops.TextOps.mainContentBlocks]]): a link-dense nav, the
    * doc's soup in a `<div>` (long, link-free — content), a `<p>` with
    * one inline link but content-shaped density, a short `<li>`, and a
    * link-dense footer — the verdict set every block-classifier paper
    * demonstrates on. The oracle replays split/strip/density/signature
    * step for step.
    */
  def qMainContent(spark: SparkSession, dir: String): DataFrame = {
    val page = concat(
      lit("<html><body><nav><a href=\"/\">Home</a> <a href=\"/a\">About us</a>" +
        " <a href=\"/c\">Contact page</a></nav><div>"),
      col("text"),
      lit("</div><p>Read the <a href=\"/x\">full analysis</a> alongside enough" +
        " surrounding prose that this paragraph clears the forty character" +
        " content bar easily.</p><li>short</li><footer><a href=\"/tos\">Terms</a>" +
        " <a href=\"/priv\">Privacy policy</a> <a href=\"/img\">Imprint</a></footer>" +
        "</body></html>"))
    TextOps.mainContentBlocks(
      Tables.documents(spark, dir).select(col("doc_id"), page.as("html")),
      "doc_id", "html")
  }

  /** robots.txt screening over five constructed per-domain rule files
    * covering the RFC 9309 semantics end to end: longest-prefix override
    * (Allow /sec1/public inside Disallow /sec1), a specific-UA group that
    * must be ignored, a multi-agent group header including `*`, an empty
    * Disallow (dropped), comments, an empty file, an Allow that OUTRANKS
    * a shorter Disallow, and an exact-length tie where Allow must win.
    * The oracle is GROUND TRUTH: every verdict, match length and matched
    * prefix is a CASE over (doc_id%5, doc_id%7, doc_id%2) — a parser or
    * precedence bug cannot hash-match it.
    */
  def qRobotsScreen(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val id = col("doc_id")
    val urls = Tables.documents(spark, dir).select(
      col("doc_id"),
      concat(lit("site"), (id % 5).cast("string"), lit(".example.com")).as("domain"),
      concat(lit("/sec"), (id % 7).cast("string"),
        when(id % 2 === 0, lit("/private/page")).otherwise(lit("/public/page")))
        .as("path"))
    val robots = Seq(
      ("site0.example.com",
        "User-agent: *\nDisallow: /sec1\nAllow: /sec1/public\n# politeness\nDisallow: /sec2/private"),
      ("site1.example.com",
        "User-agent: googlebot\nDisallow: /\n\nUser-agent: *\nDisallow: /sec3"),
      ("site2.example.com",
        "User-agent: badbot\nUser-agent: *\nDisallow: /sec4\nDisallow:"),
      ("site3.example.com", ""),
      ("site4.example.com",
        "User-agent: *\nAllow: /sec5/private\nDisallow: /sec5\nDisallow: /sec6\nAllow: /sec6/p\nDisallow: /sec6/p")
    ).toDF("domain", "txt")
    TextOps.robotsScreen(urls, "doc_id", "domain", "path",
      TextOps.robotsRules(robots, "domain", "txt"))
  }

  /** Luhn-validated card detection over three plants: a Luhn-VALID Visa
    * test number with space separators (%13), a Luhn-INVALID 16-digit run
    * (%17 — candidate shape, checksum fails: the false positive a bare
    * regex would redact), and a dash-separated valid card (%19). The
    * oracle replays extraction + the checksum fold per candidate.
    */
  def qLuhnCards(spark: SparkSession, dir: String): DataFrame = {
    val planted = Tables.documents(spark, dir).withColumn("text",
      concat(col("text"),
        when(col("doc_id") % 13 === 0, lit(" card 4539 1488 0343 6467 on file"))
          .otherwise(lit("")),
        when(col("doc_id") % 17 === 0, lit(" order 1234 5678 9012 3456 shipped"))
          .otherwise(lit("")),
        when(col("doc_id") % 19 === 0, lit(" pay 4111-1111-1111-1111 now"))
          .otherwise(lit(""))))
    TextOps.luhnCards(planted, "doc_id", "text")
  }

  /** Zipf-law fit over the raw corpus vocabulary
    * ([[graft.ops.TextOps.zipfSlope]]) — corpus-health analytics; no
    * plant needed (the fit is over the natural token distribution and
    * both engines realize identical milli-nat integer sums).
    */
  def qZipfSlope(spark: SparkSession, dir: String): DataFrame =
    TextOps.zipfSlope(Tables.documents(spark, dir), "doc_id", "text")

  /** Incremental fold form: token counts from two doc-disjoint halves
    * merged with [[graft.ops.TextOps.mergeTokenCounts]] must reproduce the
    * one-pass fit — shares q_zipf_slope's oracle verbatim (counts-monoid
    * losslessness through to the least-squares integers).
    */
  def qZipfIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    def countsOf(half: DataFrame) = half
      .select(explode(graft.ops.TextOps.tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
    TextOps.zipfSlopeFromCounts(TextOps.mergeTokenCounts(
      countsOf(docs.filter(col("doc_id") % 2 === 0)),
      countsOf(docs.filter(col("doc_id") % 2 =!= 0))))
  }

  /** Heaps-law vocabulary growth at doc-id decile thresholds
    * ([[graft.ops.TextOps.heapsCurve]]).
    */
  def qHeapsCurve(spark: SparkSession, dir: String): DataFrame =
    TextOps.heapsCurve(Tables.documents(spark, dir), "doc_id", "text")

  /** Anchor-text aggregation over constructed pages
    * ([[graft.ops.TextOps.anchorText]]): three fixed nav/footer targets
    * (one with nested markup + double spaces in its anchor — pins the
    * tag-strip/collapse), plus five outbound site targets whose anchor
    * text alternates by doc parity so the per-target argmax sees real
    * competition (and exact ties, resolved by the total order).
    */
  def qAnchorText(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val page = concat(
      lit("<html><body><nav><a href=\"/\">Home</a> " +
        "<a href=\"/about\">About  <b>Us</b></a></nav><p>"),
      col("text"),
      lit("</p><a href=\"https://site"), (id % 5).cast("string"),
      lit(".example.com/\">"),
      when(id % 2 === 0, lit("read more")).otherwise(lit("details")),
      lit("</a><footer><a href=\"/tos\">Terms</a></footer></body></html>"))
    TextOps.anchorText(
      Tables.documents(spark, dir).select(col("doc_id"), page.as("html")),
      "doc_id", "html")
  }

  /** Content-defined chunk dedup ([[graft.ops.DedupOps.cdcChunkDedup]]):
    * every seventh document carries a shared ~190-char passage appended
    * AFTER its doc-specific soup — fixed-size blocking would never align
    * the copies, but CDC boundaries re-synchronize at the first
    * content-defined cut inside the passage, so its interior chunks
    * deduplicate across carriers (the first passage chunk absorbs the
    * soup and stays unique per doc). Unplanted docs pin the all-unique
    * side.
    */
  def qCdcChunks(spark: SparkSession, dir: String): DataFrame =
    DedupOps.cdcChunkDedup(cdcPlantedDocs(spark, dir), "doc_id", "text")

  /** Shared plant for the CDC pair — both queries MUST stay byte-identical
    * (they share the oracle).
    */
  private def cdcPlantedDocs(spark: SparkSession, dir: String): DataFrame = {
    val passage = " the shared canonical passage that every seventh document" +
      " carries verbatim so interior chunk boundaries re-synchronize on" +
      " content and the chunks deduplicate across carriers regardless of" +
      " whatever unique soup precedes them in each host document"
    Tables.documents(spark, dir).withColumn("text",
      concat(col("text"),
        when(col("doc_id") % 7 === 0, lit(passage)).otherwise(lit(""))))
  }

  /** Incremental fold form: per-chunk carrier stats from two doc-disjoint
    * halves merged with [[graft.ops.DedupOps.mergeCdcCarriers]] must
    * reproduce the one-pass marks — shares q_cdc_chunks' oracle verbatim
    * (chunking is stateless per document, so the carrier-count monoid is
    * the ONLY cross-document state and the fold is the whole proof).
    */
  def qCdcChunksIncr(spark: SparkSession, dir: String): DataFrame = {
    val docs = cdcPlantedDocs(spark, dir)
    def statsOf(half: DataFrame) =
      DedupOps.cdcCarrierStats(DedupOps.cdcChunks(half, "doc_id", "text"), "doc_id")
    val merged = DedupOps.mergeCdcCarriers(
      statsOf(docs.filter(col("doc_id") % 2 === 0)),
      statsOf(docs.filter(col("doc_id") % 2 =!= 0)))
    DedupOps.cdcMarkFromStats(
      DedupOps.cdcChunks(docs, "doc_id", "text"), "doc_id", merged)
  }

  /** Feature hashing over the raw corpus — no plant needed: every token
    * routes through the shared md5-60-bit recipe, so the oracle replays
    * bucket, sign and the signed sums exactly.
    */
  def qHashFeatures(spark: SparkSession, dir: String): DataFrame =
    TextOps.hashFeatures(Tables.documents(spark, dir), "doc_id", "text")

  /** Readability over the %7-planted three-sentence docs: planted docs
    * take the full Flesch path; the unpunctuated soup majority pins the
    * NULL-flesch (no-sentences) branch with real word/syllable counts.
    */
  def qReadability(spark: SparkSession, dir: String): DataFrame = {
    val planted = Tables.documents(spark, dir).withColumn("text",
      concat(col("text"),
        when(col("doc_id") % 7 === 0,
          lit(" The quick brown fox jumps over the lazy dog today." +
            " It was a bright cold day in April. Where is the small key now?"))
          .otherwise(lit(""))))
    TextOps.readabilityScores(planted, "doc_id", "text")
  }

  /** Int8 quantization stats per embedding vector (integer-exact
    * invariants: quantized sum + saturation count).
    */
  def qEmbeddingQuantize(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.quantizeInt8(Tables.embeddings(spark, dir), "vec_id", "embedding")

  /** SCD type-2 history of each key's value changes (validity intervals
    * with change compression) — the warehouse-history complement of the
    * last-wins snapshot.
    */
  def qScd2History(spark: SparkSession, dir: String): DataFrame =
    Merge
      .scd2History(
        Tables.events(spark, dir)
          .select(col("user_id"), col("event_type"), col("value"), col("ts"), col("event_id")),
        Seq("user_id", "event_type"), "ts", "event_id", "value")
      .select(
        col("user_id").as("symbol"),
        col("event_type").as("asset_type"),
        col("value").as("price"),
        col("valid_from").cast("timestamp_ntz").as("valid_from"),
        col("valid_to").cast("timestamp_ntz").as("valid_to"),
        col("is_current"))

  /** Exact dedup groups by content digest. */
  def qExactDedup(spark: SparkSession, dir: String): DataFrame =
    DedupOps.exactDedup(Tables.documents(spark, dir), "doc_id", "text")

  /** Word-3-gram Jaccard near-dup pairs at 0.5 (exact, shingle-join) under
    * the operator's default hot-shingle cap (df > 100 — the registered
    * contract; the oracle applies the identical cap).
    */
  def qNgramJaccardDedup(spark: SparkSession, dir: String): DataFrame =
    DedupOps.jaccardPairs(Tables.documents(spark, dir), "doc_id", "text", n = 3, threshold = 0.5)

  /** Stupid Backoff trigram LM (Brants et al. 2007) self-trained on the
    * corpus: per-token relative-frequency scores with a fixed ln(0.4)
    * penalty per backoff level (trigram → bigram → unigram), all
    * micro-nat integers — the no-discounting LM that ships at web scale
    * because every level is one count join. Artifact shape shared with
    * q_lm_score.
    */
  def qSbScore(spark: SparkSession, dir: String): DataFrame =
    TextOps.stupidBackoffScore(Tables.documents(spark, dir), "doc_id", "text")

  /** Incremental Stupid Backoff: uni/bi/trigram counts folded from four
    * disjoint doc batches ([[graft.ops.TextOps.mergeSbCounts]] — contexts
    * never straddle documents, so per-batch counts sum losslessly), the
    * full corpus scored against the folded statistics. Shares
    * q_sb_score's oracle as the proof.
    */
  def qSbIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // ONE tokenize pass: the (token, prev, prev2) occurrence relation is
    // per-row of its document, so the four batch filters commute with it
    // exactly, and the scoring pass consumes the same staged relation —
    // the pre-r13 form re-ran the context-window explode five times
    // (4 disjoint quarters + the scorer) for one pass's worth of rows.
    // The count fold under proof (mergeSbCounts over four per-batch
    // aggregates) is unchanged.
    val occ = TextOps.sbOccurrences(docs, "doc_id", "text").scopedCache()
    val parts = (0 to 3).map { k =>
      TextOps.sbCountsFromOccurrences(occ.filter(pmod(col("doc_id"), lit(4)) === k))
    }
    val (uni, bi, tri) = TextOps.mergeSbCounts(parts: _*)
    TextOps.stupidBackoffFromCountsOcc(docs, "doc_id", occ, uni, bi, tri)
  }

  /** The Stupid-Backoff deployment split: counts from the even-doc half,
    * every document scored against the frozen statistics — the form where
    * the backoff LADDER genuinely fires (odd docs carry unseen trigrams/
    * bigrams; a token the counts never saw is excluded per the explicit
    * OOV contract in [[graft.ops.TextOps.stupidBackoffFromCounts]]).
    */
  def qSbAssign(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val (uni, bi, tri) =
      TextOps.sbCounts(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
    TextOps.stupidBackoffFromCounts(docs, "doc_id", "text", uni, bi, tri)
  }

  /** Containment (asymmetric-overlap) dedup: every 23rd document re-ships
    * as its first-quarter truncation (id + 10⁶ — the concatenated-shard /
    * excerpt duplicate class), and [[graft.ops.DedupOps.containmentPairs]]
    * must catch each planted pair at containment ≈ 1.0 while its Jaccard
    * (~0.25, carried for contrast) sits far below the symmetric dedup
    * threshold — the duplicate class a Jaccard-only pass ships.
    * `contained_id` names the copy a curation pass would drop.
    */
  def qContainmentDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val toks = TextOps.tokens(col("text"))
    val quarter = DedupOps.bindOnce(toks) { w =>
      concat_ws(" ", slice(w, lit(1), greatest(floor(size(w) / lit(4)).cast("int"), lit(4))))
    }
    val truncated = Tables.documents(spark, dir)
      .filter(col("doc_id") % 23 === 0 && size(toks) >= 16)
      .select((col("doc_id") + lit(1000000L)).as("doc_id"), quarter.as("text"))
    DedupOps.containmentPairs(
      docs.unionByName(truncated), "doc_id", "text", n = 3, threshold = 0.9)
  }

  /** Prefix-filtered exact Jaccard pairs (AllPairs/PPJoin candidate
    * scheme): rarest-first prefixes cut the candidate set, exact
    * verification restores [[DedupOps.jaccardPairs]]' output bit-for-bit —
    * proven by sharing q_ngram_jaccard_dedup's oracle verbatim.
    */
  def qJaccardPrefix(spark: SparkSession, dir: String): DataFrame =
    DedupOps.jaccardPairsPrefix(
      Tables.documents(spark, dir), "doc_id", "text", n = 3, threshold = 0.5)

  /** Edit-distance near-dup pairs: df-capped shingle blocking, lossless
    * length-ratio prefilter, exact `levenshtein` verify (the near-dup lens
    * that catches in-place rewrites sitting below a Jaccard threshold).
    * Fully oracle-checked — DuckDB's `levenshtein` is the same classic DP
    * (parity already proven by q_fuzzy_join).
    */
  def qEditDistDedup(spark: SparkSession, dir: String): DataFrame =
    DedupOps.editDistancePairs(Tables.documents(spark, dir), "doc_id", "text")

  /** MinHash+LSH near-dup pairs, exact-Jaccard verified. The output is the
    * text-derivable verified-pairs relation (true uncapped Jaccard), so the
    * DuckDB oracle — shared verbatim with q_winnow_dedup — re-derives it in
    * SQL; the hash-match doubles as a measured recall-1.0 assertion for the
    * banding on the gate corpus.
    */
  def qMinhashDedup(spark: SparkSession, dir: String): DataFrame =
    DedupOps.minhashLshPairs(Tables.documents(spark, dir), "doc_id", "text", n = 3, threshold = 0.5)

  /** SimHash near-dup pairs at Hamming ≤ 3, fully DuckDB-oracled: the token
    * hash is the md5 hex-fold ([[graft.ops.DedupOps.md5Hash60]]), so the
    * oracle REPLAYS the signature computation itself — per-bit ±1 vote
    * sums, 16-bit chunk banding (recall-complete for radius ≤ 3 by
    * pigeonhole), Hamming via bit_count(xor). Rounds 3–9 carried this
    * rows-only because xxhash64 signatures are invisible to other engines;
    * no TEXT-LEVEL predicate can reproduce the pair set (radius-3
    * token-simhash is a near-EXACT-dup detector with partial recall of
    * J≈0.9 pairs — that part is inherent and unchanged), but a
    * signature-replay oracle does not need one. DedupTextSpec keeps the
    * precision pins; [[DedupOps.simhashVerifiedPairs]] stays specced as a
    * SUBSET of the exact relation, never claimed equal.
    */
  def qSimhashDedup(spark: SparkSession, dir: String): DataFrame =
    DedupOps.simhashPairs(Tables.documents(spark, dir), "doc_id", "text")

  /** Winnowing-bucketed near-dup pairs (Rabin–Karp fingerprint candidates
    * at 0.3), exact word-3-gram Jaccard verified at 0.5 — shares the
    * verified-pairs oracle with q_minhash_dedup (equality = the winnowing
    * generator lost no true pair). The raw fingerprint-Jaccard form stays
    * [[DedupOps.winnowPairs]], ScalaTest-pinned.
    */
  def qWinnowDedup(spark: SparkSession, dir: String): DataFrame =
    DedupOps.winnowVerifiedPairs(Tables.documents(spark, dir), "doc_id", "text",
      n = 3, threshold = 0.5)

  /** Incremental dedup: word-3-gram Jaccard pairs BETWEEN the even-id
    * "existing corpus" and the odd-id "incoming batch" at 0.5 — the
    * new-crawl-vs-store check that never re-pairs the store against
    * itself.
    */
  def qCrossDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    DedupOps.crossJaccardPairs(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", n = 3, threshold = 0.5)
  }

  /** Incremental MinHash+LSH dedup: banded signature buckets per side,
    * candidates only ACROSS the even-id store / odd-id batch split, exact-
    * Jaccard verified — the LSH analog of q_cross_dedup. Oracle: the
    * uncapped cross verified-pairs SQL (the LSH verify re-scores against
    * full shingle sets, so no df cap applies); hash-equality doubles as the
    * cross-banding recall-1.0 assertion on the gate corpus.
    */
  def qCrossDedupLsh(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    DedupOps.crossMinhashLshPairs(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", n = 3, threshold = 0.5)
  }

  /** Deterministic train/val/test split (0.8/0.1/0.1) by md5 hex-prefix of
    * the document key — content-hashed, so stable across runs, engines and
    * partitionings (the oracle checks the assignment row-for-row).
    */
  def qHashSplit(spark: SparkSession, dir: String): DataFrame =
    SamplingOps
      .hashSplit(
        Tables.documents(spark, dir).select(col("doc_id")),
        "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))

  /** Deterministic stratified 20% take per language stratum (md5-ordered,
    * reproducible — the sampling a training pipeline can re-derive).
    */
  def qStratifiedSample(spark: SparkSession, dir: String): DataFrame =
    SamplingOps.stratifiedTake(
      Tables.documents(spark, dir).select(col("doc_id"), col("lang")),
      Seq("lang"), "doc_id", 0.2)

  /** End-to-end corpus curation — the training-data use case the north-star
    * operators exist for, as ONE oracle-checked relation: predicted-English
    * documents with quality ≥ 0.5, keeping only exact-dedup keepers and,
    * per near-duplicate CLUSTER (connected components over the pair graph,
    * not per-pair drops — a star 2-9, 3-9 must keep only one of {2,3,9}),
    * the minimum-id representative.
    */
  def qCorpusCuration(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val lang = TextOps.langId(docs, "text").select(col("doc_id"), col("pred_lang"))
    val quality = TextOps.qualityScore(docs, "doc_id", "text")
      .select(col("doc_id"), col("n_tokens"), col("quality"))
    val keepers = DedupOps.exactDedup(docs, "doc_id", "text")
      .select(col("keeper_id").as("doc_id"))
    val nearDupLosers = neardupArtifact(spark, dir)._2
      .filter(col("id") =!= col("cluster_id")).select(col("id").as("doc_id"))
    quality
      .join(lang, "doc_id").filter(col("pred_lang") === "en")
      .filter(col("quality") >= 0.5)
      .join(keepers, Seq("doc_id"), "left_semi")
      .join(nearDupLosers, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("n_tokens"), col("quality"))
  }

  /** Fuzzy self-join on customer names within Levenshtein distance 1 —
    * record linkage with SymSpell deletion-variant blocking (equi-join
    * candidates, exact verify). The oracle is the brute-force O(n²)
    * distance join: an INDEPENDENT method, so the hash match also proves
    * the blocking's completeness claim on this corpus.
    */
  def qFuzzyJoin(spark: SparkSession, dir: String): DataFrame =
    LinkOps.fuzzySelfMatch(Tables.customer(spark, dir), "c_custkey", "c_name")

  /** Customer-dimension pseudonymization before a data share: the name
    * becomes a deterministic salted-md5 pseudonym (join-stable across
    * exports under the same pepper) AND a digit-masked display form —
    * [[Privacy.pseudonymize]], a single narrow codegen'd projection.
    * The salt is pinned so the oracle reproduces the pseudonyms; in
    * production it is a caller-held secret.
    */
  def qPseudonymize(spark: SparkSession, dir: String): DataFrame =
    Privacy.pseudonymize(
      Tables.customer(spark, dir),
      keepCols = Seq("c_custkey", "c_mktsegment"),
      hashCols = Seq("c_name"),
      maskCols = Seq("c_name"),
      salt = "graft-pepper")

  /** k-anonymity audit over the (nation, segment) quasi-identifier pair —
    * one row per equivalence class with its size and release-safety flag
    * ([[Privacy.kAnonymity]], k=12: strict enough that both outcomes
    * occur on the test corpus).
    */
  def qKAnonymity(spark: SparkSession, dir: String): DataFrame =
    Privacy.kAnonymity(
      Tables.customer(spark, dir), Seq("c_nationkey", "c_mktsegment"), k = 12)

  /** l-diversity over the same quasi classes with the account-balance
    * band (floor(acctbal/2500)) as the sensitive attribute
    * ([[graft.ops.Privacy.lDiversity]]) — classes that hide the row but
    * share the band still flag.
    */
  def qLDiversity(spark: SparkSession, dir: String): DataFrame =
    Privacy.lDiversity(
      Tables.customer(spark, dir)
        .withColumn("bal_band", floor(col("c_acctbal") / 2500).cast("long")),
      Seq("c_nationkey", "c_mktsegment"), "bal_band", l = 4)

  /** Full-domain suppression of rare quasi-identifier classes: customers
    * in a (nation, segment) class below k=12 get both quasi values
    * collapsed to '*' ([[Privacy.suppressRare]] — the generalization step
    * that restores k-anonymity after the audit flags leaks).
    */
  def qSuppressRare(spark: SparkSession, dir: String): DataFrame =
    Privacy.suppressRare(
      Tables.customer(spark, dir), Seq("c_nationkey", "c_mktsegment"), k = 12)

  /** Domain-mix rebalancing of the corpus to a skewed target (sources
    * src0-src4 get 10% each, the rest split the remaining half), sized by
    * n_chars — deterministic integer-hash membership, so the kept set is
    * oracle-checkable row-for-row.
    */
  def qDomainRebalance(spark: SparkSession, dir: String): DataFrame =
    SamplingOps.rebalanceDomains(
      Tables.documents(spark, dir), "doc_id", "source", "n_chars",
      (0 to 4).map(i => s"src$i" -> 0.1) ++ (5 to 19).map(i => s"src$i" -> 1.0 / 30))

  /** Near-duplicate cluster resolution: connected components over the
    * word-3-gram Jaccard pairs (min-label propagation to fixpoint), every
    * document labeled with its cluster's minimum id (the keeper), plus the
    * cluster size. Singletons are their own keeper — the relation a
    * curation pipeline joins against to drop transitive duplicates exactly
    * once.
    */
  def qNeardupClusters(spark: SparkSession, dir: String): DataFrame = {
    val labeled = neardupArtifact(spark, dir)._2
      .withColumnRenamed("id", "doc_id")
    val sizes = labeled.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    labeled.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("doc_id") === col("cluster_id")).as("is_keeper"))
  }

  /** Label-propagation communities over the verified near-dup pair graph —
    * the community complement of q_neardup_clusters' connected components:
    * a single bridge pair merges two template families in CC but cannot
    * flip a dense community's majority label here. Deterministic
    * (weight-argmax with min-label ties), 3 synchronous rounds, mirrored
    * round-for-round by the unrolled-CTE oracle.
    */
  def qLabelPropagation(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = neardupArtifact(spark, dir)._1
    val lp = GraphOps.labelPropagation(pairs, "doc_a", "doc_b", rounds = 3)
    // cached: feeds BOTH the size aggregate and the final join
    // (module caching contract: harness clears)
    val all = docs.select(col("doc_id"))
      .join(lp.select(col("node").as("doc_id"), col("label")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("community_id"))
      .cache()
    val sizes = all.groupBy(col("community_id")).agg(count(lit(1)).as("community_size"))
    all.join(sizes, "community_id")
      .select(col("doc_id"), col("community_id"), col("community_size"))
  }

  /** PageRank authority over the verified near-dup pair graph — the
    * centrality weight that ranks which documents sit at the heart of a
    * duplication neighborhood (curation keeps the authoritative copy,
    * not an arbitrary keeper). Five synchronous rounds in micro-rank
    * fixed point; documents outside the graph hold exactly the teleport
    * mass (the isolated-node fixed point).
    */
  def qPagerank(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = neardupArtifact(spark, dir)._1
    val prk = GraphOps.pageRank(pairs, "doc_a", "doc_b", rounds = 5)
    docs.select(col("doc_id"))
      .join(prk.select(col("node").as("doc_id"), col("rank_fp"), col("degree")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("rank_fp"), lit(GraphOps.pageRankTeleportBase())).as("rank_fp"),
        coalesce(col("degree"), lit(0L)).as("degree"))
  }

  /** Per-document triangle count / degree / local clustering coefficient
    * on the same verified pair graph — local density as a template-family
    * detector (a doc whose neighbors all pair with each other is
    * boilerplate structure, not chance collision).
    */
  def qTriangleStats(spark: SparkSession, dir: String): DataFrame = {
    val pairs = neardupArtifact(spark, dir)._1
    GraphOps.triangleStats(pairs, "doc_a", "doc_b")
      .select(col("node").as("doc_id"), col("degree"), col("triangles"), col("lcc"))
  }

  /** 2-core of the verified near-dup pair graph
    * ([[graft.ops.GraphOps.kCore]], 8 peeling rounds — the spec pins the
    * fixpoint at shipped SFs): separates DENSE duplication families from
    * chains/pendants that mere transitive pairing produces — a path of
    * borderline pairs survives CC but no tree survives the 2-core, so
    * core membership is the "real template family" screen next to
    * [[qTriangleStats]]'s local density.
    */
  def qKcore(spark: SparkSession, dir: String): DataFrame = {
    val pairs = neardupArtifact(spark, dir)._1
    GraphOps.kCore(pairs, "doc_a", "doc_b", k = 2, rounds = 8)
      .select(col("node").as("doc_id"), col("degree"), col("in_kcore"), col("core_degree"))
  }

  /** Incremental near-dup cluster MAINTENANCE — the full store/batch cycle
    * of the incremental dedup story: even-id docs are the STORE (clusters
    * already resolved from their own pairs, historical pair set discarded),
    * odd-id docs the incoming BATCH; new evidence = batch-internal pairs +
    * store×batch cross pairs (never store×store — that work was done when
    * those documents arrived), folded into the store labeling by
    * [[DedupOps.mergeClusters]]. All three pair relations come from
    * [[DedupOps.incrementalJaccardPairs]] under ONE corpus-wide df cap (the
    * statistic the store maintains incrementally), so they partition
    * exactly the full corpus's capped pair set — the incremental result is
    * therefore provably equal to a from-scratch CC over all documents, and
    * the query SHARES q_neardup_clusters' oracle verbatim: the hash-match
    * IS the losslessness proof of incremental maintenance.
    *
    * Bench note: this registered form re-derives the STORE side (its pairs
    * and its CC labels) self-contained so one oracle covers the whole
    * cycle — that is most of its wall-clock. The steady-state increment
    * cost is only the batch+cross pair generation and the (small)
    * mergeClusters CC over store stars + new evidence; the store work is
    * what previous increments banked — same harness-artifact reasoning as
    * the self-contained curation compositions vs q_curation_manifest_staged.
    */
  def qNeardupClustersIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val store = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val (storePairs, batchPairs, crossPairs) = DedupOps.incrementalJaccardPairs(
      store, batch, "doc_id", "text", n = 3, threshold = 0.5)
    // min-label CC with smart init: near-dup store graphs are tiny
    // cliques/chains, where it converges in one no-change round — the
    // O(log n) alternating-star variant pays >=2 fixed star rounds for the
    // same labels (equality property-pinned in PropertiesSpec). The round
    // budget (default 100 ≈ diameter-200 components) is a fail-loud guard,
    // not a cost — converged graphs exit after their one no-change round;
    // reach for connectedComponentsFast when diameter is truly unbounded
    val storeLabels = store.select(col("doc_id").as("id"))
      .join(
        DedupOps.connectedComponents(storePairs, "doc_a", "doc_b"),
        Seq("id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("id")))
    val newPairs = batchPairs.unionByName(crossPairs)
    val merged = DedupOps.mergeClusters(storeLabels, newPairs.select(col("doc_a"), col("doc_b")))
    val labeled = docs.select(col("doc_id"))
      .join(merged.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
    val sizes = labeled.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    labeled.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("doc_id") === col("cluster_id")).as("is_keeper"))
  }

  /** Length-weighted priority sampling: top-20 per language by w/u
    * priority (w = n_chars, u = LCG(doc_id)) — deterministic
    * weight-proportional subsampling without replacement
    * ([[SamplingOps.prioritySample]]).
    */
  def qWeightedSample(spark: SparkSession, dir: String): DataFrame =
    SamplingOps.prioritySample(
      Tables.documents(spark, dir), "doc_id", "n_chars", Seq("lang"), k = 20)

  /** Leakage-safe train/val/test split: the near-dup cluster labeling
    * bucketed by md5(cluster_id) — near-duplicate families never straddle
    * splits, closing the eval-contamination path a doc-keyed split leaves
    * open ([[SamplingOps.clusterSplit]]).
    */
  def qClusterSplit(spark: SparkSession, dir: String): DataFrame =
    SamplingOps.clusterSplit(
      neardupArtifact(spark, dir)._2.withColumnRenamed("id", "doc_id"),
      "doc_id", "cluster_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))

  /** QUANTIFIED split leakage — the governance metric that justifies
    * cluster-aware splitting: for the naive per-document hash split and
    * the cluster-aware split (same fractions, same verified near-dup pair
    * relation as q_neardup_clusters), the count of pairs whose two
    * members land in DIFFERENT buckets. The cluster split's leakage is
    * structurally zero (a pair's endpoints share a connected component,
    * which is assigned atomically); the hash split's is the measured
    * train/test contamination a pipeline ships without knowing. Leak rate
    * in truncated-div millionths of the pair count.
    */
  def qSplitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    // both the pair relation and the labeling come from the staged
    // artifact — the pairs feed the two leak legs, the labeling the
    // cluster split; nothing is re-derived here
    val (pairsFull, labelsArt) = neardupArtifact(spark, dir)
    val pairs = pairsFull.select(col("doc_a"), col("doc_b"))
    val labels = labelsArt.withColumnRenamed("id", "doc_id")
    val hash = SamplingOps
      .hashSplit(docs.select(col("doc_id")), "doc_id", splits)
      .select(col("doc_id"), col("bucket"))
    val clus = SamplingOps.clusterSplit(labels, "doc_id", "cluster_id", splits)
      .select(col("doc_id"), col("bucket"))
    def leak(assign: DataFrame, method: String): DataFrame =
      pairs
        .join(assign.select(col("doc_id").as("doc_a"), col("bucket").as("__ba")), "doc_a")
        .join(assign.select(col("doc_id").as("doc_b"), col("bucket").as("__bb")), "doc_b")
        .agg(
          count(lit(1)).as("n_pairs"),
          // coalesce: sum over ZERO pairs is NULL, the oracle's
          // coalesce(..., 0) emits 0 — a pair-free corpus must agree
          coalesce(sum(when(col("__ba") =!= col("__bb"), 1L).otherwise(0L)), lit(0L))
            .as("leaked"))
        .select(lit(method).as("method"), col("n_pairs"), col("leaked"),
          expr("CASE WHEN n_pairs > 0 THEN (leaked * 1000000) div n_pairs END")
            .as("leak_rate_fp"))
    leak(hash, "hash_split").unionByName(leak(clus, "cluster_split"))
  }

  /** Quality-based keeper election per near-dup cluster
    * ([[DedupOps.keeperByScore]]): production curation keeps each family's
    * BEST-quality member, not the accidental minimum id — the labeling is
    * the q_neardup_clusters relation, the score is the quality operator,
    * the winner breaks ties to the lower id.
    */
  def qKeeperByQuality(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val quality = TextOps.qualityScore(docs, "doc_id", "text")
      .select(col("doc_id"), col("quality"))
    DedupOps.keeperByScore(neardupArtifact(spark, dir)._2, quality, "doc_id", "quality")
      .select(col("id").as("doc_id"), col("cluster_id"), col("keeper_id"), col("is_keeper"))
  }

  /** Training manifest — the end-to-end composition the whole training-data
    * operator family exists for: the curated corpus (lang + quality + exact
    * dedup + near-dup cluster keepers) packed into 512-token chunks across
    * 8 shards, one row per surviving document with its span, chunk range
    * and quality score.
    */
  def qTrainingManifest(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // cached: the curated relation feeds BOTH join branches below, and
    // Spark performs no cross-branch subtree reuse on its own
    val curated = qCorpusCuration(spark, dir).select(col("doc_id"), col("quality")).cache()
    trainingManifestFrom(docs, curated)
  }

  /** The manifest TAIL from an already-curated (doc_id, …, quality)
    * relation — shared by qTrainingManifest (self-contained form) and
    * qCurationManifestStaged (staged form), so the two can never drift.
    */
  private def trainingManifestFrom(docs: DataFrame, curated: DataFrame): DataFrame = {
    val kept = docs.join(curated.select("doc_id"), Seq("doc_id"))
    SamplingOps.packSequences(kept, "doc_id", "text", chunkTokens = 512, nShards = 8)
      .join(curated.select(col("doc_id"), col("quality")), Seq("doc_id"))
      .select(
        col("doc_id"), col("shard"), col("n_tokens"), col("start_offset"),
        col("chunk_first"), col("chunk_last"), col("quality"))
  }

  /** Per-user price-shape screen: best match of a V-shaped 8-point motif in
    * each user's value series (sliding squared distance in integer cents —
    * exact on any engine; ties break to the lowest offset). Users with
    * fewer than 8 points keep their row with NULL match fields.
    */
  def qSeriesMotif(spark: SparkSession, dir: String): DataFrame =
    Analytics.seriesMotifMatch(
      Tables.events(spark, dir), "user_id", "ts", "event_id", "value",
      patternCents = Seq(20000L, 19000L, 18000L, 17000L, 18000L, 19000L, 20000L, 21000L))

  /** End-to-end mixture manifest: the curated corpus is epoch-upsampled by
    * a quality-proportional weight (1.4·quality ∈ [0.7, 1.4] — exercises
    * the drop, single-copy and repeat regimes), every (doc, copy) unit is
    * dealt into 16 training shards by the deterministic md5 shuffle, and
    * the manifest aggregates each shard's unit/doc/token totals. max_pos
    * must equal n_units per shard (positions are contiguous 1..n), which
    * the oracle re-derives — so the hash-match differentially tests the
    * whole curation → upsample → shuffle composition, not just the pieces.
    */
  def qMixtureManifest(spark: SparkSession, dir: String): DataFrame =
    mixtureManifestFrom(qCorpusCuration(spark, dir))

  /** The mixture TAIL from an already-curated (doc_id, n_tokens, quality)
    * relation — shared by qMixtureManifest and qCurationManifestStaged.
    */
  private def mixtureManifestFrom(curated: DataFrame): DataFrame = {
    val weighted = curated
      .select(col("doc_id"), col("n_tokens"), (col("quality") * lit(1.4)).as("weight"))
    // string unit address: collision-free for ANY weight (an arithmetic
    // doc_id*K+copy_idx scheme silently aliases units once weight >= K)
    val units = SamplingOps.upsampleByWeight(weighted, "doc_id", "weight")
      .withColumn("unit_id", concat_ws("#", col("doc_id"), col("copy_idx")))
    SamplingOps.shuffleShards(units, "unit_id", nShards = 16, seed = "mix")
      .groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n_units"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"),
        max(col("pos")).as("max_pos"))
  }

  /** Staged curation composition — the 100 TB OPERATING MODE for the whole
    * curation family: the curated relation is derived ONCE (persisted), and
    * both downstream products — the per-document training manifest and the
    * per-shard mixture manifest — are fed from that single intermediate
    * instead of each re-deriving the full lang/quality/dedup/cluster chain
    * (which the self-contained q_training_manifest / q_mixture_manifest do
    * by design, so each oracle covers the whole composition; at production
    * scale you materialize curated once and this query IS that shape).
    * Output: the tagged union of both manifests (kind = 'doc' | 'shard');
    * the oracle is literally the union of the two self-contained oracles
    * over ONE shared curated CTE, so the hash-match proves the staged
    * pipeline reproduces BOTH products exactly. Bench reads the saving
    * directly: one curation derivation instead of two — measured at sf0.1
    * (local[32]) 5.0s for both products vs 4.3s + 4.4s run separately.
    */
  def qCurationManifestStaged(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val curated = qCorpusCuration(spark, dir).cache()
    trainingManifestFrom(docs, curated)
      .withColumn("kind", lit("doc"))
      .unionByName(
        mixtureManifestFrom(curated).withColumn("kind", lit("shard")),
        allowMissingColumns = true)
  }

  /** Per-language quality percentile (curriculum normalization): each
    * document's percent_rank within its predicted language, deterministic
    * tiebreak on doc_id. Partitioned by language so the ranking sort is
    * per-stratum — no global sort at corpus scale.
    */
  def qQualityRank(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val q = TextOps.qualityScore(docs, "doc_id", "text").select(col("doc_id"), col("quality"))
    val lang = TextOps.langId(docs, "text").select(col("doc_id"), col("pred_lang"))
    val w = Window.partitionBy(col("pred_lang")).orderBy(col("quality"), col("doc_id"))
    q.join(lang, "doc_id")
      .withColumn("q_rank", percent_rank().over(w))
      .select(col("doc_id"), col("pred_lang"), col("quality"), col("q_rank"))
  }

  /** Multi-criteria curation frontier: the documents no other document
    * beats on BOTH quality and length — [[SamplingOps.paretoFrontier2]]
    * maximizing (quality_fp, n_tokens) over the millionth-quantized
    * quality score (the qualityFpBySource expression) under the fixed
    * 32-bucket [0, 1e6) x-geometry. The skyline runs on the x-LEVEL
    * relation (≤ 1e6 rows at any corpus size — bounded by the quality
    * domain, not the data), so no global sort and no dominance self-join
    * ever touches the corpus.
    */
  def qParetoFrontier(spark: SparkSession, dir: String): DataFrame =
    paretoOf(paretoPoints(spark, dir))

  /** The frontier input relation (quality millionths × token count) and
    * geometry, shared by the one-shot and incremental forms.
    */
  private def paretoPoints(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      round(TextOps.qualityExpr(col("text")) * lit(1.0e6)).cast("long").as("quality_fp"),
      size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))

  /** The frontier's fixed x-geometry: 32 buckets over [0, 1e6) quality
    * millionths — shared by the one-shot and keyed (incremental) forms,
    * which must agree on it to share q_pareto_frontier's oracle.
    */
  private val (paretoXLo, paretoXHi, paretoBuckets) = (0L, 1000000L, 32)

  private def paretoOf(pts: DataFrame): DataFrame =
    SamplingOps.paretoFrontier2(
      pts, "doc_id", "quality_fp", "n_tokens",
      xLo = paretoXLo, xHi = paretoXHi, nBuckets = paretoBuckets)

  /** Incremental maintenance of the curation frontier: the skyline is a
    * FOLD MONOID — skyline(A ∪ B) = skyline(skyline(A) ∪ skyline(B)),
    * because an undominated point stays undominated in any subset and a
    * dominated point always has an UNDOMINATED dominator (transitivity +
    * well-foundedness) that survives its own batch's frontier to kill it
    * at the merge. Four disjoint doc-id batches keep only their local
    * frontiers (tiny), the merge re-skylines the union — must reproduce
    * q_pareto_frontier bit-for-bit (shared oracle). This is the 100 TB
    * maintenance path: per-partition frontiers are frontier-sized, and
    * new data re-skylines against the kept frontier, never the history.
    */
  def qParetoIncremental(spark: SparkSession, dir: String): DataFrame = {
    // the four batch frontiers compute in ONE keyed pass
    // ([[SamplingOps.paretoFrontier2Keyed]] over __batch = doc_id mod 4)
    // instead of four unioned copies of the frontier plan: the unioned
    // form re-scanned the text column and re-ran the quality/token
    // kernels once per batch and planned ~4× the stages (123 Exchange /
    // 1481 plan lines before; the keyed plan is one frontier's worth).
    // Per-batch rows are exactly paretoOf(pts.filter(batch == m)) — the
    // suffix-max/bucket windows partition by the batch key — so the
    // merged re-skyline input, its output, and the shared
    // q_pareto_frontier oracle are unchanged.
    val pts = paretoPoints(spark, dir)
      .withColumn("__batch", pmod(col("doc_id"), lit(4)))
    val parts = SamplingOps.paretoFrontier2Keyed(
      pts, Seq("__batch"), "doc_id", "quality_fp", "n_tokens",
      xLo = paretoXLo, xHi = paretoXHi, nBuckets = paretoBuckets)
      .drop("__batch")
    paretoOf(parts)
  }

  /** Per-domain cap: top-50 documents per source by (n_chars DESC, doc_id)
    * — the anti-SEO curation guard ([[SamplingOps.capPerDomain]]).
    */
  def qDomainCap(spark: SparkSession, dir: String): DataFrame =
    SamplingOps.capPerDomain(
      Tables.documents(spark, dir).select(col("doc_id"), col("source"), col("n_chars")),
      "source", "doc_id", "n_chars", maxPerDomain = 50)

  /** Sequence-length power-of-two bucketing with padding/truncation costs
    * ([[SamplingOps.lengthBuckets]]) — training-batch shape planning.
    */
  def qLengthBuckets(spark: SparkSession, dir: String): DataFrame =
    SamplingOps.lengthBuckets(Tables.documents(spark, dir), "doc_id", "text")

  /** Quality quartiles within predicted language
    * ([[TextOps.curriculumBins]]) — curriculum-learning prep.
    */
  def qCurriculumBins(spark: SparkSession, dir: String): DataFrame =
    TextOps.curriculumBins(Tables.documents(spark, dir), "doc_id", "text", k = 4)

  /** Substring-level repeated spans ([[DedupOps.repeatedSpans]], 8-gram
    * windows, corpus-wide occurrence ≥ 2) — repeated passages INSIDE
    * otherwise-unique documents. The oracle re-derives positions, the
    * occurrence filter and the gap-≤-k island merge with md5 grams (hash
    * VALUES never surface — only positions and counts — so the engines'
    * different gram hashes cannot diverge the relation).
    */
  def qRepeatedSpans(spark: SparkSession, dir: String): DataFrame =
    DedupOps.repeatedSpans(Tables.documents(spark, dir), "doc_id", "text")

  /** Repeated-span removal ([[DedupOps.removeRepeatedSpans]]) — documents
    * reconstructed without their corpus-repeated passages, the scrub that
    * consumes q_repeated_spans (oracle: same span CTEs + anti-exists token
    * reconstruction).
    */
  def qSpanScrub(spark: SparkSession, dir: String): DataFrame =
    DedupOps.removeRepeatedSpans(Tables.documents(spark, dir), "doc_id", "text")

  /** First-16-token template groups ([[DedupOps.prefixTemplates]]) —
    * mirror/boilerplate families whole-document dedup misses.
    */
  def qPrefixTemplates(spark: SparkSession, dir: String): DataFrame =
    DedupOps.prefixTemplates(Tables.documents(spark, dir), "doc_id", "text", k = 16)

  /** The two deterministic plants for [[qSubstringDedup]]: a 30-token
    * passage appended to every doc_id % 151 == 0 document (MUST be
    * reported: its per-pair Jaccard/containment against ~120-token hosts
    * sits far below the doc-level families' thresholds — the exact case
    * suffix-array dedup exists for) and a 12-token passage at
    * doc_id % 97 == 0 (must NOT be reported at minSpan 24 — the
    * threshold path, planted so it actually generates anchors first).
    */
  private val substringPlantLong: String =
    " orbital cadence marigold lattice quorum ember tectonic verdigris" +
      " plenum oscillate cobalt meridian saffron turbine aquifer bastion" +
      " cipher dynamo eolian fresco gossamer helix isthmus juniper" +
      " krypton lumen moraine nacre obsidian pylon"
  private val substringPlantShort: String =
    " quartz nimbus delta rookery sextant talus umbra vortex wicket xenon yawl zephyr"

  /** Cross-document exact-substring spans ([[DedupOps.substringSpans]],
    * 8-token anchors, maximal spans ≥ 24 tokens, anchor df-cap 80) — the
    * Lee et al. 2022 suffix-array dedup family, bucketed. The planted
    * 30-token passage is caught with its exact length and per-document
    * offsets; the 12-token plant generates anchors but dies at the span
    * threshold; everything else in the word-soup corpus shares no
    * 8-gram run and is absent on both engines. The cap is sized so BOTH
    * plants' carrier counts (⌈sf·50000/151⌉ and ⌈sf·50000/97⌉) sit under
    * it at every shipped scale factor — at the r9 cap of 50 the sf0.1
    * short plant (52 carriers) died at the df cap instead of the span
    * threshold, silently vacating the threshold path (ADVICE r9);
    * SubstringPlantHeadroomSpec asserts the margin per shipped SF dir.
    */
  def qSubstringDedup(spark: SparkSession, dir: String): DataFrame =
    DedupOps.substringSpans(
      substringPlanted(spark, dir), "doc_id", "text",
      k = 8, minSpanTokens = 24, maxDocFreq = 80)

  /** The planted corpus shared by both substring-family queries. */
  private def substringPlanted(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).withColumn("text",
      concat(col("text"),
        when(col("doc_id") % 151 === 0, lit(substringPlantLong)).otherwise(lit("")),
        when(col("doc_id") % 97 === 0, lit(substringPlantShort)).otherwise(lit(""))))

  /** The 28-token canary for [[qSubstringDecontaminate]] — appended to
    * every eval doc (%97) and LEAKED into the %89 (non-eval) train docs,
    * so the span detector must attribute each leaking train doc to every
    * eval doc carrying the passage.
    */
  private val substringCanary: String =
    " amber ketone lichen fjord parapet quill rhombus sable timpani umlaut" +
      " velvet wicker yttrium zeolite arroyo basalt cairn dolmen eyrie" +
      " fumarole geyser hollow islet jetty knoll lagoon mesa nadir"

  /** Exact-substring decontamination ([[DedupOps.substringDecontaminate]],
    * 8-token anchors, spans ≥ 24, df cap 200 — sized ABOVE the eval
    * duplication structure so the contamination itself cannot become a
    * stop-gram): train docs sharing a ≥24-token verbatim span with any
    * eval doc, evidence aggregated per train doc. The complement of the
    * n-gram q_decontaminate probe: long verbatim leakage whose doc-level
    * gram-overlap rate stays low.
    */
  def qSubstringDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val isEval = col("doc_id") % 97 === 0
    val isLeak = (col("doc_id") % 89 === 0) && !(col("doc_id") % 97 === 0)
    val evalDocs = docs.filter(isEval)
      .withColumn("text", concat(col("text"), lit(substringCanary)))
    val train = docs.filter(!isEval).withColumn("text",
      concat(col("text"), when(isLeak, lit(substringCanary)).otherwise(lit(""))))
    DedupOps.substringDecontaminate(
      train, evalDocs, "doc_id", "text", k = 8, minSpanTokens = 24, maxDocFreq = 200)
  }

  /** Incremental substring dedup — the store/batch cycle of the
    * suffix-array family ([[DedupOps.incrementalSubstringSpans]]): even-id
    * docs are the STORE, odd-id docs the incoming BATCH, anchor survival
    * under the corpus-wide df the store's gram bank maintains; the three
    * legs' union must reproduce the from-scratch q_substring_dedup
    * bit-for-bit, so the query SHARES its oracle verbatim — the
    * hash-match IS the losslessness proof (the q_neardup_clusters_incr
    * pattern). Steady-state increments pay only the batch and cross
    * legs; the store leg re-derives here so one oracle covers the cycle.
    */
  def qSubstringDedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val planted = substringPlanted(spark, dir)
    val (st, ba, cr) = DedupOps.incrementalSubstringSpans(
      planted.filter(col("doc_id") % 2 === 0),
      planted.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", k = 8, minSpanTokens = 24, maxDocFreq = 80)
    st.unionByName(ba).unionByName(cr)
  }

  /** Cross-document span scrub ([[DedupOps.removeCrossSpans]]) — the
    * consumer of q_substring_dedup: each duplicated passage survives only
    * in its lowest-id host; every other host is rebuilt without its copy.
    * Same plants, so the scrub provably removes exactly the planted
    * 30-token passage from every non-minimum %151 document and nothing
    * else (the 12-token plant is below the span threshold and survives
    * everywhere).
    */
  def qSubstringScrub(spark: SparkSession, dir: String): DataFrame =
    DedupOps.removeCrossSpans(
      substringPlanted(spark, dir), "doc_id", "text",
      k = 8, minSpanTokens = 24, maxDocFreq = 80)

  /** Frequency-ranked top-30 vocabulary of the corpus (deterministic
    * (count DESC, token) order), the tokenizer-prep relation.
    */
  def qVocabBuild(spark: SparkSession, dir: String): DataFrame =
    TextOps.buildVocab(Tables.documents(spark, dir), "text", vocabSize = 30)

  /** Incremental vocabulary maintenance: the stored token counts (even-id
    * docs) folded with a batch's counts (odd-id docs) via
    * [[TextOps.mergeVocabCounts]] — counts add, so the fold must reproduce
    * the full-corpus vocabulary exactly; SHARES q_vocab_build's oracle
    * (the losslessness proof, same pattern as q_neardup_clusters_incr).
    */
  def qVocabIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    TextOps.vocabFromCounts(
      TextOps.mergeVocabCounts(
        TextOps.vocabCounts(docs.filter(col("doc_id") % 2 === 0), "text"),
        TextOps.vocabCounts(docs.filter(col("doc_id") % 2 === 1), "text")),
      vocabSize = 30)
  }

  /** Documents encoded against the top-30 vocab: token/unk counts plus the
    * md5 signature of the position-ordered id sequence (tokens outside the
    * capped vocab exercise the UNK path).
    */
  def qEncodeTokens(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    TextOps.encodeTokens(docs, "doc_id", "text", TextOps.buildVocab(docs, "text", 30))
  }

  /** Corpus-frequency rarity stats (integer-exact unigram-LM proxy):
    * rare-occurrence counts flag gibberish, frequency mass flags
    * stopword boilerplate.
    */
  def qTokenRarity(spark: SparkSession, dir: String): DataFrame =
    TextOps.rarityStats(Tables.documents(spark, dir), "doc_id", "text", rareBelow = 5L)

  /** Within-document repetition metrics (Gopher-style duplicate-trigram and
    * top-bigram-share filters) with the standard thresholds.
    */
  def qRepetitionFilter(spark: SparkSession, dir: String): DataFrame =
    TextOps.repetitionStats(Tables.documents(spark, dir), "doc_id", "text")

  /** Incremental LM-count maintenance, proven lossless BY CONSTRUCTION:
    * the corpus is split in half (even/odd doc_id), each half's
    * unigram/bigram counts are folded with [[TextOps.mergeLmCounts]], and
    * scoring the full corpus against the merged statistics must reproduce
    * q_lm_score bit-for-bit — the two queries share one oracle, the same
    * pattern as q_vocab_incremental and q_knn_incremental.
    */
  def qLmIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // ONE tokenize pass (the qSbIncremental staging, one context level
    // shallower): halves' counts and the scoring occurrences all derive
    // from the same staged per-row occurrence relation; the count fold
    // under proof is unchanged.
    val occ = TextOps.lmOccurrences(docs, "doc_id", "text").scopedCache()
    val (u, b) = TextOps.mergeLmCounts(
      TextOps.lmCountsFromOccurrences(occ.filter(col("doc_id") % 2 === 0)),
      TextOps.lmCountsFromOccurrences(occ.filter(col("doc_id") % 2 === 1)))
    TextOps.lmScoreFromCountsOcc(docs, "doc_id", occ, u, b)
  }

  /** TextRank keywords: 3 fixed-point PageRank iterations over the token
    * co-occurrence graph, top-50 by (score DESC, token) — the iterative
    * graph-compute operator beyond connected components, with integer
    * arithmetic that reproduces exactly on any engine.
    */
  def qTextRank(spark: SparkSession, dir: String): DataFrame =
    TextOps.textRank(Tables.documents(spark, dir), "text", iterations = 3, k = 50)

  /** BM25 retrieval: every 97th document's text as a query against the
    * full corpus, top-10 by the fixed-point BM25 score (self excluded) —
    * the inverted-index join shape ([[TextOps.bm25Search]]).
    */
  def qBm25(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    TextOps.bm25SearchFromScored(
      docs.filter(col("doc_id") % 97 === 0), "doc_id", "text", "doc_id",
      bm25ScoredArtifact(spark, dir), k = 10)
  }

  /** Incremental BM25 index maintenance, proven lossless BY CONSTRUCTION:
    * even/odd corpus halves are indexed separately, folded with
    * [[TextOps.mergeBm25Stats]], and searching the merged index must
    * reproduce q_bm25 bit-for-bit — shared oracle, the same pattern as
    * q_lm_incremental / q_vocab_incremental / q_knn_incremental.
    */
  def qBm25Incremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val merged = TextOps.mergeBm25Stats(
      TextOps.bm25Stats(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text"),
      TextOps.bm25Stats(docs.filter(col("doc_id") % 2 === 1), "doc_id", "text"))
    TextOps.bm25SearchFromStats(
      docs.filter(col("doc_id") % 97 === 0), "doc_id", "text", "doc_id",
      merged._1, merged._2, merged._3, merged._4, k = 10)
  }

  /** Distributed Lloyd k-means over the embeddings (k=8, 2 iterations) —
    * fully engine-exact in integer fixed point: assignments, centroid
    * means (truncated div) and final distances all hash-match the oracle,
    * which replays both iterations as unrolled CTEs.
    */
  def qKmeans(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.kmeansFixedPoint(
      Tables.embeddings(spark, dir), "vec_id", "embedding", k = 8, iters = 2)

  /** The sample-train / full-score k-means split: centroids trained on
    * the even-id half, every vector scored against the broadcast model —
    * one scan, no iteration over the scored corpus. Oracle-checked with
    * the same unrolled CTEs over the training subset.
    */
  def qKmeansAssign(spark: SparkSession, dir: String): DataFrame = {
    val vecs = Tables.embeddings(spark, dir)
    val model = SimilarityOps.kmeansCentroids(
      vecs.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", k = 8, iters = 2)
    SimilarityOps.kmeansAssign(vecs, "vec_id", "embedding", model)
  }

  /** Product-quantization codebook fit + full-corpus encode (m=8
    * subspaces of 8 dims, kSub=16 codewords, 2 Lloyd iterations) — the
    * compression step that turns a 64-dim vector into 8 codes. Fully
    * engine-exact in integer fixed point: the oracle replays the per-sub
    * fit and the final encode as unrolled CTEs, so codes AND per-sub
    * reconstruction errors hash-match.
    */
  def qPqEncode(spark: SparkSession, dir: String): DataFrame = {
    val vecs = Tables.embeddings(spark, dir)
    val codebooks = SimilarityOps.pqTrain(
      vecs, "vec_id", "embedding", dim = 64, m = 8, kSub = 16, iters = 2)
    SimilarityOps.pqEncode(vecs, "vec_id", "embedding", dim = 64, m = 8, codebooks)
  }

  /** IVF-PQ approximate nearest neighbors with exact re-rank: fixed-point
    * coarse quantizer (8 lists), per-sub PQ codebooks (m=8, kSub=16), ADC
    * candidate generation from the compressed codes alone (4 probed
    * lists, 8·k candidates), exact fixed-point L2 re-rank. Raw (non-
    * residual) encoding by design: the residual variant was prototyped
    * and measured on this corpus — recall 0.44 vs 0.42 raw at matched
    * settings — not worth the per-(probe, list) LUT it costs. Every stage is
    * integer-deterministic, so the whole approximate pipeline — both
    * fits, the encode, the ADC scores and the final ranks — is
    * oracle-checked end-to-end rather than recall-bounded.
    */
  def qAnnIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val vecs = Tables.embeddings(spark, dir)
    SimilarityOps.knnIvfPq(
      vecs, vecs.filter(col("vec_id") % 50 === 0), "vec_id", "embedding",
      dim = 64, m = 8, kSub = 16, k = 5, nLists = 8, nProbe = 4, iters = 2, rerank = 8)
  }

  /** Greedy BPE merge learning over the corpus vocabulary (10 merges) —
    * the subword-tokenizer training step. Fully deterministic (tie order
    * pinned), so the oracle replays all ten count→argmax→rewrite rounds
    * as unrolled CTEs and the learned merge table hash-matches. Derives
    * from the shared [[bpeTrainedArtifact]].
    */
  def qBpeMerges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    bpeTrainedArtifact(spark, dir)._1
      .toDF("merge_rank", "left_sym", "right_sym", "pair_count")
  }

  /** The subword vocabulary after those 10 merges: every symbol with its
    * frequency-weighted occurrence count — the token histogram the
    * trained tokenizer induces on its own training corpus. Shares the
    * oracle's merge rounds with q_bpe_merges and the staged artifact with
    * the whole family.
    */
  def qBpeVocab(spark: SparkSession, dir: String): DataFrame =
    TextOps.bpeVocabFrom(bpeTrainedArtifact(spark, dir)._2)

  /** The corpus encoded through the learned BPE merges: per-doc
    * word/subword counts and the md5 signature of the frequency-ranked
    * subword-id sequence — the apply-the-tokenizer step, corpus encoded
    * by two broadcast joins against the vocab-sized segmentation and the
    * bounded id table. Derives from the shared [[bpeTrainedArtifact]]
    * segmentation.
    */
  def qBpeEncode(spark: SparkSession, dir: String): DataFrame =
    TextOps.bpeEncodeFrom(
      Tables.documents(spark, dir), "doc_id", "text", bpeTrainedArtifact(spark, dir)._2)

  /** The persisted-tokenizer deployment split: merges trained on the
    * even-doc half only, then the FULL corpus encoded against that fixed
    * merge list ([[graft.ops.TextOps.bpeEncodeDocsWith]]) — the BPE
    * analogue of q_kmeans_assign's sample-train / full-score shape.
    */
  def qBpeAssign(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val merges = TextOps.bpeMergeList(
      docs.filter(col("doc_id") % 2 === 0), "text", nMerges = 10)
    TextOps.bpeEncodeDocsWith(docs, "doc_id", "text", merges.map(m => (m._2, m._3)))
  }

  /** WordPiece merge learning (10 merges) — the LIKELIHOOD-scored member
    * of the subword-trainer family (BPE merges by raw pair count, unigram
    * prunes by EM; WordPiece merges the pair maximizing
    * ln c(l,r) − ln c(l) − ln c(r), Schuster & Nakajima 2012). The score
    * quantizes each ln term to micro-nat BIGINTs before subtracting, so
    * the oracle replays all ten count→score→argmax→rewrite rounds as
    * unrolled CTEs and the learned table hash-matches, scores included.
    */
  def qWordpieceMerges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    wordpieceTrainedArtifact(spark, dir)._1
      .toDF("merge_rank", "left_sym", "right_sym", "merged_sym", "pair_count", "score_fp")
  }

  /** The corpus encoded through the learned WordPiece merges — the SHARED
    * encode tail ([[graft.ops.TextOps.bpeEncodeFrom]]: frequency-ranked
    * subword ids over the `##`-marked symbol vocabulary, per-doc counts +
    * ordered-id md5 signature), so all three tokenizer families ship the
    * identical deployment artifact shape. Derives from the shared
    * [[wordpieceTrainedArtifact]] segmentation.
    */
  def qWordpieceEncode(spark: SparkSession, dir: String): DataFrame =
    TextOps.bpeEncodeFrom(
      Tables.documents(spark, dir), "doc_id", "text", wordpieceTrainedArtifact(spark, dir)._2)

  /** DSIR importance weights (Xie et al. 2023): hashed unigram+bigram
    * bucket models fit on the English slice (the target distribution) vs
    * the whole corpus, each document scored by its integer micro-nat log
    * importance ratio — the data-selection signal that upsamples
    * target-like text. One corpus scan; the models are 4096-row
    * broadcasts.
    */
  def qDsirWeights(spark: SparkSession, dir: String): DataFrame =
    TextOps.dsirWeights(
      Tables.documents(spark, dir), "doc_id", "text", col("lang") === "en")

  /** The DSIR resampling step: top-100 documents by importance weight
    * (deterministic weight-ordered take, ties to the lower id) with their
    * selection rank — planned as TakeOrderedAndProject, never a global
    * sort.
    */
  def qDsirSelect(spark: SparkSession, dir: String): DataFrame =
    TextOps.dsirSelect(qDsirWeights(spark, dir), "doc_id", k = 100)

  /** Incremental DSIR: the bucket models are a counts monoid — built
    * per-batch over four disjoint doc slices and folded
    * ([[graft.ops.TextOps.dsirMergeModels]]), then the full corpus is
    * scored against the folded model. Shares q_dsir_weights' oracle: the
    * fold must be lossless.
    */
  def qDsirIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // ONE hashed-feature pass serves the four batch models AND the
    // full-corpus scorer: dsirFeatures is per-(doc, bucket) — a doc_id
    // filter commutes with it exactly — so the pre-r13 form re-ran the
    // n-gram explode + md5 kernel five times (4 disjoint quarters + the
    // scoring pass) for one pass's worth of distinct work. The four
    // batch models still aggregate and fold separately (the
    // incremental-maintenance path under proof is untouched); they just
    // read the staged features, exactly as a batch's features are
    // computed once at arrival in the operating deployment.
    val feats = TextOps.dsirFeatures(
      docs, "doc_id", "text", col("lang") === "en").scopedCache()
    val models = (0 to 3).map { k =>
      TextOps.dsirModelFromFeatures(
        feats.filter(pmod(col("doc_id"), lit(4)) === k))
    }
    TextOps.dsirWeightsFromModel(
      docs, "doc_id", feats, TextOps.dsirMergeModels(models))
  }

  /** MMR-diversified retrieval: per probe, the top-20 cosine candidates
    * re-selected down to 5 by maximal marginal relevance (λ=0.7) — the
    * redundancy-penalizing pick for near-duplicate-heavy pools. Fully
    * deterministic greedy (ties to lowest id), so the oracle replays all
    * five selection steps as unrolled CTEs and the picks hash-match.
    */
  def qMmrSelect(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val cand = SimilarityOps.knnBrute(
      emb, emb.filter(col("vec_id") % 50 === 0), "vec_id", "embedding", 20)
    SimilarityOps.mmrSelect(
      cand, emb.select(col("vec_id").as("neighbor_id"), col("embedding")),
      "probe_id", "neighbor_id", "sim", "embedding", k = 5, lam = 0.7)
  }

  /** Diversity coreset: greedy k-center (farthest-first) over the
    * embedding corpus — the 8 spread representatives plus the
    * non-increasing radius sequence ([[SimilarityOps.kCenterSelect]]).
    */
  def qKCenterSelect(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.kCenterSelect(
      Tables.embeddings(spark, dir), "vec_id", "embedding", k = 8)

  /** Training-data valuation: exact kNN-Shapley (K=5) of every non-probe
    * vector against the 1-in-50 labeled probe panel
    * ([[SimilarityOps.knnShapley]]) — negative values flag points that
    * actively pull K-NN predictions wrong on the panel.
    */
  def qKnnShapley(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    SimilarityOps.knnShapley(
      emb.filter(col("vec_id") % 50 =!= 0), emb.filter(col("vec_id") % 50 === 0),
      "vec_id", "embedding", "label", kNeigh = 5)
  }

  /** Unigram drift KL(even‖odd) between the two corpus halves — per-term
    * smoothed contributions in micro-nats (order-free integer total).
    */
  def qVocabDrift(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    TextOps.distributionDrift(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1),
      "text")
  }

  /** Incremental drift maintenance: each half's counts are folded from
    * quarter-stride batches with [[TextOps.mergeVocabCounts]]; the drift
    * over the folds must reproduce q_vocab_drift bit-for-bit (shared
    * oracle — the count-fold losslessness proof applied to the monitor).
    */
  def qVocabDriftIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    def counts(m: Int) = TextOps.vocabCounts(docs.filter(col("doc_id") % 4 === m), "text")
    TextOps.distributionDriftFromCounts(
      TextOps.mergeVocabCounts(counts(0), counts(2)),
      TextOps.mergeVocabCounts(counts(1), counts(3)))
  }

  /** Retrieval scorecard — MRR/hits@10/recall@10 of BM25 (dense %29 query
    * stride) against near-dup cluster co-membership as the relevance set:
    * a fully oracle-checked composition of two independently-verified
    * relations, with every metric in integer fixed point.
    */
  def qRetrievalEval(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val queries = docs.filter(col("doc_id") % 29 === 0)
    val results = TextOps.bm25SearchFromScored(
      queries, "doc_id", "text", "doc_id", bm25ScoredArtifact(spark, dir), k = 10)
    // the relevance set = query-involving near-dup pairs, which are a
    // FILTER of the staged session pair graph (neardupArtifact) —
    // the same verified relation eleven other consumers ride, and exactly
    // what this query's oracle derives relevance from (the full `pr` CTE
    // restricted to result queries). Reading the artifact replaces the
    // r7-r9 anchor-restricted re-derivation (jaccardPairsAgainst), whose
    // posting join was this query's second heavy leg: bit-identical by the
    // shared-oracle equality, and free given the staged artifact.
    val (pairsArt, _) = neardupArtifact(spark, dir)
    val qIds = queries.select(col("doc_id").as("query_id"))
    val rel = pairsArt.select(col("doc_a").as("query_id"), col("doc_b").as("doc_id"))
      .unionByName(pairsArt.select(col("doc_b").as("query_id"), col("doc_a").as("doc_id")))
      .join(qIds, Seq("query_id"), "left_semi")
    TextOps.retrievalEval(results, rel, "query_id", "doc_id", "rank", k = 10)
  }

  /** Hybrid retrieval — reciprocal-rank fusion of the sparse BM25 top-10
    * and the dense embedding-kNN top-10 over the same %97 query stride
    * (q_bm25's stride; doc_id and vec_id share the synthetic id space):
    * the standard two-leg hybrid search shape, fused entirely in integer
    * fixed point. Both legs are independently-oracled relations; the
    * fusion adds one dimension-sized aggregate and a per-query window.
    * (The denser %29 stride was benched first: its BM25 leg re-pays
    * q_retrieval_eval's already-measured ~10s term-join cost for no added
    * fusion coverage, so the registered query uses the sparser set.)
    */
  def qHybridRrf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val emb = Tables.embeddings(spark, dir)
    val sparse = TextOps.bm25SearchFromScored(
      docs.filter(col("doc_id") % 97 === 0), "doc_id", "text", "doc_id",
      bm25ScoredArtifact(spark, dir), k = 10)
    val dense = SimilarityOps.knnBrute(
      emb, emb.filter(col("vec_id") % 97 === 0), "vec_id", "embedding", k = 10)
      .select(col("probe_id").as("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    TextOps.rrfFuse(Seq(sparse, dense), "query_id", "doc_id", "rank", k = 10)
  }

  /** Per-source data card — the release report table (volume, exact-dup
    * rate, mean quality, dominant language per source), every ratio in
    * fixed point.
    */
  def qDataCard(spark: SparkSession, dir: String): DataFrame =
    TextOps.dataCard(Tables.documents(spark, dir), "doc_id", "text", "source")

  /** A shared session artifact: trained at most once per (session,
    * corpus dir) and memoized — the staged operating mode for a query
    * family (train, persist the artifact, fan out consumers), which is
    * how a deployment runs it. Every entry's relations are
    * localCheckpoint-backed, so reuse replays joins over materialized
    * RDDs, never the trainer; results are bit-identical to per-query
    * training (deterministic trainers, same corpus), so every oracle is
    * unchanged. The memo is keyed by session identity, so a restarted
    * session retrains. Memoization, clearing and the artifact-phase
    * timing all derive from the one [[artifacts]] list.
    */
  private final class Artifact[A](val name: String, build: (SparkSession, String) => A) {
    private val memo = new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), A]()
    def apply(spark: SparkSession, dir: String): A =
      memo.computeIfAbsent((spark, dir), _ => build(spark, dir))
    def clear(): Unit = memo.clear()
    def memoized: Boolean = !memo.isEmpty
  }

  /** The trained-unigram artifact for the whole unigram family: the
    * hard-EM trainer runs ONCE and every downstream product (vocab,
    * segmentation, corpus encoding, the staged union) derives from the
    * returned (vocab, segs) pair. Vocabulary-bounded in memory.
    */
  private val unigramArtifact = new Artifact("artifact_unigram_train", (spark, dir) =>
    TextOps.unigramTrain(Tables.documents(spark, dir), "text"))

  /** The trained-BPE artifact: the 10-merge sequential trainer runs once
    * and the merge table, the induced vocabulary, the corpus encoding
    * and the tokenizer report's BPE leg all derive from the returned
    * (merges, segmentation) pair. The merge table is a driver-side list,
    * so reuse replays no merge rounds.
    */
  private val bpeTrainedArtifact = new Artifact("artifact_bpe_train", (spark, dir) =>
    TextOps.bpeArtifact(Tables.documents(spark, dir), "text", nMerges = 10))

  /** The trained-WordPiece artifact, the [[bpeTrainedArtifact]]
    * treatment for the THIRD tokenizer family: the merge table and
    * corpus encoding both derive from the returned (merges,
    * segmentation) pair.
    */
  private val wordpieceTrainedArtifact = new Artifact("artifact_wordpiece_train", (spark, dir) =>
    TextOps.wordpieceArtifact(Tables.documents(spark, dir), "text", nMerges = 10))

  /** The verified near-dup PAIR GRAPH (word-3-gram Jaccard ≥ 0.5 over
    * documents) and its connected-components labeling (every doc,
    * singletons self-labeled). NINE registered queries consume this one
    * relation (clusters, keeper election, cluster split, label
    * propagation, PageRank, triangles, split leakage, the curation chain
    * and both manifests); staged, the suite pays the shingle join and
    * the CC rounds once instead of once per query.
    */
  private val neardupArtifact = new Artifact("artifact_neardup_pairs", (spark, dir) => {
    val docs = Tables.documents(spark, dir)
    val pairs = DedupOps
      .jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .localCheckpoint(true)
    val labels = docs.select(col("doc_id").as("id"))
      .join(DedupOps.connectedComponents(pairs, "doc_a", "doc_b"), Seq("id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("id")))
      .localCheckpoint(true)
    (pairs, labels)
  })

  private[graft] def neardupArtifactForTest(spark: SparkSession, dir: String): DataFrame =
    neardupArtifact(spark, dir)._1

  /** The BM25 index over the documents table (postings, doc lengths, df,
    * corpus totals) and, over it, the QUERY-INDEPENDENT scored posting
    * relation ([[TextOps.bm25ScoredPostings]]) — the one thing the
    * retrieval family consumes: q_bm25, q_retrieval_eval and
    * q_hybrid_rrf's sparse leg search the SAME corpus index, and an
    * operating deployment maintains it once ([[TextOps.mergeBm25Stats]]
    * is the fold). Unstaged, each query re-derived every per-posting
    * weight, and that scoring projection's first execution was the
    * query's unbounded-variance leg (4-24s across captures, the r11
    * q_retrieval_eval finding). Staged, each query's marginal plan is
    * join + accumulate + heap top-k over a materialized 3-column
    * relation, and the scoring cost is paid here, in the artifact phase,
    * where it is its own tracked number. The incremental query keeps
    * building its per-half stats self-contained — that build IS its
    * subject matter (the fold losslessness proof).
    */
  private val bm25ScoredArtifact = new Artifact("artifact_bm25_index", (spark, dir) => {
    val (tf, dl, dfreq, stats) =
      TextOps.bm25Stats(Tables.documents(spark, dir), "doc_id", "text")
    TextOps.bm25ScoredPostings(
      tf.localCheckpoint(true), dl.localCheckpoint(true),
      dfreq.localCheckpoint(true), stats.localCheckpoint(true), "doc_id")
      .localCheckpoint(true)
  })

  /** The staged HNSW index (working relation + scored pair relation
    * under the frozen fit, both checkpointed): q_ann_hnsw and
    * q_ann_hnsw_incr ride ONE quantizer fit, corpus routing and pair
    * scoring instead of recomputing them per query (13% of the r11
    * suite wall-clock). The incr query's hash-match against the shared
    * oracle remains the staged≡from-scratch proof.
    */
  private val hnswIndexArtifact = new Artifact("artifact_hnsw_index", (spark, dir) =>
    SimilarityOps.hnswStageIndex(
      Tables.embeddings(spark, dir), "vec_id", "embedding",
      nLists = 16, nProbe = 3, iters = 2))

  /** Every shared session artifact, in artifact-phase order. */
  private val artifacts: Seq[Artifact[_]] = Seq(
    unigramArtifact, bpeTrainedArtifact, wordpieceTrainedArtifact,
    neardupArtifact, bm25ScoredArtifact, hnswIndexArtifact)

  /** Drop every memoized trained artifact. Harness hook: Bench clears
    * after its warmup pass so the warmup-scale artifacts'
    * localCheckpoint blocks become collectable (the memo would otherwise
    * pin them through the measured run), then explicitly re-trains at
    * the bench scale via [[trainArtifacts]].
    */
  def clearTrainedArtifacts(): Unit = artifacts.foreach(_.clear())

  /** Names of the artifacts currently memoized for any session. */
  private[graft] def memoizedArtifacts: Seq[String] = artifacts.filter(_.memoized).map(_.name)

  /** Train every shared session artifact for `dir` NOW and return each
    * training's wall-clock — the bench's explicit artifact phase. With
    * the suite staged (family queries ride the memo), per-query times
    * are marginal cost GIVEN the artifact; this is where the trainers'
    * own cost is measured and reported, so a trainer regression shows up
    * as its own tracked number instead of hiding inside whichever family
    * query happens to run first — and the >1.5× retry adjudication stays
    * work-equivalent for every family query (the memo state at retry
    * matches the measured pass). Per-artifact fault isolation: one
    * trainer throwing (bad data, OOM) reports -1 for ITS entry; the
    * others still train and time, and the caller's query loop surfaces
    * the broken family's queries individually.
    */
  def trainArtifacts(spark: SparkSession, dir: String): Seq[(String, Double)] =
    artifacts.map { a =>
      val t0 = System.nanoTime()
      try { a(spark, dir); a.name -> (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable =>
        System.err.println(s"[artifacts] ${a.name} failed: ${e.getMessage}")
        a.name -> -1.0
      }
    }

  /** ONE definition of the segmentation cell packing (the scalar-cell
    * contract: space-joined pieces, mirrored by the oracles'
    * `coalesce(array_to_string(path, ' '), '')`) — shared by all three
    * registered projections so they cannot drift from each other.
    */
  private def scalarPieces: Column = array_join(col("pieces"), " ").as("pieces")

  /** Unigram-LM tokenizer training (SentencePiece-style hard-EM): the
    * learned piece inventory with quantized log-probs after two EM
    * rounds over the corpus vocabulary. Derives from the shared
    * [[unigramArtifact]].
    */
  def qUnigramVocab(spark: SparkSession, dir: String): DataFrame =
    unigramArtifact(spark, dir)._1

  /** The final Viterbi segmentation of every vocabulary word under the
    * trained unigram scores — (word, pieces, score_fp) with `pieces`
    * space-joined to a SCALAR cell (the qCoverageMap packed-list
    * convention: every registered query emits atomic columns only, the
    * driver-harness sort/hash contract OutputContractSpec pins).
    */
  def qUnigramSegment(spark: SparkSession, dir: String): DataFrame =
    unigramArtifact(spark, dir)._2
      .select(col("word"), scalarPieces, col("score_fp"))

  /** Greedy maximal-munch apply of the staged unigram inventory
    * ([[TextOps.greedySegmentWith]] over [[unigramArtifact]]'s vocab) —
    * the WordPiece-style longest-match decode next to the same
    * inventory's Viterbi optimum (q_unigram_segment), `pieces`
    * space-joined to a scalar cell like its sibling.
    */
  def qGreedySegment(spark: SparkSession, dir: String): DataFrame = {
    val (vocab, _) = unigramArtifact(spark, dir)
    TextOps.greedySegmentWith(
      Tables.documents(spark, dir), "text", vocab.select(col("piece")))
      .select(col("word"), scalarPieces, col("n_pieces"))
  }

  /** The persisted-tokenizer deployment split for the unigram family
    * (q_bpe_assign's analog): scores trained on the even-doc half, the
    * FULL corpus vocabulary segmented under the frozen table — one
    * Viterbi pass, no EM. (Trains its OWN artifact by design — a
    * different corpus split — so it cannot share [[unigramArtifact]].)
    * `pieces` space-joined to a scalar cell like [[qUnigramSegment]].
    */
  def qUnigramAssign(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val (vocab, _) = TextOps.unigramTrain(docs.filter(col("doc_id") % 2 === 0), "text")
    TextOps.unigramSegmentWith(docs, "text", vocab.select(col("piece"), col("lp_fp")))
      .select(col("word"), scalarPieces, col("score_fp"))
  }

  /** Corpus encoding through the trained unigram tokenizer — the same
    * deployment artifact shape as q_bpe_encode (subword ids, counts,
    * ordered-id signature), from the other tokenizer family. Derives from
    * the shared [[unigramArtifact]] segmentation.
    */
  def qUnigramEncode(spark: SparkSession, dir: String): DataFrame =
    TextOps.unigramEncodeFrom(
      Tables.documents(spark, dir), "doc_id", "text", unigramArtifact(spark, dir)._2)

  /** The STAGED unigram family in one relation (the
    * q_curation_manifest_staged precedent): the EM artifact is trained
    * once and all three full-corpus products — piece inventory, word
    * segmentation, corpus encoding — are derived from it and emitted as a
    * tagged union (kind = 'vocab' | 'segment' | 'encode'). The oracle is
    * the union of the three self-contained oracles over ONE shared CTE
    * block, so the hash-match proves the staged pipeline reproduces every
    * product exactly. (q_unigram_assign stays outside: its artifact is
    * trained on a different corpus split by design.)
    */
  def qUnigramStaged(spark: SparkSession, dir: String): DataFrame = {
    val (vocab, segs) = unigramArtifact(spark, dir)
    val vocabLeg = vocab.select(
      lit("vocab").as("kind"), col("piece"), col("cnt"), col("lp_fp").as("score_fp"))
    val segLeg = segs.select(
      lit("segment").as("kind"), col("word"),
      scalarPieces, col("score_fp"))
    val encLeg = TextOps
      .unigramEncodeFrom(Tables.documents(spark, dir), "doc_id", "text", segs)
      .select(lit("encode").as("kind"),
        col("doc_id"), col("n_words"), col("n_subwords"), col("ids_sig"))
    vocabLeg
      .unionByName(segLeg, allowMissingColumns = true)
      .unionByName(encLeg, allowMissingColumns = true)
  }

  /** Tokenizer-selection report: per (family, source) FERTILITY — subwords
    * per word, the standard metric for choosing between subword trainers —
    * of BOTH tokenizer families over the same corpus, from their trained
    * artifacts (the unigram leg reuses the staged [[unigramArtifact]]; the
    * BPE leg its 10-merge training). Output (family, source, n_docs,
    * n_words, n_subwords, fertility_fp) with fertility in truncated-div
    * millionths — engine-exact. Docs whose text yields no tokens have no
    * encode row and are absent from n_docs (both engines; the data card
    * covers raw volumes). Scale shape: both encode legs are the
    * broadcast-join corpus scans of their registered encode queries; the
    * report adds one source-keyed aggregate each — dimension-sized output.
    */
  def qTokenizerReport(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val src = docs.select(col("doc_id"), col("source"))
    def leg(enc: DataFrame, family: String): DataFrame =
      enc.join(src, "doc_id")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("n_words"),
          sum(col("n_subwords")).as("n_subwords"))
        .select(lit(family).as("family"), col("source"), col("n_docs"),
          col("n_words"), col("n_subwords"),
          expr("n_subwords * 1000000 div n_words").as("fertility_fp"))
    leg(TextOps.unigramEncodeFrom(docs, "doc_id", "text", unigramArtifact(spark, dir)._2),
      "unigram")
      .unionByName(leg(
        TextOps.bpeEncodeFrom(docs, "doc_id", "text", bpeTrainedArtifact(spark, dir)._2),
        "bpe"))
  }

  /** Blocklist policy screen over the corpus — a fixed categorized term
    * list (three categories present in the vocabulary at different rates
    * plus one absent term, so zero-hit/flag/drop paths all fire),
    * flag ≥ 3 hits, drop ≥ 9.
    */
  def qBlocklistScreen(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val terms = Seq(
      ("slow", "performance"), ("crash", "stability"),
      ("dup", "duplication"), ("big", "size"), ("zzzunseen", "absent"))
      .toDF("term", "category")
    TextOps.blocklistScreen(
      Tables.documents(spark, dir), "doc_id", "text", terms, flagAt = 3L, dropAt = 9L)
  }

  /** Gopher rule-based quality gate ([[TextOps.gopherRules]], the Rae et
    * al. 2021 Appendix-A rule set) with four deterministic plants so
    * every rule fires BOTH ways on the word-soup corpus: a full
    * stopword sentence (%31), a symbol storm that breaks the
    * symbol-to-word ratio (%37), ten bullet lines (%41) and five
    * ellipsis-ended lines (%43). All thresholds evaluate by integer
    * cross-multiplication — engine-exact booleans, no float division.
    */
  def qGopherRules(spark: SparkSession, dir: String): DataFrame = {
    val planted = Tables.documents(spark, dir).withColumn("text",
      concat(col("text"),
        when(col("doc_id") % 31 === 0,
          lit(" the cat must be close to all of them and that they have fun with it"))
          .otherwise(lit("")),
        when(col("doc_id") % 37 === 0,
          lit(" ######### ... ... ... ... ############")).otherwise(lit("")),
        when(col("doc_id") % 41 === 0,
          lit("\n- a\n- b\n- c\n- d\n- e\n- f\n- g\n- h\n- i\n- j")).otherwise(lit("")),
        when(col("doc_id") % 43 === 0,
          lit("\nwell...\nso...\nhmm...\nyes...\nno...")).otherwise(lit(""))))
    TextOps.gopherRules(planted, "doc_id", "text")
  }

  /** The FULL Gopher repetition rule family (Rae et al. 2021 Appendix A.1,
    * the companion to [[qGopherRules]]): dup line/paragraph fractions and
    * character fractions, top 2–4-gram character fractions, dup 5–10-gram
    * character fractions, gated with strict `>` integer cross-multiplication.
    * Six plants by doc_id modulus make every rule fire both ways: repeated
    * lines (%23), repeated paragraphs (%29), a hot 2-gram (%31) / 3-gram
    * (%37) / 4-gram (%41), and a looped 10-token sentence (%43) that lights
    * the whole dup-5..10-gram family; non-multiples keep the word-soup
    * corpus's near-zero repetition. The oracle replays plant + statistics
    * step for step (coverage via position arithmetic over dup windows).
    */
  def qGopherRepetition(spark: SparkSession, dir: String): DataFrame = {
    val planted = Tables.documents(spark, dir).withColumn("text",
      concat(col("text"),
        when(col("doc_id") % 23 === 0,
          concat(lit("\n"), repeat(lit("zig zag zug repeated line\n"), 6)))
          .otherwise(lit("")),
        when(col("doc_id") % 29 === 0,
          repeat(lit("\n\nthe same paragraph appears again"), 5)).otherwise(lit("")),
        when(col("doc_id") % 31 === 0, repeat(lit(" foo bar"), 60)).otherwise(lit("")),
        when(col("doc_id") % 37 === 0, repeat(lit(" one two three"), 40)).otherwise(lit("")),
        when(col("doc_id") % 41 === 0, repeat(lit(" quad gram test word"), 30)).otherwise(lit("")),
        when(col("doc_id") % 43 === 0,
          repeat(lit(" alpha bravo charlie delta echo foxtrot golf hotel india juliet"), 8))
          .otherwise(lit(""))))
    TextOps.gopherRepetition(planted, "doc_id", "text")
  }

  /** Corpus-trained interpolated bigram LM score (CCNet/KenLM-style
    * perplexity quality filter) — per-document mean negative log-likelihood
    * from fixed-point-quantized log-probs (order-free integer sums, so the
    * float-summation-order hazard cannot exist on either engine).
    */
  def qLmScore(spark: SparkSession, dir: String): DataFrame =
    TextOps.lmScore(Tables.documents(spark, dir), "doc_id", "text")

  /** Shared plant for the domain-reputation pair: a synthetic host per doc
    * (17 `site*` domains; every ~97th doc its own single-doc `solo*`
    * domain), with a punctuation-junk plant on the SAME residues that form
    * domains site0..site7 — so those domains' mean quality drops below the
    * 0.57 gate BY CONSTRUCTION at every scale factor (no
    * distribution-luck dependence), site8..site16 stay clean above it, and
    * the solo domains exercise the minDocs evidence rule. Both queries
    * MUST share this construction byte-identically (they share the
    * oracle).
    */
  private[graft] def domainPlantedDocsForTest(spark: SparkSession, dir: String): DataFrame =
    domainPlantedDocs(spark, dir)

  private def domainPlantedDocs(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    Tables.documents(spark, dir).select(
      col("doc_id"),
      when(id % 97 === 0,
        concat(lit("solo"), (id % 9999).cast("string"), lit(".example.com")))
        .otherwise(concat(lit("site"), (id % 17).cast("string"), lit(".example.com")))
        .as("domain"),
      when(id % 97 =!= 0 && id % 17 < 8,
        concat(col("text"), lit(" "), repeat(lit("!!! ;;; ??? ::: ... "), 10)))
        .otherwise(col("text")).as("text"))
  }

  /** RefinedWeb-style domain reputation: per-host quality prior (mean
    * fixed-point quality + document count), gated and joined back onto
    * every document ([[graft.ops.TextOps.domainReputation]]).
    */
  def qDomainReputation(spark: SparkSession, dir: String): DataFrame =
    TextOps.domainReputation(domainPlantedDocs(spark, dir), "doc_id", "domain", "text")

  /** Incremental fold form: stats from two disjoint halves merged with
    * [[graft.ops.TextOps.mergeDomainStats]] must reproduce the one-pass
    * verdicts — shares q_domain_reputation's oracle verbatim (the
    * counts-monoid losslessness proof, the lm/vocab-counts discipline).
    */
  def qDomainReputationIncr(spark: SparkSession, dir: String): DataFrame = {
    val docs = domainPlantedDocs(spark, dir)
    val merged = TextOps.mergeDomainStats(
      TextOps.domainStats(docs.filter(col("doc_id") % 2 === 0), "domain", "text"),
      TextOps.domainStats(docs.filter(col("doc_id") % 2 =!= 0), "domain", "text"))
    TextOps.domainReputation(
      docs, "doc_id", "domain", "text", stats = Some(merged))
  }

  /** CCNet head/middle/tail perplexity terciles per predicted language
    * ([[graft.ops.TextOps.ccnetBuckets]]) — the canonical LM-filtered
    * web-corpus mixing stage, over the same fixed-point LM as q_lm_score.
    */
  def qCcnetBuckets(spark: SparkSession, dir: String): DataFrame =
    TextOps.ccnetBuckets(Tables.documents(spark, dir), "doc_id", "text")

  /** GPT-style sequence packing: documents laid end-to-end per shard
    * (8 shards by doc_id), chunked every 512 tokens; each document's span
    * and chunk range is a pure function of (id, token count).
    */
  def qPackSequences(spark: SparkSession, dir: String): DataFrame =
    SamplingOps.packSequences(
      Tables.documents(spark, dir), "doc_id", "text", chunkTokens = 512, nShards = 8)

  /** Train/eval 8-gram decontamination with a deterministic canary: docs
    * with doc_id % 97 == 0 form the eval set, every 13th remaining doc gets
    * the same canary sentence appended (the raw word-soup corpus shares no
    * natural 8-grams, so the injection makes the leak-detection path
    * actually fire and be oracle-checked — same pattern as q_pii_scrub).
    */
  def qDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val (trainDocs, evalDocs) = decontaminationInputs(Tables.documents(spark, dir))
    DedupOps.decontaminate(trainDocs, evalDocs, "doc_id", "text", n = 8)
  }

  /** Multi-benchmark decontamination attribution: TWO synthetic eval sets
    * (doc_id%97 with canary A, doc_id%89 with canary B) against the
    * remaining docs as train (canary A planted at %13, canary B at %11 —
    * docs divisible by both carry both), so every attribution path fires
    * and is oracle-checked: per-(doc, eval_set) shared-gram counts.
    */
  def qDecontaminateMulti(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val ca = lit(" the quick brown fox jumps over the lazy dog again and again")
    val cb = lit(" pack my box with five dozen liquor jugs every single day")
    val isA = col("doc_id") % 97 === 0
    val isB = (col("doc_id") % 89 === 0) && !(col("doc_id") % 97 === 0)
    val evalA = docs.filter(isA).withColumn("text", concat(col("text"), ca))
    val evalB = docs.filter(isB).withColumn("text", concat(col("text"), cb))
    val train = docs.filter(!isA && !isB)
      .withColumn("text", concat(col("text"),
        when(col("doc_id") % 13 === 0, ca).otherwise(lit("")),
        when(col("doc_id") % 11 === 0, cb).otherwise(lit(""))))
    DedupOps.decontaminateMulti(
      train, Seq("benchmark_a" -> evalA, "benchmark_b" -> evalB), "doc_id", "text", n = 8)
  }

  /** Shared (train, eval) construction for the two decontamination queries —
    * they share [[decontaminationOracle]] verbatim, so the canary/modulus
    * prep MUST stay byte-identical between them; one helper removes the
    * desynchronization hazard.
    */
  private def decontaminationInputs(docs: DataFrame): (DataFrame, DataFrame) = {
    val canary = lit(" the quick brown fox jumps over the lazy dog again and again")
    val isEval = col("doc_id") % 97 === 0
    val evalDocs = docs.filter(isEval)
      .select(col("doc_id"), concat(col("text"), canary).as("text"))
    val trainDocs = docs.filter(!isEval)
      .select(
        col("doc_id"),
        when(col("doc_id") % 13 === 0, concat(col("text"), canary))
          .otherwise(col("text")).as("text"))
    (trainDocs, evalDocs)
  }

  /** Bloom-prefiltered decontamination — BY CONSTRUCTION row-identical to
    * [[qDecontaminate]] (the bloom pass has no false negatives and survivors
    * are exact-verified), so it shares that query's DuckDB oracle verbatim:
    * the hash-match proves the sketch path loses nothing. This is the scale
    * form for eval-gram sets too big to broadcast as an exact hash relation
    * (~1.2 bytes/gram at fpp=0.01 vs 8+ bytes exact).
    */
  def qDecontaminateBloom(spark: SparkSession, dir: String): DataFrame = {
    val (trainDocs, evalDocs) = decontaminationInputs(Tables.documents(spark, dir))
    DedupOps.decontaminateBloom(trainDocs, evalDocs, "doc_id", "text", n = 8, fpp = 0.01)
  }

  /** Line-level boilerplate removal with a deterministic injection: the raw
    * corpus is word-soup with no newlines, so the query first lays each
    * document out as 12-token lines, then PREPENDS a nav-bar line to every
    * 3rd document and APPENDS a copyright-footer line to every 5th — the
    * cross-document repeated lines a web crawl actually has. lineDedup at
    * maxDocFreq=20 must strip exactly those (header df≈167, footer df=100,
    * organic 12-token lines df≈1), and the DuckDB oracle re-derives the
    * whole construction, so the hash-match covers injection, df counting
    * and order-preserving reconstruction together.
    */
  def qLineDedup(spark: SparkSession, dir: String): DataFrame =
    DedupOps.lineDedup(
      boilerplateLinedDocs(Tables.documents(spark, dir)),
      "doc_id", "text", maxDocFreq = 20L)

  /** 12-token lining + nav/footer boilerplate injection over a (doc_id,
    * text) relation — the construction the q_line_dedup oracle re-derives.
    */
  private def boilerplateLinedDocs(docs: DataFrame): DataFrame = {
    val lined = DedupOps.bindOnce(TextOps.tokens(col("text"))) { ts =>
      when(size(ts) === 0, lit(""))
        .otherwise(array_join(
          transform(
            sequence(lit(0), floor((size(ts) - 1) / lit(12)).cast("int")),
            j => concat_ws(" ", slice(ts, j * 12 + 1, lit(12)))),
          "\n"))
    }
    docs.select(
      col("doc_id"),
      concat(
        when(col("doc_id") % 3 === 0, lit("nav home about contact login search\n"))
          .otherwise(lit("")),
        lined,
        when(col("doc_id") % 5 === 0, lit("\ncopyright 2026 all rights reserved worldwide"))
          .otherwise(lit(""))).as("text"))
  }

  /** Deterministic global shuffle of the corpus into 16 training shards:
    * (shard, pos) is a pure function of md5("42:" || doc_id), so the shard
    * layout is byte-stable across engines and cluster layouts — which is
    * exactly what the DuckDB oracle checks.
    */
  def qShuffleShards(spark: SparkSession, dir: String): DataFrame =
    SamplingOps.shuffleShards(
      Tables.documents(spark, dir).select(col("doc_id")),
      "doc_id", nShards = 16, seed = "42")
      .select(col("doc_id"), col("shard"), col("pos"))

  /** Weighted epoch upsampling with a deterministic synthetic weight
    * (0.25 + (doc_id % 40)/10 spans sub-1× drops through 4× repeats, so the
    * zero-copy, fractional and integer regimes are all exercised); the
    * oracle re-derives the Knuth-hash coin flip exactly.
    */
  def qUpsampleEpochs(spark: SparkSession, dir: String): DataFrame =
    SamplingOps.upsampleByWeight(
      Tables.documents(spark, dir)
        .select(col("doc_id"), (lit(0.25) + (col("doc_id") % 40) / lit(10.0)).as("weight")),
      "doc_id", "weight")
      .select(col("doc_id"), col("weight"), col("n_copies"), col("copy_idx"))

  /** Overlapping 64-token / stride-48 chunking (RAG & long-context prep):
    * each chunk overlaps its neighbor by 16 tokens. The final-short-chunk
    * path is exercised by the corpus (doc lengths are not stride
    * multiples); the empty-document single-empty-chunk contract is covered
    * by SamplingSpec (no corpus doc is empty) and the oracle coalesces
    * DuckDB's NULL-for-empty-list array_to_string to '' to match it.
    */
  def qChunkDocs(spark: SparkSession, dir: String): DataFrame =
    SamplingOps.chunkDocs(
      Tables.documents(spark, dir), "doc_id", "text", chunkTokens = 64, strideTokens = 48)

  /** Brute-force cosine top-10 for probe vectors vec_id < 20. Window-rank
    * form here (faster at this corpus size); the bounded-heap aggregator
    * form (SimilarityOps.knnBruteAgg — map-side partial top-k, the winning
    * shape once per-probe candidate sets dwarf k·partitions) is proven
    * row-identical in SimilaritySpec.
    */
  def qEmbeddingKnn(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    SimilarityOps.knnBrute(emb, emb.filter(col("vec_id") < 20), "vec_id", "embedding", k = 10)
  }

  /** Two-stage truncated-prefix ANN over the same probe set as
    * q_embedding_knn: 16-of-64-dim prefilter (4× cheaper scoring pass)
    * to 60 candidates, exact rerank to top 10 — the DETERMINISTIC ANN
    * variant whose result relation (scores, candidate ranks and all)
    * hash-matches a full two-stage oracle replay. The synthetic
    * isotropic embeddings are the WORST case for prefix truncation
    * (no MRL/PCA variance front-loading): measured recall@10 vs brute
    * is 0.54 here and spec-pinned as the mechanism-regression canary.
    */
  def qAnnTruncated(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    SimilarityOps.knnTruncatedRerank(
      emb, emb.filter(col("vec_id") < 20), "vec_id", "embedding",
      prefixDims = 16, candK = 60, k = 10)
  }

  /** Hard-negative mining: for the anchor set (every 10th vector), the
    * top-5 most-similar vectors with a DIFFERENT label — contrastive
    * near-misses, knn rules plus the label-inequality predicate
    * ([[SimilarityOps.hardNegatives]]).
    */
  def qHardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    SimilarityOps.hardNegatives(
      emb, emb.filter(col("vec_id") % 10 === 0), "vec_id", "embedding", "label", k = 5)
  }

  /** Margin-based bitext mining over the parity split of the embedding
    * corpus (even vec_ids = source side, odd = target side): forward and
    * backward top-4 neighborhoods, nano-fixed-point neighborhood sums,
    * ratio margin ≥ 1.05, best target per source with the mutual-top-k
    * flag ([[SimilarityOps.bitextMine]]).
    */
  def qBitextMine(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    SimilarityOps.bitextMine(
      emb.filter(pmod(col("vec_id"), lit(2)) === 0),
      emb.filter(pmod(col("vec_id"), lit(2)) === 1),
      "vec_id", "embedding", k = 4, marginFpMin = 1050000L)
  }

  /** Per-class centroid distances with farthest-first outlier flags
    * (top-5 per label) — the embedding-quality audit, fixed-point
    * centroids + dot-identity distances so even the doubles hash-match
    * ([[SimilarityOps.classCentroidOutliers]]).
    */
  def qClassOutliers(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.classCentroidOutliers(
      Tables.embeddings(spark, dir), "vec_id", "embedding", "label", k = 5)

  /** Embedding-space drift monitor: each label's centroid distance to the
    * corpus centroid plus its corpus share — the re-embedded/mis-normalized
    * partition check.
    */
  def qEmbeddingDrift(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.centroidDrift(Tables.embeddings(spark, dir), "embedding", "label")

  /** Incremental maintenance of the embedding-drift monitor: four
    * disjoint vec-id batches contribute (label, dim) sums, the sums fold,
    * centroids/shares/distances derive AFTER the fold — must reproduce
    * q_embedding_drift bit-for-bit (shared oracle; the histogram-drift
    * fold discipline applied to centroid statistics).
    */
  def qEmbeddingDriftIncremental(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val batches = (0 until 4).map(m =>
      emb.filter(coalesce(pmod(col("vec_id"), lit(4)), lit(0)) === m))
    SimilarityOps.centroidDriftFromSums(
      SimilarityOps.mergeCentroidSums("label")(
        batches.map(SimilarityOps.centroidSums(_, "embedding", "label")): _*),
      "label")
  }

  /** Incremental top-k maintenance, proven BY CONSTRUCTION equal to the
    * one-shot knn: the corpus is split in half (even/odd vec_id), each half
    * is scored separately, and knnMerge of the halves must reproduce
    * q_embedding_knn bit-for-bit — the two queries share one oracle, so the
    * hash-match is the grow-the-corpus-without-rescoring proof.
    */
  def qKnnIncremental(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val probes = emb.filter(col("vec_id") < 20)
    val stored = SimilarityOps.knnBrute(
      emb.filter(col("vec_id") % 2 === 0), probes, "vec_id", "embedding", k = 10)
    val delta = SimilarityOps.knnBrute(
      emb.filter(col("vec_id") % 2 === 1), probes, "vec_id", "embedding", k = 10)
    SimilarityOps.knnMerge(stored, delta, k = 10)
  }

  /** Embedding-cosine near-duplicate pairs at cosine ≥ 0.4 — the EXACT
    * REFERENCE RELATION of the semantic-dedup family, deliberately kept
    * registered alongside the scale path: this is the ground truth that
    * `q_embedding_neardup_blocked`'s recall (≥ 0.9, spec-pinned) and
    * `q_semantic_dedup`'s blocked composition are measured AGAINST, the
    * knnBrute-vs-IVF convention. The plan is a broadcast upper-triangle
    * scan with the native dot kernel — O(n²) BY CONTRACT, bounded to
    * reference/audit corpus sizes (a recall denominator has to be exact;
    * sub-quadratic production dedup is the blocked query's job).
    */
  def qEmbeddingNeardup(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.cosineNearDupPairs(
      Tables.embeddings(spark, dir), "vec_id", "embedding", threshold = 0.4)

  /** Embedding near-dup pairs via k-means-list blocking, on the
    * FIXED-POINT quantizer ([[graft.ops.SimilarityOps
    * .cosineNearDupPairsBlockedFp]]) — the registered scale path, now with
    * a full SQL oracle: the integer Lloyd rounds unroll into CTEs (the
    * q_kmeans discipline), the multi-probe routing is an integer-argmin
    * window, and the verify leg is the same exact cosine the exact form
    * oracles. The MLlib-fitted variant stays available
    * ([[graft.ops.SimilarityOps.cosineNearDupPairsBlocked]], recall
    * spec-pinned); SimilaritySpec pins the fp form's recall against the
    * exact O(n²) triangle (sub-quadratic candidate growth was measured at
    * `387020f`).
    */
  def qEmbeddingNeardupBlocked(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.cosineNearDupPairsBlockedFp(
      Tables.embeddings(spark, dir), "vec_id", "embedding", threshold = 0.4,
      nLists = 8, nProbe = 2, iters = 2)

  /** SemDeDup-style semantic dedup: embedding-cosine near-dup pairs
    * resolved into TRANSITIVE clusters (A~B, B~C ⟹ one cluster, one
    * keeper) — the embedding-space analog of q_neardup_clusters. The pair
    * leg is the SCALE path: fixed-point k-means-blocked candidates
    * (engine-exact, so the oracle replays the Lloyd rounds as unrolled
    * CTEs) verified by exact cosine — through round 9 this query planned
    * the O(n²) exact triangle, fine at sf0.1 and a cartesian scale-killer
    * at 100×; the exact form remains registered as q_embedding_neardup
    * (the ≤10⁴-vector regime and the blocked family's differential
    * baseline). Cluster resolution runs through connectedComponentsFast
    * (large-star/small-star), so the pointer-doubling CC keeps its ORACLE
    * here — the recursive-CTE reachability oracle is an independent
    * method. Zero-norm vectors pair with nothing and label themselves
    * (singleton keepers).
    */
  def qSemanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val pairs = SimilarityOps.cosineNearDupPairsBlockedFp(
      emb, "vec_id", "embedding", threshold = 0.4, nLists = 8, nProbe = 2, iters = 2)
    val cc = DedupOps.connectedComponentsFast(pairs, "id_a", "id_b")
    val labeled = emb.select(col("vec_id"))
      .join(cc.withColumnRenamed("id", "vec_id"), Seq("vec_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("vec_id")))
    val sizes = labeled.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    labeled.join(sizes, "cluster_id")
      .select(col("vec_id"), col("cluster_id"), col("cluster_size"),
        (col("vec_id") === col("cluster_id")).as("is_keeper"))
  }

  /** Multimodal packing: opaque binary payload + typed metadata (the decode
    * stage itself is mapPartitions-based, covered in ScalaTest; the packed
    * relation is oracle-checked here).
    */
  def qBinaryMeta(spark: SparkSession, dir: String): DataFrame =
    MultimodalOps
      .packBinary(Tables.documents(spark, dir), "doc_id", "text", "text")
      .select(col("media_id"), col("kind"), col("n_bytes"))

  /** Frame sampling over packed media: the 1→N multimodal generator stage
    * in its metadata-driven form — the container header supplies
    * duration_ms (here a deterministic function of the payload size, so the
    * oracle re-derives the WHOLE geometry in SQL: frame count, indices and
    * timestamps). The codec-probed variant ([[MultimodalOps.sampleFrames]],
    * decode-stub duration) stays ScalaTest-pinned to the same arithmetic.
    */
  def qFrameSample(spark: SparkSession, dir: String): DataFrame = {
    val packed = MultimodalOps
      .packBinary(Tables.documents(spark, dir), "doc_id", "text", "video")
      .withColumn("duration_ms", lit(500L) + pmod(col("n_bytes") * 37, lit(8000L)))
    MultimodalOps.frameGeometry(packed, "duration_ms")
      .select(col("media_id"), col("frame_idx"), col("ts_ms"), col("n_frames"))
  }

  /** Audio pre-segmentation over packed media: overlapping fixed-length
    * windows per clip, metadata-driven duration (a deterministic function
    * of payload size) — the oracle re-derives window count, spans and the
    * clipped last window in SQL. The codec-probed variant
    * ([[MultimodalOps.sampleAudioWindows]]) stays ScalaTest-pinned to the
    * same span arithmetic.
    */
  def qAudioWindows(spark: SparkSession, dir: String): DataFrame = {
    val packed = MultimodalOps
      .packBinary(Tables.documents(spark, dir), "doc_id", "text", "audio")
      .withColumn("duration_ms", lit(1000L) + pmod(col("n_bytes") * 131, lit(30000L)))
    MultimodalOps.audioWindowGeometry(packed, "duration_ms")
      .select(col("media_id"), col("window_idx"), col("start_ms"), col("end_ms"))
  }

  /** REAL-codec image round trip, driver-oracled: every doc id renders a
    * deterministic two-band test card through the JDK's actual PNG encoder
    * ([[MultimodalOps.renderTestCards]]), then [[MultimodalOps
    * .decodeImageFeatures]] decodes the true pixels back — dims and
    * INTEGER-EXACT channel sums. PNG is lossless for 8-bit RGB, so the
    * decoded sums equal the closed form
    * `w·(⌊h/2⌋·top_c + (h−⌊h/2⌋)·bot_c)` the oracle computes from pure id
    * arithmetic: a fake or lossy codec CANNOT pass this gate. This is the
    * real-decode complement of the decodeStub-flagged generator queries.
    */
  def qImageDecode(spark: SparkSession, dir: String): DataFrame =
    MultimodalOps.decodeImageFeatures(spark,
      MultimodalOps.renderTestCards(spark,
        Tables.documents(spark, dir).select(col("doc_id")), "doc_id"))
      .toDF()
      .select(col("media_id"), col("decode_ok"), col("width"), col("height"),
        col("sum_r"), col("sum_g"), col("sum_b"))

  /** Decode-normalized image dedup through two REAL codecs: every card is
    * rendered as PNG, again as BMP under a shifted media_id (byte-level
    * payloads differ — a file-digest dedup finds nothing), and every 7th
    * card a third time as a PNG "re-upload"; decode → raster-hex → md5
    * groups them back ([[MultimodalOps.imageRasterDedup]]). The oracle
    * builds each card's raster hex from pure id arithmetic
    * (`repeat(printf bands)`) and replays the digest grouping — both
    * codec round trips are bit-checked via the digest.
    */
  def qImageRasterDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val png = docs.select(col("doc_id").as("media_id"), col("doc_id").as("card_id"))
    val extra = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
      .select((col("doc_id") + 10000000L).as("media_id"), col("doc_id").as("card_id"))
    val bmp = docs.select(
      (col("doc_id") + 20000000L).as("media_id"), col("doc_id").as("card_id"))
    val packed = MultimodalOps
      .renderTestCardsEnc(spark, png.unionByName(extra), "media_id", "card_id", "png")
      .unionByName(
        MultimodalOps.renderTestCardsEnc(spark, bmp, "media_id", "card_id", "bmp"))
    MultimodalOps.imageRasterDedup(MultimodalOps.rasterHex(spark, packed).toDF())
  }

  /** REAL-codec resize round trip: solid test cards (8..44 × 4..26,
    * straddling the 16-box both ways) through decode → Graphics2D box-fit
    * rescale (never upscaling) → PNG re-encode → decode AGAIN. Geometry is
    * integer box-fit arithmetic the oracle replays; a solid color survives
    * ANY interpolation kernel exactly, so the re-decoded channel sums are
    * the closed form color·w'·h' — the whole decode→transform→re-encode→
    * decode pipeline is bit-checked through two real codec passes.
    */
  def qImageResize(spark: SparkSession, dir: String): DataFrame = {
    val cards = MultimodalOps.renderTestCards(spark,
      Tables.documents(spark, dir).select(col("doc_id")), "doc_id", solid = true)
    val resized = MultimodalOps.resizeImages(spark, cards, maxDim = 16).toDF()
    MultimodalOps.decodeImageFeatures(spark,
      resized.select(col("media_id"), col("kind"), col("n_bytes"), col("payload")))
      .toDF()
      .join(resized.select(col("media_id"),
        col("src_width"), col("src_height"), col("resized")), Seq("media_id"))
      .select(col("media_id"), col("resized"), col("src_width"), col("src_height"),
        col("width"), col("height"), col("sum_r"), col("sum_g"), col("sum_b"))
  }

  /** REAL-codec audio round trip: every doc id renders a deterministic
    * square-wave test tone through the JDK's actual WAV encoder
    * ([[MultimodalOps.renderTestTones]]), then [[MultimodalOps
    * .decodeAudioFeatures]] parses the RIFF container back and windows the
    * true PCM16 frames — sample-exact Σ|sample| and peak per window. A
    * square wave's energy is closed-form (every sample is ±amp, so
    * sum_abs = amp·len and peak = amp), which the oracle computes from
    * pure id arithmetic: a decoder that misparses the header, drops a
    * frame or rounds a sample cannot pass.
    */
  def qAudioDecode(spark: SparkSession, dir: String): DataFrame =
    MultimodalOps.decodeAudioFeatures(spark,
      MultimodalOps.renderTestTones(spark,
        Tables.documents(spark, dir).select(col("doc_id")), "doc_id"))
      .toDF()
      .select(col("media_id"), col("decode_ok"), col("sample_rate"), col("n_total"),
        col("window_idx"), col("n_samples"), col("sum_abs"), col("peak"))

  /** REAL video-container round trip: every doc id renders a deterministic
    * animated GIF (2–8 solid frames) through the JDK's actual sequence
    * encoder ([[MultimodalOps.renderTestClips]]), then [[MultimodalOps
    * .decodeVideoFrames]] parses the container back and decodes every
    * frame's true pixels. Solid frames survive GIF's palette quantization
    * exactly, so each frame's channel sums are the closed form
    * color(id, f)·w·h the oracle computes from pure arithmetic — a parser
    * that miscounts frames or a decoder that misreads a palette cannot
    * pass. The frame-sampling GENERATOR now runs on a real container
    * parse end to end; only JNI-gated codecs (H.264/VP9) stay behind the
    * flagged decodeStub seam.
    */
  def qVideoFrames(spark: SparkSession, dir: String): DataFrame =
    MultimodalOps.decodeVideoFrames(spark,
      MultimodalOps.renderTestClips(spark,
        Tables.documents(spark, dir).select(col("doc_id")), "doc_id"))
      .toDF()
      .select(col("media_id"), col("decode_ok"), col("n_frames"), col("frame_idx"),
        col("width"), col("height"), col("sum_r"), col("sum_g"), col("sum_b"))

  /** Embedding-space decontamination ([[SimilarityOps.semanticDecontaminate]]):
    * the %13 vectors act as the eval benchmark, the rest as train; every
    * train vector gets its nearest-eval cosine and a ≥0.9 contamination
    * flag — the semantic leg of leakage screening, oracle-checked exactly
    * (broadcast eval, one corpus scan).
    */
  def qSemanticDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    SimilarityOps.semanticDecontaminate(
      emb.filter(col("vec_id") % 13 =!= 0),
      emb.filter(col("vec_id") % 13 === 0),
      "vec_id", "embedding", threshold = 0.9)
  }

  /** IVF approximate top-10 (k-means coarse quantizer, 8 lists, 4 probed)
    * for the probe set vec_id < 20, on the FIXED-POINT quantizer
    * ([[graft.ops.SimilarityOps.knnIvfKmeansFp]]) — engine-exact, so the
    * oracle unrolls the integer Lloyd rounds, the argmin corpus
    * assignment, the nProbe probe routing and the exact-cosine ranking in
    * SQL (through round 9 this rode the MLlib fit and carried no oracle).
    * The MLlib-fitted persistable-index family (ivfFitKmeans/knnIvfSearch)
    * stays spec-pinned for recall; on these uniform synthetic vectors
    * recall ≈ scan fraction + ranking margin — clustered real embeddings
    * are where the quantizer pays off.
    */
  def qAnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    SimilarityOps.knnIvfKmeansFp(
      emb, emb.filter(col("vec_id") < 20), "vec_id", "embedding",
      k = 10, nLists = 8, nProbe = 4, iters = 2)
  }

  /** HNSW-style layered-graph ANN top-10 for the IVF probe set —
    * [[graft.ops.SimilarityOps.knnHnsw]]: md5-geometric levels, per-layer
    * neighbor lists from the SHARED fixed-point k-means blocking (top-10
    * by integer dot, 3-probed), greedy descent + 4 beam rounds at ef=16.
    * Fully DuckDB-oracled: the oracle replays the k-means fit, the level
    * law, all four layer adjacencies and every unrolled search round
    * bit-for-bit. SimilaritySpec pins recall ≥ 0.94 vs brute force.
    * Rides the staged session index ([[hnswIndexArtifact]]) — fit +
    * routing + pair scoring paid once for the HNSW twins, results
    * bit-identical to the unstaged build (SimilaritySpec pins it).
    */
  def qAnnHnsw(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val (rel, scored) = hnswIndexArtifact(spark, dir)
    SimilarityOps.knnHnswFromStaged(
      rel, scored, emb.filter(col("vec_id") < 20), "vec_id", "embedding",
      k = 10, maxLevel = 3, mNeighbors = 10, ef = 16, roundsUpper = 1, rounds0 = 4)
  }

  /** Incremental/staged HNSW —
    * [[graft.ops.SimilarityOps.knnHnswStagedFromPairs]] over the shared
    * session index: the layered adjacency is built from the even-id
    * store partition's pairs (a FILTER of the staged pair relation —
    * routing is per-vector under the frozen fit, so the blocks decompose
    * exactly), then the odd-id batch's pairs fold in through the
    * bounded-max monoid merge; exactly [[qAnnHnsw]]'s result, so the
    * oracle is shared verbatim and the hash-match IS the
    * staged-≡-from-scratch proof at the gate scale.
    */
  def qAnnHnswIncr(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val (rel, scored) = hnswIndexArtifact(spark, dir)
    SimilarityOps.knnHnswStagedFromPairs(
      rel, scored, c => c % 2 === 1, emb.filter(col("vec_id") < 20),
      "vec_id", "embedding",
      k = 10, maxLevel = 3, mNeighbors = 10, ef = 16, roundsUpper = 1, rounds0 = 4)
  }

  /** SRP-LSH approximate top-10 for the same probe set (sign-random-
    * projection signatures, 8 bands × 8 bits), fully DuckDB-oracled: the
    * hyperplanes are spec-pinned `java.util.Random(42)` Gaussians
    * ([[graft.ops.SimilarityOps.srpPlanes]]), embedded in the oracle as
    * round-trip-exact double literals, so the oracle replays the
    * signature bits (sign of list_dot_product against the same planes),
    * the banded candidate join AND the exact cosine re-rank bit-for-bit.
    * SimilaritySpec still checks recall vs brute force on clustered
    * vectors.
    */
  def qAnnLsh(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    SimilarityOps.knnLshSrp(
      emb, emb.filter(col("vec_id") < 20), "vec_id", "embedding",
      k = 10, dim = 64)
  }

  /** A3-A7 — the DataSource V2 quote source (live-HTTP seam) driven from the
    * symbol catalog TABLE: the source itself reads the first 500 customer
    * keys at scan planning (`symbolsPath` option — the request-list analog
    * of file listing; no caller-side collect), one input partition per 100
    * symbols. The stubbed fetch synthesizes quote fields from the Java
    * String.hashCode of "symbol:asset_type" — a 31-polynomial the oracle
    * folds in SQL — so the whole source (request-list planning, batching,
    * field derivation) is hash-checked end-to-end; SourcesSpec adds
    * table-vs-inline parity and the URL/param assembly invariants.
    */
  def qQuoteSource(spark: SparkSession, dir: String): DataFrame =
    spark.read
      .format("graft.sources.QuoteSource")
      .option("symbolsPath", s"$dir/customer.parquet")
      .option("symbolCol", "c_custkey")
      .option("symbolPrefix", "C")
      .option("maxSymbols", "500")
      .option("batchSize", "100")
      .load()

  // =========================================================================

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_quote_source"            -> (qQuoteSource(_, _)),
    "q_top_k"                   -> (qTopK(_, _)),
    "q_event_time_window"       -> (qEventTimeWindow(_, _)),
    "q_asof_join"               -> (qAsofJoin(_, _)),
    "q_asof_join_2t"            -> (qAsofJoin2t(_, _)),
    "q_asof_join_tol"           -> (qAsofJoinTol(_, _)),
    "q_heavy_hitters"           -> (qHeavyHitters(_, _)),
    "q_cms_heavy_hitters"       -> (qCmsHeavyHitters(_, _)),
    "q_cms_incremental"         -> (qCmsIncremental(_, _)),
    "q_set_ops"                 -> (qSetOps(_, _)),
    "q_rollup_stats"            -> (qRollupStats(_, _)),
    "q_completion_payload"      -> (qCompletionPayload(_, _)),
    "q_job_market_data_e2e"     -> (qJobMarketDataE2e(_, _)),
    "q_job_historical_e2e"      -> (qJobHistoricalE2e(_, _)),
    "q_sessionize"              -> (qSessionize(_, _)),
    "q_cohort_retention"        -> (qCohortRetention(_, _)),
    "q_event_transitions"       -> (qEventTransitions(_, _)),
    "q_sequence_examples"       -> (qSequenceExamples(_, _)),
    "q_temperature_mix"         -> (qTemperatureMix(_, _)),
    "q_quota_sample"            -> (qQuotaSample(_, _)),
    "q_value_quantiles"         -> (qValueQuantiles(_, _)),
    "q_hist_quantiles"          -> (qHistQuantiles(_, _)),
    "q_hist_quantiles_incremental" -> (qHistQuantilesIncremental(_, _)),
    "q_quality_drift"           -> (qQualityDrift(_, _)),
    "q_quality_drift_incremental" -> (qQualityDriftIncremental(_, _)),
    "q_outlier_flags"           -> (qOutlierFlags(_, _)),
    "q_funnel"                  -> (qFunnel(_, _)),
    "q_interval_join"           -> (qIntervalJoin(_, _)),
    "q_star_join_revenue"       -> (qStarJoinRevenue(_, _)),
    "q_rolling_window"          -> (qRollingWindow(_, _)),
    "q_range_band"              -> (qRangeBand(_, _)),
    "q_range_band_fast"         -> (qRangeBandFast(_, _)),
    "q_approx_users"            -> (qApproxUsers(_, _)),
    "q_hll_incremental"         -> (qHllIncremental(_, _)),
    "q_coverage_map"            -> (qCoverageMap(_, _)),
    "q_monthly_pct_change"      -> (qMonthlyPctChange(_, _)),
    "q_dedup_rate"              -> (qDedupRate(_, _)),
    "q_embedding_stats"         -> (qEmbeddingStats(_, _)),
    "q_text_stats"              -> (qTextStats(_, _)),
    "q_token_count"             -> (qTokenCount(_, _)),
    "q_lang_id"                 -> (qLangId(_, _)),
    "q_quality_score"           -> (qQualityScore(_, _)),
    "q_classifier_train"        -> (qClassifierTrain(_, _)),
    "q_classifier_filter"       -> (qClassifierFilter(_, _)),
    "q_classifier_apply"        -> (qClassifierApply(_, _)),
    "q_calibrate_scores"        -> (qCalibrateScores(_, _)),
    "q_label_noise"             -> (qLabelNoise(_, _)),
    "q_classifier_incremental"  -> (qClassifierIncremental(_, _)),
    "q_nearest_centroid"        -> (qNearestCentroid(_, _)),
    "q_doc_fingerprint"         -> (qDocFingerprint(_, _)),
    "q_char_entropy"            -> (qCharEntropy(_, _)),
    "q_exact_dedup"             -> (qExactDedup(_, _)),
    "q_tfidf_top_terms"         -> (qTfidfTopTerms(_, _)),
    "q_bigram_counts"           -> (qBigramCounts(_, _)),
    "q_pii_scrub"               -> (qPiiScrub(_, _)),
    "q_html_extract"            -> (qHtmlExtract(_, _)),
    "q_c4_rules"                -> (qC4Rules(_, _)),
    "q_url_normalize"           -> (qUrlNormalize(_, _)),
    "q_text_normalize"          -> (qTextNormalize(_, _)),
    "q_fix_mojibake"            -> (qFixMojibake(_, _)),
    "q_sentence_span_dedup"     -> (qSentenceSpanDedup(_, _)),
    "q_html_links"              -> (qHtmlLinks(_, _)),
    "q_anchor_text"             -> (qAnchorText(_, _)),
    "q_cdc_chunks"              -> (qCdcChunks(_, _)),
    "q_zipf_slope"              -> (qZipfSlope(_, _)),
    "q_zipf_incremental"        -> (qZipfIncremental(_, _)),
    "q_luhn_cards"              -> (qLuhnCards(_, _)),
    "q_robots_screen"           -> (qRobotsScreen(_, _)),
    "q_main_content"            -> (qMainContent(_, _)),
    "q_heaps_curve"             -> (qHeapsCurve(_, _)),
    "q_cdc_chunks_incr"         -> (qCdcChunksIncr(_, _)),
    "q_hash_features"           -> (qHashFeatures(_, _)),
    "q_readability"             -> (qReadability(_, _)),
    "q_embedding_quantize"      -> (qEmbeddingQuantize(_, _)),
    "q_scd2_history"            -> (qScd2History(_, _)),
    "q_ngram_jaccard_dedup"     -> (qNgramJaccardDedup(_, _)),
    "q_containment_dedup"       -> (qContainmentDedup(_, _)),
    "q_jaccard_prefix"          -> (qJaccardPrefix(_, _)),
    "q_cross_dedup"             -> (qCrossDedup(_, _)),
    "q_cross_dedup_lsh"         -> (qCrossDedupLsh(_, _)),
    "q_minhash_dedup"           -> (qMinhashDedup(_, _)),
    "q_editdist_dedup"          -> (qEditDistDedup(_, _)),
    "q_label_propagation"       -> (qLabelPropagation(_, _)),
    "q_pagerank"                -> (qPagerank(_, _)),
    "q_triangle_stats"          -> (qTriangleStats(_, _)),
    "q_kcore"                   -> (qKcore(_, _)),
    "q_ewma_smooth"             -> (qEwmaSmooth(_, _)),
    "q_ewma_incremental"        -> (qEwmaIncremental(_, _)),
    "q_vwap"                    -> (qVwap(_, _)),
    "q_debounce"                -> (qDebounce(_, _)),
    "q_drawdown"                -> (qDrawdown(_, _)),
    "q_winsorize"               -> (qWinsorize(_, _)),
    "q_market_beta"             -> (qMarketBeta(_, _)),
    "q_cusum"                   -> (qCusum(_, _)),
    "q_value_histogram"         -> (qValueHistogram(_, _)),
    "q_kmv_users"               -> (qKmvUsers(_, _)),
    "q_rolling_zscore"          -> (qRollingZscore(_, _)),
    "q_ohlc_bars"               -> (qOhlcBars(_, _)),
    "q_bollinger"               -> (qBollinger(_, _)),
    "q_kmv_incremental"         -> (qKmvIncremental(_, _)),
    "q_kmeans"                  -> (qKmeans(_, _)),
    "q_kmeans_assign"           -> (qKmeansAssign(_, _)),
    "q_ngram_novelty"           -> (qNgramNovelty(_, _)),
    "q_simhash_dedup"           -> (qSimhashDedup(_, _)),
    "q_winnow_dedup"            -> (qWinnowDedup(_, _)),
    "q_hash_split"              -> (qHashSplit(_, _)),
    "q_stratified_sample"       -> (qStratifiedSample(_, _)),
    "q_corpus_curation"         -> (qCorpusCuration(_, _)),
    "q_training_manifest"       -> (qTrainingManifest(_, _)),
    "q_repetition_filter"       -> (qRepetitionFilter(_, _)),
    "q_token_rarity"            -> (qTokenRarity(_, _)),
    "q_lm_score"                -> (qLmScore(_, _)),
    "q_ccnet_buckets"           -> (qCcnetBuckets(_, _)),
    "q_domain_reputation"       -> (qDomainReputation(_, _)),
    "q_domain_reputation_incr"  -> (qDomainReputationIncr(_, _)),
    "q_lm_incremental"          -> (qLmIncremental(_, _)),
    "q_sb_score"                -> (qSbScore(_, _)),
    "q_sb_incremental"          -> (qSbIncremental(_, _)),
    "q_sb_assign"               -> (qSbAssign(_, _)),
    "q_bm25"                    -> (qBm25(_, _)),
    "q_bm25_incremental"        -> (qBm25Incremental(_, _)),
    "q_retrieval_eval"          -> (qRetrievalEval(_, _)),
    "q_hybrid_rrf"              -> (qHybridRrf(_, _)),
    "q_blocklist_screen"        -> (qBlocklistScreen(_, _)),
    "q_data_card"               -> (qDataCard(_, _)),
    "q_unigram_vocab"           -> (qUnigramVocab(_, _)),
    "q_unigram_segment"         -> (qUnigramSegment(_, _)),
    "q_greedy_segment"          -> (qGreedySegment(_, _)),
    "q_unigram_encode"          -> (qUnigramEncode(_, _)),
    "q_unigram_assign"          -> (qUnigramAssign(_, _)),
    "q_unigram_staged"          -> (qUnigramStaged(_, _)),
    "q_tokenizer_report"        -> (qTokenizerReport(_, _)),
    "q_vocab_drift"             -> (qVocabDrift(_, _)),
    "q_vocab_drift_incremental" -> (qVocabDriftIncremental(_, _)),
    "q_textrank"                -> (qTextRank(_, _)),
    "q_cluster_split"           -> (qClusterSplit(_, _)),
    "q_split_leakage"           -> (qSplitLeakage(_, _)),
    "q_weighted_sample"         -> (qWeightedSample(_, _)),
    "q_quality_rank"            -> (qQualityRank(_, _)),
    "q_vocab_build"             -> (qVocabBuild(_, _)),
    "q_vocab_incremental"       -> (qVocabIncremental(_, _)),
    "q_encode_tokens"           -> (qEncodeTokens(_, _)),
    "q_neardup_clusters"        -> (qNeardupClusters(_, _)),
    "q_domain_rebalance"        -> (qDomainRebalance(_, _)),
    "q_fuzzy_join"              -> (qFuzzyJoin(_, _)),
    "q_pseudonymize"            -> (qPseudonymize(_, _)),
    "q_k_anonymity"             -> (qKAnonymity(_, _)),
    "q_l_diversity"             -> (qLDiversity(_, _)),
    "q_suppress_rare"           -> (qSuppressRare(_, _)),
    "q_incremental_agg"         -> (qIncrementalAgg(_, _)),
    "q_zorder_layout"           -> (qZorderLayout(_, _)),
    "q_pack_sequences"          -> (qPackSequences(_, _)),
    "q_decontaminate"           -> (qDecontaminate(_, _)),
    "q_decontaminate_bloom"     -> (qDecontaminateBloom(_, _)),
    "q_line_dedup"              -> (qLineDedup(_, _)),
    "q_shuffle_shards"          -> (qShuffleShards(_, _)),
    "q_chunk_docs"              -> (qChunkDocs(_, _)),
    "q_upsample_epochs"         -> (qUpsampleEpochs(_, _)),
    "q_mixture_manifest"        -> (qMixtureManifest(_, _)),
    "q_curation_manifest_staged" -> (qCurationManifestStaged(_, _)),
    "q_neardup_clusters_incr"   -> (qNeardupClustersIncremental(_, _)),
    "q_domain_cap"              -> (qDomainCap(_, _)),
    "q_pareto_frontier"         -> (qParetoFrontier(_, _)),
    "q_pareto_incremental"      -> (qParetoIncremental(_, _)),
    "q_length_buckets"          -> (qLengthBuckets(_, _)),
    "q_curriculum_bins"         -> (qCurriculumBins(_, _)),
    "q_prefix_templates"        -> (qPrefixTemplates(_, _)),
    "q_repeated_spans"          -> (qRepeatedSpans(_, _)),
    "q_substring_decontaminate" -> (qSubstringDecontaminate(_, _)),
    "q_substring_dedup"         -> (qSubstringDedup(_, _)),
    "q_substring_dedup_incr"    -> (qSubstringDedupIncremental(_, _)),
    "q_substring_scrub"         -> (qSubstringScrub(_, _)),
    "q_span_scrub"              -> (qSpanScrub(_, _)),
    "q_decontaminate_multi"     -> (qDecontaminateMulti(_, _)),
    "q_keeper_by_quality"       -> (qKeeperByQuality(_, _)),
    "q_semantic_decontaminate"  -> (qSemanticDecontaminate(_, _)),
    "q_gap_interpolate"         -> (qGapInterpolate(_, _)),
    "q_series_motif"            -> (qSeriesMotif(_, _)),
    "q_embedding_knn"           -> (qEmbeddingKnn(_, _)),
    "q_ann_truncated"           -> (qAnnTruncated(_, _)),
    "q_hard_negatives"          -> (qHardNegatives(_, _)),
    "q_bitext_mine"             -> (qBitextMine(_, _)),
    "q_class_outliers"          -> (qClassOutliers(_, _)),
    "q_embedding_drift"         -> (qEmbeddingDrift(_, _)),
    "q_embedding_drift_incremental" -> (qEmbeddingDriftIncremental(_, _)),
    "q_knn_incremental"         -> (qKnnIncremental(_, _)),
    "q_embedding_neardup"       -> (qEmbeddingNeardup(_, _)),
    "q_embedding_neardup_blocked" -> (qEmbeddingNeardupBlocked(_, _)),
    "q_semantic_dedup"          -> (qSemanticDedup(_, _)),
    "q_ann_ivf"                 -> (qAnnIvf(_, _)),
    "q_ann_hnsw"                -> (qAnnHnsw(_, _)),
    "q_ann_hnsw_incr"           -> (qAnnHnswIncr(_, _)),
    "q_ann_lsh"                 -> (qAnnLsh(_, _)),
    "q_pq_encode"               -> (qPqEncode(_, _)),
    "q_ann_ivfpq"               -> (qAnnIvfPq(_, _)),
    "q_bpe_merges"              -> (qBpeMerges(_, _)),
    "q_bpe_vocab"               -> (qBpeVocab(_, _)),
    "q_bpe_encode"              -> (qBpeEncode(_, _)),
    "q_bpe_assign"              -> (qBpeAssign(_, _)),
    "q_wordpiece_merges"        -> (qWordpieceMerges(_, _)),
    "q_wordpiece_encode"        -> (qWordpieceEncode(_, _)),
    "q_dsir_weights"            -> (qDsirWeights(_, _)),
    "q_dsir_select"             -> (qDsirSelect(_, _)),
    "q_dsir_incremental"        -> (qDsirIncremental(_, _)),
    "q_mmr_select"              -> (qMmrSelect(_, _)),
    "q_kcenter_select"          -> (qKCenterSelect(_, _)),
    "q_cluster_keywords"        -> (qClusterKeywords(_, _)),
    "q_knn_shapley"             -> (qKnnShapley(_, _)),
    "q_cube_stats"              -> (qCubeStats(_, _)),
    "q_pivot_values"            -> (qPivotValues(_, _)),
    "q_unpivot_measures"        -> (qUnpivotMeasures(_, _)),
    "q_session_window_agg"      -> (qSessionWindowAgg(_, _)),
    "q_binary_meta"             -> (qBinaryMeta(_, _)),
    "q_frame_sample"            -> (qFrameSample(_, _)),
    "q_audio_windows"           -> (qAudioWindows(_, _)),
    "q_image_decode"            -> (qImageDecode(_, _)),
    "q_image_raster_dedup"      -> (qImageRasterDedup(_, _)),
    "q_image_resize"            -> (qImageResize(_, _)),
    "q_audio_decode"            -> (qAudioDecode(_, _)),
    "q_video_frames"            -> (qVideoFrames(_, _)),
    "q_latest_snapshot_upsert"  -> (qLatestSnapshotUpsert(_, _)),
    "q_merge_last_wins"         -> (qMergeLastWins(_, _)),
    "q_cdc_apply"               -> (qCdcApply(_, _)),
    "q_monthly_last_close"      -> (qMonthlyLastClose(_, _)),
    "q_current_month_pick"      -> (qCurrentMonthPick(_, _)),
    "q_assets_needing_update"   -> (qAssetsNeedingUpdate(_, _)),
    "q_existing_symbols"        -> (qExistingSymbols(_, _)),
    "q_month_spine"             -> (qMonthSpine(_, _)),
    "q_gap_detection"           -> (qGapDetection(_, _)),
    "q_adjust_date_range"       -> (qAdjustDateRange(_, _)),
    "q_validate_required_fields"-> (qValidateRequiredFields(_, _)),
    "q_constraint_audit"        -> (qConstraintAudit(_, _)),
    "q_audit_incremental"       -> (qConstraintAuditIncremental(_, _)),
    "q_coerce_types"            -> (qCoerceTypes(_, _)),
    "q_index_projection"        -> (qIndexProjection(_, _)),
    "q_asset_type_dispatch"     -> (qAssetTypeDispatch(_, _)),
    "q_payload_parse"           -> (qPayloadParse(_, _)),
    "q_gopher_rules"            -> (qGopherRules(_, _)),
    "q_gopher_repetition"       -> (qGopherRepetition(_, _)),
    "q_group_by_asset_type"     -> (qGroupByAssetType(_, _)),
    "q_batch_assignment"        -> (qBatchAssignment(_, _)),
    "q_completion_stats"        -> (qCompletionStats(_, _)),
    "q_completion_per_batch"    -> (qCompletionPerBatch(_, _)),
  )

  /** Shared knn oracle — q_embedding_knn and q_knn_incremental must agree
    * with it (and each other) bit-for-bit: incremental merge is lossless.
    */
  /** Self-trained interpolated bigram LM scoring — shared verbatim by
    * q_lm_score and q_lm_incremental: equality of scoring against the
    * merged half-corpus counts with this relation is the losslessness
    * proof of [[graft.ops.TextOps.mergeLmCounts]].
    */
  /** Mirror of [[domainPlantedDocs]] + [[graft.ops.TextOps.domainStats]] +
    * the reputation gate: quality replayed with the q_quality_score
    * formula, quantized to micro-units per doc BEFORE the domain sum
    * (order-free integers), verdict via the same inclusive integer
    * cross-multiplication. Shared by the incremental fold form.
    */
  private val domainReputationOracle: String =
    raw"""WITH d AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 97 = 0 THEN 'solo' || (doc_id % 9999)::VARCHAR || '.example.com'
      |         ELSE 'site' || (doc_id % 17)::VARCHAR || '.example.com' END AS domain,
      |    CASE WHEN doc_id % 97 <> 0 AND doc_id % 17 < 8
      |         THEN text || ' ' || repeat('!!! ;;; ??? ::: ... ', 10)
      |         ELSE text END AS text
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, domain,
      |         len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> ''))::DOUBLE AS n_tokens,
      |         CASE WHEN length(text) > 0
      |              THEN len(regexp_extract_all(text, '[.,;:!?]'))::DOUBLE / length(text)::DOUBLE END AS punct_ratio,
      |         CASE WHEN len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) > 0
      |              THEN len(regexp_extract_all(lower(text), '\b(the|and|of|is|to|in|a)\b'))::DOUBLE
      |                / len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> ''))::DOUBLE END
      |           AS stopword_ratio
      |  FROM d),
      |q AS (
      |  SELECT doc_id, domain,
      |         coalesce(round((0.4 * least(1.0, n_tokens / 100.0)
      |                         + 0.3 * (1.0 - least(1.0, punct_ratio * 10.0))
      |                         + 0.3 * least(1.0, stopword_ratio * 5.0)) * 1000000.0)::BIGINT, 0) AS q_fp
      |  FROM s),
      |st AS (SELECT domain, count(*) AS n_docs, sum(q_fp)::BIGINT AS sum_q_fp FROM q GROUP BY 1)
      |SELECT q.doc_id, q.domain, st.n_docs,
      |       st.sum_q_fp::DOUBLE / (st.n_docs::DOUBLE * 1000000.0) AS domain_mean_quality,
      |       (st.n_docs >= 3 AND st.sum_q_fp >= st.n_docs * 570000) AS domain_ok
      |FROM q JOIN st USING (domain)""".stripMargin

  /** Mirror of cdcChunkDedup (shared by the incremental fold form):
    * md5-60 window-hash boundary gate, the SEQUENTIAL minChunk accept/
    * skip fold as a recursive CTE over MATERIALIZED candidates (DuckDB
    * 1.0 list_reduce mis-evaluates identity ELSE branches, and the
    * unmaterialized recursion re-derived every window hash per step),
    * chunk reconstruction by boundary pairs, carrier counts.
    */
  /** Mirror of zipfSlope — shared by the incremental count-fold form. */
  private val zipfSlopeOracle: String =
      raw"""WITH toks AS (SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS token FROM documents),
        |cnt AS (SELECT token, count(*) AS freq FROM toks GROUP BY 1 ORDER BY freq DESC, token LIMIT 1000),
        |rk AS (SELECT freq, row_number() OVER (ORDER BY freq DESC, token) AS rank FROM cnt),
        |pts AS (SELECT round(ln(rank::DOUBLE) * 1000.0)::BIGINT AS x,
        |               round(ln(freq::DOUBLE) * 1000.0)::BIGINT AS y FROM rk),
        |s AS (SELECT count(*)::BIGINT AS n_terms, sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
        |             sum(x*y)::BIGINT AS sxy, sum(x*x)::BIGINT AS sxx FROM pts)
        |SELECT n_terms,
        |  (n_terms * sxy - sx * sy)::DOUBLE / (n_terms * sxx - sx * sx)::DOUBLE AS slope,
        |  (sy::DOUBLE - ((n_terms * sxy - sx * sy)::DOUBLE / (n_terms * sxx - sx * sx)::DOUBLE) * sx::DOUBLE)
        |    / n_terms::DOUBLE AS intercept_mnat
        |FROM s""".stripMargin

  private val cdcChunksOracle: String =
      raw"""WITH RECURSIVE d AS (SELECT doc_id,
        |    text || CASE WHEN doc_id % 7 = 0
        |                 THEN ' the shared canonical passage that every seventh document carries verbatim so interior chunk boundaries re-synchronize on content and the chunks deduplicate across carriers regardless of whatever unique soup precedes them in each host document'
        |                 ELSE '' END AS text
        |  FROM documents),
        |c AS (SELECT doc_id, text, length(text)::BIGINT AS L FROM d),
        |pos AS (
        |  SELECT doc_id, i FROM (
        |    SELECT doc_id, text, L, unnest(range(8, L + 1)) AS i FROM c WHERE L >= 8) q
        |  WHERE (list_sum([(strpos('0123456789abcdef', md5(substr(q.text, q.i - 7, 8))[k]) - 1)::BIGINT << (4 * (15 - k)) for k in range(1, 16)])::BIGINT & 31) = 0),
        |cr AS MATERIALIZED (SELECT doc_id, i AS p, row_number() OVER (PARTITION BY doc_id ORDER BY i) AS rn FROM pos),
        |sel(doc_id, rn, p, last) AS (
        |  SELECT doc_id, rn, p, CASE WHEN p >= 16 THEN p ELSE 0 END
        |  FROM cr WHERE rn = 1
        |  UNION ALL
        |  SELECT cr.doc_id, cr.rn, cr.p,
        |         CASE WHEN cr.p - sel.last >= 16 THEN cr.p ELSE sel.last END
        |  FROM cr JOIN sel ON cr.doc_id = sel.doc_id AND cr.rn = sel.rn + 1),
        |cl AS (SELECT doc_id, list(p ORDER BY p) AS cands FROM sel WHERE p = last GROUP BY 1),
        |b2 AS (SELECT c.doc_id, c.text, c.L,
        |        CASE WHEN coalesce(cl.cands[-1], 0) < c.L
        |             THEN list_append(list_prepend(0::BIGINT, coalesce(cl.cands, CAST([] AS BIGINT[]))), c.L)
        |             ELSE list_prepend(0::BIGINT, coalesce(cl.cands, CAST([] AS BIGINT[]))) END AS wb
        |      FROM c LEFT JOIN cl USING (doc_id)),
        |ch AS (SELECT doc_id, (j - 1)::BIGINT AS chunk_idx, (wb[j] + 1)::BIGINT AS chunk_start,
        |              (wb[j+1] - wb[j])::BIGINT AS chunk_len,
        |              list_sum([(strpos('0123456789abcdef', md5(substr(text, wb[j] + 1, wb[j+1] - wb[j]))[k]) - 1)::BIGINT << (4 * (15 - k)) for k in range(1, 16)])::BIGINT AS chunk_id
        |       FROM (SELECT doc_id, text, wb, unnest(range(1, len(wb)::BIGINT)) AS j FROM b2 WHERE len(wb) >= 2) q2),
        |ca AS (SELECT chunk_id, count(DISTINCT doc_id)::BIGINT AS n_carriers FROM ch GROUP BY 1)
        |SELECT ch.doc_id, ch.chunk_idx, ch.chunk_start, ch.chunk_len, ch.chunk_id,
        |       ca.n_carriers, ca.n_carriers > 1 AS is_dup
        |FROM ch JOIN ca USING (chunk_id)""".stripMargin

  private val lmScoreOracle: String =
    raw"""WITH t AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
      |  FROM documents),
      |o AS (SELECT doc_id,
      |             unnest([{'tok': w[i], 'prev': CASE WHEN i > 1 THEN w[i-1] END}
      |                     for i in range(1, len(w)+1)]) AS g
      |      FROM t),
      |occ AS (SELECT doc_id, g.tok AS token, g.prev AS prev FROM o WHERE g.tok <> ''),
      |uni AS (SELECT token, count(*) AS cw FROM occ GROUP BY 1),
      |tot AS (SELECT sum(cw) AS n, count(*) AS v FROM uni),
      |big AS (SELECT prev, token, count(*) AS cb FROM occ WHERE prev IS NOT NULL GROUP BY 1, 2),
      |sc AS (SELECT occ.doc_id,
      |              CASE WHEN occ.prev IS NULL
      |                   THEN ln((u.cw + 1.0) / (tot.n + tot.v))
      |                   ELSE ln(0.5 * ((coalesce(b.cb, 0) + 1.0) / (up.cw + tot.v))
      |                           + 0.5 * ((u.cw + 1.0) / (tot.n + tot.v)))
      |              END AS lp
      |       FROM occ
      |       JOIN uni u USING (token)
      |       LEFT JOIN uni up ON up.token = occ.prev
      |       LEFT JOIN big b ON b.prev = occ.prev AND b.token = occ.token
      |       CROSS JOIN tot),
      |agg AS (SELECT doc_id, count(*) AS n_scored,
      |               sum(round(lp * 1000000.0)::BIGINT)::BIGINT AS sum_logq
      |        FROM sc GROUP BY 1)
      |SELECT d.doc_id, agg.n_scored, agg.sum_logq,
      |       -(agg.sum_logq::DOUBLE / (agg.n_scored::DOUBLE * 1000000.0)) AS avg_nll
      |FROM (SELECT doc_id FROM documents) d LEFT JOIN agg USING (doc_id)""".stripMargin

  /** Stupid-Backoff oracle — mirror of
    * [[graft.ops.TextOps.stupidBackoffFromCounts]]: the lmScoreOracle
    * occurrence/count construction one level deeper (prev2, trigram
    * counts), the three-rung CASE ladder with every ln quantized to
    * micro-nat BIGINTs before the arithmetic (α = −916291 = round(ln 0.4
    * ·10⁶), the shared literal). Shared by the incremental fold form.
    */
  private def sbScoreOracleWith(trainFilter: String): String =
    raw"""WITH t AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
      |  FROM documents),
      |o AS (SELECT doc_id,
      |             unnest([{'tok': w[i],
      |                      'prev': CASE WHEN i > 1 THEN w[i-1] END,
      |                      'prev2': CASE WHEN i > 2 THEN w[i-2] END}
      |                     for i in range(1, len(w)+1)]) AS g
      |      FROM t),
      |occ AS (SELECT doc_id, g.tok AS token, g.prev AS prev, g.prev2 AS prev2
      |        FROM o WHERE g.tok <> ''),
      |occt AS (SELECT * FROM occ WHERE $trainFilter),
      |uni AS (SELECT token, count(*)::BIGINT AS c1 FROM occt GROUP BY 1),
      |stot AS (SELECT sum(c1)::BIGINT AS n FROM uni),
      |big AS (SELECT prev, token, count(*)::BIGINT AS c2 FROM occt
      |        WHERE prev IS NOT NULL GROUP BY 1, 2),
      |tg AS (SELECT prev2, prev, token, count(*)::BIGINT AS c3 FROM occt
      |       WHERE prev2 IS NOT NULL GROUP BY 1, 2, 3),
      |sc AS (SELECT occ.doc_id,
      |        CASE WHEN occ.prev IS NULL
      |             THEN round(ln(u.c1::DOUBLE) * 1000000.0)::BIGINT
      |                  - round(ln(stot.n::DOUBLE) * 1000000.0)::BIGINT
      |             WHEN occ.prev2 IS NULL THEN
      |               CASE WHEN b.c2 IS NOT NULL
      |                    THEN round(ln(b.c2::DOUBLE) * 1000000.0)::BIGINT
      |                         - round(ln(up.c1::DOUBLE) * 1000000.0)::BIGINT
      |                    ELSE -916291 + round(ln(u.c1::DOUBLE) * 1000000.0)::BIGINT
      |                         - round(ln(stot.n::DOUBLE) * 1000000.0)::BIGINT END
      |             ELSE
      |               CASE WHEN tr.c3 IS NOT NULL
      |                    THEN round(ln(tr.c3::DOUBLE) * 1000000.0)::BIGINT
      |                         - round(ln(bc.c2::DOUBLE) * 1000000.0)::BIGINT
      |                    WHEN b.c2 IS NOT NULL
      |                    THEN -916291 + round(ln(b.c2::DOUBLE) * 1000000.0)::BIGINT
      |                         - round(ln(up.c1::DOUBLE) * 1000000.0)::BIGINT
      |                    ELSE -1832582 + round(ln(u.c1::DOUBLE) * 1000000.0)::BIGINT
      |                         - round(ln(stot.n::DOUBLE) * 1000000.0)::BIGINT END
      |        END AS s
      |       FROM occ
      |       JOIN uni u USING (token)
      |       LEFT JOIN uni up ON up.token = occ.prev
      |       LEFT JOIN big b ON b.prev = occ.prev AND b.token = occ.token
      |       LEFT JOIN big bc ON bc.prev = occ.prev2 AND bc.token = occ.prev
      |       LEFT JOIN tg tr ON tr.prev2 = occ.prev2 AND tr.prev = occ.prev
      |                      AND tr.token = occ.token
      |       CROSS JOIN stot),
      |agg AS (SELECT doc_id, count(*)::BIGINT AS n_scored, sum(s)::BIGINT AS sb_fp
      |        FROM sc GROUP BY 1)
      |SELECT d.doc_id, agg.n_scored, agg.sb_fp,
      |       -(agg.sb_fp::DOUBLE / (agg.n_scored::DOUBLE * 1000000.0)) AS avg_nll
      |FROM (SELECT doc_id FROM documents) d LEFT JOIN agg USING (doc_id)""".stripMargin

  private val sbScoreOracle: String = sbScoreOracleWith("TRUE")

  /** Capped exact n-gram Jaccard pairs — shared verbatim by
    * q_ngram_jaccard_dedup and q_jaccard_prefix: the prefix-filtered
    * candidate scheme must reproduce the full posting-list pair set.
    */
  private val ngramJaccardOracle: String =
    """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
      |g AS (SELECT doc_id,
      |             list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]) AS sh
      |      FROM t WHERE len(w) >= 3),
      |e0 AS (SELECT doc_id, unnest(sh) AS s FROM g),
      |e AS (SELECT doc_id, s FROM e0
      |      WHERE s NOT IN (SELECT s FROM e0 GROUP BY s HAVING count(*) > 100)),
      |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      |      FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |sz AS (SELECT doc_id, len(sh) AS n FROM g)
      |SELECT doc_a, doc_b, common::DOUBLE / (sa.n + sb.n - common) AS jaccard
      |FROM p JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
      |WHERE common::DOUBLE / (sa.n + sb.n - common) >= 0.5""".stripMargin

  /** Fixed-point BM25 retrieval over the 97-stride query set — shared
    * verbatim by q_bm25 and q_bm25_incremental: equality of searching the
    * merged half-corpus index with this relation is the losslessness proof
    * of [[graft.ops.TextOps.mergeBm25Stats]].
    */
  private val bm25Oracle: String = bm25OracleWith(97)

  /** The BM25 retrieval relation parametrized by the query-set stride —
    * 97 for the registered q_bm25/q_bm25_incremental, 29 (a denser query
    * set, so cluster co-members actually land in it) for the retrieval
    * scorecard.
    */
  private def bm25OracleWith(stride: Int): String =
    raw"""WITH toks AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS term
      |  FROM documents),
      |tk AS (SELECT * FROM toks WHERE term <> ''),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY 1, 2),
      |dl AS (SELECT doc_id, count(*) AS dl FROM tk GROUP BY 1),
      |st AS (SELECT count(*) AS nd, sum(dl)::BIGINT AS tl FROM dl),
      |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |idf AS (SELECT term,
      |               round(ln(1.0 + (st.nd - df + 0.5) / (df + 0.5)) * 1000000.0)::BIGINT AS idfq
      |        FROM dfq CROSS JOIN st),
      |q AS (SELECT doc_id AS query_id,
      |             unnest(list_distinct(regexp_split_to_array(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), ' '))) AS term
      |      FROM documents WHERE doc_id % $stride = 0),
      |qq AS (SELECT * FROM q WHERE term <> ''),
      |c AS (SELECT qq.query_id, tf.doc_id,
      |             round((idf.idfq::DOUBLE / 1000000.0)
      |                   * ((tf.tf::DOUBLE * 2.2)
      |                      / (tf.tf::DOUBLE + 1.2 * (0.25 + 0.75 * (dl.dl::DOUBLE / (st.tl::DOUBLE / st.nd::DOUBLE)))))
      |                   * 1000000.0)::BIGINT AS cq
      |      FROM qq JOIN tf USING (term) JOIN dl ON dl.doc_id = tf.doc_id
      |      JOIN idf ON idf.term = qq.term CROSS JOIN st
      |      WHERE qq.query_id <> tf.doc_id),
      |s AS (SELECT query_id, doc_id, sum(cq)::BIGINT AS score_fp FROM c GROUP BY 1, 2),
      |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score_fp DESC, doc_id) AS rank
      |      FROM s)
      |SELECT query_id, doc_id, score_fp, score_fp::DOUBLE / 1000000.0 AS score, rank::BIGINT AS rank
      |FROM r WHERE rank <= 10""".stripMargin

  /** One MMR greedy step `t`: candidates not yet selected, their max
    * cosine to the picked set, and the (λ·rel − (1−λ)·max_sim) argmax —
    * mirror of [[graft.ops.SimilarityOps.mmrSelect]]'s loop body. λ terms
    * are written as the arithmetic expressions (`0.7`, `1.0 - 0.7`) so
    * both engines evaluate the identical IEEE doubles.
    */
  private def mmrStepCtes(t: Int): String =
    s"""mr$t AS (SELECT c.probe_id, c.vec_id, c.rel FROM mcand c
       |         LEFT JOIN msel${t - 1} s ON s.probe_id = c.probe_id AND s.vec_id = c.vec_id
       |         WHERE s.vec_id IS NULL),
       |mm$t AS (SELECT r.probe_id, r.vec_id, r.rel,
       |                max(CASE WHEN nv.nrm * sv.nrm > 0
       |                         THEN list_dot_product(nv.v, sv.v) / (nv.nrm * sv.nrm) END) AS max_sim
       |         FROM mr$t r
       |         JOIN msel${t - 1} s ON s.probe_id = r.probe_id
       |         JOIN mn nv ON nv.vec_id = r.vec_id
       |         JOIN mn sv ON sv.vec_id = s.vec_id
       |         GROUP BY 1, 2, 3),
       |mp$t AS (SELECT probe_id, vec_id, rel, $t::BIGINT AS pick_rank FROM (
       |           SELECT *, row_number() OVER (PARTITION BY probe_id
       |                       ORDER BY 0.7 * rel - (1.0 - 0.7) * max_sim DESC, vec_id) AS rn
       |           FROM mm$t) WHERE rn = 1),
       |msel$t AS (SELECT * FROM msel${t - 1} UNION ALL SELECT * FROM mp$t)""".stripMargin

  private val mmrOracle: String =
    s"""WITH mv AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |mn AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM mv),
       |mp AS (SELECT vec_id AS probe_id, v AS pv, nrm AS pn FROM mn WHERE vec_id % 50 = 0),
       |mj AS (SELECT probe_id, vec_id,
       |              CASE WHEN pn * nrm > 0 THEN list_dot_product(pv, v) / (pn * nrm) END AS sim
       |       FROM mp, mn WHERE vec_id <> probe_id),
       |mcand AS (SELECT probe_id, vec_id, sim AS rel FROM (
       |            SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rank
       |            FROM mj WHERE sim IS NOT NULL) WHERE rank <= 20),
       |msel1 AS (SELECT probe_id, vec_id, rel, 1::BIGINT AS pick_rank FROM (
       |            SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY rel DESC, vec_id) AS rn
       |            FROM mcand) WHERE rn = 1),
       |${(2 to 5).map(mmrStepCtes).mkString(",\n")}
       |SELECT probe_id, vec_id AS neighbor_id, rel AS sim, pick_rank FROM msel5""".stripMargin

  /** Hybrid RRF: both leg oracles verbatim (BM25 at stride 97, brute kNN
    * at the same stride), fused with the integer reciprocal-rank sum —
    * mirror of [[graft.ops.TextOps.rrfFuse]] (k₀ = 60, top-10,
    * (rrf_fp DESC, doc) order).
    */
  private val hybridRrfOracle: String =
    s"""WITH sres AS (${bm25OracleWith(97)}),
       |dres AS (
       |  WITH hv AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |  hn AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM hv),
       |  hp AS (SELECT vec_id AS probe_id, v AS pv, nrm AS pn FROM hn WHERE vec_id % 97 = 0),
       |  hj AS (SELECT probe_id, vec_id,
       |                CASE WHEN pn * nrm > 0 THEN list_dot_product(pv, v) / (pn * nrm) END AS sim
       |         FROM hp, hn WHERE vec_id <> probe_id),
       |  hr AS (SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rank
       |         FROM hj WHERE sim IS NOT NULL)
       |  SELECT probe_id AS query_id, vec_id AS doc_id, rank FROM hr WHERE rank <= 10),
       |u AS (SELECT query_id, doc_id, rank FROM sres
       |      UNION ALL SELECT query_id, doc_id, rank FROM dres),
       |fz AS (SELECT query_id, doc_id,
       |              sum(1000000 // (60 + rank))::BIGINT AS rrf_fp,
       |              count(*)::BIGINT AS n_runs
       |       FROM u GROUP BY 1, 2)
       |SELECT query_id, doc_id, rrf_fp, n_runs, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rrf_fp DESC, doc_id)::BIGINT AS rank
       |  FROM fz) WHERE rank <= 10""".stripMargin

  private val knnOracle: String =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM v),
      |p AS (SELECT vec_id AS probe_id, v AS pv, nrm AS pn FROM n WHERE vec_id < 20),
      |j AS (SELECT probe_id, vec_id,
      |             CASE WHEN pn * nrm > 0 THEN list_dot_product(pv, v) / (pn * nrm) END AS sim
      |      FROM p, n WHERE vec_id <> probe_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rank
      |      FROM j WHERE sim IS NOT NULL)
      |SELECT probe_id, vec_id AS neighbor_id, sim, rank FROM r WHERE rank <= 10""".stripMargin

  /** Shared decontamination oracle — q_decontaminate and
    * q_decontaminate_bloom must agree with it (and therefore with each
    * other) bit-for-bit: the bloom form is a lossless prefilter over the
    * same semantics.
    */
  private val decontaminationOracle: String =
    """WITH aug AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 97 = 0 OR doc_id % 13 = 0
      |              THEN text || ' the quick brown fox jumps over the lazy dog again and again'
      |              ELSE text END AS text,
      |         (doc_id % 97 = 0) AS is_eval
      |  FROM documents),
      |tok AS (SELECT doc_id, is_eval, regexp_split_to_array(trim(text), '\s+') AS w FROM aug),
      |grams AS (
      |  SELECT doc_id, is_eval,
      |         unnest(list_distinct([array_to_string(w[i:i+7], ' ') for i in range(1, len(w) - 6)])) AS g
      |  FROM tok WHERE len(w) >= 8),
      |eval_g AS (SELECT DISTINCT g FROM grams WHERE is_eval),
      |hits AS (SELECT doc_id, count(*) AS n_hits
      |         FROM grams WHERE NOT is_eval AND g IN (SELECT g FROM eval_g) GROUP BY 1),
      |base AS (
      |  SELECT doc_id,
      |         CASE WHEN len(w) >= 8
      |              THEN len(list_distinct([array_to_string(w[i:i+7], ' ') for i in range(1, len(w) - 6)]))
      |              ELSE 0 END::BIGINT AS n_grams
      |  FROM tok WHERE NOT is_eval)
      |SELECT b.doc_id, b.n_grams, coalesce(h.n_hits, 0)::BIGINT AS n_hits,
      |       coalesce(h.n_hits, 0) > 0 AS is_contaminated
      |FROM base b LEFT JOIN hits h USING (doc_id)""".stripMargin

  /** Shared DuckDB CTE chain + final select of the corpus-curation
    * relation — used verbatim by the q_corpus_curation oracle and embedded
    * as a CTE by the q_training_manifest oracle (which packs the curated
    * set).
    */
  /** The lang + quality CTE block alone (non-recursive) — reused by the
    * q_curriculum_bins oracle, which needs the scoring but not the dedup
    * chain. [[curationCtes]] builds on it.
    */
  private val langQualityCtes: String =
    """s AS (
        |  SELECT doc_id,
        |         len(regexp_extract_all(lower(text), '\b(the|and|of|is)\b')) AS en,
        |         len(regexp_extract_all(lower(text), '\b(der|und|die|das)\b')) AS de,
        |         len(regexp_extract_all(lower(text), '\b(le|la|et|les)\b')) AS fr,
        |         len(regexp_extract_all(lower(text), '\b(el|los|que|una)\b')) AS es
        |  FROM documents),
        |lang AS (SELECT doc_id,
        |                CASE WHEN en >= de AND en >= fr AND en >= es THEN 'en'
        |                     WHEN de >= fr AND de >= es THEN 'de'
        |                     WHEN fr >= es THEN 'fr' ELSE 'es' END AS pred_lang
        |         FROM s),
        |qs AS (
        |  SELECT doc_id,
        |         len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> ''))::DOUBLE AS n_tokens,
        |         CASE WHEN length(text) > 0
        |              THEN len(regexp_extract_all(text, '[.,;:!?]'))::DOUBLE / length(text)::DOUBLE END AS punct_ratio,
        |         CASE WHEN len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) > 0
        |              THEN len(regexp_extract_all(lower(text), '\b(the|and|of|is|to|in|a)\b'))::DOUBLE
        |                / len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> ''))::DOUBLE END
        |           AS stopword_ratio
        |  FROM documents),
        |quality AS (
        |  SELECT doc_id, n_tokens::BIGINT AS n_tokens,
        |         0.4 * least(1.0, n_tokens / 100.0)
        |         + 0.3 * (1.0 - least(1.0, punct_ratio * 10.0))
        |         + 0.3 * least(1.0, stopword_ratio * 5.0) AS quality
        |  FROM qs)""".stripMargin

  private val curationCtes: String = langQualityCtes + """,
        |keepers AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
        |t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
        |g AS (SELECT doc_id,
        |             list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]) AS sh
        |      FROM t WHERE len(w) >= 3),
        |e0 AS (SELECT doc_id, unnest(sh) AS sg FROM g),
        |e AS (SELECT doc_id, sg FROM e0
        |      WHERE sg NOT IN (SELECT sg FROM e0 GROUP BY sg HAVING count(*) > 100)),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
        |      FROM e a JOIN e b ON a.sg = b.sg AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |sz AS (SELECT doc_id, len(sh) AS n FROM g),
        |pr AS (SELECT doc_a, doc_b
        |       FROM p JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
        |       WHERE common::DOUBLE / (sa.n + sb.n - common) >= 0.5),
        |edges AS (SELECT doc_a AS es, doc_b AS et FROM pr UNION SELECT doc_b, doc_a FROM pr),
        |rch(v, r) AS (
        |  SELECT es, es FROM (SELECT DISTINCT es FROM edges)
        |  UNION
        |  SELECT ed.es, rc.r FROM edges ed JOIN rch rc ON rc.v = ed.et),
        |losers AS (SELECT v AS doc_id FROM rch GROUP BY v HAVING v <> min(r))""".stripMargin

  private val curationSelect: String =
    """|SELECT q.doc_id, q.n_tokens, q.quality
        |FROM quality q JOIN lang l ON q.doc_id = l.doc_id
        |WHERE l.pred_lang = 'en' AND q.quality >= 0.5
        |  AND q.doc_id IN (SELECT doc_id FROM keepers)
        |  AND q.doc_id NOT IN (SELECT doc_id FROM losers)""".stripMargin

  /** Shared verified-pairs oracle — the UNCAPPED exact word-3-gram Jaccard
    * relation at 0.5, straight from text. q_minhash_dedup and
    * q_winnow_dedup must both agree with it (and each other) bit-for-bit:
    * each generator's candidates, exact-verified, reduce to this relation
    * exactly when the generator loses no true pair — so the two
    * hash-matches are measured recall-1.0 assertions, the
    * q_decontaminate_bloom losslessness pattern. (No df cap here, unlike
    * q_ngram_jaccard_dedup: the verify step re-scores against FULL shingle
    * sets. SimHash stays OUT of this family: its radius-3 recall of J≈0.9
    * pairs is partial by construction, see qSimhashDedup.)
    */
  private def verifiedPairsOracleWith(pairPredicate: String): String =
    raw"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
      |g AS (SELECT doc_id,
      |             list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]) AS sh
      |      FROM t WHERE len(w) >= 3),
      |e AS (SELECT doc_id, unnest(sh) AS s FROM g),
      |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      |      FROM e a JOIN e b ON a.s = b.s AND PAIR_PREDICATE GROUP BY 1, 2),
      |sz AS (SELECT doc_id, len(sh) AS n FROM g)
      |SELECT doc_a, doc_b, common::DOUBLE / (sa.n + sb.n - common) AS jaccard
      |FROM p JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
      |WHERE common::DOUBLE / (sa.n + sb.n - common) >= 0.5""".stripMargin
      .replace("PAIR_PREDICATE", pairPredicate)

  private val verifiedPairsOracle: String =
    verifiedPairsOracleWith("a.doc_id < b.doc_id")

  /** Shared by q_vocab_build and q_vocab_incremental: the incremental count
    * fold ([[TextOps.mergeVocabCounts]]) must reproduce the from-scratch
    * vocabulary bit-for-bit.
    */
  private val vocabBuildOracle: String =
    raw"""WITH toks AS (
      |  SELECT unnest(regexp_split_to_array(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS token
      |  FROM documents),
      |c AS (SELECT token, count(*) AS n FROM toks WHERE token <> '' GROUP BY 1)
      |SELECT token, n, (row_number() OVER (ORDER BY n DESC, token) - 1)::BIGINT AS id
      |FROM c QUALIFY id < 30""".stripMargin

  /** The capped near-dup CLUSTER CTE block (pairs → recursive reachability
    * → min-label → per-doc `labeled` relation) — shared by the cluster
    * oracles and the keeper-election oracle.
    */
  /** The capped-shingle verified-pair CTE prefix (`pr` = jaccardPairs at
    * 0.5, canonical doc_a < doc_b) — shared by the cluster, label-
    * propagation, and triangle oracles so the pair relation cannot drift
    * between them.
    */
  private val neardupPairCtes: String =
    raw"""t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
      |g AS (SELECT doc_id,
      |             list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]) AS sh
      |      FROM t WHERE len(w) >= 3),
      |e0 AS (SELECT doc_id, unnest(sh) AS s FROM g),
      |e AS (SELECT doc_id, s FROM e0
      |      WHERE s NOT IN (SELECT s FROM e0 GROUP BY s HAVING count(*) > 100)),
      |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      |      FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |sz AS (SELECT doc_id, len(sh) AS n FROM g),
      |pr AS (SELECT doc_a, doc_b
      |       FROM p JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
      |       WHERE common::DOUBLE / (sa.n + sb.n - common) >= 0.5)""".stripMargin

  private val neardupClusterCtes: String =
    raw"""$neardupPairCtes,
      |edges AS (SELECT doc_a AS es, doc_b AS et FROM pr UNION SELECT doc_b, doc_a FROM pr),
      |rch(v, r) AS (
      |  SELECT es, es FROM (SELECT DISTINCT es FROM edges)
      |  UNION
      |  SELECT ed.es, rc.r FROM edges ed JOIN rch rc ON rc.v = ed.et),
      |lab AS (SELECT v AS doc_id, min(r) AS cluster_id FROM rch GROUP BY 1),
      |labeled AS (SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
      |            FROM (SELECT doc_id FROM documents) d LEFT JOIN lab l USING (doc_id))""".stripMargin

  /** The monthly-last-close CTE block (`cl` = one close per (symbol,
    * month)) — shared by q_monthly_last_close and the q_gap_interpolate
    * oracle so the base relation cannot drift between them.
    */
  private val monthlyLastCloseCtes: String =
    """w AS (
      |  SELECT o_custkey, date_trunc('month', o_orderdate)::DATE AS date, o_totalprice,
      |         row_number() OVER (PARTITION BY o_custkey, date_trunc('month', o_orderdate)
      |                            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |  FROM orders),
      |cl AS (SELECT o_custkey AS symbol, date, o_totalprice AS price FROM w WHERE rn = 1)""".stripMargin

  /** From-scratch capped near-dup clustering — shared verbatim by
    * q_neardup_clusters and q_neardup_clusters_incr: equality of the
    * incremental maintenance cycle with this relation is the losslessness
    * proof of [[DedupOps.mergeClusters]] +
    * [[DedupOps.incrementalJaccardPairs]].
    */
  /** Unrolled synchronous label-propagation rounds over the shared pair
    * CTEs — round-for-round mirror of [[GraphOps.labelPropagation]]
    * (weight-argmax update, min-label ties).
    */
  private val labelPropagationOracle: String = {
    val rounds = (1 to 3).map { i =>
      s"""u$i AS (SELECT ew.es AS node, s${i - 1}.label AS nl, sum(ew.w)::BIGINT AS c
         |      FROM ew JOIN s${i - 1} ON s${i - 1}.node = ew.et GROUP BY 1, 2),
         |s$i AS (SELECT node, nl AS label FROM (
         |        SELECT node, nl, row_number() OVER (PARTITION BY node ORDER BY c DESC, nl) AS rn
         |        FROM u$i) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH $neardupPairCtes,
      |ed AS (SELECT doc_a AS es, doc_b AS et FROM pr UNION ALL SELECT doc_b, doc_a FROM pr),
      |ew AS (SELECT es, et, count(*) AS w FROM ed GROUP BY 1, 2),
      |s0 AS (SELECT DISTINCT es AS node, es AS label FROM ew),
      |$rounds,
      |alln AS (SELECT d.doc_id, coalesce(s3.label, d.doc_id) AS community_id
      |         FROM (SELECT doc_id FROM documents) d LEFT JOIN s3 ON s3.node = d.doc_id),
      |szc AS (SELECT community_id, count(*) AS community_size FROM alln GROUP BY 1)
      |SELECT doc_id, community_id, community_size FROM alln JOIN szc USING (community_id)""".stripMargin
  }

  /** Unrolled synchronous PageRank rounds over the shared pair CTEs —
    * round-for-round mirror of [[GraphOps.pageRank]]: micro-rank longs,
    * per-edge (r·w) // wdeg contributions, damped with (85·Σ) // 100 + the
    * 150000 teleport base; documents outside the graph coalesce to the
    * isolated-node fixed point.
    */
  private val pageRankOracle: String = {
    val rounds = (1 to 5).map { i =>
      s"""r$i AS (SELECT ew.et AS node,
         |             (150000 + (85 * sum((r${i - 1}.r * ew.w) // wd.wdeg)) // 100)::BIGINT AS r
         |      FROM ew JOIN r${i - 1} ON r${i - 1}.node = ew.es
         |      JOIN wd ON wd.es = ew.es GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH $neardupPairCtes,
      |ed AS (SELECT doc_a AS es, doc_b AS et FROM pr UNION ALL SELECT doc_b, doc_a FROM pr),
      |ew AS (SELECT es, et, count(*)::BIGINT AS w FROM ed GROUP BY 1, 2),
      |wd AS (SELECT es, sum(w)::BIGINT AS wdeg FROM ew GROUP BY 1),
      |r0 AS (SELECT DISTINCT es AS node, 1000000::BIGINT AS r FROM ew),
      |$rounds
      |SELECT d.doc_id, coalesce(r5.r, 150000)::BIGINT AS rank_fp,
      |       coalesce(wd.wdeg, 0)::BIGINT AS degree
      |FROM (SELECT doc_id FROM documents) d
      |LEFT JOIN r5 ON r5.node = d.doc_id
      |LEFT JOIN wd ON wd.es = d.doc_id""".stripMargin
  }

  /** Per-label centroid-vs-corpus drift over the embeddings table — the
    * one-shot derivation both registered forms must reproduce (the
    * incremental form folds per-batch sums first; the fold must be
    * invisible here).
    */
  private val embeddingDriftOracle: String =
    """WITH v AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
      |q AS (SELECT label, generate_subscripts(v, 1) AS dim,
      |             unnest(list_transform(v, x -> round(x * 1000000.0)::BIGINT)) AS q
      |      FROM v),
      |g AS (SELECT label, dim, sum(q)::BIGINT AS sq, count(*)::BIGINT AS cnt
      |      FROM q GROUP BY 1, 2),
      |cl AS (SELECT label,
      |              list(sq::DOUBLE / (cnt::DOUBLE * 1000000.0) ORDER BY dim) AS cvec,
      |              max(cnt)::BIGINT AS n_vecs
      |       FROM g GROUP BY 1),
      |r AS (SELECT dim, sum(sq)::BIGINT AS sq, sum(cnt)::BIGINT AS cnt FROM g GROUP BY 1),
      |rv AS (SELECT list(sq::DOUBLE / (cnt::DOUBLE * 1000000.0) ORDER BY dim) AS rvec,
      |              max(cnt)::BIGINT AS n_total
      |       FROM r)
      |SELECT label, n_vecs, (n_vecs * 1000000) // n_total AS share_fp,
      |       sqrt(greatest(list_dot_product(cvec, cvec)
      |                     - 2.0 * list_dot_product(cvec, rvec)
      |                     + list_dot_product(rvec, rvec), 0.0)) AS dist
      |FROM cl CROSS JOIN rv""".stripMargin

  /** Mirror of [[graft.ops.GraphOps.kCore]] at k=2, rounds=8 over the
    * shared pair-graph CTEs: each peeling round a MATERIALIZED CTE (the
    * BPE-round lesson — a round references its predecessor twice, so
    * inlining would copy the pair derivation 2⁸ times), each step a
    * within-alive degree count + integer comparison.
    */
  private val kcoreOracle: String = {
    val rounds = (2 to 8).map { r =>
      s"""ka$r AS MATERIALIZED (
         |  SELECT ke.src AS node FROM ke
         |  JOIN ka${r - 1} s ON ke.src = s.node JOIN ka${r - 1} t ON ke.dst = t.node
         |  GROUP BY 1 HAVING count(*) >= 2)""".stripMargin
    }.mkString(",\n")
    s"""WITH $neardupPairCtes,
      |ke AS MATERIALIZED (
      |  SELECT doc_a AS src, doc_b AS dst FROM pr
      |  UNION ALL SELECT doc_b, doc_a FROM pr),
      |kdeg AS (SELECT src AS node, count(*)::BIGINT AS degree FROM ke GROUP BY 1),
      |ka1 AS MATERIALIZED (SELECT node FROM kdeg WHERE degree >= 2),
      |$rounds,
      |kcd AS (SELECT ke.src AS node, count(*)::BIGINT AS core_degree FROM ke
      |        JOIN ka8 s ON ke.src = s.node JOIN ka8 t ON ke.dst = t.node GROUP BY 1)
      |SELECT kdeg.node AS doc_id, kdeg.degree,
      |       kcd.core_degree IS NOT NULL AS in_kcore, kcd.core_degree
      |FROM kdeg LEFT JOIN kcd USING (node)""".stripMargin
  }

  private val triangleStatsOracle: String =
    s"""WITH $neardupPairCtes,
      |deg AS (SELECT node, count(*)::BIGINT AS degree
      |        FROM (SELECT doc_a AS node FROM pr UNION ALL SELECT doc_b FROM pr) GROUP BY 1),
      |tri AS (SELECT e1.doc_a AS x, e1.doc_b AS y, e2.doc_b AS z
      |        FROM pr e1 JOIN pr e2 ON e2.doc_a = e1.doc_b
      |        JOIN pr e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b),
      |pn AS (SELECT node, count(*)::BIGINT AS triangles
      |       FROM (SELECT x AS node FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
      |       GROUP BY 1)
      |SELECT deg.node AS doc_id, deg.degree, coalesce(pn.triangles, 0)::BIGINT AS triangles,
      |       CASE WHEN deg.degree >= 2
      |            THEN 2.0 * coalesce(pn.triangles, 0)::DOUBLE / (deg.degree * (deg.degree - 1))::DOUBLE
      |       END AS lcc
      |FROM deg LEFT JOIN pn USING (node)""".stripMargin

  /** Recursive-CTE replay of the fixed-point EWMA recurrence — shared by
    * q_ewma_smooth and q_ewma_incremental (resume-from-state equality is
    * the [[graft.ops.Analytics.ewmaResume]] losslessness proof).
    */
  private val ewmaOracle: String =
    s"""WITH RECURSIVE $monthlyLastCloseCtes,
      |q AS (SELECT symbol, date, price,
      |             round(price * 1000000.0)::BIGINT AS fp,
      |             row_number() OVER (PARTITION BY symbol ORDER BY date) AS rn
      |      FROM cl),
      |ew(symbol, rn, date, price, s) AS (
      |  SELECT symbol, rn, date, price, fp FROM q WHERE rn = 1
      |  UNION ALL
      |  SELECT q.symbol, q.rn, q.date, q.price, (q.fp + 3 * ew.s) // 4
      |  FROM q JOIN ew ON q.symbol = ew.symbol AND q.rn = ew.rn + 1)
      |SELECT symbol, date, price, s AS ewma_fp, s::DOUBLE / 1000000.0 AS ewma
      |FROM ew""".stripMargin

  /** Smoothed per-term KL(even‖odd) contributions — shared by
    * q_vocab_drift and q_vocab_drift_incremental (count-fold equality is
    * the [[graft.ops.TextOps.mergeVocabCounts]] losslessness proof in its
    * monitor form).
    */
  /** KMV distinct-user estimate — shared by q_kmv_users and
    * q_kmv_incremental (merge losslessness). The nibble-sum reconstructs
    * the same 60-bit integer Spark's conv(md5-prefix, 16, 10) parses.
    */
  /** Full count-min replay: build the 4×512 sparse cell relation with the
    * same salted md5→60-bit→mod-width hash (the kmv hex-fold recipe),
    * probe every candidate, min over rows with missing cells as 0, grand
    * totals from hash row 0 — shared verbatim by the one-shot and folded
    * registered queries (cell counts are an additive monoid, so the fold
    * must land on the identical sketch).
    */
  private val cmsOracle: String = {
    val h = "list_sum([(strpos('0123456789abcdef', md5(i::VARCHAR || ':' || " +
      "user_id::VARCHAR)[j]) - 1)::BIGINT << (4 * (15 - j)) for j in range(1, 16)])" +
      "::BIGINT % 512"
    s"""WITH v AS (SELECT event_type, user_id FROM events WHERE user_id IS NOT NULL),
      |cells AS (
      |  SELECT event_type, i AS row_id, $h AS slot, count(*)::BIGINT AS n
      |  FROM v CROSS JOIN range(4) r(i)
      |  GROUP BY 1, 2, 3),
      |pr AS (
      |  SELECT event_type, user_id, i AS row_id, $h AS slot
      |  FROM (SELECT DISTINCT event_type, user_id FROM v) CROSS JOIN range(4) r(i)),
      |est AS (
      |  SELECT pr.event_type, pr.user_id, min(coalesce(c.n, 0))::BIGINT AS est_n
      |  FROM pr LEFT JOIN cells c
      |    ON c.event_type = pr.event_type AND c.row_id = pr.row_id AND c.slot = pr.slot
      |  GROUP BY 1, 2),
      |tot AS (SELECT event_type, sum(n)::BIGINT AS t FROM cells WHERE row_id = 0 GROUP BY 1)
      |SELECT e.event_type, e.user_id AS symbol, e.est_n
      |FROM est e JOIN tot USING (event_type)
      |WHERE e.est_n > tot.t * 0.008""".stripMargin
  }

  private val kmvOracle: String =
    """WITH hv AS (SELECT DISTINCT event_type,
      |                   list_sum([(strpos('0123456789abcdef', md5(user_id::VARCHAR)[i]) - 1)::BIGINT << (4 * (15 - i))
      |                             for i in range(1, 16)])::BIGINT AS hv
      |            FROM events),
      |r AS (SELECT event_type, hv, row_number() OVER (PARTITION BY event_type ORDER BY hv) AS pos FROM hv),
      |s AS (SELECT event_type, hv FROM r WHERE pos <= 64)
      |SELECT event_type, count(*)::BIGINT AS n_sketch,
      |       CASE WHEN count(*) < 64 THEN count(*)::DOUBLE
      |            ELSE 63.0 * 1152921504606846976.0 / max(hv)::DOUBLE END AS est_distinct
      |FROM s GROUP BY 1""".stripMargin

  /** Fixed-point HLL replay — the register file from the SAME md5 hex-fold
    * as kmvOracle, ranks via DuckDB's bin() (no leading zeros, like Java's
    * Long.toBinaryString: an exact integer floor(log2)+1), the harmonic
    * sum as the integer Σ 2^(width+1−mx), and BOTH estimate branches with
    * the numerator/threshold constants embedded from
    * [[graft.ops.Analytics.hllNumerator]] (one double, two engines).
    * Computed ONE-PASS per event_type: shared verbatim by q_approx_users
    * and q_hll_incremental — the incremental form merging per-day partials
    * must land on the identical registers (max is associative), the
    * kmv/LM-counts losslessness discipline.
    */
  private def hllEstimateSql(estCol: String): String = {
    val p = Analytics.HllP
    val m = 1 << p
    val width = 60 - p
    val scale = width + 1
    val mask = (1L << width) - 1
    raw"""WITH v AS (SELECT event_type, user_id FROM events WHERE user_id IS NOT NULL),
      |h AS (SELECT event_type,
      |             list_sum([(strpos('0123456789abcdef', md5(user_id::VARCHAR)[i]) - 1)::BIGINT << (4 * (15 - i))
      |                       for i in range(1, 16)])::BIGINT AS hv
      |      FROM v),
      |rw AS (SELECT event_type, hv >> $width AS reg, hv & $mask AS w FROM h),
      |r AS (SELECT event_type, reg,
      |             max(CASE WHEN w = 0 THEN $scale ELSE $scale - length(bin(w)) END)::BIGINT AS mx
      |      FROM rw GROUP BY 1, 2),
      |agg AS (SELECT event_type, count(*)::BIGINT AS nz,
      |               sum(1::BIGINT << ($scale - mx))::BIGINT AS s_nz
      |        FROM r GROUP BY 1),
      |e AS (SELECT event_type, ($m - nz) AS z, (($m - nz)::BIGINT << $scale) + s_nz AS s_scaled FROM agg)
      |SELECT event_type,
      |       CASE WHEN z > 0 AND (${Analytics.hllNumerator(p)} / s_scaled::DOUBLE) <= ${2.5 * m}
      |            THEN round(ln($m.0 / z::DOUBLE) * 1000000.0)::BIGINT::DOUBLE * $m.0 / 1000000.0
      |            ELSE ${Analytics.hllNumerator(p)} / s_scaled::DOUBLE END AS $estCol
      |FROM e""".stripMargin
  }

  private val hllApproxUsersOracle: String =
    s"""WITH est AS (${hllEstimateSql("approx_users")}),
      |n AS (SELECT event_type, count(*)::BIGINT AS n_events FROM events GROUP BY 1)
      |SELECT est.event_type, est.approx_users, n.n_events
      |FROM est JOIN n USING (event_type)""".stripMargin

  /** SimHash signature replay: md5Hash60 per distinct token, 60 per-bit
    * ±1 vote sums, 4×16-bit chunk values (bits 60–63 pin to 0 — the md5
    * fold is 60-bit, see [[graft.ops.DedupOps.simhash]]), candidates from
    * chunk-equality buckets (recall-complete for Hamming ≤ 3 by
    * pigeonhole), Hamming as Σ bit_count(xor(chunk)). Docs whose token
    * list is EMPTY still get signature 0 (all vote sums are 0, no bit
    * set) — the LEFT JOIN + coalesce mirrors the engine, where simhash of
    * an empty array is 0, not absent.
    */
  private val simhashOracle: String = {
    val votes = (0 until 60)
      .map(b => s"sum(CASE WHEN (hv >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS v$b")
      .mkString(",\n|             ")
    def chunk(c: Int): String = {
      val hi = if (c < 3) 16 else 12 // chunk 3 carries only bits 48–59
      (0 until hi)
        .map(j => s"(CASE WHEN coalesce(v${16 * c + j}, 0) > 0 THEN ${1 << j} ELSE 0 END)")
        .mkString(" + ")
    }
    raw"""WITH t AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS w
      |            FROM documents),
      |tok AS (SELECT DISTINCT doc_id, unnest(w) AS token FROM t),
      |h AS (SELECT doc_id,
      |             list_sum([(strpos('0123456789abcdef', md5(token)[i]) - 1)::BIGINT << (4 * (15 - i))
      |                       for i in range(1, 16)])::BIGINT AS hv
      |      FROM tok),
      |v AS (SELECT doc_id,
      |             $votes
      |      FROM h GROUP BY 1),
      |sig AS (SELECT d.doc_id, (${chunk(0)})::BIGINT AS c0, (${chunk(1)})::BIGINT AS c1,
      |               (${chunk(2)})::BIGINT AS c2, (${chunk(3)})::BIGINT AS c3
      |        FROM (SELECT doc_id FROM documents) d LEFT JOIN v USING (doc_id)),
      |ch AS (SELECT doc_id, 0 AS c, c0 AS val FROM sig UNION ALL
      |       SELECT doc_id, 1, c1 FROM sig UNION ALL
      |       SELECT doc_id, 2, c2 FROM sig UNION ALL
      |       SELECT doc_id, 3, c3 FROM sig),
      |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |          FROM ch a JOIN ch b ON a.c = b.c AND a.val = b.val AND a.doc_id < b.doc_id),
      |ham AS (SELECT doc_a, doc_b,
      |               (bit_count(xor(sa.c0, sb.c0)) + bit_count(xor(sa.c1, sb.c1))
      |                + bit_count(xor(sa.c2, sb.c2)) + bit_count(xor(sa.c3, sb.c3)))::INTEGER AS hamming
      |        FROM pairs
      |        JOIN sig sa ON sa.doc_id = pairs.doc_a
      |        JOIN sig sb ON sb.doc_id = pairs.doc_b)
      |SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= 3""".stripMargin
  }

  /** SRP-LSH replay: the 64 Gaussian hyperplanes regenerated from the SAME
    * `java.util.Random(42)` the engine plan embeds
    * ([[graft.ops.SimilarityOps.srpPlanes]] — Double.toString round-trips,
    * so the SQL literals parse back to bit-identical doubles), signature
    * bits as sign of list_dot_product (same summation order as graft_dot),
    * 8×8-bit band values, candidates from band-equality buckets, exact
    * cosine re-rank — the engine's whole plan, step for step.
    */
  private val annLshOracle: String = {
    val planes = SimilarityOps.srpPlanes(dim = 64, nBits = 64, seed = 42L)
    val bitCols = planes.zipWithIndex
      .map { case (h, b) =>
        val arr = h.map(_.toString).mkString("[", ", ", "]")
        s"(CASE WHEN list_dot_product(v, $arr) >= 0 THEN 1 ELSE 0 END) AS b$b"
      }
      .mkString(",\n|             ")
    val bandCols = (0 until 8)
      .map { c =>
        (0 until 8).map(j => s"b${c * 8 + j} * ${1L << j}").mkString("(", " + ", s")::BIGINT AS band$c")
      }
      .mkString(",\n|               ")
    val bandUnion = (0 until 8)
      .map(c => s"SELECT vec_id, $c AS band, band$c AS val FROM bands")
      .mkString("\n|       UNION ALL ")
    raw"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM v),
      |sig AS (SELECT vec_id,
      |             $bitCols
      |      FROM n),
      |bands AS (SELECT vec_id,
      |               $bandCols
      |          FROM sig),
      |cb AS ($bandUnion),
      |pb AS (SELECT vec_id AS probe_id, band, val FROM cb WHERE vec_id < 20),
      |cand AS (SELECT DISTINCT pb.probe_id, cb.vec_id
      |         FROM pb JOIN cb USING (band, val) WHERE cb.vec_id <> pb.probe_id),
      |j AS (SELECT cand.probe_id, cand.vec_id,
      |             CASE WHEN p.nrm * c.nrm > 0 THEN list_dot_product(p.v, c.v) / (p.nrm * c.nrm) END AS sim
      |      FROM cand JOIN n c ON c.vec_id = cand.vec_id JOIN n p ON p.vec_id = cand.probe_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rank
      |      FROM j WHERE sim IS NOT NULL)
      |SELECT probe_id, vec_id AS neighbor_id, sim, rank FROM r WHERE rank <= 10""".stripMargin
  }

  private val vocabDriftOracle: String =
    raw"""WITH ta AS (SELECT unnest(regexp_split_to_array(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS term
      |            FROM documents WHERE doc_id % 2 = 0),
      |ca AS (SELECT term, count(*) AS c_a FROM ta WHERE term <> '' GROUP BY 1),
      |tb AS (SELECT unnest(regexp_split_to_array(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS term
      |       FROM documents WHERE doc_id % 2 = 1),
      |cb AS (SELECT term, count(*) AS c_b FROM tb WHERE term <> '' GROUP BY 1),
      |j AS (SELECT term, coalesce(c_a, 0)::BIGINT AS c_a, coalesce(c_b, 0)::BIGINT AS c_b
      |      FROM ca FULL OUTER JOIN cb USING (term)),
      |t AS (SELECT sum(c_a)::BIGINT AS na, sum(c_b)::BIGINT AS nb, count(*)::BIGINT AS v FROM j)
      |SELECT term, c_a, c_b,
      |       round(((c_a + 1)::DOUBLE / (na + v)::DOUBLE)
      |             * ln(((c_a + 1)::DOUBLE / (na + v)::DOUBLE)
      |                  / ((c_b + 1)::DOUBLE / (nb + v)::DOUBLE))
      |             * 1000000.0)::BIGINT AS contrib_fp
      |FROM j CROSS JOIN t""".stripMargin

  /** Unrolled farthest-first traversal over millionth-quantized vectors —
    * mirror of [[graft.ops.SimilarityOps.kCenterSelect]] at k=8: seed =
    * min vec_id, each round the (mind DESC, vec_id) argmax of the running
    * min squared-L2 to the picked set, folded per round with `least` —
    * all order-free BIGINT arithmetic, so every pick and radius replays
    * engine-exact.
    */
  private val kCenterOracle: String = {
    val l2 = "list_sum([(r.vfp[i] - p.vfp[i]) * (r.vfp[i] - p.vfp[i]) " +
      "for i in range(1, len(r.vfp) + 1)])::BIGINT"
    val k = 8
    val rounds = (2 to k).map { t =>
      val step =
        s"p$t AS (SELECT vec_id, vfp, mind FROM r${t - 1} ORDER BY mind DESC, vec_id LIMIT 1)"
      val next =
        if (t < k)
          s""",
             |r$t AS (SELECT r.vec_id, r.vfp, least(r.mind, $l2) AS mind
             |       FROM r${t - 1} r CROSS JOIN p$t p WHERE r.vec_id <> p.vec_id)""".stripMargin
        else ""
      step + next
    }.mkString(",\n")
    val picks = (2 to k)
      .map(t => s"SELECT vec_id, $t::BIGINT AS pick_rank, mind AS radius_sq FROM p$t")
      .mkString("\nUNION ALL ")
    s"""WITH v AS (SELECT vec_id, [round(x::DOUBLE * 1000000.0)::BIGINT for x in embedding] AS vfp
      |           FROM embeddings),
      |p1 AS (SELECT vec_id, vfp FROM v ORDER BY vec_id LIMIT 1),
      |r1 AS (SELECT r.vec_id, r.vfp, $l2 AS mind
      |       FROM v r CROSS JOIN p1 p WHERE r.vec_id <> p.vec_id),
      |$rounds
      |SELECT vec_id, 1::BIGINT AS pick_rank, NULL::BIGINT AS radius_sq FROM p1
      |UNION ALL $picks""".stripMargin
  }

  /** O(n²) NOT EXISTS dominance skyline over (quality millionths, token
    * count) — the DEFINITION the distributed level/bucket algorithm and
    * its fold-monoid incremental form must both equal.
    */
  private val paretoOracle: String =
    raw"""WITH qy AS (
      |  SELECT doc_id,
      |         len(list_filter(regexp_split_to_array(trim(text), '\s+'), z -> z <> ''))::BIGINT AS n_tokens,
      |         0.4 * least(1.0, len(list_filter(regexp_split_to_array(trim(text), '\s+'), z -> z <> ''))::DOUBLE / 100.0)
      |         + 0.3 * (1.0 - least(1.0, (CASE WHEN length(text) > 0
      |                 THEN len(regexp_extract_all(text, '[.,;:!?]'))::DOUBLE / length(text)::DOUBLE END) * 10.0))
      |         + 0.3 * least(1.0, (CASE WHEN len(list_filter(regexp_split_to_array(trim(text), '\s+'), z -> z <> '')) > 0
      |                 THEN len(regexp_extract_all(lower(text), '\b(the|and|of|is|to|in|a)\b'))::DOUBLE
      |                      / len(list_filter(regexp_split_to_array(trim(text), '\s+'), z -> z <> ''))::DOUBLE END) * 5.0)
      |           AS quality
      |  FROM documents),
      |p AS (SELECT doc_id, round(quality * 1000000.0)::BIGINT AS quality_fp, n_tokens
      |      FROM qy WHERE quality IS NOT NULL AND n_tokens IS NOT NULL)
      |SELECT a.doc_id, a.quality_fp, a.n_tokens
      |FROM p a
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM p b
      |  WHERE b.quality_fp >= a.quality_fp AND b.n_tokens >= a.n_tokens
      |    AND (b.quality_fp > a.quality_fp OR b.n_tokens > a.n_tokens))""".stripMargin

  /** Telescoping kNN-Shapley replay — mirror of
    * [[graft.ops.SimilarityOps.knnShapley]] at K=5: per probe, rank all
    * train points by (squared-L2 fixed-point distance, id), quantize each
    * telescoping step to nano-units with truncated division, suffix-sum
    * the INTEGER steps (order-free, so DuckDB's segment-tree window
    * aggregation cannot diverge from Spark's running accumulation), add
    * the farthest point's base term, and reduce over the probe panel.
    */
  private val knnShapleyOracle: String =
    """WITH v AS (SELECT vec_id, [round(x::DOUBLE * 1000000.0)::BIGINT for x in embedding] AS vfp,
      |                  label::BIGINT AS y
      |           FROM embeddings),
      |t AS (SELECT * FROM v WHERE vec_id % 50 <> 0),
      |p AS (SELECT vec_id AS pid, vfp AS pv, y AS py FROM v WHERE vec_id % 50 = 0),
      |d AS (SELECT p.pid, t.vec_id, t.y, p.py,
      |             list_sum([(t.vfp[i] - p.pv[i]) * (t.vfp[i] - p.pv[i])
      |                       for i in range(1, len(t.vfp) + 1)])::BIGINT AS dist
      |      FROM t CROSS JOIN p),
      |r AS (SELECT pid, vec_id,
      |             row_number() OVER (PARTITION BY pid ORDER BY dist, vec_id) AS i,
      |             count(*) OVER (PARTITION BY pid) AS n,
      |             CASE WHEN y = py THEN 1 ELSE 0 END AS ind
      |      FROM d),
      |r2 AS (SELECT *, lead(ind) OVER (PARTITION BY pid ORDER BY i) AS nind FROM r),
      |r3 AS (SELECT pid, vec_id, i, n, ind,
      |              CASE WHEN nind IS NULL THEN 0
      |                   ELSE (ind - nind) * ((least(5, i) * 1000000000) // (5 * i)) END AS dfp
      |       FROM r2),
      |r4 AS (SELECT pid, vec_id,
      |              sum(dfp) OVER (PARTITION BY pid ORDER BY i DESC
      |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |              + first_value(ind) OVER (PARTITION BY pid ORDER BY i DESC
      |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |                * (1000000000 // n) AS sfp
      |       FROM r3)
      |SELECT vec_id, sum(sfp)::BIGINT AS shap_fp FROM r4 GROUP BY 1""".stripMargin

  /** Unrolled Lloyd iterations over millionth-quantized vectors — mirror
    * of [[graft.ops.SimilarityOps.kmeansFixedPoint]] at k=8, iters=2:
    * squared-L2 integer distances, (dist, cid) argmin, truncated-div
    * centroid means, empty clusters keeping the prior centroid.
    */
  private val kmeansOracle: String = kmeansOracleWith("TRUE")

  /** Unrolled Lloyd training on the `trainFilter` subset (k=8, iters=2)
    * followed by a full-corpus assignment — serves q_kmeans (train = all)
    * and q_kmeans_assign (train = even ids, the sample-train/full-score
    * operating split).
    */
  /** Unrolled-Lloyd CTE pair — assignment round `i` of `src` against
    * codebook `cs`, and the truncated-div centroid update — shared by the
    * k-means oracle (prefix "") and the IVF-PQ coarse fit (prefix "k"),
    * so the argmin/tie/update logic has ONE definition and cannot drift.
    */
  private def lloydAssignCte(p: String, i: Int, cs: String, src: String): String =
    s"""${p}d$i AS (SELECT $src.vec_id, $cs.cid,
       |        list_sum([($src.vfp[i] - $cs.cfp[i]) * ($src.vfp[i] - $cs.cfp[i])
       |                  for i in range(1, len($src.vfp) + 1)])::BIGINT AS dist
       |        FROM $src CROSS JOIN $cs),
       |${p}a$i AS (SELECT vec_id, cid, dist FROM (
       |          SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |          FROM ${p}d$i) WHERE rn = 1)""".stripMargin

  private def lloydUpdateCte(p: String, i: Int, prev: String, src: String): String =
    s"""${p}e$i AS (SELECT ${p}a$i.cid, unnest($src.vfp) AS x, generate_subscripts($src.vfp, 1) AS pos
       |        FROM ${p}a$i JOIN $src USING (vec_id)),
       |${p}m$i AS (SELECT cid, pos, sum(x)::BIGINT // count(*)::BIGINT AS m FROM ${p}e$i GROUP BY 1, 2),
       |${p}n$i AS (SELECT cid, list(m ORDER BY pos) AS cfp FROM ${p}m$i GROUP BY 1),
       |${p}c$i AS (SELECT $prev.cid, coalesce(${p}n$i.cfp, $prev.cfp) AS cfp
       |        FROM $prev LEFT JOIN ${p}n$i USING (cid))""".stripMargin

  /** One Viterbi DP round of the unigram oracle: extend every scored
    * candidate ending at position `i` from the best state at its start,
    * (score DESC, split DESC, path DESC) argmax per word — the mirror of
    * [[graft.ops.TextOps]]' `viterbi` struct max.
    */
  private def unigramDpCte(k: String, i: Int): String =
    s"""d${k}_$i AS MATERIALIZED (
       |  SELECT * FROM d${k}_${i - 1}
       |  UNION ALL
       |  SELECT word, $i AS pos, score_fp, path FROM (
       |    SELECT c.word, (p.score_fp + c.lp_fp)::BIGINT AS score_fp,
       |           list_append(p.path, c.piece) AS path,
       |           row_number() OVER (PARTITION BY c.word
       |             ORDER BY (p.score_fp + c.lp_fp) DESC, c.s DESC,
       |                      list_append(p.path, c.piece) DESC) AS rn
       |    FROM cand$k c JOIN d${k}_${i - 1} p ON p.word = c.word AND p.pos = c.s
       |    WHERE c.e = $i) WHERE rn = 1)""".stripMargin

  /** A full unrolled Viterbi block over `words`/`subsRel` under the
    * `scoresRel` table, tag-namespaced — shared by the EM iterations and
    * the q_unigram_assign apply leg.
    */
  private def unigramViterbiCtes(
      k: String, words: String, subsRel: String, scoresRel: String, maxWordLen: Int): String =
    s"""cand$k AS MATERIALIZED (SELECT $subsRel.word, $subsRel.s, $subsRel.e, $subsRel.piece, $scoresRel.lp_fp
       |           FROM $subsRel JOIN $scoresRel USING (piece)),
       |d${k}_0 AS MATERIALIZED (SELECT word, 0 AS pos, 0::BIGINT AS score_fp, []::VARCHAR[] AS path FROM $words),
       |${(1 to maxWordLen).map(unigramDpCte(k, _)).mkString(",\n")},
       |seg$k AS MATERIALIZED (SELECT word, path, score_fp FROM d${k}_$maxWordLen WHERE pos = length(word))""".stripMargin

  /** One hard-EM iteration `k` (scores from counts uc{k-1}, the unrolled
    * Viterbi, and the re-count with the single-char floor) — mirror of
    * [[graft.ops.TextOps.unigramTrainFromWordCounts]]'s loop body.
    */
  private def unigramEmCtes(k: Int, maxWordLen: Int): String =
    s"""us${k - 1} AS MATERIALIZED (SELECT piece,
       |        round(ln(cnt::DOUBLE / (SELECT sum(cnt) FROM uc${k - 1})::DOUBLE) * 1000000.0)::BIGINT AS lp_fp
       |        FROM uc${k - 1}),
       |${unigramViterbiCtes(k.toString, "uwc", "usub", s"us${k - 1}", maxWordLen)},
       |used$k AS MATERIALIZED (SELECT piece, sum(freq)::BIGINT AS cnt
       |           FROM (SELECT word, unnest(path) AS piece FROM seg$k) u
       |           JOIN uwc USING (word) GROUP BY 1),
       |uc$k AS MATERIALIZED (SELECT uch.piece, greatest(coalesce(used$k.cnt, 0), 1)::BIGINT AS cnt
       |         FROM uch LEFT JOIN used$k ON uch.piece = used$k.piece
       |         UNION ALL
       |         SELECT used$k.piece, used$k.cnt FROM used$k
       |         LEFT JOIN uch ON used$k.piece = uch.piece WHERE uch.piece IS NULL)""".stripMargin

  /** Shared CTE block of the unigram-tokenizer oracles: the (word, freq)
    * vocabulary, the candidate substring inventory (≤4 chars, overlapping
    * occurrences), occurrence-weighted init counts, and TWO unrolled
    * hard-EM iterations at a 12-round DP bound (words are ≤ 8 chars; the
    * Scala op fails loudly beyond the shared bound, and rounds past the
    * longest word extend nothing on either engine).
    */
  private val unigramBaseCtes: String = unigramBaseCtesWith("TRUE")

  private def unigramBaseCtesWith(docsFilter: String): String =
    raw"""uwc AS MATERIALIZED (SELECT word, count(*)::BIGINT AS freq FROM (
       |         SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\s+'), z -> z <> '')) AS word
       |         FROM documents WHERE $docsFilter) GROUP BY 1),
       |usub AS MATERIALIZED (SELECT word, c.s AS s, c.e AS e, c.piece AS piece FROM (
       |           SELECT word,
       |                  unnest(flatten([[{'s': s, 'e': s + l, 'piece': substr(word, s + 1, l)}
       |                                   for l in range(1, least(4, length(word) - s) + 1)]
       |                                  for s in range(0, length(word))])) AS c
       |           FROM uwc)),
       |uch AS MATERIALIZED (SELECT DISTINCT piece FROM usub WHERE e - s = 1),
       |uc0 AS MATERIALIZED (SELECT piece, sum(freq)::BIGINT AS cnt FROM usub JOIN uwc USING (word) GROUP BY 1),
       |${unigramEmCtes(1, 12)},
       |${unigramEmCtes(2, 12)}""".stripMargin

  /** Unrolled greedy maximal-munch — mirror of
    * [[graft.ops.TextOps.greedySegmentWith]] over the trained `uc2`
    * inventory: per (word, position) the longest candidate piece wins
    * (`gb`), each of the 12 rounds advances exactly the words whose
    * cursor sits at that round's position (single-char fallback when no
    * piece starts there), `path` space-joined to the scalar cell.
    */
  private val greedySegmentOracle: String = {
    val rounds = (1 to 12).map { i =>
      s"""g$i AS (SELECT w.word,
         |        CASE WHEN w.pos = ${i - 1} AND w.pos < length(w.word)
         |             THEN coalesce(b.e, w.pos + 1) ELSE w.pos END AS pos,
         |        CASE WHEN w.pos = ${i - 1} AND w.pos < length(w.word)
         |             THEN list_append(w.path, coalesce(b.piece, substr(w.word, w.pos + 1, 1)))
         |             ELSE w.path END AS path
         |        FROM g${i - 1} w LEFT JOIN gb b ON b.word = w.word AND b.s = w.pos)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH $unigramBaseCtes,
       |gcand AS (SELECT usub.word, usub.s, usub.e, usub.piece
       |          FROM usub JOIN uc2 ON usub.piece = uc2.piece),
       |gb AS (SELECT word, s, e, piece FROM (
       |         SELECT *, row_number() OVER (PARTITION BY word, s ORDER BY e DESC) AS rn
       |         FROM gcand) WHERE rn = 1),
       |g0 AS (SELECT word, 0 AS pos, []::VARCHAR[] AS path FROM uwc),
       |$rounds
       |SELECT word, coalesce(array_to_string(path, ' '), '') AS pieces,
       |       len(path)::BIGINT AS n_pieces
       |FROM g12""".stripMargin
  }

  private val unigramVocabOracle: String =
    s"""WITH $unigramBaseCtes,
       |usf AS (SELECT piece,
       |        round(ln(cnt::DOUBLE / (SELECT sum(cnt) FROM uc2)::DOUBLE) * 1000000.0)::BIGINT AS lp_fp
       |        FROM uc2)
       |SELECT uc2.piece, uc2.cnt, usf.lp_fp FROM uc2 JOIN usf ON uc2.piece = usf.piece""".stripMargin

  // NB both segmentation oracles space-join `path` to a scalar VARCHAR —
  // the registered-query cell contract (the driver harness sorts cells
  // with pandas, which cannot hash a list; OutputContractSpec pins the
  // Spark side of the same contract)
  // (coalesce guards the array_to_string([]) → NULL vs array_join([]) → ''
  // engine divergence; paths are provably non-empty today, so this is
  // pure defense against a future empty-segmentation row)
  private val unigramSegmentOracle: String =
    s"""WITH $unigramBaseCtes
       |SELECT word, coalesce(array_to_string(path, ' '), '') AS pieces, score_fp FROM seg2""".stripMargin

  /** Deployment-split oracle: the full EM trained on the even-doc half
    * (the parametrized base block), final scores from its uc2 counts,
    * then ONE tag-`a` Viterbi block over the FULL corpus vocabulary —
    * mirror of [[graft.ops.TextOps.unigramSegmentWith]]. Words with
    * untrained characters never reach a complete path and are absent on
    * both engines.
    */
  private val unigramAssignOracle: String =
    raw"""WITH ${unigramBaseCtesWith("doc_id % 2 = 0")},
       |usf AS MATERIALIZED (SELECT piece,
       |       round(ln(cnt::DOUBLE / (SELECT sum(cnt) FROM uc2)::DOUBLE) * 1000000.0)::BIGINT AS lp_fp
       |       FROM uc2),
       |wa AS MATERIALIZED (SELECT word, count(*)::BIGINT AS freq FROM (
       |        SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\s+'), z -> z <> '')) AS word
       |        FROM documents) GROUP BY 1),
       |wsub AS MATERIALIZED (SELECT word, c.s AS s, c.e AS e, c.piece AS piece FROM (
       |          SELECT word,
       |                 unnest(flatten([[{'s': s, 'e': s + l, 'piece': substr(word, s + 1, l)}
       |                                  for l in range(1, least(4, length(word) - s) + 1)]
       |                                 for s in range(0, length(word))])) AS c
       |          FROM wa)),
       |${unigramViterbiCtes("a", "wa", "wsub", "usf", 12)}
       |SELECT word, coalesce(array_to_string(path, ' '), '') AS pieces, score_fp FROM sega""".stripMargin

  /** Corpus encoding through the unigram segmentation — the SHARED
    * [[bpeEncodeSql]] tail over the seg2 relation bridged to the
    * (word, freq, syms) shape.
    */
  private val unigramEncodeOracle: String =
    s"""WITH $unigramBaseCtes,
       |useg AS (SELECT seg2.word, uwc.freq, seg2.path AS syms
       |         FROM seg2 JOIN uwc USING (word)),
       |${bpeEncodeSql("useg")}""".stripMargin

  /** Staged-family oracle: the UNION of the three self-contained unigram
    * oracles (vocab, segmentation, encoding) over ONE shared trained-CTE
    * block, tagged by kind — so the hash-match proves the staged
    * train-once pipeline reproduces every product of the family exactly
    * (the q_curation_manifest_staged oracle convention).
    */
  private val unigramStagedOracle: String =
    s"""WITH $unigramBaseCtes,
       |usf AS (SELECT piece,
       |        round(ln(cnt::DOUBLE / (SELECT sum(cnt) FROM uc2)::DOUBLE) * 1000000.0)::BIGINT AS lp_fp
       |        FROM uc2),
       |useg AS (SELECT seg2.word, uwc.freq, seg2.path AS syms
       |         FROM seg2 JOIN uwc USING (word)),
       |${bpeEncodeCtes("useg")},
       |enc AS (${bpeEncodeSelect()})
       |SELECT 'vocab' AS kind, uc2.piece AS piece, uc2.cnt AS cnt, usf.lp_fp AS score_fp,
       |       NULL::VARCHAR AS word, NULL::VARCHAR AS pieces, NULL::BIGINT AS doc_id,
       |       NULL::BIGINT AS n_words, NULL::BIGINT AS n_subwords, NULL::VARCHAR AS ids_sig
       |FROM uc2 JOIN usf ON uc2.piece = usf.piece
       |UNION ALL
       |SELECT 'segment', NULL, NULL, score_fp, word, coalesce(array_to_string(path, ' '), ''),
       |       NULL, NULL, NULL, NULL
       |FROM seg2
       |UNION ALL
       |SELECT 'encode', NULL, NULL, NULL, NULL, NULL, doc_id, n_words, n_subwords, ids_sig
       |FROM enc""".stripMargin

  /** Shared CTE block of the substring-dedup family oracles: the planted
    * corpus (`base`), token arrays (`t`), positional 8-gram anchors as
    * md5 grams (`g` — the engine hashes with xxhash64; both hashes
    * preserve string equality and values never surface, the
    * q_repeated_spans convention), df ∈ [2, 50] survival (`alive`/`gg`), the a<b
    * pair join (`pr`) and the diagonal-island relation (`isl`) — the
    * span aggregate/threshold lives in each consumer so the scrub can
    * reuse the islands for its covered-range sides.
    */
  private lazy val substringSpanCtes: String =
    // NB consumers re-run stripMargin over the interpolated block, so no
    // content line here may START with '|' after the first strip — the
    // concat operators stay at end-of-line
    raw"""base AS (SELECT doc_id,
       |         text || CASE WHEN doc_id % 151 = 0 THEN '$substringPlantLong' ELSE '' END ||
       |         CASE WHEN doc_id % 97 = 0 THEN '$substringPlantShort' ELSE '' END AS text
       |         FROM documents),
       |t AS (SELECT doc_id,
       |             list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS w
       |      FROM base),
       |sel AS (SELECT doc_id, w, unnest(range(1, len(w) - 8 + 2)) AS i
       |        FROM t WHERE len(w) >= 8),
       |g AS (SELECT doc_id, i - 1 AS pos, md5(array_to_string(w[i:i+7], ' ')) AS s FROM sel),
       |alive AS (SELECT s FROM (SELECT s, count(DISTINCT doc_id) AS d FROM g GROUP BY 1)
       |          WHERE d BETWEEN 2 AND 80),
       |gg AS (SELECT g.doc_id, g.pos, g.s FROM g JOIN alive USING (s)),
       |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb
       |       FROM gg a JOIN gg b ON a.s = b.s AND a.doc_id < b.doc_id),
       |isl AS (SELECT doc_a, doc_b, pa, pb, pa - pb AS diag,
       |               pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa) AS isl
       |        FROM pr)""".stripMargin

  private lazy val substringDedupOracle: String =
    s"""WITH $substringSpanCtes
       |SELECT doc_a, doc_b, min(pa)::BIGINT AS a_start, min(pb)::BIGINT AS b_start,
       |       (max(pa) - min(pa) + 8)::BIGINT AS span_tokens
       |FROM isl GROUP BY doc_a, doc_b, diag, isl
       |HAVING max(pa) - min(pa) + 8 >= 24""".stripMargin

  /** Tokenizer-report oracle: BOTH families' full training + encode CTE
    * stacks in one WITH block (the encode tails tag-namespaced `u`/`b`),
    * each aggregated per source — mirror of [[qTokenizerReport]], so the
    * hash-match differentially tests unigram EM, BPE merges, both encode
    * tails AND the report aggregate in one relation.
    */
  // lazy: interpolates bpeBaseCtes, a val declared further down the file
  private lazy val tokenizerReportOracle: String = {
    def reportLeg(family: String, enc: String): String =
      s"""SELECT '$family' AS family, d.source, count(*)::BIGINT AS n_docs,
         |       sum(e.n_words)::BIGINT AS n_words, sum(e.n_subwords)::BIGINT AS n_subwords,
         |       ((sum(e.n_subwords)::BIGINT * 1000000) // sum(e.n_words)::BIGINT) AS fertility_fp
         |FROM $enc e JOIN documents d USING (doc_id) GROUP BY 2""".stripMargin
    s"""WITH $unigramBaseCtes,
       |useg AS (SELECT seg2.word, uwc.freq, seg2.path AS syms
       |         FROM seg2 JOIN uwc USING (word)),
       |${bpeEncodeCtes("useg", "u")},
       |encu AS (${bpeEncodeSelect("u")}),
       |$bpeBaseCtes,
       |${(1 to 10).map(bpeRoundCte).mkString(",\n")},
       |${bpeEncodeCtes("r10", "b")},
       |encb AS (${bpeEncodeSelect("b")})
       |${reportLeg("unigram", "encu")}
       |UNION ALL
       |${reportLeg("bpe", "encb")}""".stripMargin
  }

  /** From-scratch constraint-audit suite — shared verbatim by
    * q_constraint_audit and q_audit_incremental: equality of the folded
    * per-batch partials with this relation is the losslessness proof of
    * the audit monoids (mergeRowAudits / mergeKeyCounts).
    */
  private val constraintAuditOracle: String =
    """SELECT 'orders_custkey_complete' AS check_name, 'orders' AS table_name,
        |       count(*) FILTER (o_custkey IS NULL)::BIGINT AS violations,
        |       count(*)::BIGINT AS total,
        |       count(*) FILTER (o_custkey IS NULL) = 0 AS pass
        |FROM orders
        |UNION ALL
        |SELECT 'orders_totalprice_positive', 'orders',
        |       count(*) FILTER (NOT coalesce(o_totalprice > 0, FALSE))::BIGINT, count(*)::BIGINT,
        |       count(*) FILTER (NOT coalesce(o_totalprice > 0, FALSE)) = 0
        |FROM orders
        |UNION ALL
        |SELECT 'orders_status_domain', 'orders',
        |       count(*) FILTER (NOT coalesce(o_orderstatus IN ('O', 'F', 'P'), FALSE))::BIGINT,
        |       count(*)::BIGINT,
        |       count(*) FILTER (NOT coalesce(o_orderstatus IN ('O', 'F', 'P'), FALSE)) = 0
        |FROM orders
        |UNION ALL
        |SELECT 'lineitem_quantity_range', 'lineitem',
        |       count(*) FILTER (NOT coalesce(l_quantity >= 1 AND l_quantity <= 50, FALSE))::BIGINT,
        |       count(*)::BIGINT,
        |       count(*) FILTER (NOT coalesce(l_quantity >= 1 AND l_quantity <= 50, FALSE)) = 0
        |FROM lineitem
        |UNION ALL
        |SELECT 'lineitem_discount_range', 'lineitem',
        |       count(*) FILTER (NOT coalesce(l_discount >= 0 AND l_discount <= 0.1, FALSE))::BIGINT,
        |       count(*)::BIGINT,
        |       count(*) FILTER (NOT coalesce(l_discount >= 0 AND l_discount <= 0.1, FALSE)) = 0
        |FROM lineitem
        |UNION ALL
        |SELECT 'customer_acctbal_nonneg', 'customer',
        |       count(*) FILTER (coalesce(c_acctbal < 0, TRUE))::BIGINT, count(*)::BIGINT,
        |       count(*) FILTER (coalesce(c_acctbal < 0, TRUE)) = 0
        |FROM customer
        |UNION ALL
        |SELECT 'orders_pk_unique', 'orders',
        |       coalesce(sum(CASE WHEN n > 1 THEN n ELSE 0 END), 0)::BIGINT,
        |       coalesce(sum(n), 0)::BIGINT,
        |       coalesce(sum(CASE WHEN n > 1 THEN n ELSE 0 END), 0) = 0
        |FROM (SELECT count(*) AS n FROM orders GROUP BY o_orderkey)
        |UNION ALL
        |SELECT 'lineitem_pk_unique', 'lineitem',
        |       coalesce(sum(CASE WHEN n > 1 THEN n ELSE 0 END), 0)::BIGINT,
        |       coalesce(sum(n), 0)::BIGINT,
        |       coalesce(sum(CASE WHEN n > 1 THEN n ELSE 0 END), 0) = 0
        |FROM (SELECT count(*) AS n FROM lineitem GROUP BY l_orderkey, l_linenumber)
        |UNION ALL
        |SELECT 'lineitem_orders_fk', 'lineitem',
        |       coalesce(sum(CASE WHEN p.k IS NULL THEN g.n ELSE 0 END), 0)::BIGINT,
        |       coalesce(sum(g.n), 0)::BIGINT,
        |       coalesce(sum(CASE WHEN p.k IS NULL THEN g.n ELSE 0 END), 0) = 0
        |FROM (SELECT l_orderkey AS k, count(*) AS n FROM lineitem GROUP BY 1) g
        |LEFT JOIN (SELECT DISTINCT o_orderkey AS k FROM orders) p ON g.k = p.k
        |UNION ALL
        |SELECT 'orders_customer_fk', 'orders',
        |       coalesce(sum(CASE WHEN p.k IS NULL THEN g.n ELSE 0 END), 0)::BIGINT,
        |       coalesce(sum(g.n), 0)::BIGINT,
        |       coalesce(sum(CASE WHEN p.k IS NULL THEN g.n ELSE 0 END), 0) = 0
        |FROM (SELECT o_custkey AS k, count(*) AS n FROM orders GROUP BY 1) g
        |LEFT JOIN (SELECT DISTINCT c_custkey AS k FROM customer) p ON g.k = p.k""".stripMargin

  /** Shared CTE block of the classifier oracles: the fixed-point feature
    * relation (mirror of [[graft.ops.ClassifierOps.features]] — every
    * component a saturating truncated division at BIGINT millionths, label
    * = heuristic quality ≥ 0.5), its positional form over the
    * `trainFilter` subset, and the Rocchio fit (truncated-div class means,
    * w = μ⁺−μ⁻, midpoint threshold folded into the j=1 bias row) —
    * the exact mirror of [[graft.ops.ClassifierOps.centroidTrain]]
    * (Spark `div` ≡ DuckDB `//`, both toward zero).
    */
  private def rocchioBaseCtes(trainFilter: String): String =
    s"""base AS (
       |  SELECT doc_id,
       |         CASE WHEN (0.4 * least(1.0, nt::DOUBLE / 100.0)
       |                    + 0.3 * (1.0 - least(1.0, (CASE WHEN nc > 0 THEN np::DOUBLE / nc::DOUBLE END) * 10.0))
       |                    + 0.3 * least(1.0, (CASE WHEN nt > 0 THEN ns::DOUBLE / nt::DOUBLE END) * 5.0)) >= 0.5
       |              THEN 1::BIGINT ELSE -1::BIGINT END AS y,
       |         nc, nt, np, ns, nd
       |  FROM (
       |    SELECT doc_id, length(text)::BIGINT AS nc,
       |         len(list_filter(regexp_split_to_array(trim(text), '\\s+'), z -> z <> ''))::BIGINT AS nt,
       |         len(regexp_extract_all(text, '[.,;:!?]'))::BIGINT AS np,
       |         len(regexp_extract_all(lower(text), '\\b(the|and|of|is|to|in|a)\\b'))::BIGINT AS ns,
       |         len(regexp_extract_all(text, '[0-9]'))::BIGINT AS nd
       |    FROM documents)),
       |fa AS (SELECT doc_id, y, [
       |         1000000::BIGINT,
       |         least((nt * 1000000) // 200, 1000000),
       |         least((np * 20000000) // greatest(nc, 1), 1000000),
       |         least((ns * 5000000) // greatest(nt, 1), 1000000),
       |         least((nd * 10000000) // greatest(nc, 1), 1000000),
       |         least((nc * 1000000) // (greatest(nt, 1) * 10), 1000000)
       |       ] AS x
       |       FROM base),
       |f AS (SELECT * FROM fa WHERE $trainFilter),
       |fl AS (SELECT doc_id, y, generate_subscripts(x, 1)::BIGINT AS j, unnest(x) AS xv FROM f),
       |means AS (SELECT y, j, (sum(xv)::BIGINT // count(*)::BIGINT) AS m FROM fl GROUP BY 1, 2),
       |wd AS (SELECT p.j, (p.m - n.m)::BIGINT AS w, (p.m + n.m)::BIGINT AS s2
       |       FROM (SELECT j, m FROM means WHERE y = 1) p
       |       JOIN (SELECT j, m FROM means WHERE y = -1) n USING (j)),
       |bias AS (SELECT ((-sum(w * s2))::BIGINT // 2) AS b FROM wd),
       |wt AS (SELECT j, (CASE WHEN j = 1 THEN w + ((SELECT b FROM bias) // 1000000)
       |                       ELSE w END)::BIGINT AS w
       |       FROM wd)""".stripMargin

  /** Multiclass nearest-centroid oracle: tier labels at 0.45/0.55, the
    * same feature CTE as the binary oracles, per-(tier, j) truncated-div
    * means over the even-id half, and the integer L2 argmin with ties to
    * the lowest tier — mirror of
    * [[graft.ops.ClassifierOps.nearestCentroidTrain]]/`Assign`.
    */
  private val nearestCentroidOracle: String =
    s"""WITH base AS (
       |  SELECT doc_id,
       |         CASE WHEN (0.4 * least(1.0, nt::DOUBLE / 100.0)
       |                    + 0.3 * (1.0 - least(1.0, (CASE WHEN nc > 0 THEN np::DOUBLE / nc::DOUBLE END) * 10.0))
       |                    + 0.3 * least(1.0, (CASE WHEN nt > 0 THEN ns::DOUBLE / nt::DOUBLE END) * 5.0)) < 0.45
       |              THEN 0::BIGINT
       |              WHEN (0.4 * least(1.0, nt::DOUBLE / 100.0)
       |                    + 0.3 * (1.0 - least(1.0, (CASE WHEN nc > 0 THEN np::DOUBLE / nc::DOUBLE END) * 10.0))
       |                    + 0.3 * least(1.0, (CASE WHEN nt > 0 THEN ns::DOUBLE / nt::DOUBLE END) * 5.0)) < 0.55
       |              THEN 1::BIGINT ELSE 2::BIGINT END AS tier,
       |         nc, nt, np, ns, nd
       |  FROM (
       |    SELECT doc_id, length(text)::BIGINT AS nc,
       |         len(list_filter(regexp_split_to_array(trim(text), '\\s+'), z -> z <> ''))::BIGINT AS nt,
       |         len(regexp_extract_all(text, '[.,;:!?]'))::BIGINT AS np,
       |         len(regexp_extract_all(lower(text), '\\b(the|and|of|is|to|in|a)\\b'))::BIGINT AS ns,
       |         len(regexp_extract_all(text, '[0-9]'))::BIGINT AS nd
       |    FROM documents)),
       |fa AS (SELECT doc_id, tier, [
       |         1000000::BIGINT,
       |         least((nt * 1000000) // 200, 1000000),
       |         least((np * 20000000) // greatest(nc, 1), 1000000),
       |         least((ns * 5000000) // greatest(nt, 1), 1000000),
       |         least((nd * 10000000) // greatest(nc, 1), 1000000),
       |         least((nc * 1000000) // (greatest(nt, 1) * 10), 1000000)
       |       ] AS x
       |       FROM base),
       |fl AS (SELECT doc_id, tier, generate_subscripts(x, 1)::BIGINT AS j, unnest(x) AS xv FROM fa),
       |cm AS (SELECT tier AS clabel, j, (sum(xv)::BIGINT // count(*)::BIGINT) AS m
       |       FROM fl WHERE doc_id % 2 = 0 GROUP BY 1, 2),
       |dist AS (SELECT fl.doc_id, cm.clabel,
       |                sum((fl.xv - cm.m) * (fl.xv - cm.m))::BIGINT AS d
       |         FROM fl JOIN cm USING (j) GROUP BY 1, 2),
       |asg AS (SELECT doc_id, clabel AS pred_label, d AS dist_fp FROM (
       |          SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY d, clabel) AS rn
       |          FROM dist) WHERE rn = 1)
       |SELECT a.doc_id, a.pred_label, a.dist_fp, fa.tier,
       |       a.pred_label = fa.tier AS correct
       |FROM asg a JOIN fa USING (doc_id)""".stripMargin

  private val classifierTrainOracle: String =
    s"""WITH ${rocchioBaseCtes("TRUE")}
       |SELECT j, w AS w_fp FROM wt""".stripMargin

  private val classifierFilterOracle: String =
    s"""WITH ${rocchioBaseCtes("doc_id % 2 = 0")},
       |fla AS (SELECT doc_id, y, generate_subscripts(x, 1)::BIGINT AS j, unnest(x) AS xv FROM fa),
       |sc AS (SELECT fla.doc_id, min(fla.y) AS y, sum(fla.xv * wt.w)::BIGINT AS s
       |       FROM fla JOIN wt USING (j) GROUP BY fla.doc_id)
       |SELECT doc_id, s AS score_fp, s >= 0 AS pred, y = 1 AS is_pos,
       |       (s >= 0) = (y = 1) AS correct
       |FROM sc""".stripMargin

  /** Isotonic-calibration oracle: the classifier-filter scoring CTEs
    * verbatim, then the fixed-geometry binning and the minimax identity
    * cal(b) = max_{i≤b} min_{j≥b} ⌊Σpos·10⁶ / Σn⌋ over the bounded bin
    * histogram — mirror of [[graft.ops.ClassifierOps.calibrateIsotonic]]
    * at (lo, hi, nBins) = (−2·10¹¹, 2·10¹¹, 20).
    */
  private val calibrateScoresOracle: String =
    s"""WITH ${rocchioBaseCtes("doc_id % 2 = 0")},
       |fla AS (SELECT doc_id, y, generate_subscripts(x, 1)::BIGINT AS j, unnest(x) AS xv FROM fa),
       |sc AS (SELECT fla.doc_id, min(fla.y) AS y, sum(fla.xv * wt.w)::BIGINT AS s
       |       FROM fla JOIN wt USING (j) GROUP BY fla.doc_id),
       |lb AS (SELECT CASE WHEN s < -200000000000 THEN 0::BIGINT
       |                   WHEN s >= 200000000000 THEN 19::BIGINT
       |                   ELSE ((s + 200000000000) * 20) // 400000000000 END AS bin,
       |              CASE WHEN y = 1 THEN 1 ELSE 0 END AS pos
       |       FROM sc WHERE s IS NOT NULL),
       |cbins AS (SELECT bin, count(*)::BIGINT AS n, sum(pos)::BIGINT AS n_pos
       |          FROM lb GROUP BY 1),
       |ccum AS (SELECT bin, n, n_pos,
       |                sum(n) OVER (ORDER BY bin)::BIGINT AS cn,
       |                sum(n_pos) OVER (ORDER BY bin)::BIGINT AS cp
       |         FROM cbins),
       |csegs AS (SELECT i.bin AS i, j.bin AS j,
       |                 ((j.cp - (i.cp - i.n_pos)) * 1000000) // (j.cn - (i.cn - i.n)) AS avg_fp
       |          FROM ccum i JOIN ccum j ON i.bin <= j.bin),
       |cinner AS (SELECT b.bin AS b, s.i, min(s.avg_fp) AS mn
       |           FROM csegs s JOIN cbins b ON s.i <= b.bin AND b.bin <= s.j
       |           GROUP BY 1, 2),
       |ccal AS (SELECT b AS bin, max(mn)::BIGINT AS calibrated_fp FROM cinner GROUP BY 1)
       |SELECT cbins.bin, cbins.n, cbins.n_pos, ccal.calibrated_fp
       |FROM cbins JOIN ccal USING (bin)""".stripMargin

  /** Label-free apply-leg oracle: the same even-half-trained weights, the
    * same dot product, but the label never enters the scored relation —
    * mirror of [[graft.ops.ClassifierOps.scoreWith]] over
    * [[graft.ops.ClassifierOps.featuresUnlabeled]].
    */
  private val classifierApplyOracle: String =
    s"""WITH ${rocchioBaseCtes("doc_id % 2 = 0")},
       |fla AS (SELECT doc_id, generate_subscripts(x, 1)::BIGINT AS j, unnest(x) AS xv FROM fa),
       |sc AS (SELECT fla.doc_id, sum(fla.xv * wt.w)::BIGINT AS s
       |       FROM fla JOIN wt USING (j) GROUP BY fla.doc_id)
       |SELECT doc_id, s AS score_fp, s >= 0 AS pred
       |FROM sc""".stripMargin

  /** The unrolled-Lloyd CTE body alone (final full-corpus assignment in
    * `a3`) — shared by the k-means oracles and the cluster-keywords
    * oracle, which consumes the assignment instead of emitting it.
    */
  private def kmeansCtes(trainFilter: String): String =
    s"""v AS (SELECT vec_id, [round(x::DOUBLE * 1000000.0)::BIGINT for x in embedding] AS vfp
      |           FROM embeddings),
      |vt AS (SELECT * FROM v WHERE $trainFilter),
      |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, vfp AS cfp
      |       FROM vt ORDER BY vec_id LIMIT 8),
      |${lloydAssignCte("", 1, "c0", "vt")},
      |${lloydUpdateCte("", 1, "c0", "vt")},
      |${lloydAssignCte("", 2, "c1", "vt")},
      |${lloydUpdateCte("", 2, "c1", "vt")},
      |${lloydAssignCte("", 3, "c2", "v")}""".stripMargin

  private def kmeansOracleWith(trainFilter: String): String =
    s"""WITH ${kmeansCtes(trainFilter)}
      |SELECT vec_id, cid, dist AS dist_fp FROM a3""".stripMargin

  /** Shared CTE block for the fixed-point DIRECTION quantizer — mirror of
    * [[graft.ops.SimilarityOps.cosineNearDupPairsBlockedFp]] /
    * [[graft.ops.SimilarityOps.knnIvfKmeansFp]]'s shared front: non-zero
    * vectors with norms (`nz`), L2-normalized millionth-quantized arrays
    * (`v`), k=8 integer Lloyd unrolled 2 rounds (lowest-id seeding,
    * integer argmin, truncated-div means → final centroids `bc2`), and
    * the all-(vector, centroid) integer distances (`mpd`) both the
    * multi-probe blocking and the argmin IVF assignment rank. nz/v/mpd
    * MATERIALIZED: the Lloyd rounds and both consumers re-read them
    * (inlined, DuckDB re-expands the quantization per reference — the
    * bpeRoundCte precedent).
    */
  private val blockedKmeansCtes: String =
    s"""nz AS MATERIALIZED (SELECT vec_id, v, nrm FROM (
       |  SELECT vec_id, embedding::DOUBLE[] AS v,
       |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
       |  FROM embeddings) WHERE nrm > 0),
       |v AS MATERIALIZED (SELECT vec_id, [round(x / nrm * 1000000.0)::BIGINT for x in v] AS vfp
       |     FROM nz),
       |bc0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, vfp AS cfp
       |        FROM v ORDER BY vec_id LIMIT 8),
       |${lloydAssignCte("b", 1, "bc0", "v")},
       |${lloydUpdateCte("b", 1, "bc0", "v")},
       |${lloydAssignCte("b", 2, "bc1", "v")},
       |${lloydUpdateCte("b", 2, "bc1", "v")},
       |mpd AS MATERIALIZED (SELECT v.vec_id, bc2.cid,
       |       list_sum([(v.vfp[i] - bc2.cfp[i]) * (v.vfp[i] - bc2.cfp[i])
       |                 for i in range(1, len(v.vfp) + 1)])::BIGINT AS dist
       |       FROM v CROSS JOIN bc2)""".stripMargin

  /** Fixed-point-blocked near-dup pair CTEs (multi-probe nProbe=2 routing,
    * shared-list candidates, exact-cosine verify at τ) ending in `bpr`
    * (id_a, id_b, sim) — the tail q_embedding_neardup_blocked emits and
    * q_semantic_dedup clusters.
    */
  private val blockedPairCtes: String =
    s"""$blockedKmeansCtes,
       |mpa AS (SELECT vec_id, cid FROM (
       |          SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |          FROM mpd) WHERE rn <= 2),
       |bcand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |          FROM mpa a JOIN mpa b USING (cid) WHERE a.vec_id < b.vec_id),
       |bpr AS (SELECT id_a, id_b, sim FROM (
       |          SELECT c.id_a, c.id_b,
       |                 list_dot_product(x.v, y.v) / (x.nrm * y.nrm) AS sim
       |          FROM bcand c JOIN nz x ON x.vec_id = c.id_a
       |                       JOIN nz y ON y.vec_id = c.id_b)
       |        WHERE sim >= 0.4)""".stripMargin

  private val embeddingNeardupBlockedOracle: String =
    s"""WITH $blockedPairCtes
       |SELECT id_a, id_b, sim FROM bpr""".stripMargin

  /** Blocked-pairs semantic dedup: the recursive-CTE reachability oracle
    * (independent of the engine's pointer-doubling CC) over the
    * fixed-point-blocked pair relation.
    */
  private val semanticDedupOracle: String =
    s"""WITH RECURSIVE $blockedPairCtes,
       |edges AS (SELECT id_a AS es, id_b AS et FROM bpr UNION SELECT id_b, id_a FROM bpr),
       |rch(x, r) AS (
       |  SELECT es, es FROM (SELECT DISTINCT es FROM edges)
       |  UNION
       |  SELECT ed.es, rc.r FROM edges ed JOIN rch rc ON rc.x = ed.et),
       |lab AS (SELECT x AS vec_id, min(r) AS cluster_id FROM rch GROUP BY 1),
       |labeled AS (SELECT e.vec_id, coalesce(l.cluster_id, e.vec_id) AS cluster_id
       |            FROM (SELECT vec_id FROM embeddings) e LEFT JOIN lab l USING (vec_id)),
       |szs AS (SELECT cluster_id, count(*) AS cluster_size FROM labeled GROUP BY 1)
       |SELECT vec_id, cluster_id, cluster_size, vec_id = cluster_id AS is_keeper
       |FROM labeled JOIN szs USING (cluster_id)""".stripMargin

  /** Fixed-point IVF top-10: argmin corpus assignment and nProbe=4 probe
    * routing both rank the SAME shared (vector, centroid) integer
    * distances; scoring is exact cosine within probed lists only — the
    * full mirror of [[graft.ops.SimilarityOps.knnIvfKmeansFp]] at
    * (k, nLists, nProbe, iters) = (10, 8, 4, 2), probes vec_id < 20.
    */
  /** One HNSW layer's adjacency: the ONE scored candidate relation `sc0`
    * filtered to layer-l members (h % 2^l == 0), top-10 per src by
    * integer dot (ties to the lower dst) — mirror of
    * [[graft.ops.SimilarityOps.knnHnsw]]'s build. Integer dots ride
    * `list_dot_product` over DOUBLE lists, which is EXACT here: the
    * micro-quantized components are ≤ 1e6 in magnitude, so every product
    * (≤ 1e12) and 64-term partial sum (≤ 6.4e13) is an integer below
    * 2^53 — bit-equal to the Spark side's long arithmetic.
    */
  private def hnswAdjCte(l: Int): String =
    s"""hm$l AS (SELECT vec_id FROM hh WHERE h % ${1L << l} = 0),
       |adj$l AS MATERIALIZED (SELECT src, dst FROM (
       |           SELECT s.src, s.dst, row_number() OVER (PARTITION BY s.src ORDER BY
       |             s.simfp DESC, s.dst) AS rn
       |           FROM sc0 s
       |           JOIN hm$l ma ON ma.vec_id = s.src
       |           JOIN hm$l mb ON mb.vec_id = s.dst)
       |          WHERE rn <= 10)""".stripMargin

  /** One unrolled HNSW search round: expand the beam through layer `l`'s
    * adjacency (UNION dedupes like the Spark `.distinct()`), rescore
    * every beam node by integer dot, keep the probe-keyed top-`width`.
    */
  private def hnswRoundCte(i: Int, prev: String, l: Int, width: Int): String =
    s"""hg$i AS (SELECT probe_id, node FROM $prev
       |         UNION
       |         SELECT b.probe_id, a.dst AS node FROM $prev b JOIN adj$l a ON a.src = b.node),
       |hb$i AS MATERIALIZED (SELECT probe_id, node FROM (
       |          SELECT g.probe_id, g.node, row_number() OVER (PARTITION BY g.probe_id ORDER BY
       |            list_dot_product(p.pvfd, nv.vfd)::BIGINT DESC,
       |            g.node) AS rn
       |          FROM hg$i g JOIN pp p USING (probe_id) JOIN vd nv ON nv.vec_id = g.node)
       |         WHERE rn <= $width)""".stripMargin

  /** HNSW end-to-end oracle: the shared fixed-point k-means CTEs, the
    * md5-geometric level law, four layer adjacencies, the max-level
    * entry, greedy layer descent (3→1, width 1) plus four ef=16 beam
    * rounds at layer 0, and the exact-cosine top-10 — the full mirror of
    * [[graft.ops.SimilarityOps.knnHnsw]] at the registered parameters.
    */
  private val annHnswOracle: String =
    s"""WITH nz AS MATERIALIZED (SELECT vec_id, v, nrm FROM (
       |  SELECT vec_id, embedding::DOUBLE[] AS v,
       |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
       |  FROM embeddings) WHERE nrm > 0),
       |v AS MATERIALIZED (SELECT vec_id, [round(x / nrm * 1000000.0)::BIGINT for x in v] AS vfp
       |     FROM nz),
       |hkc0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, vfp AS cfp
       |         FROM v ORDER BY vec_id LIMIT 16),
       |${lloydAssignCte("hk", 1, "hkc0", "v")},
       |${lloydUpdateCte("hk", 1, "hkc0", "v")},
       |${lloydAssignCte("hk", 2, "hkc1", "v")},
       |${lloydUpdateCte("hk", 2, "hkc1", "v")},
       |hmpd AS MATERIALIZED (SELECT v.vec_id, hkc2.cid,
       |       list_sum([(v.vfp[i] - hkc2.cfp[i]) * (v.vfp[i] - hkc2.cfp[i])
       |                 for i in range(1, len(v.vfp) + 1)])::BIGINT AS dist
       |       FROM v CROSS JOIN hkc2),
       |mpa AS (SELECT vec_id, cid FROM (
       |          SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |          FROM hmpd) WHERE rn <= 3),
       |hh AS (SELECT vec_id, ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT AS h FROM v),
       |vd AS MATERIALIZED (SELECT vec_id, vfp::DOUBLE[] AS vfd FROM v),
       |sc0 AS MATERIALIZED (
       |  SELECT c.src, c.dst, list_dot_product(va.vfd, vb.vfd)::BIGINT AS simfp
       |  FROM (SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
       |        FROM mpa a JOIN mpa b USING (cid) WHERE a.vec_id <> b.vec_id) c
       |  JOIN vd va ON va.vec_id = c.src
       |  JOIN vd vb ON vb.vec_id = c.dst),
       |${hnswAdjCte(0)},
       |${hnswAdjCte(1)},
       |${hnswAdjCte(2)},
       |${hnswAdjCte(3)},
       |ent AS (SELECT vec_id AS node FROM (
       |          SELECT vec_id,
       |                 (CASE WHEN h % 2 = 0 THEN 1 ELSE 0 END +
       |                  CASE WHEN h % 4 = 0 THEN 1 ELSE 0 END +
       |                  CASE WHEN h % 8 = 0 THEN 1 ELSE 0 END) AS lvl
       |          FROM hh) ORDER BY lvl DESC, vec_id LIMIT 1),
       |pp AS (SELECT vec_id AS probe_id, vfd AS pvfd FROM vd WHERE vec_id < 20),
       |hb0 AS (SELECT probe_id, node FROM pp CROSS JOIN ent),
       |${hnswRoundCte(1, "hb0", 3, 1)},
       |${hnswRoundCte(2, "hb1", 2, 1)},
       |${hnswRoundCte(3, "hb2", 1, 1)},
       |${hnswRoundCte(4, "hb3", 0, 16)},
       |${hnswRoundCte(5, "hb4", 0, 16)},
       |${hnswRoundCte(6, "hb5", 0, 16)},
       |${hnswRoundCte(7, "hb6", 0, 16)}
       |SELECT probe_id, neighbor_id, sim, rank FROM (
       |  SELECT b.probe_id, b.node AS neighbor_id,
       |         list_dot_product(p.v, n.v) / (p.nrm * n.nrm) AS sim,
       |         row_number() OVER (PARTITION BY b.probe_id ORDER BY
       |           list_dot_product(p.v, n.v) / (p.nrm * n.nrm) DESC, b.node)::BIGINT AS rank
       |  FROM hb7 b
       |  JOIN nz p ON p.vec_id = b.probe_id
       |  JOIN nz n ON n.vec_id = b.node
       |  WHERE b.node <> b.probe_id
       |    AND list_dot_product(p.v, n.v) / (p.nrm * n.nrm) IS NOT NULL)
       |WHERE rank <= 10""".stripMargin

  private val annIvfOracle: String =
    s"""WITH $blockedKmeansCtes,
       |iasg AS (SELECT vec_id, cid FROM (
       |           SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |           FROM mpd) WHERE rn = 1),
       |ipl AS (SELECT vec_id AS probe_id, cid FROM (
       |          SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |          FROM mpd WHERE vec_id < 20) WHERE rn <= 4),
       |isc AS (SELECT ipl.probe_id, iasg.vec_id AS neighbor_id,
       |               list_dot_product(p.v, n.v) / (p.nrm * n.nrm) AS sim
       |        FROM ipl JOIN iasg USING (cid)
       |        JOIN nz p ON p.vec_id = ipl.probe_id
       |        JOIN nz n ON n.vec_id = iasg.vec_id
       |        WHERE iasg.vec_id <> ipl.probe_id)
       |SELECT probe_id, neighbor_id, sim, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id)::BIGINT AS rank
       |  FROM isc WHERE sim IS NOT NULL) WHERE rank <= 10""".stripMargin

  /** c-TF-IDF over the k-means cells — mirror of
    * [[graft.ops.TextOps.clusterKeywords]]: per-(cluster, term) counts,
    * corpus frequency and the truncated-div average cluster mass derived
    * FROM the counts, the mirrored tf_c·ln(1 + A/f_t) score quantized to
    * millionths, (w_fp DESC, term) top-5 per cluster.
    */
  private val clusterKeywordsOracle: String =
    s"""WITH ${kmeansCtes("TRUE")},
      |toks AS (
      |  SELECT doc_id,
      |         unnest(regexp_split_to_array(trim(lower(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS term
      |  FROM documents),
      |tk AS (SELECT a3.cid, toks.term FROM toks JOIN a3 ON a3.vec_id = toks.doc_id
      |       WHERE toks.term <> ''),
      |tfc AS (SELECT cid, term, count(*)::BIGINT AS tf_c FROM tk GROUP BY 1, 2),
      |ft AS (SELECT term, sum(tf_c)::BIGINT AS f_t FROM tfc GROUP BY 1),
      |aw AS (SELECT sum(tf_c)::BIGINT // count(DISTINCT cid)::BIGINT AS aw FROM tfc),
      |sc AS (SELECT tfc.cid, tfc.term, tfc.tf_c, ft.f_t,
      |              round(tfc.tf_c::DOUBLE * ln(1.0 + aw.aw::DOUBLE / ft.f_t::DOUBLE)
      |                    * 1000000.0)::BIGINT AS w_fp
      |       FROM tfc JOIN ft USING (term) CROSS JOIN aw),
      |r AS (SELECT *, row_number() OVER (PARTITION BY cid ORDER BY w_fp DESC, term) AS rk
      |      FROM sc)
      |SELECT cid, term, tf_c, f_t, w_fp, rk::BIGINT AS rk FROM r WHERE rk <= 5""".stripMargin

  /** Per-sub PQ assignment round `i` against codebooks `cs` — mirror of
    * [[graft.ops.SimilarityOps.pqEncode]]'s argmin (ties to lowest code).
    */
  private def pqAssignCte(i: Int, cs: String): String =
    s"""pd$i AS (SELECT s.vec_id, s.sub, $cs.cid,
       |         list_sum([(s.svfp[i] - $cs.cfp[i]) * (s.svfp[i] - $cs.cfp[i])
       |                   for i in range(1, len(s.svfp) + 1)])::BIGINT AS dist
       |         FROM s JOIN $cs USING (sub)),
       |pa$i AS (SELECT vec_id, sub, cid, dist FROM (
       |           SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, cid) AS rn
       |           FROM pd$i) WHERE rn = 1)""".stripMargin

  /** Per-sub codebook update round `i`: truncated-div means per
    * (sub, cid, pos), emptied codes keep `prev`'s codeword.
    */
  private def pqUpdateCte(i: Int, prev: String): String =
    s"""pe$i AS (SELECT pa$i.sub, pa$i.cid, unnest(s.svfp) AS x, generate_subscripts(s.svfp, 1) AS pos
       |         FROM pa$i JOIN s ON pa$i.vec_id = s.vec_id AND pa$i.sub = s.sub),
       |pm$i AS (SELECT sub, cid, pos, sum(x)::BIGINT // count(*)::BIGINT AS m FROM pe$i GROUP BY 1, 2, 3),
       |pn$i AS (SELECT sub, cid, list(m ORDER BY pos) AS cfp FROM pm$i GROUP BY 1, 2),
       |pc$i AS (SELECT $prev.sub, $prev.cid, coalesce(pn$i.cfp, $prev.cfp) AS cfp
       |         FROM $prev LEFT JOIN pn$i USING (sub, cid))""".stripMargin

  /** Shared CTE block for the product-quantization oracles — mirror of
    * [[graft.ops.SimilarityOps.pqTrain]] (m=8 × 8 dims, kSub=16, 2 Lloyd
    * rounds: per-sub k-lowest-id seeding, integer argmin, truncated-div
    * means) followed by the full-corpus encode `pa3` against the trained
    * `pc2` codebooks.
    */
  private val pqBaseCtes: String =
    s"""v AS (SELECT vec_id, [round(x::DOUBLE * 1000000.0)::BIGINT for x in embedding] AS vfp
       |      FROM embeddings),
       |s AS (SELECT vec_id, sub, list_slice(vfp, sub * 8 + 1, sub * 8 + 8) AS svfp
       |      FROM v, (SELECT unnest(range(8)) AS sub) subs),
       |pc0 AS (SELECT sub, rn - 1 AS cid, svfp AS cfp FROM (
       |          SELECT sub, svfp, row_number() OVER (PARTITION BY sub ORDER BY vec_id) AS rn
       |          FROM s) WHERE rn <= 16),
       |${pqAssignCte(1, "pc0")},
       |${pqUpdateCte(1, "pc0")},
       |${pqAssignCte(2, "pc1")},
       |${pqUpdateCte(2, "pc1")},
       |${pqAssignCte(3, "pc2")}""".stripMargin

  /** Coarse-quantizer rounds over the full vectors — the `k`-prefixed
    * instantiation of the SHARED [[lloydAssignCte]]/[[lloydUpdateCte]]
    * generators, so the IVF-PQ oracle can hold both fits in one WITH
    * block without duplicating the Lloyd SQL.
    */
  private def coarseAssignCte(i: Int, cs: String): String =
    lloydAssignCte("k", i, cs, "v")

  private def coarseUpdateCte(i: Int, prev: String): String =
    lloydUpdateCte("k", i, prev, "v")

  /** IVF-PQ end-to-end oracle: both fixed-point fits unrolled (coarse
    * k=8 and per-sub PQ), probe coarse ranking (nProbe=4), the ADC sum
    * over the encoded codes in long form, the rerank·k=40 candidate cut
    * by (adc, id), and the exact fixed-point re-rank — the full mirror of
    * [[graft.ops.SimilarityOps.knnIvfPq]].
    */
  private val annIvfPqOracle: String =
    s"""WITH $pqBaseCtes,
       |kc0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, vfp AS cfp
       |        FROM v ORDER BY vec_id LIMIT 8),
       |${coarseAssignCte(1, "kc0")},
       |${coarseUpdateCte(1, "kc0")},
       |${coarseAssignCte(2, "kc1")},
       |${coarseUpdateCte(2, "kc1")},
       |${coarseAssignCte(3, "kc2")},
       |p AS (SELECT vec_id AS probe_id, vfp AS pvfp FROM v WHERE vec_id % 50 = 0),
       |ppd AS (SELECT p.probe_id, kc2.cid,
       |        list_sum([(p.pvfp[i] - kc2.cfp[i]) * (p.pvfp[i] - kc2.cfp[i])
       |                  for i in range(1, len(p.pvfp) + 1)])::BIGINT AS dist
       |        FROM p CROSS JOIN kc2),
       |pls AS (SELECT probe_id, cid AS list_id FROM (
       |          SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY dist, cid) AS rn
       |          FROM ppd) WHERE rn <= 4),
       |ps AS (SELECT probe_id, sub, list_slice(pvfp, sub * 8 + 1, sub * 8 + 8) AS psvfp
       |       FROM p, (SELECT unnest(range(8)) AS sub) subs2),
       |lut AS (SELECT ps.probe_id, ps.sub, pc2.cid,
       |        list_sum([(ps.psvfp[i] - pc2.cfp[i]) * (ps.psvfp[i] - pc2.cfp[i])
       |                  for i in range(1, len(ps.psvfp) + 1)])::BIGINT AS dfp
       |        FROM ps JOIN pc2 USING (sub)),
       |adc AS (SELECT pls.probe_id, ka3.vec_id, sum(lut.dfp)::BIGINT AS adc_fp
       |        FROM pls JOIN ka3 ON ka3.cid = pls.list_id
       |        JOIN pa3 ON pa3.vec_id = ka3.vec_id
       |        JOIN lut ON lut.probe_id = pls.probe_id AND lut.sub = pa3.sub AND lut.cid = pa3.cid
       |        WHERE ka3.vec_id <> pls.probe_id
       |        GROUP BY 1, 2),
       |cand AS (SELECT probe_id, vec_id, adc_fp FROM (
       |           SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY adc_fp, vec_id) AS rn
       |           FROM adc) WHERE rn <= 40),
       |ex AS (SELECT c.probe_id, c.vec_id AS neighbor_id, c.adc_fp,
       |       list_sum([(pv.vfp[i] - nv.vfp[i]) * (pv.vfp[i] - nv.vfp[i])
       |                 for i in range(1, len(pv.vfp) + 1)])::BIGINT AS dist_fp
       |       FROM cand c JOIN v nv ON nv.vec_id = c.vec_id JOIN v pv ON pv.vec_id = c.probe_id)
       |SELECT probe_id, neighbor_id, adc_fp, dist_fp, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY dist_fp, neighbor_id)::BIGINT AS rank
       |  FROM ex) WHERE rank <= 5""".stripMargin

  /** One BPE round: adjacent-pair counts over the previous segmentation,
    * the (cnt DESC, l, r) argmax, and the left-to-right non-overlapping
    * rewrite as a `list_reduce` fold over singleton lists (DuckDB's
    * reduce accumulator must share the element type) — the exact mirror
    * of [[graft.ops.TextOps]]' `bpeMergeFold`.
    */
  // bm$i/r$i MATERIALIZED: each round reads its predecessor TWICE
  // (pair positions + rewrite) — inlined, the 10-round stack expands
  // 2^10 copies of the base scan (measured 42 s for q_bpe_merges and
  // 179 s for q_bpe_encode in DuckDB at sf0.01; 0.3 s materialized —
  // the wpRoundCte/unigramAssignOracle precedent)
  private def bpeRoundCte(i: Int): String =
    s"""px$i AS (SELECT freq, syms, unnest(range(1, len(syms))) AS i FROM r${i - 1}),
       |bp$i AS (SELECT syms[i] AS l, syms[i+1] AS r, sum(freq)::BIGINT AS cnt
       |         FROM px$i GROUP BY 1, 2),
       |bm$i AS MATERIALIZED (SELECT $i::BIGINT AS merge_rank, l, r, cnt FROM bp$i ORDER BY cnt DESC, l, r LIMIT 1),
       |r$i AS MATERIALIZED (SELECT word, freq, list_reduce([[s] for s in syms], (acc, x) ->
       |          CASE WHEN len(acc) >= 1 AND acc[-1] = bm$i.l AND x[1] = bm$i.r
       |               THEN acc[1:len(acc)-1] || [bm$i.l || bm$i.r] ELSE acc || x END) AS syms
       |        -- LEFT JOIN ON TRUE: an exhausted round (empty bm$i — the
       |        -- corpus fully merged before nMerges) must be the IDENTITY
       |        -- rewrite (NULL l/r falls to the ELSE branch), matching
       |        -- bpeLoop's early stop, not an empty relation
       |        FROM r${i - 1} LEFT JOIN bm$i ON TRUE)""".stripMargin

  /** DSIR oracle CTE block — mirror of [[graft.ops.TextOps.dsirWeights]]:
    * hashed unigram+bigram features (md5 hex-prefix buckets, the portable
    * hash), Laplace-smoothed target/raw bucket models, per-bucket log
    * importance ratio with every ln term quantized to micro-nat BIGINTs
    * before the arithmetic, per-doc weight as the integer dot product.
    * `dfinal` is the (doc_id, n_feats, weight_fp) relation.
    */
  private val dsirWeightCtes: String =
    raw"""t AS (SELECT doc_id, lang,
       |             list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS w
       |      FROM documents),
       |f AS (SELECT doc_id, lang,
       |             unnest(w || [w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS feat
       |      FROM t),
       |fb AS (SELECT doc_id, lang = 'en' AS is_t, substr(md5(feat), 1, 3) AS bucket,
       |              count(*)::BIGINT AS c
       |       FROM f GROUP BY 1, 2, 3),
       |m AS (SELECT bucket, sum(CASE WHEN is_t THEN c ELSE 0 END)::BIGINT AS tc,
       |             sum(c)::BIGINT AS rc
       |      FROM fb GROUP BY 1),
       |dtot AS (SELECT sum(tc)::BIGINT AS tt, sum(rc)::BIGINT AS rt FROM m),
       |bt AS (SELECT bucket,
       |         round(ln((tc + 1)::DOUBLE) * 1000000.0)::BIGINT
       |       - round(ln((tt + 4096)::DOUBLE) * 1000000.0)::BIGINT
       |       - round(ln((rc + 1)::DOUBLE) * 1000000.0)::BIGINT
       |       + round(ln((rt + 4096)::DOUBLE) * 1000000.0)::BIGINT AS llr_fp
       |       FROM m CROSS JOIN dtot),
       |dw AS (SELECT doc_id, sum(c)::BIGINT AS n_feats, sum(c * llr_fp)::BIGINT AS weight_fp
       |       FROM fb JOIN bt USING (bucket) GROUP BY 1),
       |dfinal AS (SELECT d.doc_id, coalesce(n_feats, 0)::BIGINT AS n_feats,
       |                  coalesce(weight_fp, 0)::BIGINT AS weight_fp
       |           FROM documents d LEFT JOIN dw USING (doc_id))""".stripMargin

  private val dsirWeightsOracle: String =
    s"""WITH $dsirWeightCtes
       |SELECT doc_id, n_feats, weight_fp FROM dfinal""".stripMargin

  /** One WordPiece training round: pair counts AND symbol counts from
    * round i−1's segmentation, the likelihood score with each ln term
    * quantized to micro-nats before subtracting (mirror of
    * [[graft.ops.TextOps.wordpieceTrain]]'s `lnFp` recipe), argmax by
    * (score_fp desc, l, r), then the LEFT JOIN ON TRUE identity-guarded
    * rewrite with the `##`-stripped merged name.
    */
  private def wpRoundCte(i: Int): String =
    // wr$i MATERIALIZED: each round reads its predecessor THREE times
    // (positions, symbol counts, rewrite) — inlined, the 10-round stack
    // would expand 3^10 copies of the base scan and exhaust the process
    // fd limit (the unigramAssignOracle MATERIALIZED precedent)
    s"""wpx$i AS (SELECT freq, syms, unnest(range(1, len(syms))) AS i FROM wr${i - 1}),
       |wsc$i AS (SELECT s, sum(freq)::BIGINT AS c FROM (
       |          SELECT freq, unnest(syms) AS s FROM wr${i - 1}) GROUP BY 1),
       |wbp$i AS (SELECT syms[i] AS l, syms[i+1] AS r, sum(freq)::BIGINT AS cnt
       |          FROM wpx$i GROUP BY 1, 2),
       |wbm$i AS MATERIALIZED (SELECT $i::BIGINT AS merge_rank, l, r,
       |          l || CASE WHEN starts_with(r, '##') THEN r[3:] ELSE r END AS merged,
       |          cnt,
       |          round(ln(cnt::DOUBLE) * 1000000.0)::BIGINT
       |            - round(ln(cl.c::DOUBLE) * 1000000.0)::BIGINT
       |            - round(ln(cr.c::DOUBLE) * 1000000.0)::BIGINT AS score_fp
       |          FROM wbp$i JOIN wsc$i cl ON cl.s = wbp$i.l JOIN wsc$i cr ON cr.s = wbp$i.r
       |          ORDER BY score_fp DESC, l, r LIMIT 1),
       |wr$i AS MATERIALIZED (SELECT word, freq, list_reduce([[s] for s in syms], (acc, x) ->
       |          CASE WHEN len(acc) >= 1 AND acc[-1] = wbm$i.l AND x[1] = wbm$i.r
       |               THEN acc[1:len(acc)-1] || [wbm$i.merged] ELSE acc || x END) AS syms
       |        FROM wr${i - 1} LEFT JOIN wbm$i ON TRUE)""".stripMargin

  /** Corpus word counts + BERT first-char/`##`-continuation initialization
    * shared by the WordPiece oracles.
    */
  private val wpBaseCtes: String =
    raw"""ww AS (SELECT word, count(*)::BIGINT AS freq FROM (
       |         SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS word
       |         FROM documents) GROUP BY 1),
       |wr0 AS (SELECT word, freq,
       |          [CASE WHEN i = 1 THEN word[i] ELSE '##' || word[i] END
       |           for i in range(1, length(word) + 1)] AS syms
       |        FROM ww)""".stripMargin

  /** Corpus word counts + Sennrich char-plus-marker initialization shared
    * by the BPE oracles; `trainFilter` restricts the TRAINING corpus
    * (q_bpe_assign trains on the even-doc half).
    */
  private def bpeBaseCtesWith(trainFilter: String): String =
    raw"""w AS (SELECT word, count(*)::BIGINT AS freq FROM (
       |         SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS word
       |         FROM documents WHERE $trainFilter) GROUP BY 1),
       |r0 AS (SELECT word, freq, regexp_split_to_array(word, '') || ['</w>'] AS syms FROM w)""".stripMargin

  private val bpeBaseCtes: String = bpeBaseCtesWith("TRUE")

  /** Apply round `i`'s learned merge (`bm$i`) to the FULL-corpus word
    * relation — the rewrite half of [[bpeRoundCte]] without the counting,
    * mirroring [[graft.ops.TextOps.bpeSegmentWith]].
    */
  private def bpeApplyCte(i: Int): String =
    s"""ra$i AS MATERIALIZED (SELECT word, freq, list_reduce([[s] for s in syms], (acc, x) ->
       |           CASE WHEN len(acc) >= 1 AND acc[-1] = bm$i.l AND x[1] = bm$i.r
       |                THEN acc[1:len(acc)-1] || [bm$i.l || bm$i.r] ELSE acc || x END) AS syms
       |         FROM ra${i - 1} LEFT JOIN bm$i ON TRUE)""".stripMargin

  /** The corpus-encoding tail over a final segmentation relation `seg`:
    * frequency-ranked subword ids, the doc token scan, the two joins, and
    * the per-doc aggregate — shared by q_bpe_encode (seg = r10) and
    * q_bpe_assign (seg = ra10).
    */
  private def bpeEncodeSql(seg: String): String =
    s"${bpeEncodeCtes(seg)}\n${bpeEncodeSelect()}"

  /** The encode tail's CTE block alone (no final SELECT) — so oracles that
    * need the per-doc encoding as ONE LEG of a larger union
    * (q_unigram_staged) can wrap [[bpeEncodeSelect]] in their own CTE.
    * `tag` namespaces the CTE names so TWO encode tails (the two tokenizer
    * families in q_tokenizer_report) can coexist in one WITH block.
    */
  private def bpeEncodeCtes(seg: String, tag: String = ""): String =
    raw"""vocab$tag AS (SELECT token, sum(freq)::BIGINT AS tc FROM (
       |            SELECT unnest(syms) AS token, freq FROM $seg) GROUP BY 1),
       |vid$tag AS (SELECT token, (row_number() OVER (ORDER BY tc DESC, token) - 1)::BIGINT AS tid
       |        FROM vocab$tag),
       |dt$tag AS (SELECT doc_id, generate_subscripts(w, 1) AS pos, unnest(w) AS word FROM (
       |         SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS w
       |         FROM documents)),
       |ds$tag AS (SELECT dt$tag.doc_id, dt$tag.pos, generate_subscripts($seg.syms, 1) AS spos,
       |              unnest($seg.syms) AS token
       |       FROM dt$tag JOIN $seg ON $seg.word = dt$tag.word),
       |dj$tag AS (SELECT ds$tag.doc_id, ds$tag.pos, ds$tag.spos, vid$tag.tid
       |       FROM ds$tag JOIN vid$tag USING (token))""".stripMargin

  // a def (not a val): referenced by oracle vals declared ABOVE it —
  // initialization order would otherwise interpolate null into the SQL
  private def bpeEncodeSelect(tag: String = ""): String =
    s"""SELECT doc_id, count(CASE WHEN spos = 1 THEN 1 END)::BIGINT AS n_words,
       |       count(*)::BIGINT AS n_subwords,
       |       md5(string_agg(tid::VARCHAR, ',' ORDER BY pos, spos)) AS ids_sig
       |FROM dj$tag GROUP BY 1""".stripMargin

  /** Histogram-sketch quantile oracle — mirror of
    * [[graft.ops.Analytics.histogramFixed]] +
    * [[graft.ops.Analytics.quantilesFromCounts]] at the pinned geometry
    * (cents in [0, 50000), 50 bins, p50/p90/p99): integer binning,
    * per-key bin-cumulative window, smallest bin reaching ⌈N·q/1000⌉,
    * upper-edge estimate. Shared by both registered forms.
    */
  private val histQuantilesOracle: String =
    """WITH ev AS (SELECT event_type, round(value * 100)::BIGINT AS c FROM events),
      |h AS (SELECT event_type,
      |             CASE WHEN c < 0 THEN 0::BIGINT WHEN c >= 50000 THEN 49::BIGINT
      |                  ELSE (c * 50) // 50000 END AS bin,
      |             count(*)::BIGINT AS n
      |      FROM ev WHERE c IS NOT NULL GROUP BY 1, 2),
      |cum AS (SELECT event_type, bin, n,
      |               sum(n) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
      |               sum(n) OVER (PARTITION BY event_type) AS total
      |        FROM h),
      |qq AS (SELECT unnest([500, 900, 990])::BIGINT AS q_permille),
      |j AS (SELECT cum.event_type, qq.q_permille, cum.bin, cum.total
      |      FROM cum CROSS JOIN qq
      |      WHERE cum.cum >= (cum.total * qq.q_permille + 999) // 1000),
      |s AS (SELECT event_type, q_permille, min(bin) AS bin, min(total) AS n_total
      |      FROM j GROUP BY 1, 2)
      |SELECT event_type, q_permille, n_total::BIGINT AS n_total,
      |       (0 + ((bin + 1) * 50000) // 50)::BIGINT AS est
      |FROM s""".stripMargin

  /** Per-source quality-histogram KL contributions vs the corpus-wide
    * reference: the q_quality_score expression verbatim, quantized to
    * millionths, binned under the fixed 20-bin geometry, then the
    * Laplace-smoothed per-(source, bin) drift terms in micro-nat fixed
    * point. Shared by the one-shot and incremental registered forms —
    * the fold must be invisible in the output.
    */
  private val qualityDriftOracle: String =
    raw"""WITH s AS (
      |  SELECT source,
      |         len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> ''))::DOUBLE AS n_tokens,
      |         CASE WHEN length(text) > 0
      |              THEN len(regexp_extract_all(text, '[.,;:!?]'))::DOUBLE / length(text)::DOUBLE END AS punct_ratio,
      |         CASE WHEN len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) > 0
      |              THEN len(regexp_extract_all(lower(text), '\b(the|and|of|is|to|in|a)\b'))::DOUBLE
      |                / len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> ''))::DOUBLE END
      |           AS stopword_ratio
      |  FROM documents),
      |q AS (SELECT source,
      |             round((0.4 * least(1.0, n_tokens / 100.0)
      |                    + 0.3 * (1.0 - least(1.0, punct_ratio * 10.0))
      |                    + 0.3 * least(1.0, stopword_ratio * 5.0)) * 1000000.0)::BIGINT AS q_fp
      |      FROM s),
      |b AS (SELECT source,
      |             CASE WHEN q_fp < 0 THEN 0::BIGINT WHEN q_fp >= 1000000 THEN 19::BIGINT
      |                  ELSE (q_fp * 20) // 1000000 END AS bin
      |      FROM q WHERE q_fp IS NOT NULL),
      |dom AS (SELECT DISTINCT source FROM b),
      |bins AS (SELECT unnest(range(0, 20))::BIGINT AS bin),
      |cg AS (SELECT source, bin, count(*)::BIGINT AS c FROM b GROUP BY 1, 2),
      |cr AS (SELECT bin, count(*)::BIGINT AS c FROM b GROUP BY 1),
      |ng AS (SELECT source, count(*)::BIGINT AS n FROM b GROUP BY 1),
      |dense AS (SELECT dom.source, bins.bin,
      |                 coalesce(cg.c, 0)::BIGINT AS c_g, coalesce(cr.c, 0)::BIGINT AS c_r
      |          FROM dom CROSS JOIN bins
      |          LEFT JOIN cg ON cg.source = dom.source AND cg.bin = bins.bin
      |          LEFT JOIN cr ON cr.bin = bins.bin)
      |SELECT d.source, d.bin, d.c_g, d.c_r,
      |       round(((d.c_g + 1)::DOUBLE / (ng.n + 20)::DOUBLE)
      |             * ln(((d.c_g + 1)::DOUBLE / (ng.n + 20)::DOUBLE)
      |                  / ((d.c_r + 1)::DOUBLE / ((SELECT count(*) FROM b) + 20)::DOUBLE))
      |             * 1000000.0)::BIGINT AS contrib_fp
      |FROM dense d JOIN ng USING (source)""".stripMargin

  private val neardupClustersOracle: String =
    s"""WITH RECURSIVE $neardupClusterCtes,
      |szs AS (SELECT cluster_id, count(*) AS cluster_size FROM labeled GROUP BY 1)
      |SELECT doc_id, cluster_id, cluster_size, doc_id = cluster_id AS is_keeper
      |FROM labeled JOIN szs USING (cluster_id)""".stripMargin

  /** Cross-corpus (even-store × odd-batch) variant of
    * [[verifiedPairsOracle]] for q_cross_dedup_lsh — uncapped, exact; only
    * the pairing predicate differs, the shingle derivation is shared.
    */
  private val crossVerifiedPairsOracle: String =
    verifiedPairsOracleWith("a.doc_id % 2 = 0 AND b.doc_id % 2 = 1")

  def oracleSql: Map[String, String] = Map(
    "q_minhash_dedup" -> verifiedPairsOracle,
    // shares the t/g/e0/e/p shingle CTE prefix with the cluster/LPA/
    // triangle oracles (only the candidate gate differs: common >= 5)
    "q_editdist_dedup" ->
      raw"""WITH $neardupPairCtes,
        |pe AS (SELECT doc_a, doc_b FROM p WHERE common >= 5),
        |nrm AS (SELECT doc_id, trim(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS nt FROM documents),
        |j AS (SELECT doc_a, doc_b, na.nt AS ta, nb.nt AS tb,
        |             length(na.nt) AS la, length(nb.nt) AS lb
        |      FROM pe JOIN nrm na ON na.doc_id = doc_a JOIN nrm nb ON nb.doc_id = doc_b
        |      WHERE least(length(na.nt), length(nb.nt))::DOUBLE
        |            >= 0.6 * greatest(length(na.nt), length(nb.nt))::DOUBLE),
        |d AS (SELECT doc_a, doc_b, levenshtein(ta, tb)::BIGINT AS dist,
        |             1.0 - levenshtein(ta, tb)::DOUBLE / greatest(la, lb)::DOUBLE AS sim
        |      FROM j)
        |SELECT doc_a, doc_b, dist, sim FROM d WHERE sim >= 0.6""".stripMargin,
    "q_winnow_dedup" -> verifiedPairsOracle,
    "q_label_propagation" -> labelPropagationOracle,
    "q_pagerank" -> pageRankOracle,
    "q_kmeans" -> kmeansOracle,
    "q_kmeans_assign" -> kmeansOracleWith("vec_id % 2 = 0"),
    "q_pq_encode" ->
      s"""WITH $pqBaseCtes
         |SELECT vec_id, sub, cid AS code, dist AS dist_fp FROM pa3""".stripMargin,
    "q_ann_ivfpq" -> annIvfPqOracle,
    "q_bpe_merges" ->
      s"""WITH $bpeBaseCtes,
         |${(1 to 10).map(bpeRoundCte).mkString(",\n")}
         |SELECT merge_rank, l AS left_sym, r AS right_sym, cnt AS pair_count FROM (
         |  ${(1 to 10).map(i => s"SELECT * FROM bm$i").mkString(" UNION ALL ")})""".stripMargin,
    "q_bpe_vocab" ->
      s"""WITH $bpeBaseCtes,
         |${(1 to 10).map(bpeRoundCte).mkString(",\n")}
         |SELECT token, sum(freq)::BIGINT AS token_count FROM (
         |  SELECT unnest(syms) AS token, freq FROM r10) GROUP BY 1""".stripMargin,
    // positions are 1-based here and 0-based in Spark; only their ORDER
    // feeds ids_sig, and the word-count marker is the per-engine first
    // subword position, so the scalar outputs agree exactly
    "q_bpe_encode" ->
      s"""WITH $bpeBaseCtes,
         |${(1 to 10).map(bpeRoundCte).mkString(",\n")},
         |${bpeEncodeSql("r10")}""".stripMargin,
    // train on the even-doc half, encode the FULL corpus with the learned
    // merges — the persisted-tokenizer deployment split
    "q_bpe_assign" ->
      raw"""WITH ${bpeBaseCtesWith("doc_id % 2 = 0")},
         |${(1 to 10).map(bpeRoundCte).mkString(",\n")},
         |wa AS (SELECT word, count(*)::BIGINT AS freq FROM (
         |         SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS word
         |         FROM documents) GROUP BY 1),
         |ra0 AS (SELECT word, freq, regexp_split_to_array(word, '') || ['</w>'] AS syms FROM wa),
         |${(1 to 10).map(bpeApplyCte).mkString(",\n")},
         |${bpeEncodeSql("ra10")}""".stripMargin,
    // SHARED by the incremental form: folding per-batch bucket models must
    // be lossless (counts monoid)
    "q_dsir_weights" -> dsirWeightsOracle,
    "q_dsir_incremental" -> dsirWeightsOracle,
    "q_dsir_select" ->
      s"""WITH $dsirWeightCtes,
         |sel AS (SELECT doc_id, weight_fp,
         |               row_number() OVER (ORDER BY weight_fp DESC, doc_id) AS rank
         |        FROM dfinal)
         |SELECT doc_id, weight_fp, rank::BIGINT AS rank FROM sel WHERE rank <= 100""".stripMargin,
    "q_wordpiece_merges" ->
      s"""WITH $wpBaseCtes,
         |${(1 to 10).map(wpRoundCte).mkString(",\n")}
         |SELECT merge_rank, l AS left_sym, r AS right_sym, merged AS merged_sym,
         |       cnt AS pair_count, score_fp FROM (
         |  ${(1 to 10).map(i => s"SELECT * FROM wbm$i").mkString(" UNION ALL ")})""".stripMargin,
    "q_wordpiece_encode" ->
      s"""WITH $wpBaseCtes,
         |${(1 to 10).map(wpRoundCte).mkString(",\n")},
         |${bpeEncodeSql("wr10")}""".stripMargin,
    "q_triangle_stats" -> triangleStatsOracle,
    "q_kcore" -> kcoreOracle,
    "q_cross_dedup_lsh" -> crossVerifiedPairsOracle,
    // Pareto frontier: the oracle is the DEFINITION — the O(n²) NOT EXISTS
    // dominance check the distributed level/bucket algorithm must equal.
    // SHARED with the incremental form (skyline fold-monoid losslessness)
    "q_pareto_frontier" -> paretoOracle,
    "q_pareto_incremental" -> paretoOracle,
    "q_domain_cap" ->
      """WITH r AS (SELECT doc_id, source, n_chars,
        |                  row_number() OVER (PARTITION BY source
        |                                     ORDER BY n_chars DESC, doc_id) AS rk
        |           FROM documents)
        |SELECT doc_id, source, n_chars, rk::BIGINT AS domain_rank
        |FROM r WHERE rk <= 50""".stripMargin,
    "q_length_buckets" ->
      """WITH t AS (SELECT doc_id,
        |                  len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> ''))::BIGINT AS n
        |           FROM documents),
        |b AS (SELECT doc_id, n,
        |             (CASE WHEN n <= 32 THEN 32 WHEN n <= 64 THEN 64 WHEN n <= 128 THEN 128
        |                   WHEN n <= 256 THEN 256 WHEN n <= 512 THEN 512 WHEN n <= 1024 THEN 1024
        |                   WHEN n <= 2048 THEN 2048 ELSE -1 END)::BIGINT AS bucket
        |      FROM t)
        |SELECT bucket, count(*)::BIGINT AS n_docs, sum(n)::BIGINT AS sum_tokens,
        |       sum(CASE WHEN bucket <> -1 THEN bucket - n ELSE 0 END)::BIGINT AS pad_tokens,
        |       sum(CASE WHEN bucket = -1 THEN n - 2048 ELSE 0 END)::BIGINT AS overflow_tokens
        |FROM b GROUP BY 1""".stripMargin,
    "q_curriculum_bins" ->
      s"""WITH $langQualityCtes
        |SELECT q.doc_id, l.pred_lang, q.quality,
        |       ntile(4) OVER (PARTITION BY l.pred_lang ORDER BY q.quality, q.doc_id)::BIGINT AS bin
        |FROM quality q JOIN lang l ON q.doc_id = l.doc_id""".stripMargin,
    "q_prefix_templates" ->
      raw"""WITH t AS (SELECT doc_id,
        |                  list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS w
        |           FROM documents),
        |p AS (SELECT doc_id, md5(coalesce(array_to_string(w[1:16], ' '), '')) AS fingerprint
        |      FROM t)
        |SELECT fingerprint, min(doc_id) AS keeper_id, count(*)::BIGINT AS n_docs
        |FROM p GROUP BY 1 HAVING count(*) >= 2""".stripMargin,
    "q_repeated_spans" ->
      raw"""WITH t AS (SELECT doc_id,
        |                  list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS w
        |           FROM documents),
        |sel AS (SELECT doc_id, w, unnest(range(1, len(w) - 8 + 2)) AS i
        |        FROM t WHERE len(w) >= 8),
        |g AS (SELECT doc_id, i - 1 AS pos, md5(array_to_string(w[i:i+7], ' ')) AS h FROM sel),
        |hot AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2),
        |hp AS (SELECT doc_id, pos FROM g WHERE h IN (SELECT h FROM hot)),
        |br AS (SELECT doc_id, pos,
        |              CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
        |                   THEN 1 ELSE 0 END AS brk
        |       FROM hp),
        |isl AS (SELECT doc_id, pos,
        |               sum(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS grp
        |        FROM br)
        |SELECT doc_id, min(pos)::BIGINT AS span_start, (max(pos) + 8)::BIGINT AS span_end,
        |       count(*)::BIGINT AS n_grams
        |FROM isl GROUP BY doc_id, grp""".stripMargin,
    // mirror of qSubstringDedup: same plants, positional 8-gram anchors,
    // df ∈ [2, 50] survival, pair join, diagonal-island maximal spans
    "q_substring_dedup" -> substringDedupOracle,
    // the store/batch legs must reproduce the from-scratch spans exactly
    // — the shared oracle is the losslessness proof
    "q_substring_dedup_incr" -> substringDedupOracle,
    // train×eval cross spans with the canary plants, per-train-doc
    // aggregation — the island tail shared with the dedup family oracles
    "q_substring_decontaminate" ->
      raw"""WITH tr AS (SELECT doc_id,
        |            text || CASE WHEN doc_id % 89 = 0 THEN '$substringCanary' ELSE '' END AS text
        |            FROM documents WHERE doc_id % 97 <> 0),
        |ev AS (SELECT doc_id, text || '$substringCanary' AS text
        |       FROM documents WHERE doc_id % 97 = 0),
        |tt AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS w FROM tr),
        |te AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS w FROM ev),
        |gt AS (SELECT doc_id, i - 1 AS pos, md5(array_to_string(w[i:i+7], ' ')) AS s
        |       FROM (SELECT doc_id, w, unnest(range(1, len(w) - 8 + 2)) AS i
        |             FROM tt WHERE len(w) >= 8)),
        |ge AS (SELECT doc_id, i - 1 AS pos, md5(array_to_string(w[i:i+7], ' ')) AS s
        |       FROM (SELECT doc_id, w, unnest(range(1, len(w) - 8 + 2)) AS i
        |             FROM te WHERE len(w) >= 8)),
        |alive AS (SELECT s FROM (
        |            SELECT s, count(DISTINCT doc_id) AS d
        |            FROM (SELECT doc_id, s FROM gt UNION ALL SELECT doc_id, s FROM ge)
        |            GROUP BY 1)
        |          WHERE d BETWEEN 2 AND 200),
        |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb
        |       FROM gt a JOIN alive al ON a.s = al.s
        |       JOIN ge b ON a.s = b.s AND a.doc_id <> b.doc_id),
        |isl AS (SELECT doc_a, doc_b, pa, pb, pa - pb AS diag,
        |               pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa) AS isl
        |        FROM pr),
        |sp AS (SELECT doc_a, doc_b, (max(pa) - min(pa) + 8)::BIGINT AS span
        |       FROM isl GROUP BY doc_a, doc_b, diag, isl
        |       HAVING max(pa) - min(pa) + 8 >= 24)
        |SELECT doc_a AS doc_id, count(DISTINCT doc_b)::BIGINT AS n_eval_docs,
        |       count(*)::BIGINT AS n_spans, max(span)::BIGINT AS max_span_tokens
        |FROM sp GROUP BY 1""".stripMargin,
    // the scrub consumer: same span CTEs, doc_b-side covered ranges, the
    // q_span_scrub token-reconstruction tail verbatim
    "q_substring_scrub" ->
      s"""WITH $substringSpanCtes,
        |sp AS (SELECT doc_b AS doc_id, min(pb) AS s,
        |              min(pb) + (max(pa) - min(pa) + 8) AS e
        |       FROM isl GROUP BY doc_a, doc_b, diag, isl
        |       HAVING max(pa) - min(pa) + 8 >= 24),
        |tok AS (SELECT doc_id, unnest(range(1, len(w) + 1)) AS i, w FROM t),
        |kept AS (SELECT tk.doc_id, tk.i, tk.w[tk.i] AS tkn FROM tok tk
        |         WHERE NOT EXISTS (SELECT 1 FROM sp
        |                           WHERE sp.doc_id = tk.doc_id
        |                             AND tk.i - 1 >= sp.s AND tk.i - 1 < sp.e)),
        |agg AS (SELECT doc_id, count(*) AS kept_n, string_agg(tkn, ' ' ORDER BY i) AS clean
        |        FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, len(w)::BIGINT AS n_tokens,
        |       (len(w) - coalesce(kept_n, 0))::BIGINT AS n_removed,
        |       coalesce(clean, '') AS clean_text
        |FROM t LEFT JOIN agg USING (doc_id)""".stripMargin,
    "q_semantic_decontaminate" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM v),
        |t AS (SELECT * FROM n WHERE vec_id % 13 <> 0),
        |e AS (SELECT vec_id AS eval_id, v AS ev, nrm AS en FROM n WHERE vec_id % 13 = 0 AND nrm > 0),
        |sc AS (SELECT t.vec_id, e.eval_id,
        |              CASE WHEN t.nrm * e.en > 0 THEN list_dot_product(t.v, e.ev) / (t.nrm * e.en) END AS sim
        |       FROM t LEFT JOIN e ON true),
        |r AS (SELECT vec_id, sim, eval_id,
        |             row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, eval_id) AS rn
        |      FROM sc WHERE sim IS NOT NULL)
        |SELECT b.vec_id, r.sim AS max_sim, r.eval_id AS nearest_eval_id,
        |       coalesce(r.sim >= 0.9, false) AS is_contaminated
        |FROM (SELECT DISTINCT vec_id FROM t) b
        |LEFT JOIN (SELECT * FROM r WHERE rn = 1) r USING (vec_id)""".stripMargin,
    "q_keeper_by_quality" ->
      (s"""WITH RECURSIVE $langQualityCtes,
        |$neardupClusterCtes,
        |rk AS (SELECT l.doc_id, l.cluster_id,
        |              row_number() OVER (PARTITION BY l.cluster_id
        |                                 ORDER BY q.quality DESC, l.doc_id) AS rn
        |       FROM labeled l JOIN quality q USING (doc_id)),
        |kp AS (SELECT cluster_id, doc_id AS keeper_id FROM rk WHERE rn = 1)
        |SELECT l.doc_id, l.cluster_id, kp.keeper_id, l.doc_id = kp.keeper_id AS is_keeper
        |FROM labeled l JOIN kp USING (cluster_id)""".stripMargin),
    "q_decontaminate_multi" ->
      raw"""WITH base AS (SELECT doc_id, text FROM documents),
        |tr AS (
        |  SELECT doc_id,
        |         text || CASE WHEN doc_id % 13 = 0
        |                      THEN ' the quick brown fox jumps over the lazy dog again and again'
        |                      ELSE '' END
        |              || CASE WHEN doc_id % 11 = 0
        |                      THEN ' pack my box with five dozen liquor jugs every single day'
        |                      ELSE '' END AS text
        |  FROM base WHERE doc_id % 97 <> 0 AND NOT (doc_id % 89 = 0 AND doc_id % 97 <> 0)),
        |ea AS (SELECT doc_id,
        |              text || ' the quick brown fox jumps over the lazy dog again and again' AS text
        |       FROM base WHERE doc_id % 97 = 0),
        |eb AS (SELECT doc_id,
        |              text || ' pack my box with five dozen liquor jugs every single day' AS text
        |       FROM base WHERE doc_id % 89 = 0 AND doc_id % 97 <> 0),
        |tg AS (SELECT doc_id, unnest(list_distinct(
        |              [array_to_string(w[i:i+7], ' ') for i in range(1, len(w) - 6)])) AS g
        |       FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM tr)
        |       WHERE len(w) >= 8),
        |ga AS (SELECT DISTINCT unnest(list_distinct(
        |              [array_to_string(w[i:i+7], ' ') for i in range(1, len(w) - 6)])) AS g
        |       FROM (SELECT regexp_split_to_array(trim(text), '\s+') AS w FROM ea)
        |       WHERE len(w) >= 8),
        |gb AS (SELECT DISTINCT unnest(list_distinct(
        |              [array_to_string(w[i:i+7], ' ') for i in range(1, len(w) - 6)])) AS g
        |       FROM (SELECT regexp_split_to_array(trim(text), '\s+') AS w FROM eb)
        |       WHERE len(w) >= 8)
        |SELECT doc_id, 'benchmark_a' AS eval_set, count(*)::BIGINT AS n_hits
        |FROM tg WHERE g IN (SELECT g FROM ga) GROUP BY 1
        |UNION ALL
        |SELECT doc_id, 'benchmark_b', count(*)::BIGINT
        |FROM tg WHERE g IN (SELECT g FROM gb) GROUP BY 1""".stripMargin,
    "q_span_scrub" ->
      raw"""WITH t AS (SELECT doc_id,
        |                  list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS w
        |           FROM documents),
        |sel AS (SELECT doc_id, w, unnest(range(1, len(w) - 8 + 2)) AS i
        |        FROM t WHERE len(w) >= 8),
        |g AS (SELECT doc_id, i - 1 AS pos, md5(array_to_string(w[i:i+7], ' ')) AS h FROM sel),
        |hot AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2),
        |hp AS (SELECT doc_id, pos FROM g WHERE h IN (SELECT h FROM hot)),
        |br AS (SELECT doc_id, pos,
        |              CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
        |                   THEN 1 ELSE 0 END AS brk
        |       FROM hp),
        |isl AS (SELECT doc_id, pos,
        |               sum(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS grp
        |        FROM br),
        |sp AS (SELECT doc_id, min(pos) AS s, max(pos) + 8 AS e FROM isl GROUP BY doc_id, grp),
        |tok AS (SELECT doc_id, unnest(range(1, len(w) + 1)) AS i, w FROM t),
        |kept AS (SELECT tk.doc_id, tk.i, tk.w[tk.i] AS tkn FROM tok tk
        |         WHERE NOT EXISTS (SELECT 1 FROM sp
        |                           WHERE sp.doc_id = tk.doc_id
        |                             AND tk.i - 1 >= sp.s AND tk.i - 1 < sp.e)),
        |agg AS (SELECT doc_id, count(*) AS kept_n, string_agg(tkn, ' ' ORDER BY i) AS clean
        |        FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, len(w)::BIGINT AS n_tokens,
        |       (len(w) - coalesce(kept_n, 0))::BIGINT AS n_removed,
        |       coalesce(clean, '') AS clean_text
        |FROM t LEFT JOIN agg USING (doc_id)""".stripMargin,
    "q_quote_source" ->
      """WITH sym AS (
        |  SELECT 'C' || c_custkey::VARCHAR AS symbol, 'STOCK' AS asset_type
        |  FROM (SELECT c_custkey FROM customer WHERE c_custkey IS NOT NULL
        |        ORDER BY c_custkey LIMIT 500)),
        |hs AS (
        |  SELECT symbol, asset_type,
        |         list_reduce(
        |           list_prepend(0::BIGINT, [unicode(st[i])::BIGINT for i in range(1, len(st) + 1)]),
        |           (h, c) -> (31 * h + c) % 4294967296) AS u
        |  FROM (SELECT symbol, asset_type, symbol || ':' || asset_type AS st FROM sym)),
        |f AS (SELECT symbol, asset_type, (u % 2147483648)::BIGINT AS h FROM hs),
        |v AS (SELECT symbol, asset_type,
        |             10.0::DOUBLE + (h % 100000)::DOUBLE / 100.0::DOUBLE AS price,
        |             ((h // 256) % 2000 - 1000)::DOUBLE / 100.0::DOUBLE AS change
        |      FROM f)
        |SELECT symbol, asset_type, price,
        |       CASE WHEN price - change <> 0.0
        |            THEN change / (price - change) * 100.0 ELSE 0.0 END AS percent_change,
        |       change, price + abs(change) AS high, price - abs(change) AS low
        |FROM v""".stripMargin,
    "q_frame_sample" ->
      """WITH m AS (SELECT doc_id AS media_id,
        |                  500 + (strlen(text) * 37) % 8000 AS d
        |           FROM documents),
        |n AS (SELECT media_id, least(8, d // 1000 + 1) AS nf FROM m),
        |sel AS (SELECT media_id, nf, unnest(range(0, nf)) AS frame_idx FROM n)
        |SELECT media_id, frame_idx::BIGINT AS frame_idx,
        |       (frame_idx * 1000)::BIGINT AS ts_ms, nf::BIGINT AS n_frames
        |FROM sel""".stripMargin,
    "q_audio_windows" ->
      """WITH m AS (SELECT doc_id AS media_id,
        |                  1000 + (strlen(text) * 131) % 30000 AS d
        |           FROM documents),
        |n AS (SELECT media_id, d,
        |             least(16, CASE WHEN d <= 2000 THEN 1 ELSE (d - 2000) // 1000 + 1 END) AS nw
        |      FROM m),
        |sel AS (SELECT media_id, d, unnest(range(0, nw)) AS window_idx FROM n)
        |SELECT media_id, window_idx::BIGINT AS window_idx,
        |       (window_idx * 1000)::BIGINT AS start_ms,
        |       least(window_idx * 1000 + 2000, d)::BIGINT AS end_ms
        |FROM sel""".stripMargin,
    "q_top_k" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100""".stripMargin,
    "q_event_time_window" ->
      """SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, event_type,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q_asof_join" ->
      """WITH t AS (SELECT user_id, event_type, value, ts, event_id FROM events
        |           WHERE event_type IN ('click', 'error')),
        |w AS (SELECT *, last_value(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
        |               OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_value
        |      FROM t)
        |SELECT user_id AS symbol, ts AS event_ts, value AS error_value, last_click_value
        |FROM w WHERE event_type = 'error'""".stripMargin,
    "q_asof_join_2t" ->
      """WITH l AS (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'),
        |r0 AS (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'view'),
        |r AS (SELECT user_id, ts, value FROM r0
        |      QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1)
        |SELECT l.user_id AS symbol, l.ts AS purchase_ts, l.event_id,
        |       l.value AS purchase_value, r.value AS last_view_value
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin,
    "q_asof_join_tol" ->
      """WITH l AS (SELECT user_id, epoch_ms(ts) AS tsm, event_id, value FROM events WHERE event_type = 'purchase'),
        |r0 AS (SELECT user_id, epoch_ms(ts) AS tsm, event_id, value FROM events WHERE event_type = 'view'),
        |r AS (SELECT user_id, tsm, value FROM r0
        |      QUALIFY row_number() OVER (PARTITION BY user_id, tsm ORDER BY event_id DESC) = 1)
        |SELECT l.user_id AS symbol, l.tsm AS purchase_ts_ms, l.event_id,
        |       l.value AS purchase_value,
        |       CASE WHEN r.tsm >= l.tsm - 3600000 THEN r.value END AS last_view_value
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.tsm >= r.tsm""".stripMargin,
    "q_cms_heavy_hitters" -> cmsOracle,
    "q_cms_incremental" -> cmsOracle,
    "q_heavy_hitters" ->
      """WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
        |t AS (SELECT count(*) AS t FROM events)
        |SELECT user_id AS symbol, n, n::DOUBLE / t AS share
        |FROM c, t WHERE n > t * 0.003""".stripMargin,
    "q_set_ops" ->
      """(SELECT DISTINCT user_id AS symbol FROM events WHERE event_type = 'signup'
        | EXCEPT SELECT DISTINCT user_id AS symbol FROM events WHERE event_type = 'error')
        |UNION
        |(SELECT DISTINCT user_id AS symbol FROM events WHERE event_type = 'purchase'
        | INTERSECT SELECT DISTINCT user_id AS symbol FROM events WHERE event_type = 'view')""".stripMargin,
    "q_rollup_stats" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |       grouping(event_type)::INTEGER AS g
        |FROM events GROUP BY ROLLUP(event_type)""".stripMargin,
    "q_completion_payload" ->
      """WITH b AS (
        |  SELECT c_custkey, c_mktsegment,
        |         CAST(ceil(row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_custkey) / 100.0) AS BIGINT) AS batch_id
        |  FROM customer),
        |s AS (SELECT c_mktsegment, count(*) AS record_count, max(batch_id) AS total_batches FROM b GROUP BY 1)
        |SELECT c_mktsegment AS asset_type,
        |       '{"asset_type":"' || c_mktsegment || '","record_count":' || record_count::VARCHAR
        |         || ',"total_batches":' || total_batches::VARCHAR || ',"status":"complete"}' AS payload
        |FROM s""".stripMargin,
    "q_completion_per_batch" ->
      """WITH b AS (
        |  SELECT c_custkey, c_mktsegment,
        |         CAST(ceil(row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_custkey) / 100.0) AS BIGINT) AS batch_id
        |  FROM customer),
        |cnt AS (SELECT o_custkey AS c_custkey, count(*) AS n FROM orders GROUP BY 1)
        |SELECT b.c_mktsegment AS asset_type, b.batch_id,
        |       string_agg(b.c_custkey::VARCHAR, ',' ORDER BY b.c_custkey) AS symbols,
        |       count(*)::BIGINT AS symbol_count,
        |       CAST(sum(coalesce(cnt.n, 0)) AS BIGINT) AS record_count,
        |       'complete' AS status
        |FROM b LEFT JOIN cnt USING (c_custkey)
        |GROUP BY 1, 2""".stripMargin,
    "q_job_market_data_e2e" ->
      """WITH ev AS (SELECT user_id, event_type, value, ts, event_id FROM events),
        |store AS (SELECT * FROM ev WHERE ts < TIMESTAMP '2024-01-20'
        |          QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) = 1),
        |quotes AS (SELECT * FROM ev WHERE ts >= TIMESTAMP '2024-01-20'
        |           QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) = 1),
        |requests AS (SELECT DISTINCT user_id, event_type FROM ev),
        |needed AS (SELECT r.* FROM requests r
        |           WHERE NOT EXISTS (SELECT 1 FROM store s
        |                             WHERE s.user_id = r.user_id AND s.event_type = r.event_type)),
        |fetched AS (SELECT q.* FROM needed n JOIN quotes q USING (user_id, event_type)),
        |merged AS (SELECT * FROM (SELECT * FROM store UNION ALL SELECT * FROM fetched)
        |           QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) = 1)
        |SELECT user_id AS symbol, event_type AS asset_type, value AS price, ts AS updated_at FROM merged""".stripMargin,
    "q_job_historical_e2e" ->
      """WITH o AS (SELECT o_custkey, date_trunc('month', o_orderdate)::DATE AS date, o_totalprice,
        |                  o_orderdate, o_orderkey FROM orders),
        |store AS (SELECT o_custkey, date, o_totalprice FROM o WHERE o_orderdate < TIMESTAMP '1999-01-01'
        |          QUALIFY row_number() OVER (PARTITION BY o_custkey, date ORDER BY o_orderdate DESC, o_orderkey DESC) = 1),
        |spine AS (SELECT c_custkey AS o_custkey,
        |                 unnest(generate_series(TIMESTAMP '1995-01-01', TIMESTAMP '2001-08-01', INTERVAL 1 MONTH))::DATE AS month
        |          FROM customer),
        |cov AS (SELECT DISTINCT o_custkey, date AS month FROM store),
        |miss AS (SELECT s.o_custkey, s.month FROM spine s
        |         WHERE NOT EXISTS (SELECT 1 FROM cov c WHERE c.o_custkey = s.o_custkey AND c.month = s.month)),
        |gaps AS (SELECT o_custkey, min(month) AS gap_start, max(month) AS gap_end FROM miss GROUP BY 1),
        |fetched AS (SELECT o.* FROM o JOIN gaps g
        |            ON o.o_custkey = g.o_custkey AND o.date >= g.gap_start AND o.date <= g.gap_end),
        |monthly AS (SELECT o_custkey, date, o_totalprice FROM fetched
        |            QUALIFY row_number() OVER (PARTITION BY o_custkey, date ORDER BY o_orderdate DESC, o_orderkey DESC) = 1)
        |SELECT o_custkey AS symbol, date, max(o_totalprice) AS price
        |FROM (SELECT * FROM store UNION ALL SELECT * FROM monthly) GROUP BY 1, 2""".stripMargin,
    "q_cohort_retention" ->
      """WITH s AS (SELECT user_id, floor(epoch(ts))::BIGINT AS secs FROM events),
        |f AS (SELECT user_id, (min(secs) // 86400) // 7 AS cohort FROM s GROUP BY 1),
        |a AS (SELECT s.user_id, f.cohort, ((s.secs // 86400) // 7) - f.cohort AS period_offset
        |      FROM s JOIN f USING (user_id)),
        |m AS (SELECT cohort, period_offset, count(DISTINCT user_id) AS n_users FROM a GROUP BY 1, 2),
        |z AS (SELECT cohort, count(*) AS cohort_size FROM f GROUP BY 1)
        |SELECT m.cohort, m.period_offset, m.n_users, z.cohort_size,
        |       m.n_users::DOUBLE / z.cohort_size::DOUBLE AS pct
        |FROM m JOIN z USING (cohort)""".stripMargin,
    "q_event_transitions" ->
      """WITH o AS (SELECT event_type,
        |                 lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst_type
        |          FROM events),
        |p AS (SELECT event_type AS src_type, dst_type, count(*) AS n
        |      FROM o WHERE dst_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT src_type, sum(n)::BIGINT AS tt FROM p GROUP BY 1)
        |SELECT p.src_type, p.dst_type, p.n, (p.n * 1000000) // t.tt AS p_fp
        |FROM p JOIN t USING (src_type)""".stripMargin,
    "q_sequence_examples" ->
      """WITH o AS (SELECT user_id, event_id, event_type,
        |                 list(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                                        ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS ctx
        |          -- NULL tokens dropped pre-window on BOTH engines:
        |          -- Spark's collect_list skips frame-NULLs, list() keeps
        |          -- them — the operator excludes the row entirely
        |          FROM events WHERE event_type IS NOT NULL)
        |SELECT user_id, event_id, array_to_string(ctx, ' ') AS context, event_type AS label
        |FROM o WHERE len(ctx) = 3""".stripMargin,
    "q_temperature_mix" ->
      """WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
        |w AS (SELECT source, n_docs, round(sqrt(n_docs::DOUBLE) * 1000000.0)::BIGINT AS w FROM c),
        |t AS (SELECT sum(w)::BIGINT AS tw FROM w),
        |b AS (SELECT source, n_docs, w, (w * 100000) // tw AS base, (w * 100000) % tw AS rem
        |      FROM w CROSS JOIN t),
        |l AS (SELECT 100000 - sum(base)::BIGINT AS lo FROM b),
        |r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rk FROM b CROSS JOIN l)
        |SELECT source, n_docs, w, (base + CASE WHEN rk <= lo THEN 1 ELSE 0 END)::BIGINT AS alloc
        |FROM r""".stripMargin,
    "q_quota_sample" ->
      """WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
        |w AS (SELECT source, n_docs, round(sqrt(n_docs::DOUBLE) * 1000000.0)::BIGINT AS w FROM c),
        |t AS (SELECT sum(w)::BIGINT AS tw FROM w),
        |b AS (SELECT source, w, (w * 200) // tw AS base, (w * 200) % tw AS rem
        |      FROM w CROSS JOIN t),
        |l AS (SELECT 200 - sum(base)::BIGINT AS lo FROM b),
        |r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rk FROM b CROSS JOIN l),
        |al AS (SELECT source, (base + CASE WHEN rk <= lo THEN 1 ELSE 0 END)::BIGINT AS alloc FROM r),
        |rk AS (SELECT doc_id, source,
        |              row_number() OVER (PARTITION BY source
        |                                 ORDER BY md5(doc_id::VARCHAR), doc_id) AS sample_rank
        |       FROM documents)
        |SELECT rk.doc_id, rk.source, rk.sample_rank::BIGINT AS sample_rank
        |FROM rk JOIN al USING (source) WHERE rk.sample_rank <= al.alloc""".stripMargin,
    "q_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         floor(epoch(ts))::BIGINT - floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)))::BIGINT AS gap_s
        |  FROM events),
        |b AS (SELECT *, CASE WHEN gap_s IS NULL OR gap_s > 1800 THEN 1 ELSE 0 END AS is_new FROM g)
        |SELECT user_id AS symbol, ts AS event_ts, event_type,
        |       CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |FROM b""".stripMargin,
    "q_drawdown" ->
      s"""WITH $monthlyLastCloseCtes
        |SELECT symbol, date, price,
        |       max(price) OVER (PARTITION BY symbol ORDER BY date
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak,
        |       price / max(price) OVER (PARTITION BY symbol ORDER BY date
        |                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1.0 AS drawdown
        |FROM cl""".stripMargin,
    "q_ngram_novelty" ->
      raw"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
        |g AS (SELECT doc_id,
        |             list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]) AS sh
        |      FROM t WHERE len(w) >= 3),
        |e0 AS (SELECT doc_id, unnest(sh) AS s FROM g),
        |f AS (SELECT s, min(doc_id) AS first_id FROM e0 GROUP BY 1)
        |SELECT e0.doc_id, count(*)::BIGINT AS n_grams,
        |       sum(CASE WHEN f.first_id = e0.doc_id THEN 1 ELSE 0 END)::BIGINT AS n_novel,
        |       sum(CASE WHEN f.first_id = e0.doc_id THEN 1 ELSE 0 END)::BIGINT::DOUBLE
        |         / count(*)::BIGINT::DOUBLE AS novelty
        |FROM e0 JOIN f USING (s)
        |GROUP BY 1""".stripMargin,
    "q_vwap" ->
      """WITH r AS (SELECT l_partkey,
        |                  round((l_extendedprice / l_quantity) * l_quantity * 1000000.0)::BIGINT AS wv,
        |                  round(l_quantity * 1000000.0)::BIGINT AS w
        |           FROM lineitem)
        |SELECT l_partkey, sum(wv)::BIGINT AS wv_fp, sum(w)::BIGINT AS w_fp,
        |       CASE WHEN sum(w)::BIGINT <> 0
        |            THEN sum(wv)::BIGINT::DOUBLE / sum(w)::BIGINT::DOUBLE END AS wmean
        |FROM r GROUP BY 1""".stripMargin,
    "q_debounce" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rnk
        |  FROM events),
        |m AS (SELECT *, CASE WHEN rnk = 1 OR prev IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS nr FROM e),
        |r AS (SELECT user_id, ts, event_id, event_type, nr,
        |             CAST(sum(nr) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_seq
        |      FROM m)
        |SELECT user_id, ts AS event_ts, event_id, event_type, run_seq FROM r WHERE nr = 1""".stripMargin,
    "q_kmv_users" -> kmvOracle,
    "q_approx_users" -> hllApproxUsersOracle,
    // shared one-pass register replay: the incremental per-day fold must
    // land on the identical register file (max is associative)
    "q_hll_incremental" -> hllEstimateSql("approx_distinct"),
    "q_simhash_dedup" -> simhashOracle,
    "q_ann_lsh" -> annLshOracle,
    "q_bollinger" ->
      s"""WITH $monthlyLastCloseCtes,
        |b AS (
        |  SELECT symbol, date, price,
        |         round(price * 100.0)::BIGINT AS v,
        |         count(*) OVER w AS n,
        |         sum(round(price * 100.0)::BIGINT) OVER w AS s,
        |         sum(round(price * 100.0)::BIGINT * round(price * 100.0)::BIGINT) OVER w AS sq
        |  FROM cl
        |  WINDOW w AS (PARTITION BY symbol ORDER BY date
        |               ROWS BETWEEN 11 PRECEDING AND CURRENT ROW)),
        |d AS (SELECT symbol, date, price, n::BIGINT AS n,
        |             (s::BIGINT // n::BIGINT)::DOUBLE / 100.0 AS mid,
        |             sqrt((n::BIGINT * sq::BIGINT - s::BIGINT * s::BIGINT)::DOUBLE) / n::BIGINT::DOUBLE / 100.0 AS sigma
        |      FROM b)
        |SELECT symbol, date, price, n AS n_window, mid, sigma,
        |       mid + 2.0 * sigma AS upper, mid - 2.0 * sigma AS lower,
        |       price > mid + 2.0 * sigma AS breach_upper,
        |       price < mid - 2.0 * sigma AS breach_lower
        |FROM d""".stripMargin,
    "q_ohlc_bars" ->
      """WITH b AS (
        |  SELECT o_custkey AS symbol, date_trunc('month', o_orderdate)::DATE AS month,
        |         o_orderdate, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey, date_trunc('month', o_orderdate)
        |                            ORDER BY o_orderdate, o_orderkey) AS ra,
        |         row_number() OVER (PARTITION BY o_custkey, date_trunc('month', o_orderdate)
        |                            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rd
        |  FROM orders)
        |SELECT symbol, month,
        |       max(CASE WHEN ra = 1 THEN o_totalprice END) AS open,
        |       max(o_totalprice) AS high,
        |       min(o_totalprice) AS low,
        |       max(CASE WHEN rd = 1 THEN o_totalprice END) AS close,
        |       count(*)::BIGINT AS n
        |FROM b GROUP BY 1, 2""".stripMargin,
    "q_rolling_zscore" ->
      """WITH b AS (
        |  SELECT user_id, ts AS event_ts, event_id, value,
        |         round(value * 1000.0)::BIGINT AS v,
        |         count(*) OVER w AS n,
        |         sum(round(value * 1000.0)::BIGINT) OVER w AS s,
        |         sum(round(value * 1000.0)::BIGINT * round(value * 1000.0)::BIGINT) OVER w AS sq
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
        |d AS (SELECT user_id, event_ts, event_id, value, n::BIGINT AS n,
        |             (n::BIGINT * v - s::BIGINT) AS num,
        |             (n::BIGINT * sq::BIGINT - s::BIGINT * s::BIGINT) AS den
        |      FROM b)
        |SELECT user_id, event_ts, event_id, value, n AS n_window,
        |       CASE WHEN den > 0 THEN num::DOUBLE / sqrt(den::DOUBLE) END AS z,
        |       coalesce(abs(CASE WHEN den > 0 THEN num::DOUBLE / sqrt(den::DOUBLE) END) > 3.0, false) AS is_anomaly
        |FROM d""".stripMargin,
    // SHARED: min-k of the merged half sketches == min-k from scratch
    "q_kmv_incremental" -> kmvOracle,
    "q_value_histogram" ->
      """WITH b AS (SELECT event_type, min(value) AS mn, max(value) AS mx FROM events GROUP BY 1),
        |c AS (SELECT e.event_type,
        |             CASE WHEN b.mx = b.mn THEN 0
        |                  ELSE least(floor((e.value - b.mn) / (b.mx - b.mn) * 20)::BIGINT, 19) END AS bin,
        |             b.mn, b.mx
        |      FROM events e JOIN b USING (event_type))
        |SELECT event_type, bin::BIGINT AS bin, count(*)::BIGINT AS n,
        |       any_value(mn) + bin::DOUBLE * (any_value(mx) - any_value(mn)) / 20 AS bin_lo,
        |       any_value(mn) + (bin + 1)::DOUBLE * (any_value(mx) - any_value(mn)) / 20 AS bin_hi
        |FROM c GROUP BY event_type, c.bin""".stripMargin,
    "q_cusum" ->
      s"""WITH RECURSIVE $monthlyLastCloseCtes,
        |r AS (SELECT symbol, date, round((price - prev) / prev * 10000.0)::BIGINT AS r,
        |             row_number() OVER (PARTITION BY symbol ORDER BY date) AS rn
        |      FROM (SELECT symbol, date, price,
        |                   lag(price) OVER (PARTITION BY symbol ORDER BY date) AS prev
        |            FROM cl)
        |      WHERE prev IS NOT NULL AND prev <> 0),
        |cu(symbol, rn, date, fp, cp, cn) AS (
        |  SELECT symbol, rn, date, r, greatest(0, r), least(0, r) FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT r.symbol, r.rn, r.date, r.r, greatest(0, cu.cp + r.r), least(0, cu.cn + r.r)
        |  FROM r JOIN cu ON r.symbol = cu.symbol AND r.rn = cu.rn + 1)
        |SELECT symbol, date, fp AS value_fp, cp AS cusum_pos, cn AS cusum_neg,
        |       (cp > 5000 OR cn < -5000) AS alarm
        |FROM cu""".stripMargin,
    "q_market_beta" ->
      s"""WITH $monthlyLastCloseCtes,
        |r AS (SELECT symbol, date,
        |             round((price - prev) / prev * 10000.0)::BIGINT AS r
        |      FROM (SELECT symbol, date, price,
        |                   lag(price) OVER (PARTITION BY symbol ORDER BY date) AS prev
        |            FROM cl)
        |      WHERE prev IS NOT NULL AND prev <> 0),
        |mk AS (SELECT date, sum(r)::BIGINT // count(*)::BIGINT AS m FROM r GROUP BY 1),
        |mo AS (SELECT symbol, count(*)::BIGINT AS n,
        |              sum(mk.m)::BIGINT AS sx, sum(r.r)::BIGINT AS sy,
        |              sum(mk.m * r.r)::BIGINT AS sxy,
        |              sum(mk.m * mk.m)::BIGINT AS sxx,
        |              sum(r.r * r.r)::BIGINT AS syy
        |       FROM r JOIN mk USING (date) GROUP BY 1),
        |d AS (SELECT symbol, n,
        |             n * sxy - sx * sy AS num,
        |             n * sxx - sx * sx AS dx,
        |             n * syy - sy * sy AS dy
        |      FROM mo)
        |SELECT symbol, n,
        |       CASE WHEN dx > 0 THEN num::DOUBLE / dx::DOUBLE END AS beta,
        |       CASE WHEN dx > 0 AND dy > 0
        |            THEN num::DOUBLE / sqrt(dx::DOUBLE * dy::DOUBLE) END AS corr
        |FROM d""".stripMargin,
    "q_winsorize" ->
      """WITH r AS (SELECT event_type, value, event_id,
        |                  row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
        |                  count(*) OVER (PARTITION BY event_type) AS n
        |           FROM events WHERE value IS NOT NULL),
        |b AS (SELECT event_type,
        |             min(CASE WHEN rn = floor(0.05 * (n - 1))::BIGINT + 1 THEN value END) AS lo,
        |             max(CASE WHEN rn = floor(0.95 * (n - 1))::BIGINT + 1 THEN value END) AS hi
        |      FROM r GROUP BY 1),
        |c AS (SELECT r.event_type, least(greatest(r.value, b.lo), b.hi) AS wv, b.lo, b.hi
        |      FROM r JOIN b USING (event_type))
        |SELECT event_type, count(*)::BIGINT AS n, any_value(lo) AS lo, any_value(hi) AS hi,
        |       sum(round(wv * 1000000.0)::BIGINT)::BIGINT AS wmean_fp_sum,
        |       sum(round(wv * 1000000.0)::BIGINT)::BIGINT::DOUBLE / count(*)::BIGINT::DOUBLE / 1000000.0 AS wmean
        |FROM c GROUP BY 1""".stripMargin,
    "q_value_quantiles" ->
      """SELECT event_type, quantile_cont(value, 0.5) AS p50, quantile_cont(value, 0.95) AS p95,
        |       count(*) AS n
        |FROM events GROUP BY 1""".stripMargin,
    // shared verbatim by the incremental fold — the histogram-monoid
    // losslessness proof (counts add; estimates derive after the fold)
    "q_hist_quantiles" -> histQuantilesOracle,
    "q_hist_quantiles_incremental" -> histQuantilesOracle,
    // per-source quality-histogram KL vs the corpus reference — the
    // quality expression is q_quality_score's verbatim, quantized once;
    // SHARED with the incremental form (counts fold, contributions
    // derive after — the histogram-monoid losslessness proof for drift)
    "q_quality_drift" -> qualityDriftOracle,
    "q_quality_drift_incremental" -> qualityDriftOracle,
    "q_outlier_flags" ->
      """WITH s AS (SELECT event_type, quantile_cont(value, 0.99) AS p99 FROM events GROUP BY 1)
        |SELECT e.event_id, e.event_type, e.value, s.p99, e.value > s.p99 AS is_outlier
        |FROM events e JOIN s USING (event_type)""".stripMargin,
    "q_interval_join" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id,
        |       c.ts AS click_ts, p.ts AS purchase_ts
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR""".stripMargin,
    "q_funnel" ->
      """WITH u AS (
        |  SELECT user_id,
        |         min(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
        |         min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
        |  FROM events GROUP BY 1)
        |SELECT count(*) AS n_users,
        |       count(first_view) AS n_viewed,
        |       count(CASE WHEN first_purchase > first_view THEN 1 END) AS n_converted
        |FROM u""".stripMargin,
    "q_star_join_revenue" ->
      """SELECT n_name, count(*) AS n_items,
        |       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1""".stripMargin,
    "q_rolling_window" ->
      """SELECT user_id AS symbol, ts AS event_ts, value AS price,
        |       CAST(sum(CAST(value AS DECIMAL(18,2)))
        |            OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rolling_sum,
        |       count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS rolling_n
        |FROM events""".stripMargin,
    "q_range_band" ->
      """WITH bands(band_id, lo, hi) AS (VALUES
        |  (1::BIGINT, 0.0, 10.0), (2::BIGINT, 10.0, 20.0), (3::BIGINT, 20.0, 30.0),
        |  (4::BIGINT, 30.0, 40.0), (5::BIGINT, 40.0, 60.0))
        |SELECT band_id, count(*) AS n,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM lineitem JOIN bands ON l_quantity >= lo AND l_quantity < hi
        |GROUP BY 1""".stripMargin,
    "q_range_band_fast" ->
      """WITH bands AS (
        |  SELECT range AS band_id, 900.0 + range * 105.0 AS lo, 1005.0 + range * 105.0 AS hi
        |  FROM range(1000))
        |SELECT band_id, count(*) AS n,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM lineitem JOIN bands ON l_extendedprice >= lo AND l_extendedprice < hi
        |GROUP BY 1""".stripMargin,
    "q_coverage_map" ->
      """SELECT o_custkey AS symbol,
        |       array_to_string(list_sort(list(DISTINCT date_trunc('month', o_orderdate)::DATE)), ',') AS months,
        |       count(DISTINCT date_trunc('month', o_orderdate)) AS n_months
        |FROM orders GROUP BY 1""".stripMargin,
    "q_monthly_pct_change" ->
      """WITH w AS (
        |  SELECT o_custkey, date_trunc('month', o_orderdate)::DATE AS date, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey, date_trunc('month', o_orderdate)
        |                            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders),
        |m AS (SELECT o_custkey AS symbol, date, o_totalprice AS price FROM w WHERE rn = 1),
        |l AS (SELECT symbol, date, price,
        |             lag(price) OVER (PARTITION BY symbol ORDER BY date) AS prev_price
        |      FROM m)
        |SELECT symbol, date, price,
        |       CASE WHEN prev_price <> 0 THEN (price - prev_price) / prev_price * 100 END AS pct_change
        |FROM l""".stripMargin,
    "q_dedup_rate" ->
      """SELECT count(*) AS n_docs, count(DISTINCT md5(text)) AS n_distinct,
        |       count(DISTINCT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))) AS n_distinct_norm,
        |       CASE WHEN count(*) > 0
        |            THEN 1.0 - count(DISTINCT md5(text))::DOUBLE / count(*)::DOUBLE END AS dup_ratio
        |FROM documents""".stripMargin,
    "q_embedding_stats" ->
      """SELECT count(*) AS n_vectors, min(len(embedding)) AS min_dim, max(len(embedding)) AS max_dim,
        |       CAST(sum(CAST(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS DECIMAL(18,6))) AS DOUBLE) AS total_norm
        |FROM embeddings""".stripMargin,
    "q_text_stats" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |         list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS w
        |  FROM documents)
        |SELECT doc_id, length(text)::BIGINT AS n_chars,
        |       len(w)::BIGINT AS n_tokens,
        |       len(list_distinct(w))::BIGINT AS uniq_tokens,
        |       CASE WHEN len(w) > 0
        |            THEN length(regexp_replace(text, '\s+', '', 'g'))::DOUBLE / len(w)::DOUBLE END
        |         AS avg_token_len,
        |       CASE WHEN length(text) > 0
        |            THEN len(regexp_extract_all(text, '[.,;:!?]'))::DOUBLE / length(text)::DOUBLE END AS punct_ratio
        |FROM t""".stripMargin,
    "q_token_count" ->
      """SELECT doc_id,
        |       len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> ''))::BIGINT AS ws_tokens,
        |       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))::BIGINT AS bpe_tokens
        |FROM documents""".stripMargin,
    "q_lang_id" ->
      """WITH s AS (
        |  SELECT doc_id, lang,
        |         len(regexp_extract_all(lower(text), '\b(the|and|of|is)\b')) AS en,
        |         len(regexp_extract_all(lower(text), '\b(der|und|die|das)\b')) AS de,
        |         len(regexp_extract_all(lower(text), '\b(le|la|et|les)\b')) AS fr,
        |         len(regexp_extract_all(lower(text), '\b(el|los|que|una)\b')) AS es
        |  FROM documents)
        |SELECT doc_id,
        |       CASE WHEN en >= de AND en >= fr AND en >= es THEN 'en'
        |            WHEN de >= fr AND de >= es THEN 'de'
        |            WHEN fr >= es THEN 'fr' ELSE 'es' END AS pred_lang,
        |       (CASE WHEN en >= de AND en >= fr AND en >= es THEN 'en'
        |             WHEN de >= fr AND de >= es THEN 'de'
        |             WHEN fr >= es THEN 'fr' ELSE 'es' END) = lang AS is_match
        |FROM s""".stripMargin,
    "q_quality_score" ->
      """WITH s AS (
        |  SELECT doc_id,
        |         len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> ''))::DOUBLE AS n_tokens,
        |         CASE WHEN length(text) > 0
        |              THEN len(regexp_extract_all(text, '[.,;:!?]'))::DOUBLE / length(text)::DOUBLE END AS punct_ratio,
        |         CASE WHEN len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) > 0
        |              THEN len(regexp_extract_all(lower(text), '\b(the|and|of|is|to|in|a)\b'))::DOUBLE
        |                / len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> ''))::DOUBLE END
        |           AS stopword_ratio
        |  FROM documents)
        |SELECT doc_id, n_tokens::BIGINT AS n_tokens, punct_ratio, stopword_ratio,
        |       0.4 * least(1.0, n_tokens / 100.0)
        |       + 0.3 * (1.0 - least(1.0, punct_ratio * 10.0))
        |       + 0.3 * least(1.0, stopword_ratio * 5.0) AS quality
        |FROM s""".stripMargin,
    // mirror of qGopherRules: same plants, every threshold an integer
    // cross-multiplication (no float division anywhere on either engine)
    "q_gopher_rules" ->
      raw"""WITH b AS (SELECT doc_id, coalesce(
        |    text || CASE WHEN doc_id % 31 = 0
        |                 THEN ' the cat must be close to all of them and that they have fun with it'
        |                 ELSE '' END
        |         || CASE WHEN doc_id % 37 = 0
        |                 THEN ' ######### ... ... ... ... ############' ELSE '' END
        |         || CASE WHEN doc_id % 41 = 0
        |                 THEN chr(10) || '- a' || chr(10) || '- b' || chr(10) || '- c' ||
        |                      chr(10) || '- d' || chr(10) || '- e' || chr(10) || '- f' ||
        |                      chr(10) || '- g' || chr(10) || '- h' || chr(10) || '- i' ||
        |                      chr(10) || '- j' ELSE '' END
        |         || CASE WHEN doc_id % 43 = 0
        |                 THEN chr(10) || 'well...' || chr(10) || 'so...' || chr(10) ||
        |                      'hmm...' || chr(10) || 'yes...' || chr(10) || 'no...'
        |                 ELSE '' END, '') AS t
        |  FROM documents),
        |c AS (SELECT doc_id,
        |  len(list_filter(regexp_split_to_array(trim(t), '\s+'), x -> x <> ''))::BIGINT AS n_words,
        |  length(regexp_replace(t, '\s+', '', 'g'))::BIGINT AS wc,
        |  len(regexp_extract_all(t, '#'))::BIGINT AS hsh,
        |  len(regexp_extract_all(t, '\.\.\.'))::BIGINT AS esym,
        |  len(regexp_split_to_array(t, '\n'))::BIGINT AS n_lines,
        |  len(list_filter(regexp_split_to_array(t, '\n'), l -> regexp_matches(l, '^\s*[-*•]')))::BIGINT AS bullet,
        |  len(list_filter(regexp_split_to_array(t, '\n'), l -> regexp_matches(l, '\.\.\.\s*$$')))::BIGINT AS ell,
        |  len(list_filter(list_filter(regexp_split_to_array(trim(t), '\s+'), x -> x <> ''),
        |                  x -> regexp_matches(x, '[A-Za-z]')))::BIGINT AS alpha,
        |  ((CASE WHEN regexp_matches(lower(t), '\bthe\b') THEN 1 ELSE 0 END)
        |   + (CASE WHEN regexp_matches(lower(t), '\bbe\b') THEN 1 ELSE 0 END)
        |   + (CASE WHEN regexp_matches(lower(t), '\bto\b') THEN 1 ELSE 0 END)
        |   + (CASE WHEN regexp_matches(lower(t), '\bof\b') THEN 1 ELSE 0 END)
        |   + (CASE WHEN regexp_matches(lower(t), '\band\b') THEN 1 ELSE 0 END)
        |   + (CASE WHEN regexp_matches(lower(t), '\bthat\b') THEN 1 ELSE 0 END)
        |   + (CASE WHEN regexp_matches(lower(t), '\bhave\b') THEN 1 ELSE 0 END)
        |   + (CASE WHEN regexp_matches(lower(t), '\bwith\b') THEN 1 ELSE 0 END))::BIGINT AS stops
        |  FROM b)
        |SELECT doc_id, n_words,
        |  n_words >= 50 AND n_words <= 100000 AS r_word_count,
        |  3 * n_words <= wc AND wc <= 10 * n_words AS r_mean_word_len,
        |  hsh * 10 <= n_words AND esym * 10 <= n_words AS r_symbol_ratio,
        |  bullet * 10 <= n_lines * 9 AS r_bullet_lines,
        |  ell * 10 <= n_lines * 3 AS r_ellipsis_lines,
        |  alpha * 5 >= n_words * 4 AS r_alpha_words,
        |  stops >= 2 AS r_stopwords,
        |  (n_words >= 50 AND n_words <= 100000) AND (3 * n_words <= wc AND wc <= 10 * n_words)
        |    AND hsh * 10 <= n_words AND esym * 10 <= n_words AND bullet * 10 <= n_lines * 9
        |    AND ell * 10 <= n_lines * 3 AND alpha * 5 >= n_words * 4 AND stops >= 2 AS pass
        |FROM c""".stripMargin,
    // mirror of qGopherRepetition: same plants; dup-window coverage replayed
    // by position arithmetic (token i covered iff some dup window j spans it);
    // top-n-gram only over REPEATED grams; gate via the same integer
    // cross-multiplications (engine semantics: token-chars, separators excluded)
    "q_gopher_repetition" ->
      raw"""WITH d AS (SELECT doc_id, coalesce(
        |    text || CASE WHEN doc_id % 23 = 0
        |                 THEN chr(10) || repeat('zig zag zug repeated line' || chr(10), 6)
        |                 ELSE '' END
        |         || CASE WHEN doc_id % 29 = 0
        |                 THEN repeat(chr(10) || chr(10) || 'the same paragraph appears again', 5)
        |                 ELSE '' END
        |         || CASE WHEN doc_id % 31 = 0 THEN repeat(' foo bar', 60) ELSE '' END
        |         || CASE WHEN doc_id % 37 = 0 THEN repeat(' one two three', 40) ELSE '' END
        |         || CASE WHEN doc_id % 41 = 0 THEN repeat(' quad gram test word', 30) ELSE '' END
        |         || CASE WHEN doc_id % 43 = 0
        |                 THEN repeat(' alpha bravo charlie delta echo foxtrot golf hotel india juliet', 8)
        |                 ELSE '' END, '') AS text
        |  FROM documents),
        |base AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), ' '), x -> x <> '') AS w,
        |    list_filter(list_transform(string_split(text, chr(10)), x -> trim(x, ' ' || chr(9) || chr(13))), x -> x <> '') AS lns,
        |    list_filter(list_transform(string_split(text, chr(10) || chr(10)), x -> trim(x, ' ' || chr(9) || chr(13) || chr(10))), x -> x <> '') AS prs
        |  FROM d),
        |tot AS (
        |  SELECT doc_id,
        |    coalesce(list_sum(list_transform(w, x -> length(x)::BIGINT)), 0)::BIGINT AS wtot,
        |    len(w)::BIGINT AS wn,
        |    coalesce(list_sum(list_transform(lns, x -> length(x)::BIGINT)), 0)::BIGINT AS ltot,
        |    len(lns)::BIGINT AS ln_n, len(list_distinct(lns))::BIGINT AS ln_d,
        |    coalesce(list_sum(list_transform(prs, x -> length(x)::BIGINT)), 0)::BIGINT AS ptot,
        |    len(prs)::BIGINT AS pr_n, len(list_distinct(prs))::BIGINT AS pr_d
        |  FROM base),
        |lrep AS (
        |  SELECT doc_id, sum((c - 1) * length(l))::BIGINT AS lrep FROM (
        |    SELECT doc_id, l, count(*) AS c
        |    FROM (SELECT doc_id, unnest(lns) AS l FROM base) GROUP BY 1, 2)
        |  GROUP BY 1),
        |prep AS (
        |  SELECT doc_id, sum((c - 1) * length(pp))::BIGINT AS prep FROM (
        |    SELECT doc_id, pp, count(*) AS c
        |    FROM (SELECT doc_id, unnest(prs) AS pp FROM base) GROUP BY 1, 2)
        |  GROUP BY 1),
        |ng0 AS (
        |  SELECT b.doc_id, ns.n AS n,
        |    unnest(CASE WHEN len(b.w) >= ns.n
        |      THEN [{'j': i, 'g': array_to_string(b.w[i:i+ns.n-1], ' ')} for i in range(1, len(b.w) - ns.n + 2)]
        |      ELSE [] END) AS u
        |  FROM base b, (VALUES (2),(3),(4),(5),(6),(7),(8),(9),(10)) AS ns(n)),
        |ng AS (SELECT doc_id, n, u.j AS j, u.g AS g FROM ng0),
        |gtop AS (
        |  SELECT doc_id, n,
        |    max(CASE WHEN c > 1 THEN c * (length(g) - (n - 1)) END)::BIGINT AS top_chars
        |  FROM (SELECT doc_id, n, g, count(*) AS c FROM ng WHERE n <= 4 GROUP BY 1, 2, 3)
        |  GROUP BY 1, 2),
        |dupw AS (
        |  SELECT doc_id, n, j FROM (
        |    SELECT doc_id, n, j, count(*) OVER (PARTITION BY doc_id, n, g) AS c
        |    FROM ng WHERE n >= 5)
        |  WHERE c > 1),
        |covidx AS (
        |  SELECT DISTINCT doc_id, n, i FROM (
        |    SELECT doc_id, n, j + unnest(range(0, n)) AS i FROM dupw)),
        |cov AS (
        |  SELECT c.doc_id, c.n, sum(length(b.w[c.i]))::BIGINT AS cov_chars
        |  FROM covidx c JOIN base b USING (doc_id) GROUP BY 1, 2),
        |piv AS (
        |  SELECT t.doc_id, wtot, wn, ltot, ln_n, ln_d, ptot, pr_n, pr_d,
        |    coalesce(lr.lrep, 0) AS lrep, coalesce(pr2.prep, 0) AS prep,
        |    coalesce(max(CASE WHEN g.n = 2 THEN g.top_chars END), 0) AS top2,
        |    coalesce(max(CASE WHEN g.n = 3 THEN g.top_chars END), 0) AS top3,
        |    coalesce(max(CASE WHEN g.n = 4 THEN g.top_chars END), 0) AS top4,
        |    coalesce(max(CASE WHEN c.n = 5 THEN c.cov_chars END), 0) AS cov5,
        |    coalesce(max(CASE WHEN c.n = 6 THEN c.cov_chars END), 0) AS cov6,
        |    coalesce(max(CASE WHEN c.n = 7 THEN c.cov_chars END), 0) AS cov7,
        |    coalesce(max(CASE WHEN c.n = 8 THEN c.cov_chars END), 0) AS cov8,
        |    coalesce(max(CASE WHEN c.n = 9 THEN c.cov_chars END), 0) AS cov9,
        |    coalesce(max(CASE WHEN c.n = 10 THEN c.cov_chars END), 0) AS cov10
        |  FROM tot t
        |  LEFT JOIN lrep lr USING (doc_id) LEFT JOIN prep pr2 USING (doc_id)
        |  LEFT JOIN gtop g USING (doc_id) LEFT JOIN cov c USING (doc_id)
        |  GROUP BY ALL)
        |SELECT doc_id,
        |  CASE WHEN ln_n > 0 THEN (ln_n - ln_d)::DOUBLE / ln_n END AS dup_line_frac,
        |  CASE WHEN ln_n > 0 THEN lrep::DOUBLE / ltot END AS dup_line_char_frac,
        |  CASE WHEN pr_n > 0 THEN (pr_n - pr_d)::DOUBLE / pr_n END AS dup_para_frac,
        |  CASE WHEN pr_n > 0 THEN prep::DOUBLE / ptot END AS dup_para_char_frac,
        |  CASE WHEN wn >= 2 THEN top2::DOUBLE / wtot END AS top_2gram_char_frac,
        |  CASE WHEN wn >= 3 THEN top3::DOUBLE / wtot END AS top_3gram_char_frac,
        |  CASE WHEN wn >= 4 THEN top4::DOUBLE / wtot END AS top_4gram_char_frac,
        |  CASE WHEN wn >= 5 THEN cov5::DOUBLE / wtot END AS dup_5gram_char_frac,
        |  CASE WHEN wn >= 6 THEN cov6::DOUBLE / wtot END AS dup_6gram_char_frac,
        |  CASE WHEN wn >= 7 THEN cov7::DOUBLE / wtot END AS dup_7gram_char_frac,
        |  CASE WHEN wn >= 8 THEN cov8::DOUBLE / wtot END AS dup_8gram_char_frac,
        |  CASE WHEN wn >= 9 THEN cov9::DOUBLE / wtot END AS dup_9gram_char_frac,
        |  CASE WHEN wn >= 10 THEN cov10::DOUBLE / wtot END AS dup_10gram_char_frac,
        |  (coalesce((ln_n - ln_d) * 10 > ln_n * 3, false) OR coalesce(lrep * 5 > ltot, false)
        |   OR coalesce((pr_n - pr_d) * 10 > pr_n * 3, false) OR coalesce(prep * 5 > ptot, false)
        |   OR coalesce(top2 * 5 > wtot, false) OR coalesce(top3 * 50 > wtot * 9, false)
        |   OR coalesce(top4 * 25 > wtot * 4, false)
        |   OR coalesce(cov5 * 20 > wtot * 3, false) OR coalesce(cov6 * 50 > wtot * 7, false)
        |   OR coalesce(cov7 * 100 > wtot * 13, false) OR coalesce(cov8 * 25 > wtot * 3, false)
        |   OR coalesce(cov9 * 100 > wtot * 11, false) OR coalesce(cov10 * 10 > wtot, false))
        |    AS is_repetitive
        |FROM piv""".stripMargin,
    "q_classifier_train" -> classifierTrainOracle,
    // SHARED: stats-fold training must reproduce the from-scratch fit
    // (mergeCentroidStats losslessness proof)
    "q_classifier_incremental" -> classifierTrainOracle,
    "q_classifier_filter" -> classifierFilterOracle,
    "q_classifier_apply" -> classifierApplyOracle,
    "q_calibrate_scores" -> calibrateScoresOracle,
    "q_label_noise" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
        |n AS (SELECT vec_id, v, label, sqrt(list_dot_product(v, v)) AS nrm FROM v),
        |j AS (SELECT a.vec_id AS probe_id, a.label AS pl, b.vec_id AS nid, b.label AS nl,
        |             CASE WHEN a.nrm * b.nrm > 0
        |                  THEN list_dot_product(a.v, b.v) / (a.nrm * b.nrm) END AS sim
        |      FROM n a JOIN n b ON a.vec_id <> b.vec_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, nid) AS rank
        |      FROM j WHERE sim IS NOT NULL),
        |t AS (SELECT * FROM r WHERE rank <= 5)
        |SELECT probe_id AS vec_id, pl::INT AS label,
        |       count(*)::BIGINT AS n_neighbors,
        |       sum(CASE WHEN nl <> pl THEN 1 ELSE 0 END)::BIGINT AS n_disagree,
        |       sum(CASE WHEN nl <> pl THEN 1 ELSE 0 END) * 2 > count(*) AS is_suspect
        |FROM t GROUP BY 1, 2""".stripMargin,
    "q_nearest_centroid" -> nearestCentroidOracle,
    "q_doc_fingerprint" ->
      """SELECT doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint,
        |       length(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))::BIGINT AS norm_len
        |FROM documents""".stripMargin,
    "q_exact_dedup" ->
      """SELECT md5(text) AS fingerprint, min(doc_id) AS keeper_id, count(*) AS n_dupes
        |FROM documents GROUP BY 1""".stripMargin,
    // char-unigram entropy in micro-nats: per-(doc, char) counts round
    // c·ln(c)·1e6 to BIGINT BEFORE summing (longs cross rows, doubles
    // never), then H = ln(n) − Σ/n with truncating division — the exact
    // integer identity the in-row Spark fold computes
    "q_char_entropy" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) > 0),
        |pos AS (SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS i FROM d),
        |ch AS (SELECT doc_id, substr(text, i::INTEGER, 1) AS ch FROM pos),
        |c AS (SELECT doc_id, ch, count(*)::BIGINT AS c FROM ch GROUP BY 1, 2),
        |agg AS (SELECT doc_id,
        |               sum(c)::BIGINT AS n_chars_seen,
        |               count(*)::BIGINT AS n_unique_chars,
        |               sum(round(c::DOUBLE * ln(c::DOUBLE) * 1000000.0)::BIGINT)::BIGINT AS sum_fp
        |        FROM c GROUP BY 1)
        |SELECT doc_id, n_chars_seen, n_unique_chars,
        |       round(ln(n_chars_seen::DOUBLE) * 1000000.0)::BIGINT - sum_fp // n_chars_seen
        |         AS entropy_fp,
        |       (round(ln(n_chars_seen::DOUBLE) * 1000000.0)::BIGINT - sum_fp // n_chars_seen)
        |         < 2500000 AS is_low_entropy
        |FROM agg""".stripMargin,
    "q_tfidf_top_terms" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         unnest(regexp_split_to_array(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks WHERE term <> '' GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |r AS (SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
        |             row_number() OVER (PARTITION BY tf.doc_id
        |                                ORDER BY tf.tf DESC, dfreq.df ASC, tf.term) AS rank
        |      FROM tf JOIN dfreq USING (term))
        |SELECT doc_id, term, tf, df, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 3""".stripMargin,
    "q_bigram_counts" ->
      """WITH t AS (
        |  SELECT regexp_split_to_array(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
        |  FROM documents),
        |g AS (SELECT unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS bigram
        |      FROM t WHERE len(w) >= 2)
        |SELECT bigram, count(*) AS n FROM g GROUP BY 1 ORDER BY n DESC, bigram LIMIT 100""".stripMargin,
    "q_pii_scrub" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 7 = 0
        |              THEN text || ' contact: user' || doc_id::VARCHAR || '@example.com or 555-123-4567'
        |              ELSE text END AS t
        |  FROM documents),
        |s AS (SELECT doc_id, t,
        |             regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g') AS es
        |      FROM aug),
        |s2 AS (SELECT doc_id, t, es,
        |              regexp_replace(es, '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '[PHONE]', 'g') AS scrubbed
        |       FROM s)
        |SELECT doc_id,
        |       len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
        |       len(regexp_extract_all(es, '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b'))::BIGINT AS n_phones,
        |       md5(scrubbed) AS scrub_sig,
        |       length(scrubbed)::BIGINT AS scrub_len
        |FROM s2""".stripMargin,
    // GROUND-TRUTH oracle, not a replay: the engine wraps text in a full
    // page (script with raw < > &&, nav/footer chrome, entity-escaped
    // body) and must extract back exactly the visible text the template
    // carries — which the oracle derives from the clean documents table
    "q_html_extract" ->
      raw"""SELECT doc_id,
        |       trim('Doc ' || doc_id::VARCHAR || ' ' || trim(regexp_replace(text, '\s+', ' ', 'g'))) AS text_out,
        |       3::BIGINT AS n_links
        |FROM documents""".stripMargin,
    // the C4 plant concatenation replayed in the engine's order, then the
    // line filter (terminal punct + >=5 words + no javascript) and page
    // rules (sentence minimum on RETAINED text; brace/lorem/bad-word on
    // the RAW page) step for step
    "q_c4_rules" ->
      raw"""WITH b AS (SELECT doc_id, coalesce(text
        |  || CASE WHEN doc_id % 7 = 0 THEN
        |       chr(10) || 'The quick brown fox jumps over the lazy dog today.' ||
        |       chr(10) || 'It was a bright cold day in April and the clocks were striking one.' ||
        |       chr(10) || 'Where is the small key that opens the heavy door now?' ELSE '' END
        |  || CASE WHEN doc_id % 11 = 0 THEN
        |       chr(10) || 'Please enable javascript to view this page properly today.' ELSE '' END
        |  || CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'Short line here.' ELSE '' END
        |  || CASE WHEN doc_id % 17 = 0 THEN ' lorem ipsum dolor' ELSE '' END
        |  || CASE WHEN doc_id % 19 = 0 THEN ' if (x) { return; }' ELSE '' END
        |  || CASE WHEN doc_id % 23 = 0 THEN
        |       chr(10) || 'This testpage contains craptastic material for screening purposes.' ELSE '' END,
        |  '') AS t FROM documents),
        |k AS (SELECT doc_id, t,
        |  len(regexp_split_to_array(t, '\n'))::BIGINT AS n_lines,
        |  list_filter(regexp_split_to_array(t, '\n'),
        |    x -> regexp_matches(x, '[.!?"”]\s*$$')
        |         AND len(list_filter(regexp_split_to_array(trim(x), '\s+'), w -> w <> '')) >= 5
        |         AND NOT contains(lower(x), 'javascript')) AS kept
        |  FROM b),
        |c AS (SELECT doc_id, t, n_lines, len(kept)::BIGINT AS n_kept_lines,
        |  coalesce(array_to_string(kept, chr(10)), '') AS clean FROM k),
        |r AS (SELECT doc_id, n_lines, n_kept_lines,
        |  len(regexp_extract_all(clean, '[.!?]'))::BIGINT AS n_sentences,
        |  NOT regexp_matches(t, '[{}]') AS r_no_brace,
        |  NOT contains(lower(t), 'lorem ipsum') AS r_no_lorem,
        |  NOT regexp_matches(lower(t), '\b(craptastic|obscenex)\b') AS r_no_badword,
        |  clean AS text_out FROM c)
        |SELECT doc_id, n_lines, n_kept_lines, n_sentences,
        |  n_sentences >= 3 AS r_min_sentences, r_no_brace, r_no_lorem, r_no_badword,
        |  (n_sentences >= 3 AND r_no_brace AND r_no_lorem AND r_no_badword) AS pass,
        |  text_out
        |FROM r""".stripMargin,
    // URL plant + the six canonicalization steps replayed verbatim
    // (fragment, scheme/host lowercase, default-port drop, www. strip,
    // trailing-slash drop, tracking-param drop + bytewise param sort)
    "q_url_normalize" ->
      raw"""WITH b AS (SELECT doc_id,
        |  (CASE WHEN doc_id % 4 = 0 THEN 'HTTP://' ELSE 'HTTPS://' END)
        |  || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)
        |  || 'Site' || (doc_id % 5)::VARCHAR || '.Example.COM'
        |  || (CASE WHEN doc_id % 4 = 0 THEN ':80'
        |           WHEN doc_id % 6 = 0 THEN ':8443' ELSE ':443' END)
        |  || '/Path/' || (doc_id % 7)::VARCHAR
        |  || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END)
        |  || (CASE WHEN doc_id % 8 = 0 THEN ''
        |           ELSE '?utm_source=feed&z=9&id=' || (doc_id % 13)::VARCHAR
        |                || '&utm_campaign=x&a=2&ref=tw' END)
        |  || '#sec' || doc_id::VARCHAR AS url FROM documents),
        |s1 AS (SELECT doc_id, regexp_replace(trim(url), '#.*$$', '') AS u FROM b),
        |s2 AS (SELECT doc_id,
        |  lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |  regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest FROM s1),
        |s3 AS (SELECT doc_id, scheme,
        |  lower(regexp_extract(rest, '^([^/?]*)', 1)) AS hostport,
        |  regexp_replace(rest, '^[^/?]*', '') AS tail FROM s2),
        |s4 AS (SELECT doc_id, scheme, tail,
        |  regexp_replace(regexp_replace(hostport, ':[0-9]+$$', ''), '^www\.', '') AS host,
        |  regexp_extract(hostport, ':([0-9]+)$$', 1) AS port FROM s3),
        |s5 AS (SELECT doc_id, scheme, host, port, tail,
        |  port <> '' AND NOT ((scheme = 'http' AND port = '80')
        |                      OR (scheme = 'https' AND port = '443')) AS keep_port,
        |  regexp_extract(tail, '^([^?]*)', 1) AS path0,
        |  CASE WHEN contains(tail, '?') THEN regexp_extract(tail, '\?(.*)$$', 1)
        |       ELSE '' END AS query0 FROM s4),
        |s6 AS (SELECT doc_id, scheme, host, port, keep_port,
        |  CASE WHEN path0 = '' OR path0 = '/' THEN '/'
        |       ELSE regexp_replace(path0, '/$$', '') END AS path_canon,
        |  list_filter(string_split(query0, '&'), p -> p <> '') AS params FROM s5),
        |s7 AS (SELECT doc_id, scheme, host, port, keep_port, path_canon, params,
        |  list_sort(list_filter(params, p -> NOT regexp_matches(
        |    regexp_extract(p, '^([^=]*)', 1),
        |    '^(utm_[A-Za-z0-9_]*|gclid|fbclid|ref|mc_eid)$$'))) AS kept FROM s6),
        |s8 AS (SELECT doc_id, scheme, path_canon, params, kept,
        |  CASE WHEN keep_port THEN host || ':' || port ELSE host END AS host_canon,
        |  coalesce(array_to_string(kept, '&'), '') AS query_canon,
        |  string_split(host, '.') AS labels, host FROM s7)
        |SELECT doc_id,
        |  scheme || '://' || host_canon || path_canon
        |    || CASE WHEN query_canon <> '' THEN '?' || query_canon ELSE '' END AS url_canon,
        |  host_canon AS host,
        |  CASE WHEN len(labels) >= 2 THEN labels[-2] || '.' || labels[-1]
        |       ELSE host END AS domain,
        |  path_canon, query_canon,
        |  len(kept)::BIGINT AS n_params_kept,
        |  (len(params) - len(kept))::BIGINT AS n_params_dropped
        |FROM s8""".stripMargin,
    // the unicode plant rebuilt from chr() codepoints, then DuckDB's own
    // utf8proc NFC + the two mirrored regex passes; lengths are codepoint
    // counts on both engines
    "q_text_normalize" ->
      raw"""WITH b AS (SELECT doc_id, coalesce(text
        |  || CASE WHEN doc_id % 7 = 0 THEN ' cafe' || chr(769) || ' items' ELSE '' END
        |  || CASE WHEN doc_id % 11 = 0 THEN ' A' || chr(778) || ' unit ' || chr(8486) || ' ohm' ELSE '' END
        |  || CASE WHEN doc_id % 13 = 0 THEN ' x' || chr(160) || 'y' ELSE '' END
        |  || CASE WHEN doc_id % 17 = 0 THEN ' z' || chr(8203) || 'w' || chr(65279) ELSE '' END
        |  || CASE WHEN doc_id % 19 = 0 THEN ' a' || chr(1) || 'b' || chr(127) || 'c' ELSE '' END,
        |  '') AS t FROM documents),
        |n AS (SELECT doc_id, t,
        |  regexp_replace(regexp_replace(nfc_normalize(t),
        |    '[\x{00A0}\x{2007}\x{202F}]', ' ', 'g'),
        |    '[\x{200B}-\x{200D}\x{FEFF}\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g') AS clean
        |  FROM b)
        |SELECT doc_id, clean AS text_norm,
        |  length(t)::BIGINT AS n_chars_before,
        |  length(clean)::BIGINT AS n_chars_after,
        |  clean <> t AS changed
        |FROM n""".stripMargin,
    // GROUND-TRUTH oracle: the expected repaired text is stated from the
    // plant arithmetic (chr() codepoints), never by replaying the fixer —
    // r1 single-mojibake repairs in 1 round, r2 double in 2, r3 genuine
    // accents and r5 CJK must come back UNTOUCHED, r4 curly quote in 1
    "q_fix_mojibake" ->
      raw"""WITH b AS (SELECT doc_id, text, coalesce(text
        |  || CASE WHEN doc_id % 10 = 1 THEN ' caf' || chr(195) || chr(169) || ' one' ELSE '' END
        |  || CASE WHEN doc_id % 10 = 2 THEN ' caf' || chr(195) || chr(402) || chr(194) || chr(169) || ' two' ELSE '' END
        |  || CASE WHEN doc_id % 10 = 3 THEN ' caf' || chr(233) || ' three' ELSE '' END
        |  || CASE WHEN doc_id % 10 = 4 THEN ' it' || chr(226) || chr(8364) || chr(8482) || 's four' ELSE '' END
        |  || CASE WHEN doc_id % 10 = 5 THEN ' ' || chr(20013) || ' five' ELSE '' END,
        |  '') AS t FROM documents)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 10 = 1 THEN text || ' caf' || chr(233) || ' one'
        |       WHEN doc_id % 10 = 2 THEN text || ' caf' || chr(233) || ' two'
        |       WHEN doc_id % 10 = 4 THEN text || ' it' || chr(8217) || 's four'
        |       ELSE t END AS text_fixed,
        |  doc_id % 10 IN (1, 2, 4) AS changed,
        |  (CASE WHEN doc_id % 10 = 1 THEN 1 WHEN doc_id % 10 = 2 THEN 2
        |        WHEN doc_id % 10 = 4 THEN 1 ELSE 0 END)::BIGINT AS n_rounds
        |FROM b""".stripMargin,
    // sentence extraction, 3-windows and the md5-keyed keeper window
    // replayed step for step (the plant concat in the engine's order)
    "q_sentence_span_dedup" ->
      raw"""WITH b AS (SELECT doc_id, coalesce(text
        |  || CASE WHEN doc_id % 9 = 0 THEN chr(10) ||
        |       'Alpha beta gamma delta. Epsilon zeta eta theta. Iota kappa lambda mu. Nu xi omicron pi.'
        |     WHEN doc_id % 9 = 3 THEN chr(10) ||
        |       'Rho sigma tau upsilon. Phi chi psi omega. Rho sigma tau upsilon. Phi chi psi omega. Rho sigma tau upsilon. Phi chi psi omega.'
        |     WHEN doc_id % 9 = 6 THEN chr(10) || 'One two. Three four.'
        |     ELSE '' END, '') AS t FROM documents),
        |s AS (SELECT doc_id,
        |  list_filter(list_transform(regexp_extract_all(t, '[^.!?]+[.!?]'), x -> trim(x)),
        |              x -> x <> '') AS ss FROM b),
        |f AS (SELECT doc_id, ss FROM s WHERE len(ss) >= 3),
        |u AS (SELECT doc_id, ss, unnest(range(1, len(ss) - 1)) AS i FROM f),
        |sp AS (SELECT doc_id, (i - 1)::BIGINT AS span_idx,
        |              md5(array_to_string(ss[i:i+2], ' ')) AS span_md5 FROM u),
        |k AS (SELECT doc_id, span_idx, span_md5,
        |  first_value(doc_id) OVER w AS keeper_id,
        |  first_value(span_idx) OVER w AS keeper_idx
        |  FROM sp WINDOW w AS (PARTITION BY span_md5 ORDER BY doc_id, span_idx
        |                       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
        |SELECT doc_id, span_idx, span_md5, keeper_id, keeper_idx,
        |  (keeper_id <> doc_id OR keeper_idx <> span_idx) AS is_dup
        |FROM k""".stripMargin,
    // GROUND TRUTH: the page construction fixes every anchor, so the
    // expected (idx, href) rows are pure doc_id arithmetic
    "q_html_links" ->
      raw"""SELECT doc_id, i::BIGINT AS link_idx,
        |  CASE i WHEN 0 THEN '/'
        |         WHEN 1 THEN '/about'
        |         WHEN 2 THEN 'https://site' || (doc_id % 5)::VARCHAR
        |                     || '.example.com/p/' || (doc_id % 7)::VARCHAR
        |         ELSE '/tos' END AS href
        |FROM (SELECT doc_id, unnest(range(0, 4)) AS i FROM documents)""".stripMargin,
    // mirror of cdcChunkDedup: candidate boundaries where the md5-60 window
    // hash has its low 5 bits zero; the SEQUENTIAL minChunk accept/skip fold
    // replays as a recursive CTE over candidate rank (the ewmaOracle
    // discipline — DuckDB 1.0's list_reduce mis-evaluates a fold whose ELSE
    // branch returns the accumulator unchanged, so the fold must not use it)
    "q_cdc_chunks" -> cdcChunksOracle,
    // mechanism replay: block split at block-level tags, visible-text
    // normalization, per-block anchor-interior link chars, the integer
    // density gate, space-joined signature (coalesce: DuckDB
    // array_to_string([]) is NULL where Spark array_join is '')
    "q_main_content" ->
      raw"""WITH d AS (SELECT doc_id,
        |    '<html><body><nav><a href="/">Home</a> <a href="/a">About us</a> <a href="/c">Contact page</a></nav><div>'
        |    || text ||
        |    '</div><p>Read the <a href="/x">full analysis</a> alongside enough surrounding prose that this paragraph clears the forty character content bar easily.</p><li>short</li><footer><a href="/tos">Terms</a> <a href="/priv">Privacy policy</a> <a href="/img">Imprint</a></footer></body></html>'
        |    AS html
        |  FROM documents),
        |b AS (SELECT doc_id,
        |  list_filter(
        |    list_transform(
        |      regexp_split_to_array(html, '(?i)</?(?:p|div|h[1-6]|li|ul|ol|td|tr|table|article|section|br|nav|header|footer)[^>]*>'),
        |      x -> {'txt': trim(regexp_replace(regexp_replace(x, '<[^>]*>', ' ', 'g'), '\s+', ' ', 'g')),
        |            'lc': coalesce(list_sum(list_transform(
        |                    regexp_extract_all(x, '(?is)<a\b[^>]*>(.*?)</a>', 1),
        |                    a -> length(trim(regexp_replace(regexp_replace(a, '<[^>]*>', ' ', 'g'), '\s+', ' ', 'g'))))), 0)}),
        |    s -> s.txt <> '') AS bs
        |  FROM d),
        |c AS (SELECT doc_id, bs,
        |  list_filter(bs, s -> length(s.txt) >= 40 AND s.lc * 5 <= length(s.txt) * 2) AS cs
        |  FROM b)
        |SELECT doc_id,
        |  len(bs)::BIGINT AS n_blocks,
        |  len(cs)::BIGINT AS n_content_blocks,
        |  coalesce(list_sum(list_transform(cs, s -> length(s.txt)::BIGINT)), 0)::BIGINT AS content_chars,
        |  md5(coalesce(array_to_string(list_transform(cs, s -> s.txt), ' '), '')) AS main_sig,
        |  length(coalesce(array_to_string(list_transform(cs, s -> s.txt), ' '), ''))::BIGINT AS main_len
        |FROM c""".stripMargin,
    // GROUND TRUTH: rule files are constants, so verdict/match_len/prefix
    // derive from (doc_id%5, doc_id%7, doc_id%2) alone — a parser or
    // precedence bug cannot hash-match this
    "q_robots_screen" ->
      raw"""WITH d AS (SELECT doc_id, doc_id % 5 AS k, doc_id % 7 AS s, doc_id % 2 = 0 AS priv
        |  FROM documents),
        |v AS (SELECT doc_id, k, s, priv,
        |  CASE
        |    WHEN k = 0 AND s = 1 AND NOT priv THEN struct_pack(a := true,  l := 12, p := '/sec1/public')
        |    WHEN k = 0 AND s = 1 AND priv     THEN struct_pack(a := false, l := 5,  p := '/sec1')
        |    WHEN k = 0 AND s = 2 AND priv     THEN struct_pack(a := false, l := 13, p := '/sec2/private')
        |    WHEN k = 1 AND s = 3              THEN struct_pack(a := false, l := 5,  p := '/sec3')
        |    WHEN k = 2 AND s = 4              THEN struct_pack(a := false, l := 5,  p := '/sec4')
        |    WHEN k = 4 AND s = 5 AND priv     THEN struct_pack(a := true,  l := 13, p := '/sec5/private')
        |    WHEN k = 4 AND s = 5 AND NOT priv THEN struct_pack(a := false, l := 5,  p := '/sec5')
        |    WHEN k = 4 AND s = 6              THEN struct_pack(a := true,  l := 7,  p := '/sec6/p')
        |    ELSE struct_pack(a := true, l := 0, p := CAST(NULL AS VARCHAR)) END AS m
        |  FROM d)
        |SELECT doc_id,
        |  'site' || k::VARCHAR || '.example.com' AS domain,
        |  '/sec' || s::VARCHAR || CASE WHEN priv THEN '/private/page' ELSE '/public/page' END AS path,
        |  m.a AS allowed, m.l::BIGINT AS match_len, m.p AS matched_prefix
        |FROM v""".stripMargin,
    // extraction + per-candidate Luhn checksum fold, mirrored exactly:
    // position-from-right parity doubles, 2d>9 -> 2d-9, sum % 10 = 0
    "q_luhn_cards" ->
      raw"""WITH d AS (SELECT doc_id,
        |    text || CASE WHEN doc_id % 13 = 0 THEN ' card 4539 1488 0343 6467 on file' ELSE '' END
        |         || CASE WHEN doc_id % 17 = 0 THEN ' order 1234 5678 9012 3456 shipped' ELSE '' END
        |         || CASE WHEN doc_id % 19 = 0 THEN ' pay 4111-1111-1111-1111 now' ELSE '' END AS text
        |  FROM documents),
        |cand AS (SELECT doc_id, u.i - 1 AS cand_idx, u.c AS cand FROM (
        |  SELECT doc_id,
        |         unnest([{'i': i, 'c': cs[i]} for i in range(1, len(cs) + 1)]) AS u
        |  FROM (SELECT doc_id,
        |          regexp_extract_all(text, '\b(?:\d[ -]?){12,18}\d\b') AS cs
        |        FROM d))),
        |dig AS (SELECT doc_id, cand_idx,
        |               list_filter(string_split(cand, ''), x -> x BETWEEN '0' AND '9') AS ds
        |        FROM cand)
        |SELECT doc_id, cand_idx::BIGINT AS cand_idx, len(ds)::BIGINT AS n_digits,
        |       (list_sum([CASE WHEN (len(ds) - i) % 2 = 0 THEN ds[i]::INT
        |                       WHEN ds[i]::INT * 2 > 9 THEN ds[i]::INT * 2 - 9
        |                       ELSE ds[i]::INT * 2 END
        |                  for i in range(1, len(ds) + 1)]) % 10 = 0) AS luhn_ok,
        |       array_to_string(ds[-4:], '') AS last4
        |FROM dig""".stripMargin,
    // SHARED: the two-half token-count fold must reproduce the one-pass fit
    "q_zipf_incremental" -> zipfSlopeOracle,
    "q_zipf_slope" -> zipfSlopeOracle,
    "q_heaps_curve" ->
      raw"""WITH toks AS (SELECT doc_id, unnest(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS token FROM documents),
        |fc AS (SELECT token, min(doc_id) AS first_doc FROM toks GROUP BY 1),
        |pd AS (SELECT doc_id, count(*) AS n_toks FROM toks GROUP BY 1),
        |mx AS (SELECT max(doc_id) AS max_id FROM documents),
        |th AS (SELECT d::BIGINT AS decile, (mx.max_id * d) // 10 AS thr_doc_id FROM mx, range(1, 11) t(d)),
        |v AS (SELECT decile, thr_doc_id, count(*)::BIGINT AS n_vocab
        |      FROM fc, th WHERE fc.first_doc <= th.thr_doc_id GROUP BY 1, 2),
        |m AS (SELECT decile, thr_doc_id, count(*)::BIGINT AS n_docs, sum(n_toks)::BIGINT AS n_tokens
        |      FROM pd, th WHERE pd.doc_id <= th.thr_doc_id GROUP BY 1, 2)
        |SELECT m.decile, m.thr_doc_id, m.n_docs, m.n_tokens, v.n_vocab
        |FROM m JOIN v USING (decile, thr_doc_id)""".stripMargin,

    // SHARED: the two-half carrier fold must reproduce the one-pass marks
    // (mergeCdcCarriers counts-monoid losslessness proof)
    "q_cdc_chunks_incr" -> cdcChunksOracle,
    // GROUND TRUTH from the plant arithmetic (the q_html_links discipline —
    // not a regex replay): every doc contributes Home//about//tos anchors
    // plus one parity-texted site anchor; the per-target argmax and its
    // tie-break ('details' < 'read more') derive from the parity counts
    "q_anchor_text" ->
      raw"""WITH d AS (SELECT doc_id, doc_id % 5 AS k, doc_id % 2 = 0 AS even FROM documents),
        |fixed AS (
        |  SELECT '/' AS target, count(*)::BIGINT AS n_anchors, count(*)::BIGINT AS n_source_docs,
        |         'Home' AS top_anchor, count(*)::BIGINT AS top_anchor_count FROM d
        |  UNION ALL
        |  SELECT '/about', count(*)::BIGINT, count(*)::BIGINT, 'About Us', count(*)::BIGINT FROM d
        |  UNION ALL
        |  SELECT '/tos', count(*)::BIGINT, count(*)::BIGINT, 'Terms', count(*)::BIGINT FROM d),
        |site AS (
        |  SELECT 'https://site' || k::VARCHAR || '.example.com/' AS target,
        |         count(*)::BIGINT AS n_anchors, count(*)::BIGINT AS n_source_docs,
        |         CASE WHEN sum(CASE WHEN even THEN 0 ELSE 1 END) >= sum(CASE WHEN even THEN 1 ELSE 0 END)
        |              THEN 'details' ELSE 'read more' END AS top_anchor,
        |         greatest(sum(CASE WHEN even THEN 0 ELSE 1 END),
        |                  sum(CASE WHEN even THEN 1 ELSE 0 END))::BIGINT AS top_anchor_count
        |  FROM d GROUP BY 1)
        |SELECT * FROM fixed UNION ALL SELECT * FROM site""".stripMargin,
    // the md5 hex-fold 60-bit recipe (the KMV/CMS/simhash hash), then
    // bucket (h div 2) % 16, sign 1-2*(h % 2), signed sums per (doc, dim)
    "q_hash_features" ->
      raw"""WITH t AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS w
        |            FROM documents),
        |tok AS (SELECT doc_id, unnest(w) AS token FROM t),
        |h AS (SELECT doc_id,
        |             list_sum([(strpos('0123456789abcdef', md5(token)[i]) - 1)::BIGINT << (4 * (15 - i))
        |                       for i in range(1, 16)])::BIGINT AS hv
        |      FROM tok)
        |SELECT doc_id, ((hv // 2) % 16)::BIGINT AS dim,
        |       sum(1 - 2 * (hv % 2))::BIGINT AS value,
        |       count(*)::BIGINT AS n_tokens
        |FROM h GROUP BY 1, 2""".stripMargin,
    // vowel-group syllables, terminal-punct sentences and the micro-unit
    // Flesch identity with truncating division, mirrored step for step
    "q_readability" ->
      raw"""WITH b AS (SELECT doc_id, coalesce(text
        |  || CASE WHEN doc_id % 7 = 0 THEN
        |       ' The quick brown fox jumps over the lazy dog today. It was a bright cold day in April. Where is the small key now?'
        |     ELSE '' END, '') AS t FROM documents),
        |c AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(trim(t), '\s+'), x -> x <> '') AS w,
        |  len(regexp_extract_all(t, '[.!?]'))::BIGINT AS ns FROM b),
        |s AS (SELECT doc_id, len(w)::BIGINT AS nw, ns,
        |  coalesce(list_sum([greatest(1, len(regexp_split_to_array(lower(x), '[aeiouy]+')) - 1)
        |                     for x in w]), 0)::BIGINT AS syl
        |  FROM c)
        |SELECT doc_id, nw AS n_words, ns AS n_sentences, syl AS n_syllables,
        |  (CASE WHEN nw > 0 AND ns > 0 THEN
        |     206835000 - ((nw * 1000000) // ns) * 1015 // 1000
        |               - ((syl * 1000000) // nw) * 84600 // 1000
        |   END)::BIGINT AS flesch_fp
        |FROM s""".stripMargin,
    "q_embedding_quantize" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |s AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM v),
        |q AS (SELECT vec_id, len(v)::BIGINT AS n_dims, scale,
        |             list_transform(v, x -> CAST(round(x / (CASE WHEN scale > 0 THEN scale ELSE 1.0 END)) AS BIGINT)) AS qs
        |      FROM s)
        |SELECT vec_id, n_dims, scale,
        |       CAST(list_sum(qs) AS BIGINT) AS q_sum,
        |       len(list_filter(qs, x -> abs(x) >= 127))::BIGINT AS n_sat
        |FROM q""".stripMargin,
    "q_scd2_history" ->
      """WITH w AS (
        |  SELECT user_id, event_type, value, ts, event_id,
        |         lag(value) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS prev,
        |         row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
        |  FROM events),
        |c AS (SELECT * FROM w WHERE rn = 1 OR prev IS DISTINCT FROM value),
        |h AS (SELECT user_id, event_type, value, ts AS valid_from,
        |             lead(ts) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS valid_to
        |      FROM c)
        |SELECT user_id AS symbol, event_type AS asset_type, value AS price,
        |       valid_from, valid_to, valid_to IS NULL AS is_current
        |FROM h""".stripMargin,
    "q_ngram_jaccard_dedup" -> ngramJaccardOracle,
    // same shingle/df-cap/posting scheme as the Jaccard oracle, scored by
    // the asymmetric containment over the truncation-augmented corpus
    "q_containment_dedup" ->
      raw"""WITH aug AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |         array_to_string(w[1:greatest(len(w) // 4, 4)], ' ') AS text
        |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS w
        |        FROM documents WHERE doc_id % 23 = 0)
        |  WHERE len(w) >= 16),
        |t AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS w
        |      FROM aug),
        |g AS (SELECT doc_id,
        |             list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]) AS sh
        |      FROM t WHERE len(w) >= 3),
        |e0 AS (SELECT doc_id, unnest(sh) AS s FROM g),
        |e AS (SELECT doc_id, s FROM e0
        |      WHERE s NOT IN (SELECT s FROM e0 GROUP BY s HAVING count(*) > 100)),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS common
        |      FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |sz AS (SELECT doc_id, len(sh) AS n FROM g)
        |SELECT doc_a, doc_b, common,
        |       common::DOUBLE / least(sa.n, sb.n) AS containment,
        |       common::DOUBLE / (sa.n + sb.n - common) AS jaccard,
        |       CASE WHEN sa.n <= sb.n THEN doc_a ELSE doc_b END AS contained_id
        |FROM p JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
        |WHERE common::DOUBLE / least(sa.n, sb.n) >= 0.9""".stripMargin,
    // SHARED: prefix filtering must restore the full posting-list pair set
    // bit-for-bit (AllPairs candidate-scheme equality proof)
    "q_jaccard_prefix" -> ngramJaccardOracle,
    "q_cross_dedup" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
        |g AS (SELECT doc_id,
        |             list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]) AS sh
        |      FROM t WHERE len(w) >= 3),
        |e0 AS (SELECT doc_id, unnest(sh) AS s FROM g),
        |e AS (SELECT doc_id, s FROM e0
        |      WHERE s NOT IN (SELECT s FROM e0 GROUP BY s HAVING count(*) > 100)),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
        |      FROM e a JOIN e b ON a.s = b.s AND a.doc_id % 2 = 0 AND b.doc_id % 2 = 1 GROUP BY 1, 2),
        |sz AS (SELECT doc_id, len(sh) AS n FROM g)
        |SELECT doc_a, doc_b, common::DOUBLE / (sa.n + sb.n - common) AS jaccard
        |FROM p JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
        |WHERE common::DOUBLE / (sa.n + sb.n - common) >= 0.5""".stripMargin,
    "q_hash_split" ->
      """SELECT doc_id,
        |       CASE WHEN substr(md5(doc_id::VARCHAR), 1, 4) < 'cccd' THEN 'train'
        |            WHEN substr(md5(doc_id::VARCHAR), 1, 4) < 'e666' THEN 'val'
        |            ELSE 'test' END AS bucket
        |FROM documents""".stripMargin,
    "q_stratified_sample" ->
      """WITH r AS (
        |  SELECT doc_id, lang,
        |         row_number() OVER (PARTITION BY lang ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn,
        |         count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents)
        |SELECT doc_id, lang FROM r WHERE rn <= ceil(n * 0.2)""".stripMargin,
    "q_corpus_curation" ->
      s"WITH RECURSIVE $curationCtes\n$curationSelect",
    "q_training_manifest" ->
      raw"""WITH RECURSIVE CTES_HOLE,
        |cur AS (
        |SELECT_HOLE),
        |pt AS (SELECT d.doc_id, (d.doc_id % 8)::BIGINT AS shard,
        |              len(list_filter(regexp_split_to_array(trim(d.text), '\s+'), x -> x <> ''))::BIGINT AS n_tokens
        |       FROM documents d JOIN cur ON d.doc_id = cur.doc_id),
        |cm AS (SELECT doc_id, shard, n_tokens,
        |              sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |       FROM pt)
        |SELECT cm.doc_id, cm.shard, cm.n_tokens,
        |       (cum - cm.n_tokens)::BIGINT AS start_offset,
        |       floor((cum - cm.n_tokens) / 512)::BIGINT AS chunk_first,
        |       floor((cum - 1) / 512)::BIGINT AS chunk_last,
        |       cur.quality
        |FROM cm JOIN cur ON cm.doc_id = cur.doc_id""".stripMargin
        .replace("CTES_HOLE", curationCtes).replace("SELECT_HOLE", curationSelect),
    "q_series_motif" ->
      """WITH ev AS (SELECT user_id, ts, event_id, round(value * 100)::BIGINT AS c FROM events),
        |ser AS (SELECT user_id, list(c ORDER BY ts, event_id) AS s FROM ev GROUP BY 1),
        |sc AS (
        |  SELECT user_id, len(s)::BIGINT AS n_points,
        |         CASE WHEN len(s) >= 8 THEN
        |           list_min([{'d': list_sum([
        |                        (s[off+jj] - ([20000,19000,18000,17000,18000,19000,20000,21000])[jj+1])
        |                      * (s[off+jj] - ([20000,19000,18000,17000,18000,19000,20000,21000])[jj+1])
        |                      for jj in range(0, 8)]),
        |                      'off': off}
        |                     for off in range(1, len(s) - 8 + 2)])
        |         END AS b
        |  FROM ser)
        |SELECT user_id, n_points, (b.d)::BIGINT AS best_dist2, (b.off)::BIGINT AS best_offset
        |FROM sc""".stripMargin,
    "q_mixture_manifest" ->
      raw"""WITH RECURSIVE CTES_HOLE,
        |cur AS (
        |SELECT_HOLE),
        |up AS (
        |  SELECT doc_id, n_tokens, quality * 1.4 AS weight,
        |         ((doc_id % 1000003) * (2654435761 % 1000003) % 1000003) / 1000003.0 AS u
        |  FROM cur),
        |cc AS (
        |  SELECT doc_id, n_tokens,
        |         (floor(weight) + CASE WHEN u < weight - floor(weight) THEN 1 ELSE 0 END)::BIGINT AS n_copies
        |  FROM up),
        |units AS (
        |  SELECT doc_id, n_tokens,
        |         doc_id::VARCHAR || '#' || unnest(range(1, n_copies + 1))::VARCHAR AS unit_id
        |  FROM cc WHERE n_copies >= 1),
        |sh AS (
        |  SELECT doc_id, n_tokens, unit_id, md5('mix:' || unit_id::VARCHAR) AS hx
        |  FROM units),
        |addr AS (
        |  SELECT doc_id, n_tokens,
        |         (('0x' || substr(hx, 1, 8))::BIGINT % 16) AS shard,
        |         row_number() OVER (
        |           PARTITION BY ('0x' || substr(hx, 1, 8))::BIGINT % 16
        |           ORDER BY hx, unit_id) AS pos
        |  FROM sh)
        |SELECT shard, count(*)::BIGINT AS n_units, count(DISTINCT doc_id)::BIGINT AS n_docs,
        |       sum(n_tokens)::BIGINT AS sum_tokens, max(pos)::BIGINT AS max_pos
        |FROM addr GROUP BY 1""".stripMargin
        .replace("CTES_HOLE", curationCtes).replace("SELECT_HOLE", curationSelect),
    // the staged composition's oracle is literally BOTH self-contained
    // oracles' tails over ONE shared curated CTE, union-tagged — hash
    // equality proves the staged pipeline reproduces both products exactly
    "q_curation_manifest_staged" ->
      raw"""WITH RECURSIVE CTES_HOLE,
        |cur AS (
        |SELECT_HOLE),
        |pt AS (SELECT d.doc_id, (d.doc_id % 8)::BIGINT AS shard,
        |              len(list_filter(regexp_split_to_array(trim(d.text), '\s+'), x -> x <> ''))::BIGINT AS n_tokens
        |       FROM documents d JOIN cur ON d.doc_id = cur.doc_id),
        |cm AS (SELECT doc_id, shard, n_tokens,
        |              sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |       FROM pt),
        |man AS (SELECT cm.doc_id, cm.shard, cm.n_tokens,
        |               (cum - cm.n_tokens)::BIGINT AS start_offset,
        |               floor((cum - cm.n_tokens) / 512)::BIGINT AS chunk_first,
        |               floor((cum - 1) / 512)::BIGINT AS chunk_last,
        |               cur.quality
        |        FROM cm JOIN cur ON cm.doc_id = cur.doc_id),
        |up2 AS (
        |  SELECT doc_id, n_tokens, quality * 1.4 AS weight,
        |         ((doc_id % 1000003) * (2654435761 % 1000003) % 1000003) / 1000003.0 AS u
        |  FROM cur),
        |cc2 AS (
        |  SELECT doc_id, n_tokens,
        |         (floor(weight) + CASE WHEN u < weight - floor(weight) THEN 1 ELSE 0 END)::BIGINT AS n_copies
        |  FROM up2),
        |units AS (
        |  SELECT doc_id, n_tokens,
        |         doc_id::VARCHAR || '#' || unnest(range(1, n_copies + 1))::VARCHAR AS unit_id
        |  FROM cc2 WHERE n_copies >= 1),
        |sh2 AS (
        |  SELECT doc_id, n_tokens, unit_id, md5('mix:' || unit_id::VARCHAR) AS hx
        |  FROM units),
        |addr AS (
        |  SELECT doc_id, n_tokens,
        |         (('0x' || substr(hx, 1, 8))::BIGINT % 16) AS shard,
        |         row_number() OVER (
        |           PARTITION BY ('0x' || substr(hx, 1, 8))::BIGINT % 16
        |           ORDER BY hx, unit_id) AS pos
        |  FROM sh2),
        |mix AS (SELECT shard, count(*)::BIGINT AS n_units, count(DISTINCT doc_id)::BIGINT AS n_docs,
        |               sum(n_tokens)::BIGINT AS sum_tokens, max(pos)::BIGINT AS max_pos
        |        FROM addr GROUP BY 1)
        |SELECT 'doc' AS kind, doc_id, shard, n_tokens, start_offset, chunk_first, chunk_last,
        |       quality, NULL::BIGINT AS n_units, NULL::BIGINT AS n_docs,
        |       NULL::BIGINT AS sum_tokens, NULL::BIGINT AS max_pos
        |FROM man
        |UNION ALL
        |SELECT 'shard', NULL::BIGINT, shard, NULL::BIGINT, NULL::BIGINT, NULL::BIGINT,
        |       NULL::BIGINT, NULL::DOUBLE, n_units, n_docs, sum_tokens, max_pos
        |FROM mix""".stripMargin
        .replace("CTES_HOLE", curationCtes).replace("SELECT_HOLE", curationSelect),
    "q_fuzzy_join" ->
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |       levenshtein(a.c_name, b.c_name)::BIGINT AS dist
        |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 1""".stripMargin,
    // `||` not concat: DuckDB concat IGNORES nulls where Spark's
    // null-propagates; `||` null-propagates on both. The 'g' flag makes
    // DuckDB's regexp_replace global like Spark's default.
    "q_pseudonymize" ->
      """SELECT c_custkey, c_mktsegment,
        |       substring(md5('graft-pepper' || c_name), 1, 12) AS c_name_pseudo,
        |       CASE WHEN c_name IS NULL THEN NULL
        |            WHEN length(c_name) <= 4 THEN c_name
        |            ELSE regexp_replace(substring(c_name, 1, length(c_name) - 4),
        |                                '[0-9]', 'X', 'g')
        |                 || substring(c_name, length(c_name) - 3, 4)
        |       END AS c_name_masked
        |FROM customer""".stripMargin,
    "q_l_diversity" ->
      """SELECT c_nationkey, c_mktsegment, count(*) AS class_size,
        |       count(DISTINCT floor(c_acctbal / 2500)::BIGINT) AS distinct_sensitive,
        |       count(DISTINCT floor(c_acctbal / 2500)::BIGINT) >= 4 AS is_diverse
        |FROM customer GROUP BY 1, 2""".stripMargin,
    "q_k_anonymity" ->
      """SELECT c_nationkey, c_mktsegment, count(*) AS class_size,
        |       count(*) >= 12 AS is_safe
        |FROM customer GROUP BY 1, 2""".stripMargin,
    "q_suppress_rare" ->
      """SELECT c_custkey, c_name, c_acctbal,
        |       CASE WHEN cnt < 12 THEN '*' ELSE CAST(c_nationkey AS VARCHAR) END
        |         AS c_nationkey_gen,
        |       CASE WHEN cnt < 12 THEN '*' ELSE c_mktsegment END AS c_mktsegment_gen
        |FROM (SELECT *, count(*) OVER (PARTITION BY c_nationkey, c_mktsegment) AS cnt
        |      FROM customer)""".stripMargin,
    "q_incremental_agg" ->
      """SELECT o_custkey, count(*) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders GROUP BY 1""".stripMargin,
    "q_zorder_layout" -> {
      val terms = (0 until 16).flatMap(i => Seq(
        s"((zx >> $i) & 1) * ${1L << (2 * i)}",
        s"((zy >> $i) & 1) * ${1L << (2 * i + 1)}")).mkString(" + ")
      s"""WITH b AS (
         |  SELECT o_orderkey, o_custkey % 65536 AS zx,
         |         date_diff('day', DATE '1992-01-01', o_orderdate::DATE) % 65536 AS zy
         |  FROM orders),
         |z AS (SELECT o_orderkey, zx, zy, ($terms)::BIGINT AS zval FROM b)
         |SELECT o_orderkey, zx, zy, zval, (zval >> 20)::BIGINT AS ztile FROM z""".stripMargin
    },
    "q_domain_rebalance" -> {
      val vals = ((0 to 4).map(i => s"('src$i', 0.1)") ++
        (5 to 19).map(i => s"('src$i', 1.0/30)")).mkString(", ")
      s"""WITH w(source, tw) AS (VALUES $vals),
         |stats AS (SELECT source, sum(n_chars)::DOUBLE AS sz FROM documents GROUP BY 1),
         |sw AS (SELECT s.source, s.sz, w.tw FROM stats s JOIN w USING (source) WHERE tw > 0),
         |b AS (SELECT min(sz / tw) AS budget FROM sw),
         |frac AS (SELECT source, least(1.0, tw * budget / sz) AS keep_frac FROM sw, b)
         |SELECT d.doc_id, d.source, d.n_chars, f.keep_frac
         |FROM documents d JOIN frac f USING (source)
         |WHERE ((d.doc_id % 1000003) * (2654435761 % 1000003) % 1000003)::DOUBLE / 1000003.0
         |        < f.keep_frac""".stripMargin
    },
    "q_quality_rank" ->
      """WITH s AS (
        |  SELECT doc_id,
        |         len(regexp_extract_all(lower(text), '\b(the|and|of|is)\b')) AS en,
        |         len(regexp_extract_all(lower(text), '\b(der|und|die|das)\b')) AS de,
        |         len(regexp_extract_all(lower(text), '\b(le|la|et|les)\b')) AS fr,
        |         len(regexp_extract_all(lower(text), '\b(el|los|que|una)\b')) AS es
        |  FROM documents),
        |lang AS (SELECT doc_id,
        |                CASE WHEN en >= de AND en >= fr AND en >= es THEN 'en'
        |                     WHEN de >= fr AND de >= es THEN 'de'
        |                     WHEN fr >= es THEN 'fr' ELSE 'es' END AS pred_lang
        |         FROM s),
        |qs AS (
        |  SELECT doc_id,
        |         len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> ''))::DOUBLE AS n_tokens,
        |         CASE WHEN length(text) > 0
        |              THEN len(regexp_extract_all(text, '[.,;:!?]'))::DOUBLE / length(text)::DOUBLE END AS punct_ratio,
        |         CASE WHEN len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) > 0
        |              THEN len(regexp_extract_all(lower(text), '\b(the|and|of|is|to|in|a)\b'))::DOUBLE
        |                / len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> ''))::DOUBLE END
        |           AS stopword_ratio
        |  FROM documents),
        |quality AS (
        |  SELECT doc_id,
        |         0.4 * least(1.0, n_tokens / 100.0)
        |         + 0.3 * (1.0 - least(1.0, punct_ratio * 10.0))
        |         + 0.3 * least(1.0, stopword_ratio * 5.0) AS quality
        |  FROM qs)
        |SELECT q.doc_id, l.pred_lang, q.quality,
        |       percent_rank() OVER (PARTITION BY l.pred_lang ORDER BY q.quality, q.doc_id) AS q_rank
        |FROM quality q JOIN lang l USING (doc_id)""".stripMargin,
    "q_token_rarity" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS token
        |  FROM documents),
        |tk AS (SELECT * FROM toks WHERE token <> ''),
        |f AS (SELECT token, count(*) AS tf FROM tk GROUP BY 1)
        |SELECT tk.doc_id, count(*) AS n_tokens,
        |       count(CASE WHEN f.tf < 5 THEN 1 END) AS n_rare,
        |       CAST(sum(f.tf) AS BIGINT) AS freq_mass
        |FROM tk JOIN f USING (token)
        |GROUP BY 1""".stripMargin,
    "q_lm_score" -> lmScoreOracle,
    "q_domain_reputation" -> domainReputationOracle,
    // SHARED: the two-half stats fold must reproduce the one-pass verdicts
    // (mergeDomainStats counts-monoid losslessness proof)
    "q_domain_reputation_incr" -> domainReputationOracle,
    // lmScoreOracle's statistics + the q_lang_id marker argmax + a
    // deterministic (avg_nll, doc_id) ntile — mirror of ccnetBuckets
    "q_ccnet_buckets" ->
      raw"""WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
        |  FROM documents),
        |o AS (SELECT doc_id,
        |             unnest([{'tok': w[i], 'prev': CASE WHEN i > 1 THEN w[i-1] END}
        |                     for i in range(1, len(w)+1)]) AS g
        |      FROM t),
        |occ AS (SELECT doc_id, g.tok AS token, g.prev AS prev FROM o WHERE g.tok <> ''),
        |uni AS (SELECT token, count(*) AS cw FROM occ GROUP BY 1),
        |tot AS (SELECT sum(cw) AS n, count(*) AS v FROM uni),
        |big AS (SELECT prev, token, count(*) AS cb FROM occ WHERE prev IS NOT NULL GROUP BY 1, 2),
        |sc AS (SELECT occ.doc_id,
        |              CASE WHEN occ.prev IS NULL
        |                   THEN ln((u.cw + 1.0) / (tot.n + tot.v))
        |                   ELSE ln(0.5 * ((coalesce(b.cb, 0) + 1.0) / (up.cw + tot.v))
        |                           + 0.5 * ((u.cw + 1.0) / (tot.n + tot.v)))
        |              END AS lp
        |       FROM occ
        |       JOIN uni u USING (token)
        |       LEFT JOIN uni up ON up.token = occ.prev
        |       LEFT JOIN big b ON b.prev = occ.prev AND b.token = occ.token
        |       CROSS JOIN tot),
        |agg AS (SELECT doc_id, count(*) AS n_scored,
        |               sum(round(lp * 1000000.0)::BIGINT)::BIGINT AS sum_logq
        |        FROM sc GROUP BY 1),
        |lng AS (SELECT doc_id,
        |               CASE WHEN en >= de AND en >= fr AND en >= es THEN 'en'
        |                    WHEN de >= fr AND de >= es THEN 'de'
        |                    WHEN fr >= es THEN 'fr' ELSE 'es' END AS pred_lang
        |        FROM (SELECT doc_id,
        |                len(regexp_extract_all(lower(text), '\b(the|and|of|is)\b')) AS en,
        |                len(regexp_extract_all(lower(text), '\b(der|und|die|das)\b')) AS de,
        |                len(regexp_extract_all(lower(text), '\b(le|la|et|les)\b')) AS fr,
        |                len(regexp_extract_all(lower(text), '\b(el|los|que|una)\b')) AS es
        |              FROM documents)),
        |b2 AS (SELECT agg.doc_id, lng.pred_lang, agg.n_scored, agg.sum_logq,
        |              -(agg.sum_logq::DOUBLE / (agg.n_scored::DOUBLE * 1000000.0)) AS avg_nll
        |       FROM agg JOIN lng USING (doc_id)),
        |nt AS (SELECT *, ntile(3) OVER (PARTITION BY pred_lang ORDER BY avg_nll, doc_id) AS tercile
        |       FROM b2)
        |SELECT doc_id, pred_lang, n_scored, sum_logq, avg_nll,
        |       CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS ppl_bucket
        |FROM nt""".stripMargin,
    // SHARED: scoring against the merged half-corpus counts must reproduce
    // the self-trained LM bit-for-bit (mergeLmCounts losslessness proof)
    "q_lm_incremental" -> lmScoreOracle,
    "q_sb_score" -> sbScoreOracle,
    // SHARED: four folded batch count-triples ≡ the one-shot statistics
    "q_sb_incremental" -> sbScoreOracle,
    // deployment split: the ladder's lower rungs genuinely fire here
    "q_sb_assign" -> sbScoreOracleWith("doc_id % 2 = 0"),
    "q_bm25" -> bm25Oracle,
    "q_hybrid_rrf" -> hybridRrfOracle,
    "q_data_card" ->
      raw"""WITH qy AS (
        |  SELECT doc_id,
        |         len(list_filter(regexp_split_to_array(trim(text), '\s+'), z -> z <> ''))::BIGINT AS n_tokens,
        |         0.4 * least(1.0, len(list_filter(regexp_split_to_array(trim(text), '\s+'), z -> z <> ''))::DOUBLE / 100.0)
        |         + 0.3 * (1.0 - least(1.0, (CASE WHEN length(text) > 0
        |                 THEN len(regexp_extract_all(text, '[.,;:!?]'))::DOUBLE / length(text)::DOUBLE END) * 10.0))
        |         + 0.3 * least(1.0, (CASE WHEN len(list_filter(regexp_split_to_array(trim(text), '\s+'), z -> z <> '')) > 0
        |                 THEN len(regexp_extract_all(lower(text), '\b(the|and|of|is|to|in|a)\b'))::DOUBLE
        |                      / len(list_filter(regexp_split_to_array(trim(text), '\s+'), z -> z <> ''))::DOUBLE END) * 5.0)
        |           AS quality
        |  FROM documents),
        |lg AS (
        |  SELECT doc_id,
        |         CASE WHEN en >= de AND en >= fr AND en >= es THEN 'en'
        |              WHEN de >= fr AND de >= es THEN 'de'
        |              WHEN fr >= es THEN 'fr' ELSE 'es' END AS pred_lang
        |  FROM (SELECT doc_id,
        |               len(regexp_extract_all(lower(text), '\b(the|and|of|is)\b')) AS en,
        |               len(regexp_extract_all(lower(text), '\b(der|und|die|das)\b')) AS de,
        |               len(regexp_extract_all(lower(text), '\b(le|la|et|les)\b')) AS fr,
        |               len(regexp_extract_all(lower(text), '\b(el|los|que|una)\b')) AS es
        |        FROM documents)),
        |p AS (SELECT d.doc_id, d.source, qy.n_tokens, length(d.text)::BIGINT AS n_chars,
        |             round(qy.quality * 1000000.0)::BIGINT AS quality_fp, lg.pred_lang,
        |             md5(d.text) AS fp
        |      FROM documents d JOIN qy USING (doc_id) JOIN lg USING (doc_id)),
        |fpn AS (SELECT fp, count(*) AS fpn FROM p GROUP BY 1),
        |f AS (SELECT p.*, CASE WHEN fpn.fpn > 1 THEN 1::BIGINT ELSE 0::BIGINT END AS dup
        |      FROM p JOIN fpn USING (fp)),
        |s AS (SELECT source, count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS total_tokens,
        |             sum(n_chars)::BIGINT AS total_chars, sum(dup)::BIGINT AS n_dups,
        |             sum(coalesce(quality_fp, 0))::BIGINT AS qsum
        |      FROM f GROUP BY 1),
        |lt AS (SELECT source, pred_lang AS top_lang, ln AS topn FROM (
        |        SELECT source, pred_lang, count(*)::BIGINT AS ln,
        |               row_number() OVER (PARTITION BY source ORDER BY count(*) DESC, pred_lang) AS rn
        |        FROM f GROUP BY 1, 2) WHERE rn = 1)
        |SELECT s.source, s.n_docs, s.total_tokens, s.total_chars, s.n_dups,
        |       ((s.n_dups * 1000000) // s.n_docs)::BIGINT AS dup_rate_fp,
        |       (s.qsum // s.n_docs)::BIGINT AS mean_quality_fp,
        |       lt.top_lang,
        |       ((lt.topn * 1000000) // s.n_docs)::BIGINT AS top_lang_share_fp
        |FROM s JOIN lt USING (source)""".stripMargin,
    "q_unigram_vocab" -> unigramVocabOracle,
    "q_unigram_segment" -> unigramSegmentOracle,
    "q_greedy_segment" -> greedySegmentOracle,
    "q_unigram_encode" -> unigramEncodeOracle,
    "q_unigram_assign" -> unigramAssignOracle,
    "q_unigram_staged" -> unigramStagedOracle,
    "q_tokenizer_report" -> tokenizerReportOracle,
    "q_blocklist_screen" ->
      raw"""WITH bl(term, category) AS (VALUES
        |    ('slow', 'performance'), ('crash', 'stability'),
        |    ('dup', 'duplication'), ('big', 'size'), ('zzzunseen', 'absent')),
        |toks AS (
        |  SELECT doc_id,
        |         unnest(regexp_split_to_array(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS term
        |  FROM documents),
        |h AS (SELECT doc_id, category, count(*) AS hits
        |      FROM (SELECT * FROM toks WHERE term <> '') t JOIN bl USING (term)
        |      GROUP BY 1, 2),
        |w AS (SELECT doc_id, hits AS worst_hits, category AS worst_category FROM (
        |        SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, category DESC) AS rn
        |        FROM h) WHERE rn = 1),
        |tot AS (SELECT doc_id, sum(hits)::BIGINT AS total_hits FROM h GROUP BY 1)
        |SELECT d.doc_id,
        |       coalesce(tot.total_hits, 0)::BIGINT AS total_hits,
        |       w.worst_category, w.worst_hits,
        |       CASE WHEN coalesce(tot.total_hits, 0) >= 9 THEN 'drop'
        |            WHEN coalesce(tot.total_hits, 0) >= 3 THEN 'flag'
        |            ELSE 'keep' END AS action
        |FROM (SELECT doc_id FROM documents) d
        |LEFT JOIN tot USING (doc_id) LEFT JOIN w USING (doc_id)""".stripMargin,
    // SHARED: merged-index search must reproduce the one-shot index
    "q_bm25_incremental" -> bm25Oracle,
    "q_vocab_drift" -> vocabDriftOracle,
    // SHARED: drift over quarter-fold merged counts must reproduce the
    // from-scratch halves (mergeVocabCounts losslessness, monitor form)
    "q_vocab_drift_incremental" -> vocabDriftOracle,
    "q_retrieval_eval" ->
      s"""WITH $neardupPairCtes,
        |res AS (${bm25OracleWith(29)}),
        |rel AS (SELECT DISTINCT query_id, rel_doc FROM (
        |          SELECT doc_a AS query_id, doc_b AS rel_doc FROM pr
        |          UNION ALL SELECT doc_b, doc_a FROM pr)),
        |qs AS (SELECT DISTINCT query_id FROM res),
        |relq AS (SELECT query_id, count(*)::BIGINT AS n_rel
        |         FROM qs JOIN rel USING (query_id) GROUP BY 1),
        |hit AS (SELECT res.query_id, min(res.rank)::BIGINT AS first_rel_rank,
        |               sum(CASE WHEN res.rank <= 10 THEN 1 ELSE 0 END)::BIGINT AS hits_at_k
        |        FROM res JOIN rel ON rel.query_id = res.query_id AND rel.rel_doc = res.doc_id
        |        GROUP BY 1)
        |SELECT qs.query_id, coalesce(relq.n_rel, 0)::BIGINT AS n_rel, hit.first_rel_rank,
        |       1000000 // hit.first_rel_rank AS rr_fp,
        |       coalesce(hit.hits_at_k, 0)::BIGINT AS hits_at_k,
        |       CASE WHEN coalesce(relq.n_rel, 0) > 0
        |            THEN (coalesce(hit.hits_at_k, 0) * 1000000) // least(relq.n_rel, 10) END AS recall_fp
        |FROM qs LEFT JOIN relq USING (query_id) LEFT JOIN hit USING (query_id)""".stripMargin,
    "q_weighted_sample" ->
      """WITH h AS (SELECT doc_id, lang, n_chars,
        |                 (doc_id * 1103515245 + 12345) % 2147483648 AS hh
        |          FROM documents),
        |p AS (SELECT doc_id, lang, n_chars,
        |             (n_chars::DOUBLE * 2147483648.0) / (hh + 1) AS priority
        |      FROM h),
        |r AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY priority DESC, doc_id) AS rk
        |      FROM p)
        |SELECT lang, doc_id, n_chars, priority, rk::BIGINT AS rank FROM r WHERE rk <= 20""".stripMargin,
    "q_cluster_split" ->
      s"""WITH RECURSIVE $neardupClusterCtes
        |SELECT doc_id, cluster_id,
        |       CASE WHEN substr(md5(cluster_id::VARCHAR), 1, 4) < 'cccd' THEN 'train'
        |            WHEN substr(md5(cluster_id::VARCHAR), 1, 4) < 'e666' THEN 'val'
        |            ELSE 'test' END AS bucket
        |FROM labeled""".stripMargin,
    // straddling-pair counts over the SAME verified pair relation + both
    // split rules — the cluster leg must come out 0 by construction
    "q_split_leakage" ->
      s"""WITH RECURSIVE $neardupClusterCtes,
        |ha AS (SELECT doc_id,
        |              CASE WHEN substr(md5(doc_id::VARCHAR), 1, 4) < 'cccd' THEN 'train'
        |                   WHEN substr(md5(doc_id::VARCHAR), 1, 4) < 'e666' THEN 'val'
        |                   ELSE 'test' END AS bucket
        |       FROM documents),
        |ca AS (SELECT doc_id,
        |              CASE WHEN substr(md5(cluster_id::VARCHAR), 1, 4) < 'cccd' THEN 'train'
        |                   WHEN substr(md5(cluster_id::VARCHAR), 1, 4) < 'e666' THEN 'val'
        |                   ELSE 'test' END AS bucket
        |       FROM labeled),
        |lh AS (SELECT count(*)::BIGINT AS n_pairs,
        |              coalesce(sum(CASE WHEN a.bucket <> b.bucket THEN 1 ELSE 0 END), 0)::BIGINT AS leaked
        |       FROM pr JOIN ha a ON a.doc_id = pr.doc_a JOIN ha b ON b.doc_id = pr.doc_b),
        |lc AS (SELECT count(*)::BIGINT AS n_pairs,
        |              coalesce(sum(CASE WHEN a.bucket <> b.bucket THEN 1 ELSE 0 END), 0)::BIGINT AS leaked
        |       FROM pr JOIN ca a ON a.doc_id = pr.doc_a JOIN ca b ON b.doc_id = pr.doc_b)
        |SELECT 'hash_split' AS method, n_pairs, leaked,
        |       CASE WHEN n_pairs > 0 THEN (leaked * 1000000) // n_pairs END AS leak_rate_fp
        |FROM lh
        |UNION ALL
        |SELECT 'cluster_split', n_pairs, leaked,
        |       CASE WHEN n_pairs > 0 THEN (leaked * 1000000) // n_pairs END
        |FROM lc""".stripMargin,
    "q_textrank" ->
      raw"""WITH t AS (
        |  SELECT regexp_split_to_array(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
        |  FROM documents),
        |pr AS (SELECT unnest([{'a': w[i], 'b': w[i+1]} for i in range(1, len(w))]) AS g
        |       FROM t WHERE len(w) >= 2),
        |d AS (SELECT g.a AS a, g.b AS b FROM pr WHERE g.a <> '' AND g.b <> '' AND g.a <> g.b),
        |ed AS (SELECT src, dst, count(*) AS w
        |       FROM (SELECT a AS src, b AS dst FROM d UNION ALL SELECT b AS src, a AS dst FROM d)
        |       GROUP BY 1, 2),
        |dg AS (SELECT src, sum(w)::BIGINT AS wsum FROM ed GROUP BY 1),
        |e AS (SELECT ed.src, ed.dst, ed.w, dg.wsum FROM ed JOIN dg USING (src)),
        |r0 AS (SELECT src AS token, 1000000::BIGINT AS score FROM dg),
        |r1 AS (SELECT e.dst AS token, (150000 + (85 * sum((r.score * e.w) // e.wsum)) // 100)::BIGINT AS score
        |       FROM e JOIN r0 r ON r.token = e.src GROUP BY 1),
        |r2 AS (SELECT e.dst AS token, (150000 + (85 * sum((r.score * e.w) // e.wsum)) // 100)::BIGINT AS score
        |       FROM e JOIN r1 r ON r.token = e.src GROUP BY 1),
        |r3 AS (SELECT e.dst AS token, (150000 + (85 * sum((r.score * e.w) // e.wsum)) // 100)::BIGINT AS score
        |       FROM e JOIN r2 r ON r.token = e.src GROUP BY 1)
        |SELECT token, score, row_number() OVER (ORDER BY score DESC, token)::BIGINT AS rank
        |FROM r3 QUALIFY rank <= 50""".stripMargin,
    "q_vocab_build" -> vocabBuildOracle,
    // SHARED: the incremental count fold must reproduce the full vocabulary
    "q_vocab_incremental" -> vocabBuildOracle,
    "q_encode_tokens" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, generate_subscripts(w, 1) AS pos, unnest(w) AS token FROM t),
        |tk AS (SELECT * FROM toks WHERE token <> ''),
        |c AS (SELECT token, count(*) AS n FROM tk GROUP BY 1),
        |v AS (SELECT token, (row_number() OVER (ORDER BY n DESC, token) - 1)::BIGINT AS id
        |      FROM c QUALIFY id < 30),
        |j AS (SELECT tk.doc_id, tk.pos, coalesce(v.id, -1) AS tid, v.id AS vid
        |      FROM tk LEFT JOIN v USING (token))
        |SELECT doc_id, count(*) AS n_tokens,
        |       count(CASE WHEN vid IS NULL THEN 1 END) AS n_unk,
        |       md5(string_agg(tid::VARCHAR, ',' ORDER BY pos)) AS ids_sig
        |FROM j GROUP BY 1""".stripMargin,
    // SHARED with q_neardup_clusters: the incremental maintenance cycle
    // (store labels + batch/cross pairs under the corpus-wide df cap) must
    // reproduce the from-scratch capped labeling bit-for-bit
    "q_neardup_clusters_incr" -> neardupClustersOracle,
    "q_neardup_clusters" -> neardupClustersOracle,
    "q_repetition_filter" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         regexp_split_to_array(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
        |  FROM documents),
        |tri AS (
        |  SELECT doc_id, len(list_filter(w, x -> x <> ''))::BIGINT AS n_tokens,
        |         CASE WHEN len(w) >= 3
        |              THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]
        |              ELSE [] END AS tg,
        |         CASE WHEN len(w) >= 2
        |              THEN [w[i] || ' ' || w[i+1] for i in range(1, len(w))]
        |              ELSE [] END AS bg
        |  FROM t),
        |base AS (
        |  SELECT doc_id, n_tokens,
        |         CASE WHEN len(tg) > 0
        |              THEN (len(tg) - len(list_distinct(tg)))::DOUBLE / len(tg) END AS dup_trigram_frac,
        |         bg
        |  FROM tri),
        |bc AS (SELECT doc_id, bigram, count(*) AS c
        |       FROM (SELECT doc_id, unnest(bg) AS bigram FROM base) GROUP BY 1, 2),
        |top AS (SELECT doc_id, max(c)::DOUBLE / sum(c) AS top_bigram_frac FROM bc GROUP BY 1)
        |SELECT b.doc_id, b.n_tokens, b.dup_trigram_frac, t2.top_bigram_frac,
        |       coalesce(b.dup_trigram_frac > 0.3, false) OR coalesce(t2.top_bigram_frac > 0.2, false)
        |         AS is_repetitive
        |FROM base b LEFT JOIN top t2 USING (doc_id)""".stripMargin,
    "q_pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id, (doc_id % 8)::BIGINT AS shard,
        |         len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> ''))::BIGINT AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, shard, n_tokens,
        |             sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM t)
        |SELECT doc_id, shard, n_tokens,
        |       (cum - n_tokens)::BIGINT AS start_offset,
        |       floor((cum - n_tokens) / 512)::BIGINT AS chunk_first,
        |       floor((cum - 1) / 512)::BIGINT AS chunk_last,
        |       (floor((cum - 1) / 512) - floor((cum - n_tokens) / 512) + 1)::BIGINT AS n_chunks
        |FROM c""".stripMargin,
    "q_decontaminate" -> decontaminationOracle,
    // identical by construction: the bloom pass is a lossless prefilter, so
    // the sketch path must reproduce the exact oracle bit-for-bit
    "q_decontaminate_bloom" -> decontaminationOracle,
    "q_line_dedup" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS w
        |  FROM documents),
        |lined AS (
        |  SELECT doc_id,
        |         CASE WHEN len(w) = 0 THEN ''
        |              ELSE array_to_string(
        |                [array_to_string(w[i:i+11], ' ') for i in range(1, len(w) + 1, 12)],
        |                chr(10)) END AS t
        |  FROM tok),
        |prep AS (
        |  SELECT doc_id,
        |         (CASE WHEN doc_id % 3 = 0 THEN 'nav home about contact login search' || chr(10) ELSE '' END)
        |         || t ||
        |         (CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'copyright 2026 all rights reserved worldwide' ELSE '' END)
        |           AS text
        |  FROM lined),
        |ls AS (SELECT doc_id, string_split(text, chr(10)) AS lines FROM prep),
        |ln AS (SELECT doc_id, unnest(lines) AS line FROM ls),
        |hot AS (SELECT line FROM (SELECT line, count(DISTINCT doc_id) AS df FROM ln GROUP BY 1)
        |        WHERE df > 20),
        |hl AS (SELECT coalesce(list(line), []) AS arr FROM hot)
        |SELECT doc_id,
        |       len(lines)::BIGINT AS n_lines,
        |       len(list_filter(lines, l -> list_contains(hl.arr, l)))::BIGINT AS n_dropped,
        |       coalesce(array_to_string(list_filter(lines, l -> NOT list_contains(hl.arr, l)), chr(10)), '') AS clean_text
        |FROM ls, hl""".stripMargin,
    "q_shuffle_shards" ->
      """WITH h AS (SELECT doc_id, md5('42:' || doc_id::VARCHAR) AS hx FROM documents)
        |SELECT doc_id,
        |       (('0x' || substr(hx, 1, 8))::BIGINT % 16) AS shard,
        |       row_number() OVER (
        |         PARTITION BY ('0x' || substr(hx, 1, 8))::BIGINT % 16
        |         ORDER BY hx, doc_id)::BIGINT AS pos
        |FROM h""".stripMargin,
    "q_upsample_epochs" ->
      """WITH w AS (
        |  SELECT doc_id, 0.25 + (doc_id % 40) / 10.0 AS weight,
        |         ((doc_id % 1000003) * (2654435761 % 1000003) % 1000003) / 1000003.0 AS u
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, weight,
        |         (floor(weight) + CASE WHEN u < weight - floor(weight) THEN 1 ELSE 0 END)::BIGINT AS n_copies
        |  FROM w)
        |SELECT doc_id, weight, n_copies, unnest(range(1, n_copies + 1))::BIGINT AS copy_idx
        |FROM c WHERE n_copies >= 1""".stripMargin,
    "q_chunk_docs" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS w
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, w,
        |         unnest(range(0, (1 + ceil(greatest(len(w) - 64, 0) / 48.0))::BIGINT)) AS i
        |  FROM tok)
        |SELECT doc_id,
        |       i::BIGINT AS chunk_id,
        |       len(w[(i*48+1):(i*48+64)])::BIGINT AS n_chunk_tokens,
        |       coalesce(array_to_string(w[(i*48+1):(i*48+64)], ' '), '') AS chunk_text
        |FROM c""".stripMargin,
    "q_binary_meta" ->
      """SELECT doc_id AS media_id, 'text' AS kind, octet_length(text::BLOB)::BIGINT AS n_bytes
        |FROM documents""".stripMargin,
    // the REAL-codec round trips: the oracle computes what a correct PNG
    // encode→decode (and encode→rescale→re-encode→decode) MUST reproduce
    // from pure id arithmetic — no codec on the oracle side, the closed
    // form IS the check (lossless 8-bit RGB; solid color survives any
    // interpolation kernel)
    "q_image_decode" ->
      """WITH c AS (
        |  SELECT doc_id AS media_id,
        |         (16 + doc_id % 17)::BIGINT AS w, (8 + doc_id % 13)::BIGINT AS h,
        |         (doc_id * 37 % 256)::BIGINT AS tr, (doc_id * 59 % 256)::BIGINT AS tg, (doc_id * 83 % 256)::BIGINT AS tb,
        |         (doc_id * 101 % 256)::BIGINT AS br, (doc_id * 131 % 256)::BIGINT AS bg, (doc_id * 151 % 256)::BIGINT AS bb
        |  FROM documents)
        |SELECT media_id, true AS decode_ok, w AS width, h AS height,
        |       (w * ((h // 2) * tr + (h - h // 2) * br))::BIGINT AS sum_r,
        |       (w * ((h // 2) * tg + (h - h // 2) * bg))::BIGINT AS sum_g,
        |       (w * ((h // 2) * tb + (h - h // 2) * bb))::BIGINT AS sum_b
        |FROM c""".stripMargin,
    "q_image_raster_dedup" ->
      """WITH ids AS (
        |  SELECT doc_id AS media_id, doc_id AS card FROM documents
        |  UNION ALL SELECT doc_id + 20000000, doc_id FROM documents
        |  UNION ALL SELECT doc_id + 10000000, doc_id FROM documents WHERE doc_id % 7 = 0),
        |c AS (
        |  SELECT media_id,
        |         (16 + card % 17)::BIGINT AS w, (8 + card % 13)::BIGINT AS h,
        |         (card * 37 % 256)::INT AS tr, (card * 59 % 256)::INT AS tg, (card * 83 % 256)::INT AS tb,
        |         (card * 101 % 256)::INT AS br, (card * 131 % 256)::INT AS bg, (card * 151 % 256)::INT AS bb
        |  FROM ids),
        |d AS (
        |  SELECT media_id, w AS width, h AS height,
        |         md5(repeat(repeat(printf('%02x%02x%02x', tr, tg, tb), w::INT), (h // 2)::INT)
        |             || repeat(repeat(printf('%02x%02x%02x', br, bg, bb), w::INT), (h - h // 2)::INT)) AS raster_md5
        |  FROM c),
        |g AS (SELECT raster_md5, min(media_id) AS keeper_id, count(*)::BIGINT AS n_copies
        |      FROM d GROUP BY 1)
        |SELECT media_id, width, height, raster_md5, keeper_id, n_copies,
        |       media_id <> keeper_id AS is_dup
        |FROM d JOIN g USING (raster_md5)""".stripMargin,
    "q_image_resize" ->
      """WITH c AS (
        |  SELECT doc_id AS media_id,
        |         (8 + doc_id % 37)::BIGINT AS w, (4 + doc_id % 23)::BIGINT AS h,
        |         (doc_id * 37 % 256)::BIGINT AS r, (doc_id * 59 % 256)::BIGINT AS g, (doc_id * 83 % 256)::BIGINT AS b
        |  FROM documents),
        |f AS (
        |  SELECT media_id, w, h, r, g, b,
        |         least(16, greatest(w, h)) AS s, greatest(w, h) AS d
        |  FROM c),
        |o AS (
        |  SELECT media_id, w AS src_width, h AS src_height, r, g, b,
        |         greatest(1, w * s // d)::BIGINT AS ow, greatest(1, h * s // d)::BIGINT AS oh
        |  FROM f)
        |SELECT media_id, true AS resized, src_width, src_height,
        |       ow AS width, oh AS height,
        |       (r * ow * oh)::BIGINT AS sum_r, (g * ow * oh)::BIGINT AS sum_g, (b * ow * oh)::BIGINT AS sum_b
        |FROM o""".stripMargin,
    "q_audio_decode" ->
      """WITH t AS (
        |  SELECT doc_id AS media_id,
        |         (400 + doc_id % 1200)::BIGINT AS n, (1000 + doc_id % 20000)::BIGINT AS amp
        |  FROM documents),
        |w AS (
        |  SELECT media_id, n, amp,
        |         unnest(range(least(8, CASE WHEN n <= 256 THEN 1 ELSE (n - 256) // 128 + 1 END)))::BIGINT AS window_idx
        |  FROM t),
        |s AS (SELECT media_id, n, amp, window_idx,
        |             least(256, n - window_idx * 128)::BIGINT AS len
        |      FROM w)
        |SELECT media_id, true AS decode_ok, 8000::BIGINT AS sample_rate, n AS n_total,
        |       window_idx, len AS n_samples,
        |       (amp * len)::BIGINT AS sum_abs, amp AS peak
        |FROM s""".stripMargin,
    "q_video_frames" ->
      """WITH t AS (
        |  SELECT doc_id AS media_id,
        |         (8 + doc_id % 13)::BIGINT AS w, (5 + doc_id % 11)::BIGINT AS h,
        |         (2 + doc_id % 7)::BIGINT AS nf
        |  FROM documents),
        |f AS (SELECT media_id, w, h, nf, unnest(range(nf))::BIGINT AS frame_idx FROM t)
        |SELECT media_id, true AS decode_ok, nf AS n_frames, frame_idx, w AS width, h AS height,
        |       (((media_id * 37 + frame_idx * 17) % 256) * w * h)::BIGINT AS sum_r,
        |       (((media_id * 59 + frame_idx * 29) % 256) * w * h)::BIGINT AS sum_g,
        |       (((media_id * 83 + frame_idx * 43) % 256) * w * h)::BIGINT AS sum_b
        |FROM f""".stripMargin,
    "q_embedding_knn" -> knnOracle,
    // both stages replayed: prefix-16 cosine + (tsim DESC, id) candidate
    // cut at 60, exact full-dim rerank to 10 — the deterministic ANN
    "q_ann_truncated" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
        |             v[1:16] AS tv, sqrt(list_dot_product(v[1:16], v[1:16])) AS tn FROM v),
        |p AS (SELECT vec_id AS probe_id, v AS pv, nrm AS pn, tv AS ptv, tn AS ptn
        |      FROM n WHERE vec_id < 20),
        |j1 AS (SELECT probe_id, vec_id, pv, pn, v, nrm,
        |              CASE WHEN ptn * tn > 0 THEN list_dot_product(ptv, tv) / (ptn * tn) END AS tsim
        |       FROM p, n WHERE vec_id <> probe_id),
        |r1 AS (SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY tsim DESC, vec_id) AS crank
        |       FROM j1 WHERE tsim IS NOT NULL),
        |cand AS (SELECT * FROM r1 WHERE crank <= 60),
        |j2 AS (SELECT probe_id, vec_id, tsim, crank,
        |              CASE WHEN pn * nrm > 0 THEN list_dot_product(pv, v) / (pn * nrm) END AS sim
        |       FROM cand),
        |r2 AS (SELECT probe_id, vec_id, sim, tsim, crank,
        |              row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rank
        |       FROM j2 WHERE sim IS NOT NULL)
        |SELECT probe_id, vec_id AS neighbor_id, sim, rank::BIGINT AS rank,
        |       tsim, crank::BIGINT AS crank
        |FROM r2 WHERE rank <= 10""".stripMargin,
    "q_mmr_select" -> mmrOracle,
    "q_kcenter_select" -> kCenterOracle,
    "q_cluster_keywords" -> clusterKeywordsOracle,
    "q_knn_shapley" -> knnShapleyOracle,
    "q_class_outliers" ->
      """WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id, label, generate_subscripts(v, 1) AS dim,
        |             unnest(list_transform(v, x -> round(x * 1000000.0)::BIGINT)) AS q
        |      FROM v),
        |cd AS (SELECT label, dim, sum(q)::BIGINT AS sq, count(*) AS cnt FROM q GROUP BY 1, 2),
        |c AS (SELECT label, list(sq::DOUBLE / (cnt::DOUBLE * 1000000.0) ORDER BY dim) AS cvec
        |      FROM cd GROUP BY 1),
        |d AS (SELECT vec_id, v.label,
        |             sqrt(greatest(list_dot_product(v.v, v.v)
        |                           - 2.0 * list_dot_product(v.v, c.cvec)
        |                           + list_dot_product(c.cvec, c.cvec), 0.0)) AS dist
        |      FROM v JOIN c ON v.label = c.label),
        |r AS (SELECT *, row_number() OVER (PARTITION BY label ORDER BY dist DESC, vec_id) AS rank
        |      FROM d)
        |SELECT vec_id, label, dist, rank::BIGINT AS rank, rank <= 5 AS is_outlier FROM r""".stripMargin,
    // per-label centroid vs corpus centroid: global sums derive from the
    // label-level (dim, sq, cnt) monoid; centroids divide back to doubles
    // only inside the dim-ordered dot products (list_dot_product replays
    // the same summation order as graft_dot). SHARED with the incremental
    // form — the sums fold, the drift derives after
    "q_embedding_drift" -> embeddingDriftOracle,
    "q_embedding_drift_incremental" -> embeddingDriftOracle,
    "q_hard_negatives" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
        |n AS (SELECT vec_id, v, label, sqrt(list_dot_product(v, v)) AS nrm FROM v),
        |p AS (SELECT vec_id AS probe_id, v AS pv, nrm AS pn, label AS probe_label
        |      FROM n WHERE vec_id % 10 = 0),
        |j AS (SELECT probe_id, probe_label, vec_id, label,
        |             CASE WHEN pn * nrm > 0 THEN list_dot_product(pv, v) / (pn * nrm) END AS sim
        |      FROM p, n WHERE vec_id <> probe_id AND label <> probe_label),
        |r AS (SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rank
        |      FROM j WHERE sim IS NOT NULL)
        |SELECT probe_id, probe_label::INT AS probe_label, vec_id AS neighbor_id,
        |       label::INT AS neighbor_label, sim, rank
        |FROM r WHERE rank <= 5""".stripMargin,
    "q_bitext_mine" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM v),
        |x AS (SELECT vec_id, v, nrm FROM n WHERE vec_id % 2 = 0),
        |y AS (SELECT vec_id, v, nrm FROM n WHERE vec_id % 2 = 1),
        |fj AS (SELECT x.vec_id AS src_id, y.vec_id AS dst_id,
        |              CASE WHEN x.nrm * y.nrm > 0
        |                   THEN list_dot_product(x.v, y.v) / (x.nrm * y.nrm) END AS sim
        |       FROM x, y),
        |fr AS (SELECT *, row_number() OVER (PARTITION BY src_id ORDER BY sim DESC, dst_id) AS r
        |       FROM fj WHERE sim IS NOT NULL),
        |fk AS (SELECT src_id, dst_id, sim, round(sim * 1000000000)::BIGINT AS sim_fp
        |       FROM fr WHERE r <= 4),
        |br AS (SELECT *, row_number() OVER (PARTITION BY dst_id ORDER BY sim DESC, src_id) AS r
        |       FROM fj WHERE sim IS NOT NULL),
        |bk AS (SELECT src_id, dst_id, round(sim * 1000000000)::BIGINT AS sim_fp
        |       FROM br WHERE r <= 4),
        |ax AS (SELECT src_id, sum(sim_fp)::BIGINT AS ax_fp FROM fk GROUP BY 1),
        |ay AS (SELECT dst_id, sum(sim_fp)::BIGINT AS ay_fp FROM bk GROUP BY 1),
        |sc AS (SELECT f.src_id, f.dst_id, f.sim,
        |              ((8 * f.sim_fp * 1000000) // (ax_fp + ay_fp))::BIGINT AS margin_fp,
        |              b.src_id IS NOT NULL AS mutual
        |       FROM fk f
        |       JOIN ax USING (src_id) JOIN ay USING (dst_id)
        |       LEFT JOIN bk b ON b.src_id = f.src_id AND b.dst_id = f.dst_id
        |       WHERE ax_fp + ay_fp > 0),
        |fl AS (SELECT *, row_number() OVER (PARTITION BY src_id ORDER BY margin_fp DESC, dst_id) AS r
        |       FROM sc WHERE margin_fp >= 1050000)
        |SELECT src_id, dst_id, sim, margin_fp, mutual FROM fl WHERE r = 1""".stripMargin,
    // identical by construction: per-half top-10s merged and re-ranked must
    // reproduce the one-shot top-10 (every global winner is in its half's
    // top-10), so the incremental query reuses the knn oracle verbatim
    "q_knn_incremental" -> knnOracle,
    "q_embedding_neardup" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM v),
        |nz AS (SELECT * FROM n WHERE nrm > 0),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |             list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS sim
        |      FROM nz a JOIN nz b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, sim FROM p WHERE sim >= 0.4""".stripMargin,
    "q_semantic_dedup" -> semanticDedupOracle,
    "q_embedding_neardup_blocked" -> embeddingNeardupBlockedOracle,
    "q_ann_ivf" -> annIvfOracle,
    "q_ann_hnsw" -> annHnswOracle,
    "q_ann_hnsw_incr" -> annHnswOracle,
    "q_cube_stats" ->
      """WITH e AS (SELECT event_type, ts::DATE AS event_date, value FROM events)
        |SELECT event_type, event_date, count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |       grouping(event_type)::INTEGER AS ga, grouping(event_date)::INTEGER AS gb
        |FROM e GROUP BY CUBE(event_type, event_date)""".stripMargin,
    "q_pivot_values" ->
      """SELECT user_id AS symbol,
        |       CAST(sum(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS click,
        |       CAST(sum(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS error,
        |       CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS purchase,
        |       CAST(sum(CASE WHEN event_type = 'signup' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS signup,
        |       CAST(sum(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS "view"
        |FROM events GROUP BY 1""".stripMargin,
    "q_unpivot_measures" ->
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS val FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_extendedprice' AS measure, l_extendedprice AS val FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_discount' AS measure, l_discount AS val FROM lineitem""".stripMargin,
    "q_session_window_agg" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id, value,
        |         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |                OR ts >= lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) + INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS is_new
        |  FROM events),
        |s AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |      FROM g)
        |SELECT user_id AS symbol, min(ts) AS session_start, count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM s GROUP BY user_id, sid""".stripMargin,
    "q_latest_snapshot_upsert" ->
      """WITH w AS (
        |  SELECT user_id, event_type, value, ts, event_id,
        |         lead(value) OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS prev_value,
        |         row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id AS symbol, event_type AS asset_type, value AS price,
        |       value - prev_value AS change,
        |       CASE WHEN prev_value <> 0 THEN (value - prev_value) / prev_value * 100 END AS percent_change,
        |       ts AS updated_at
        |FROM w WHERE rn = 1""".stripMargin,
    "q_merge_last_wins" ->
      """WITH w AS (
        |  SELECT user_id, event_type, value, ts,
        |         row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id AS symbol, event_type AS asset_type, value AS price, ts AS updated_at
        |FROM w WHERE rn = 1""".stripMargin,
    "q_cdc_apply" ->
      """WITH snapw AS (
        |  SELECT user_id, event_type, value, ts, event_id,
        |         row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00'),
        |snap AS (SELECT user_id, event_type, value, ts FROM snapw WHERE rn = 1),
        |chw AS (
        |  SELECT user_id, event_type, value, ts, event_id,
        |         CASE WHEN value < 5 THEN 'D' ELSE 'U' END AS op,
        |         row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'),
        |lastch AS (SELECT * FROM chw WHERE rn = 1),
        |keep AS (SELECT s.user_id, s.event_type, s.value, s.ts FROM snap s
        |         WHERE NOT EXISTS (SELECT 1 FROM lastch c
        |                           WHERE c.user_id = s.user_id AND c.event_type = s.event_type)),
        |ups AS (SELECT user_id, event_type, value, ts FROM lastch WHERE op <> 'D')
        |SELECT user_id AS symbol, event_type AS asset_type, value AS price, ts AS updated_at
        |FROM (SELECT * FROM keep UNION ALL SELECT * FROM ups)""".stripMargin,
    "q_monthly_last_close" ->
      s"""WITH $monthlyLastCloseCtes
        |SELECT symbol, date, price FROM cl""".stripMargin,
    // replays the integer recurrence step-for-step (s1 = fp1,
    // s_i = (fp_i + 3*s_{i-1}) // 4 on millionth-quantized prices)
    "q_ewma_smooth" -> ewmaOracle,
    // SHARED: resuming the suffix from stored prefix states must reproduce
    // the from-scratch trajectory (ewmaResume losslessness proof)
    "q_ewma_incremental" -> ewmaOracle,
    "q_gap_interpolate" ->
      s"""WITH $monthlyLastCloseCtes,
        |b AS (SELECT symbol, min(date) AS lo, max(date) AS hi FROM cl GROUP BY 1),
        |sp AS (SELECT symbol, unnest(generate_series(lo, hi, INTERVAL 1 MONTH))::DATE AS month FROM b),
        |j AS (SELECT sp.symbol, sp.month, cl.price AS v
        |      FROM sp LEFT JOIN cl ON cl.symbol = sp.symbol AND cl.date = sp.month),
        |m AS (SELECT symbol, month, v,
        |             date_part('year', month)::BIGINT * 12 + date_part('month', month)::BIGINT AS mi
        |      FROM j),
        |f AS (SELECT symbol, month, v, mi,
        |             last_value(CASE WHEN v IS NOT NULL THEN mi END IGNORE NULLS)
        |               OVER (PARTITION BY symbol ORDER BY month
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pt,
        |             last_value(CASE WHEN v IS NOT NULL THEN v END IGNORE NULLS)
        |               OVER (PARTITION BY symbol ORDER BY month
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
        |             first_value(CASE WHEN v IS NOT NULL THEN mi END IGNORE NULLS)
        |               OVER (PARTITION BY symbol ORDER BY month
        |                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nt,
        |             first_value(CASE WHEN v IS NOT NULL THEN v END IGNORE NULLS)
        |               OVER (PARTITION BY symbol ORDER BY month
        |                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv
        |      FROM m)
        |SELECT symbol, month,
        |       CASE WHEN v IS NOT NULL THEN v
        |            WHEN pv IS NOT NULL AND nv IS NOT NULL
        |            THEN pv + (nv - pv) * ((mi - pt)::DOUBLE / (nt - pt)::DOUBLE) END AS price,
        |       (v IS NULL AND pv IS NOT NULL AND nv IS NOT NULL) AS is_interpolated
        |FROM f""".stripMargin,
    "q_current_month_pick" ->
      """WITH cur AS (SELECT * FROM orders WHERE date_trunc('month', o_orderdate) = TIMESTAMP '2001-08-01'),
        |w AS (SELECT o_custkey, o_totalprice,
        |             row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |      FROM cur)
        |SELECT o_custkey AS symbol, o_totalprice AS price FROM w WHERE rn = 1""".stripMargin,
    "q_assets_needing_update" ->
      """SELECT c_custkey AS symbol, c_name AS name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey AND o.o_orderdate >= TIMESTAMP '2001-01-01')""".stripMargin,
    "q_existing_symbols" ->
      """SELECT c_custkey AS symbol, c_name AS name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_orderdate >= TIMESTAMP '2001-01-01')""".stripMargin,
    "q_month_spine" ->
      """WITH rng AS (
        |  SELECT o_custkey, date_trunc('month', min(o_orderdate)) AS start, date_trunc('month', max(o_orderdate)) AS stop
        |  FROM orders GROUP BY 1)
        |SELECT o_custkey AS symbol, unnest(generate_series(start, stop, INTERVAL 1 MONTH))::DATE AS month FROM rng""".stripMargin,
    "q_gap_detection" ->
      """WITH spine AS (
        |  SELECT c_custkey, unnest(generate_series(TIMESTAMP '1995-01-01', TIMESTAMP '2001-08-01', INTERVAL 1 MONTH))::DATE AS month
        |  FROM customer),
        |cov AS (SELECT DISTINCT o_custkey AS c_custkey, date_trunc('month', o_orderdate)::DATE AS month FROM orders),
        |miss AS (SELECT s.c_custkey, s.month FROM spine s
        |         WHERE NOT EXISTS (SELECT 1 FROM cov c WHERE c.c_custkey = s.c_custkey AND c.month = s.month))
        |SELECT c_custkey AS symbol, min(month) AS gap_start, max(month) AS gap_end, count(*) AS missing_months
        |FROM miss GROUP BY 1""".stripMargin,
    "q_adjust_date_range" ->
      """WITH rng AS (
        |  SELECT o_custkey, min(o_orderdate)::DATE AS start_date, max(o_orderdate)::DATE AS end_date FROM orders GROUP BY 1)
        |SELECT o_custkey AS symbol,
        |       date_trunc('month', start_date)::DATE AS adj_start,
        |       least(end_date, DATE '2001-06-15') AS adj_end,
        |       date_trunc('month', start_date) = date_trunc('month', least(end_date, DATE '2001-06-15')) AS single_month
        |FROM rng""".stripMargin,
    "q_validate_required_fields" ->
      """SELECT l_orderkey, l_linenumber, l_quantity AS quantity,
        |       CASE WHEN l_discount = 0 THEN NULL ELSE l_discount END AS discount,
        |       (l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL AND l_quantity IS NOT NULL
        |        AND (CASE WHEN l_discount = 0 THEN NULL ELSE l_discount END) IS NOT NULL) AS valid
        |FROM lineitem""".stripMargin,
    "q_constraint_audit" -> constraintAuditOracle,
    // SHARED: the per-batch fold must reproduce the from-scratch suite
    // (audit-monoid losslessness proof)
    "q_audit_incremental" -> constraintAuditOracle,
    "q_coerce_types" ->
      """SELECT event_id, (value::VARCHAR)::DOUBLE AS price, ts::DATE AS event_date,
        |       floor(epoch(ts))::BIGINT AS ts_epoch_s
        |FROM events""".stripMargin,
    "q_index_projection" ->
      """SELECT user_id AS symbol, value AS price, ts AS updated_at,
        |       NULL::DOUBLE AS price_high, NULL::DOUBLE AS price_low
        |FROM events""".stripMargin,
    "q_asset_type_dispatch" ->
      """SELECT event_id, event_type, user_id,
        |       CASE event_type WHEN 'click' THEN 'stock_fetcher' WHEN 'purchase' THEN 'crypto_fetcher'
        |                       WHEN 'view' THEN 'forex_fetcher' END AS route,
        |       str_split(event_type || '/USD', '/')[1] AS from_leg,
        |       str_split(event_type || '/USD', '/')[2] AS to_leg
        |FROM events WHERE event_type IN ('click','purchase','view')""".stripMargin,
    "q_payload_parse" ->
      """SELECT event_id, json_extract_string(props, '$.k')::INTEGER AS k FROM events
        |WHERE json_extract_string(props, '$.k') IS NOT NULL""".stripMargin,
    "q_group_by_asset_type" ->
      """SELECT event_type, array_to_string(list_sort(list(DISTINCT user_id)), ',') AS members,
        |       count(DISTINCT user_id) AS n_members
        |FROM events GROUP BY 1""".stripMargin,
    "q_batch_assignment" ->
      """SELECT c_custkey AS symbol, c_mktsegment AS asset_type,
        |       CAST(ceil(row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_custkey) / 100.0) AS BIGINT) AS batch_id
        |FROM customer""".stripMargin,
    "q_completion_stats" ->
      """WITH b AS (
        |  SELECT c_custkey, c_mktsegment,
        |         CAST(ceil(row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_custkey) / 100.0) AS BIGINT) AS batch_id
        |  FROM customer)
        |SELECT c_mktsegment AS asset_type, count(*) AS record_count, count(DISTINCT c_custkey) AS total_assets,
        |       max(batch_id) AS total_batches, 'complete' AS status
        |FROM b GROUP BY 1""".stripMargin,
  )
}
