package graft.jobs

import java.sql.Date

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{ColumnBridge, PlanBridge}
import org.apache.spark.sql.types._

import graft.ops._

/** The three reference job pipelines (SURVEY.md §3), composed from graft.ops
  * operators as pure batch functions: request relation in → (updated store,
  * completion payload) out. The "fetch" step — an HTTP call in the reference —
  * reads a quotes/series feed DataFrame for the keys the job plans (tests
  * feed parquet; a live deployment would plug a DataSource V2 HTTP source,
  * SURVEY.md §2.A A3).
  *
  * Request-bounded work runs on the driver, like the reference's own loops
  * over the request list (`fetch_historical_market_data.py:191-215`). A job
  * collects its request list once, reads the store's rows for the requested
  * keys with ONE filter of the store by an `InSet` of those keys, decides
  * what to fetch in driver memory — rule B7 of `Incremental.needingUpdate`,
  * the B9 cache-first guard (every requested key stored) and B10 of
  * `gapDetection`, which `JobsBookkeepingSpec` checks the jobs against —
  * and fetches with an `InSet` filter of the feed by the keys (or, for the
  * historical job, the key-months) it plans. No request-bounded relation is
  * joined to distributed data, so no request broadcasts a local relation:
  * each probe and fetch is one Spark job. Request-level scalars (`now`, the
  * month window) are evaluated once on the driver, and an `InSet`'s key set
  * is a reference object of its generated class, so no per-request literal
  * reaches generated code: a request's generated classes are the previous
  * request's, which Spark's generated-class cache can serve.
  *
  * Pin contract: a live feed is nondeterministic, so every output of a job
  * (store, completion, per-batch payloads) describes ONE evaluation of its
  * fetch. Rows bounded by the request (the market and index jobs' fetched
  * quotes, the cached rows of a cache-first or stale-fallback answer) are
  * collected once into local relations. The historical job's fetched rows
  * scale with history length, so they stay a distributed `localCheckpoint`
  * of which only per-(asset_type, symbol) counts are collected. Completion
  * and per-batch rows are built on the driver as local relations: a caller
  * collecting them runs no Spark job.
  */
object Jobs {

  /** A job's output: the new store contents plus the completion stats row
    * (B17). `processingTimeMs` is driver wall-clock like the reference —
    * attached by the caller, not computed here, to keep jobs pure.
    *
    * `perBatch` is the per-batch completion relation (one payload row per
    * batch, `Batching.completionPerBatch`'s schema) for jobs whose reference
    * counterpart publishes inside the batch loop — only the historical job
    * does (`fetch_historical_market_data.py:207-213`); the market-data and
    * index jobs publish a single final message, so they carry None.
    */
  case class JobResult(
      store: DataFrame,
      completion: DataFrame,
      perBatch: Option[DataFrame] = None)

  val SnapshotKeys: Seq[String] = Seq("symbol", "asset_type")
  val RequiredFields: Seq[String] =
    Seq("symbol", "asset_type", "price", "percent_change", "change", "high", "low")

  // completion schemas, field for field as the Spark aggregates they
  // replace typed them: a count is non-null, a ceil of a division is not
  private def countField(name: String) = StructField(name, LongType, nullable = false)
  private val Status = StructField("status", StringType, nullable = false)
  private val Batches100 = StructField("total_batches", LongType)
  private val MarketCompletion =
    StructType(Seq(countField("record_count"), Batches100, countField("total_assets"), Status))
  private val IndexCompletion =
    StructType(Seq(countField("record_count"), Batches100, countField("total_symbols"), Status))
  private val HistoricalCompletion =
    StructType(Seq("record_count", "total_batches", "total_symbols").map(countField) :+ Status)
  private val CachedCompletion =
    StructType(Seq("record_count", "total_symbols", "total_batches").map(countField) :+ Status)

  private def local(spark: SparkSession, schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** `cols` over one empty row: the optimizer folds the projection into a
    * local relation, so evaluating it runs no Spark job.
    */
  private def scalars(spark: SparkSession, cols: Column*): DataFrame =
    local(spark, StructType(Nil), Seq(Row())).select(cols: _*)

  /** `keys` IN `tuples`, as ONE `InSet`: its set is a reference object, so
    * the generated class is the same whatever the number of tuples, where
    * `isin` inlines up to ten literals. One string key probes a hash set;
    * several probe an ordered set of `struct(keys)`. A tuple holding a NULL
    * is dropped, so a NULL key never matches, as in a join.
    */
  private def keyIn(keys: Seq[Column], tuples: Iterable[Row]): Column = {
    val one = keys.size == 1
    val set = tuples.filterNot(_.anyNull).map(t => if (one) t.get(0) else t)
    ColumnBridge.column(InSet(ColumnBridge.expression(if (one) keys.head else struct(keys: _*)),
      set.map(CatalystTypeConverters.convertToCatalyst).toSet))
  }

  /** The store's rows whose `keys` are among `tuples`, projected to `cols`:
    * one Spark job. Bounded by the request for a store keyed on `keys`.
    */
  private def storedFor(store: DataFrame, keys: Seq[String], tuples: Seq[Row], cols: Column*): Seq[Row] =
    store.filter(keyIn(keys.map(col), tuples)).select(cols: _*).collect().toSeq

  /** The fetch of `needed` request rows (schema `request`) from `feed`,
    * evaluated ONCE, with the job's clock `now` evaluated once on the
    * driver and attached as `updated_at`: rows and their local relation.
    *
    * The feed's rows for the needed keys come from one [[keyIn]] filter,
    * and the join to `needed` on `keys` runs on the driver: a request row
    * gets every feed row of its key, so a key requested twice gets its
    * rows twice, as the join did. The key fields are the request's, as a
    * join's using columns are.
    */
  private def pinFetch(request: StructType, needed: Seq[Row], keys: Seq[String], feed: DataFrame,
      now: Column): (Seq[Row], DataFrame) = {
    val spark = feed.sparkSession
    def keyOf(schema: StructType): Row => Row = {
      val idx = keys.map(schema.fieldIndex)
      r => Row.fromSeq(idx.map(r.get))
    }
    val neededKeys = needed.map(keyOf(request))
    val byKey = feed.filter(keyIn(keys.map(col), neededKeys)).collect().toSeq.groupBy(keyOf(feed.schema))
    val clock = scalars(spark, now.as("updated_at"))
    val at = clock.head().get(0)
    val rows = neededKeys.flatMap(byKey.getOrElse(_, Nil)).map(r => Row.fromSeq(r.toSeq :+ at))
    val schema = StructType(feed.schema.map(f => if (keys.contains(f.name)) request(f.name) else f))
    (rows, local(spark, schema.add(clock.schema.head), rows))
  }

  /** EXCLUDED-wins upsert of freshly fetched rows: an explicit source
    * priority (fresh=1 > store=0) first, like historicalBackfill, since
    * `updated_at` alone can TIE (a stored row from a retried run carries the
    * same pinned `now`). Every fresh row carries that same `now`, so the
    * value columns follow as tiebreakers: two quotes the feed delivers for
    * one key resolve the same way whatever the delivery order or
    * partitioning (Merge.lastWins' total-order contract).
    */
  private def upsertFresh(store: DataFrame, fresh: DataFrame, keys: Seq[String]): DataFrame =
    Merge.upsert(
      store.withColumn("__src", lit(0)),
      fresh.withColumn("__src", lit(1)),
      keys,
      ("__src" +: "updated_at" +: fresh.columns.filterNot(c => keys.contains(c) || c == "updated_at")).map(col)
    ).drop("__src")

  /** The first day of `c`'s month, as a date. */
  private def monthOf(c: Column): Column = to_date(date_trunc("month", c))

  /** Reference batch count for a single final message of `n` records, 100
    * per batch (`fetch_market_data.py:93`, `fetch_market_index_data.py:171`).
    */
  private def batchesOf100(n: Long): Long = (n + 99) / 100

  /** §3.1 MARKET_DATA_UPDATE_REQUEST: anti-join update planning → fetch
    * (key filter) → required-field validation → last-wins upsert → completion.
    */
  def marketDataUpdate(
      requests: DataFrame, // (symbol, asset_type)
      store: DataFrame,    // snapshot keyed (symbol, asset_type)
      quotes: DataFrame,   // feed with RequiredFields columns
      now: Column): JobResult = {
    val spark = store.sparkSession
    val request = requests.select(SnapshotKeys.map(col): _*)
    val requested = request.collect().toSeq
    // B7: the request rows whose key the store lacks (a NULL key never
    // matches, so it is "needed" and then drops out of the fetch)
    val stored = storedFor(store, SnapshotKeys, requested, SnapshotKeys.map(col): _*).toSet
    val (rows, valid) = pinFetch(request.schema, requested.filterNot(stored), SnapshotKeys,
      Relational.filterValid(quotes, RequiredFields), now)
    val updated = upsertFresh(store, valid, SnapshotKeys)
    // the job's asset identity is the composite key — a symbol listed under
    // two asset types is two assets, like the reference's len(assets) over
    // (symbol, asset_type) request entries (both keys are non-null: valid)
    val key = SnapshotKeys.map(valid.schema.fieldIndex)
    val assets = rows.map(r => key.map(r.getString)).distinct
    val n = rows.size.toLong
    val completion = local(spark, MarketCompletion,
      Seq(Row(n, batchesOf100(n), assets.size.toLong, "complete")))
    JobResult(updated, completion)
  }

  /** §3.2 HISTORICAL_MARKET_DATA_REQUEST: coverage scan → month-gap
    * detection → range-bounded fetch (key-month filter) → monthly
    * last-close upsert keyed (symbol, date, asset_type) → completion.
    */
  def historicalBackfill(
      requests: DataFrame, // (symbol, asset_type)
      store: DataFrame,    // monthly rows (symbol, date, asset_type, price)
      series: DataFrame,   // feed (symbol, asset_type, datetime ts, close)
      start: Column,
      stop: Column): JobResult = {
    val spark = requests.sparkSession
    val keyCols = Seq("asset_type", "symbol")
    val keys = requests.select(keyCols.map(col): _*).collect().toSeq
      .map(r => (r.getString(0), r.getString(1))).distinct
    // B10 (Incremental.gapDetection): the month spine of each requested key
    // — both bounds truncated to their month, empty when inverted
    // (Incremental.monthSpine) — minus the months the store covers; one
    // [gap_start, gap_end] fetch span per key with a hole (range
    // coalescing, fetch_utils.py:231)
    val bounds = scalars(spark, monthOf(start), monthOf(stop)).head()
    val spine =
      if (bounds.anyNull) Nil
      else Iterator.iterate(bounds.getDate(0).toLocalDate)(_.plusMonths(1))
        .takeWhile(!_.isAfter(bounds.getDate(1).toLocalDate)).map(Date.valueOf).toSeq
    val covered = storedFor(store.withColumn("month", monthOf(col("date"))), keyCols :+ "month",
      for ((t, s) <- keys; m <- spine) yield Row(t, s, m), (keyCols :+ "month").map(col): _*).toSet
    // each key's [gap_start, gap_end] span as its spine cells: a feed row
    // whose (key, month) is a cell is exactly one with datetime in
    // [gap_start, add_months(gap_end, 1))
    val cells = keys.flatMap { case (t, s) =>
      val missing = spine.indices.filterNot(i => covered(Row(t, s, spine(i))))
      if (missing.isEmpty) Nil else spine.slice(missing.head, missing.last + 1).map(Row(t, s, _))
    }
    // over-fetch each span, then collapse via upsert. Pinned ONCE
    // (distributed: it scales with history length, not with the request).
    // The symbol's hash probe goes first, so only the requested symbols'
    // rows compute their month and probe the cells
    val fetched = series
      .filter(keyIn(Seq(col("symbol")), cells.map(c => Row(c.get(1)))) &&
        keyIn(Seq(col("asset_type"), col("symbol"), monthOf(col("datetime"))), cells))
      .localCheckpoint(true)
    // ONE window does both the monthly last-close and the upsert. EXCLUDED-
    // wins (ON CONFLICT DO UPDATE SET price = EXCLUDED.price,
    // fetch_historical_market_data.py:92-103): a coalesced [gap_start,
    // gap_end] span can re-fetch months the store already covers, and the
    // freshly fetched value must ALWAYS replace the stored one — so the
    // merge orders by an explicit source-priority column (delta=1 >
    // store=0) first, never by a payload value. Among fetched rows the
    // month's last close wins; close rides as the final tiebreaker: two
    // feed rows with the same (symbol, type, datetime) — duplicate delivery
    // or a vendor correction — must resolve deterministically
    // (Merge.lastWins' total-order contract)
    val updated = Merge.upsert(
      store.withColumn("__src", lit(0)).withColumn("datetime", lit(null).cast("timestamp")),
      fetched.select(
        col("symbol"), col("asset_type"),
        monthOf(col("datetime")).as("date"),
        col("close").as("price"), col("datetime"), lit(1).as("__src")),
      Seq("symbol", "asset_type", "date"),
      Seq(col("__src"), col("datetime"), col("price"))).drop("__src", "datetime")
    // record counts are over FETCHED rows (the reference's len(data) /
    // total_record_count), not the collapsed monthly rows — a month with 30
    // daily feed rows counts 30 fetched records but stores one row. ONE job:
    // each task counts its rows per key (non-null: they matched a cell)
    val fetchedPerKey = PlanBridge.internalRows(fetched.select(keyCols.map(col): _*))
      .mapPartitions { it =>
        val n = mutable.HashMap.empty[(String, String), Long]
        it.foreach { r =>
          val k = (r.getUTF8String(0).toString, r.getUTF8String(1).toString)
          n(k) = n.getOrElse(k, 0L) + 1
        }
        n.iterator
      }.collect().groupMapReduce(_._1)(_._2)(_ + _)
    // per-batch completion events (publish-inside-the-loop,
    // fetch_historical_market_data.py:207-213): requested symbols batched
    // 50 per asset type, one payload row per batch with the batch's symbol
    // list and its fetched-record count (0-record symbols still listed)
    val batches = Batching.chunkPerGroup(keys, 50)
    // total_batches must RECONCILE with the per-batch payloads: batching is
    // per asset type, so the total is the number of (asset_type, batch_id)
    // slots — a global ceil(distinct symbols / 50) undercounts whenever
    // more than one asset type is requested
    val completion = local(spark, HistoricalCompletion, Seq(Row(
      fetchedPerKey.values.sum, batches.size.toLong,
      fetchedPerKey.keySet.map(_._2).size.toLong, "complete")))
    val perBatch = local(spark, perBatchSchema(requests.schema("asset_type")),
      batches.map { case (assetType, batchId, symbols) =>
        Row(assetType, batchId, symbols.filter(_ != null), symbols.size.toLong,
          symbols.map(s => fetchedPerKey.getOrElse((assetType, s), 0L)).sum, "complete")
      })
      .withColumn("start_date", to_date(start))
      .withColumn("end_date", to_date(stop))
    JobResult(updated, completion, Some(perBatch))
  }

  /** `Batching.completionPerBatch`'s schema over a request list whose group
    * column is `assetType`.
    */
  private def perBatchSchema(assetType: StructField): StructType = StructType(Seq(
    assetType,
    StructField("batch_id", LongType),
    StructField("symbols", ArrayType(StringType, containsNull = false), nullable = false),
    StructField("symbol_count", LongType, nullable = false),
    StructField("record_count", LongType),
    Status))

  /** Completion of an answer served from the store's `stored` rows. */
  private def cachedCompletion(spark: SparkSession, stored: Seq[Row], status: String): DataFrame = {
    val symbols = stored.map(_.getString(0))
    local(spark, CachedCompletion,
      Seq(Row(symbols.size.toLong, symbols.filter(_ != null).distinct.size.toLong, 0L, status)))
  }

  /** §3.3 error path — stale-on-error fallback
    * (`fetch_market_index_data.py:205-221`): if the fetch (or any downstream
    * step) throws, serve the cached rows for the requested symbols with a
    * degraded status instead of failing the job.
    */
  def indexUpdateWithFallback(
      requests: DataFrame,
      store: DataFrame,
      fetchQuotes: () => DataFrame,
      now: Column): JobResult =
    try {
      val r = indexUpdate(requests, store, fetchQuotes(), now)
      // pin the evaluated store, not just probe it: an un-checkpointed
      // lineage would RE-RUN the upsert at the caller's action, where a
      // failing store read could throw outside this try. The completion
      // is already a local relation (nothing left to evaluate)
      r.copy(store = r.store.localCheckpoint(true))
    } catch {
      case NonFatal(_) =>
        val requested = requests.select(col("symbol")).collect().toSeq
        JobResult(store, cachedCompletion(store.sparkSession,
          storedFor(store, Seq("symbol"), requested, col("symbol")), "stale_fallback"))
    }

  /** B15 — retry-queue partition: split a fetch-attempt relation into
    * succeeded / retryable / skipped by error class (the reference's
    * `handle_api_error`, `etl/fetch_utils.py:235-258`: 429 → retry,
    * 404 → skip, and any OTHER error also retries — its else branch
    * returns should_retry=True). Statuses outside the known classes —
    * including NULL, which every three-valued-logic filter would
    * otherwise drop from all three slices — land in the retryable slice,
    * never silently vanish.
    * The bounded re-drive loop itself is driver control flow (see
    * [[fetchWithRetry]]) — kept out of the relational layer on purpose,
    * like the reference keeps it out of SQL.
    */
  def partitionByErrorClass(attempts: DataFrame, statusCol: String): (DataFrame, DataFrame, DataFrame) = (
    attempts.filter(col(statusCol) === "ok"),
    attempts.filter(col(statusCol).isNull || !col(statusCol).isin("ok", "not_found")),
    attempts.filter(col(statusCol) === "not_found"))

  /** B15 — bounded semantic retry: re-drive only the retryable slice, at most
    * `maxRetries` extra passes (reference default 3; the 60s sleep is an
    * external concern injected by the caller between passes).
    *
    * Each pass's attempt relation is pinned with `localCheckpoint` before the
    * status split: a live fetch source is nondeterministic, and without the
    * pin the lazily-kept `ok` lineage would re-execute every pass's fetch at
    * action time — retry decisions and the final output must come from ONE
    * evaluation. An empty request set returns an empty DataFrame with
    * `fetchOnce`'s schema (no passes run). A key still retryable when the
    * budget exhausts contributes NO rows — with per-record statuses its
    * partial ok rows are withheld each pass (the re-fetch re-delivers
    * them), so the result never double-counts a key's data.
    */
  def fetchWithRetry(
      requests: DataFrame,
      fetchOnce: DataFrame => DataFrame, // returns rows + statusCol
      statusCol: String,
      maxRetries: Int = 3,
      keyCols: Seq[String] = Seq("symbol")): DataFrame = {
    var ok: Option[DataFrame] = None
    var pending = requests
    var pass = 0
    while (pass <= maxRetries && !pending.isEmpty) {
      val attempt = fetchOnce(pending).localCheckpoint(true)
      val (succeeded, retryable, _) = partitionByErrorClass(attempt, statusCol)
      val retryKeys = retryable.select(keyCols.map(col): _*).distinct()
      // a key that is being RETRIED contributes nothing this pass — with
      // per-record statuses, a key can return ok rows AND a retryable row,
      // and the full re-fetch next pass would duplicate the ok rows
      val cleanOk = succeeded.join(retryKeys, keyCols, "left_anti")
      ok = Some(ok.fold(cleanOk)(_.unionByName(cleanOk)))
      pending = pending.join(retryKeys, keyCols, "left_semi")
      pass += 1
    }
    ok.getOrElse(fetchOnce(requests.limit(0)).limit(0))
  }

  /** §3.3 MARKET_INDEX_DATA_UPDATE_REQUEST: cache-first short-circuit →
    * batched fetch (key filter) → rename projection → single-key upsert →
    * completion; on a failed/empty fetch the cached rows are re-emitted
    * (stale-on-error fallback).
    */
  def indexUpdate(
      requests: DataFrame, // (symbol)
      store: DataFrame,    // index snapshot keyed (symbol)
      quotes: DataFrame,   // feed (symbol, regularMarketPrice, …)
      now: Column): JobResult = {
    val spark = store.sparkSession
    val request = requests.select(col("symbol"))
    val requested = request.collect().toSeq
    // the request's stored rows: both the B9 cache-first test (every
    // requested symbol stored) and, when it holds, the cached answer's
    // counts
    val stored = storedFor(store, Seq("symbol"), requested, col("symbol"))
    if (requested.forall(stored.toSet)) {
      // B9: everything cached — re-emit existing rows, no fetch
      JobResult(store, cachedCompletion(spark, stored, "complete_cached"))
    } else {
      // pinned ONCE: a live quote source is nondeterministic, and both
      // outputs (store AND completion) must describe the SAME evaluation
      // — without this, a caller materializing them separately could see
      // a completion that doesn't count the rows actually upserted
      val (rows, fetched) = pinFetch(request.schema, requested, Seq("symbol"), Relational.renameProject(
        quotes,
        Seq(
          "symbol" -> "symbol",
          "regularMarketPrice" -> "price",
          "regularMarketChange" -> "price_change",
          "regularMarketChangePercent" -> "percent_change",
          "regularMarketDayHigh" -> "price_high",
          "regularMarketDayLow" -> "price_low")), now)
      val updated = upsertFresh(store, fetched, Seq("symbol"))
      val n = rows.size.toLong
      val symbols = rows.map(_.getString(fetched.schema.fieldIndex("symbol"))).distinct.size.toLong
      JobResult(updated, local(spark, IndexCompletion,
        Seq(Row(n, batchesOf100(n), symbols, "complete"))))
    }
  }
}
