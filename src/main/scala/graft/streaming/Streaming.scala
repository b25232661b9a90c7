package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import graft.ops.Merge

/** Streaming request→job flow (SURVEY.md §2.A A1/A2, §2.B B19): the Spark
  * restatement of the reference's Kafka consume → topic dispatch → job →
  * completion produce loop, as Structured Streaming.
  *
  * The Kafka wiring itself is kept behind this interface (no broker in the
  * harness): [[kafkaRequestStream]] builds the real `readStream` plan;
  * tests drive the same transformations through a MemoryStream. Semantics
  * vs the reference: at-least-once consumption + idempotent keyed upsert —
  * re-delivered messages collapse in the last-wins merge exactly like the
  * reference's `ON CONFLICT DO UPDATE` (checkpointing upgrades the
  * processing-time poll loop, documented semantic upgrade per SURVEY.md §4).
  */
object Streaming {

  /** A1 — Kafka source plan: subscribe to the request topics, decode value
    * bytes, drop empty messages (the reference's empty-skip,
    * `etl/main.py:151-153`).
    */
  def kafkaRequestStream(spark: SparkSession, bootstrap: String, topics: Seq[String]): DataFrame =
    decodeRequests(
      spark.readStream
        .format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topics.mkString(","))
        .load())

  /** Value decode + empty-skip, shared by the live source and tests. */
  def decodeRequests(raw: DataFrame): DataFrame =
    raw
      .withColumn("value_str", col("value").cast("string"))
      .filter(length(trim(col("value_str"))) > 0)

  /** B19 — topic→job routing as a `when` chain; unknown topics are tagged
    * (the reference logs-and-skips them, `etl/main.py:156-160`).
    */
  def routeTopics(df: DataFrame, routes: Seq[(String, String)]): DataFrame = {
    // empty route table → everything is an unknown topic (don't crash on
    // routes.head; a config-driven table can legitimately resolve empty)
    val routed = routes match {
      case Seq() => lit("unknown")
      case (t0, j0) +: rest =>
        rest.foldLeft(when(col("topic") === t0, lit(j0))) {
          case (acc, (t, j)) => acc.when(col("topic") === t, lit(j))
        }.otherwise(lit("unknown"))
    }
    df.withColumn("job", routed)
  }

  /** A2 — completion publish plan: JSON-serialize the payload the way the
    * producer does (`etl/main.py:236`); callers attach the Kafka sink.
    */
  def completionPayload(df: DataFrame, topic: String): DataFrame =
    df.select(
      lit(topic).as("topic"),
      to_json(struct(df.columns.map(col): _*)).as("value"))

  /** Streaming exact dedup: drop re-deliveries of the same content key
    * within the watermark horizon (`dropDuplicatesWithinWatermark` — state
    * per key is evicted once the watermark passes, so dedup state is bounded
    * by the horizon's key arrival rate, not the stream's history; the
    * streaming leg of DedupOps.exactDedup for at-least-once document feeds).
    */
  def dedupWithinWatermark(
      stream: DataFrame,
      tsCol: String,
      keyCols: Seq[String],
      horizon: String): DataFrame =
    stream
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Run `body` (typically a `writeStream...start()`) with the RocksDB
    * state-store provider active — the PRODUCTION posture for unbounded
    * streams: per-executor state lives off-heap in RocksDB with incremental
    * snapshot+changelog checkpointing, so watermark-bounded stateful
    * operators ([[dedupWithinWatermark]], windowed aggs, stream-stream
    * joins) scale to key cardinalities far beyond JVM heap, where the
    * default HDFS-backed in-memory provider OOMs. The provider class is
    * captured at QUERY START, so exactly the queries started inside `body`
    * are affected; the previous setting is restored on exit. Restart
    * equivalence on this path (state reloaded from RocksDB checkpoint
    * files) and the provider's state-size metrics are pinned in
    * JobsStreamingSpec.
    */
  def withRocksDbStateStore[A](spark: SparkSession)(body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Stream-static dedup: drop stream rows whose content key already
    * exists in a STATIC store relation (left-anti stream-static join — no
    * state, no watermark; the store is re-resolved per micro-batch, so a
    * store table updated between batches is picked up). Complements
    * [[dedupWithinWatermark]]: that one bounds re-delivery WITHIN the
    * stream's horizon, this one screens against everything already
    * ingested. At scale the store side is the big one — the join keys on
    * the content digest, so only (digest) columns of the store are read
    * (column pruning), and a broadcast of the stream side is not needed:
    * Spark plans stream-static anti joins with the static side as the
    * build/lookup side per batch.
    */
  def dedupAgainstStore(stream: DataFrame, store: DataFrame, keyCols: Seq[String]): DataFrame =
    stream.join(store.select(keyCols.map(col): _*).distinct(), keyCols, "left_anti")

  /** Stream-stream interval join: attribute each right-stream event to
    * left-stream events of the same key that happened within `[left.ts,
    * left.ts + horizon]` — the click→purchase attribution shape. Both sides
    * carry watermarks equal to the horizon, so Spark bounds the join state:
    * a buffered left row is dropped once the right watermark passes
    * `left.ts + horizon`, making state proportional to the horizon's
    * arrival volume, never the stream's history. The same function applied
    * to batch frames degenerates to a plain range-predicate join —
    * batch/streaming equivalence is pinned in JobsStreamingSpec.
    *
    * Column contract: left columns are prefixed `l_`, right columns `r_`,
    * so callers can join a stream to itself without ambiguity.
    */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      tsCol: String,
      horizon: String): DataFrame = {
    val l = left.columns.foldLeft(left) { (d, c) => d.withColumnRenamed(c, s"l_$c") }
      .withWatermark(s"l_$tsCol", horizon)
    val r = right.columns.foldLeft(right) { (d, c) => d.withColumnRenamed(c, s"r_$c") }
      .withWatermark(s"r_$tsCol", horizon)
    l.join(
      r,
      col(s"l_$keyCol") === col(s"r_$keyCol") &&
        col(s"r_$tsCol") >= col(s"l_$tsCol") &&
        col(s"r_$tsCol") <= col(s"l_$tsCol") + expr(s"INTERVAL $horizon"))
  }

  /** A tick on the input stream and the stateful snapshot emitted per key. */
  case class Tick(symbol: String, asset_type: String, price: Double, seq: Long)
  case class TickState(price: Double, seq: Long, n_updates: Long)
  case class Snapshot(
      symbol: String, asset_type: String, price: Double,
      change: Double, n_updates: Long)

  /** Custom keyed state via flatMapGroupsWithState: per (symbol, asset_type)
    * keep the newest tick (seq-ordered, re-delivery safe) and a counter of
    * FRESH ticks applied (seq newer than the held state — stale
    * re-deliveries don't count), emitting a delta-bearing snapshot per key
    * per micro-batch — the arbitrary-state upgrade path beyond what
    * `foreachBatch` merge gives. State is per-key and partitioned by the
    * grouping key, so it scales with distinct keys, not events.
    */
  def statefulLatest(ticks: Dataset[Tick]): Dataset[Snapshot] = {
    import ticks.sparkSession.implicits._
    ticks
      .groupByKey(t => (t.symbol, t.asset_type))
      .flatMapGroupsWithState[TickState, Snapshot](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case ((symbol, assetType), rows, state: GroupState[TickState]) =>
          val prev = state.getOption
          val batch = rows.toList
          val prevSeq = prev.map(_.seq).getOrElse(Long.MinValue)
          // DISTINCT seqs: at-least-once delivery can put two copies of the
          // same tick into ONE micro-batch, and both compare against the
          // pre-batch state — counting rows would inflate n_updates
          val fresh = batch.filter(_.seq > prevSeq).map(_.seq).distinct.size
          val newest = (batch ++ prev.map(s => Tick(symbol, assetType, s.price, s.seq)))
            .maxBy(t => t.seq)
          val nUpdates = prev.map(_.n_updates).getOrElse(0L) + fresh
          state.update(TickState(newest.price, newest.seq, nUpdates))
          val change = prev.map(p => newest.price - p.price).getOrElse(0.0)
          Iterator.single(Snapshot(symbol, assetType, newest.price, change, nUpdates))
      }
  }

  /** A time-series observation on the input stream and the smoothed point
    * emitted per observation by [[statefulEwma]].
    */
  case class SeriesPoint(symbol: Long, seq: Long, price: Double)
  case class EwmaState(lastFp: Long, lastSeq: Long)
  case class EwmaPoint(symbol: Long, seq: Long, price: Double, ewma_fp: Long, ewma: Double)

  /** Streaming fixed-point EWMA — [[graft.ops.Analytics.ewmaFixedPoint]]'s
    * recurrence as keyed streaming state: per symbol the state is ONE long
    * (the last smoothed value), each arriving observation folds in as
    * s ← (fp + (k−1)·s) div k, and the smoothed point is emitted
    * immediately — O(keys) state, O(batch) work per micro-batch, the
    * streaming face of the same integer recurrence (a spec pins the
    * streamed trajectory bit-equal to the batch operator's).
    *
    * Ordering contract: observations must arrive seq-ascending per key
    * ACROSS micro-batches (an EWMA is order-defined); within a batch rows
    * are sorted by seq here. Anything at or below the committed seq is
    * dropped SILENTLY: an at-least-once source legitimately replays whole
    * spans of already-folded observations after an offset reset, and every
    * seq ≤ committed is either such a replay (already in the state) or an
    * upstream ordering violation the operator cannot distinguish from one
    * — feeds that can genuinely produce late NEW seqs need an upstream
    * sort/watermark stage before this operator.
    */
  def statefulEwma(points: Dataset[SeriesPoint], alphaInv: Int = 4): Dataset[EwmaPoint] = {
    require(alphaInv >= 2, "alphaInv must be >= 2 (alpha = 1/alphaInv)")
    import points.sparkSession.implicits._
    points
      .groupByKey(_.symbol)
      .flatMapGroupsWithState[EwmaState, EwmaPoint](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (symbol, rows, state: GroupState[EwmaState]) =>
          var sOpt = state.getOption
          val out = rows.toList.sortBy(p => (p.seq, p.price)).flatMap { p =>
            val committed = sOpt.map(_.lastSeq).getOrElse(Long.MinValue)
            if (p.seq <= committed) None // at-least-once replay span: already folded
            else {
              val fp = math.round(p.price * 1e6)
              val next = sOpt match {
                case None => fp
                // plain Long `/` truncates toward zero, matching the batch
                // recurrence's SQL `div` — floorDiv would diverge by one fp
                // unit whenever the smoothed numerator goes negative
                case Some(st) => (fp + (alphaInv - 1) * st.lastFp) / alphaInv
              }
              sOpt = Some(EwmaState(next, p.seq))
              Some(EwmaPoint(symbol, p.seq, p.price, next, next.toDouble / 1e6))
            }
          }
          sOpt.foreach(state.update)
          out.iterator
      }
  }

  private def fsFor(spark: SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /** Committed (`_SUCCESS`-marked) `<prefix><id>` subdirectories of `dir`,
    * newest id first. Subdirectories matching the prefix WITHOUT a commit
    * marker are leftovers of a crashed write and are DELETED here, so no
    * reader ever sees partial files — this is the store layer's crash
    * fencing (a crash mid-write must never be mistaken for a recoverable
    * store, and must never shadow the previous good copy).
    */
  private def committedSlots(
      spark: SparkSession,
      dir: String,
      prefix: String): Seq[(Long, org.apache.hadoop.fs.Path)] = {
    val (fs, p) = fsFor(spark, dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
      .flatMap { s =>
        scala.util.Try(s.getPath.getName.stripPrefix(prefix).toLong).toOption match {
          case None => None
          case Some(id) =>
            if (fs.exists(new org.apache.hadoop.fs.Path(s.getPath, "_SUCCESS"))) Some(id -> s.getPath)
            else { fs.delete(s.getPath, true); None }
        }
      }
      .sortBy(-_._1)
  }

  /** Promote a committed staged version write (`.v-<id>`) into its `v=<id>`
    * slot — the second half of the stage→rename protocol, idempotent so a
    * crash at any point is completed (committed staging) or rolled back
    * (uncommitted staging, fenced by [[committedSlots]]) on recovery.
    * Shared by every versioned store ([[SnapshotStream]],
    * [[NearDupClusterStream]]).
    */
  private def promoteStagedVersion(spark: SparkSession, d: String): Unit = {
    val (fs, _) = fsFor(spark, d)
    val staged = committedSlots(spark, d, ".v-")
    staged.drop(1).foreach { case (_, t) => fs.delete(t, true): Unit }
    staged.headOption.foreach { case (id, tmp) =>
      val target = new org.apache.hadoop.fs.Path(d, s"v=$id")
      if (fs.exists(target)) fs.delete(target, true): Unit
      fs.rename(tmp, target): Unit
    }
  }

  /** Maintained keyed snapshot over a micro-batched stream: every batch is
    * merged last-wins into the running state (the reference's upsert sink,
    * A11). State is lineage-truncated each batch so the plan doesn't grow.
    *
    * Durability: with `storeDir` set, each batch persists the merged
    * snapshot as a new VERSION directory (`v=<batchId>`), and only after
    * that write commits (`_SUCCESS`) are older versions deleted — a crash
    * mid-write can never destroy the previous good copy (uncommitted
    * version dirs are fenced off and removed on recovery). A (re)started
    * instance resumes from the newest committed version; the checkpoint's
    * replayed in-flight batch collapses in the keyed last-wins merge
    * (re-applying a batch is a no-op; pinned by JobsStreamingSpec's
    * kill-and-restart case). Without `storeDir` the state is driver-memory
    * only and the batch-vs-stream equality holds within one uninterrupted
    * run. At real scale the persist step becomes a Delta/JDBC MERGE (which
    * provides the same atomic-commit property); the merge function is the
    * same.
    */
  class SnapshotStream(
      keys: Seq[String],
      orderCols: Seq[String],
      storeDir: Option[String] = None) {
    @volatile private var state: Option[DataFrame] = None

    def current: Option[DataFrame] = state

    def start(stream: DataFrame, checkpointDir: String): StreamingQuery = {
      val spark = stream.sparkSession
      // restart recovery: finish any interrupted version promotion, fence
      // crashed partial writes, then resume from the newest committed
      // version; the replayed in-flight batch merges into that state
      if (state.isEmpty) storeDir.foreach { d =>
        promoteStagedVersion(spark, d)
        committedSlots(spark, d, "v=").headOption.foreach { case (_, path) =>
          state = Some(spark.read.parquet(path.toString))
        }
      }
      stream.writeStream
        .option("checkpointLocation", checkpointDir)
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val merged = state match {
            case Some(prev) => Merge.upsert(prev, batch, keys, orderCols.map(col))
            case None       => Merge.lastWins(batch, keys, orderCols.map(col))
          }
          // pin BEFORE persisting: the recovered state lazily reads files
          // the version cleanup below may delete
          val pinned = merged.localCheckpoint(true)
          state = Some(pinned)
          storeDir.foreach { d =>
            val (fs, _) = fsFor(spark, d)
            // stage → promote, never overwrite in place: a REPLAYED batch
            // rewrites its own version id, and an in-place overwrite would
            // first delete the only committed copy — a crash mid-rewrite
            // would then lose every prior batch. The dot-prefixed staging
            // dir is invisible to readers; promotion is an atomic rename;
            // older versions are deleted only after the new one is live
            pinned.write.mode("overwrite").parquet(s"$d/.v-$batchId")
            promoteStagedVersion(spark, d)
            committedSlots(spark, d, "v=").filter(_._1 != batchId)
              .foreach { case (_, old) => fs.delete(old, true) }
          }
        }
        .start()
    }
  }

  /** Maintained keyed rollup over a micro-batched stream: each batch is
    * partially aggregated (count + exact decimal sum) and monoid-merged
    * into the running rollup (Analytics.mergePartialAggs) — the streaming
    * form of incremental aggregate maintenance, exactly equal to a batch
    * aggregate over all rows ever seen because the merge is associative
    * and the decimal sums never round. The maintained state is |keys|-sized
    * regardless of stream volume, and lineage is truncated per batch.
    * Unlike the built-in streaming aggregation (whose `update` output
    * re-emits changed rows to a sink), this keeps a queryable TABLE of
    * current totals — the reference's "store" role (A11-A13) for
    * aggregates instead of snapshots.
    *
    * Durability: sums are NOT idempotent under re-delivery, so (unlike
    * [[SnapshotStream]]) the persistent form keys the store BY BATCH ID —
    * each batch's partial overwrites `storeDir/batch_id=<id>`, making the
    * checkpoint's replay of an in-flight batch a no-op overwrite, and the
    * rollup is the monoid-merge of all persisted partials (rebuilt on
    * restart; exactly-once across kills, pinned by JobsStreamingSpec).
    * Without `storeDir`, the equality claim is scoped to one uninterrupted
    * run. At scale the per-batch partials are the compaction inputs a
    * nightly job folds into a base rollup.
    */
  /** Shared spine of the maintained-monoid stream family
    * ([[RollupStream]] / [[HllStream]] / [[KmvStream]] /
    * [[CdcCarrierStream]] / [[DomainStatsStream]]): each micro-batch
    * contributes a PARTIAL relation, the running state is a key-wise
    * monoid fold of every partial ever seen, and durability is the
    * per-batch SLOT protocol — one idempotently-overwritten
    * `batch_id=<id>` parquet slot per batch, restart rebuild by folding
    * the committed slots, and between-runs [[compact]]ion into a
    * negative-id base slot (staged dot-prefixed, promoted by atomic
    * rename). Subclasses supply ONLY the three monoid hooks; the slot
    * fencing / recovery / fold protocol exists exactly once here.
    */
  abstract class MonoidSlotStream(storeDir: Option[String]) {
    /** The batch's own contribution, already in state form. */
    protected def partial(batch: DataFrame): DataFrame
    /** Fold a stacked many-partials relation (slot column already
      * dropped) into one state relation.
      */
    protected def foldPartials(partials: DataFrame): DataFrame
    /** Merge the running state with one new partial. */
    protected def mergeOne(prev: DataFrame, part: DataFrame): DataFrame

    /** Subclass hook invoked once per batch with the PRE-merge state and
      * the batch partial — for derived structures maintained NEXT TO the
      * monoid state (e.g. [[HnswIndexStream]]'s adjacency fold). MUST be
      * idempotent under checkpoint replay: the first batch after a
      * restart can be a re-delivery, and the base class only fences the
      * primary state (via the slot rebuild), not what this hook builds.
      */
    protected def onBatch(prev: Option[DataFrame], part: DataFrame): Unit = ()

    @volatile private var state: Option[DataFrame] = None
    // false until this query instance has processed its first batch: the
    // FIRST batch after a (re)start may be a checkpoint replay whose
    // partial is already in the recovered state, so it must rebuild from
    // the on-disk slots (its overwrite is a no-op); every later batchId is
    // guaranteed new, so steady state is a pure O(|keys|) monoid merge —
    // the per-batch cost never grows with stream lifetime
    @volatile private var incremental = false
    // slot ids are `slotBase + batchId`, with the base allocated ONCE per
    // checkpoint LINEAGE (see epochBase) — raw batchIds would let a fresh
    // checkpoint over an existing store restart at 0 and silently
    // OVERWRITE the oldest slots with unrelated batches' data
    @volatile private var slotBase = 0L

    /** Slot-id base for this (store, checkpoint lineage). Two restart
      * shapes must coexist:
      *
      *  - a RETAINED checkpoint replays the in-flight batch under its
      *    ORIGINAL batchId, and the replay fence is that it overwrites
      *    its own slot with the same data (non-idempotent folds — the
      *    rollup sums — depend on this, so replayed ids must keep
      *    mapping to the same slot);
      *  - a FRESH checkpoint over an existing store restarts batchId at
      *    0, which under raw-batchId slots would overwrite the oldest
      *    slots with unrelated data (observed as silent store truncation
      *    in the HNSW restart spec).
      *
      * Resolution: the base for a checkpoint lineage is `max existing
      * slot id + 1` at first contact, persisted under
      * `.ck_epoch/<urlencoded checkpoint path>` (dot-prefixed: invisible
      * to the parquet reads) so the SAME lineage always re-reads the
      * same base — replay overwrites stay no-ops, new lineages append.
      * Deleting a checkpoint dir should delete its epoch marker too; a
      * RECREATED checkpoint at the same path with the marker left behind
      * would re-use the old base and collide like raw batchIds did.
      */
    private def epochBase(spark: SparkSession, d: String, ck: String): Long = {
      val (fs, _) = fsFor(spark, d)
      val enc = java.net.URLEncoder.encode(
        new java.io.File(ck).getAbsolutePath, "UTF-8")
      val marker = new org.apache.hadoop.fs.Path(d, s".ck_epoch/$enc")
      if (fs.exists(marker)) {
        val buf = new Array[Byte](fs.getFileStatus(marker).getLen.toInt)
        val in = fs.open(marker)
        try in.readFully(0, buf) finally in.close()
        new String(buf, "UTF-8").trim.toLong
      } else {
        val base =
          committedSlots(spark, d, "batch_id=").headOption.fold(0L)(_._1 + 1L)
        val out = fs.create(marker, true)
        try out.write(base.toString.getBytes("UTF-8")) finally out.close()
        base
      }
    }

    /** The maintained state relation. */
    def current: Option[DataFrame] = state

    private def mergeAll(partials: DataFrame): DataFrame =
      foldPartials(partials.drop("batch_id"))

    /** Complete or roll back an interrupted [[compact]] — idempotent: a
      * COMMITTED `.compact-<id>` staging dir proves the folded base was
      * fully written, so recovery finishes the job (delete the folded
      * slots, rename the staging dir into place); an uncommitted staging
      * dir is a crashed write and is fenced off by [[committedSlots]].
      * Staging dirs are dot-prefixed, which Spark's file index ignores —
      * a half-finished compaction is invisible to every reader.
      */
    private def recoverCompaction(spark: SparkSession, d: String): Unit = {
      val (fs, _) = fsFor(spark, d)
      val tmps = committedSlots(spark, d, ".compact-")
      tmps.drop(1).foreach { case (_, t) => fs.delete(t, true): Unit }
      tmps.headOption.foreach { case (id, tmp) =>
        committedSlots(spark, d, "batch_id=").foreach { case (_, s) => fs.delete(s, true): Unit }
        fs.rename(tmp, new org.apache.hadoop.fs.Path(d, s"batch_id=$id")): Unit
      }
    }

    /** Fold all per-batch partial slots into one base slot — the compaction
      * a long-lived store needs, since restart rebuild cost is O(slots).
      * Correct because the fold is the same monoid the stream applies, and
      * crash-safe at every point: the folded base is STAGED to a
      * dot-prefixed dir first (invisible to readers), only a committed
      * staging dir triggers slot deletion, and an interruption anywhere is
      * completed or rolled back by [[recoverCompaction]] on the next
      * start/compact. MUST run between query runs (offsets committed): a
      * checkpoint replay arriving after compaction would re-add a batch the
      * base already folded. Returns the number of slots folded (0 when
      * nothing to compact).
      */
    def compact(spark: SparkSession): Int = storeDir match {
      case Some(d) =>
        recoverCompaction(spark, d)
        val slots = committedSlots(spark, d, "batch_id=")
        if (slots.length <= 1) 0
        else {
          val (fs, _) = fsFor(spark, d)
          // a fresh id below every existing slot — never collides with a
          // replayed batch id (those are non-negative and increasing)
          val newBase = math.min(slots.map(_._1).min, 0L) - 1
          val merged = mergeAll(spark.read.parquet(d)).localCheckpoint(true)
          merged.write.mode("overwrite").parquet(s"$d/.compact-$newBase")
          slots.foreach { case (_, s) => fs.delete(s, true): Unit }
          fs.rename(
            new org.apache.hadoop.fs.Path(d, s".compact-$newBase"),
            new org.apache.hadoop.fs.Path(d, s"batch_id=$newBase")): Unit
          state = Some(merged)
          slots.length
        }
      case _ => 0
    }

    def start(stream: DataFrame, checkpointDir: String): StreamingQuery = {
      val spark = stream.sparkSession
      incremental = false
      storeDir.foreach { d =>
        // finish any interrupted compaction and fence crashed slot writes
        // BEFORE anything reads the store dir
        recoverCompaction(spark, d)
        slotBase = epochBase(spark, d, checkpointDir)
        if (state.isEmpty && committedSlots(spark, d, "batch_id=").nonEmpty)
          state = Some(mergeAll(spark.read.parquet(d)).localCheckpoint(true))
      }
      stream.writeStream
        .option("checkpointLocation", checkpointDir)
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val part = partial(batch).localCheckpoint(true)
          onBatch(state, part)
          state = storeDir match {
            case Some(d) =>
              // idempotent slot write (epoch-offset id — see epochBase);
              // replay-safe rebuild only on the first batch of this
              // query instance
              part.write.mode("overwrite").parquet(s"$d/batch_id=${slotBase + batchId}")
              if (!incremental) {
                incremental = true
                committedSlots(spark, d, "batch_id=") // fence crashed slots
                Some(mergeAll(spark.read.parquet(d)).localCheckpoint(true))
              } else Some(mergeOne(state.get, part).localCheckpoint(true))
            case None =>
              Some((state match {
                case Some(prev) => mergeOne(prev, part)
                case None       => part
              }).localCheckpoint(true))
          }
        }
        .start()
    }
  }

  class RollupStream(
      keys: Seq[String],
      valueCol: String,
      storeDir: Option[String] = None)
      extends MonoidSlotStream(storeDir) {
    protected def partial(batch: DataFrame): DataFrame =
      graft.ops.Analytics.partialAgg(batch, keys, valueCol)
    protected def foldPartials(partials: DataFrame): DataFrame =
      graft.ops.Analytics.mergePartialAggs(Seq(partials), keys)
    protected def mergeOne(prev: DataFrame, part: DataFrame): DataFrame =
      graft.ops.Analytics.mergePartialAggs(Seq(prev, part), keys)
  }

  /** Maintained fixed-point HLL distinct-count registers over a
    * micro-batched stream — the sketch-monoid sibling of [[RollupStream]]
    * (which maintains exact count+sum): each batch contributes its
    * [[graft.ops.Analytics.hllRegisters]] relation and the running state is
    * the [[graft.ops.Analytics.hllMerge]] max-fold, so the maintained
    * registers are EXACTLY the one-shot registers over every row ever seen
    * (max is associative and commutative) and [[estimate]] derives the
    * distinct count at any moment without rescanning history. State is
    * ≤ |keys|·2^p rows regardless of stream volume.
    *
    * Durability rides the same per-batch slot protocol as RollupStream —
    * with one strengthening: register MAX is IDEMPOTENT, so unlike the
    * additive rollup a re-delivered or replayed batch can never corrupt
    * the state even without the slot fencing (re-merging the same
    * registers is a no-op; spec-pinned). The slots exist for restart
    * rebuild and between-runs [[compact]]ion, not for replay safety.
    */
  class HllStream(
      keys: Seq[String],
      valueCol: String,
      p: Int = graft.ops.Analytics.HllP,
      storeDir: Option[String] = None)
      extends MonoidSlotStream(storeDir) {
    protected def partial(batch: DataFrame): DataFrame =
      graft.ops.Analytics.hllRegisters(batch, keys, valueCol, p)
    protected def foldPartials(partials: DataFrame): DataFrame =
      graft.ops.Analytics.hllMerge(partials, keys)
    protected def mergeOne(prev: DataFrame, part: DataFrame): DataFrame =
      graft.ops.Analytics.hllMerge(prev.unionByName(part), keys)

    /** The distinct-count estimates derived from the current registers
      * (keys…, reg, mx).
      */
    def estimate: Option[DataFrame] =
      current.map(graft.ops.Analytics.hllEstimate(_, keys, p))
  }

  /** Maintained KMV (k-minimum-values) distinct-count sketch over a
    * micro-batched stream — the DETERMINISTIC sibling of [[HllStream]]:
    * the state per key is the k smallest md5-derived 60-bit hashes of
    * every value ever seen ([[graft.ops.Analytics.kmvSketch]]), folded per
    * batch by [[graft.ops.Analytics.kmvMerge]] (min-k of the distinct
    * union — a bounded-min monoid, associative and commutative), so the
    * maintained sketch EXACTLY equals the one-shot sketch over the full
    * history and [[estimate]] derives the distinct count at any moment.
    * State is ≤ |keys|·k rows regardless of stream volume.
    *
    * Same slot protocol and idempotence class as HllStream: min-k of a
    * union is insensitive to re-delivered values (distinct absorbs them),
    * so a replayed batch is a provable state no-op even without slot
    * fencing — the slots exist for restart rebuild and between-runs
    * [[compact]]ion. Unlike HLL registers the KMV sketch relation is
    * fully value-inspectable (pure md5 arithmetic), which is why the
    * batch form is the one sketch family the DuckDB oracle hash-checks
    * end to end; the stream maintains that same relation.
    */
  class KmvStream(
      keys: Seq[String],
      valueCol: String,
      k: Int = 64,
      storeDir: Option[String] = None)
      extends MonoidSlotStream(storeDir) {
    protected def partial(batch: DataFrame): DataFrame =
      graft.ops.Analytics.kmvSketch(batch, keys, valueCol, k)
    protected def foldPartials(partials: DataFrame): DataFrame =
      graft.ops.Analytics.kmvMerge(k, partials)
    protected def mergeOne(prev: DataFrame, part: DataFrame): DataFrame =
      graft.ops.Analytics.kmvMerge(k, prev, part)

    /** The distinct-count estimates derived from the current sketch
      * (keys…, hv, pos), pos 1..k.
      */
    def estimate: Option[DataFrame] =
      current.map(graft.ops.Analytics.kmvEstimate(_, keys, k))
  }

  /** Maintained CDC chunk-carrier statistics over a micro-batched document
    * stream — the streaming form of the content-defined-chunking dedup
    * story ([[graft.ops.DedupOps.cdcChunkDedup]]): each batch chunks its
    * own documents (chunking is stateless per document) and contributes
    * its `(chunk_id, n_carriers)` partial; the running state is the
    * [[graft.ops.DedupOps.mergeCdcCarriers]] key-wise sum, exact under
    * the doc-disjoint ingest contract (a document arrives in exactly one
    * batch — the incremental form's documented precondition). [[mark]]
    * screens any chunk relation against the maintained store at any
    * moment. State is ≤ |distinct chunks| rows; additive counts ride the
    * RollupStream slot protocol (replay safety IS the slot fencing).
    */
  class CdcCarrierStream(
      idCol: String,
      textCol: String,
      window: Int = 8,
      maskBits: Int = 5,
      minChunk: Int = 16,
      storeDir: Option[String] = None)
      extends MonoidSlotStream(storeDir) {
    protected def partial(batch: DataFrame): DataFrame =
      graft.ops.DedupOps.cdcCarrierStats(
        graft.ops.DedupOps.cdcChunks(batch, idCol, textCol, window, maskBits, minChunk),
        idCol)
    protected def foldPartials(partials: DataFrame): DataFrame =
      graft.ops.DedupOps.mergeCdcCarriers(partials)
    protected def mergeOne(prev: DataFrame, part: DataFrame): DataFrame =
      graft.ops.DedupOps.mergeCdcCarriers(prev, part)

    /** Screen a chunk relation against the maintained carrier store
      * (chunk_id, n_carriers) — the batch operator's marking step
      * verbatim.
      */
    def mark(chunks: DataFrame): Option[DataFrame] =
      current.map(graft.ops.DedupOps.cdcMarkFromStats(chunks, idCol, _))
  }

  /** Maintained per-DOMAIN reputation statistics over a micro-batched
    * document stream — the streaming form of the
    * [[graft.ops.TextOps.domainStats]]/[[graft.ops.TextOps.domainReputation]]
    * story: each batch contributes its `(domain, n_docs, sum_q_fp)`
    * partial and the running state is the
    * [[graft.ops.TextOps.mergeDomainStats]] key-wise sum, so the
    * maintained relation is EXACTLY the one-shot stats over every
    * document ever seen (counts are an additive monoid) and [[verdicts]]
    * derives the host gate at any moment without rescanning history.
    * State is ≤ |domains| rows regardless of stream volume.
    *
    * Durability rides the RollupStream per-batch slot protocol — counts
    * are ADDITIVE (not idempotent like the HLL max-fold), so replay
    * safety comes from the slot fencing: a re-delivered batch overwrites
    * its own slot rather than double-counting, and restart rebuild folds
    * the committed slots.
    */
  class DomainStatsStream(
      domainCol: String,
      textCol: String,
      storeDir: Option[String] = None)
      extends MonoidSlotStream(storeDir) {
    protected def partial(batch: DataFrame): DataFrame =
      graft.ops.TextOps.domainStats(batch, domainCol, textCol)
    protected def foldPartials(partials: DataFrame): DataFrame =
      graft.ops.TextOps.mergeDomainStats(partials)
    protected def mergeOne(prev: DataFrame, part: DataFrame): DataFrame =
      graft.ops.TextOps.mergeDomainStats(prev, part)

    /** The reputation verdicts derived from the current stats
      * (domain, n_docs, sum_q_fp) — the SAME derivation the batch
      * operator applies ([[graft.ops.TextOps.domainVerdicts]]).
      */
    def verdicts(minDocs: Long = 3L, minMeanFp: Long = 570000L): Option[DataFrame] =
      current.map(graft.ops.TextOps.domainVerdicts(_, minDocs, minMeanFp))
  }

  /** Maintained NEAR-DUP cluster labeling over a micro-batched document
    * stream — the streaming form of the incremental dedup story
    * (q_neardup_clusters_incr's store/batch cycle driven by a real
    * `foreachBatch` loop instead of a one-shot split). Three relations are
    * maintained across batches:
    *
    *  - the POSTING BANK `(s, __ids)` ([[graft.ops.DedupOps.shingleBank]]
    *    form: sorted doc ids per shingle over every document seen), the
    *    cross-candidate side future batches join against — bank×bank work
    *    is never repeated, and the corpus-wide df statistic IS the posting
    *    size (the hot-shingle cap `maxDocFreq` derives from it; 0 = exact
    *    uncapped semantics);
    *  - the per-doc set sizes `(id, n_sh)` — the Jaccard denominators and
    *    the banked-id fence;
    *  - the cluster labeling `(id, cluster_id)`, folded per batch by
    *    [[graft.ops.DedupOps.mergeClusters]] over batch-internal +
    *    bank-cross pairs.
    *
    * Equality contract: with `maxDocFreq = 0` the final labeling is
    * EXACTLY the from-scratch connected components over all documents ever
    * seen (pinned on the real sf0.001 corpus in StreamingDedupSpec). With
    * a cap, equality to a full-corpus-capped one-shot run additionally
    * requires the hot set to be PREFIX-STABLE (no shingle crosses the cap
    * mid-stream): a growing df statistic legitimately finds pairs through
    * shingles that only later become hot, which a one-shot run (whose cap
    * sees the final corpus) never indexes. That is inherent to any
    * df-capped incremental scheme, not an implementation artifact — the
    * spec pins capped equality on a corpus constructed cap-stable.
    *
    * At-least-once safety: documents are identified by `idCol`; a replayed
    * or re-delivered document is dropped by an anti-join against the
    * banked ids BEFORE it can double its df contributions or re-pair
    * (pinned: a fully re-fed batch leaves all three relations unchanged).
    *
    * Durability is DELTA-SLOT shaped (the [[RollupStream]] protocol, not
    * [[SnapshotStream]]'s full rewrite — at a 100 TB bank an O(corpus)
    * rewrite per micro-batch is the scale-killer): per batch, ONE slot
    * directory (`batch_id=<id>/{postings,sizes,labels}`) persists only the
    * batch's OWN posting bank, its own set sizes, and the label rows this
    * batch CHANGED (new docs included) — O(batch) bytes regardless of
    * store size (pinned by StreamingDedupSpec's per-batch persistence
    * test). The slot is staged dot-prefixed, committed by a single
    * top-level marker after all three writes land, and promoted by atomic
    * rename, so a crash anywhere leaves either no slot or the whole slot. The fold back is
    * exact because each relation is persisted in its monoid form: postings
    * add across disjoint-doc slots ([[graft.ops.DedupOps.mergeShingleBanks]]),
    * sizes union (slot id-sets are disjoint by the anti-join fence), and
    * labels resolve last-wins by slot id (each slot carries the
    * authoritative label for exactly the rows it changed). Slot ids are
    * assigned monotonically at write time (decoupled from stream batch
    * ids, which restart at 0 under a fresh checkpoint); the doc-id fence
    * makes idempotency DOC-granular — a replayed batch fences down to an
    * all-empty delta and skips the write, a partially-redelivered one
    * persists exactly its unseen docs under a fresh id.
    * Restart rebuild cost is O(slots); [[compact]] folds all slots into
    * one negative-id base slot between runs. Recovery also migrates
    * stores persisted by the two earlier layouts (full-rewrite
    * `v=<id>/{postings,sizes,labels}`, and the pre-posting-bank
    * `v=<id>/{bank,df,labels}` whose postings are rebuilt from the banked
    * (id, sh) sets) into a base slot — an unrecognizable layout fails
    * loudly rather than silently starting an empty stream over a corpus
    * the store has already seen.
    *
    * Scale shape: the store is kept in POSTING-BANK form
    * ([[graft.ops.DedupOps.shingleBank]]'s (shingle → sorted doc ids)
    * postings plus per-doc set sizes — the df statistic IS the posting
    * size, so no separate df relation exists). Per batch the work is
    * batch-shingling, the batch's own posting build, posting-level joins
    * against the bank ([[graft.ops.DedupOps.pairsFromPostingBanks]]'
    * batch+cross generation under the combined-df cap), a
    * |distinct-shingle|-sized bank fold
    * ([[graft.ops.DedupOps.mergeShingleBanks]]), and a
    * [[graft.ops.DedupOps.mergeClusters]] CC bounded by cluster structure
    * — never bank×bank, and never re-exploding or re-aggregating banked
    * documents (the earlier formulation re-built the bank side's posting
    * lists from its (id, sh) sets every batch — O(bank) aggregation per
    * increment; the bank now stores the postings themselves, measured flat
    * per-batch at `387020f`). The bank is the one corpus-sized relation;
    * at real scale it lives as the partitioned parquet store this class
    * already writes (executor memory only ever holds the current version's
    * scan), which is exactly the production posture.
    */
  /** Maintained IVF VECTOR INDEX over a micro-batched embedding stream —
    * the similarity-search complement of [[NearDupClusterStream]]: as
    * embeddings arrive, each batch is fenced against the already-indexed
    * ids (at-least-once safe), assigned to the FIXED quantizer's lists by
    * [[graft.ops.SimilarityOps.ivfAssign]] (the fit's own argmin
    * objective — no refit per batch, the append-only contract the batch
    * seam pins bit-equal), and appended to the maintained `assigned`
    * relation; [[graft.ops.SimilarityOps.knnIvfSearch]] over
    * [[current]] serves queries at any point. The quantizer comes from
    * `centroids` when provided (the production shape: fit offline on a
    * corpus sample via [[graft.ops.SimilarityOps.ivfFitKmeans]]) or is
    * fit ONCE on the first batch otherwise; direction drift accumulating
    * across a long stream degrades list balance, never correctness
    * (candidates are exact-cosine verified), and a refit is a compaction-
    * time decision.
    *
    * Durability is the delta-slot protocol shared with the dedup store:
    * per batch ONE committed slot (`batch_id=<id>/assigned`, staged
    * dot-prefixed, single `_SUCCESS`, atomic rename) holding only the
    * batch's OWN assigned rows — O(batch) bytes per batch; the centroids
    * persist once under `centroids/`. Assigned rows are a plain
    * append-only monoid (slots index disjoint ids thanks to the fence),
    * so recovery is a union of slots and [[compact]] folds them into one
    * base slot between runs. A replayed batch fences to empty and skips
    * the write; slot ids are assigned monotonically at write time,
    * decoupled from restarting stream batch ids. At real scale the slot
    * tree IS the list-partitioned store the search scans (write each
    * slot `partitionBy(list_id)` — kept flat here because the test-scale
    * store is small and the partitioned form is pinned at the batch
    * seam).
    */
  /** PQ configuration for [[VectorIndexStream]]: maintain a product-
    * quantized copy of the index alongside the raw assignment — the
    * codebooks come from `codebooks` when provided (the production shape:
    * [[graft.ops.SimilarityOps.pqTrain]] offline on a corpus sample,
    * mirroring the stream's `centroids` parameter) or are fit ONCE (first
    * batch, or on the recovered corpus when enabling PQ over an existing
    * store); either way they are persisted with the store, and every
    * batch's delta is encoded against them into `(id, list_id, codes)`
    * rows written into the SAME delta slot.
    */
  case class PqIndexConfig(
      dim: Int, m: Int, kSub: Int, iters: Int = 2,
      codebooks: Option[DataFrame] = None)

  class VectorIndexStream(
      idCol: String,
      vecCol: String,
      nLists: Int,
      centroids: Option[DataFrame] = None,
      storeDir: Option[String] = None,
      seed: Long = 42L,
      metrics: Option[graft.tools.MetricsListener] = None,
      pq: Option[PqIndexConfig] = None) {
    @volatile private var ctr: Option[DataFrame] = centroids
    @volatile private var assigned: Option[DataFrame] = None
    @volatile private var cbs: Option[DataFrame] = pq.flatMap(_.codebooks)
    @volatile private var codedRel: Option[DataFrame] = None

    private val slotPrefix = "batch_id="
    private val stagePrefix = ".b-"

    /** The live index `(centroids, assigned)` — feed straight into
      * [[graft.ops.SimilarityOps.knnIvfSearch]].
      */
    def current: Option[(DataFrame, DataFrame)] =
      for { c <- ctr; a <- assigned } yield (c, a)

    /** The live COMPRESSED index `(centroids, codebooks, coded)` — route
      * probes with [[graft.ops.SimilarityOps.ivfProbeLists]] over the
      * centroids and search the coded relation with
      * [[graft.ops.SimilarityOps.knnIvfPqSearchWithLists]]; raw vectors
      * are only needed if the caller re-ranks.
      */
    def currentPq: Option[(DataFrame, DataFrame, DataFrame)] =
      for { c <- ctr; b <- cbs; cd <- codedRel } yield (c, b, cd)

    /** Encode already-assigned rows `(idCol, v, nrm, list_id)` against the
      * fitted codebooks into the coded-store shape `(idCol, list_id,
      * codes)` — used for both the per-batch delta and the derive-on-
      * recovery migration of slots persisted before PQ was enabled.
      */
    private def encodeAssigned(rows: DataFrame, conf: PqIndexConfig, books: DataFrame): DataFrame =
      graft.ops.SimilarityOps
        .pqPack(graft.ops.SimilarityOps.pqEncode(
          rows, idCol, "v", conf.dim, conf.m, books), idCol)
        .select(col(idCol), col("codes"))
        .join(rows.select(col(idCol), col("list_id")), Seq(idCol))
        .select(col(idCol), col("list_id"), col("codes"))

    private def fitBooks(spark: SparkSession, conf: PqIndexConfig, on: DataFrame,
        onVecCol: String, n: Long): DataFrame = {
      require(n >= conf.kSub,
        s"PQ fit corpus has $n vectors < kSub=${conf.kSub}: supply a larger first " +
          "batch or pre-fit codebooks via PqIndexConfig.codebooks " +
          "(pqTrain on a corpus sample)")
      val fit = graft.ops.SimilarityOps
        .pqTrain(on, idCol, onVecCol, conf.dim, conf.m, conf.kSub, conf.iters)
        .localCheckpoint(true)
      storeDir.foreach(d => fit.write.mode("overwrite").parquet(s"$d/pq_codebooks"))
      fit
    }

    private def writeSlot(spark: SparkSession, d: String, id: Long, rows: DataFrame,
        coded: Option[DataFrame]): Unit = {
      val (fs, _) = fsFor(spark, d)
      val staged = new org.apache.hadoop.fs.Path(d, s"$stagePrefix$id")
      if (fs.exists(staged)) fs.delete(staged, true): Unit
      rows.write.mode("overwrite").parquet(s"$d/$stagePrefix$id/assigned")
      coded.foreach(_.write.mode("overwrite").parquet(s"$d/$stagePrefix$id/coded"))
      fs.create(new org.apache.hadoop.fs.Path(staged, "_SUCCESS"), true).close()
      promoteSlot(spark, d, id)
    }

    private def promoteSlot(spark: SparkSession, d: String, id: Long): Unit = {
      val (fs, _) = fsFor(spark, d)
      val staged = new org.apache.hadoop.fs.Path(d, s"$stagePrefix$id")
      val target = new org.apache.hadoop.fs.Path(d, s"$slotPrefix$id")
      if (fs.exists(staged)) {
        if (fs.exists(target)) fs.delete(staged, true): Unit
        else fs.rename(staged, target): Unit
      }
    }

    private val compactPrefix = ".c-"

    /** Complete or roll back an interrupted [[compact]] — a COMMITTED
      * `.c-<id>` staging dir proves the folded base was fully written, so
      * recovery deletes the folded input slots and renames the base into
      * place; an uncommitted one is fenced off by [[committedSlots]].
      */
    private def recoverCompaction(spark: SparkSession, d: String): Unit = {
      val (fs, _) = fsFor(spark, d)
      val tmps = committedSlots(spark, d, compactPrefix)
      tmps.drop(1).foreach { case (_, t) => fs.delete(t, true): Unit }
      tmps.headOption.foreach { case (id, tmp) =>
        committedSlots(spark, d, slotPrefix).foreach { case (_, s) => fs.delete(s, true): Unit }
        fs.rename(tmp, new org.apache.hadoop.fs.Path(d, s"$slotPrefix$id")): Unit
      }
    }

    private def recoverStore(spark: SparkSession, d: String): Unit = {
      recoverCompaction(spark, d)
      committedSlots(spark, d, stagePrefix).foreach { case (id, _) => promoteSlot(spark, d, id) }
      committedSlots(spark, d, slotPrefix): Unit // fence crashed slot writes
    }

    private def foldSlots(
        spark: SparkSession,
        slots: Seq[(Long, org.apache.hadoop.fs.Path)]): DataFrame =
      slots.map { case (_, p) => spark.read.parquet(s"$p/assigned") }
        .reduce(_.unionByName(_))

    /** Fold the coded relation across slots. A slot persisted before PQ
      * was enabled has no `coded` subdir — its rows are DERIVED by
      * encoding the slot's assigned vectors against the fitted codebooks
      * (the enable-PQ-over-an-existing-store migration); after the next
      * [[compact]] every slot carries its coded rows materialized.
      */
    private def foldCodedSlots(
        spark: SparkSession,
        slots: Seq[(Long, org.apache.hadoop.fs.Path)],
        conf: PqIndexConfig,
        books: DataFrame): DataFrame =
      slots.map { case (_, p) =>
        val (fs, _) = fsFor(spark, p.toString)
        val cp = new org.apache.hadoop.fs.Path(p, "coded")
        if (fs.exists(cp)) spark.read.parquet(cp.toString)
        else encodeAssigned(spark.read.parquet(s"$p/assigned"), conf, books)
      }.reduce(_.unionByName(_))

    /** The persisted codebooks, if any — commit-marked like the centroids. */
    private def loadBooks(spark: SparkSession, d: String): Option[DataFrame] = {
      val (fs, _) = fsFor(spark, d)
      val bdir = new org.apache.hadoop.fs.Path(d, "pq_codebooks")
      if (fs.exists(new org.apache.hadoop.fs.Path(bdir, "_SUCCESS")))
        Some(spark.read.parquet(bdir.toString).localCheckpoint(true))
      else None
    }

    /** Fold every committed slot into ONE negative-id base slot (restart
      * rebuild is O(slots)) — run between query runs only. Crash-safe at
      * every point: the folded base is STAGED dot-prefixed (invisible to
      * readers), only its commit marker triggers slot deletion, and an
      * interruption anywhere is completed or rolled back by
      * [[recoverCompaction]] on the next start/compact.
      */
    def compact(spark: SparkSession): Int = storeDir match {
      case Some(d) =>
        recoverStore(spark, d)
        val slots = committedSlots(spark, d, slotPrefix)
        if (slots.length <= 1) 0
        else {
          val (fs, _) = fsFor(spark, d)
          val newBase = math.min(slots.map(_._1).min, 0L) - 1
          val staged = s"$d/$compactPrefix$newBase"
          foldSlots(spark, slots).write.mode("overwrite").parquet(s"$staged/assigned")
          pq.foreach { conf =>
            val books = cbs.orElse(loadBooks(spark, d))
            books.foreach(b =>
              foldCodedSlots(spark, slots, conf, b)
                .write.mode("overwrite").parquet(s"$staged/coded"))
          }
          fs.create(new org.apache.hadoop.fs.Path(s"$staged/_SUCCESS"), true).close()
          slots.foreach { case (_, s) => fs.delete(s, true): Unit }
          fs.rename(
            new org.apache.hadoop.fs.Path(staged),
            new org.apache.hadoop.fs.Path(d, s"$slotPrefix$newBase")): Unit
          slots.length
        }
      case _ => 0
    }

    def start(stream: DataFrame, checkpointDir: String): StreamingQuery = {
      val spark = stream.sparkSession
      if (assigned.isEmpty) storeDir.foreach { d =>
        recoverStore(spark, d)
        val slots = committedSlots(spark, d, slotPrefix)
        if (slots.nonEmpty)
          assigned = Some(foldSlots(spark, slots).localCheckpoint(true))
        val cdir = new org.apache.hadoop.fs.Path(d, "centroids")
        val (fs, _) = fsFor(spark, d)
        if (ctr.isEmpty && fs.exists(new org.apache.hadoop.fs.Path(cdir, "_SUCCESS")))
          ctr = Some(spark.read.parquet(cdir.toString).localCheckpoint(true))
        // a CALLER-provided quantizer is persisted on first store contact:
        // otherwise a recovering instance started without the parameter
        // would fit a fresh quantizer on its first batch and append slots
        // assigned under a different model than the store's existing ones
        else ctr.foreach { c =>
          if (!fs.exists(new org.apache.hadoop.fs.Path(cdir, "_SUCCESS")))
            c.write.mode("overwrite").parquet(cdir.toString)
        }
        pq.foreach { conf =>
          if (cbs.isEmpty) cbs = loadBooks(spark, d)
          // same persistence rule for provided codebooks as for centroids
          else if (loadBooks(spark, d).isEmpty)
            cbs.foreach(_.write.mode("overwrite").parquet(s"$d/pq_codebooks"))
          // enabling PQ over a store persisted without it: fit the
          // codebooks NOW on the recovered corpus (then persist), and
          // derive each slot's coded rows on fold — the next compact
          // materializes them
          if (cbs.isEmpty) assigned.foreach { a =>
            cbs = Some(fitBooks(spark, conf, a, "v", a.count()))
          }
          for { b <- cbs } if (slots.nonEmpty)
            codedRel = Some(foldCodedSlots(spark, slots, conf, b).localCheckpoint(true))
        }
      }
      stream.writeStream
        .option("checkpointLocation", checkpointDir)
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val incoming = batch.select(col(idCol), col(vecCol)).dropDuplicates(idCol)
          val fresh = assigned match {
            case Some(a) => incoming.join(a.select(col(idCol)), Seq(idCol), "left_anti")
            case None    => incoming
          }
          if (ctr.isEmpty) {
            // fit ONCE on the first non-empty batch; persist alongside the
            // slots so recovery re-assigns with the SAME quantizer. The
            // first batch must carry at least nLists vectors (or supply
            // pre-fit centroids) — fail loudly rather than fit a
            // degenerate quantizer
            val n0 = fresh.count()
            if (n0 > 0) {
              require(n0 >= nLists,
                s"first batch has $n0 vectors < nLists=$nLists: supply pre-fit " +
                  "centroids (ivfFitKmeans on a corpus sample) or batch larger")
              val (c0, _) = graft.ops.SimilarityOps.ivfFitKmeans(
                fresh, idCol, vecCol, nLists, seed)
              val pinned = c0.localCheckpoint(true)
              storeDir.foreach(d => pinned.write.mode("overwrite").parquet(s"$d/centroids"))
              ctr = Some(pinned)
            }
          }
          ctr.foreach { c =>
            val delta = graft.ops.SimilarityOps.ivfAssign(c, fresh, idCol, vecCol)
              .localCheckpoint(true)
            val freshRows = delta.count()
            // a fully-replayed batch fences to an empty delta: skip both
            // the store write and the state fold (no O(store) checkpoint
            // for a no-op batch)
            if (freshRows > 0) {
              assigned = Some(assigned match {
                case Some(a) => a.unionByName(delta).localCheckpoint(true)
                case None    => delta
              })
              val codedDelta = pq.map { conf =>
                if (cbs.isEmpty) cbs = Some(fitBooks(spark, conf, delta, "v", freshRows))
                val cd = encodeAssigned(delta, conf, cbs.get).localCheckpoint(true)
                codedRel = Some(codedRel match {
                  case Some(r) => r.unionByName(cd).localCheckpoint(true)
                  case None    => cd
                })
                cd
              }
              storeDir.foreach { d =>
                writeSlot(spark, d,
                  committedSlots(spark, d, slotPrefix).headOption.fold(0L)(_._1 + 1L),
                  delta, codedDelta)
              }
            }
            metrics.foreach { m =>
              m.recordStore(graft.tools.MetricsListener.StoreMetric(
                "vector_index_store", batchId,
                freshRows, freshRows, freshRows, assigned.map(_.count()).getOrElse(0L)))
            }
          }
        }
        .start()
    }
  }

  /** Streaming maintenance for the exact-substring span family — the
    * [[NearDupClusterStream]] fold applied to
    * [[graft.ops.DedupOps.substringSpans]]: the maintainer banks each
    * batch's positional anchor grams and folds the per-gram df counts
    * (additive across disjoint-doc batches), and each `ingest` emits the
    * NEW maximal spans — batch-internal plus bank×batch cross — under
    * the UPDATED corpus-wide df survival; bank-internal spans were
    * emitted when those documents arrived, so emissions across batches
    * partition the from-scratch span set on a cap-stable corpus
    * (StreamingDedupSpec pins the equality; a GROWING df has the same
    * inherent prefix-dependence documented at
    * [[graft.ops.DedupOps.pairsFromShingleBank]]).
    *
    * At-least-once redelivery is fenced by a banked-id anti-join: a
    * replayed batch contributes no grams, no df, and emits nothing.
    * Per-increment work is O(batch grams + alive-matched bank postings)
    * — never bank×bank. In-memory form (localCheckpoint-backed state);
    * the delta-slot persistence pattern for crash-safe stores is
    * demonstrated by [[NearDupClusterStream]] and applies unchanged
    * (the gram bank and df counts are the same monoid shapes).
    */
  class SubstringSpanStream(
      idCol: String,
      textCol: String,
      k: Int = 8,
      minSpanTokens: Int = 24,
      maxDocFreq: Int = 50) {
    import graft.ops.DedupOps
    @volatile private var bankGrams: Option[DataFrame] = None
    @volatile private var bankDf: Option[DataFrame] = None
    @volatile private var bankIds: Option[DataFrame] = None

    /** Ingest one micro-batch; returns the batch's NEW spans
      * (doc_a, doc_b, a_start, b_start, span_tokens), materialized.
      *
      * `synchronized`: the bank/df/ids updates are a check-then-act
      * sequence over three fields — two interleaved ingests would
      * double-count grams in the df fold while each returned plausible
      * spans (ADVICE r9). The lock is driver-side state swapping only
      * (the Spark jobs it encloses are already serial per foreachBatch
      * contract); contention is zero in the single-query streaming path
      * and correctness-preserving for ad-hoc multi-threaded drivers.
      */
    def ingest(batch: DataFrame): DataFrame = synchronized {
      val docs0 = batch.select(col(idCol), col(textCol))
      // redelivery fence: already-banked ids contribute nothing
      val docs = bankIds.fold(docs0)(ids =>
        docs0.join(ids, docs0(idCol) === ids("__seen"), "left_anti"))
      val gb = DedupOps.substringGrams(docs, idCol, textCol, k).localCheckpoint(true)
      val dfb = DedupOps.substringGramDf(gb)
      val dfc = bankDf.fold(dfb)(b => DedupOps.mergeSubstringGramDf(b, dfb))
        .localCheckpoint(true)
      val alive = DedupOps.substringAlive(dfc, maxDocFreq)
      val (batchSpans, crossSpans) = DedupOps.substringSpanLegs(
        bankGrams.getOrElse(gb.limit(0)), gb, alive, k, minSpanTokens)
      val emitted = batchSpans.unionByName(crossSpans).localCheckpoint(true)
      bankGrams = Some(bankGrams.fold(gb)(_.unionByName(gb)).localCheckpoint(true))
      bankDf = Some(dfc)
      bankIds = Some(bankIds
        .fold(docs.select(col(idCol).as("__seen")))(
          _.unionByName(docs.select(col(idCol).as("__seen"))))
        .localCheckpoint(true))
      emitted
    }
  }

  /** Maintained HNSW index over a micro-batched vector stream — the
    * streaming twin of the q_ann_hnsw / q_ann_hnsw_incr family. The
    * quantizer is FROZEN (train once with
    * [[graft.ops.SimilarityOps.hnswFitCentroids]]; a re-clustering refit
    * is a scheduled rebuild, the IVF fitted-index posture). Two
    * structures live here:
    *
    *  - the VECTOR STATE `(id, v, nrm, vfp)` — the primary monoid state
    *    riding the [[MonoidSlotStream]] slot protocol: per-batch partials
    *    are disjoint-by-id (dropDuplicates makes the fold id-IDEMPOTENT,
    *    so a replayed document can never double), slots persist the
    *    batch's own rows, restart rebuilds by folding committed slots;
    *  - the ADJACENCY `(lvl, src, dst, sim_fp)` — DERIVED state folded
    *    per batch through [[graft.ops.SimilarityOps.hnswMergeAdjState]]
    *    over the batch's pair blocks (new×store, store×new, new×new —
    *    never store×store again): exact by the bounded-max monoid
    *    argument, idempotent under checkpoint replay (re-merging the same
    *    scored pairs is a no-op), and NOT persisted — after a restart
    *    [[currentAdj]] rebuilds it once from the recovered vectors, which
    *    equals any incremental fold order by the same argument.
    *
    * [[search]] runs the registered descent over the live index at any
    * moment. Per-batch cost is governed by the batch's pair blocks (the
    * store side enters only through the cid equi-join), never the store
    * size; the restart rebuild is the one corpus-pair-sized cost, paid
    * once per process, amortized exactly like NearDupClusterStream's
    * bank recovery.
    */
  class HnswIndexStream(
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      maxLevel: Int = 3,
      mNeighbors: Int = 10,
      nProbe: Int = 3,
      storeDir: Option[String] = None)
      extends MonoidSlotStream(storeDir) {
    import graft.ops.SimilarityOps

    @volatile private var adj: Option[DataFrame] = None

    protected def partial(batch: DataFrame): DataFrame = {
      // strip the foreachBatch LogicalRDD's imported constraints — they
      // can reference stream-side attributes pruned from the batch
      // output, and the self-join-heavy pair plan then dies in
      // QueryPlanConstraints ("key not found") — by recreating the batch
      // from its raw RDD
      val clean = batch.sparkSession.createDataFrame(batch.rdd, batch.schema)
      SimilarityOps.hnswPrep(clean, idCol, vecCol)
    }
    protected def foldPartials(partials: DataFrame): DataFrame =
      partials.dropDuplicates(idCol)
    // CONTRACT: a re-arriving id carries the SAME vector (the usual
    // immutable-embedding feed). The index cannot honor an id that
    // re-arrives with a different vector — the max-monoid adjacency never
    // retracts edges scored against the old one — so the merge prefers
    // the STORED row deterministically (anti-join, not dropDuplicates'
    // arbitrary survivor): a contract-violating feed yields a stable
    // index keyed on first arrival instead of a run-dependent one.
    protected def mergeOne(prev: DataFrame, part: DataFrame): DataFrame =
      prev.unionByName(part.join(prev.select(col(idCol)), Seq(idCol), "left_anti"))

    override protected def onBatch(prev: Option[DataFrame], part: DataFrame): Unit = {
      val newQ = part.select(col(idCol), col("vfp"))
      val blocks = prev match {
        case Some(p) =>
          val storeQ = p.select(col(idCol), col("vfp"))
          SimilarityOps.hnswScoredPairsFor(newQ, newQ, idCol, centroids, nProbe)
            .unionByName(
              SimilarityOps.hnswScoredPairsFor(newQ, storeQ, idCol, centroids, nProbe))
            .unionByName(
              SimilarityOps.hnswScoredPairsFor(storeQ, newQ, idCol, centroids, nProbe))
        case None =>
          SimilarityOps.hnswScoredPairsFor(newQ, newQ, idCol, centroids, nProbe)
      }
      val pairs = blocks.localCheckpoint(true)
      // restart-with-storeDir: when the adjacency hasn't been built this
      // process but a recovered vector state EXISTS, the batch's pair
      // blocks alone are NOT a valid seed — they carry no store×store
      // edge, and the batch fold never revisits those, so every later
      // search would run over a silently truncated graph. Rebuild the
      // full store adjacency ONCE (the currentAdj recovery path) and
      // fold the batch in on top of it.
      val base = adj.orElse(prev.map(rebuildAdjFrom))
      adj = Some(base match {
        case Some(a) => SimilarityOps.hnswMergeAdjState(a, pairs, maxLevel, mNeighbors)
        case None    => SimilarityOps.hnswAdjState(pairs, maxLevel, mNeighbors)
      })
    }

    /** Full adjacency rebuild from a recovered vector relation — the one
      * corpus-pair-sized cost of a restart, shared by [[currentAdj]] and
      * the first [[onBatch]] after recovery.
      */
    private def rebuildAdjFrom(rel: DataFrame): DataFrame = {
      val q = rel.select(col(idCol), col("vfp"))
      SimilarityOps.hnswAdjState(
        SimilarityOps.hnswScoredPairsFor(q, q, idCol, centroids, nProbe)
          .localCheckpoint(true),
        maxLevel, mNeighbors)
    }

    /** The live layered adjacency `(lvl, src, dst, sim_fp)`; rebuilt once
      * from the recovered vector state after a restart.
      */
    def currentAdj: Option[DataFrame] = adj.orElse {
      current.map { rel =>
        val a = rebuildAdjFrom(rel)
        adj = Some(a)
        a
      }
    }

    /** Registered-descent search over the live index — the
      * [[graft.ops.SimilarityOps.knnHnsw]] output contract
      * (probe_id, neighbor_id, sim, rank).
      */
    def search(
        probes: DataFrame, k: Int, ef: Int = 16,
        roundsUpper: Int = 1, rounds0: Int = 4): Option[DataFrame] =
      for { rel <- current; a <- currentAdj } yield
        SimilarityOps.hnswSearchOver(
          rel, probes, idCol, vecCol, a, k, maxLevel, ef, roundsUpper, rounds0)
  }

  class NearDupClusterStream(
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      maxDocFreq: Int = 100,
      storeDir: Option[String] = None,
      metrics: Option[graft.tools.MetricsListener] = None) {
    @volatile private var postings: Option[DataFrame] = None
    @volatile private var sizes: Option[DataFrame] = None
    @volatile private var labels: Option[DataFrame] = None

    /** Current labeling `(id, cluster_id)` — every document ever seen has
      * a row; singletons label themselves.
      */
    def clusters: Option[DataFrame] = labels

    // store layout (v3): one committed DELTA slot per batch
    // (`batch_id=<id>/{postings,sizes,labels}` + top-level marker), batch
    // staging dot-prefixed `.b-<id>`, compaction staging `.c-<id>`;
    // compacted bases take negative ids, below every real batch id, so the
    // labels last-wins fold orders them first
    private val slotPrefix = "batch_id="
    private val stagePrefix = ".b-"
    private val compactPrefix = ".c-"

    private def slotBank(
        spark: SparkSession, p: org.apache.hadoop.fs.Path): (DataFrame, DataFrame) =
      (spark.read.parquet(s"$p/postings"), spark.read.parquet(s"$p/sizes"))

    /** Persist the three delta relations as slot `batch_id=<id>`: staged
      * to a dot-prefixed dir (invisible to readers), committed by ONE
      * top-level marker only after all three writes land, promoted by
      * atomic rename — a crash anywhere leaves either no slot or the
      * whole slot. The writes EXECUTE the input plans, so callers may pass
      * lazily file-backed inputs as long as their files outlive this call.
      */
    private def writeSlot(spark: SparkSession, d: String, id: Long,
        post: DataFrame, sz: DataFrame, lab: DataFrame): Unit = {
      val (fs, _) = fsFor(spark, d)
      val staged = new org.apache.hadoop.fs.Path(d, s"$stagePrefix$id")
      if (fs.exists(staged)) fs.delete(staged, true): Unit
      post.write.mode("overwrite").parquet(s"$d/$stagePrefix$id/postings")
      sz.write.mode("overwrite").parquet(s"$d/$stagePrefix$id/sizes")
      lab.write.mode("overwrite").parquet(s"$d/$stagePrefix$id/labels")
      fs.create(new org.apache.hadoop.fs.Path(staged, "_SUCCESS"), true).close()
      promoteSlot(spark, d, id)
    }

    /** Rename a COMMITTED staged slot into place — idempotent: if the
      * target already exists (promotion replayed after a crash between
      * rename and whatever followed), the staging dir is simply dropped.
      */
    private def promoteSlot(spark: SparkSession, d: String, id: Long): Unit = {
      val (fs, _) = fsFor(spark, d)
      val staged = new org.apache.hadoop.fs.Path(d, s"$stagePrefix$id")
      val target = new org.apache.hadoop.fs.Path(d, s"$slotPrefix$id")
      if (fs.exists(staged)) {
        if (fs.exists(target)) fs.delete(staged, true): Unit
        else fs.rename(staged, target): Unit
      }
    }

    /** Complete or roll back an interrupted [[compact]] — a COMMITTED
      * `.c-<id>` staging dir proves the folded base was fully written, so
      * recovery finishes the job (delete the folded slots, rename the base
      * into place); an uncommitted one is fenced off by [[committedSlots]].
      * Deleting ALL slots is sound because compaction only runs between
      * query runs: every slot present alongside a committed staging dir
      * was an input to that fold.
      */
    private def recoverCompaction(spark: SparkSession, d: String): Unit = {
      val (fs, _) = fsFor(spark, d)
      val tmps = committedSlots(spark, d, compactPrefix)
      tmps.drop(1).foreach { case (_, t) => fs.delete(t, true): Unit }
      tmps.headOption.foreach { case (id, tmp) =>
        committedSlots(spark, d, slotPrefix).foreach { case (_, s) => fs.delete(s, true): Unit }
        fs.rename(tmp, new org.apache.hadoop.fs.Path(d, s"$slotPrefix$id")): Unit
      }
    }

    /** Recovery: complete interrupted compactions and slot promotions,
      * fence crashed partial writes, and MIGRATE a store persisted by an
      * earlier layout into a compacted base slot. Two legacy layouts
      * exist: v2 (`v=<id>/{postings,sizes,labels}` — the full-bank
      * rewrite this class used to do) and v1 (`v=<id>/{bank,df,labels}` —
      * banked (id, sh) sets, postings rebuilt here via
      * [[graft.ops.DedupOps.shingleBankFromSets]]; the df relation is
      * derived state, the posting sizes, and is dropped). A version dir
      * matching neither fails loudly: starting an EMPTY stream over a
      * corpus the store has already seen would silently double-pair
      * every future redelivery.
      */
    private def recoverStore(spark: SparkSession, d: String): Unit = {
      val (fs, _) = fsFor(spark, d)
      promoteStagedVersion(spark, d)
      val legacy = committedSlots(spark, d, "v=")
      legacy.headOption.foreach { case (_, p) =>
        val (post, sz, lab) =
          if (fs.exists(new org.apache.hadoop.fs.Path(p, "postings")))
            (spark.read.parquet(s"$p/postings"), spark.read.parquet(s"$p/sizes"),
              spark.read.parquet(s"$p/labels"))
          else if (fs.exists(new org.apache.hadoop.fs.Path(p, "bank"))) {
            val (pp, ss) = graft.ops.DedupOps.shingleBankFromSets(
              spark.read.parquet(s"$p/bank"), idCol)
            (pp, ss, spark.read.parquet(s"$p/labels"))
          } else throw new IllegalStateException(
            s"unrecognized NearDupClusterStream store layout at $p: expected " +
              "postings/ (store format v2) or bank/ (v1) under the version dir")
        // the staged write materializes from the legacy files BEFORE they
        // are deleted below; a crash in between replays this migration
        // idempotently (promoteSlot drops the re-staged copy)
        writeSlot(spark, d, -1L, post, sz, lab)
      }
      legacy.foreach { case (_, p) => fs.delete(p, true): Unit }
      recoverCompaction(spark, d)
      committedSlots(spark, d, stagePrefix).foreach { case (id, _) => promoteSlot(spark, d, id) }
    }

    /** Fold the committed slots back into the three live relations — each
      * in its monoid: postings by [[graft.ops.DedupOps.mergeShingleBanks]],
      * sizes by union (slots index disjoint docs), labels last-wins by
      * slot id (each slot carries the rows it changed).
      */
    private def foldSlots(
        spark: SparkSession,
        slots: Seq[(Long, org.apache.hadoop.fs.Path)]): (DataFrame, DataFrame, DataFrame) = {
      val banks = slots.map { case (_, p) => slotBank(spark, p) }
      val (post, sz) =
        if (banks.size == 1) banks.head
        else graft.ops.DedupOps.mergeShingleBanks(banks: _*)
      val lab = slots.map { case (id, p) =>
          spark.read.parquet(s"$p/labels").withColumn("__slot", lit(id))
        }
        .reduce(_.unionByName(_))
        .groupBy(col("id"))
        .agg(max_by(col("cluster_id"), col("__slot")).as("cluster_id"))
      (post, sz, lab)
    }

    /** Fold every committed delta slot into ONE compacted base slot —
      * restart rebuild cost is O(slots), so a long-lived store compacts
      * between runs. MUST NOT run concurrently with an active query (the
      * slot surgery races the per-batch writer); unlike [[RollupStream]]
      * the fold itself is replay-safe (a post-compaction checkpoint replay
      * re-fences by doc id), so "between runs" is only about the file
      * operations. Crash-safe at every point via [[recoverCompaction]].
      * Returns the number of slots folded (0 when nothing to do).
      */
    def compact(spark: SparkSession): Int = storeDir match {
      case Some(d) =>
        recoverStore(spark, d)
        val slots = committedSlots(spark, d, slotPrefix)
        if (slots.length <= 1) 0
        else {
          val (fs, _) = fsFor(spark, d)
          val newBase = math.min(slots.map(_._1).min, 0L) - 1
          val (post, sz, lab) = foldSlots(spark, slots)
          val staged = s"$d/$compactPrefix$newBase"
          // the staged writes execute the fold READING the old slots, so
          // they must all land (and the commit marker with them) before
          // any slot is deleted
          post.write.mode("overwrite").parquet(s"$staged/postings")
          sz.write.mode("overwrite").parquet(s"$staged/sizes")
          lab.write.mode("overwrite").parquet(s"$staged/labels")
          fs.create(new org.apache.hadoop.fs.Path(s"$staged/_SUCCESS"), true).close()
          slots.foreach { case (_, s) => fs.delete(s, true): Unit }
          fs.rename(
            new org.apache.hadoop.fs.Path(staged),
            new org.apache.hadoop.fs.Path(d, s"$slotPrefix$newBase")): Unit
          slots.length
        }
      case _ => 0
    }

    def start(stream: DataFrame, checkpointDir: String): StreamingQuery = {
      val spark = stream.sparkSession
      // restart recovery: migrate/repair the store, then rebuild all
      // three relations from the committed slots (the replayed in-flight
      // batch collapses in the id anti-join below)
      if (labels.isEmpty) storeDir.foreach { d =>
        recoverStore(spark, d)
        val slots = committedSlots(spark, d, slotPrefix)
        if (slots.nonEmpty) {
          val (post, sz, lab) = foldSlots(spark, slots)
          postings = Some(post.localCheckpoint(true))
          sizes = Some(sz.localCheckpoint(true))
          labels = Some(lab.localCheckpoint(true))
        }
      }
      stream.writeStream
        .option("checkpointLocation", checkpointDir)
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          // at-least-once fencing: drop documents already banked (replayed
          // batch, cross-batch redelivery) so df counts never double and
          // no pair is re-derived; within-batch duplicates collapse first
          val incoming = batch.select(col(idCol), col(textCol)).dropDuplicates(idCol)
          val fresh0 = sizes match {
            case Some(sz) => incoming.join(sz.select(col(idCol)), Seq(idCol), "left_anti")
            case None     => incoming
          }
          val freshSh = graft.ops.DedupOps
            .hashedShingles(fresh0, idCol, textCol, n).localCheckpoint(true)
          val (pB0, sizesB0) = graft.ops.DedupOps.shingleBankFromSets(freshSh, idCol)
          val pB = pB0.localCheckpoint(true)
          val sizesB = sizesB0.localCheckpoint(true)
          // the cap basis is the df statistic AFTER this batch — bank
          // posting size + batch posting size, exactly what
          // pairsFromPostingBanks evaluates (mirroring
          // incrementalJaccardPairs: hot computed over store+batch)
          val (batchPairs, crossPairs) = graft.ops.DedupOps.pairsFromPostingBanks(
            postings.getOrElse(pB.limit(0)), sizes.getOrElse(sizesB.limit(0)),
            pB, sizesB, idCol, threshold, maxDocFreq)
          val prevLab = labels
          val seeded = (prevLab match {
            case Some(prev) => prev.unionByName(
              sizesB.select(col(idCol).as("id"), col(idCol).as("cluster_id")))
            case None => sizesB.select(col(idCol).as("id"), col(idCol).as("cluster_id"))
          })
          val evidence = batchPairs.select(col("doc_a"), col("doc_b"))
            .unionByName(crossPairs.select(col("doc_a"), col("doc_b")))
          val labNew = graft.ops.DedupOps.mergeClusters(seeded, evidence)
            .localCheckpoint(true)
          val (postNew0, sizesNew0) = (postings, sizes) match {
            case (Some(p), Some(sz)) =>
              graft.ops.DedupOps.mergeShingleBanks((p, sz), (pB, sizesB))
            case _ => (pB, sizesB)
          }
          val postNew = postNew0.localCheckpoint(true)
          val sizesNew = sizesNew0.localCheckpoint(true)
          // pin the new states BEFORE any store file operation can touch
          // files the recovered (lazily file-backed) previous states
          // reference
          postings = Some(postNew); sizes = Some(sizesNew); labels = Some(labNew)
          if (storeDir.isDefined || metrics.isDefined) {
            // the label DELTA: rows whose label changed this batch (new
            // docs label themselves, so they always appear) — with
            // min-label clustering a changed row is one an evidence pair
            // relinked, O(touched clusters) not O(corpus)
            val labDelta = (prevLab match {
              case Some(pl) => labNew.join(pl, Seq("id", "cluster_id"), "left_anti")
              case None     => labNew
            }).localCheckpoint(true)
            val freshDocs = sizesB.count()
            storeDir.foreach { d =>
              // slot ids are assigned monotonically at WRITE time, not
              // from the stream's batch id: a fresh checkpoint restarts
              // batch ids at 0 against a store that already holds those
              // slots, and the doc-id fence makes idempotency DOC-granular
              // — the delta holds exactly the docs the store lacks, so it
              // is always safe to append under a fresh id and never
              // correct to overwrite a committed slot. A fully replayed
              // batch fences down to an all-empty delta and skips the
              // write entirely
              if (freshDocs > 0)
                writeSlot(spark, d,
                  committedSlots(spark, d, slotPrefix).headOption.fold(0L)(_._1 + 1L),
                  pB, sizesB, labDelta)
            }
            metrics.foreach { m =>
              m.recordStore(graft.tools.MetricsListener.StoreMetric(
                "neardup_cluster_store", batchId,
                pB.count(), freshDocs, labDelta.count(), sizesNew.count()))
            }
          }
        }
        .start()
    }
  }
}
