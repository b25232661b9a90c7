package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import Etl._
import Main.{Args, Outcome, secondsSince}
import Stats.Metric

/** `etl_daemon`: one client in a closed loop against [[EtlDaemon]], the
  * shape of the reference's sequential consumer.
  *
  * Set-up generates the inputs and seeds the store three times (the median
  * is reported), then starts the stream and serves one warm-up block.
  * The measured window serves whole blocks of requests until both the
  * run's seconds have passed and at least [[MinBlocks]] blocks have been
  * served. A pass is one block.
  */
object EtlWorkload {
  val MinBlocks = 2
  val WarmupBlocks = 1
  val SetupReps = 3

  final case class Served(req: Request, latencyS: Double, cpuS: Double, traced: Boolean)

  def run(spark: SparkSession, args: Args, trace: Trace, sessionS: Double, cpus: Int): Outcome = {
    // each repetition replaces the previous one's daemon, store and feeds
    var in: Inputs = null
    var daemon: EtlDaemon = null
    val setupTimes = (1 to SetupReps).map { rep =>
      val t0 = System.nanoTime()
      in = Etl.generate(args.seed)
      daemon = new EtlDaemon(spark, in, s"etl_${args.seed}", args.work.resolve("checkpoint").toString, trace)
      daemon.seedStore()
      Main.log(s"set-up $rep: inputs generated, feeds loaded, store seeded")
      secondsSince(t0)
    }
    val t1 = System.nanoTime()
    daemon.start()
    val warmup = in.requests.take(WarmupBlocks * BlockSize)
    warmup.foreach { r => val l = daemon.serve(r); Main.log(f"warm-up request ${r.id} (${r.kind}) $l%.3fs") }
    val warmupFailures = warmup.filterNot(r => Option(daemon.observed.get(r.id)).exists(_.isRight))
    warmupFailures.foreach(r => System.err.println(s"[etl_daemon] warm-up request ${r.id} failed"))
    val setupS = sessionS + Stats.median(setupTimes) + secondsSince(t1)

    val counters = new SparkCounters(spark, trace)
    val served = mutable.ArrayBuffer.empty[Served]
    val blockTimes = mutable.ArrayBuffer.empty[(Double, Double, Boolean)] // (wall, cpu, traced)
    val (steal0, jiffies0) = Main.stealJiffies()
    val gc0 = Main.jvmGcS()
    val window0 = System.nanoTime()
    val hardStopS = Main.hardStopS(args.seconds)
    var block = WarmupBlocks
    def more: Boolean = {
      val el = secondsSince(window0)
      block * BlockSize + BlockSize <= in.requests.size && el < hardStopS &&
        (el < args.seconds || blockTimes.size < MinBlocks)
    }
    var layerBase = SparkCounters.Zero
    var layerTotals = SparkCounters.Zero
    while (more) {
      // the traced run alternates: odd blocks traced, even blocks not
      val traced = args.trace && block % 2 == 1
      if (traced) { counters.attach(); layerBase = counters.snapshot() }
      trace.enabled = traced
      val c0 = Main.processCpuS()
      val b0 = System.nanoTime()
      in.requests.slice(block * BlockSize, (block + 1) * BlockSize).foreach { r =>
        val c = Main.processCpuS()
        val lat = trace.rootSpan("streaming", s"request.${r.kind}")(daemon.serve(r))
        served += Served(r, lat, Main.processCpuS() - c, traced)
      }
      blockTimes += ((secondsSince(b0), Main.processCpuS() - c0, traced))
      Main.log(f"block $block: ${blockTimes.last._1}%.3fs wall, ${blockTimes.last._2}%.3fs cpu, traced=$traced")
      trace.enabled = false
      if (traced) { layerTotals = layerTotals + (counters.snapshot() - layerBase); counters.detach() }
      block += 1
    }
    val windowS = secondsSince(window0)
    val (steal1, jiffies1) = Main.stealJiffies()
    val stealPct = if (jiffies1 > jiffies0) 100.0 * (steal1 - steal0) / (jiffies1 - jiffies0) else 0.0
    val gcS = Main.jvmGcS() - gc0
    val heapMb = Main.retainedHeapMb()
    val batches = if (args.trace) counters.batches else Nil
    daemon.stop()

    // correctness: every completion and the final store against the model
    val model = new Model(in)
    val processed = in.requests.take(block * BlockSize)
    val mismatches = mutable.ArrayBuffer.empty[String]
    processed.foreach { r =>
      val want = model(r)
      daemon.observed.get(r.id) match {
        case null => mismatches += s"request ${r.id}: no completion"
        case Left(e) => mismatches += s"request ${r.id}: failed with $e"
        case Right(got) =>
          if (got.recordCount != want.recordCount || got.status != want.status || got.perBatch != want.perBatch)
            mismatches += s"request ${r.id} (${r.kind}): got $got, model says $want"
      }
    }
    val (gotMarket, gotHistory, gotIndex) = daemon.storeContents()
    val (wantMarket, wantHistory, wantIndex) = EtlDaemon.modelContents(model)
    Seq(("market_data", gotMarket, wantMarket), ("historical_data", gotHistory, wantHistory),
      ("market_index", gotIndex, wantIndex)).foreach { case (t, got, want) =>
      if (got != want) mismatches += s"store table $t differs from the model: " +
        s"${(got -- want).take(3)} unexpected, ${(want -- got).take(3)} missing"
    }
    mismatches.take(20).foreach(m => System.err.println(s"[etl_daemon] MISMATCH $m"))

    val measured = served.toSeq
    def ok(s: Served) = Option(daemon.observed.get(s.req.id)).exists(_.isRight)
    val failed = measured.count(!ok(_))
    def lat(s: Served) = if (ok(s)) s.latencyS else Double.PositiveInfinity
    def cpu(s: Served) = if (ok(s)) s.cpuS else Double.PositiveInfinity
    val untracedBlocks = blockTimes.filterNot(_._3).toSeq
    val untracedServed = measured.filterNot(_.traced)
    // every block holds every kind, so each kind has a sample per block
    def kindMedians(from: Seq[Served], f: Served => Double) =
      Shapes.map(k => k -> Stats.median(from.filter(_.req.kind == k).map(f)))
    val kindP50 = kindMedians(measured, lat)
    val endToEnd = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("cpu_s", Stats.median(untracedBlocks.map(_._2)), "s"),
      Metric("op_cpu_s", Stats.geomean(kindMedians(untracedServed, cpu).map(_._2)), "s"),
      Metric("retained_heap_mb", heapMb, "MB"))

    // a median is always reported; a tail percentile only with ten
    // samples beyond it, and only in the detail line: the window cannot
    // hold the 100 requests a p90 needs
    val p50 = Stats.median(measured.map(lat))
    val p90 = Stats.percentile(measured.map(lat), 0.9)
    val detail =
      s"""{"workload":"etl_daemon","requests":${measured.size},"window_s":$windowS,""" +
        s""""pass_s":[${blockTimes.map(_._1).mkString(",")}],""" +
        s""""request_p50":{"value":${Stats.jsonNumber(p50)},"n":${measured.size}},"request_p90":${pctJson(p90)},""" +
        kindP50.map { case (k, v) => s""""${k}_p50":${Stats.jsonNumber(v)}""" }.mkString(",") +
        s""","steal_pct":$stealPct,"jvm_gc_s":$gcS,"setup_reps_s":[${setupTimes.mkString(",")}],""" +
        s""""warmup_failures":${warmupFailures.size},"mismatches":${mismatches.size}}"""

    val perLayer = if (!args.trace) Nil else {
      val traced = measured.filter(_.traced)
      val tracedBlocks = blockTimes.filter(_._3).toSeq
      val spans = trace.all
      def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
      def spanP50(name: String) = med(spans.filter(_.name == name).map(_.durationNs / 1e9))
      val tracedIds = traced.map(_.req.id).toSet
      val tracedBatches = batches.filter(b => tracedIds.contains(b.batchId.toInt))
      val batchById = tracedBatches.map(b => b.batchId.toInt -> b).toMap
      def batchP50(f: SparkCounters.BatchProgress => Long) =
        med(tracedBatches.map(f(_) / 1e3))
      val queueWait = traced.flatMap(s => batchById.get(s.req.id).map(b => s.latencyS - b.triggerMs / 1e3))
      val histTraced = traced.filter(_.req.kind.startsWith("historical"))
      val upsertRows = counters.shuffleRecordsRead(spans.filter(_.name == "sources.upsert").map(_.id))
      val byId = spans.map(x => x.id -> x).toMap
      val histUpsertRows = counters.shuffleRecordsRead(spans.filter(s => s.name == "sources.upsert" &&
        rootKind(byId, s).startsWith("historical")).map(_.id))
      def observed(s: Served) = Option(daemon.observed.get(s.req.id)).flatMap(_.toOption)
      val histFetched = histTraced.flatMap(observed(_).map(_.recordCount)).sum
      val indexTraced = traced.filter(_.req.kind.startsWith("index"))
      val cached = indexTraced.count(observed(_).exists(_.status == "complete_cached"))
      val self = Trace.selfTimeByLayer(spans)
      val nTraced = math.max(1, traced.size)
      val nBlocks = math.max(1, tracedBlocks.size)
      Seq(
        Metric("etl.request_p50_s", p50, "s"),
        Metric("etl.requests_per_s", measured.size / windowS, "1/s"),
        Metric("etl.requests_measured", measured.size.toDouble, "count"),
        Metric("jobs.spark_jobs_per_request", layerTotals.jobs.toDouble / nTraced, "count"),
        Metric("jobs.tasks_per_request", layerTotals.tasks.toDouble / nTraced, "count"),
      ) ++ kindP50.map { case (k, v) => Metric(s"etl.${k}_p50_s", v, "s") } ++
        Shapes.map(k => Metric(s"jobs.$k.call_p50_s", spanP50(s"jobs.$k.call"), "s")) ++ Seq(
        Metric("jobs.index.cached_ratio", if (indexTraced.isEmpty) 0.0 else cached.toDouble / indexTraced.size, "ratio"),
        Metric("streaming.batch_p50_s", batchP50(_.triggerMs), "s"),
        Metric("streaming.queue_wait_p50_s", med(queueWait), "s"),
        Metric("streaming.wal_commit_p50_s", batchP50(_.walMs), "s"),
        Metric("streaming.query_planning_p50_s", batchP50(_.planningMs), "s"),
        Metric("sources.store_read_p50_s", spanP50("sources.store_read"), "s"),
        Metric("sources.upsert_p50_s", spanP50("sources.upsert"), "s"),
        Metric("sources.upsert_rows", upsertRows.toDouble / nTraced, "count"),
        Metric("ops.historical.useful_fetch_ratio",
          if (histFetched == 0) 0.0 else histUpsertRows.toDouble / histFetched, "ratio"),
        Metric("spark.plan_s", layerTotals.planS / nBlocks, "s"),
      ) ++ Common.sparkLayer(layerTotals, nBlocks, tracedBlocks.map(_._1).sum / nBlocks, cpus) ++
        Common.selfTimes(self, nBlocks) ++
        Common.hostLayer(stealPct, gcS, failed.toDouble / math.max(1, measured.size),
          Stats.median(tracedBlocks.map(_._1)), Stats.median(untracedBlocks.map(_._1))) ++
        Common.wallLayer(Stats.median(untracedBlocks.map(_._1)),
          Stats.geomean(kindMedians(untracedServed, lat).map(_._2)))
    }
    Outcome(mismatches.isEmpty && warmupFailures.isEmpty, measured.size.toLong, failed.toLong,
      endToEnd, perLayer, detail)
  }

  /** The request kind of the root span above `s`. */
  private def rootKind(byId: Map[Long, Span], s: Span): String = {
    var cur = s
    while (cur.parent != 0L && byId.contains(cur.parent)) cur = byId(cur.parent)
    cur.name.stripPrefix("request.")
  }

  def pctJson(p: Option[Stats.Pct]): String = p match {
    case Some(x) => s"""{"value":${Stats.jsonNumber(x.value)},"n":${x.n},"beyond":${x.beyond}}"""
    case None => "null"
  }
}
