package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import Main.{Args, Outcome, secondsSince}
import Stats.Metric

/** `curation_corpus`: single-pass kernel and dedup queries, plus one
  * driver-iterated fit (`q_kmeans`), over a corpus generated from the seed.
  *
  * A pass clears the trained-artifact memos and then, for each query,
  * calls the registered query function (the driver-side build) and writes
  * its result to [[HashSink]] (the execution). Set-up writes the corpus
  * three times (the median is reported) and runs one warm-up pass. The
  * measured window runs whole passes until the run's seconds have passed
  * and at least [[MinPasses]] passes are done.
  *
  * Correctness: each query's content hash must agree across all passes,
  * the warm-up included, and its row count must be non-zero.
  */
object CurationWorkload {
  val Queries: Seq[String] = Seq(
    "q_char_entropy", "q_fix_mojibake", "q_gopher_repetition", "q_minhash_dedup", "q_kmeans")
  /** Queries over `embeddings`; the rest read `documents`. */
  val VectorQueries: Set[String] = Set("q_kmeans")
  val Size: Corpus.Size = Corpus.Size(docs = 3000, vectors = 1200, dupShare = 0.05)
  val MinPasses = 3
  val SetupReps = 3

  final case class QueryRun(pass: Int, query: String, buildS: Double, execS: Double, cpuS: Double,
      content: Either[Throwable, HashSink.Content], spark: SparkCounters.Totals)

  def run(spark: SparkSession, args: Args, trace: Trace, sessionS: Double, cpus: Int): Outcome = {
    val dir = args.work.resolve("corpus").toString
    val genTimes = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime()
      Corpus.write(spark, dir, args.seed, Size)
      Main.log("set-up: corpus written")
      secondsSince(t0)
    }
    val counters = new SparkCounters(spark, trace)
    val runs = mutable.ArrayBuffer.empty[QueryRun]
    val passTimes = mutable.ArrayBuffer.empty[(Double, Double, Boolean)] // (wall, cpu, traced)

    def pass(n: Int, traced: Boolean): Unit = {
      val c0 = Main.processCpuS()
      val p0 = System.nanoTime()
      trace.rootSpan("bench", s"pass.$n") {
        trace.span("entry", "entry.clear")(SparkEntry.clearTrainedArtifacts())
        Queries.foreach { q =>
          val before = if (traced) counters.snapshot() else SparkCounters.Zero
          val c0 = Main.processCpuS()
          val t0 = System.nanoTime()
          var buildS = Double.NaN
          val content = try {
            val df = trace.span("entry", s"entry.$q.build")(SparkEntry.queries(q)(spark, dir))
            buildS = secondsSince(t0)
            val key = s"$n/$q"
            trace.span("entry", s"entry.$q.exec") {
              df.write.format(classOf[HashSink].getName).mode("overwrite").option("key", key).save()
            }
            Right(HashSink.result(key))
          } catch { case NonFatal(e) =>
            System.err.println(s"[curation_corpus] pass $n: $q failed: $e")
            Left(e)
          }
          val totalS = secondsSince(t0)
          val cpuS = Main.processCpuS() - c0
          if (buildS.isNaN) buildS = totalS
          spark.catalog.clearCache()
          runs += QueryRun(n, q, buildS, totalS - buildS, cpuS, content,
            if (traced) counters.snapshot() - before else SparkCounters.Zero)
        }
      }
      passTimes += ((secondsSince(p0), Main.processCpuS() - c0, traced))
      Main.log(f"pass $n: ${passTimes.last._1}%.3fs wall, ${passTimes.last._2}%.3fs cpu, traced=$traced")
      // free the pass's checkpoint blocks before the next one, outside the timing
      System.gc()
    }

    val w0 = System.nanoTime()
    pass(0, traced = false)
    val warmupS = secondsSince(w0)
    val reference = runs.map(r => r.query -> r.content).toMap
    val setupS = sessionS + Stats.median(genTimes) + warmupS
    runs.clear(); passTimes.clear()

    val (steal0, jiffies0) = Main.stealJiffies()
    val gc0 = Main.jvmGcS()
    val window0 = System.nanoTime()
    val hardStopS = Main.hardStopS(args.seconds)
    var n = 1
    var layerTotals = SparkCounters.Zero
    while (secondsSince(window0) < hardStopS && (secondsSince(window0) < args.seconds || passTimes.size < MinPasses)) {
      val traced = args.trace && n % 2 == 1
      if (traced) counters.attach()
      trace.enabled = traced
      val before = if (traced) counters.snapshot() else SparkCounters.Zero
      pass(n, traced)
      if (traced) { layerTotals = layerTotals + (counters.snapshot() - before); counters.detach() }
      trace.enabled = false
      n += 1
    }
    val windowS = secondsSince(window0)
    val (steal1, jiffies1) = Main.stealJiffies()
    val stealPct = if (jiffies1 > jiffies0) 100.0 * (steal1 - steal0) / (jiffies1 - jiffies0) else 0.0
    val gcS = Main.jvmGcS() - gc0
    val heapMb = Main.retainedHeapMb()

    // correctness: every pass returns the warm-up pass's non-empty content,
    // and no query fails in any pass
    val mismatches = mutable.ArrayBuffer.empty[String]
    Queries.foreach { q =>
      runs.filter(_.query == q).foreach(r => r.content match {
        case Left(e) => mismatches += s"$q pass ${r.pass} failed: $e"
        case Right(got) => reference(q) match {
          case Right(c) if got != c => mismatches += s"$q pass ${r.pass}: content $got, warm-up pass $c"
          case _ => ()
        }
      })
      reference(q) match {
        case Left(e) => mismatches += s"$q failed in the warm-up pass: $e"
        case Right(c) if c.rows == 0 => mismatches += s"$q returned no rows"
        case _ => ()
      }
    }
    mismatches.foreach(m => System.err.println(s"[curation_corpus] MISMATCH $m"))

    val failed = runs.count(_.content.isLeft)
    def opS(r: QueryRun) = if (r.content.isRight) r.buildS + r.execS else Double.PositiveInfinity
    def opCpu(r: QueryRun) = if (r.content.isRight) r.cpuS else Double.PositiveInfinity
    val untraced = runs.filterNot(r => passTimes(r.pass - 1)._3).toSeq
    val untracedPasses = passTimes.filterNot(_._3).toSeq
    def queryMedians(f: QueryRun => Double) = Queries.map(q => Stats.median(untraced.filter(_.query == q).map(f)))
    val perQueryP50 = queryMedians(opS)
    val endToEnd = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("cpu_s", Stats.median(untracedPasses.map(_._2)), "s"),
      Metric("op_cpu_s", Stats.geomean(queryMedians(opCpu)), "s"),
      Metric("retained_heap_mb", heapMb, "MB"))
    val detail =
      s"""{"workload":"curation_corpus","passes":${passTimes.size},"window_s":$windowS,""" +
        s""""pass_s":[${passTimes.map(_._1).mkString(",")}],""" +
        Queries.zip(perQueryP50).map { case (q, v) => s""""$q":${Stats.jsonNumber(v)}""" }.mkString(",") +
        s""","content":{${Queries.flatMap(q => reference(q).toOption.map(c => s""""$q":[${c.rows},${c.hash}]""")).mkString(",")}},""" +
        s""""steal_pct":$stealPct,"jvm_gc_s":$gcS,"setup_reps_s":[${genTimes.mkString(",")}],""" +
        s""""warmup_failures":${reference.values.count(_.isLeft)},"mismatches":${mismatches.size}}"""

    val perLayer = if (!args.trace) Nil else {
      val traced = runs.filter(r => passTimes(r.pass - 1)._3).toSeq
      val tracedPasses = passTimes.filter(_._3).toSeq
      val nPasses = math.max(1, tracedPasses.size)
      def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
      val perQuery = Queries.flatMap { q =>
        val rs = traced.filter(_.query == q)
        Seq(
          Metric(s"entry.$q.build_s", med(rs.map(_.buildS)), "s"),
          Metric(s"entry.$q.exec_s", med(rs.map(_.execS)), "s"),
          Metric(s"entry.$q.spark_jobs", med(rs.map(_.spark.jobs.toDouble)), "count"),
          Metric(s"entry.$q.executor_cpu_s", med(rs.map(_.spark.executorCpuS)), "s"))
      }
      val docRuns = traced.filterNot(r => VectorQueries.contains(r.query))
      val docCpu = docRuns.map(_.spark.executorCpuS).sum
      val self = Trace.selfTimeByLayer(trace.all)
      perQuery ++ Seq(
        Metric("functions.docs_per_cpu_s", if (docCpu > 0) Size.docs.toDouble * docRuns.size / docCpu else 0.0, "1/s"),
        Metric("spark.plan_s", layerTotals.planS / nPasses, "s"),
        Metric("curation.passes_measured", passTimes.size.toDouble, "count"),
      ) ++ Common.sparkLayer(layerTotals, nPasses, tracedPasses.map(_._1).sum / nPasses, cpus) ++
        Common.selfTimes(self, nPasses) ++
        Common.hostLayer(stealPct, gcS, failed.toDouble / math.max(1, runs.size),
          med(tracedPasses.map(_._1)), med(untracedPasses.map(_._1))) ++
        Common.wallLayer(med(untracedPasses.map(_._1)), Stats.geomean(perQueryP50))
    }
    Outcome(mismatches.isEmpty, runs.size.toLong, failed.toLong, endToEnd, perLayer, detail)
  }
}
