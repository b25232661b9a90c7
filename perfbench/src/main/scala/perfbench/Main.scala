package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import Stats.Metric

/** Entry point: `perfbench.Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir>`.
  *
  * One run is one fresh JVM: build the session, set up the workload,
  * measure it for the given seconds, check its outputs, and print one JSON
  * line last on stdout. With `--trace 0` the line holds the end-to-end
  * metrics; with `--trace 1` it holds the per-layer metrics, from a run
  * that alternates traced and untraced passes so that it can state its
  * own tracing overhead. Spans are written to `<work>/spans.jsonl`.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path)

  /** What a workload reports after its measured window. */
  final case class Outcome(
      correct: Boolean,
      attempted: Long,
      failed: Long,
      endToEnd: Seq[Metric],
      perLayer: Seq[Metric],
      detail: String)

  val Workloads: Seq[String] = Seq("etl_daemon", "curation_corpus")

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w; known: ${Workloads.mkString(", ")}")
    val trace = need("trace")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1, got $trace")
    Args(w, need("seed").toLong, need("seconds").toInt, trace == "1", Paths.get(need("work")))
  }

  def session(work: Path, cpus: Int): SparkSession = {
    // Bench's session, with every file it writes kept in the work directory
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1048576")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def jvmGcS(): Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
  }

  /** (steal, total) jiffies summed over all CPUs, or (0, 0) off Linux. */
  def stealJiffies(): (Long, Long) =
    try {
      val line = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (if (line.length > 7) line(7) else 0L, line.sum)
    } catch { case _: Exception => (0L, 0L) }

  /** Heap in use once garbage collection stops freeing more. Spark frees
    * checkpoint blocks from a cleaner thread after a collection finds their
    * RDDs unreachable, so one collection is not enough.
    */
  def retainedHeapMb(): Double = {
    def used() = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed }
    var last = used()
    var rounds = 0
    var next = { Thread.sleep(200); used() }
    while (next < last * 0.99 && rounds < 5) { last = next; Thread.sleep(200); next = used(); rounds += 1 }
    next / 1e6
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** The measured window ends after `seconds` once its minimum number of
    * passes is done, and by this time in any case, so that a very slow
    * program still ends its run well within the runner's time limit.
    */
  def hardStopS(seconds: Int): Double = math.min(math.max(seconds * 3.0, 30.0), 100.0)

  /** A progress line on stderr. */
  def log(msg: String): Unit = System.err.println(f"[perfbench] ${secondsSince(Start)}%7.2fs $msg")
  private val Start = System.nanoTime()

  def main(argv: Array[String]): Unit = {
    val args = try parse(argv) catch { case e: IllegalArgumentException =>
      System.err.println(s"[perfbench] ${e.getMessage}"); sys.exit(2)
    }
    Files.createDirectories(args.work)
    val cpus = 4
    val t0 = System.nanoTime()
    val spark = session(args.work, cpus)
    val sessionS = secondsSince(t0)
    log(f"session up in $sessionS%.2fs")
    val trace = new Trace(Some(spark.sparkContext))
    val outcome = try {
      args.workload match {
        case "etl_daemon" => EtlWorkload.run(spark, args, trace, sessionS, cpus)
        case "curation_corpus" => CurationWorkload.run(spark, args, trace, sessionS, cpus)
      }
    } finally {
      spark.stop()
    }
    if (args.trace) Trace.write(args.work.resolve("spans.jsonl"), trace.all)
    println(outcome.detail)
    val metrics =
      if (args.trace) Metrics.complete(outcome.perLayer, Metrics.PerLayer, fillZero = true)
      else Metrics.complete(outcome.endToEnd, Metrics.EndToEnd, fillZero = false)
    println(Stats.resultLine(outcome.correct, outcome.attempted, outcome.failed, metrics))
    System.out.flush()
  }
}
