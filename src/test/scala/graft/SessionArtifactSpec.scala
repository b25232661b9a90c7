package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins the one session factory and the one trained-artifact registry. */
class SessionArtifactSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf0001

  /** The artifact phase's entries, in the order Bench reports them. */
  val artifactNames = Seq(
    "artifact_unigram_train", "artifact_bpe_train", "artifact_wordpiece_train",
    "artifact_neardup_pairs", "artifact_bm25_index", "artifact_hnsw_index")

  test("TestSpark carries GraftSession's pinned confs") {
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") == "1048576")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
  }

  test("trainArtifacts trains the registry's entries in order; clear empties every memo") {
    SparkEntry.clearTrainedArtifacts()
    assert(SparkEntry.memoizedArtifacts.isEmpty)
    val times = SparkEntry.trainArtifacts(spark, sf)
    assert(times.map(_._1) == artifactNames)
    times.foreach { case (name, t) => assert(t >= 0.0, s"$name failed to train") }
    assert(SparkEntry.memoizedArtifacts == artifactNames)
    SparkEntry.clearTrainedArtifacts()
    assert(SparkEntry.memoizedArtifacts.isEmpty)
  }

  test("q_bm25 rows are unchanged by a clear and retrain of its staged index") {
    def rows() = SparkEntry.queries("q_bm25")(spark, sf).collect().map(_.toString).sorted.toSeq
    val before = rows()
    assert(before.nonEmpty)
    SparkEntry.clearTrainedArtifacts()
    SparkEntry.trainArtifacts(spark, sf)
    assert(rows() == before)
  }

  /** Every main Scala source as (path relative to src/main/scala, text). */
  private def mainSources(): Seq[(Path, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root, not ${Paths.get("").toAbsolutePath}")
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .map(f => (root.relativize(f), Files.readString(f)))
  }

  test("src/main builds a SparkSession in exactly one place: GraftSession") {
    val builder = java.util.regex.Pattern.quote("SparkSession.builder()")
    val hits: Seq[Path] = mainSources().flatMap { case (f, text) =>
      Seq.fill(text.split(builder, -1).length - 1)(f)
    }
    assert(hits == Seq(Paths.get("graft/GraftSession.scala")))
  }

  test("src/main has exactly four entry points: Bench, Verify, tools.Explain, tools.TimeQueries") {
    val pkg = """(?m)^package\s+([\w.]+)""".r
    val obj = """(?m)^\s*object\s+(\w+)""".r
    val mains = mainSources().flatMap { case (_, text) =>
      val p = pkg.findFirstMatchIn(text).map(_.group(1) + ".").getOrElse("")
      """\bdef\s+main\(""".r.findAllMatchIn(text).map { m =>
        p + obj.findAllMatchIn(text.substring(0, m.start)).map(_.group(1)).toSeq.last
      }
    }
    assert(mains.sorted == Seq("graft.Bench", "graft.Verify", "graft.tools.Explain", "graft.tools.TimeQueries"))
  }
}
