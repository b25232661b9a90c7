package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.{CharEntropyStats, DotProduct, L2SquaredFp, MinHashSignature, NGramHashes, SimHash64, TopCount, WinnowFingerprints}

/** SparkSessionExtensions entry point: registers the engine's native
  * functions for SQL use. Wire with the builder's
  * `withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.GraftExtensions`; for an already-running
  * session use [[GraftExtensions.registerAll]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.descriptors.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => graft.plans.RangeLookupStrategy)
  }
}

object GraftExtensions {
  private def buildDot(args: Seq[Expression]): Expression = args match {
    case Seq(a, b) => DotProduct(a, b)
    case _ => throw new IllegalArgumentException("graft_dot expects exactly 2 arguments")
  }

  private def buildL2Sq(args: Seq[Expression]): Expression = args match {
    case Seq(a, b) => L2SquaredFp(a, b)
    case _ => throw new IllegalArgumentException("graft_l2sq expects exactly 2 arguments")
  }

  private def buildSimhash(args: Seq[Expression]): Expression = args match {
    case Seq(a) => SimHash64(a)
    case _ => throw new IllegalArgumentException("graft_simhash expects exactly 1 argument")
  }

  private def buildMinhashSig(args: Seq[Expression]): Expression = args match {
    case Seq(a, Literal(k: Int, _)) => MinHashSignature(a, k)
    case _ => throw new IllegalArgumentException(
      "graft_minhash_sig expects (array<bigint>, <int literal>)")
  }

  private def buildWinnow(args: Seq[Expression]): Expression = args match {
    case Seq(t, Literal(k: Int, _), Literal(w: Int, _)) => WinnowFingerprints(t, k, w)
    case _ => throw new IllegalArgumentException(
      "graft_winnow expects (string, <int literal>, <int literal>)")
  }

  private def buildNgramHashes(args: Seq[Expression]): Expression = args match {
    case Seq(t, Literal(n: Int, _)) => NGramHashes(t, n, distinct = false)
    case Seq(t, Literal(n: Int, _), Literal(d: Boolean, _)) => NGramHashes(t, n, d)
    case _ => throw new IllegalArgumentException(
      "graft_ngram_hashes expects (array<string>, <int literal>[, <bool literal>])")
  }

  private def buildTopCount(args: Seq[Expression]): Expression = args match {
    case Seq(a) => TopCount(a)
    case _ => throw new IllegalArgumentException("graft_top_count expects exactly 1 argument")
  }

  private def buildCharEntropy(args: Seq[Expression]): Expression = args match {
    case Seq(t) => CharEntropyStats(t)
    case _ => throw new IllegalArgumentException("graft_char_entropy expects exactly 1 argument")
  }

  private val builders: Seq[(String, Seq[Expression] => Expression, Class[_])] = Seq(
    ("graft_char_entropy", buildCharEntropy _, classOf[CharEntropyStats]),
    ("graft_dot", buildDot _, classOf[DotProduct]),
    ("graft_l2sq", buildL2Sq _, classOf[L2SquaredFp]),
    ("graft_ngram_hashes", buildNgramHashes _, classOf[NGramHashes]),
    ("graft_top_count", buildTopCount _, classOf[TopCount]),
    ("graft_simhash", buildSimhash _, classOf[SimHash64]),
    ("graft_minhash_sig", buildMinhashSig _, classOf[MinHashSignature]),
    ("graft_winnow", buildWinnow _, classOf[WinnowFingerprints]))

  val descriptors: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    builders.map { case (name, b, cls) =>
      (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), b)
    }

  /** Register on a live session. Tests (SourcesSpec, DedupTextSpec)
    * exercise SQL-string resolution through this; the Verify/Bench mains
    * do NOT call it — every registered query reaches the kernels through
    * typed Column wrappers, which need no registry. A query that embeds
    * `graft_*` in SQL text must call this (or install [[GraftExtensions]])
    * first.
    */
  def registerAll(spark: SparkSession): Unit =
    builders.foreach { case (name, b, _) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, b, "built-in")
    }
}
