package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.HashFunctions.{graft_band_hashes, graft_ngram_hashes}
import graft.functions.RepetitionFunctions.graft_rep_stats
import graft.functions.SplitFunctions.{graft_split, graft_well_formed}
import graft.ops.{DedupOps, TextOps}

/** Differential spec of the native text kernels against the formulations
  * they replaced ([[TextReference]]): the whitespace/literal splitter vs
  * `split` + lambda trims and filters, the fused Gopher n-gram kernel vs
  * one string-keyed call per n, and the native LSH band hashes vs
  * `"band:xxhash64(slice)"` strings. Every comparison is exact, on seeded
  * corpora built to hit the edges: every Java `\s` character, Unicode
  * spaces that must NOT split, CJK and supplementary-plane tokens, case
  * mappings with context (final sigma, dotted capital I), empty and NULL
  * text, separators at the edges, looped sentences and ill-formed UTF-8.
  */
class TextKernelSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import TestSpark.onBothPaths

  private val words = Seq(
    "the", "cat", "sat", "on", "mat", "alpha", "bravo", "Zig", "ZAG", "a", "b",
    "ΟΔΟΣ", "ΑΣ", "Σ", "ΣΑΣ", "İstanbul", "İ", "中文", "日本語の文", "𝒳𝒴", "😀x",
    "naïve", "a b", "c　d", "x\u0085y", "\u001Cz", "q r", "...", "###")
  private val seps = Seq(" ", " ", " ", "  ", "\t", "\u000B", "\f", "\r", "\n", "\n\n",
    "\n\n\n", " \t ", "\r\n", "\n \n", " ", "　")

  /** Seeded documents: random word soup over random separators, with
    * looped sentences, repeated lines and edge separators mixed in.
    */
  private def corpus(seed: Long, n: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
    def soup(k: Int): String = (0 until k).map(_ => pick(words) + pick(seps)).mkString
    (1 to n).map { i =>
      val body = rnd.nextInt(6) match {
        case 0 => soup(rnd.nextInt(4))                            // 0..3 words: n > |tokens|
        case 1 => (soup(3 + rnd.nextInt(8)) + " ") * (2 + rnd.nextInt(6)) // looped sentence
        case 2 => Seq.fill(2 + rnd.nextInt(4))(soup(1 + rnd.nextInt(3)).trim).mkString("\n")
        case _ => soup(rnd.nextInt(60))
      }
      (i.toLong, pick(Seq("", "\n\n", " ", "\t\n")) + body + pick(Seq("", "\n\n", "  ", "\f")))
    }
  }

  private val edgeTexts = Seq(
    "", " ", "\t\u000B\f\r\n", "\n\n\n", "\n\n", "a", " a ", "\n\nfoo\n\n", "foo\n\n\nbar",
    "ΑΣ\u000BΒ", "ΟΔΟΣ\fΑ", "ΟΔΟΣ ΑΣ\tΣ\rΣΑΣ.Β", "İSTANBUL\tİ", "ΑΣ Β", "x　y z",
    "same line\nsame line\n same line \nother", "p one\n\np one\n\n\n\np one",
    "w w w w w w w w w w w w", "a b c d e f g h i j a b c d e f g h i j")

  /** Seeded corpus + edge texts + a NULL row, as (doc_id, text). */
  private def texts(seed: Long): DataFrame = {
    val edges = edgeTexts.zipWithIndex.map { case (t, i) => (10000L + i, t) }
    (corpus(seed, 300) ++ edges).toDF("doc_id", "text")
      .union(Seq((-1L, null.asInstanceOf[String])).toDF("doc_id", "text"))
  }

  /** Ill-formed UTF-8 (lone continuation, truncated sequences before a
    * space and at the end, overlong, surrogate, > U+10FFFF, 0xFF) mixed
    * with whitespace and valid multi-byte text, made via
    * `cast(binary as string)`.
    */
  private def illFormed: DataFrame =
    Seq("80", "E282", "E28220", "41E28220E282", "C328200B41", "EDA080", "F4908080",
      "C0AF", "F09F98", "FF0A0AFF", "C3A90920E282AC0C", "CEA3CEA320E282",
      "6120E2820A0A6220E282", "F09F9880F09F")
      .zipWithIndex.toDF("hex", "doc_id")
      .select((col("doc_id") + 30000L).as("doc_id"), unhex(col("hex")).cast("string").as("text"))

  private def allTexts(seed: Long): DataFrame = texts(seed).union(illFormed)

  private def rowsOf(df: DataFrame): Map[Long, Row] =
    df.collect().map(r => r.getLong(0) -> r).toMap

  private def assertSame(got: DataFrame, ref: DataFrame, what: String): Unit = {
    val g = rowsOf(got)
    val r = rowsOf(ref)
    assert(g.keySet == r.keySet, s"$what: row ids differ")
    val bad = g.keySet.toSeq.sorted.filter(k => g(k) != r(k))
    assert(bad.isEmpty, s"$what differs on ${bad.size} rows, e.g. ${bad.take(3)
      .map(k => s"\n  got ${g(k)}\n  ref ${r(k)}").mkString}")
  }

  test("tokens: native splitter == filter(split(trim(t), \\s+)) incl. lower(), ill-formed UTF-8 and NULL") {
    onBothPaths {
      for (seed <- Seq(1L, 2L, 3L)) {
        val df = allTexts(seed)
        for ((name, t) <- Seq("text" -> col("text"), "lower" -> lower(col("text")))) {
          assertSame(
            df.select(col("doc_id"), TextOps.tokens(t)),
            df.select(col("doc_id"), TextReference.tokens(t)), s"tokens($name) seed $seed")
        }
      }
      // the \s set exactly: the six ASCII characters split, nothing else does
      val got = Seq("a b\tc\u000Bd\fe\rf\ng h　i\u0085j\u001Ck l").toDF("t")
        .select(TextOps.tokens(col("t"))).as[Seq[String]].head()
      assert(got == Seq("a", "b", "c", "d", "e", "f", "g h　i\u0085j\u001Ck l"))
      assert(Seq("", " \n ").toDF("t").select(TextOps.tokens(col("t"))).as[Seq[String]]
        .collect().forall(_.isEmpty))
    }
  }

  test("Gopher line/paragraph/token arrays: native splitter == the lambda chains") {
    onBothPaths {
      for (seed <- Seq(4L, 5L)) {
        val df = allTexts(seed)
        val t = coalesce(col("text"), lit(""))
        Seq(
          ("lines", graft_split(t, "\n", " \t\r"), TextReference.lines(t)),
          ("paragraphs", graft_split(t, "\n\n", " \t\r\n"), TextReference.paragraphs(t)),
          ("tokens", TextOps.tokens(lower(graft_well_formed(t))), TextReference.gopherTokens(t))
        ).foreach { case (what, got, ref) =>
          assertSame(df.select(col("doc_id"), got), df.select(col("doc_id"), ref), s"$what seed $seed")
        }
      }
    }
  }

  test("fused graft_rep_stats(1..10) == one string-keyed kernel call per n") {
    onBothPaths {
      val df = allTexts(6L).select(col("doc_id"), TextOps.tokens(col("text")).as("w"))
        .filter(col("w").isNotNull)
        .union(Seq((20000L, Seq("x", null, "", "x", null, "", "x"))).toDF("doc_id", "w"))
      assertSame(
        df.select(col("doc_id"), graft_rep_stats(col("w"), 1, 10)),
        df.select(col("doc_id"), struct((1 to 10).map(n => TextReference.repStats(col("w"), n)): _*)),
        "rep stats")
      // a single level, and a lo > 1 window of levels
      assertSame(
        df.select(col("doc_id"), graft_rep_stats(col("w"), 3, 5)),
        df.select(col("doc_id"), struct((3 to 5).map(n => TextReference.repStats(col("w"), n)): _*)),
        "rep stats 3..5")
    }
  }

  test("gopherRepetition: statistics and fractions identical to the string-keyed HOF formulation") {
    onBothPaths {
      val docs = Seq(allTexts(7L), allTexts(8L).withColumn("doc_id", col("doc_id") + 100000L),
        Tables.documents(spark, TestSpark.sf0001).select(col("doc_id") + 200000L, col("text")))
        .reduce(_ union _)
      assertSame(TextOps.gopherStats(docs, "doc_id", "text"),
        TextReference.gopherStats(docs, "doc_id", "text"), "gopher stats")
      val got = TextOps.gopherRepetition(docs, "doc_id", "text")
      assertSame(got,
        TextOps.gopherFractions(TextReference.gopherStats(docs, "doc_id", "text"), "doc_id"),
        "gopher fractions")
      // the corpus exercises both outcomes of the gate
      assert(got.filter(col("is_repetitive")).count() > 0)
      assert(got.filter(!col("is_repetitive")).count() > 0)
    }
  }

  test("graft_ngram_hashes hashes each gram in place == xxhash64(concat_ws(' ', slice)), NULL items included") {
    onBothPaths {
      val df = allTexts(11L).filter(col("text").isNotNull) // NULL text: NULL vs the HOF's []
      for (n <- Seq(1, 2, 3, 5)) {
        assertSame(DedupOps.hashedShingles(df, "doc_id", "text", n),
          TextReference.hashedShinglesHof(df, "doc_id", "text", n), s"distinct $n-gram hashes")
      }
      val withNulls = Seq((1L, Seq("a", null, "b", "c")), (2L, Seq(null, null, "x")),
        (3L, Seq("中文", "𝒳", null))).toDF("doc_id", "w")
        .union(df.select(col("doc_id"), TextOps.tokens(col("text"))).filter(col("doc_id") > 3))
        .filter(col("w").isNotNull)
      assertSame(
        withNulls.select(col("doc_id"), graft_ngram_hashes(col("w"), 2)),
        withNulls.select(col("doc_id"), DedupOps.bindOnce(col("w")) { w =>
          when(size(w) >= 2, transform(sequence(lit(1), size(w) - 1),
            i => xxhash64(concat_ws(" ", slice(w, i, lit(2))))))
            .otherwise(array().cast("array<bigint>"))
        }), "2-gram hashes with NULL items")
    }
  }

  test("graft_band_hashes == xxhash64(slice(sig, b·rows+1, rows)) per band, incl. short and NULL signatures") {
    onBothPaths {
      val sigs = (DedupOps.hashedShingles(allTexts(9L), "doc_id", "text", 3)
        .filter(size(col("sh")) > 0)
        .select(col("doc_id"), DedupOps.minhashSignature(col("sh"), 32).as("sig")))
        .union(Seq(
          (-11L, Seq(5L, 6L, 7L)),         // shorter than bands·rows: later slices empty
          (-12L, Seq.empty[Long])).toDF("doc_id", "sig"))
        .union(Seq(-13L).toDF("doc_id").select(col("doc_id"), lit(null).cast("array<bigint>")))
        .union(Seq(-14L).toDF("doc_id")     // NULL elements are skipped, as xxhash64 does
          .select(col("doc_id"), array(lit(9L), lit(null).cast("long"), lit(11L), lit(12L))))
      for ((bands, rows) <- Seq((16, 2), (4, 8), (3, 1))) {
        assertSame(
          sigs.select(col("doc_id"), graft_band_hashes(col("sig"), bands, rows)),
          sigs.select(col("doc_id"), array((0 until bands).map(b =>
            xxhash64(slice(col("sig"), b * rows + 1, rows))): _*)),
          s"band hashes $bands x $rows")
      }
    }
  }

  test("lshCandidates bucket join == posting lists over string buckets, common included: " +
    "broadcast, sort-merge, 1 and 7 shuffle partitions, NULL id") {
    val docs = allTexts(11L).union(Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id") + 100000L, col("text")))
    val sh0 = DedupOps.hashedShingles(docs, "doc_id", "text", 3).filter(size(col("sh")) > 0)
    // a NULL id sharing every band with a paired document: no pair may carry it
    val paired = TextReference.lshCandidates(sh0, "doc_id", 32, 16).as[(Long, Long, Long)]
      .collect().map(_._1).min
    val sh = sh0.union(sh0.filter(col("doc_id") === paired)
      .select(lit(null).cast("long").as("doc_id"), col("sh")))
    val ref = TextReference.lshCandidates(sh, "doc_id", 32, 16)
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(ref.exists(_._3 > 1), "the corpus yields pairs sharing several bands")
    val runs = Seq(
      "broadcast" -> (Map.empty[String, String], Some("BroadcastHashJoin")),
      "sort-merge" -> (Map("spark.sql.autoBroadcastJoinThreshold" -> "-1"), Some("SortMergeJoin")),
      "1 partition" -> (Map("spark.sql.shuffle.partitions" -> "1"), None),
      "7 partitions" -> (Map("spark.sql.shuffle.partitions" -> "7"), None))
    for ((run, (conf, join)) <- runs) {
      val prev = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
      try {
        conf.foreach { case (k, v) => spark.conf.set(k, v) }
        val df = DedupOps.lshCandidates(sh, "doc_id", 32, 16)
        val got = df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
        assert(got == ref, s"$run: candidates differ from the posting-list reference")
        assert(df.schema == TextReference.lshCandidates(sh, "doc_id", 32, 16).schema, s"$run: schema")
        join.foreach(j => assert(df.queryExecution.executedPlan.toString.contains(j), s"$run: no $j planned"))
      } finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
  }

  test("MinHash LSH candidates (doc_a, doc_b, common) == string buckets + distinct, at 1, 4 and 7 shuffle partitions") {
    val docs = allTexts(10L).union(Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id") + 100000L, col("text")))
    val sh = DedupOps.hashedShingles(docs, "doc_id", "text", 3).filter(size(col("sh")) > 0)
    val even = sh.filter(col("doc_id") % 2 === 0)
    val odd = sh.filter(col("doc_id") % 2 === 1)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      val results = Seq(1, 4, 7).map { p =>
        spark.conf.set("spark.sql.shuffle.partitions", p.toString)
        val self = DedupOps.lshCandidates(sh, "doc_id", 32, 16)
          .as[(Long, Long, Long)].collect().toSet
        val selfRef = TextReference.lshCandidates(sh, "doc_id", 32, 16)
          .as[(Long, Long, Long)].collect().toSet
        assert(self.nonEmpty && self == selfRef, s"self candidates at $p partitions")
        val cross = DedupOps.crossLshCandidates(even, odd, "doc_id", 32, 16)
          .as[(Long, Long)].collect().toSet
        val crossRef = TextReference.crossLshCandidates(even, odd, "doc_id", 32, 16)
          .as[(Long, Long)].collect().toSet
        assert(cross.nonEmpty && cross == crossRef, s"cross candidates at $p partitions")
        val pairs = DedupOps.minhashLshPairs(docs, "doc_id", "text", 3, 0.5)
          .as[(Long, Long, Double)].collect().toSet
        (self, cross, pairs)
      }
      assert(results.distinct.size == 1, "candidates or pairs depend on the partition count")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
