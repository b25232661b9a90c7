package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{DedupOps, TextOps}

class DedupTextSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("CdcKernel hash60 == md5Hash60 on every emitted slice (incl. non-ASCII; the oracle-replay contract)") {
    // window larger than any text -> no candidate boundary -> one chunk
    // spanning the whole doc, whose chunk_id must be exactly md5Hash60(text)
    val df = Seq((1L, "abcdefgh"), (2L, "the quick brown fox"), (3L, "x"),
      (4L, "café über window"), (5L, "0123456789" * 30))
      .toDF("doc_id", "text")
    val got = DedupOps.cdcChunks(df, "doc_id", "text", window = 10000)
      .select("doc_id", "chunk_id").as[(Long, Long)].collect().toMap
    val ref = df.select(col("doc_id"), DedupOps.md5Hash60(col("text")))
      .as[(Long, Long)].collect().toMap
    assert(got == ref)
  }

  test("cdcChunks: boundaries re-synchronize after an insertion; minChunk suppresses close cuts; chunks tile the text") {
    val shared = "the quick brown fox jumps over the lazy dog while the cat " +
      "watches from the warm windowsill and the birds sing in the garden " +
      "all through the long summer afternoon hours"
    val df = Seq(
      (1L, shared),
      (2L, "PREFIX INSERTED HERE " + shared), // shifts every offset by 21
      (3L, "")
    ).toDF("doc_id", "text")
    val ch = DedupOps.cdcChunks(df, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // empty doc emits nothing
    assert(!ch.exists(_._1 == 3L))
    // chunks tile each document exactly: starts/lens partition [1, len]
    Seq(1L -> shared.length, 2L -> (shared.length + 21)).foreach { case (id, len) =>
      val rows = ch.filter(_._1 == id).sortBy(_._2)
      assert(rows.head._3 == 1L && rows.map(_._4).sum == len.toLong)
      rows.sliding(2).foreach {
        case Array(a, b) => assert(b._3 == a._3 + a._4, s"gap in doc $id")
        case _ =>
      }
      // minChunk: every accepted cut leaves at least 16 chars (the last
      // remainder chunk may be shorter)
      assert(rows.dropRight(1).forall(_._4 >= 16L))
    }
    // RESYNC: once past the insertion, doc 2 reproduces doc 1's chunk ids
    // at offsets shifted by exactly the insertion length
    val ids1 = ch.filter(_._1 == 1L).map(r => r._5 -> r._3).toMap
    val resynced = ch.filter(t => t._1 == 2L && ids1.contains(t._5))
    assert(resynced.nonEmpty, "some chunk of the shared tail must re-align")
    resynced.foreach { t => assert(t._3 == ids1(t._5) + 21, "re-aligned chunk sits at the shifted offset") }
    // and the dedup consumer marks exactly those chunks as duplicated
    val dd = DedupOps.cdcChunkDedup(df, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(6))).toSet
    val dupIdx = ch.filter(t => t._1 == 2L && ids1.contains(t._5)).map(_._2).toSet
    assert(dupIdx.forall(i => dd.contains((2L, i, true))))
  }
  private def docs = Tables.documents(spark, TestSpark.sf0001)

  test("minhash LSH pairs == exact n-gram Jaccard pairs on the corpus (verified candidates)") {
    val exact = DedupOps.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val lsh = DedupOps.minhashLshPairs(docs, "doc_id", "text", 3, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact), "LSH-verified pairs must be a subset (verification = exact Jaccard)")
    assert(lsh == exact, s"expected full recall on planted dups, missed ${exact -- lsh}")
  }

  test("containmentPairs: a planted truncation scores containment 1.0 where Jaccard misses it") {
    import org.apache.spark.sql.functions._
    // doc 1 re-ships as its first quarter — the excerpt-duplicate class
    val toks = ('a' to 'z').map(c => s"tok$c")
    val full = toks.mkString(" ")
    val quarter = toks.take(8).mkString(" ")
    val other = toks.reverse.map(_ + "x").mkString(" ")
    val df = Seq((1L, full), (2L, quarter), (3L, other)).toDF("doc_id", "text")
    val got = DedupOps.containmentPairs(df, "doc_id", "text", 3, 0.9)
      .as[(Long, Long, Long, Double, Double, Long)].collect()
    assert(got.length == 1)
    val (a, b, common, cont, jac, contained) = got.head
    assert((a, b) == ((1L, 2L)) && contained == 2L)
    assert(cont == 1.0, "every quarter shingle is inside the full doc")
    // 8 tokens → 6 shingles; 26 tokens → 24; symmetric jaccard 6/24 = 0.25
    assert(common == 6L && jac == 0.25)
    // the symmetric pass at its registered threshold ships this duplicate
    assert(DedupOps.jaccardPairs(df, "doc_id", "text", 3, 0.5).isEmpty)
  }

  test("containmentPairs on the real corpus: scores match a plain-Scala shingle replay") {
    import org.apache.spark.sql.functions._
    val got = DedupOps.containmentPairs(docs, "doc_id", "text", 3, 0.5)
      .as[(Long, Long, Long, Double, Double, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    val raw = docs.select(col("doc_id"), col("text")).as[(Long, String)].collect()
    def sh(t: String): Set[Seq[String]] = {
      val w = t.trim.split("\\s+").filter(_.nonEmpty).toSeq
      w.sliding(3).filter(_.size == 3).toSet
    }
    val sets = raw.map { case (id, t) => id -> sh(t) }.toMap
    // df cap: drop shingles appearing in > 100 docs (none at sf0.001, but
    // replay the contract exactly)
    val dfCount = sets.values.flatten.groupBy(identity).view.mapValues(_.size)
    val hot = dfCount.filter(_._2 > 100).keySet
    val kept = sets.view.mapValues(_ -- hot).toMap
    val exp = (for {
      Seq(a, b) <- kept.keys.toSeq.sorted.combinations(2)
      common = (kept(a) intersect kept(b)).size
      if common > 0
      cont = common.toDouble / math.min(sets(a).size, sets(b).size)
      if cont >= 0.5
    } yield (a, b) -> ((common.toLong,
      cont,
      common.toDouble / (sets(a).size + sets(b).size - common),
      if (sets(a).size <= sets(b).size) a else b))).toMap
    assert(got == exp)
  }

  test("jaccardPairsAgainst == anchor-involving subset of full jaccardPairs, scores included") {
    val anchors = docs.filter(col("doc_id") % 7 === 0)
    val aIds = anchors.select("doc_id").as[Long].collect().toSet
    val full = DedupOps.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .as[(Long, Long, Double)].collect()
    // expected: every anchor-involving pair, anchored orientation(s) —
    // both orientations when both sides anchor, else anchored on doc_a
    val expected = full.flatMap { case (a, b, j) =>
      Seq(a -> ((b, j)), b -> ((a, j))).collect {
        case (x, (y, jj)) if aIds(x) => (x, y, jj)
      }
    }.toSet
    val got = DedupOps.jaccardPairsAgainst(docs, anchors, "doc_id", "text", 3, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == expected)
    assert(got.nonEmpty, "fixture must actually exercise anchored pairs")
  }

  test("simhash: identical docs collide at hamming 0; near-dup pairs found") {
    val crafted = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"), // identical
      (3L, "completely different words entirely unrelated content here")
    ).toDF("doc_id", "text")
    val pairs = DedupOps.simhashPairs(crafted, "doc_id", "text")
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(pairs.get((1L, 2L)).contains(0L))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("native graft_simhash is bit-identical to the HOF vote fold over the corpus") {
    val hs = docs.select(
      col("doc_id"),
      transform(array_distinct(TextOps.tokens(col("text"))), t => xxhash64(t)).as("hs"))
    val both = hs.select(
      col("doc_id"),
      DedupOps.simhashFromHashes(col("hs")).as("native"),
      TextReference.simhashFromHashes(col("hs")).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
    assert(both.count() == docs.count())
  }

  test("native graft_ngram_hashes is bit-identical to the HOF shingle/trigram builds over the corpus") {
    import graft.functions.HashFunctions.graft_ngram_hashes
    // distinct form vs the interpreted hashedShingles formulation, several n
    for (n <- Seq(1, 2, 3, 5)) {
      val native = graft.ops.DedupOps.hashedShingles(docs, "doc_id", "text", n)
        .as[(Long, Seq[Long])].collect().toMap
      val hof = TextReference.hashedShinglesHof(docs, "doc_id", "text", n)
        .as[(Long, Seq[Long])].collect().toMap
      assert(native == hof, s"n=$n diverged")
    }
    // non-distinct form vs the raw transform build (ALL positions, repeats kept)
    val toks = TextOps.tokens(col("text"))
    val nat = docs.select(col("doc_id"), graft_ngram_hashes(toks, 3).as("tg"))
      .as[(Long, Seq[Long])].collect().toMap
    val ref = docs.select(
      col("doc_id"),
      DedupOps.bindOnce(toks) { ts =>
        when(size(ts) >= 3,
          transform(sequence(lit(1), size(ts) - 2),
            i => xxhash64(concat_ws(" ", slice(ts, i, lit(3))))))
          .otherwise(array().cast("array<bigint>"))
      }.as("tg")).as[(Long, Seq[Long])].collect().toMap
    assert(nat == ref)
  }

  test("graft_ngram_hashes edge cases: short/empty input, null tokens, SQL-callable") {
    import graft.functions.HashFunctions.graft_ngram_hashes
    val edge = Seq(
      (1L, Seq("a", "b", "c")),
      (2L, Seq("a", "b")),          // shorter than n=3 → empty
      (3L, Seq.empty[String]),      // empty → empty
      (4L, Seq("a", "a", "a", "a")) // repeats: non-distinct keeps, distinct collapses
    ).toDF("id", "toks")
    val got = edge.select(col("id"), graft_ngram_hashes(col("toks"), 3).as("g"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(got(1L).length == 1 && got(2L).isEmpty && got(3L).isEmpty)
    assert(got(4L).length == 2 && got(4L).distinct.length == 1)
    val dis = edge.select(col("id"), graft_ngram_hashes(col("toks"), 3, distinct = true).as("g"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(dis(4L).length == 1 && dis(4L).head == got(4L).head)
    // null tokens follow concat_ws skip-null semantics, same as the HOF form
    val withNull = Seq((1L, Seq("a", null, "c"))).toDF("id", "toks")
    val nativeNull = withNull.select(graft_ngram_hashes(col("toks"), 3).as("g"))
      .as[Seq[Long]].head()
    val hofNull = withNull.select(
      transform(sequence(lit(1), size(col("toks")) - 2),
        i => xxhash64(concat_ws(" ", slice(col("toks"), i, lit(3))))).as("g"))
      .as[Seq[Long]].head()
    assert(nativeNull == hofNull)
    // SQL resolution through the extension registry
    GraftExtensions.registerAll(spark)
    val viaSql = spark.sql(
      "SELECT graft_ngram_hashes(array('x','y','z'), 2) AS g, " +
      "graft_ngram_hashes(array('x','x','x'), 1, true) AS d")
      .as[(Seq[Long], Seq[Long])].head()
    assert(viaSql._1.length == 2 && viaSql._2.length == 1)
  }

  test("graft_top_count equals the exploded groupBy top-count over the corpus; edge cases") {
    import graft.functions.HashFunctions.{graft_ngram_hashes, graft_top_count}
    val toks = split(TextOps.normalize(col("text")), " ")
    val bg = docs.select(col("doc_id"), graft_ngram_hashes(toks, 2).as("bg"))
      .filter(size(col("bg")) > 0).cache()
    val native = bg.select(col("doc_id"), graft_top_count(col("bg")).as("top"))
      .as[(Long, Long)].collect().toMap
    val shuffled = bg.select(col("doc_id"), explode(col("bg")).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max("c").as("top"))
      .as[(Long, Long)].collect().toMap
    assert(native == shuffled)
    // edges: empty → 0, nulls skipped, all-equal → length
    val edge = Seq(
      (1L, Seq.empty[java.lang.Long]),
      (2L, Seq[java.lang.Long](5L, null, 5L, 7L)),
      (3L, Seq[java.lang.Long](9L, 9L, 9L))).toDF("id", "hs")
    val got = edge.select(col("id"), graft_top_count(col("hs")).as("t"))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 2L, 3L -> 3L))
    GraftExtensions.registerAll(spark)
    assert(spark.sql("SELECT graft_top_count(array(1L, 1L, 2L)) AS t").as[Long].head() == 2L)
  }

  test("native graft_minhash_sig matches a Scala XXH64 reference; empty input → NULL") {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val crafted = Seq(
      (1L, Seq(7L, 42L, -3L)), (2L, Seq(0L)), (3L, Seq.empty[Long]))
      .toDF("id", "hs")
    val got = crafted
      .select(col("id"), graft.functions.HashFunctions.graft_minhash_sig(col("hs"), 8).as("sig"))
      .as[(Long, Option[Seq[Long]])].collect().toMap
    def ref(hs: Seq[Long]): Seq[Long] =
      (0 until 8).map(p => hs.map(h => XXH64.hashLong(h, p.toLong)).min)
    assert(got(1L).contains(ref(Seq(7L, 42L, -3L))))
    assert(got(2L).contains(ref(Seq(0L))))
    assert(got(3L).isEmpty) // no shingles → no signature
  }

  test("graft_simhash and graft_minhash_sig are callable from SQL after registration") {
    GraftExtensions.registerAll(spark)
    val row = spark.sql(
      """SELECT graft_simhash(array(1L, 3L)) AS s,
        |       graft_minhash_sig(array(1L, 3L), 4) AS m""".stripMargin)
      .as[(Long, Seq[Long])].head()
    assert(row._2.length == 4)
  }

  test("winnowing guarantee: a shared substring of length >= w+k-1 shares a fingerprint") {
    import graft.functions.WinnowFunctions.graft_winnow
    val shared = "the winnowing guarantee holds for any sufficiently long shared run of text"
    val crafted = Seq(
      (1L, s"prefix alpha $shared"),
      (2L, s"a totally different and much longer prefix beta gamma $shared with a suffix"),
      (3L, "no overlap with the others at all, completely disjoint content"))
      .toDF("doc_id", "text")
    val fp = crafted
      .select(col("doc_id"), graft_winnow(col("text"), 8, 4).as("fp"))
      .as[(Long, Seq[Long])].collect().toMap
    assert((fp(1L).toSet & fp(2L).toSet).nonEmpty, "shifted copies must share fingerprints")
    assert((fp(1L).toSet & fp(3L).toSet).isEmpty, "disjoint docs share nothing")
    // selection density ~2/(w+1): far fewer fingerprints than k-gram positions
    assert(fp(1L).size < shared.length)
  }

  test("winnowPairs finds the corpus's planted near-dups (recall vs shingle ground truth)") {
    val exact = DedupOps.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val win = DedupOps.winnowPairs(docs, "doc_id", "text", threshold = 0.3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val recall = if (exact.isEmpty) 1.0 else (exact & win).size.toDouble / exact.size
    info(s"winnow recall=$recall over ${exact.size} ground-truth pairs, ${win.size} winnow pairs")
    assert(recall >= 0.9, s"expected >=0.9 recall, got $recall")
  }

  test("winnow-verified pairs equal the uncapped exact relation; simhash-verified is a strict-precision subset") {
    // the registered q_winnow_dedup contract: winnow candidates,
    // exact-verified, must reduce to the text-derivable uncapped
    // exact-Jaccard relation — pair set AND scores — which is what its
    // DuckDB oracle (shared with q_minhash_dedup) re-derives
    val exact = DedupOps.jaccardPairs(docs, "doc_id", "text", 3, 0.5, maxDocFreq = 0)
      .as[(Long, Long, Double)].collect().toSet
    assert(exact.nonEmpty, "corpus must plant near-dups for this test to bite")
    val win = DedupOps.winnowVerifiedPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(win == exact, s"winnow-verified diverged: missing=${exact -- win} extra=${win -- exact}")
    // simhash at radius 3 is a near-EXACT-dup detector: verified pairs are a
    // subset (precision 1.0), and on this corpus it DOES miss J≈0.9 pairs —
    // which is why q_simhash_dedup's oracle REPLAYS the md5 signature
    // computation rather than sharing the exact-Jaccard relation
    val sim = DedupOps.simhashVerifiedPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(sim.subsetOf(exact), s"simhash-verified must never invent pairs: ${sim -- exact}")
  }

  test("graft_winnow edge cases: short text -> empty, deterministic, SQL-callable") {
    import graft.functions.WinnowFunctions.graft_winnow
    val edge = Seq((1L, ""), (2L, "abc"), (3L, "abcdefgh"), (4L, "abcdefghi"))
      .toDF("doc_id", "text")
    val fp = edge.select(col("doc_id"), graft_winnow(col("text"), 8, 4).as("fp"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(fp(1L).isEmpty && fp(2L).isEmpty) // shorter than k
    assert(fp(3L).size == 1)                 // exactly one k-gram
    assert(fp(3L) == fp(3L))
    GraftExtensions.registerAll(spark)
    val viaSql = spark.sql("SELECT graft_winnow('abcdefgh', 8, 4) AS fp")
      .as[Seq[Long]].head()
    assert(viaSql == fp(3L))
  }

  test("repeatedSpans: island merge, span arithmetic, within-doc repeats, short docs") {
    def toks(r: Range, p: String) = r.map(i => s"$p$i").mkString(" ")
    val passage = toks(0 until 12, "shared")  // 12 tokens → 5 hot 8-grams when repeated
    val d = Seq(
      (1L, s"${toks(0 until 10, "a")} $passage ${toks(0 until 10, "b")}"),
      (2L, s"${toks(0 until 3, "c")} $passage"),
      // within-doc repetition: the same 8 tokens twice in ONE doc
      (3L, s"${toks(0 until 8, "r")} ${toks(0 until 20, "m")} ${toks(0 until 8, "r")}"),
      (4L, "too short for any gram"),
      (5L, toks(0 until 30, "u"))  // unique content → no spans
    ).toDF("doc_id", "text")
    val got = DedupOps.repeatedSpans(d, "doc_id", "text", k = 8, minCount = 2)
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3, r._4)).toSet).toMap
    // doc 1: passage tokens occupy positions 10..21 → hot grams at 10..14 →
    // one island, span [10, 22), 5 grams
    assert(got(1L) == Set((10L, 22L, 5L)))
    // doc 2: passage at positions 3..14 → grams 3..7 → span [3, 15)
    assert(got(2L) == Set((3L, 15L, 5L)))
    // doc 3: the repeated 8-token run sits at 0..7 and 28..35 — gap 28 > k,
    // so TWO spans, each exactly one gram wide: [0,8) and [28,36)
    assert(got(3L) == Set((0L, 8L, 1L), (28L, 36L, 1L)))
    assert(!got.contains(4L) && !got.contains(5L))
  }

  test("decontaminateMulti attributes hits to the right benchmark, per set") {
    val leakA = "alpha beta gamma delta epsilon zeta eta theta"        // 8 tokens → 1 gram
    val leakB = "one two three four five six seven eight nine"          // 9 tokens → 2 grams
    val train = Seq(
      (1L, s"clean words only here nothing shared at all truly"),
      (2L, s"$leakA plus some trailing words here"),
      (3L, s"$leakB and $leakA mixed together in one document")
    ).toDF("doc_id", "text")
    val evals = Seq(
      "suite_a" -> Seq((100L, leakA)).toDF("doc_id", "text"),
      "suite_b" -> Seq((200L, leakB)).toDF("doc_id", "text"))
    val got = DedupOps.decontaminateMulti(train, evals, "doc_id", "text", n = 8)
      .as[(Long, String, Long)].collect().toSet
    // doc 2 shares exactly the one leakA gram with suite_a only; doc 3
    // shares both suite_b grams AND the leakA gram; doc 1 is absent
    assert(got == Set((2L, "suite_a", 1L), (3L, "suite_a", 1L), (3L, "suite_b", 2L)))
  }

  test("keeperByScore elects the highest-scoring member per cluster, ties to min id") {
    val labeled = Seq(
      (1L, 1L), (3L, 1L), (7L, 1L),  // cluster 1
      (5L, 5L),                       // singleton
      (10L, 10L), (12L, 10L)).toDF("id", "cluster_id")
    val scores = Seq(
      (1L, 0.2), (3L, 0.9), (7L, 0.9),  // tie 3 vs 7 → 3 wins
      (5L, 0.1), (10L, 0.5), (12L, 0.8)).toDF("doc_id", "quality")
    val got = DedupOps.keeperByScore(labeled, scores, "doc_id", "quality")
      .as[(Long, Long, Long, Boolean)].collect().toSet
    assert(got == Set(
      (1L, 1L, 3L, false), (3L, 1L, 3L, true), (7L, 1L, 3L, false),
      (5L, 5L, 5L, true),
      (10L, 10L, 12L, false), (12L, 10L, 12L, true)))
    // partial score relations must not drop rows: the unscored member loses
    // the election but stays labeled, and a fully-unscored cluster falls
    // back to the min-id keeper
    val partial = Seq((1L, 0.2)).toDF("doc_id", "quality")
    val sparse = DedupOps.keeperByScore(labeled, partial, "doc_id", "quality")
      .as[(Long, Long, Long, Boolean)].collect().toSet
    assert(sparse.map(_._1) == labeled.as[(Long, Long)].collect().map(_._1).toSet,
      "every labeled id must survive a partial score relation")
    assert(sparse.contains((1L, 1L, 1L, true)))    // only scored member wins
    assert(sparse.contains((10L, 10L, 10L, true))) // unscored cluster → min id
  }

  test("incremental vocab fold equals the from-scratch vocabulary") {
    val full = TextOps.buildVocab(docs, "text", 30)
      .as[(String, Long, Long)].collect().toSeq
    val incr = TextOps.vocabFromCounts(
      TextOps.mergeVocabCounts(
        TextOps.vocabCounts(docs.filter(col("doc_id") % 2 === 0), "text"),
        TextOps.vocabCounts(docs.filter(col("doc_id") % 2 === 1), "text")),
      30).as[(String, Long, Long)].collect().toSeq
    assert(incr == full)
  }

  test("removeRepeatedSpans reconstructs documents without their repeated passages") {
    def toks(r: Range, p: String) = r.map(i => s"$p$i").mkString(" ")
    val passage = toks(0 until 12, "shared")
    val a = toks(0 until 10, "a"); val b = toks(0 until 10, "b")
    val d = Seq(
      (1L, s"$a $passage $b"),
      (2L, s"${toks(0 until 3, "c")} $passage"),
      (3L, toks(0 until 30, "u")),   // untouched
      (4L, "")                        // empty doc survives with empty text
    ).toDF("doc_id", "text")
    val got = DedupOps.removeRepeatedSpans(d, "doc_id", "text", k = 8, minCount = 2)
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((32L, 12L, s"$a $b")))
    assert(got(2L) == ((15L, 12L, toks(0 until 3, "c"))))
    assert(got(3L) == ((30L, 0L, toks(0 until 30, "u"))))
    assert(got(4L) == ((0L, 0L, "")))
  }

  test("mergeClusters: incremental fold equals from-scratch CC; crafted merges") {
    // store: {1,3} labeled 1, singletons 5 and 12, cluster {10,11} labeled 10.
    // batch evidence: 7 joins {1,3}; 9 joins 5; (10,12) merges a singleton
    // INTO an existing cluster — labels must stay the global min id
    val labeled = Seq((1L, 1L), (3L, 1L), (5L, 5L), (12L, 12L), (10L, 10L), (11L, 10L))
      .toDF("id", "cluster_id")
    val np = Seq((3L, 7L), (5L, 9L), (10L, 12L)).toDF("doc_a", "doc_b")
    val got = DedupOps.mergeClusters(labeled, np)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 3L -> 1L, 7L -> 1L, 5L -> 5L, 9L -> 5L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
    // corpus scale: the registered incremental query (even store + odd
    // batch, corpus-wide df cap) must equal a from-scratch CC over the full
    // CAPPED pair relation — the losslessness contract its shared oracle
    // checks at the gate
    val incr = graft.SparkEntry.qNeardupClustersIncremental(spark, TestSpark.sf0001)
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toMap
    val scratch = {
      val pairs = DedupOps.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
      val cc = DedupOps.connectedComponentsFast(pairs, "doc_a", "doc_b")
      docs.select(col("doc_id").as("id"))
        .join(cc, Seq("id"), "left")
        .select(col("id"), coalesce(col("cluster_id"), col("id")).as("cluster_id"))
        .as[(Long, Long)].collect().toMap
    }
    assert(incr == scratch)
    // and the three incremental pair parts partition the full capped pair
    // relation exactly (sets AND scores)
    val (sp, bp, cp) = DedupOps.incrementalJaccardPairs(
      docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", 3, 0.5)
    val parts = sp.unionByName(bp).unionByName(cp)
      .as[(Long, Long, Double)].collect().toSet
    val full = DedupOps.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => if (a < b) (a, b, j) else (b, a, j) }.toSet
    val partsCanon = parts.map { case (a, b, j) => if (a < b) (a, b, j) else (b, a, j) }
    assert(partsCanon == full,
      s"missing=${full -- partsCanon} extra=${partsCanon -- full}")
  }

  test("shingle bank: fold of disjoint increments equals the one-shot bank; steady-state pairs match the cycle") {
    val evens = docs.filter(col("doc_id") % 2 === 0)
    val odds = docs.filter(col("doc_id") % 2 === 1)
    // additivity: bank(evens) ⊕ bank(odds) == bank(all), postings and sizes
    val merged = DedupOps.mergeShingleBanks(
      DedupOps.shingleBank(evens, "doc_id", "text", 3),
      DedupOps.shingleBank(odds, "doc_id", "text", 3))
    val oneShot = DedupOps.shingleBank(docs, "doc_id", "text", 3)
    def postingsOf(b: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)) =
      b._1.as[(Long, Seq[Long])].collect().toMap
    assert(postingsOf(merged) == postingsOf(oneShot))
    assert(merged._2.as[(Long, Int)].collect().toMap ==
      oneShot._2.as[(Long, Int)].collect().toMap)
    // the steady-state seam returns exactly the cycle's batch/cross parts
    val bank = DedupOps.shingleBank(evens, "doc_id", "text", 3)
    val (bp2, cp2) = DedupOps.incrementalPairsFromBank(
      bank, odds, "doc_id", "text", 3, 0.5)
    val (_, bp, cp) = DedupOps.incrementalJaccardPairs(
      evens, odds, "doc_id", "text", 3, 0.5)
    assert(bp2.as[(Long, Long, Double)].collect().toSet ==
      bp.as[(Long, Long, Double)].collect().toSet)
    assert(cp2.as[(Long, Long, Double)].collect().toSet ==
      cp.as[(Long, Long, Double)].collect().toSet)
  }

  test("shingle bank: debug mode fails loudly on overlapping increments") {
    // the disjoint-doc CONTRACT on mergeShingleBanks is caller-fenced in
    // production; -Dgraft.debug.bankChecks verifies it at the fold — an
    // overlap would silently inflate df and duplicate pairs otherwise
    val evens = docs.filter(col("doc_id") % 2 === 0)
    val overlapping = docs.filter(col("doc_id") % 4 === 0) // ⊂ evens
    sys.props("graft.debug.bankChecks") = "true"
    try {
      val ex = intercept[IllegalArgumentException] {
        DedupOps.mergeShingleBanks(
          DedupOps.shingleBank(evens, "doc_id", "text", 3),
          DedupOps.shingleBank(overlapping, "doc_id", "text", 3))
      }
      assert(ex.getMessage.contains("disjoint"))
      // disjoint banks pass the same check
      val odds = docs.filter(col("doc_id") % 2 === 1)
      DedupOps.mergeShingleBanks(
        DedupOps.shingleBank(evens, "doc_id", "text", 3),
        DedupOps.shingleBank(odds, "doc_id", "text", 3))._2.count()
    } finally sys.props.remove("graft.debug.bankChecks"): Unit
  }

  test("prefixTemplates groups shared-opening docs; singletons and short/empty docs behave") {
    val opener = (1 to 16).map(i => s"w$i").mkString(" ")
    val d = Seq(
      (1L, s"$opener tail one"),
      (2L, s"$opener completely different tail"),
      (5L, s"$opener"),                  // exactly the prefix
      (3L, "unique opening never repeated anywhere at all in this corpus truly unique words here"),
      (4L, ""), (6L, "   ")              // empty + whitespace-only → one degenerate group
    ).toDF("doc_id", "text")
    val got = DedupOps.prefixTemplates(d, "doc_id", "text", k = 16)
      .select("keeper_id", "n_docs").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 3L), (4L, 2L)))
  }

  test("exactDedup groups duplicates and keeps the minimum id") {
    val crafted = Seq((5L, "same"), (9L, "same"), (7L, "other")).toDF("doc_id", "text")
    val got = DedupOps.exactDedup(crafted, "doc_id", "text")
      .select("keeper_id", "n_dupes").as[(Long, Long)].collect().toSet
    assert(got == Set((5L, 2L), (7L, 1L)))
  }

  test("textStats n_chars matches the dataset's own n_chars column") {
    val joined = TextOps.textStats(docs, "doc_id", "text")
      .join(docs.select(col("doc_id"), col("n_chars").as("expected")), "doc_id")
    assert(joined.filter(col("n_chars") =!= col("expected")).count() == 0)
  }

  test("langId is total and deterministic over the corpus") {
    val out = TextOps.langId(docs, "text").select("pred_lang").as[String].collect()
    assert(out.length == docs.count())
    assert(out.toSet.subsetOf(Set("en", "de", "fr", "es")))
  }

  test("qualityScore is bounded in [0,1] over the corpus") {
    val scores = TextOps.qualityScore(docs, "doc_id", "text")
      .select("quality").as[Double].collect()
    assert(scores.nonEmpty)
    assert(scores.forall(s => s >= 0.0 && s <= 1.0))
  }

  test("text ops degrade gracefully on empty/whitespace-only documents") {
    val edge = Seq((1L, ""), (2L, "   "), (3L, "one")).toDF("doc_id", "text")
    val stats = TextOps.textStats(edge, "doc_id", "text").collect()
    assert(stats.length == 3) // no exception, one row each
    val sh = graft.ops.DedupOps.shingles(edge, "doc_id", "text", 3)
      .select("doc_id", "sh").as[(Long, Seq[String])].collect().toMap
    assert(sh(1L).isEmpty && sh(2L).isEmpty && sh(3L).isEmpty)
    val pairs = graft.ops.DedupOps.jaccardPairs(edge, "doc_id", "text", 3, 0.5).count()
    assert(pairs == 0)
  }

  test("fingerprint is invariant to whitespace/case noise") {
    val crafted = Seq((1L, "Hello   World"), (2L, "  hello world "), (3L, "hello worlds"))
      .toDF("doc_id", "text")
    val fp = TextOps.fingerprint(crafted, "doc_id", "text")
      .select("doc_id", "fingerprint").as[(Long, String)].collect().toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(3L))
  }

  test("crossMinhashLshPairs equals the exact cross form (recall total at this band setting)") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val even = docs.filter(col("doc_id") % 2 === 0)
    val odd = docs.filter(col("doc_id") % 2 === 1)
    // maxDocFreq=0 on the exact side: the LSH verify intersects FULL
    // shingle sets, so equality must be judged against uncapped semantics
    val exact = graft.ops.DedupOps
      .crossJaccardPairs(even, odd, "doc_id", "text", 3, 0.5, maxDocFreq = 0)
      .select("doc_a", "doc_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val lsh = graft.ops.DedupOps
      .crossMinhashLshPairs(even, odd, "doc_id", "text", 3, 0.5)
      .select("doc_a", "doc_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(exact.nonEmpty)
    assert(lsh == exact)
  }

  test("crossJaccardPairs equals the self-join pairs restricted to cross-side") {
    val even = docs.filter(col("doc_id") % 2 === 0)
    val odd = docs.filter(col("doc_id") % 2 === 1)
    val cross = graft.ops.DedupOps
      .crossJaccardPairs(even, odd, "doc_id", "text", 3, 0.5)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (math.min(a, b), math.max(a, b), j) }.toSet
    val full = graft.ops.DedupOps.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .as[(Long, Long, Double)].collect()
      .filter { case (a, b, _) => a % 2 != b % 2 }.toSet
    assert(cross == full)
    // no same-side pair can appear by construction
    assert(cross.forall { case (a, b, _) => a % 2 != b % 2 })
  }

  test("fuzzySelfMatch finds all one-edit pairs (sub/ins/del) and no distance-2 pairs") {
    val names = Seq(
      (1L, "alpha"), (2L, "alpba"),   // substitution
      (3L, "alphax"),                 // insertion vs 1
      (4L, "alph"),                   // deletion vs 1
      (5L, "beta"), (6L, "beta"),     // identical (dist 0)
      (7L, "gamma")                   // isolated; dist(alpba,alph)=2 must not pair
    ).toDF("id", "name")
    val got = graft.ops.LinkOps.fuzzySelfMatch(names, "id", "name")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 1L), (1L, 3L, 1L), (1L, 4L, 1L), (5L, 6L, 0L)))
    // empty keys must not blow up the variant expansion (sequence(1,0) is
    // descending in Spark, not empty) — two empties pair at distance 0,
    // and an empty pairs with a 1-char key at distance 1
    val edge = Seq((1L, ""), (2L, ""), (3L, "x")).toDF("id", "name")
    val egot = graft.ops.LinkOps.fuzzySelfMatch(edge, "id", "name")
      .as[(Long, Long, Long)].collect().toSet
    assert(egot == Set((1L, 2L, 0L), (1L, 3L, 1L), (2L, 3L, 1L)))
  }

  test("connectedComponents resolves transitive clusters to min-id labels") {
    // chain 1-2-3 (1 and 3 never pair directly), clique 10-11-12,
    // long path 20..24 (diameter 4 → needs several propagation rounds)
    val pairs = Seq(
      (1L, 2L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L),
      (23L, 24L), (22L, 23L), (21L, 22L), (20L, 21L)
    ).toDF("doc_a", "doc_b")
    val got = graft.ops.DedupOps.connectedComponents(pairs, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L, 24L -> 20L))
  }

  test("decontaminate counts exactly the train grams present in the eval set") {
    // eval doc = w1..w10 (8-grams: w1..w8, w2..w9, w3..w10); train doc 1 =
    // x0 w1..w9 (grams: x0w1..w7, w1..w8 hit, w2..w9 hit); train doc 2 is
    // disjoint; train doc 3 is too short for any 8-gram
    val words = (1 to 10).map(i => s"w$i")
    val eval = Seq((100L, words.mkString(" "))).toDF("doc_id", "text")
    val train = Seq(
      (1L, ("x0" +: words.take(9)).mkString(" ")),
      (2L, (11 to 20).map(i => s"w$i").mkString(" ")),
      (3L, "w1 w2 w3")
    ).toDF("doc_id", "text")
    val got = graft.ops.DedupOps.decontaminate(train, eval, "doc_id", "text", n = 8)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Boolean)].collect()
    assert(got(0) == ((1L, 3L, 2L, true)))  // 10 tokens → 3 grams, 2 inside eval
    assert(got(1) == ((2L, 3L, 0L, false)))
    assert(got(2) == ((3L, 0L, 0L, false)))
  }

  test("decontaminateBloom is row-identical to exact decontaminate on the corpus") {
    // the bloom pass must be a lossless prefilter: no false negatives by
    // construction, false positives removed by the exact verify join —
    // differential check at two fpp settings: the registered 0.01 and an
    // aggressive 0.5 that guarantees plenty of bloom false positives to
    // weed out
    val half = docs.filter(col("doc_id") % 2 === 0)
    val evalSide = docs.filter(col("doc_id") % 2 === 1)
    val exact = DedupOps.decontaminate(half, evalSide, "doc_id", "text", n = 3)
      .orderBy("doc_id").collect()
    for (fpp <- Seq(0.5, 0.01)) {
      val bloom = DedupOps.decontaminateBloom(half, evalSide, "doc_id", "text", n = 3, fpp = fpp)
        .orderBy("doc_id").collect()
      assert(bloom.sameElements(exact), s"fpp=$fpp diverged from exact")
    }
  }

  test("decontaminateBloomManaged: release handle frees caches without corrupting the materialized result") {
    val half = docs.filter(col("doc_id") % 2 === 0)
    val evalSide = docs.filter(col("doc_id") % 2 === 1)
    val exact = DedupOps.decontaminate(half, evalSide, "doc_id", "text", n = 3)
      .orderBy("doc_id").collect()
    val (bloomDf, release) =
      DedupOps.decontaminateBloomManaged(half, evalSide, "doc_id", "text", n = 3, fpp = 0.1)
    val got = bloomDf.orderBy("doc_id").collect()
    release()  // after materialization: must not throw, must drop the cached eval grams
    assert(got.sameElements(exact))
    // other suites may legitimately hold caches, so assert only that a fresh
    // managed call + immediate release round-trips cleanly too
    val (df2, release2) =
      DedupOps.decontaminateBloomManaged(half, evalSide, "doc_id", "text", n = 3, fpp = 0.1)
    val got2 = df2.orderBy("doc_id").collect()
    release2()
    assert(got2.sameElements(exact))
  }

  test("decontaminateBloom == exact under a FORCED shuffled (non-broadcast) verify join") {
    // the hint removal exists for eval sets beyond broadcast size; locally
    // the tiny cached eval relation always planner-broadcasts, so the
    // shuffled regime would otherwise ship untested — force it off the
    // broadcast path the same way MergeSpec pins its skew plans
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      keys.foreach(spark.conf.set(_, "-1"))
      val half = docs.filter(col("doc_id") % 2 === 0)
      val evalSide = docs.filter(col("doc_id") % 2 === 1)
      val exact = DedupOps.decontaminate(half, evalSide, "doc_id", "text", n = 3)
        .orderBy("doc_id").collect()
      val bloom = DedupOps.decontaminateBloom(half, evalSide, "doc_id", "text", n = 3, fpp = 0.1)
        .orderBy("doc_id").collect()
      assert(bloom.sameElements(exact), "shuffled-regime bloom diverged from exact")
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("sentenceSpanDedup: cross-doc and intra-doc 3-sentence windows keyed to the first occurrence") {
    val df = Seq(
      // docs 1 and 2 share all four sentences -> both windows duplicate, doc 1 keeps
      (1L, "A b c. D e f. G h i. J k l."),
      (2L, "A b c. D e f. G h i. J k l."),
      // intra-doc repetition: alternating sentences, window 2 == window 0
      (3L, "Z z z. Y y y. Z z z. Y y y. Z z z."),
      // under the span: no rows
      (4L, "One two. Three four."),
      // no terminal punctuation at all: no sentences, no rows
      (5L, "just soup with no punctuation at all")
    ).toDF("doc_id", "text")
    val got = DedupOps.sentenceSpanDedup(df, "doc_id", "text")
      .select("doc_id", "span_idx", "keeper_id", "keeper_idx", "is_dup")
      .as[(Long, Long, Long, Long, Boolean)].collect().toSet
    assert(got == Set(
      (1L, 0L, 1L, 0L, false), (1L, 1L, 1L, 1L, false),
      (2L, 0L, 1L, 0L, true), (2L, 1L, 1L, 1L, true),
      (3L, 0L, 3L, 0L, false), (3L, 1L, 3L, 1L, false),
      (3L, 2L, 3L, 0L, true)))
  }

  test("sentenceSpanDedup: sentence extraction trims and survives !/? terminators and empty gaps") {
    val df = Seq(
      (1L, "  First one!   Second here?  Third now. Fourth last.  ")
    ).toDF("doc_id", "text")
    val rows = DedupOps.sentenceSpanDedup(df, "doc_id", "text")
      .select("doc_id", "span_idx", "is_dup").as[(Long, Long, Boolean)].collect().toSet
    assert(rows == Set((1L, 0L, false), (1L, 1L, false)))
  }

  test("lineDedup drops exactly the >maxDocFreq lines and preserves order") {
    val boiler = "copyright acme corp"
    val d = Seq(
      (1L, s"$boiler\nalpha one\nbeta two"),
      (2L, s"gamma three\n$boiler\ndelta four"),
      (3L, s"epsilon five\n$boiler"),
      (4L, s"zeta six\neta seven"),
      // line repeated TWICE in one doc: df counts distinct docs (3, not 4),
      // but both positions are dropped from the reconstruction
      (5L, s"$boiler\ntheta eight\n$boiler")
    ).toDF("doc_id", "text")
    // df(boiler) = 4 distinct docs {1,2,3,5} → dropped at maxDocFreq=3, kept at 4
    val got = DedupOps.lineDedup(d, "doc_id", "text", maxDocFreq = 3L)
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect()
    assert(got(0) == ((1L, 3L, 1L, "alpha one\nbeta two")))
    assert(got(1) == ((2L, 3L, 1L, "gamma three\ndelta four")))
    assert(got(2) == ((3L, 2L, 1L, "epsilon five")))
    assert(got(3) == ((4L, 2L, 0L, "zeta six\neta seven")))
    assert(got(4) == ((5L, 3L, 2L, "theta eight")))
    val kept = DedupOps.lineDedup(d, "doc_id", "text", maxDocFreq = 4L)
      .agg(sum(col("n_dropped"))).as[Long].collect().head
    assert(kept == 0L) // df == maxDocFreq is NOT dropped: strict >
  }

  test("jaccardPairsPrefix: identical pairs to full posting lists, with FEWER candidates") {
    val full = DedupOps.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    val pref = DedupOps.jaccardPairsPrefix(docs, "doc_id", "text", 3, 0.5)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(pref == full, "prefix filtering must be lossless, scores included")
    assert(full.nonEmpty)

    // candidate accounting on the same capped exploded relation
    val sh = DedupOps.hashedShingles(docs, "doc_id", "text", 3)
    val ex = TextReference.cappedExploded(
      sh.select(col("doc_id"), explode(col("sh")).as("s")), "doc_id", 100).cache()
    val fullCand = ex.as("a").join(ex.as("b"), Seq("s"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
    val prefCand = TextReference.prefixCandidatePairs(ex, "doc_id", 0.5).count()
    assert(prefCand < fullCand,
      s"prefix candidates $prefCand should undercut full posting candidates $fullCand")
    info(s"candidates: full=$fullCand prefix=$prefCand (${100 * prefCand / fullCand}%)")
  }

  test("ngramNovelty: originals fully novel, verbatim copy zero, partial recombination in between") {
    val crafted = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),      // 4 trigrams, all first
      (2L, "alpha beta gamma delta epsilon zeta"),      // exact copy: 0 novel
      (3L, "alpha beta gamma NEW1 NEW2 NEW3"),          // 4 trigrams, 1 seen (alpha beta gamma)
      (4L, "too short"))                                // < 3 tokens: excluded
      .toDF("doc_id", "text")
    val got = DedupOps.ngramNovelty(crafted, "doc_id", "text", 3)
      .select("doc_id", "n_grams", "n_novel", "novelty")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == Map(
      1L -> ((4L, 4L, 1.0)),
      2L -> ((4L, 0L, 0.0)),
      3L -> ((4L, 3L, 0.75))))
  }

  test("editDistancePairs: exact dist/sim vs plain-Scala Levenshtein; prefilters drop out-of-scope pairs") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron"
    val oneSub = base.replace("theta", "THETA-X") // one in-place substitution
    val crafted = Seq(
      (1L, base),
      (2L, oneSub),
      (3L, "totally different words entirely unrelated content here now forever and ever amen"),
      // shares 6 shingles with 1 (>= minCommon) but fails the length-ratio
      // prefilter: 45 chars vs 80, least < 0.6*greatest
      (4L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val got = DedupOps.editDistancePairs(crafted, "doc_id", "text")
      .select("doc_a", "doc_b", "dist", "sim")
      .as[(Long, Long, Long, Double)].collect().toSeq.sortBy(r => (r._1, r._2))

    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val expDist = lev(base.toLowerCase, oneSub.toLowerCase).toLong
    val expSim = 1.0 - expDist.toDouble / math.max(base.length, oneSub.length).toDouble
    assert(got == Seq((1L, 2L, expDist, expSim)),
      "exactly the single-substitution pair, with DP-exact distance")
    // doc 4: candidate shingles shared, but 30/79 chars fails least >= 0.6*greatest
    assert(!got.exists(p => p._1 == 4L || p._2 == 4L))
  }

  private def passage(n: Int, tag: String = "p"): Seq[String] =
    (1 to n).map(i => s"$tag$i")

  test("substringSpans: a 30-token shared run two disjoint hosts — exact span, Jaccard blind") {
    val p = passage(30)
    val a = ((1 to 100).map(i => s"fa$i") ++ p).mkString(" ")
    val b = ((1 to 50).map(i => s"fb$i") ++ p ++ (51 to 100).map(i => s"fb$i")).mkString(" ")
    val df = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val got = DedupOps.substringSpans(df, "doc_id", "text", k = 8, minSpanTokens = 24)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 100L, 50L, 30L)),
      "one maximal span with exact 0-based offsets and length")
    // the doc-level families at their registered thresholds do NOT ship
    // this duplication — 30 shared tokens of ~130 sits near Jaccard 0.13
    // and containment 0.23, the gap substring dedup exists to close
    assert(DedupOps.jaccardPairs(df, "doc_id", "text", 3, 0.5).isEmpty)
    assert(DedupOps.containmentPairs(df, "doc_id", "text", 3, 0.9).isEmpty)
  }

  test("substringSpans: minSpanTokens boundary — 24 ships, 23 dies") {
    def hosts(n: Int, tag: String) = {
      val p = passage(n, tag)
      Seq(((1 to 40).map(i => s"${tag}xa$i") ++ p).mkString(" "),
        ((1 to 40).map(i => s"${tag}xb$i") ++ p).mkString(" "))
    }
    val Seq(a24, b24) = hosts(24, "q")
    val Seq(a23, b23) = hosts(23, "r")
    val df = Seq((1L, a24), (2L, b24), (3L, a23), (4L, b23)).toDF("doc_id", "text")
    val got = DedupOps.substringSpans(df, "doc_id", "text", k = 8, minSpanTokens = 24)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 40L, 40L, 24L)),
      "exactly the >= 24 run; the 23-token run generates anchors but dies at the threshold")
  }

  test("substringSpans: a passage repeated in one doc is one span per alignment diagonal") {
    val p = passage(30, "z")
    val e = (p ++ (1 to 10).map(i => s"fe$i") ++ p).mkString(" ")
    val f = ((1 to 10).map(i => s"ff$i") ++ p).mkString(" ")
    val df = Seq((5L, e), (6L, f)).toDF("doc_id", "text")
    val got = DedupOps.substringSpans(df, "doc_id", "text", k = 8, minSpanTokens = 24)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq.sorted
    assert(got == Seq((5L, 6L, 0L, 10L, 30L), (5L, 6L, 40L, 10L, 30L)),
      "two maximal spans, one per occurrence/diagonal, same b-side offset")
  }

  test("removeCrossSpans: the duplicated passage survives only in its lowest-id host") {
    val p = passage(30, "s")
    val hostA = (1 to 100).map(i => s"ga$i")
    val hostB = (1 to 50).map(i => s"gb$i")
    val a = (hostA ++ p).mkString(" ")
    val b = (hostB.take(25) ++ p ++ hostB.drop(25)).mkString(" ")
    val c = (1 to 40).map(i => s"gc$i").mkString(" ")
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val got = DedupOps.removeCrossSpans(df, "doc_id", "text", k = 8, minSpanTokens = 24)
      .as[(Long, Long, Long, String)].collect().toSeq.sortBy(_._1)
    assert(got == Seq(
      (1L, 130L, 0L, a),                                            // keeper: untouched
      (2L, 80L, 30L, (hostB.take(25) ++ hostB.drop(25)).mkString(" ")), // copy excised
      (3L, 40L, 0L, c)),                                            // bystander: untouched
      "exactly the doc_b-side copy is removed, order preserved")
  }

  test("incrementalSubstringSpans: the three legs partition the from-scratch span set") {
    val p1 = passage(30, "ia") // store×store: docs 2, 4
    val p2 = passage(30, "ib") // batch×batch: docs 1, 3
    val p3 = passage(30, "ic") // cross: docs 6 (store), 7 (batch)
    def host(tag: String, n: Int) = (1 to n).map(i => s"$tag$i")
    val docs = Seq(
      (1L, (host("h1", 40) ++ p2).mkString(" ")),
      (2L, (host("h2", 40) ++ p1).mkString(" ")),
      (3L, (host("h3", 60) ++ p2).mkString(" ")),
      (4L, (p1 ++ host("h4", 40)).mkString(" ")),
      (6L, (host("h6", 20) ++ p3).mkString(" ")),
      (7L, (host("h7", 30) ++ p3).mkString(" "))).toDF("doc_id", "text")
    def spans(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long, Long)] =
      df.as[(Long, Long, Long, Long, Long)].collect().toSet
    val full = spans(DedupOps.substringSpans(docs, "doc_id", "text", 8, 24))
    val (st, ba, cr) = DedupOps.incrementalSubstringSpans(
      docs.filter($"doc_id" % 2 === 0), docs.filter($"doc_id" % 2 === 1),
      "doc_id", "text", 8, 24)
    val (s, b, c) = (spans(st), spans(ba), spans(cr))
    assert((s ++ b ++ c) == full, "union must equal the from-scratch run")
    assert(s.forall(r => r._1 % 2 == 0 && r._2 % 2 == 0), "store leg is store-internal")
    assert(b.forall(r => r._1 % 2 == 1 && r._2 % 2 == 1), "batch leg is batch-internal")
    assert(c.forall(r => (r._1 % 2) != (r._2 % 2)), "cross leg straddles the sides")
    assert(s.nonEmpty && b.nonEmpty && c.nonEmpty, "every leg exercised")
  }

  test("removeCrossSpans reaches a fixpoint: the scrubbed corpus has no reportable spans") {
    val p = passage(30, "fx")
    val docs = (1L to 3L).map(i =>
      (i, ((1 to 40).map(j => s"fh${i}w$j") ++ p).mkString(" "))).toDF("doc_id", "text")
    val scrubbed = DedupOps.removeCrossSpans(docs, "doc_id", "text", k = 8, minSpanTokens = 24)
      .select(col("doc_id"), col("clean_text").as("text"))
    // the only shared content was the passage; after keep-one-occurrence
    // a single carrier remains, so no gram reaches df >= 2 and a second
    // pass finds nothing — the scrub is a fixpoint on this corpus
    assert(DedupOps.substringSpans(scrubbed, "doc_id", "text", k = 8, minSpanTokens = 24).isEmpty)
    // and doc 1 (the keeper) still carries the passage verbatim
    val kept = scrubbed.filter(col("doc_id") === 1L).select("text").as[String].head()
    assert(kept.endsWith(p.mkString(" ")), "the canonical occurrence survives")
  }

  test("substringDecontaminate: a leaked eval passage attributes every carrying eval doc") {
    val canary = passage(28, "cn")
    val t1 = ((1 to 50).map(i => s"ta$i") ++ canary).mkString(" ")
    val t2 = (1 to 50).map(i => s"tb$i").mkString(" ")
    val e1 = ((1 to 30).map(i => s"ea$i") ++ canary).mkString(" ")
    val e2 = (canary ++ (1 to 30).map(i => s"eb$i")).mkString(" ")
    val train = Seq((10L, t1), (11L, t2)).toDF("doc_id", "text")
    val evalSet = Seq((20L, e1), (21L, e2)).toDF("doc_id", "text")
    val got = DedupOps.substringDecontaminate(train, evalSet, "doc_id", "text",
      k = 8, minSpanTokens = 24, maxDocFreq = 200)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((10L, 2L, 2L, 28L)),
      "one hit train doc, both eval carriers attributed, exact max span; clean doc absent")
    // eval-internal duplication (e1/e2 share the canary) never reports —
    // the relation is strictly train x eval
    assert(!got.exists(r => r._1 == 20L || r._1 == 21L))
  }

  test("substringSpans: anchors over the df cap are stop-grams — no pairs from boilerplate") {
    val p = passage(30, "boiler")
    val docs = (1L to 4L).map(i =>
      (i, ((1 to 20).map(j => s"h${i}w$j") ++ p).mkString(" ")))
    val df = docs.toDF("doc_id", "text")
    assert(DedupOps.substringSpans(df, "doc_id", "text", k = 8, minSpanTokens = 24,
      maxDocFreq = 3).isEmpty, "df 4 > cap 3: the shared passage is a stop-gram")
    assert(DedupOps.substringSpans(df, "doc_id", "text", k = 8, minSpanTokens = 24,
      maxDocFreq = 4).count() == 6L, "df 4 <= cap 4: all C(4,2) pairs ship")
  }
}
