package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables}
import graft.ops.{Analytics, DedupOps, TextOps}

/** Scaling smoke for the dedup pipelines: replicate the documents corpus
  * K× with per-copy perturbation (every 5th token salted, so copies do NOT
  * near-dup each other and the planted dup structure stays constant per
  * copy), then time MinHash-LSH and exact-Jaccard dedup at each K. The
  * numbers demonstrate the candidate-join growth is governed by real dup
  * structure, not corpus size² — the property that keeps shingle/LSH dedup
  * viable at 100 TB.
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    // no args = every section; args name the sections to run
    // (dedup | knn | neardup | neardupskew | merge | linededup | decon | prefix)
    val only = args.toSet
    val known =
      Set("dedup", "knn", "neardup", "neardupskew", "merge", "linededup", "decon", "prefix",
        "editdist", "kmeans", "incr", "incrstore", "knncross", "bpe", "govern", "staged",
        "entropy", "wordpiece", "dsir", "substring", "incrsub", "contend", "hll",
        "webstage", "cdc", "sf1", "skew", "bitext", "raster")
    require(only.subsetOf(known),
      s"unknown section(s) ${only.diff(known).mkString(",")} — valid: ${known.mkString(",")}")
    def want(s: String): Boolean = only.isEmpty || only.contains(s)
    // SPARK_GRAFT_SMOKE_DEEP=1 pushes the replication one decade further
    // (K up to 32 / 64k+ vectors) on the sections where the sub-quadratic
    // claim matters most; the default Ks keep the full smoke minutes-cheap
    val deep = sys.env.get("SPARK_GRAFT_SMOKE_DEEP").contains("1")
    def ks(section: String, default: Seq[Int], deepKs: Seq[Int]): Seq[Int] =
      if (!want(section)) Seq[Int]() else if (deep) deepKs else default
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.cpus)

    val base = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    // replica ids are offset by 1e6 per copy — ids at or above the stride
    // would collide across copies and silently corrupt the planted-dup
    // premise, so refuse rather than measure garbage
    require(base.agg(max(col("doc_id"))).head.getLong(0) < 1000000L,
      "base doc_id must stay below the 1e6 replica stride")

    def copyK(k: Int): DataFrame =
      (0 until k).map { c =>
        base.select(
          (col("doc_id") + lit(c * 1000000L)).as("doc_id"),
          concat_ws(" ", transform(
            split(trim(col("text")), "\\s+"),
            (t, i) => when(pmod(i, lit(5)) === 0, concat(t, lit("_c"), lit(c))).otherwise(t))).as("text"))
      }.reduce(_ unionByName _)

    if (want("dedup")) println("k,docs,op,seconds,pairs")
    (if (want("dedup")) Seq(1, 2, 4, 8) else Seq[Int]()).foreach { k =>
      val corpus = copyK(k).cache()
      val n = corpus.count()
      Seq(
        ("minhash", () => DedupOps.minhashLshPairs(corpus, "doc_id", "text", 3, 0.5).count()),
        // "jaccard" is the registered contract (df>100 cap ON by default
        // since round 3); "jaccard_uncapped" keeps measuring the unguarded
        // form — identical pairs on this corpus (word-3-gram df stays low,
        // both track linearly, confirmed k=1..8), but the cap is the guard
        // rail for stop-shingle-dominated corpora where uncapped posting
        // lists go quadratic (measured on k=8 byte grams: 272s vs 2s, see
        // DedupOps.winnowPairs' scaladoc)
        ("jaccard", () => DedupOps.jaccardPairs(corpus, "doc_id", "text", 3, 0.5).count()),
        ("jaccard_uncapped",
          () => DedupOps.jaccardPairs(corpus, "doc_id", "text", 3, 0.5, maxDocFreq = 0).count()),
        ("simhash", () => DedupOps.simhashPairs(corpus, "doc_id", "text").count()),
        ("winnow",  () => DedupOps.winnowPairs(corpus, "doc_id", "text", threshold = 0.3).count()),
        // asymmetric containment rides the same capped posting scheme, so
        // its growth must track jaccard's (dup-structure-, not corpus²-,
        // governed)
        ("containment",
          () => DedupOps.containmentPairs(corpus, "doc_id", "text", 3, 0.9).count())
      ).foreach { case (name, f) =>
        spark.sharedState.cacheManager.clearCache(); System.gc()
        corpus.cache().count()
        val t0 = System.nanoTime()
        val pairs = f()
        println(s"$k,$n,$name,${(System.nanoTime() - t0) / 1e9},$pairs")
      }
      corpus.unpersist()
    }

    // ---- edit-distance near-dup: the O(la·lb) DP must stay on a
    // near-constant share of candidates as the corpus replicates ----
    if (want("editdist")) println("k,docs,shingle_cands,verified_cands,results,seconds")
    ks("editdist", Seq(1, 2, 4, 8), Seq(1, 4, 16, 32)).foreach { k =>
      val corpus = copyK(k).cache()
      val n = corpus.count()
      val ex = DedupOps.cappedExploded(
        DedupOps.hashedShingles(corpus, "doc_id", "text", 3)
          .select(col("doc_id"), explode(col("sh")).as("s")), "doc_id", 100).cache()
      val cand = DedupOps.bucketPairs(ex, "doc_id", "s")
        .filter(col("common") >= 5).cache()
      val shingleCands = cand.count()
      // candidates that survive the lossless length-ratio prefilter =
      // rows actually paying the DP
      val nrm = corpus.select(col("doc_id"),
        length(graft.ops.TextOps.normalize(col("text"))).as("l")).cache()
      val verifiedCands = cand
        .join(nrm.select(col("doc_id").as("doc_a"), col("l").as("la")), "doc_a")
        .join(nrm.select(col("doc_id").as("doc_b"), col("l").as("lb")), "doc_b")
        .filter(least(col("la"), col("lb")).cast("double") >=
          lit(0.6) * greatest(col("la"), col("lb")).cast("double"))
        .count()
      spark.sharedState.cacheManager.clearCache(); System.gc()
      corpus.cache().count()
      val t0 = System.nanoTime()
      val results = DedupOps.editDistancePairs(corpus, "doc_id", "text").count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(s"$k,$n,$shingleCands,$verifiedCands,$results,$secs")
      spark.sharedState.cacheManager.clearCache(); System.gc()
      corpus.unpersist()
    }

    // ---- substring spans: pair work governed by dup structure ----
    // per-copy-salted plant: docs with base id % 151 == 0 get a 30-token
    // passage salted by copy index, so spans duplicate WITHIN a copy and
    // never across (the copyK salting already breaks every cross-copy
    // 8-gram) — true span structure grows LINEARLY in K while corpus²
    // grows quadratically. If pair work tracked corpus², seconds would
    // grow ~K²; governed by dup structure, they track the span count.
    if (want("substring")) println("k,docs,anchors,alive_grams,spans,seconds")
    ks("substring", Seq(1, 2, 4, 8), Seq(1, 4, 16, 32)).foreach { k =>
      val plant = concat_ws(" ",
        (1 to 30).map(i => concat(lit(s"sp${i}_"), (col("doc_id") / 1000000L).cast("long"))): _*)
      val corpus = copyK(k).withColumn("text",
        when(pmod(pmod(col("doc_id"), lit(1000000L)), lit(151L)) === 0,
          concat_ws(" ", col("text"), plant)).otherwise(col("text"))).cache()
      val n = corpus.count()
      val grams = corpus.select(
        col("doc_id"),
        posexplode(graft.functions.HashFunctions
          .graft_ngram_hashes(graft.ops.TextOps.tokens(col("text")), 8))
          .as(Seq("p", "s"))).cache()
      val anchors = grams.count()
      val alive = grams.groupBy(col("s"))
        .agg(countDistinct(col("doc_id")).as("d"))
        .filter(col("d") >= 2 && col("d") <= 50)
        .count()
      spark.sharedState.cacheManager.clearCache(); System.gc()
      corpus.cache().count()
      val t0 = System.nanoTime()
      val spans = DedupOps.substringSpans(corpus, "doc_id", "text").count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(s"$k,$n,$anchors,$alive,$spans,$secs")
      spark.sharedState.cacheManager.clearCache(); System.gc()
      corpus.unpersist()
    }

    // ---- streaming substring maintenance: per-batch cost vs bank size ----
    // a FIXED batch ingested against banks grown 1x..8x: the increment's
    // pair work is bounded by alive-matched postings (dup structure), so
    // per-batch seconds should stay near-flat while the bank grows a
    // decade — the df-fold and bank semi-join are the only bank-sized
    // touches, both columnar scans
    if (want("incrsub")) println("bank_k,bank_docs,batch_docs,emitted,seconds")
    ks("incrsub", Seq(1, 2, 4, 8), Seq(1, 4, 16, 32)).foreach { k =>
      val plant = concat_ws(" ",
        (1 to 30).map(i => concat(lit(s"isp${i}_"), (col("doc_id") / 1000000L).cast("long"))): _*)
      def planted(df: DataFrame): DataFrame = df.withColumn("text",
        when(pmod(pmod(col("doc_id"), lit(1000000L)), lit(151L)) === 0,
          concat_ws(" ", col("text"), plant)).otherwise(col("text")))
      val bank = planted(copyK(k)).cache()
      val bn = bank.count()
      // the batch is ONE further salted copy (fixed index 45, outside
      // every bank copy): its salting breaks all cross-bank grams, so
      // batch plants pair only batch-internally — constant true work at
      // every bank size; the bank contributes only its df-fold and
      // alive semi-join scans
      val batch = planted(base.select(
        (col("doc_id") + lit(45L * 1000000L)).as("doc_id"),
        concat_ws(" ", transform(
          split(trim(col("text")), "\\s+"),
          (t, i) => when(pmod(i, lit(5)) === 0, concat(t, lit("_c"), lit(45))).otherwise(t)))
          .as("text"))).cache()
      val bm = batch.count()
      val s = new graft.streaming.Streaming.SubstringSpanStream(
        "doc_id", "text", k = 8, minSpanTokens = 24, maxDocFreq = 50)
      s.ingest(bank).count() // seed the bank in one ingest (not measured)
      spark.sharedState.cacheManager.clearCache(); System.gc()
      batch.cache().count()
      val t0 = System.nanoTime()
      val emitted = s.ingest(batch).count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(s"$k,$bn,$bm,$emitted,$secs")
      spark.sharedState.cacheManager.clearCache(); System.gc()
      bank.unpersist(); batch.unpersist(); ()
    }

    // ---- prefix filtering vs full posting lists: candidate growth ----
    // same replicated corpus; candidates are the cost driver of exact
    // Jaccard, and the prefix scheme must keep its advantage as K grows
    if (want("prefix")) println("k,docs,full_cands,prefix_cands,full_s,prefix_s")
    ks("prefix", Seq(1, 2, 4, 8), Seq(1, 4, 16, 32)).foreach { k =>
      val corpus = copyK(k).cache()
      val n = corpus.count()
      spark.sharedState.cacheManager.clearCache(); System.gc()
      corpus.cache().count()
      val sh = DedupOps.hashedShingles(corpus, "doc_id", "text", 3)
      val ex = DedupOps.cappedExploded(
        sh.select(col("doc_id"), explode(col("sh")).as("s")), "doc_id", 100).cache()
      val fullC = ex.as("a").join(ex.as("b"), Seq("s"))
        .filter(col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
      val prefC = DedupOps.prefixCandidatePairs(ex, "doc_id", 0.5).count()
      // both timed runs start from a COLD cache (only the corpus warm) —
      // timing the full form with the candidate-count run's capped-explode
      // relation still cached would hand it the build the prefix form pays
      spark.sharedState.cacheManager.clearCache(); System.gc()
      corpus.cache().count()
      val t0 = System.nanoTime()
      DedupOps.jaccardPairs(corpus, "doc_id", "text", 3, 0.5).count()
      val tFull = (System.nanoTime() - t0) / 1e9
      spark.sharedState.cacheManager.clearCache(); System.gc()
      corpus.cache().count()
      val t1 = System.nanoTime()
      DedupOps.jaccardPairsPrefix(corpus, "doc_id", "text", 3, 0.5).count()
      val tPref = (System.nanoTime() - t1) / 1e9
      println(s"$k,$n,$fullC,$prefC,$tFull,$tPref")
      spark.sharedState.cacheManager.clearCache(); System.gc()
    }

    // ---- similarity-search scaling: brute vs heap-agg vs IVF vs SRP-LSH ----
    // copies perturb dim 0 so replicas are near- but not exact duplicates;
    // probes stay fixed (first copy, 20 vectors), so work growth is purely
    // corpus-side — the axis that matters at 100 TB
    import graft.ops.SimilarityOps
    val baseEmb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    require(baseEmb.agg(max(col("vec_id"))).head.getLong(0) < 1000000L,
      "base vec_id must stay below the 1e6 replica stride")
    def embK(k: Int): DataFrame =
      (0 until k).map { c =>
        baseEmb.select(
          (col("vec_id") + lit(c * 1000000L)).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            when(i === 0, x + lit(c * 0.001f)).otherwise(x)).as("embedding"))
      }.reduce(_ unionByName _)

    // ---- kmeans: train cost fixed (sample), assign cost linear in n ----
    // ---- BPE: one corpus pass, vocab-bounded merge rounds ----
    // PLAIN replication (no salting): the corpus grows K× while the
    // vocabulary stays CONSTANT — the regime that separates the two cost
    // components. wc_s (the one corpus-sized pass building (word, freq))
    // must grow with K; train_s (the 10 merge rounds over the persisted
    // counts, bpeTrainFromWordCounts) must stay flat, because every round
    // is vocab-bounded. Real corpora sit between this and Heaps-law
    // sublinear vocab growth; either way rounds never scan the corpus.
    if (want("bpe")) println("bpe: k,docs,vocab,wc_s,train_s,n_merges,unigram_s,unigram_pieces")
    // one measure protocol for both corpora so the plain-vs-salted
    // comparison cannot drift: warm corpus cache, time the single
    // corpus-sized word-count pass, then time the vocab-bounded rounds
    def bpeMeasure(tag: String, corpus: DataFrame): Unit = {
      corpus.cache()
      val n = corpus.count()
      spark.sharedState.cacheManager.clearCache(); System.gc()
      corpus.cache().count()
      val t0 = System.nanoTime()
      val words = graft.ops.TextOps.bpeWordCounts(corpus, "text").localCheckpoint()
      val vocab = words.count()
      val wcS = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val merges = graft.ops.TextOps.bpeTrainFromWordCounts(words, 10)
      val trS = (System.nanoTime() - t1) / 1e9
      // the unigram trainer makes the same vocab-bounded claim: both EM
      // rounds (scores, 12 DP joins, re-count) over the SAME persisted
      // word counts — flat as the corpus replicates
      val t2 = System.nanoTime()
      val (uv, _) = graft.ops.TextOps.unigramTrainFromWordCounts(words, 2, 4, 12)
      val uPieces = uv.count()
      val uniS = (System.nanoTime() - t2) / 1e9
      println(s"$tag,$n,$vocab,$wcS,$trS,${merges.length},$uniS,$uPieces")
      spark.sharedState.cacheManager.clearCache(); System.gc()
      corpus.unpersist(): Unit
    }
    ks("bpe", Seq(1, 2, 4, 8), Seq(1, 4, 16)).foreach { k =>
      bpeMeasure(s"$k", (0 until k).map { c =>
        base.select((col("doc_id") + lit(c * 1000000L)).as("doc_id"), col("text"))
      }.reduce(_ unionByName _))
      // salted replication: vocab GROWS with K (every 5th token gets a
      // per-copy suffix) — train_s may grow with vocab, never with the
      // corpus beyond the one wc_s pass
      bpeMeasure(s"${k}s", copyK(k))
    }

    if (want("kmeans")) println("kmeans: k,vectors,op,seconds,rows")
    (if (want("kmeans")) Seq(1, 2, 4, 8) else Seq[Int]()).foreach { k =>
      val corpus = embK(k).cache()
      val n = corpus.count()
      val sample = corpus.filter(col("vec_id") % 1000000L < 1000L)
      Seq(
        ("train+assign", () => SimilarityOps.kmeansFixedPoint(
          corpus, "vec_id", "embedding", 8, 2).count()),
        ("sample-train/score", () => {
          val model = SimilarityOps.kmeansCentroids(sample, "vec_id", "embedding", 8, 2)
          SimilarityOps.kmeansAssign(corpus, "vec_id", "embedding", model).count()
        })
      ).foreach { case (name, f) =>
        spark.sharedState.cacheManager.clearCache(); System.gc()
        corpus.cache().count()
        val t0 = System.nanoTime()
        val rows = f()
        println(s"$k,$n,$name,${(System.nanoTime() - t0) / 1e9},$rows")
      }
      spark.sharedState.cacheManager.clearCache(); System.gc()
      corpus.unpersist()
    }

    if (want("knn")) println("knn: k,vectors,op,seconds,rows")
    ks("knn", Seq(1, 2, 4, 8), Seq(1, 8, 32)).foreach { k =>
      val corpus = embK(k).cache()
      val n = corpus.count()
      val probes = corpus.filter(col("vec_id") < 20)
      Seq(
        ("brute",   () => SimilarityOps.knnBrute(corpus, probes, "vec_id", "embedding", 10).count()),
        ("heapagg", () => SimilarityOps.knnBruteAgg(corpus, probes, "vec_id", "embedding", 10).count()),
        ("ivf",     () => SimilarityOps.knnIvf(corpus, probes, "vec_id", "embedding", 10, 16, 4).count()),
        ("srp-lsh", () => SimilarityOps.knnLshSrp(corpus, probes, "vec_id", "embedding", 10, 64).count())
      ).foreach { case (name, f) =>
        spark.sharedState.cacheManager.clearCache(); System.gc()
        corpus.cache().count()
        val t0 = System.nanoTime()
        val rows = f()
        println(s"$k,$n,$name,${(System.nanoTime() - t0) / 1e9},$rows")
      }
      corpus.unpersist()
    }

    // ---- ANN crossover: persisted index search vs per-batch brute scan ----
    // The OPERATING comparison for approximate kNN: an index fit is paid
    // once per corpus version (persisted — IVF `assigned` PARTITIONED BY
    // list_id + centroids; SRP the signature relation) and each query
    // batch pays only its own search. Every searcher reads the SAME
    // parquet-backed corpus with no resident cache (the 100 TB posture):
    // brute re-reads all n vectors and pays |probes| dots per vector per
    // batch; IVF's static `list_id IN (probed)` predicate prunes the scan
    // to the probed partitions (~nProbe/nLists of the corpus); SRP
    // re-reads precomputed signatures instead of recomputing nBits dots,
    // but still scans O(n) signature rows per batch. Clustered corpus
    // (the ANN target regime; uniform vectors are the documented worst
    // case — nothing to prune on). recall@10 is measured against the
    // brute top-10 of the same batch; search_s is the SECOND timed run
    // (steady state, both runs printed via search1_s).
    if (want("knncross"))
      println("knncross: n,op,fit_s,search1_s,search_s,recall,rows")
    ks("knncross", Seq(65536, 262144), Seq(262144, 1048576)).foreach { n =>
      import graft.ops.SimilarityOps
      val dim = 32
      val perCluster = 64
      val nProbes = 64
      // distributed deterministic generator (a driver-side Seq at 1M
      // vectors would not fit): cluster centers and per-point noise are
      // hash-derived uniforms — tight direction clusters, the
      // SyntheticVectors.clustered regime at scale
      def u(seedCol: org.apache.spark.sql.Column, d: Int, scale: Double) =
        (pmod(xxhash64(seedCol, lit(d)), lit(2000001L)).cast("double") / 1000000.0
          - 1.0) * scale
      val cidc = expr(s"id div $perCluster")
      val vec = array((0 until dim).map(d =>
        u(cidc, d, 3.0) + u(col("id"), d + 7777, 0.05)): _*)
      val tmp = java.nio.file.Files.createTempDirectory("graft-knncross").toString
      spark.range(n).select(col("id").as("vec_id"), vec.as("embedding"))
        .write.mode("overwrite").parquet(s"$tmp/corpus")
      val corpusP = spark.read.parquet(s"$tmp/corpus")
      def probes = corpusP.filter(pmod(col("vec_id"), lit(n.toLong / nProbes)) === 3)
      def timed[A](f: => A): (Double, A) = {
        spark.sharedState.cacheManager.clearCache(); System.gc()
        val t0 = System.nanoTime(); val a = f
        ((System.nanoTime() - t0) / 1e9, a)
      }
      // brute: the per-batch full scan — fit_s = 0 by construction
      val (bt1, _) = timed(SimilarityOps.knnBrute(corpusP, probes, "vec_id", "embedding", 10).count())
      val (bt2, bruteRows) = timed(
        SimilarityOps.knnBrute(corpusP, probes, "vec_id", "embedding", 10)
          .select(col("probe_id"), col("neighbor_id"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
      println(s"$n,brute,0.0,$bt1,$bt2,1.0,${bruteRows.size}")
      def recallOf(df: DataFrame): Double = {
        val got = df.select(col("probe_id"), col("neighbor_id"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        got.intersect(bruteRows).size.toDouble / bruteRows.size
      }
      // IVF: fit once (quantizer on a ≤64k sample, full assignment) and
      // PERSIST list-partitioned; searches read the pruned store
      val nLists = math.max(64, math.sqrt(n.toDouble).toInt)
      val (fitS, _) = timed {
        val (ctr, asg) = SimilarityOps.ivfFitKmeans(
          corpusP, "vec_id", "embedding", nLists, maxIter = 5,
          fitFraction = math.min(1.0, 65536.0 / n))
        ctr.write.mode("overwrite").parquet(s"$tmp/ivf/centroids")
        asg.repartition(32, col("list_id"))
          .write.mode("overwrite").partitionBy("list_id").parquet(s"$tmp/ivf/assigned")
      }
      val ctrP = spark.read.parquet(s"$tmp/ivf/centroids")
      val asgP = spark.read.parquet(s"$tmp/ivf/assigned")
      def ivfSearch = SimilarityOps.knnIvfSearch(
        ctrP, asgP, probes, "vec_id", "embedding", k = 10, nProbe = 8)
      val (it1, _) = timed(ivfSearch.count())
      val (it2, ivfRes) = timed(recallOf(ivfSearch))
      println(s"$n,ivf($nLists/8),$fitS,$it1,$it2,$ivfRes,${bruteRows.size}")
      // SRP: signature relation persisted once; search re-reads it
      val (sfitS, _) = timed(
        SimilarityOps.srpIndex(corpusP, "vec_id", "embedding", dim)
          .write.mode("overwrite").parquet(s"$tmp/srp"))
      val srpP = spark.read.parquet(s"$tmp/srp")
      def srpSearch = SimilarityOps.knnLshSrpSearch(
        srpP, probes, "vec_id", "embedding", k = 10, dim = dim)
      val (st1, _) = timed(srpSearch.count())
      val (st2, srpRes) = timed(recallOf(srpSearch))
      println(s"$n,srp-lsh,$sfitS,$st1,$st2,$srpRes,${bruteRows.size}")
      // IVF-PQ: the COMPRESSED-store search — same coarse router (the
      // persisted ML-fit lists via ivfProbeLists), but the probed
      // partitions hold m codes per row instead of dim doubles. Two rows:
      // adc = ranked purely by the compressed codes, raw vectors never
      // read at search time; rr = ADC candidates (8·k pool) exact-cosine
      // re-ranked against the raw store (candidate-sized broadcast join —
      // at operating scale a row-addressable fetch, here a scan-join).
      // Fit = codebooks on a ≤64k sample + one full-corpus encode,
      // persisted list-partitioned next to the IVF store.
      val pqM = 8; val pqKSub = 64
      val (pqFitS, _) = timed {
        val cb = SimilarityOps.pqTrain(corpusP, "vec_id", "embedding", dim, pqM, pqKSub,
          iters = 2, fitFraction = math.min(1.0, 65536.0 / n))
        cb.write.mode("overwrite").parquet(s"$tmp/pq/codebooks")
        val cbFit = spark.read.parquet(s"$tmp/pq/codebooks")
        SimilarityOps.pqPack(
          SimilarityOps.pqEncode(corpusP, "vec_id", "embedding", dim, pqM, cbFit), "vec_id")
          // the STORE layout is smallint codes (kSub ≤ 32k by construction)
          // — the measured store-bytes row below reports the real
          // compression, not an 8-byte-per-code artifact
          .select(col("vec_id"), col("codes").cast("array<smallint>").as("codes"))
          .join(asgP.select(col("vec_id"), col("list_id")), Seq("vec_id"))
          .repartition(32, col("list_id"))
          .write.mode("overwrite").partitionBy("list_id").parquet(s"$tmp/pq/coded")
      }
      def dirBytes(p: String): Long = {
        val root = java.nio.file.Paths.get(p)
        val st = java.nio.file.Files.walk(root)
        try st.filter(java.nio.file.Files.isRegularFile(_))
          .mapToLong(java.nio.file.Files.size(_)).sum
        finally st.close()
      }
      // the memory-residency argument: what the HOT index costs to keep
      // resident — raw list-partitioned vectors vs codes (+ tiny codebooks)
      val rawB = dirBytes(s"$tmp/ivf/assigned")
      val codedB = dirBytes(s"$tmp/pq/coded") + dirBytes(s"$tmp/pq/codebooks")
      println(f"$n,pq-store-bytes,${rawB.toDouble / codedB}%.1f,$rawB,$codedB,-,-")
      val cbP = spark.read.parquet(s"$tmp/pq/codebooks")
      val codedP = spark.read.parquet(s"$tmp/pq/coded")
      def pqLists = SimilarityOps.ivfProbeLists(ctrP, probes, "vec_id", "embedding", 8)
        .select(col("probe_id"), col("list_id"))
      def adcSearch(kk: Int) = SimilarityOps.knnIvfPqSearchWithLists(
        pqLists, cbP, codedP, probes, "vec_id", "embedding", dim, pqM, kk)
      def adcTop = adcSearch(10).select(col("probe_id"), col("neighbor_id"))
      val (at1, _) = timed(adcTop.count())
      val (at2, adcRes) = timed(recallOf(adcTop))
      println(s"$n,ivfpq-adc(${pqM}x$pqKSub),$pqFitS,$at1,$at2,$adcRes,${bruteRows.size}")
      def rrSearch = {
        val cand = adcSearch(80).drop("rank", "adc_fp")
        // candidate raw vectors come from the probed partitions of the
        // LIST-PARTITIONED raw store (the same static-IN pruning as the
        // search), never a full raw scan — at operating scale this fetch
        // is a candidate-sized read from cold storage
        val probed = pqLists.select(col("list_id")).distinct().collect().map(_.get(0))
        val cv = asgP.filter(col("list_id").isin(probed: _*))
          .select(col("vec_id").as("neighbor_id"), col("v"), col("nrm"))
        val pp = SimilarityOps.prepared(probes, "vec_id", "embedding")
          .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("nrm").as("pn"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("probe_id")).orderBy(col("sim").desc, col("neighbor_id"))
        broadcast(cand).join(cv, Seq("neighbor_id"))
          .join(broadcast(pp), Seq("probe_id"))
          .withColumn("sim", SimilarityOps.cosine(
            SimilarityOps.dot(col("pv"), col("v")), col("pn"), col("nrm")))
          .filter(col("sim").isNotNull)
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 10)
          .select(col("probe_id"), col("neighbor_id"))
      }
      val (rt1, _) = timed(rrSearch.count())
      val (rt2, rrRes) = timed(recallOf(rrSearch))
      println(s"$n,ivfpq-rr,$pqFitS,$rt1,$rt2,$rrRes,${bruteRows.size}")
      spark.sharedState.cacheManager.clearCache(); System.gc()
    }

    // ---- near-dup pair scaling: exact O(n²) triangle vs k-means blocking ----
    // CLUSTERED corpus — the regime near-dup blocking targets (real
    // embedding corpora cluster by topic/source; near-dup pairs live inside
    // clusters). Growth axis = MORE clusters of constant size (new content),
    // the realistic 100 TB axis. The scale metric is pairs SCORED: the exact
    // triangle scores n(n-1)/2 (quadratic by construction); the blocked
    // form's candidate count stays proportional to within-cluster mass
    // (linear in cluster count) when nLists grows with the corpus.
    // Uniform random vectors are the documented worst case (no structure to
    // exploit — candidate pruning ≈ the nLists fraction only; measured
    // blocked(48) 61s vs exact 5.5s at 16k uniform vectors): below ~10⁵
    // vectors the broadcast exact scan wins there, which is exactly why the
    // exact form stays the registered oracle at test scale.
    import spark.implicits._
    def clustered(k: Int): DataFrame =
      SyntheticVectors.clustered(nClusters = 25 * k, perCluster = 40, dim = 16, seed = 13)
        .toDF("vec_id", "embedding")
    if (want("neardup")) println("neardup: k,vectors,op,seconds,pairs,scored")
    ks("neardup", Seq(1, 2, 4, 8), Seq(1, 4, 16)).foreach { k =>
      val corpus = clustered(k).cache()
      val n = corpus.count()
      val nLists = 8 * k
      Seq[(String, () => Long, () => Long)](
        ("exact",
          () => SimilarityOps.cosineNearDupPairs(corpus, "vec_id", "embedding", 0.9).count(),
          () => n * (n - 1) / 2),
        (s"blocked($nLists)",
          () => SimilarityOps.cosineNearDupPairsBlocked(corpus, "vec_id", "embedding", 0.9,
            nLists = nLists, nProbe = 2).count(),
          // candidate count re-runs the quantizer OUTSIDE the timing — it is
          // the reported work metric, not part of the measured query
          () => SimilarityOps.blockedCandidates(corpus, "vec_id", "embedding", nLists, 2).count())
      ).foreach { case (name, run, scoredFn) =>
        spark.sharedState.cacheManager.clearCache(); System.gc()
        corpus.cache().count()
        val t0 = System.nanoTime()
        val pairs = run()
        val dt = (System.nanoTime() - t0) / 1e9
        println(s"$k,$n,$name,$dt,$pairs,${scoredFn()}")
      }
      corpus.unpersist()
    }

    // ---- one-giant-cluster near-dup: flat blocking vs salted blocking ----
    // 50% of the corpus is ONE diffuse direction cluster (plus tight cold
    // clusters): the flat blocking funnels it into one list whose candidate
    // count is quadratic in the hot mass; the salted blocking subdivides hot
    // lists with adaptive-fan-out sub-k-means (SimilarityOps
    // .cosineNearDupPairsBlockedSalted; recall pinned in SimilaritySpec on
    // the same generator). Candidate count is the machine-independent metric.
    def skewedVecs(k: Int): DataFrame =
      SyntheticVectors.skewedOneCluster(
        nTwinPairs = 500 * k, nColdClusters = 10 * k, perCold = 100, dim = 16, seed = 7L)
        .toDF("vec_id", "embedding")
    if (want("neardupskew")) println("neardupskew: k,vectors,op,seconds,pairs,candidates")
    (if (want("neardupskew")) Seq(1, 2, 4) else Seq[Int]()).foreach { k =>
      val corpus = skewedVecs(k).cache()
      val n = corpus.count()
      def prepped = corpus
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("nrm", sqrt(aggregate(
          transform(col("v"), x => x * x), lit(0.0), (a, x) => a + x)))
        .filter(col("nrm") > 0)
        .withColumn("vn", transform(col("v"), x => x / col("nrm")))
      Seq[(String, () => Long, () => Long)](
        ("blocked(16)",
          () => SimilarityOps.cosineNearDupPairsBlocked(corpus, "vec_id", "embedding", 0.99,
            nLists = 16, nProbe = 2).count(),
          () => SimilarityOps.blockedCandidates(corpus, "vec_id", "embedding", 16, 2).count()),
        ("salted(16,cap200)",
          () => SimilarityOps.cosineNearDupPairsBlockedSalted(corpus, "vec_id", "embedding", 0.99,
            nLists = 16, nProbe = 2, maxListSize = 200).count(),
          () => SimilarityOps.blockedCandidatesSalted(
            prepped, "vec_id", 16, 2, 200, 42L, 5, 3).count())
      ).foreach { case (name, run, candFn) =>
        spark.sharedState.cacheManager.clearCache(); System.gc()
        corpus.cache().count()
        val t0 = System.nanoTime()
        val pairs = run()
        val dt = (System.nanoTime() - t0) / 1e9
        println(s"$k,$n,$name,$dt,$pairs,${candFn()}")
      }
      corpus.unpersist()
    }

    // ---- skewed-key last-wins: plain window vs salted two-phase ----
    // whale key: every 3rd event collapses onto user_id 0 (~33% of all
    // rows on ONE (user, type) set), replicas keep the rest distinct — the
    // plain window sorts the whale's whole history in one task, the salted
    // form pre-reduces per (key, salt) bucket first (Merge.lastWinsSalted;
    // identity vs lastWins pinned in MergeSpec on the same construction)
    import graft.ops.Merge
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("value"), col("ts"), col("event_id"))
    def skewed(k: Int): DataFrame =
      (0 until k).map { c =>
        ev.select(
          when(pmod(col("event_id"), lit(3)) === 0, lit(0L))
            .otherwise(col("user_id") + lit(c * 1000000L)).as("user_id"),
          col("event_type"), col("value"), col("ts"),
          (col("event_id") + lit(c * 100000000L)).as("event_id"))
      }.reduce(_ unionByName _)
    if (want("merge")) println("merge: k,rows,op,seconds,keys")
    (if (want("merge")) Seq(1, 2, 4, 8) else Seq[Int]()).foreach { k =>
      val df = skewed(k).cache()
      val n = df.count()
      Seq(
        ("lastwins", () => Merge.lastWins(
          df, Seq("user_id", "event_type"), Seq(col("ts"), col("event_id"))).count()),
        ("salted", () => Merge.lastWinsSalted(
          df, Seq("user_id", "event_type"), Seq("ts", "event_id"), Seq("value")).count())
      ).foreach { case (name, f) =>
        spark.sharedState.cacheManager.clearCache(); System.gc()
        df.cache().count()
        val t0 = System.nanoTime()
        val keys = f()
        println(s"$k,$n,$name,${(System.nanoTime() - t0) / 1e9},$keys")
      }
      df.unpersist()
    }

    // ---- line-dedup scaling: global boilerplate stripped at every size ----
    // every copy lays its documents out as 12-token lines and gets the SAME
    // header/footer boilerplate lines injected (boilerplate is global by
    // nature — replication makes it MORE frequent, never less), while
    // organic lines stay distinct across copies (copyK's token salting).
    // Only line hashes and int positions shuffle, so time should track
    // corpus size; `dropped` counts the stripped line occurrences.
    // same construction as q_line_dedup (shared helper — the benchmark must
    // measure exactly the oracle-checked workload)
    def linedK(k: Int): DataFrame = graft.SparkEntry.boilerplateLinedDocs(copyK(k))
    if (want("linededup")) println("linededup: k,docs,seconds,dropped")
    (if (want("linededup")) Seq(1, 2, 4, 8) else Seq[Int]()).foreach { k =>
      val corpus = linedK(k).cache()
      val n = corpus.count()
      val t0 = System.nanoTime()
      val dropped = DedupOps.lineDedup(corpus, "doc_id", "text", maxDocFreq = 20L)
        .agg(sum(col("n_dropped"))).head.getLong(0)
      println(s"$k,$n,${(System.nanoTime() - t0) / 1e9},$dropped")
      corpus.unpersist()
    }

    // ---- incremental dedup: steady-state increment vs from-scratch ----
    // the operating claim behind q_neardup_clusters_incr: with the store's
    // posting bank MAINTAINED (built by previous increments), a new batch
    // pays only batch-internal + bank-cross pair generation. The batch is
    // FIXED (copy-0 odd ids) while the banked store grows with k — the
    // realistic axis. `scratch_s` re-pairs the whole corpus from text;
    // `incr_s` is the steady-state cost against the pre-built bank (bank
    // construction happens outside the timer — that work was paid when
    // those documents arrived).
    if (want("incr")) println("incr: k,store_docs,batch_docs,op,seconds,pairs")
    ks("incr", Seq(1, 2, 4, 8), Seq(1, 4, 16, 32)).foreach { k =>
      val corpus = copyK(k).cache()
      val batch = corpus.filter(col("doc_id") < 1000000L && col("doc_id") % 2 === 1).cache()
      val store = corpus.exceptAll(batch).cache()
      val (nStore, nBatch) = (store.count(), batch.count())
      // bank built and materialized OUTSIDE the timer
      val bank = DedupOps.shingleBank(store, "doc_id", "text", 3)
      bank._1.count(); bank._2.count()
      val t0 = System.nanoTime()
      val (bp, cp) = DedupOps.incrementalPairsFromBank(
        bank, batch, "doc_id", "text", 3, 0.5)
      val incrPairs = bp.unionByName(cp).count()
      val incrS = (System.nanoTime() - t0) / 1e9
      println(s"$k,$nStore,$nBatch,incr,$incrS,$incrPairs")
      spark.sharedState.cacheManager.clearCache(); System.gc()
      corpus.cache().count(); store.cache().count(); batch.cache().count()
      val t1 = System.nanoTime()
      val scratchPairs = DedupOps.jaccardPairs(corpus, "doc_id", "text", 3, 0.5).count()
      println(s"$k,$nStore,$nBatch,scratch,${(System.nanoTime() - t1) / 1e9},$scratchPairs")
      spark.sharedState.cacheManager.clearCache(); System.gc()
      corpus.unpersist(); store.unpersist(); batch.unpersist()
    }

    // ---- streaming store persistence: delta-slot bytes are O(batch) ----
    // the durability claim behind NearDupClusterStream's delta-slot store:
    // the bytes PERSISTED per micro-batch track the batch, not the banked
    // corpus. The batch is FIXED (copy-0 odd ids) while the banked store
    // grows with k; `delta_bytes` is the batch's committed slot on disk,
    // `store_bytes` the whole store dir after the batch — what the old
    // full-rewrite layout paid EVERY batch and the delta layout pays only
    // at compaction.
    if (want("incrstore"))
      println("incrstore: k,store_docs,batch_docs,batch_s,delta_bytes,store_bytes")
    ks("incrstore", Seq(1, 2, 4, 8), Seq(1, 4, 16, 32)).foreach { k =>
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      def du(f: java.io.File): Long =
        if (f.isFile) f.length()
        else Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)
      val corpus = copyK(k).cache()
      val batchDf = corpus.filter(col("doc_id") < 1000000L && col("doc_id") % 2 === 1)
      val batchRows = batchDf.as[(Long, String)].collect().toSeq
      val storeRows = corpus.exceptAll(batchDf).as[(Long, String)].collect().toSeq
      val storeDir = java.nio.file.Files.createTempDirectory("graft-incrstore").toString + "/ndc"
      val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
      val ndc = new graft.streaming.Streaming.NearDupClusterStream(
        "doc_id", "text", n = 3, threshold = 0.5, maxDocFreq = 100, Some(storeDir))
      val q = ndc.start(stream.toDF().toDF("doc_id", "text"),
        java.nio.file.Files.createTempDirectory("graft-incrstore-ck").toString)
      stream.addData(storeRows); q.processAllAvailable()
      val t0 = System.nanoTime()
      stream.addData(batchRows); q.processAllAvailable()
      val batchS = (System.nanoTime() - t0) / 1e9
      q.stop()
      val deltaBytes = du(new java.io.File(s"$storeDir/batch_id=1"))
      val storeBytes = du(new java.io.File(storeDir))
      println(s"$k,${storeRows.size},${batchRows.size},$batchS,$deltaBytes,$storeBytes")
      spark.sharedState.cacheManager.clearCache(); System.gc()
      corpus.unpersist()
    }

    // ---- decontamination: exact broadcast vs bloom prefilter ----
    // eval side FIXED (UNSALTED base docs with doc_id % 11 == 0 — not the
    // salted first copy), train side grows with k — the realistic axis
    // (benchmarks are constant, corpora grow). Every corpus copy INCLUDING
    // c=0 salts every 5th token while the eval text is unsalted, so NO
    // organic 8-gram can cross the eval/train divide (any 8 consecutive
    // tokens contain a salted index); a shared canary sentence is appended
    // to the eval docs and to every 13th train doc in EVERY copy (same device as
    // q_decontaminate), so true hits exist and GROW with k — `out` counts
    // contaminated docs, which makes the exact==bloom equality sensitive
    // to dropped hits, not just to row cardinality. Wall time is the local
    // measure; `cand_frac` is the machine-independent one: the fraction of
    // exploded train grams that survive the bloom and reach the exact
    // verify join (true-hit rate + ~fpp). At 100 TB that fraction is what
    // the per-gram join shrinks to.
    val canary = lit(" the quick brown fox jumps over the lazy dog again and again")
    if (want("decon")) println("decon: k,grams,op,seconds,out")
    (if (want("decon")) Seq(1, 2, 4, 8) else Seq[Int]()).foreach { k =>
      val isEval = col("doc_id") % 11 === 0 && col("doc_id") < 1000000L
      val corpus = copyK(k)
        .withColumn("text",
          when(col("doc_id") % 13 === 0, concat(col("text"), canary))
            .otherwise(col("text")))
        .cache()
      corpus.count()
      val evalDocs = base.filter(col("doc_id") % 11 === 0)
        .select(col("doc_id"), concat(col("text"), canary).as("text"))
      val train = corpus.filter(!isEval)
      val nGrams = DedupOps.hashedShingles(train, "doc_id", "text", 8)
        .select(explode(col("sh"))).count()
      Seq(
        ("exact", () => DedupOps.decontaminate(
          train, evalDocs, "doc_id", "text", n = 8)
          .filter(col("is_contaminated")).count()),
        ("bloom", () => DedupOps.decontaminateBloom(
          train, evalDocs, "doc_id", "text", n = 8, fpp = 0.01)
          .filter(col("is_contaminated")).count())
      ).foreach { case (name, f) =>
        spark.sharedState.cacheManager.clearCache(); System.gc()
        corpus.cache().count()
        val t0 = System.nanoTime()
        val out = f()
        println(s"$k,$nGrams,$name,${(System.nanoTime() - t0) / 1e9},$out")
      }
      // candidate fraction, outside the timings — built through the SAME
      // helper as the operator (evalGramBloom), so sizing/hashing/fpp can
      // never drift between what is timed and what is reported
      val (evalG, bf) = DedupOps.evalGramBloom(evalDocs, "doc_id", "text", n = 8, fpp = 0.01)
      val bfBc = spark.sparkContext.broadcast(bf)
      val mc = udf((g: Long) => bfBc.value.mightContainLong(g))
      val cand = DedupOps.hashedShingles(train, "doc_id", "text", 8)
        .select(explode(col("sh")).as("g")).filter(mc(col("g"))).count()
      println(s"$k,$nGrams,cand_frac,${cand.toDouble / math.max(nGrams, 1L)},$cand")
      evalG.unpersist(); corpus.unpersist()
    }

    // ---- entropy: native one-pass char-entropy kernel vs the sort+fold
    // HOF reference — both corpus-linear (per-row work only, no shuffle
    // to misbehave), the kernel wins the constant factor and the gap must
    // not grow with K ----
    if (want("entropy")) println("entropy: k,docs,op,seconds,low_flagged")
    ks("entropy", Seq(1, 2, 4, 8), Seq(1, 4, 16)).foreach { k =>
      val corpus = copyK(k).cache()
      val n = corpus.count()
      Seq(
        ("char_entropy_native", () => graft.ops.TextOps.charEntropy(
          corpus, "doc_id", "text").filter(col("is_low_entropy")).count()),
        ("char_entropy_hof", () => graft.ops.TextOps.charEntropy(
          corpus, "doc_id", "text", native = false).filter(col("is_low_entropy")).count())
      ).foreach { case (name, f) =>
        val t0 = System.nanoTime()
        val out = f()
        println(s"$k,$n,$name,${(System.nanoTime() - t0) / 1e9},$out")
      }
      corpus.unpersist()
    }

    // ---- governance family: classifier fit/score, data card, blocklist —
    // all designed as one-or-two-pass aggregates, so wall time must track
    // the corpus linearly (no pairing, no iteration) ----
    if (want("govern")) println("govern: k,docs,op,seconds,out")
    (if (want("govern")) Seq(1, 2, 4, 8) else Seq[Int]()).foreach { k =>
      val corpus = copyK(k).withColumn("source",
        concat(lit("src"), pmod(col("doc_id"), lit(20L)))).cache()
      val n = corpus.count()
      import spark.implicits._
      val label = length(col("text")) >= 280
      val terms = Seq(("slow", "performance"), ("crash", "stability"),
        ("dup", "duplication"), ("big", "size")).toDF("term", "category")
      Seq(
        ("classifier_fit", () => graft.ops.ClassifierOps.centroidTrain(
          graft.ops.ClassifierOps.features(corpus, "doc_id", "text", label), "doc_id").count()),
        ("classifier_score", () => {
          val f = graft.ops.ClassifierOps.features(corpus, "doc_id", "text", label)
          graft.ops.ClassifierOps.score(
            f, "doc_id", graft.ops.ClassifierOps.centroidTrain(f, "doc_id"))
            .filter(col("pred")).count()
        }),
        ("data_card", () => graft.ops.TextOps.dataCard(
          corpus, "doc_id", "text", "source").count()),
        ("blocklist", () => graft.ops.TextOps.blocklistScreen(
          corpus, "doc_id", "text", terms, flagAt = 3L, dropAt = 9L)
          .filter(col("action") =!= "keep").count())
      ).foreach { case (name, f) =>
        spark.sharedState.cacheManager.clearCache(); System.gc()
        corpus.cache().count()
        val t0 = System.nanoTime()
        val out = f()
        println(s"$k,$n,$name,${(System.nanoTime() - t0) / 1e9},$out")
      }
      corpus.unpersist()
    }
    // ---- staged tokenizer family: the round-8 suite posture measured —
    // ONE unigram training amortized across the family's products (vocab,
    // segmentation, corpus encode) vs each product training for itself.
    // The absolute saving must stay ~2 trainer-costs at ANY corpus scale:
    // the EM is vocabulary-bounded (the `bpe` section pins that), so the
    // gap neither grows nor shrinks with the corpus while the only
    // corpus-linear work (the encode scan) is paid once in both modes ----
    if (want("staged")) println("staged: k,docs,mode,seconds,out")
    (if (want("staged")) Seq(1, 2, 4, 8) else Seq[Int]()).foreach { k =>
      // plain replication (constant vocabulary) — the regime where the
      // trainer cost is pure fixed overhead, so the amortization is
      // cleanly visible
      val corpus = (0 until k).map { c =>
        base.select((col("doc_id") + lit(c * 1000000L)).as("doc_id"), col("text"))
      }.reduce(_ unionByName _).cache()
      val n = corpus.count()
      def timeIt(name: String)(f: => Long): Unit = {
        spark.sharedState.cacheManager.clearCache(); System.gc()
        corpus.cache().count()
        val t0 = System.nanoTime()
        val out = f
        println(s"$k,$n,$name,${(System.nanoTime() - t0) / 1e9},$out")
      }
      timeIt("self_contained") {
        graft.ops.TextOps.unigramTrain(corpus, "text")._1.count() +
          graft.ops.TextOps.unigramTrain(corpus, "text")._2.count() +
          graft.ops.TextOps.unigramEncodeDocs(corpus, "doc_id", "text").count()
      }
      timeIt("staged") {
        val (vocab, segs) = graft.ops.TextOps.unigramTrain(corpus, "text")
        vocab.count() + segs.count() +
          graft.ops.TextOps.unigramEncodeFrom(corpus, "doc_id", "text", segs).count()
      }
      corpus.unpersist(): Unit
    }

    // ---- WordPiece trainer: same vocab-bounded claim as bpe — one
    // corpus-sized word-count pass, then likelihood-scored rounds over
    // the bounded vocabulary; plain replication must be FLAT, salted
    // replication may grow with the vocab, never the corpus ----
    if (want("wordpiece")) println("wordpiece: k,docs,vocab,wc_s,train_s,n_merges")
    def wpMeasure(tag: String, corpus: DataFrame): Unit = {
      corpus.cache()
      val n = corpus.count()
      spark.sharedState.cacheManager.clearCache(); System.gc()
      corpus.cache().count()
      val t0 = System.nanoTime()
      val words = graft.ops.TextOps.bpeWordCounts(corpus, "text").localCheckpoint()
      val vocab = words.count()
      val wcS = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val merges = graft.ops.TextOps.wordpieceTrainFromWordCounts(words, 10)
      val trS = (System.nanoTime() - t1) / 1e9
      println(s"$tag,$n,$vocab,$wcS,$trS,${merges.length}")
      spark.sharedState.cacheManager.clearCache(); System.gc()
      corpus.unpersist(): Unit
    }
    ks("wordpiece", Seq(1, 2, 4, 8), Seq(1, 4, 16)).foreach { k =>
      wpMeasure(s"$k", (0 until k).map { c =>
        base.select((col("doc_id") + lit(c * 1000000L)).as("doc_id"), col("text"))
      }.reduce(_ unionByName _))
      wpMeasure(s"${k}s", copyK(k))
    }

    // ---- DSIR: one corpus scan to hashed bucket counts (map-side
    // combined), 4096-row broadcast models, one scoring join — wall time
    // must track the corpus LINEARLY at every K ----
    if (want("dsir")) println("dsir: k,docs,op,seconds,out")
    ks("dsir", Seq(1, 2, 4, 8), Seq(1, 4, 16)).foreach { k =>
      val corpus = copyK(k).cache()
      val n = corpus.count()
      val isT = pmod(col("doc_id"), lit(5L)) === 0L
      Seq(
        ("dsir_weights", () => graft.ops.TextOps.dsirWeights(
          corpus, "doc_id", "text", isT).count()),
        ("dsir_select", () => graft.ops.TextOps.dsirSelect(
          graft.ops.TextOps.dsirWeights(corpus, "doc_id", "text", isT),
          "doc_id", 100).count())
      ).foreach { case (name, f) =>
        spark.sharedState.cacheManager.clearCache(); System.gc()
        corpus.cache().count()
        val t0 = System.nanoTime()
        val out = f()
        println(s"$k,$n,$name,${(System.nanoTime() - t0) / 1e9},$out")
      }
      corpus.unpersist(): Unit
    }
    // ---- contention sensitivity of the pair-generation queries: the
    // three chronically WINDOW-SENSITIVE registered queries
    // (q_retrieval_eval / q_neardup_clusters_incr / q_semantic_dedup —
    // every >1.5× driver flag rounds 7-9 landed on one of them) measured
    // quiet and then under a full-width CPU antagonist (32 spinning
    // threads — the steal/sibling-contention regime a shared driver host
    // produces). The committed quiet:contended ratios make the NEXT
    // contended driver capture attributable from this artifact alone: a
    // driver time inside quiet·ratio is window noise, not a regression ----
    // ---- fixed-point HLL: the register relation must stay BOUNDED
    // (≤ keys·m rows) while the input grows decades — the whole point of
    // sketching a 100 TB distinct-count; and the raw-branch estimate must
    // hold its ~6.5% rsd as cardinality climbs ----
    if (want("hll")) println("hll: k,rows,distinct_per_type,reg_rows,max_err_pct,seconds")
    ks("hll", Seq(1, 4, 16, 64), Seq(1, 16, 64, 256)).foreach { k =>
      val nDistinct = k * 50000L
      // (type t, user u) exactly once per pair: each of the 5 types sees
      // exactly nDistinct distinct users — the exact truth is analytic
      val ev = spark.range(0, nDistinct * 5).select(
        (col("id") % 5).cast("string").as("event_type"),
        // integer division — `/` alone is Spark double division, which
        // would hash "0.2"-style strings instead of integer ids
        (col("id") / 5).cast("long").as("user_id"))
      spark.sharedState.cacheManager.clearCache(); System.gc()
      val t0 = System.nanoTime()
      val regs = Analytics.hllRegisters(ev, Seq("event_type"), "user_id").cache()
      val regRows = regs.count()
      val ests = Analytics.hllEstimate(regs, Seq("event_type"))
        .select(col("approx_distinct")).collect().map(_.getDouble(0))
      val secs = (System.nanoTime() - t0) / 1e9
      regs.unpersist()
      val maxErr = ests.map(e => math.abs(e - nDistinct) / nDistinct * 100).max
      println(f"hll: $k,${nDistinct * 5},$nDistinct,$regRows,$maxErr%.2f,$secs%.1f")
    }

    // ---- the round-10 web-corpus stages (C4 gate, URL canon, NFC,
    // mojibake, sentence-span dedup) are claimed LINEAR — four are pure
    // Scan→Project (per-row cost, no exchange at any size) and the span
    // dedup's only shuffle is the hash partition on span_md5. Measure
    // per-op wall time across a corpus decade: seconds must grow ~k,
    // never super-linearly ----
    if (want("webstage")) println("webstage: k,docs,op,rows,seconds")
    ks("webstage", Seq(1, 2, 4, 8), Seq(1, 4, 16, 32)).foreach { k =>
      val corpus = copyK(k)
      val n = corpus.cache().count()
      val planted = corpus.withColumn("text",
        concat(col("text"),
          // FOUR sentences: window 0 absorbs the (copy-salted) soup and is
          // unique per doc; window 1 is identical across every %9 doc in
          // every copy — true span-dup structure grows linearly in k
          when(col("doc_id") % 9 === 0,
            lit("\nAlpha beta gamma delta. Epsilon zeta eta theta." +
              " Iota kappa lambda mu. Nu xi omicron pi."))
            .otherwise(lit("")),
          when(col("doc_id") % 10 === 1, lit(" caf\u00c3\u00a9 one")).otherwise(lit("")),
          when(col("doc_id") % 13 === 0, lit(" x\u00a0y cafe\u0301")).otherwise(lit(""))))
        .cache()
      planted.count(): Unit
      val withUrl = corpus.select(col("doc_id"),
        concat(lit("HTTPS://WWW.Site"), (col("doc_id") % 5).cast("string"),
          lit(".Example.COM:443/p/"), (col("doc_id") % 7).cast("string"),
          lit("?utm_source=x&a=1&ref=t#f")).as("url")).cache()
      withUrl.count(): Unit
      def time(name: String, f: => Long): Unit = {
        val t0 = System.nanoTime()
        val rows = f
        println(f"webstage: $k,$n,$name,$rows,${(System.nanoTime() - t0) / 1e9}%.1f")
      }
      time("c4_rules", TextOps.c4Rules(planted, "doc_id", "text",
        badWords = Seq("craptastic")).filter(col("pass")).count())
      time("url_normalize", TextOps.urlNormalize(withUrl, "doc_id", "url")
        .filter(col("n_params_dropped") > 0).count())
      time("unicode_normalize", TextOps.unicodeNormalize(planted, "doc_id", "text")
        .filter(col("changed")).count())
      time("fix_mojibake", TextOps.fixMojibake(planted, "doc_id", "text")
        .filter(col("changed")).count())
      time("sentence_span_dedup", DedupOps.sentenceSpanDedup(planted, "doc_id", "text")
        .filter(col("is_dup")).count())
      time("gopher_repetition", TextOps.gopherRepetition(planted, "doc_id", "text")
        .filter(col("is_repetitive")).count())
      // host stats stay |domains|-bounded however the corpus grows; the
      // per-doc side is one broadcast-join scan
      time("domain_reputation", TextOps.domainReputation(
        corpus.select(col("doc_id"),
          concat(lit("site"), (col("doc_id") % 17).cast("string"),
            lit(".example.com")).as("domain"), col("text")),
        "doc_id", "domain", "text").filter(col("domain_ok")).count())
      time("anchor_text", TextOps.anchorText(
        corpus.select(col("doc_id"),
          concat(lit("<a href=\"/t"), (col("doc_id") % 11).cast("string"),
            lit("\">read this</a><a href=\"/u\">or  <b>that</b></a>")).as("html")),
        "doc_id", "html").count())
      planted.unpersist(); withUrl.unpersist(); corpus.unpersist(): Unit
    }

    // CDC: per-doc chunking must stay FLAT per document (the kernel is one
    // O(len) pass) and dup-chunk mass must grow exactly with the planted
    // duplication (copies share the plant passage's interior chunks)
    if (want("cdc")) println("cdc: k,docs,chunks,dup_chunks,seconds")
    ks("cdc", Seq(1, 2, 4, 8), Seq(1, 4, 16, 32)).foreach { k =>
      val corpus = copyK(k).withColumn("text",
        concat(col("text"),
          when(col("doc_id") % 7 === 0,
            lit(" the shared canonical passage that every seventh document" +
              " carries verbatim so interior chunk boundaries re-synchronize" +
              " on content and deduplicate across carriers"))
            .otherwise(lit("")))).cache()
      val n = corpus.count()
      val t0 = System.nanoTime()
      val marked = DedupOps.cdcChunkDedup(corpus, "doc_id", "text").cache()
      val total = marked.count()
      val dups = marked.filter(col("is_dup")).count()
      println(f"cdc: $k,$n,$total,$dups,${(System.nanoTime() - t0) / 1e9}%.1f")
      marked.unpersist(); corpus.unpersist(): Unit
    }

    if (want("contend")) {
      println("contend: query,quiet_s,contended_s,ratio")
      val names =
        Seq("q_retrieval_eval", "q_neardup_clusters_incr", "q_semantic_dedup")
      def exhaust(n: String): Unit =
        graft.SparkEntry.queries(n)(spark, dir)
          .write.mode("overwrite").format("noop").save()
      // one warm pass: artifact memos (pair graph, BM25 index) train here,
      // so both measured modes ride the same staged state — the bench's
      // own posture
      names.foreach(exhaust)
      names.foreach { n =>
        def once(): Double = {
          spark.sharedState.cacheManager.clearCache(); System.gc()
          val t0 = System.nanoTime()
          exhaust(n)
          (System.nanoTime() - t0) / 1e9
        }
        val quiet = once()
        val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
        val spinners = (0 until 32).map { i =>
          val t = new Thread(() => {
            var x = i.toLong
            while (!stop.get()) { x = x * 6364136223846793005L + 1442695040888963407L }
            if (x == 42L) println("") // defeat dead-code elimination
          })
          t.setDaemon(true); t.start(); t
        }
        val contended =
          try once()
          finally { stop.set(true); spinners.foreach(_.join(1000)) }
        println(f"$n,$quiet%.2f,$contended%.2f,${contended / quiet}%.2f")
      }
    }
    // ---- sf1: the 10× rehearsal — every headline family at an
    // sf1-EQUIVALENT corpus (sf0.1 replicated ×10), with a ×2 decade as
    // the JIT/codegen warm-up (its times are cold and not read) and a ×5
    // midpoint, so the 5→10 per-decade growth ratio is read off warm.
    // The claim under test is the one the plan-shape arguments make:
    // doubling rows must not super-linearly grow any family (pair
    // generation stays dup-structure-governed, ANN stays list-pruned,
    // packing stays one-shuffle). seconds(k=10)/seconds(k=5) ≤ ~2.4
    // (linear + constant overheads) is the pass bar recorded in PLANS.md.
    // The embedding ops scale their quantizer granularity with the
    // corpus (nLists ∝ n, constant expected list size) — the documented
    // 100 TB operating posture; a FIXED nLists at growing n is the
    // known-quadratic regime the neardupskew section already pins.
    if (want("sf1")) println("sf1: k,rows,op,seconds,result_rows")
    // deep adds a ×20 decade (100k docs / 40k vectors): two consecutive
    // warm doublings, so a ratio that GROWS across 5→10→20 exposes a
    // super-linear term that a single doubling can hide
    ks("sf1", Seq(2, 5, 10), Seq(2, 5, 10, 20)).foreach { k =>
      import graft.ops.{SamplingOps, SimilarityOps}
      val corpus = copyK(k).cache()
      val n = corpus.count()
      val emb = embK(k).cache()
      val nv = emb.count()
      val nl = math.max(8, (nv / 250L).toInt)
      def timedRow(op: String, rows: Long)(f: => Long): Unit = {
        spark.sharedState.cacheManager.clearCache(); System.gc()
        corpus.cache().count(); emb.cache().count()
        val t0 = System.nanoTime()
        val out = f
        println(s"sf1: $k,$rows,$op,${(System.nanoTime() - t0) / 1e9},$out")
      }
      timedRow("minhash", n) {
        DedupOps.minhashLshPairs(corpus, "doc_id", "text", 3, 0.5).count()
      }
      timedRow("substring", n) {
        DedupOps.substringSpans(corpus, "doc_id", "text").count()
      }
      timedRow("cdc", n) {
        DedupOps.cdcChunkDedup(corpus, "doc_id", "text").count()
      }
      timedRow("semantic_dedup", nv) {
        val pairs = SimilarityOps.cosineNearDupPairsBlockedFp(
          emb, "vec_id", "embedding", threshold = 0.4, nLists = nl, nProbe = 2, iters = 2)
        DedupOps.connectedComponentsFast(pairs, "id_a", "id_b").count()
      }
      timedRow("ann_ivfpq", nv) {
        SimilarityOps.knnIvfPq(
          emb, emb.filter(pmod(col("vec_id"), lit(500L)) === 3), "vec_id", "embedding",
          dim = 64, m = 8, kSub = 16, k = 10, nLists = nl, nProbe = 4).count()
      }
      timedRow("ann_hnsw", nv) {
        // finer quantizer than the search ops (nv/125 ≈ 375-vector lists):
        // the graph BUILD pays nProbe²·listSize candidates per node, so
        // granularity is the knob that keeps the pair volume (and the
        // distinct's memory) linear-in-n at a useful constant
        SimilarityOps.knnHnsw(
          emb, emb.filter(pmod(col("vec_id"), lit(500L)) === 3), "vec_id", "embedding",
          k = 10, nLists = math.max(16, (nv / 125L).toInt)).count()
      }
      timedRow("pack_sequences", n) {
        SamplingOps.packSequences(corpus, "doc_id", "text",
          chunkTokens = 512, nShards = 8).count()
      }
      timedRow("clusters_incr", n) {
        // the registered store/batch split: bank built outside any real
        // increment's timer, so time only the batch-against-bank pairing
        val batch = corpus.filter(col("doc_id") < 1000000L && col("doc_id") % 2 === 1)
        val store = corpus.exceptAll(batch)
        val bank = DedupOps.shingleBank(store, "doc_id", "text", 3)
        bank._1.count(); bank._2.count()
        val (bp, cp) = DedupOps.incrementalPairsFromBank(
          bank, batch, "doc_id", "text", 3, 0.5)
        bp.unionByName(cp).count()
      }
      corpus.unpersist(); emb.unpersist()
    }

    // ---- bitext mining: exact dual-knnBrute (the registered, oracled
    // form — O(|X|·|Y|) scored candidates in each direction) vs the SAME
    // margin fold over staged ANN legs (bitextMineFrom ∘ knnHnsw at
    // nLists ∝ n — the 100 TB posture: directional searches ride an
    // index, everything after the legs is O(n·k)). Both sides GROW with
    // k (parallel corpora grow together — the honest axis; a fixed probe
    // set would hide the quadratic term).
    //
    // Corpus: twinUniform — each X vector has exactly ONE planted
    // translation partner on the Y side (sim ≈ 1) against a ≈0-sim
    // uniform background, so true pairs carry a DECISIVE margin gap
    // (≈ 4× the neighborhood average vs the 1.05 bar) — the regime
    // margin mining exists for, and the regime where `overlap` (the
    // fraction of exact margin pairs the ANN-fed fold reproduces)
    // measures the LEGS' recall rather than tie-breaking noise. The two
    // corpora WITHOUT a margin gap were measured first and are the
    // documented negative result: on replicated sf embeddings (every
    // vector gains K−1 near-twins) and on clustered Gaussians (all
    // within-cluster sims compress toward 1) the exact margin ranking is
    // itself a near-tie ensemble, and exact-vs-ANN pair agreement
    // collapses to ~0 for ANY approximate leg — margin mining at scale
    // needs a margin gap, not just high leg recall.
    if (want("bitext")) println("bitext: k,x_vecs,y_vecs,op,seconds,pairs,overlap")
    // deep tops out at k=8 (40k vectors, 20k/side): the exact legs are
    // O(|X|·|Y|) BY DESIGN here — that quadratic term is the thing being
    // measured — and k=16 quadruples it past the smoke's minutes budget
    ks("bitext", Seq(1, 2, 4), Seq(1, 4, 8)).foreach { k =>
      import spark.implicits._
      val emb = SyntheticVectors
        .twinUniform(nPairs = 2500 * k, dim = 16, seed = 29)
        .toDF("vec_id", "embedding").cache()
      val xs = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
      val ys = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
      val (nx, ny) = (xs.count(), ys.count())
      val nl = math.max(16, (nx / 125L).toInt)
      def pairsOf(df: DataFrame): Set[(Long, Long)] =
        df.select(col("src_id"), col("dst_id")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      spark.sharedState.cacheManager.clearCache(); System.gc()
      emb.cache().count()
      val t0 = System.nanoTime()
      val exact = pairsOf(SimilarityOps.bitextMine(
        xs, ys, "vec_id", "embedding", k = 4))
      val exactS = (System.nanoTime() - t0) / 1e9
      println(s"bitext: $k,$nx,$ny,exact,$exactS,${exact.size},1.0")
      spark.sharedState.cacheManager.clearCache(); System.gc()
      emb.cache().count()
      val t1 = System.nanoTime()
      val ann = pairsOf(SimilarityOps.bitextMineFrom(
        SimilarityOps.knnHnsw(ys, xs, "vec_id", "embedding", k = 4, nLists = nl),
        SimilarityOps.knnHnsw(xs, ys, "vec_id", "embedding", k = 4, nLists = nl)))
      val annS = (System.nanoTime() - t1) / 1e9
      val ov = if (exact.isEmpty) 1.0 else ann.intersect(exact).size.toDouble / exact.size
      println(f"bitext: $k,$nx,$ny,hnsw($nl),$annS,${ann.size},$ov%.3f")
      emb.unpersist(): Unit
    }

    // ---- raster dedup: real-codec decode + digest dedup must track the
    // payload count LINEARLY — payloads never shuffle (the decode is a
    // narrow map stage; only (media_id, dims, md5) digests flow into the
    // group/join), so replicating the media K× must cost ~K×. Replicas
    // keep the ORIGINAL card geometry, so every copy is an exact-raster
    // dup of its base card (PNG and BMP of the same card already dedup
    // cross-format in the base set): true dup structure GROWS with k
    // while the digest groups stay constant — the axis where a
    // payload-shuffling formulation would blow up and this one must not.
    // Payloads are rendered and checkpointed OUTSIDE the timer (the
    // operating posture: media bytes already sit in storage).
    if (want("raster")) println("raster: k,payloads,seconds,groups,dups")
    ks("raster", Seq(1, 2, 4), Seq(1, 4, 8, 16)).foreach { k =>
      val docs = base.select(col("doc_id"))
      def roster(offset: Long): DataFrame = (0 until k).map { c =>
        docs.select((col("doc_id") + lit(offset + c * 1000000L)).as("media_id"),
          col("doc_id").as("card_id"))
      }.reduce(_ unionByName _)
      val packed = graft.ops.MultimodalOps
        .renderTestCardsEnc(spark, roster(0L), "media_id", "card_id", "png")
        .unionByName(graft.ops.MultimodalOps
          .renderTestCardsEnc(spark, roster(100000000L), "media_id", "card_id", "bmp"))
        .localCheckpoint(true)
      val nPayloads = packed.count()
      spark.sharedState.cacheManager.clearCache(); System.gc()
      val t0 = System.nanoTime()
      val out = graft.ops.MultimodalOps.imageRasterDedup(
        graft.ops.MultimodalOps.rasterHex(spark, packed).toDF())
      val agg = out.agg(
        countDistinct(col("raster_md5")).as("g"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("d")).head()
      val secs = (System.nanoTime() - t0) / 1e9
      println(s"raster: $k,$nPayloads,$secs,${agg.getLong(0)},${agg.getLong(1)}")
      spark.sharedState.cacheManager.clearCache(); System.gc()
    }

    // ---- skew: a Zipf hot-key plant through the CLUSTER path ----
    // One giant near-dup family holds 25% of all rows (the Zipf head);
    // the tail is constant-size 4-chains. Two legs:
    //  - GRAPH leg (synthetic pair relation, so the plant is exact):
    //    connectedComponentsFast must stay per-decade ~linear even though
    //    one component is a star of n/4 nodes (alternating-star
    //    contraction bounds the round count, never materializing the
    //    component as pairs), and mergeClusters folding a batch into an
    //    ALREADY-GIANT labeling must stay batch-governed.
    //  - TEXT leg: minhashLshPairs over a corpus where 25% of documents
    //    are near-copies of ONE hot text — the df-capped posting join
    //    must keep candidates bounded (the uncapped truth is (n/4)²/2
    //    pairs, which nothing should emit).
    if (want("skew")) println("skew: k,rows,giant,op,seconds,out_rows")
    ks("skew", Seq(2, 4, 8), Seq(2, 4, 8, 16)).foreach { k =>
      val n = k * 10000L
      val ids = spark.range(n)
      val giant = ids.filter(col("id") > 0 && col("id") < n / 4)
        .select(lit(0L).as("doc_a"), col("id").as("doc_b"))
      val tail = ids.filter(col("id") >= n / 4 && pmod(col("id"), lit(4L)) =!= 0)
        .select((col("id") - pmod(col("id"), lit(4L))).as("doc_a"), col("id").as("doc_b"))
      val pairs = giant.unionByName(tail).cache()
      pairs.count()
      def timedRow(op: String)(f: => Long): Unit = {
        spark.sharedState.cacheManager.clearCache(); System.gc()
        pairs.cache().count()
        val t0 = System.nanoTime()
        val out = f
        println(s"skew: $k,$n,${n / 4},$op,${(System.nanoTime() - t0) / 1e9},$out")
      }
      timedRow("cc") {
        DedupOps.connectedComponentsFast(pairs, "doc_a", "doc_b").count()
      }
      // batch = every 5th edge (old labeling built OUTSIDE the timer);
      // the giant cluster is already labeled when the batch arrives
      val batchPairs = pairs.filter(pmod(col("doc_b"), lit(5L)) === 0).cache()
      val storePairs = pairs.exceptAll(batchPairs).cache()
      val labeled = DedupOps.connectedComponentsFast(storePairs, "doc_a", "doc_b")
        .localCheckpoint()
      timedRow("merge_clusters") {
        DedupOps.mergeClusters(labeled, batchPairs.select(col("doc_a"), col("doc_b"))).count()
      }
      // TEXT leg: hot SHINGLES without quadratic truth — 25% of docs share
      // a 20-token boilerplate template (those shingles' df = n/4, the hot
      // key) but carry 20 id-unique tokens each, so same-family Jaccard ≈
      // 0.31 < the 0.5 threshold and the TRUE pair set is ~empty; cold
      // docs are group-of-4 structured with id-salted heads so no cold
      // pair reaches the threshold either (an early cut of this plant
      // left 4-of-6 shared trigrams between cold docs — J exactly 0.50 —
      // and 27.5M TRUE pairs; a family of actual near-copies is an
      // inherently quadratic OUTPUT and not a sub-quadratic test). The op
      // under test is the df-capped shingle join (jaccardPairs, the
      // registered contract): uncapped, the hot template's postings would
      // emit ~(n/4)²/2 candidates; the cap must keep candidate volume —
      // and therefore time — growing with n, not n². (The banded-LSH
      // path is NOT the sub-quadratic guard here by design: band
      // collision probability is J^rows per band, so a J≈0.3 family
      // still emits a constant FRACTION of its all-pairs as candidates —
      // the df/bucket cap, not banding, is what bounds hot keys.)
      val hotBody = (1 to 20).map(i => s"hot$i").mkString(" ")
      val docs = ids.select(col("id").as("doc_id"),
        when(col("id") < n / 4,
          concat(lit(hotBody), lit(" "), concat_ws(" ",
            (0 until 20).map(j => concat(lit(s"u${j}_"), col("id").cast("string"))): _*)))
          .otherwise(concat(
            lit("c"), col("id").cast("string"),
            lit(" d"), col("id").cast("string"),
            lit(" body word"), pmod(col("id"), lit(4L)).cast("string"),
            lit(" tail text")))
          .as("text")).cache()
      docs.count()
      def timedDocs(op: String)(f: => Long): Unit = {
        spark.sharedState.cacheManager.clearCache(); System.gc()
        docs.cache().count()
        val t0 = System.nanoTime()
        val out = f
        println(s"skew: $k,$n,${n / 4},$op,${(System.nanoTime() - t0) / 1e9},$out")
      }
      timedDocs("jaccard_capped") {
        DedupOps.jaccardPairs(docs, "doc_id", "text", 3, 0.5).count()
      }
      pairs.unpersist(); batchPairs.unpersist(); storePairs.unpersist(); docs.unpersist()
    }
    spark.stop()
  }
}
