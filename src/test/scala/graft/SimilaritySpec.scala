package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.SimilarityOps

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  private def emb = Tables.embeddings(spark, TestSpark.sf0001)

  test("knnBrute: k rows per probe, sims within [-1,1], self excluded, ranks contiguous") {
    val probes = emb.filter(col("vec_id") < 5)
    val got = SimilarityOps.knnBrute(emb, probes, "vec_id", "embedding", 10)
      .select("probe_id", "neighbor_id", "sim", "rank")
      .as[(Long, Long, Double, Long)].collect()
    assert(got.length == 5 * 10)
    assert(got.forall { case (p, n, s, _) => p != n && s >= -1.0001 && s <= 1.0001 })
    val byProbe = got.groupBy(_._1)
    assert(byProbe.values.forall(_.map(_._4).sorted.toSeq == (1L to 10L)))
    // ranked descending by similarity
    assert(byProbe.values.forall { rs =>
      val sims = rs.sortBy(_._4).map(_._3); sims.zip(sims.tail).forall { case (a, b) => a >= b }
    })
  }

  test("knnTruncatedRerank: exact sims on survivors, recall vs brute pinned, candK=all degenerates to brute") {
    val probes = emb.filter(col("vec_id") < 10)
    val trunc = SimilarityOps.knnTruncatedRerank(
      emb, probes, "vec_id", "embedding", prefixDims = 16, candK = 60, k = 10)
      .select("probe_id", "neighbor_id", "sim", "rank")
      .as[(Long, Long, Double, Long)].collect()
    val brute = SimilarityOps.knnBrute(emb, probes, "vec_id", "embedding", 10)
      .select("probe_id", "neighbor_id", "sim", "rank")
      .as[(Long, Long, Double, Long)].collect()
    // survivors carry EXACT full-dim sims: every (probe, neighbor) the two
    // share must agree on sim bitwise
    val bruteSim = brute.map(r => (r._1, r._2) -> r._3).toMap
    assert(trunc.forall { case (p, n, s, _) =>
      !bruteSim.contains((p, n)) || bruteSim((p, n)) == s })
    // prefix-16-of-64 recall@10 on the real corpus — the ISOTROPIC
    // synthetic embeddings are the worst case for prefix truncation (no
    // MRL/PCA variance front-loading), so this pin is the
    // mechanism-regression canary (measured 0.54; the config sweep reads
    // 0.29→0.87 across prefix 8→32 / candK 40→100 exactly as the
    // prefix-fraction theory predicts), not a quality claim
    val recall = (trunc.map(r => (r._1, r._2)).toSet &
      brute.map(r => (r._1, r._2)).toSet).size.toDouble / brute.length
    info(s"truncated-rerank recall@10 = $recall")
    assert(recall >= 0.45, s"recall=$recall")
    // with candK = corpus, stage 1 cuts nothing: result == brute exactly
    val all = SimilarityOps.knnTruncatedRerank(
      emb, probes, "vec_id", "embedding", prefixDims = 16, candK = 100000, k = 10)
      .select("probe_id", "neighbor_id", "sim", "rank")
      .as[(Long, Long, Double, Long)].collect()
    assert(all.toSet == brute.toSet,
      "uncut truncated-rerank must equal knnBrute row for row")
  }

  test("knnBruteAgg (heap aggregator) returns exactly the window-rank result") {
    val probes = emb.filter(col("vec_id") < 10)
    val win = SimilarityOps.knnBrute(emb, probes, "vec_id", "embedding", 10)
      .select("probe_id", "neighbor_id", "sim", "rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    val agg = SimilarityOps.knnBruteAgg(emb, probes, "vec_id", "embedding", 10)
      .select("probe_id", "neighbor_id", "sim", "rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(agg == win)
  }

  test("hardNegatives: cross-label only, exactly the knn restricted to other labels") {
    val anchors = emb.filter(col("vec_id") % 10 === 0)
    val got = SimilarityOps.hardNegatives(emb, anchors, "vec_id", "embedding", "label", 5)
      .select("probe_id", "probe_label", "neighbor_id", "neighbor_label", "sim", "rank")
      .as[(Long, Int, Long, Int, Double, Long)].collect().toSeq
    assert(got.nonEmpty)
    assert(got.forall { case (p, pl, n, nl, _, _) => p != n && pl != nl },
      "every mined negative carries a different label")
    // reference: brute-force in Scala over the collected vectors
    val vecs = emb.select(col("vec_id"), col("embedding").cast("array<double>"), col("label"))
      .as[(Long, Seq[Double], Int)].collect()
    def nrm(v: Seq[Double]) = math.sqrt(v.map(x => x * x).sum)
    val anchorSet = vecs.filter(_._1 % 10 == 0)
    val expect = anchorSet.flatMap { case (p, pv, pl) =>
      val pn = nrm(pv)
      vecs.filter { case (n, _, nl) => n != p && nl != pl }
        .flatMap { case (n, v, nl) =>
          val d = nrm(v) * pn
          if (d > 0) Some((n, nl, pv.zip(v).map { case (a, b) => a * b }.sum / d)) else None
        }
        .sortBy { case (n, _, s) => (-s, n) }.take(5)
        .zipWithIndex.map { case ((n, nl, s), i) => (p, pl, n, nl, i + 1L) }
    }.toSet
    assert(got.map(t => (t._1, t._2, t._3, t._4, t._6)).toSet == expect,
      "selection and order match the brute-force reference")
  }

  test("classCentroidOutliers matches a plain-Scala fixed-point reference exactly") {
    val got = SimilarityOps.classCentroidOutliers(emb, "vec_id", "embedding", "label", 5)
      .select("vec_id", "label", "dist", "rank", "is_outlier")
      .as[(Long, Int, Double, Long, Boolean)].collect().toSet

    val vecs = emb.select(col("vec_id"), col("embedding").cast("array<double>"), col("label"))
      .as[(Long, Seq[Double], Int)].collect()
    def dot(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
    val expect = vecs.groupBy(_._3).flatMap { case (label, members) =>
      val dims = members.head._2.size
      val qsums = (0 until dims).map(d =>
        members.map(m => math.round(m._2(d) * 1e6)).sum)
      val cvec = qsums.map(s => s.toDouble / (members.size.toDouble * 1e6))
      members.map { case (id, v, _) =>
        val d2 = dot(v, v) - 2.0 * dot(v, cvec) + dot(cvec, cvec)
        (id, label, math.sqrt(math.max(d2, 0.0)))
      }.toSeq.sortBy { case (id, _, dist) => (-dist, id) }
        .zipWithIndex.map { case ((id, l, dist), i) =>
          (id, l, dist, i + 1L, i < 5)
        }
    }.toSet
    assert(got == expect, "distances, ranks and flags all bit-identical to the reference")
    assert(got.count(_._5) == vecs.map(_._3).distinct.size * 5, "exactly k flags per label")
  }

  test("centroidDrift matches a plain-Scala fixed-point reference; uniform corpus reads zero") {
    val got = SimilarityOps.centroidDrift(emb, "embedding", "label")
      .select("label", "n_vecs", "share_fp", "dist")
      .as[(Int, Long, Long, Double)].collect().toSet

    val vecs = emb.select(col("embedding").cast("array<double>"), col("label"))
      .as[(Seq[Double], Int)].collect()
    def dot(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
    val dims = vecs.head._1.size
    def centroid(ms: Seq[Seq[Double]]): Seq[Double] =
      (0 until dims).map(d => ms.map(v => math.round(v(d) * 1e6)).sum.toDouble /
        (ms.size.toDouble * 1e6))
    val rvec = centroid(vecs.map(_._1).toSeq)
    val nTotal = vecs.length.toLong
    val expect = vecs.groupBy(_._2).map { case (label, members) =>
      val cvec = centroid(members.map(_._1).toSeq)
      val d2 = dot(cvec, cvec) - 2.0 * dot(cvec, rvec) + dot(rvec, rvec)
      (label, members.size.toLong, members.size.toLong * 1000000L / nTotal,
        math.sqrt(math.max(d2, 0.0)))
    }.toSet
    assert(got == expect, "per-label shares and centroid distances bit-identical")
    // shares account for the whole corpus (up to one truncation unit per label)
    val shareSum = got.toSeq.map(_._3).sum
    assert(shareSum <= 1000000L && shareSum > 1000000L - got.size)

    // a label whose members ARE the corpus sits exactly on the global centroid
    val uniform = SimilarityOps.centroidDrift(
      emb.withColumn("label", lit(7)), "embedding", "label")
      .select("label", "share_fp", "dist").as[(Int, Long, Double)].collect().toSeq
    assert(uniform == Seq((7, 1000000L, 0.0)))
  }

  test("knnMerge with OVERLAPPING corpus slices equals full-corpus knnBrute") {
    // slices share vec_id in [cut-50, cut): an overlapping neighbor appears in
    // both per-side top-k relations and must occupy ONE merged slot, not two
    val probes = emb.filter(col("vec_id") < 5)
    val n = emb.count()
    val cut = n / 2
    val a = emb.filter(col("vec_id") < cut)
    val b = emb.filter(col("vec_id") >= cut - 50)
    val merged = SimilarityOps.knnMerge(
      SimilarityOps.knnBrute(a, probes, "vec_id", "embedding", 10),
      SimilarityOps.knnBrute(b, probes, "vec_id", "embedding", 10), k = 10)
      .select("probe_id", "neighbor_id", "sim", "rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    val full = SimilarityOps.knnBrute(emb, probes, "vec_id", "embedding", 10)
      .select("probe_id", "neighbor_id", "sim", "rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(merged == full)
  }

  test("knnMerge collapses a re-scored (probe, neighbor) pair to max(sim)") {
    val stored = Seq((1L, 7L, 0.90), (1L, 8L, 0.80)).toDF("probe_id", "neighbor_id", "sim")
    val delta = Seq((1L, 7L, 0.95), (1L, 9L, 0.70)).toDF("probe_id", "neighbor_id", "sim")
    val got = SimilarityOps.knnMerge(stored, delta, k = 3)
      .select("probe_id", "neighbor_id", "sim", "rank")
      .as[(Long, Long, Double, Long)].collect().sortBy(_._4).toSeq
    assert(got == Seq((1L, 7L, 0.95, 1L), (1L, 8L, 0.80, 2L), (1L, 9L, 0.70, 3L)))
  }

  test("semanticDecontaminate flags cosine-near train vectors, survives zero-norm and empty-eval edges") {
    val train = Seq(
      (1L, Seq(1.0, 0.0, 0.0)),   // identical to eval 100 → sim 1.0
      (2L, Seq(0.0, 1.0, 0.0)),   // orthogonal to every eval
      (3L, Seq(2.0, 0.02, 0.0)),  // near-parallel to eval 100
      (4L, Seq(0.0, 0.0, 0.0))    // zero-norm: no defined similarity
    ).toDF("vec_id", "embedding")
    val eval = Seq(
      (100L, Seq(1.0, 0.0, 0.0)),
      (200L, Seq(0.0, 0.0, 1.0)),
      (300L, Seq(0.0, 0.0, 0.0))  // zero-norm eval: dropped, never scored
    ).toDF("vec_id", "embedding")
    val got = SimilarityOps.semanticDecontaminate(train, eval, "vec_id", "embedding", 0.95)
      .as[(Long, Option[Double], Option[Long], Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L)._1.contains(1.0) && got(1L)._2.contains(100L) && got(1L)._3)
    assert(got(2L)._1.contains(0.0) && !got(2L)._3)
    assert(got(3L)._1.exists(_ > 0.99) && got(3L)._2.contains(100L) && got(3L)._3)
    assert(got(4L) == ((None, None, false)), "zero-norm train keeps its row, unflagged")
    // an eval set with no usable vectors flags nothing and drops nothing
    val none = SimilarityOps.semanticDecontaminate(
      train, eval.filter(col("vec_id") === 300L), "vec_id", "embedding", 0.95)
      .as[(Long, Option[Double], Option[Long], Boolean)].collect()
    assert(none.length == 4 && none.forall(r => r._2.isEmpty && !r._4))
  }

  test("graft_dot: matches HOF fold bitwise; null/empty/ragged handling") {
    import graft.functions.VectorFunctions.graft_dot
    import org.apache.spark.sql.functions.{aggregate => agg_, _}
    val df = Seq(
      (1L, Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
      (2L, Seq(0.1, 0.2), Seq(0.3, 0.7)),
      (3L, Seq.empty[Double], Seq.empty[Double])
    ).toDF("id", "a", "b")
    val both = df.select(
      col("id"),
      graft_dot(col("a"), col("b")).as("native"),
      agg_(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0.0), (acc, v) => acc + v).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
    assert(both.filter(col("id") === 3L).select("native").as[Double].head() == 0.0)
    // null array propagates null; ragged arrays use the common prefix
    val edge = Seq((Some(Seq(1.0, 2.0)), None: Option[Seq[Double]]))
      .toDF("a", "b").select(graft_dot(col("a"), col("b")).as("d"))
    assert(edge.filter(col("d").isNull).count() == 1)
    val ragged = Seq((Seq(1.0, 2.0, 9.0), Seq(3.0, 4.0)))
      .toDF("a", "b").select(graft_dot(col("a"), col("b")).as("d"))
    assert(ragged.as[Double].head() == 11.0)
  }

  test("zero-norm vectors are dropped from the candidate set, not returned as NULL padding") {
    val crafted = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 0.0f)), (3L, Seq(0.5f, 0.5f)))
      .toDF("vec_id", "embedding")
    val got = SimilarityOps.knnBrute(crafted, crafted.filter(col("vec_id") === 1), "vec_id", "embedding", 2)
      .select("neighbor_id", "sim").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(!got.contains(2L))     // undefined direction: excluded, no crash
    assert(got(3L) > 0.6)         // real neighbor still scored
    assert(got.size == 1)         // only non-degenerate candidates remain
  }

  test("knnBruteAgg survives zero-norm corpus vectors (NULL scores dropped pre-agg)") {
    val crafted = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 0.0f)), (3L, Seq(0.5f, 0.5f)), (4L, Seq(0.9f, 0.1f)))
      .toDF("vec_id", "embedding")
    val probes = crafted.filter(col("vec_id") === 1)
    val agg = SimilarityOps.knnBruteAgg(crafted, probes, "vec_id", "embedding", 3)
      .select("neighbor_id", "sim", "rank").as[(Long, Double, Long)].collect()
    // the zero vector contributes no row; real neighbors keep their ranking
    assert(agg.map(_._1).toSet == Set(3L, 4L))
    val win = SimilarityOps.knnBrute(crafted, probes, "vec_id", "embedding", 3)
      .filter(col("sim").isNotNull)
      .select("neighbor_id", "sim", "rank").as[(Long, Double, Long)].collect()
    assert(agg.toSet == win.toSet)
  }

  test("cosineNearDupPairs: canonical ordered pairs, threshold respected, zero-norm excluded") {
    val crafted = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)), // near-dup of 1
      (3L, Seq(0.0f, 1.0f)),                        // orthogonal to 1/2
      (4L, Seq(0.0f, 0.0f)),                        // zero norm: pairs with nothing
      (5L, Seq(2.0f, 0.0f)))                        // same direction as 1, scaled
      .toDF("vec_id", "embedding")
    val got = SimilarityOps.cosineNearDupPairs(crafted, "vec_id", "embedding", 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L), (1L, 5L), (2L, 5L)))
    assert(got.forall { case (a, b) => a < b })
    // lower threshold pulls in the orthogonal pair set too
    val loose = SimilarityOps.cosineNearDupPairs(crafted, "vec_id", "embedding", -1.0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(loose.size == 6) // C(4,2) over the non-zero vectors
    assert(!loose.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("cosineNearDupPairsBlocked: recall >= 0.9 vs exact on clustered vectors, exact sims, canonical pairs") {
    // same clustered regime as the SRP-LSH spec and README's blocked
    // near-dup scale figures (one shared generator): near-dup pairs are
    // cluster-mates, the case coarse-quantizer blocking is built for
    val vecs = graft.tools.SyntheticVectors
      .clustered(nClusters = 10, perCluster = 20, dim = 16, seed = 11, stride = 20L)
      .toDF("vec_id", "embedding")
    val exact = SimilarityOps.cosineNearDupPairs(vecs, "vec_id", "embedding", 0.9)
      .select("id_a", "id_b", "sim").as[(Long, Long, Double)].collect()
    val blocked = SimilarityOps.cosineNearDupPairsBlocked(
      vecs, "vec_id", "embedding", 0.9, nLists = 16, nProbe = 2)
      .select("id_a", "id_b", "sim").as[(Long, Long, Double)].collect()
    val exactSet = exact.map(r => (r._1, r._2)).toSet
    val blockedSet = blocked.map(r => (r._1, r._2)).toSet
    assert(exactSet.nonEmpty)
    val recall = (exactSet & blockedSet).size.toDouble / exactSet.size
    info(s"blocked near-dup recall=$recall (${blockedSet.size}/${exactSet.size} pairs)")
    assert(recall >= 0.9, s"recall=$recall")
    // blocking affects recall only: no false positives vs the exact form,
    // and every returned pair carries the identical exact similarity
    assert((blockedSet -- exactSet).isEmpty)
    val exactSims = exact.map(r => (r._1, r._2) -> r._3).toMap
    assert(blocked.forall(r => exactSims((r._1, r._2)) == r._3))
    assert(blocked.forall(r => r._1 < r._2))
  }

  test("salted blocked near-dup: sub-quadratic candidates on a 50%-one-cluster corpus, recall pinned") {
    import graft.tools.SyntheticVectors
    def corpus(scale: Int) = SyntheticVectors
      .skewedOneCluster(
        nTwinPairs = 250 * scale, nColdClusters = 5 * scale, perCold = 100,
        dim = 16, seed = 7L)
      .toDF("vec_id", "embedding")
    val big = corpus(2).cache() // 1000 hot + 1000 cold vectors
    val exact = SimilarityOps.cosineNearDupPairs(big, "vec_id", "embedding", 0.99)
      .select("id_a", "id_b", "sim").as[(Long, Long, Double)].collect()
    val exactSet = exact.map(r => (r._1, r._2)).toSet
    assert(exactSet.size >= 500, "twin pairs + cold cluster pairs must be planted")
    val salted = SimilarityOps.cosineNearDupPairsBlockedSalted(
      big, "vec_id", "embedding", 0.99,
      nLists = 8, nProbe = 2, maxListSize = 100, maxDepth = 4)
      .select("id_a", "id_b", "sim").as[(Long, Long, Double)].collect()
    val saltedSet = salted.map(r => (r._1, r._2)).toSet
    val recall = (exactSet & saltedSet).size.toDouble / exactSet.size
    info(s"salted near-dup recall=$recall (${saltedSet.size}/${exactSet.size} pairs)")
    assert(recall >= 0.95, s"recall=$recall")
    // salting affects recall only: subset of exact, identical scores
    assert((saltedSet -- exactSet).isEmpty)
    val exactSims = exact.map(r => (r._1, r._2) -> r._3).toMap
    assert(salted.forall(r => exactSims((r._1, r._2)) == r._3))
    // candidate growth: flat blocking's hot list goes quadratic; the salted
    // blocking must stay well under it and grow sub-quadratically with n
    def prep(df: org.apache.spark.sql.DataFrame) = {
      val p = df.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("nrm", sqrt(aggregate(
          transform(col("v"), x => x * x), lit(0.0), (a, x) => a + x)))
        .filter(col("nrm") > 0)
        .withColumn("vn", transform(col("v"), x => x / col("nrm")))
      p
    }
    val small = corpus(1).cache() // 500 hot + 500 cold
    def saltedCand(df: org.apache.spark.sql.DataFrame) =
      SimilarityOps.blockedCandidatesSalted(
        prep(df), "vec_id", nLists = 8, nProbe = 2, maxListSize = 100,
        seed = 42L, maxIter = 5, maxDepth = 4).count()
    val flatBig = SimilarityOps.blockedCandidates(
      big, "vec_id", "embedding", nLists = 8, nProbe = 2).count()
    val (candSmall, candBig) = (saltedCand(small), saltedCand(big))
    val growth = candBig.toDouble / candSmall
    info(s"candidates: flat(big)=$flatBig salted(small)=$candSmall salted(big)=$candBig growth=$growth")
    assert(candBig < flatBig / 2, s"salted ($candBig) must undercut flat ($flatBig) substantially")
    assert(growth < 3.0, s"2x corpus must grow candidates sub-quadratically, got ${growth}x")
  }

  test("semantic dedup via blocked pairs equals the exact-pair pipeline on clustered vectors") {
    // the full SemDeDup path at scale: blocked candidate pairs → connected
    // components → keepers must resolve the SAME clusters as the exact
    // O(n²) pair pipeline when blocking recall is total (clustered regime)
    import graft.ops.DedupOps
    val vecs = graft.tools.SyntheticVectors
      .clustered(nClusters = 8, perCluster = 15, dim = 16, seed = 23, stride = 100L)
      .toDF("vec_id", "embedding")
    def clusters(pairs: org.apache.spark.sql.DataFrame) =
      DedupOps.connectedComponentsFast(pairs, "id_a", "id_b")
        .as[(Long, Long)].collect().toMap
    val exact = clusters(SimilarityOps.cosineNearDupPairs(vecs, "vec_id", "embedding", 0.9))
    val blocked = clusters(SimilarityOps.cosineNearDupPairsBlocked(
      vecs, "vec_id", "embedding", 0.9, nLists = 8, nProbe = 2))
    assert(exact.nonEmpty)
    assert(blocked == exact)
    // every cluster resolves to its center's min id (8 clusters of 15)
    assert(exact.values.toSet == (0 until 8).map(_ * 100L).toSet)
  }

  test("cosineNearDupPairsBlockedFp: recall >= 0.9 vs exact on clustered vectors, exact sims, deterministic") {
    // the fixed-point (oracle-able) blocking must keep the MLlib form's
    // recall guarantees: subset of exact pairs, identical scores, and —
    // the property the float form cannot offer — bit-identical reruns
    val vecs = graft.tools.SyntheticVectors
      .clustered(nClusters = 10, perCluster = 20, dim = 16, seed = 11, stride = 20L)
      .toDF("vec_id", "embedding")
    val exact = SimilarityOps.cosineNearDupPairs(vecs, "vec_id", "embedding", 0.9)
      .select("id_a", "id_b", "sim").as[(Long, Long, Double)].collect()
    def run() = SimilarityOps.cosineNearDupPairsBlockedFp(
      vecs, "vec_id", "embedding", 0.9, nLists = 16, nProbe = 2, iters = 2)
      .select("id_a", "id_b", "sim").as[(Long, Long, Double)].collect()
    val blocked = run()
    val exactSet = exact.map(r => (r._1, r._2)).toSet
    val blockedSet = blocked.map(r => (r._1, r._2)).toSet
    assert(exactSet.nonEmpty)
    val recall = (exactSet & blockedSet).size.toDouble / exactSet.size
    info(s"fp-blocked near-dup recall=$recall (${blockedSet.size}/${exactSet.size} pairs)")
    assert(recall >= 0.9, s"recall=$recall")
    assert((blockedSet -- exactSet).isEmpty)
    val exactSims = exact.map(r => (r._1, r._2) -> r._3).toMap
    assert(blocked.forall(r => exactSims((r._1, r._2)) == r._3))
    assert(blocked.forall(r => r._1 < r._2))
    assert(run().toSet == blocked.toSet) // integer quantizer: reruns identical
  }

  test("hierarchical routing dominates flat at scale granularity: less candidate volume, more recall") {
    // the two-level tree kicks in above HierRoutingThreshold — the scale
    // path the sf1 smoke exercises (nLists ∝ n). The honest comparison
    // is at EQUAL CANDIDATE BUDGET, not equal nProbe: the flat fit at
    // fine granularity degenerates (lowest-id seeding + 2 iters leave a
    // hot list — measured 1200 of 2000 vectors in one list here), so its
    // recall is bought with ~2.3× the candidate volume. The pin: hier at
    // nProbe=3 must beat flat at nProbe=2 on BOTH axes simultaneously.
    val vecs = graft.tools.SyntheticVectors
      .clustered(nClusters = 10, perCluster = 200, dim = 16, seed = 11, stride = 200L)
      .toDF("vec_id", "embedding")
    val exact = SimilarityOps.cosineNearDupPairs(vecs, "vec_id", "embedding", 0.9)
      .select("id_a", "id_b", "sim").as[(Long, Long, Double)].collect()
    val exactSet = exact.map(r => (r._1, r._2)).toSet
    assert(exactSet.nonEmpty)
    def structure(hierThreshold: Int, nProbe: Int): (Long, Double) = {
      val m = SimilarityOps.routeForTest(
        vecs, "vec_id", "embedding", nLists = 48, nProbe = nProbe, iters = 2,
        hierThreshold = hierThreshold)
        .as[(Long, Long)].collect()
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      val volume = m.toSeq.flatMap(_._2.toSeq).groupBy(identity)
        .map { case (_, v) => v.size.toLong * v.size }.sum / 2
      val recall = exactSet.count { case (a, b) =>
        (m(a) & m(b)).nonEmpty }.toDouble / exactSet.size
      (volume, recall)
    }
    // equal-budget points under the population-proportional fine caps:
    // hier np=4 posts ~1.01M candidate volume vs flat np=2's ~1.20M and
    // 0.968 recall vs 0.912 — dominant on both axes by a wide margin
    // (hier np=3 is the lean point: ~0.68M volume at flat-level recall)
    val (flatVol, flatRec) = structure(Int.MaxValue, 2)
    val (hierVol, hierRec) = structure(0, 4)
    info(s"flat np=2: volume=$flatVol recall=$flatRec; hier np=4: volume=$hierVol recall=$hierRec")
    assert(hierVol <= flatVol, s"hier volume $hierVol above flat's $flatVol")
    assert(hierRec >= flatRec, s"hier recall $hierRec below flat's $flatRec")
    // contract invariants on the shipped hier path: subset-of-exact with
    // exact scores, bit-identical reruns (integer Lloyd at both levels +
    // hash-deterministic fit samples)
    def run() = SimilarityOps.cosineNearDupPairsBlockedFp(
      vecs, "vec_id", "embedding", 0.9, nLists = 48, nProbe = 4, iters = 2)
      .select("id_a", "id_b", "sim").as[(Long, Long, Double)].collect()
    val blocked = run()
    val blockedSet = blocked.map(r => (r._1, r._2)).toSet
    assert((blockedSet -- exactSet).isEmpty)
    val exactSims = exact.map(r => (r._1, r._2) -> r._3).toMap
    assert(blocked.forall(r => exactSims((r._1, r._2)) == r._3))
    assert(blocked.forall(r => r._1 < r._2))
    assert(run().toSet == blocked.toSet)
  }

  test("knnHnsw on the hier routing path: staged fold equals one-shot; recall vs brute pinned") {
    // nLists=48 > threshold forces the two-level tree through the HNSW
    // build. The staged≡one-shot equality is the load-bearing check:
    // hier routing must stay a pure per-vector function of the frozen
    // tree or the pair-block decomposition silently breaks
    val probes = emb.filter(col("vec_id") < 20)
    def oneShot = SimilarityOps.knnHnsw(
      emb, probes, "vec_id", "embedding", k = 10, nLists = 48, nProbe = 4)
      .select("probe_id", "neighbor_id", "sim", "rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    val full = oneShot
    val staged = SimilarityOps.knnHnswStaged(
      emb, col("vec_id") % 2 === 1, probes, "vec_id", "embedding",
      k = 10, nLists = 48, nProbe = 4)
      .select("probe_id", "neighbor_id", "sim", "rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(staged == full, "staged fold diverged under hier routing")
    val brute = SimilarityOps.knnBrute(emb, probes, "vec_id", "embedding", 10)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute & full.map(r => (r._1, r._2))).size.toDouble / brute.size
    info(s"hier hnsw recall@10 = $recall")
    // 48 lists over 500 UNIFORM vectors is ~10/list — far finer than the
    // operating posture (~125/list); the bar tracks the measured value
    // with margin, and scale recall is the domination differential above
    assert(recall >= 0.85, s"recall=$recall")
  }

  test("whale-list subdivision (level 3): capped volume + max list, twin recall pinned, deterministic") {
    // the fine-list capacity cap: intra-cell Lloyd imbalance leaves whale
    // fine lists on skewed corpora even under population-proportional
    // capacity (expectation is equalized; realized lists are not). The
    // diffuse hot cluster here puts ~2/3 of the corpus into a handful of
    // fine lists; the level-3 sub-codebooks must cap the realized list
    // size so Σ m² returns to the linear balanced bound, while twin pairs
    // (the planted near-dups) stay co-routed through the sub-refinement.
    import graft.tools.SyntheticVectors
    val nPairs = 4000
    val vecs = SyntheticVectors
      .twinUniform(nPairs = nPairs, dim = 64, seed = 7L)
      .toDF("vec_id", "embedding").cache()
    // twins are planted by construction (ids 2i/2i+1 at sim ≈ 1 over a
    // ≈0-sim uniform background) — co-routing recall needs no O(n²) scan
    val twinSet = (0 until nPairs).map(i => (2L * i, 2L * i + 1)).toSet
    def structure(fineCap: Long): (Long, Long, Double) = {
      val m = SimilarityOps.routeForTest(
        vecs, "vec_id", "embedding", nLists = 64, nProbe = 3, iters = 2,
        hierThreshold = 0, fineCap = fineCap)
        .as[(Long, Long)].collect()
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      val sizes = m.toSeq.flatMap(_._2.toSeq).groupBy(identity).map(_._2.size.toLong)
      val volume = sizes.map(s => s * s).sum / 2
      val recall = twinSet.count { case (a, b) =>
        (m(a) & m(b)).nonEmpty }.toDouble / twinSet.size
      (volume, sizes.max, recall)
    }
    def ownership(fineCap: Long): Seq[Int] = SimilarityOps.routeForTest(
      vecs, "vec_id", "embedding", nLists = 64, nProbe = 1, iters = 2,
      hierThreshold = 0, fineCap = fineCap)
      .as[(Long, Long)].collect().groupBy(_._2).map(_._2.size).toSeq.sorted.reverse
    val cap = 150L
    val (ownedU, ownedC) = (ownership(Long.MaxValue), ownership(cap))
    info(s"ownership: uncapped top=${ownedU.take(8)} capped top=${ownedC.take(8)}")
    // the contract: realized ownership is CAPPED — whale lists subdivide
    // to ~cap/4 expected sub-size, so even skewed subs stay under cap
    assert(ownedU.head > cap, "fixture must produce an over-cap whale list")
    assert(ownedC.head <= cap,
      s"capped max ownership ${ownedC.head} above the $cap cap")
    val (uncappedVol, uncappedMax, uncappedRec) = structure(Long.MaxValue)
    val (cappedVol, cappedMax, cappedRec) = structure(cap)
    info(s"uncapped: vol=$uncappedVol max=$uncappedMax rec=$uncappedRec; " +
      s"capped($cap): vol=$cappedVol max=$cappedMax rec=$cappedRec")
    assert(cappedVol < uncappedVol,
      s"capped volume $cappedVol must undercut uncapped $uncappedVol")
    assert(cappedMax < uncappedMax,
      s"capped max membership $cappedMax must undercut uncapped $uncappedMax")
    assert(cappedRec >= 0.95, s"twin-pair co-routing recall=$cappedRec")
    // bit-identical reruns: both fits are deterministic functions of the
    // id set (exact ownership counts, lowest-id seeds, hash samples)
    val rerun = structure(cap)
    assert(rerun == ((cappedVol, cappedMax, cappedRec)))
  }

  test("whale cap through public hier paths: blocked twins recovered; knnHnsw staged ≡ one-shot") {
    // the invariants that must survive subdivision on the whale regime:
    // blocked pairs keep exact verified sims and full twin recall, reruns
    // are bit-identical, and the staged HNSW fold still equals the
    // one-shot build (routing stays a pure per-vector function of the
    // frozen THREE-level tree, so pair blocks decompose exactly)
    import graft.tools.SyntheticVectors
    val nPairs = 4000
    val vecs = SyntheticVectors
      .twinUniform(nPairs = nPairs, dim = 64, seed = 7L)
      .toDF("vec_id", "embedding").cache()
    val twinSet = (0 until nPairs).map(i => (2L * i, 2L * i + 1)).toSet
    def run() = SimilarityOps.cosineNearDupPairsBlockedFpForTest(
      vecs, "vec_id", "embedding", 0.99, nLists = 64, nProbe = 3, iters = 2,
      hierThreshold = 0, fineCap = 150L)
      .select("id_a", "id_b", "sim").as[(Long, Long, Double)].collect()
    val blocked = run()
    val blockedSet = blocked.map(r => (r._1, r._2)).toSet
    // verification is exact cosine, so precision is structural; at 0.99
    // over a uniform dim-64 background only twins can pass
    assert((blockedSet -- twinSet).isEmpty)
    assert(blocked.forall(_._3 >= 0.99))
    val recall = (twinSet & blockedSet).size.toDouble / twinSet.size
    info(s"whale-capped blocked twin recall=$recall (${blockedSet.size}/${twinSet.size})")
    assert(recall >= 0.95, s"recall=$recall")
    assert(run().toSet == blocked.toSet)
    val probes = vecs.filter(col("vec_id") < 20)
    val full = SimilarityOps.knnHnsw(
      vecs, probes, "vec_id", "embedding", k = 10, nLists = 64, nProbe = 3,
      ef = 32, rounds0 = 6, fineCap = 150L)
      .select("probe_id", "neighbor_id", "sim", "rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    val staged = SimilarityOps.knnHnswStaged(
      vecs, col("vec_id") % 2 === 1, probes, "vec_id", "embedding",
      k = 10, nLists = 64, nProbe = 3, ef = 32, rounds0 = 6, fineCap = 150L)
      .select("probe_id", "neighbor_id", "sim", "rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(staged == full, "staged fold diverged under whale subdivision")
    // every probe's twin is its sim≈1 nearest neighbor — the recall floor
    // that matters on this corpus (background neighbors sit near cos 0.4)
    def twinHits(rs: Set[(Long, Long, Double, Long)]): Int = {
      val gotPairs = rs.map(r => (r._1, r._2))
      probes.as[(Long, Seq[Double])].collect().map(_._1).count { p =>
        gotPairs.contains((p, if (p % 2 == 0) p + 1 else p - 1))
      }
    }
    val uncapped = SimilarityOps.knnHnsw(
      vecs, probes, "vec_id", "embedding", k = 10, nLists = 64, nProbe = 3,
      ef = 32, rounds0 = 6, fineCap = Long.MaxValue)
      .select("probe_id", "neighbor_id", "sim", "rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    info(s"hnsw twin hits: capped=${twinHits(full)}/20 uncapped=${twinHits(uncapped)}/20")
    assert(twinHits(full) >= twinHits(uncapped) - 2,
      s"subdivision degraded search: capped=${twinHits(full)} uncapped=${twinHits(uncapped)}")
  }

  test("bitextMine: planted twins mined exactly; sources with no counterpart rejected by the margin") {
    // ground truth by construction: twinUniform's even/odd twins are the
    // "translation" pairs (sim ≈ 1 over a ≈0.4-top-sim background). A
    // fifth of the targets are REMOVED — their sources' best remaining
    // candidate is a background neighbor whose ratio margin falls under
    // the threshold (its own neighborhood is equally close), which is
    // precisely the discrimination a raw cosine threshold cannot make at
    // mining scale and the reason the margin rule exists.
    import graft.tools.SyntheticVectors
    val nPairs = 300
    val all = SyntheticVectors.twinUniform(nPairs = nPairs, dim = 64, seed = 3L)
      .toDF("vec_id", "embedding").cache()
    val xs = all.filter(pmod(col("vec_id"), lit(2)) === 0)
    val ys = all.filter(
      pmod(col("vec_id"), lit(2)) === 1 && pmod((col("vec_id") - 1) / 2, lit(5)) =!= 0)
    def run() = SimilarityOps.bitextMine(xs, ys, "vec_id", "embedding",
      k = 4, marginFpMin = 1200000L)
      .select("src_id", "dst_id", "sim", "margin_fp", "mutual")
      .as[(Long, Long, Double, Long, Boolean)].collect()
    val mined = run()
    val pairedSrc = (0 until nPairs).filter(_ % 5 != 0).map(i => 2L * i).toSet
    val minedTwins = mined.filter { case (s, d, _, _, _) => d == s + 1 }
    info(s"mined=${mined.length} twins=${minedTwins.length} " +
      s"paired=${pairedSrc.size} mutual=${mined.count(_._5)}")
    // precision: everything mined is a true twin pair, mutual, high-sim
    assert(minedTwins.length == mined.length,
      s"non-twin pairs mined: ${mined.filterNot { case (s, d, _, _, _) => d == s + 1 }.take(5).toSeq}")
    assert(mined.forall(_._5), "twin pairs must be mutual top-k")
    assert(mined.forall(_._3 > 0.99))
    // recall: every source whose twin survives is mined; none of the
    // twinless sources sneak past the margin
    val minedSrc = mined.map(_._1).toSet
    assert((pairedSrc -- minedSrc).isEmpty,
      s"missed twins: ${(pairedSrc -- minedSrc).take(5)}")
    assert((minedSrc -- pairedSrc).isEmpty,
      s"twinless sources mined: ${(minedSrc -- pairedSrc).take(5)}")
    assert(run().toSet == mined.toSet) // deterministic
    // the decomposed form with a PARTIAL backward leg (an ANN leg that
    // returned 2 of 4 candidates): count-scaled averages keep the margin
    // well-defined and the planted twins still clear it
    val fwdLeg = SimilarityOps.knnBrute(ys, xs, "vec_id", "embedding", 4)
    val bwdLeg = SimilarityOps.knnBrute(xs, ys, "vec_id", "embedding", 4)
    val partial = SimilarityOps.bitextMineFrom(
      fwdLeg, bwdLeg.filter(col("rank") <= 2), marginFpMin = 1200000L)
      .select("src_id", "dst_id").as[(Long, Long)].collect()
    assert(partial.count { case (s, d) => d == s + 1 } >= (pairedSrc.size * 95) / 100,
      s"partial-leg mining lost twins: ${partial.length}")
  }

  test("TopKDistinctAggregator collapses duplicate ids; plain heap would double-count them") {
    import graft.functions.{TopKAggregator, TopKDistinctAggregator}
    import TopKAggregator.Entry
    val agg = new TopKDistinctAggregator(3)
    // duplicates of id=7 (equal score, the contract) must occupy ONE slot
    val fed = Seq(Entry(5.0, 7L), Entry(5.0, 7L), Entry(4.0, 2L), Entry(3.0, 9L), Entry(5.0, 7L))
    val reduced = fed.foldLeft(agg.zero)(agg.reduce)
    assert(reduced == Seq(Entry(5.0, 7L), Entry(4.0, 2L), Entry(3.0, 9L)))
    // merge-side dedup too: the same id arriving via two partitions
    val merged = agg.merge(
      Seq(Entry(5.0, 7L), Entry(4.0, 2L)), Seq(Entry(5.0, 7L), Entry(2.0, 1L)))
    assert(merged == Seq(Entry(5.0, 7L), Entry(4.0, 2L), Entry(2.0, 1L)))
    // tie-break order matches the window-rank form: score desc, id asc
    val tied = agg.merge(Seq(Entry(5.0, 9L)), Seq(Entry(5.0, 3L), Entry(5.0, 9L)))
    assert(tied == Seq(Entry(5.0, 3L), Entry(5.0, 9L)))
  }

  test("knnIvfKmeansFp: recall comparable to the MLlib fit, exact scores, self excluded") {
    val probes = emb.filter(col("vec_id") < 20)
    val brute = SimilarityOps.knnBrute(emb, probes, "vec_id", "embedding", 10)
      .select("probe_id", "neighbor_id", "sim").as[(Long, Long, Double)].collect()
    val bruteSet = brute.map(r => (r._1, r._2)).toSet
    val fp = SimilarityOps.knnIvfKmeansFp(
      emb, probes, "vec_id", "embedding", k = 10, nLists = 8, nProbe = 4, iters = 2)
      .select("probe_id", "neighbor_id", "sim").as[(Long, Long, Double)].collect()
    val fpSet = fp.map(r => (r._1, r._2)).toSet
    val recall = (bruteSet & fpSet).size.toDouble / bruteSet.size
    info(s"fp IVF recall=$recall (probing 4 of 8 lists)")
    // 4-of-8 lists on uniform vectors: recall must beat the scan fraction
    assert(recall > 0.5, s"recall=$recall")
    assert(fp.forall(r => r._1 != r._2))
    // returned scores are the exact cosine — equal to brute wherever the
    // same (probe, neighbor) survives both
    val bruteSims = brute.map(r => (r._1, r._2) -> r._3).toMap
    assert(fp.forall(r => !bruteSims.contains((r._1, r._2)) || bruteSims((r._1, r._2)) == r._3))
  }

  test("knnHnsw: layered-graph search recall vs brute force; exact scores; deterministic reruns") {
    val probes = emb.filter(col("vec_id") < 20)
    val brute = SimilarityOps.knnBrute(emb, probes, "vec_id", "embedding", 10)
      .select("probe_id", "neighbor_id", "sim").as[(Long, Long, Double)].collect()
    val bruteSet = brute.map(r => (r._1, r._2)).toSet
    def run() = SimilarityOps.knnHnsw(
      emb, probes, "vec_id", "embedding",
      k = 10, maxLevel = 3, mNeighbors = 10, nLists = 16, nProbe = 3, iters = 2,
      ef = 16, roundsUpper = 1, rounds0 = 4)
      .select("probe_id", "neighbor_id", "sim").as[(Long, Long, Double)].collect()
    val hnsw = run()
    val hnswSet = hnsw.map(r => (r._1, r._2)).toSet
    val recall = (bruteSet & hnswSet).size.toDouble / bruteSet.size
    info(s"hnsw recall@10 = $recall (${hnswSet.size}/${bruteSet.size})")
    // the registered bar: ≥ the IVF family's 0.94 on the same corpus
    // (deterministic build+search — the measured value is 0.96)
    assert(recall >= 0.94, s"recall=$recall")
    // no self-neighbors; exact cosine wherever brute kept the same pair
    assert(hnsw.forall(r => r._1 != r._2))
    val bruteSims = brute.map(r => (r._1, r._2) -> r._3).toMap
    assert(hnsw.forall(r => !bruteSims.contains((r._1, r._2)) || bruteSims((r._1, r._2)) == r._3))
    // integer-deterministic end to end: reruns identical
    assert(run().toSet == hnsw.toSet)
  }

  test("knnHnswStaged: store+batch fold under the frozen quantizer equals the one-shot build exactly") {
    val probes = emb.filter(col("vec_id") < 20)
    def full = SimilarityOps.knnHnsw(
      emb, probes, "vec_id", "embedding", k = 10)
      .select("probe_id", "neighbor_id", "sim", "rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    // two different splits (half/half and 1-in-5) — the monoid fold must
    // be split-invariant, not lucky on one partition shape
    Seq(col("vec_id") % 2 === 1, col("vec_id") % 5 === 0).foreach { pred =>
      val staged = SimilarityOps.knnHnswStaged(
        emb, pred, probes, "vec_id", "embedding", k = 10)
        .select("probe_id", "neighbor_id", "sim", "rank")
        .as[(Long, Long, Double, Long)].collect().toSet
      assert(staged == full, s"staged fold diverged for split $pred")
    }
  }

  test("IVF on the hier routing path (nLists > threshold): recall holds, deterministic") {
    // the IVF family's coarse legs share the adaptive routing: above the
    // threshold the corpus argmin is the inverted-multi-index's
    // approximate one (top-1 within probed coarse cells) — recall-pinned,
    // since scoring inside probed lists stays exact either way
    val vecs = graft.tools.SyntheticVectors
      .clustered(nClusters = 10, perCluster = 200, dim = 16, seed = 13, stride = 200L)
      .toDF("vec_id", "embedding")
    val probes = vecs.filter(col("vec_id") % 200 < 2)
    val brute = SimilarityOps.knnBrute(vecs, probes, "vec_id", "embedding", 10)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def run() = SimilarityOps.knnIvfKmeansFp(
      vecs, probes, "vec_id", "embedding", k = 10, nLists = 48, nProbe = 4, iters = 2)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val got = run()
    val recall = (brute & got).size.toDouble / brute.size
    info(s"hier IVF recall=$recall (nLists=48, nProbe=4)")
    // 4-of-48 probed lists is an ~8% scan fraction; on clustered vectors
    // the router must put cluster-mates in probed lists far above that
    assert(recall >= 0.7, s"recall=$recall")
    assert(run() == got) // integer tree: reruns identical
  }

  test("staged HNSW index: FromStaged == one-shot, StagedFromPairs == knnHnswStaged, exactly") {
    // the session-artifact split (q_ann_hnsw twins): stage fit + routing
    // + pair scoring once, derive both registered shapes from it — each
    // must be bit-identical to its unstaged form (same deterministic
    // fit on the same corpus; pair blocks decompose by endpoint filter)
    val probes = emb.filter(col("vec_id") < 20)
    val (rel, scored) = SimilarityOps.hnswStageIndex(emb, "vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("probe_id", "neighbor_id", "sim", "rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    val oneShot = rows(SimilarityOps.knnHnsw(emb, probes, "vec_id", "embedding", k = 10))
    assert(rows(SimilarityOps.knnHnswFromStaged(
      rel, scored, probes, "vec_id", "embedding", k = 10)) == oneShot)
    val unstaged = rows(SimilarityOps.knnHnswStaged(
      emb, col("vec_id") % 2 === 1, probes, "vec_id", "embedding", k = 10))
    assert(rows(SimilarityOps.knnHnswStagedFromPairs(
      rel, scored, c => c % 2 === 1, probes, "vec_id", "embedding", k = 10)) == unstaged)
    assert(unstaged == oneShot) // and the monoid equality still closes the triangle
  }

  test("knnIvfKmeans: k-means lists beat stride-sampled lists on recall") {
    val probes = emb.filter(col("vec_id") < 20)
    val brute = SimilarityOps.knnBrute(emb, probes, "vec_id", "embedding", 10)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val km = SimilarityOps.knnIvfKmeans(emb, probes, "vec_id", "embedding", 10, nLists = 16, nProbe = 4)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val kmRecall = (brute & km).size.toDouble / brute.size
    val stride = SimilarityOps.knnIvf(emb, probes, "vec_id", "embedding", 10, nLists = 16, nProbe = 4)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val strideRecall = (brute & stride).size.toDouble / brute.size
    info(s"kmeans recall=$kmRecall stride recall=$strideRecall")
    assert(kmRecall >= strideRecall - 0.05, s"kmeans=$kmRecall stride=$strideRecall")
    assert(kmRecall > 0.35)
  }

  test("knnIvf recall vs brute force is well above random scanning") {
    val probes = emb.filter(col("vec_id") < 20)
    val brute = SimilarityOps.knnBrute(emb, probes, "vec_id", "embedding", 10)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = SimilarityOps.knnIvf(emb, probes, "vec_id", "embedding", 10, nLists = 16, nProbe = 4)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    // nProbe/nLists = 25% of lists scanned; random would give ~0.25 recall
    assert(recall > 0.35, s"recall=$recall")
    assert(ivf.size <= brute.size)
  }

  test("ivfAssign reproduces the fit's own assignment; the appended store stays searchable") {
    import graft.tools.SyntheticVectors
    val vecs = SyntheticVectors
      .clustered(nClusters = 12, perCluster = 20, dim = 16, seed = 31, stride = 100L)
      .toDF("vec_id", "embedding")
    val (ctr, asg) = SimilarityOps.ivfFitKmeans(vecs, "vec_id", "embedding", nLists = 12)
    // same argmin objective, same first-minimum tie rule: re-assigning the
    // fitted corpus through ivfAssign must land every vector on its fitted
    // list — this is what makes the store append-only maintainable
    val fitted = asg.select("vec_id", "list_id").as[(Long, Int)].collect().toMap
    val re = SimilarityOps.ivfAssign(ctr, vecs, "vec_id", "embedding")
      .select("vec_id", "list_id").as[(Long, Int)].collect().toMap
    assert(re == fitted)
    // incremental cycle: fit on the first 8 clusters, assign the remaining
    // 4 as a later batch, search the UNION store with probes from the new
    // batch — the incrementally-appended vectors must be findable (their
    // top-1 is a same-cluster twin at sim ≈ 1)
    val store = vecs.filter(col("vec_id") < 800L)
    val batch = vecs.filter(col("vec_id") >= 800L)
    val (ctr2, asg2) = SimilarityOps.ivfFitKmeans(store, "vec_id", "embedding", nLists = 8)
    val union = asg2.unionByName(SimilarityOps.ivfAssign(ctr2, batch, "vec_id", "embedding"))
    val probes = batch.filter(col("vec_id") % 20 === 5)
    val got = SimilarityOps.knnIvfSearch(
      ctr2, union, probes, "vec_id", "embedding", k = 3, nProbe = 2)
      .filter(col("rank") === 1)
      .select("probe_id", "sim").as[(Long, Double)].collect()
    assert(got.length == probes.count())
    // every probe's nearest neighbor is a cluster-mate (tight 0.05-σ noise
    // around a 3-σ center → within-cluster cosine ≈ 1)
    assert(got.forall(_._2 > 0.97), got.mkString(", "))
  }

  test("knnIvfSearch over a list-partitioned store prunes the scan to the probed lists") {
    import graft.tools.SyntheticVectors
    val vecs = SyntheticVectors
      .clustered(nClusters = 16, perCluster = 15, dim = 16, seed = 37, stride = 100L)
      .toDF("vec_id", "embedding")
    val (ctr, asg) = SimilarityOps.ivfFitKmeans(vecs, "vec_id", "embedding", nLists = 16)
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivfstore").toString
    asg.write.mode("overwrite").partitionBy("list_id").parquet(s"$tmp/assigned")
    val asgP = spark.read.parquet(s"$tmp/assigned")
    val probes = vecs.filter(col("vec_id") === 5L)
    val df = SimilarityOps.knnIvfSearch(
      ctr, asgP, probes, "vec_id", "embedding", k = 5, nProbe = 2)
    // the static IN predicate must land as a PARTITION filter on the scan
    // — this is the 100 TB mechanism (probed-fraction read, not full scan)
    val plan = df.queryExecution.executedPlan.toString
    val pruned = """PartitionFilters: \[[^\]]*list_id""".r.findFirstIn(plan).isDefined
    assert(pruned,
      s"probed-list predicate did not reach the store scan as a partition filter:\n$plan")
    // and it actually returns the k rows
    assert(df.count() == 5)
  }

  test("knnLshSrp: high recall on clustered vectors, exact sims, deterministic") {
    // 10 well-separated clusters of 20 points each (center ± small noise,
    // the shared SyntheticVectors regime): a probe's true neighbors are its
    // cluster-mates, whose SRP signatures agree on nearly every hyperplane
    // — the regime banding is built for
    val dim = 16
    val vecs = graft.tools.SyntheticVectors
      .clustered(nClusters = 10, perCluster = 20, dim = dim, seed = 7, stride = 20L)
      .toDF("vec_id", "embedding")
    val probes = vecs.filter(col("vec_id") % 20 === 0)
    val brute = SimilarityOps.knnBrute(vecs, probes, "vec_id", "embedding", 10)
      .select("probe_id", "neighbor_id", "sim").as[(Long, Long, Double)].collect()
    val lsh = SimilarityOps.knnLshSrp(vecs, probes, "vec_id", "embedding", 10, dim)
      .select("probe_id", "neighbor_id", "sim").as[(Long, Long, Double)].collect()
    val bruteSet = brute.map(r => (r._1, r._2)).toSet
    val lshSet = lsh.map(r => (r._1, r._2)).toSet
    val recall = (bruteSet & lshSet).size.toDouble / bruteSet.size
    info(s"srp-lsh recall=$recall")
    assert(recall >= 0.9, s"recall=$recall")
    // candidates are ranked by EXACT cosine: any pair both methods return
    // carries the identical similarity
    val bruteSims = brute.map(r => (r._1, r._2) -> r._3).toMap
    assert(lsh.filter(r => bruteSims.contains((r._1, r._2)))
      .forall(r => r._3 == bruteSims((r._1, r._2))))
    // seed-deterministic: a second run returns the same rows
    val again = SimilarityOps.knnLshSrp(vecs, probes, "vec_id", "embedding", 10, dim)
      .select("probe_id", "neighbor_id", "sim").as[(Long, Long, Double)].collect().toSet
    assert(again == lsh.toSet)
  }

  test("graft_l2sq kernel == interpreted HOF fold on the corpus fixed-point vectors") {
    import graft.functions.VectorFunctions.graft_l2sq
    val v = Tables.embeddings(spark, TestSpark.sf0001)
      .select(col("vec_id"),
        transform(col("embedding"), x => round(x.cast("double") * lit(1000000.0)).cast("long"))
          .as("vfp"))
    val pairs = v.as("a").join(v.as("b"), col("a.vec_id") % 7 === col("b.vec_id") % 7)
      .select(col("a.vec_id").as("ia"), col("b.vec_id").as("ib"),
        col("a.vfp").as("va"), col("b.vfp").as("vb"))
    val diff = pairs.select(
      graft_l2sq(col("va"), col("vb")).as("native"),
      aggregate(
        zip_with(col("va"), col("vb"), (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, x) => acc + x).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(diff == 0L, "native kernel must be bit-equal to the HOF fold")
  }

  test("kmeansFixedPoint matches a plain-Scala integer Lloyd run; two planted blobs separate") {
    // two tight blobs around (0,0) and (10,10), plus one outlier
    val pts = Seq(
      (1L, Seq(0.0f, 0.1f)), (2L, Seq(0.1f, 0.0f)), (3L, Seq(-0.1f, 0.1f)),
      (4L, Seq(10.0f, 10.1f)), (5L, Seq(10.1f, 9.9f)), (6L, Seq(9.9f, 10.0f)),
      (7L, Seq(5.0f, 5.0f)))
    val df = pts.toDF("vec_id", "embedding")
    val got = SimilarityOps.kmeansFixedPoint(df, "vec_id", "embedding", k = 2, iters = 3)
      .select("vec_id", "cid", "dist_fp")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap

    // plain-Scala mirror: fp quantize, seed = 2 lowest ids, 3 Lloyd rounds
    def fp(v: Seq[Float]): Seq[Long] = v.map(x => math.round(x.toDouble * 1e6))
    val vf = pts.map { case (id, v) => id -> fp(v) }.toMap
    var cents = Seq(0L -> vf(1L), 1L -> vf(2L))
    def dist(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    def assignAll = vf.toSeq.map { case (id, v) =>
      val (cid, d) = cents.map { case (c, cv) => (c, dist(v, cv)) }
        .minBy { case (c, d) => (d, c) }
      (id, cid, d)
    }
    for (_ <- 1 to 3) {
      val byC = assignAll.groupBy(_._2)
      cents = cents.map { case (c, old) =>
        byC.get(c) match {
          case Some(rows) =>
            val vs = rows.map(r => vf(r._1))
            c -> vs.head.indices.map { i =>
              val s = vs.map(_(i)).sum
              s / vs.size  // truncated division (Scala / on Long truncates)
            }
          case None => c -> old
        }
      }
    }
    val exp = assignAll.map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == exp, s"got $got\nexp $exp")
    // the two blobs must land in different clusters
    assert(Set(got(1L)._1, got(2L)._1, got(3L)._1).size >= 1)
    assert(got(4L)._1 == got(5L)._1 && got(5L)._1 == got(6L)._1)
    assert(got(1L)._1 != got(4L)._1)
  }

  test("kCenterSelect matches a plain-Scala farthest-first run; radius sequence non-increasing") {
    val sub = emb.filter(col("vec_id") < 60)
    val got = SimilarityOps.kCenterSelect(sub, "vec_id", "embedding", k = 6)
      .select("vec_id", "pick_rank", "radius_sq")
      .as[(Long, Long, Option[Long])].collect().sortBy(_._2).toVector
    val vf = fpOf(sub)
    var picks = Vector(vf.keys.min)
    var mind = (vf.keySet - picks.head).map(id => id -> l2fp(vf(id), vf(picks.head))).toMap
    var exp = Vector((picks.head, 1L, None: Option[Long]))
    for (t <- 2 to 6) {
      // argmax of the running min-dist; ties break to the SMALLEST id
      val (nid, d) = mind.toSeq.maxBy { case (id, dd) => (dd, -id) }
      exp :+= ((nid, t.toLong, Some(d)))
      picks :+= nid
      mind = (mind - nid).map { case (id, dd) => id -> math.min(dd, l2fp(vf(id), vf(nid))) }
    }
    assert(got == exp, s"got $got\nexp $exp")
    val radii = got.flatMap(_._3)
    assert(radii.zip(radii.tail).forall { case (a, b) => a >= b }, s"radii not monotone: $radii")
  }

  test("knnShapley matches a plain-Scala telescoping replay on the corpus slice") {
    val sub = emb.filter(col("vec_id") < 100)
    val got = SimilarityOps.knnShapley(
      sub.filter(col("vec_id") % 10 =!= 0), sub.filter(col("vec_id") % 10 === 0),
      "vec_id", "embedding", "label", kNeigh = 3)
      .as[(Long, Long)].collect().toMap
    val vf = fpOf(sub)
    val labels = sub.select(col("vec_id"), col("label").cast("long"))
      .as[(Long, Long)].collect().toMap
    val trainIds = vf.keySet.filter(_ % 10 != 0)
    val exp = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for (pid <- vf.keySet.filter(_ % 10 == 0)) {
      val ranked = trainIds.toSeq.map(id => (id, l2fp(vf(id), vf(pid))))
        .sortBy { case (id, d) => (d, id) }
      val n = ranked.size
      val ind = ranked.map { case (id, _) => if (labels(id) == labels(pid)) 1L else 0L }
      val K = 3L
      val dfp = (0 until n).map { j =>
        if (j == n - 1) 0L
        else (ind(j) - ind(j + 1)) * ((math.min(K, j + 1L) * 1000000000L) / (K * (j + 1L)))
      }
      val sN = ind.last * (1000000000L / n)
      var sfx = 0L
      for (j <- (n - 1) to 0 by -1) {
        sfx += dfp(j)
        exp(ranked(j)._1) += sfx + sN
      }
    }
    assert(got == exp.toMap, s"got ${got.toSeq.sorted}\nexp ${exp.toSeq.sorted}")
    assert(got.values.toSet.size > 1, "values degenerate")
  }

  test("knnShapley: an overlapping probe/train id is leave-self-out, not a distance-0 self-vote") {
    val sub = emb.filter(col("vec_id") < 100)
    val probe = sub.filter(col("vec_id") === 0)
    // probe ∈ train: it would otherwise rank itself first at distance 0
    // with guaranteed label agreement, inflating its own value
    val overlapping = SimilarityOps.knnShapley(
      sub, probe, "vec_id", "embedding", "label", kNeigh = 3)
      .as[(Long, Long)].collect().toMap
    // leave-self-out must equal scoring against train-without-the-probe,
    // with the probe itself absent from the value table
    val excluded = SimilarityOps.knnShapley(
      sub.filter(col("vec_id") =!= 0), probe,
      "vec_id", "embedding", "label", kNeigh = 3)
      .as[(Long, Long)].collect().toMap
    assert(overlapping == excluded,
      "the overlapping id must reproduce the explicit-exclusion values exactly")
    assert(!overlapping.contains(0L), "the probe never values itself")
  }

  // ─────────────────────── product quantization ───────────────────────

  private def fpOf(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
    df.select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
      .map { case (id, v) => id -> v.map(x => math.round(x * 1e6)) }.toMap

  private def l2fp(a: Seq[Long], b: Seq[Long]): Long =
    a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum

  test("pqEncode: per-sub argmin against the trained codebooks, exact reconstruction error") {
    val codebooks = SimilarityOps.pqTrain(emb, "vec_id", "embedding", dim = 64, m = 4, kSub = 8, iters = 2)
    val cb = codebooks.select("sub", "cid", "cfp").as[(Long, Long, Seq[Long])].collect()
    assert(cb.length == 4 * 8, "m·kSub codewords")
    assert(cb.forall(_._3.length == 16), "subDim-wide codewords")
    val enc = SimilarityOps.pqEncode(emb, "vec_id", "embedding", dim = 64, m = 4, codebooks)
      .select("vec_id", "sub", "code", "dist_fp").as[(Long, Long, Long, Long)].collect()
    val fp = fpOf(emb)
    assert(enc.length == fp.size * 4, "m rows per vector")
    enc.foreach { case (id, sub, code, dist) =>
      val sv = fp(id).slice(sub.toInt * 16, sub.toInt * 16 + 16)
      val best = cb.filter(_._1 == sub)
        .map { case (_, cid, cfp) => (l2fp(sv, cfp), cid) }.min
      assert(best == ((dist, code)), s"argmin mismatch id=$id sub=$sub")
    }
  }

  test("pqPack: codes array indexed by sub, err_fp is the summed per-sub error") {
    val codebooks = SimilarityOps.pqTrain(emb, "vec_id", "embedding", dim = 64, m = 4, kSub = 8, iters = 2)
    val enc = SimilarityOps.pqEncode(emb, "vec_id", "embedding", dim = 64, m = 4, codebooks)
    val long = enc.select("vec_id", "sub", "code", "dist_fp")
      .as[(Long, Long, Long, Long)].collect()
    val packed = SimilarityOps.pqPack(enc, "vec_id")
      .select("vec_id", "codes", "err_fp").as[(Long, Seq[Long], Long)].collect()
    val byId = long.groupBy(_._1)
    assert(packed.length == byId.size)
    packed.foreach { case (id, codes, err) =>
      val rows = byId(id).sortBy(_._2)
      assert(codes == rows.map(_._3).toSeq, s"codes out of sub order for id=$id")
      assert(err == rows.map(_._4).sum, s"err_fp mismatch for id=$id")
    }
  }

  test("knnIvfPqSearch: packed-LUT ADC equals the long-form per-sub sum, rank order pinned") {
    val coarse = SimilarityOps.kmeansCentroids(emb, "vec_id", "embedding", k = 4, iters = 2)
    val assigned = SimilarityOps.kmeansAssign(emb, "vec_id", "embedding", coarse)
      .select(col("vec_id"), col("cid").as("list_id"))
    val codebooks = SimilarityOps.pqTrain(emb, "vec_id", "embedding", dim = 64, m = 4, kSub = 8, iters = 2)
    val coded = SimilarityOps
      .pqPack(SimilarityOps.pqEncode(emb, "vec_id", "embedding", dim = 64, m = 4, codebooks), "vec_id")
      .join(assigned, "vec_id").select(col("vec_id"), col("list_id"), col("codes"))
    val probes = emb.filter(col("vec_id") < 5)
    // nProbe = nLists and k = corpus: every (probe, other) pair must appear,
    // each scored by the packed-LUT fold — the flat sub·kSub+code indexing
    // is exactly what this differential pins
    val got = SimilarityOps.knnIvfPqSearch(
      coarse, codebooks, coded, probes, "vec_id", "embedding",
      dim = 64, m = 4, k = 10000, nProbe = 4)
      .select("probe_id", "neighbor_id", "adc_fp", "rank")
      .as[(Long, Long, Long, Long)].collect()
    val fp = fpOf(emb)
    val cb = codebooks.select("sub", "cid", "cfp").as[(Long, Long, Seq[Long])].collect()
      .map { case (sub, cid, cfp) => (sub, cid) -> cfp }.toMap
    val codes = coded.select("vec_id", "codes").as[(Long, Seq[Long])].collect().toMap
    val expect = (for {
      p <- fp.keys.filter(_ < 5); n <- fp.keys if n != p
    } yield (p, n) -> (0 until 4).map { sub =>
      val psv = fp(p).slice(sub * 16, sub * 16 + 16)
      l2fp(psv, cb((sub.toLong, codes(n)(sub))))
    }.sum).toMap
    assert(got.length == expect.size, "all pairs present at nProbe = nLists")
    got.foreach { case (p, n, adc, _) =>
      assert(adc == expect((p, n)), s"ADC mismatch probe=$p neighbor=$n")
    }
    // ranks are the (adc, id) order within each probe
    got.groupBy(_._1).values.foreach { rs =>
      val byRank = rs.sortBy(_._4).map(r => (r._3, r._2)).toSeq
      assert(byRank == byRank.sorted, "rank order is (adc asc, id asc)")
    }
  }

  test("knnIvfPq: recall >= 0.9 vs exact fixed-point brute on clustered vectors, exact rerank distances") {
    val vecs = graft.tools.SyntheticVectors
      .clustered(nClusters = 10, perCluster = 20, dim = 16, seed = 11, stride = 20L)
      .toDF("vec_id", "embedding")
    val probes = vecs.filter(col("vec_id") % 20 === 0)
    val got = SimilarityOps.knnIvfPq(
      vecs, probes, "vec_id", "embedding",
      dim = 16, m = 4, kSub = 16, k = 5, nLists = 16, nProbe = 2, iters = 2, rerank = 4)
      .select("probe_id", "neighbor_id", "dist_fp", "rank")
      .as[(Long, Long, Long, Long)].collect()
    val fp = fpOf(vecs)
    val exact = fp.keys.filter(_ % 20 == 0).flatMap { p =>
      fp.toSeq.filter(_._1 != p)
        .map { case (n, v) => (l2fp(fp(p), v), n) }.sorted.take(5)
        .map { case (d, n) => (p, n, d) }
    }.toSet
    val gotSet = got.map(r => (r._1, r._2)).toSet
    val recall = (exact.map(t => (t._1, t._2)) & gotSet).size.toDouble / exact.size
    info(s"ivfpq recall@5 = $recall on the clustered fixture")
    assert(recall >= 0.9, s"recall=$recall")
    // returned distances are the TRUE fixed-point L2 (rerank is exact)
    val trueDist = fp.keys.filter(_ % 20 == 0).flatMap { p =>
      fp.toSeq.filter(_._1 != p).map { case (n, v) => (p, n) -> l2fp(fp(p), v) }
    }.toMap
    got.foreach { case (p, n, d, _) => assert(d == trueDist((p, n))) }
  }

  test("knnIvfPq is exact under an UNDER-FULL codebook (corpus smaller than kSub)") {
    // 12 vectors, kSub=16 -> 12 codewords per sub; the ADC LUT must index
    // by the ACTUAL codeword count (a declared-kSub stride would read the
    // wrong sub's block). nProbe = nLists and rerank*k >= corpus, so the
    // result must equal the exact fixed-point brute top-k.
    val tiny = emb.filter(col("vec_id") < 12)
    val probes = tiny.filter(col("vec_id") < 3)
    val got = SimilarityOps.knnIvfPq(
      tiny, probes, "vec_id", "embedding",
      dim = 64, m = 4, kSub = 16, k = 3, nLists = 2, nProbe = 2, iters = 1, rerank = 8)
      .select("probe_id", "neighbor_id", "dist_fp", "rank")
      .as[(Long, Long, Long, Long)].collect().toSet
    val fp = fpOf(tiny)
    val expect = (0L until 3L).flatMap { p =>
      fp.toSeq.filter(_._1 != p)
        .map { case (n, v) => (l2fp(fp(p), v), n) }.sorted.take(3)
        .zipWithIndex.map { case ((d, n), i) => (p, n, d, i + 1L) }
    }.toSet
    assert(got == expect)
  }

  test("mmrSelect: near-dup demoted in favor of the diverse pick; duplicate-free greedy order") {
    val vecs = Seq(
      (0L, Seq(1.0, 0.0, 0.0, 0.0)),   // probe
      (1L, Seq(0.7, 0.7, 0.0, 0.0)),   // rel .7071, ties c3 -> picked 1st (lower id)
      (2L, Seq(0.7, 0.72, 0.0, 0.0)),  // near-dup of 1: rel .697 but sim-to-1 ~1
      (3L, Seq(0.7, 0.0, 0.7, 0.0)))   // rel .7071, sim-to-1 = .5 -> 2nd under MMR
      .toDF("vec_id", "embedding")
    val cand = SimilarityOps.knnBrute(
      vecs, vecs.filter(col("vec_id") === 0L), "vec_id", "embedding", 3)
    val got = SimilarityOps.mmrSelect(
      cand, vecs.select(col("vec_id").as("neighbor_id"), col("embedding")),
      "probe_id", "neighbor_id", "sim", "embedding", k = 3, lam = 0.7)
      .select("neighbor_id", "pick_rank").as[(Long, Long)].collect()
      .sortBy(_._2).map(_._1).toSeq
    // pure top-3 by relevance would order 1, 3, 2 only by the id tiebreak;
    // the decisive MMR effect: 2 (higher rel than nothing, but redundant
    // with 1) falls BEHIND the diverse 3
    assert(got == Seq(1L, 3L, 2L), s"picks $got")
  }

  test("mmrSelect equals a plain-Scala greedy reference on the clustered fixture") {
    val vecs = graft.tools.SyntheticVectors
      .clustered(nClusters = 5, perCluster = 10, dim = 8, seed = 17, stride = 10L)
      .toDF("vec_id", "embedding")
    val probes = vecs.filter(col("vec_id") % 10 === 0 && col("vec_id") < 30)
    val cand = SimilarityOps.knnBrute(vecs, probes, "vec_id", "embedding", 15)
    val got = SimilarityOps.mmrSelect(
      cand, vecs.select(col("vec_id").as("neighbor_id"), col("embedding")),
      "probe_id", "neighbor_id", "sim", "embedding", k = 5, lam = 0.7)
      .select("probe_id", "neighbor_id", "sim", "pick_rank")
      .as[(Long, Long, Double, Long)].collect().toSet

    val vv = vecs.select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val (na, nb) = (math.sqrt(a.map(x => x * x).sum), math.sqrt(b.map(x => x * x).sum))
      a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x * y } / (na * nb)
    }
    val candRef = cand.select("probe_id", "neighbor_id", "sim")
      .as[(Long, Long, Double)].collect().groupBy(_._1)
    val expect = candRef.flatMap { case (q, rows) =>
      val pool = rows.map(r => (r._2, r._3)).sortBy { case (d, r) => (-r, d) }
      var sel = List(pool.head)
      var rest = pool.tail.toList
      for (t <- 2 to 5 if rest.nonEmpty) {
        val pick = rest.map { case (d, r) =>
          val ms = sel.map { case (sd, _) => cos(vv(d), vv(sd)) }.max
          ((d, r), 0.7 * r - (1.0 - 0.7) * ms)
        }.minBy { case ((d, _), s) => (-s, d) }._1
        sel = sel :+ pick
        rest = rest.filterNot(_ == pick)
      }
      sel.zipWithIndex.map { case ((d, r), i) => (q, d, r, i + 1L) }
    }.toSet
    assert(got == expect)
  }

  test("labelNoise flags a planted mislabel and nothing else; vote math matches a plain replay") {
    // two tight clusters in 2D (padded to 4 dims), one point of cluster A
    // carrying cluster B's label — its 3 nearest neighbors all disagree
    val pts = Seq(
      (1L, Seq(1.0f, 0.1f, 0f, 0f), 0),
      (2L, Seq(1.0f, 0.2f, 0f, 0f), 0),
      (3L, Seq(1.0f, 0.15f, 0f, 0f), 0),
      (4L, Seq(1.0f, 0.12f, 0f, 0f), 1), // planted mislabel inside cluster A
      (5L, Seq(0.1f, 1.0f, 0f, 0f), 1),
      (6L, Seq(0.2f, 1.0f, 0f, 0f), 1),
      (7L, Seq(0.15f, 1.0f, 0f, 0f), 1))
    val df = pts.toDF("vec_id", "embedding", "label")
    val got = SimilarityOps.labelNoise(df, "vec_id", "embedding", "label", k = 3)
      .as[(Long, Int, Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(got.size == 7)
    assert(got(4L)._5, "the planted mislabel is flagged")
    assert(got.filterKeys(_ != 4L).values.forall(!_._5), "no false flags")
    assert(got(4L)._4 == 3L, "all 3 neighbors of the mislabel disagree")
    // plain replay of the vote from the knnBrute relation
    val nbrs = SimilarityOps.knnBrute(df, df, "vec_id", "embedding", 3)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect()
    val lab = pts.map(p => p._1 -> p._3).toMap
    val exp = nbrs.groupBy(_._1).map { case (p, ns) =>
      val dis = ns.count(n => lab(n._2) != lab(p))
      p -> ((lab(p), ns.length.toLong, dis.toLong, dis * 2 > ns.length))
    }
    assert(got.view.mapValues(r => (r._2, r._3, r._4, r._5)).toMap == exp)
  }

  test("pqTrain: codebook count degrades gracefully when kSub exceeds the corpus") {
    val tiny = emb.filter(col("vec_id") < 6)
    val cb = SimilarityOps.pqTrain(tiny, "vec_id", "embedding", dim = 64, m = 4, kSub = 8, iters = 1)
    val n = cb.groupBy(col("sub")).count().select("count").as[Long].collect()
    assert(n.forall(_ == 6), "one codeword per available vector, no phantom codes")
    val enc = SimilarityOps.pqEncode(tiny, "vec_id", "embedding", dim = 64, m = 4, cb)
      .select("code").as[Long].collect()
    assert(enc.forall(c => c >= 0 && c < 6))
  }
}
