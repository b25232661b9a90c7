package graft.tools

/** Deterministic clustered-Gaussian vector corpora — ONE definition shared
  * by the similarity specs (which pin recall on it), so every recall
  * guarantee exercises the same regime: well-separated centers (σ=3 per
  * dim) with tight per-point noise (σ=0.05), ids `c·stride + i`. The
  * blocked near-dup scale figures in README were measured on the same
  * corpora (at `387020f`).
  */
object SyntheticVectors {
  def clustered(
      nClusters: Int,
      perCluster: Int,
      dim: Int,
      seed: Long,
      stride: Long = 1000L): Seq[(Long, Seq[Double])] = {
    val rng = new scala.util.Random(seed)
    val centers = Array.fill(nClusters)(Array.fill(dim)(rng.nextGaussian() * 3))
    for { c <- 0 until nClusters; i <- 0 until perCluster }
      yield (c * stride + i, centers(c).map(_ + rng.nextGaussian() * 0.05).toSeq)
  }

  /** Twin-pair corpus over UNIFORM directions — the whale-list routing regime:
    * structureless in direction space (no clusters for Lloyd to find),
    * which is exactly where lowest-id seeding + few iterations leave
    * REALIZED whale lists even under population-proportional capacity
    * (the measured max-fine-list 2841 vs balanced 125 at the 40k decade).
    * Each of `nPairs` uniform dim-`dim` Gaussian directions is emitted
    * twice at σ=0.01 (ids 2i / 2i+1) — planted near-dups at sim ≈ 1
    * against a ≈0-sim background, so co-routing recall is measurable at a
    * 0.99 threshold.
    */
  def twinUniform(nPairs: Int, dim: Int, seed: Long): Seq[(Long, Seq[Double])] = {
    val rng = new scala.util.Random(seed)
    (0 until nPairs).flatMap { i =>
      val base = Array.fill(dim)(rng.nextGaussian())
      Seq(
        (2L * i, base.map(_ + rng.nextGaussian() * 0.01).toSeq),
        (2L * i + 1, base.map(_ + rng.nextGaussian() * 0.01).toSeq))
    }
  }

  /** Skewed corpus for the ONE-GIANT-CLUSTER regime: half the points form a
    * single DIFFUSE direction cluster (per-point noise σ=1 around a σ=3
    * center — non-twin pairs inside it sit near cos ≈ 0.9, below a 0.99
    * near-dup threshold), built as twin pairs (σ=0.01 within a pair →
    * planted near-dups at sim ≈ 1, ids 2i/2i+1); the other half spreads
    * over tight cold clusters with the [[clustered]] calibration (offset by
    * 10⁷ so id spaces never collide). Flat k-means blocking funnels the
    * diffuse half into one quadratic list; the salted blocking must
    * subdivide it while keeping every twin pair co-blocked.
    */
  def skewedOneCluster(
      nTwinPairs: Int,
      nColdClusters: Int,
      perCold: Int,
      dim: Int,
      seed: Long): Seq[(Long, Seq[Double])] = {
    val rng = new scala.util.Random(seed)
    val hotCenter = Array.fill(dim)(rng.nextGaussian() * 3)
    val hot = (0 until nTwinPairs).flatMap { i =>
      val base = hotCenter.map(_ + rng.nextGaussian() * 1.0)
      Seq(
        (2L * i, base.map(_ + rng.nextGaussian() * 0.01).toSeq),
        (2L * i + 1, base.map(_ + rng.nextGaussian() * 0.01).toSeq))
    }
    val cold = clustered(nColdClusters, perCold, dim, seed + 1)
      .map { case (id, v) => (10000000L + id, v) }
    hot ++ cold
  }
}
