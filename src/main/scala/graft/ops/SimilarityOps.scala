package graft.ops

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, InterpretedOrdering, SortOrder, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}

import Caching.Syntax

/** Embedding similarity search (north-star extension): brute-force cosine
  * top-k as the exact baseline, IVF (inverted-file) partitioned search as the
  * scale path.
  *
  * All numerics are double-precision higher-order-function folds over the
  * embedding arrays (`zip_with` + `aggregate`) — codegen-friendly built-ins,
  * sequential left-fold accumulation (deterministic, and reproducible in the
  * DuckDB oracle which folds lists in the same element order).
  *
  * Scale design: the probe set is broadcast (it is the small side by
  * construction); the corpus is scanned once, partition-parallel, with no
  * shuffle of raw vectors for the brute-force path. Top-k uses a window
  * partitioned by probe — the shuffled rows are (probe, id, sim) triples,
  * never embeddings. The IVF path cuts scanned candidates by
  * |lists probed| / |lists| at the cost of recall; at 100 TB the coarse
  * assignment becomes the partitioning key so each list is co-located.
  */
object SimilarityOps {

  /** dot(a, b) in doubles — the native codegen'd kernel
    * (graft.functions.DotProduct); same sequential accumulation order as the
    * HOF fold `aggregate(zip_with(a,b,_*_), 0.0, _+_)` it replaces (HOFs are
    * interpreted per element, ~6× slower) and as the oracle's
    * `list_dot_product`, so results are bit-identical.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.graft_dot(a, b)

  def l2norm(v: Column): Column = sqrt(dot(v, v))

  /** Cosine from a precomputed dot and the two norms, NULL when either
    * vector has zero norm — ANSI mode turns a double division by zero into a
    * job abort, and one zero vector must not kill a corpus-wide search.
    */
  def cosine(dotCol: Column, n1: Column, n2: Column): Column =
    when(n1 * n2 > 0, dotCol / (n1 * n2))

  /** Symmetric int8 quantization stats per vector — the storage/transport
    * compression step of an embedding pipeline (scale = max|v|/127,
    * qᵢ = round(vᵢ/scale)). Emits integer-exact invariants (quantized sum,
    * saturation count) rather than the quantized array itself so the result
    * is scalar-celled and order-independent: the same check works on any
    * engine and any partitioning. One codegen'd map stage, no shuffle.
    * Zero vectors quantize to all-zeros with scale 0 (the division is
    * guarded — ANSI mode aborts on double division by zero).
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    // scale and q are LET-BOUND (bindOnce): scale referenced inside the
    // quantization lambda would otherwise re-run the O(d) array_max per
    // ELEMENT (O(d²) per vector — codegen CSE does not hoist out of HOF
    // lambdas), and q feeds two aggregates
    val out = DedupOps.bindOnce(col(vecCol).cast("array<double>")) { v =>
      DedupOps.bindOnce(array_max(transform(v, x => abs(x))) / lit(127.0)) { scale =>
        DedupOps.bindOnce(
          transform(v, x => round(x / when(scale > 0, scale).otherwise(lit(1.0))).cast("long"))
        ) { q =>
          struct(
            size(v).cast("long").as("n_dims"),
            scale.as("scale"),
            aggregate(q, lit(0L), (acc, x) => acc + x).as("q_sum"),
            aggregate(q, lit(0L), (acc, x) => acc + when(abs(x) >= 127, lit(1L)).otherwise(lit(0L)))
              .as("n_sat"))
        }
      }
    }
    df.select(col(idCol), out.as("r"))
      .select(col(idCol), col("r.n_dims"), col("r.scale"), col("r.q_sum"), col("r.n_sat"))
  }

  /** Corpus with embeddings cast to double and pre-computed norms. */
  def prepared(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(
      col(idCol),
      col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", l2norm(col("v")))

  /** Two-stage truncated-prefix ANN (the Matryoshka/PCA-truncation
    * trick): stage 1 ranks every candidate by cosine over the FIRST
    * `prefixDims` dimensions — an 8-of-64 prefix makes the scoring pass
    * ~8× cheaper per pair, and a real deployment stores the truncated
    * vectors as their own skinny column so the full vectors are never
    * scanned — and keeps `candK` survivors per probe; stage 2 reranks
    * only those by EXACT full-dimension cosine to the final top `k`.
    *
    * Unlike IVF/LSH (whose recall is a measured, spec-pinned bound) this
    * ANN variant is fully DETERMINISTIC — both stages are pure
    * arithmetic with the (score DESC, id) total order — so the whole
    * result relation hash-matches a DuckDB oracle that replays prefix
    * scoring, candidate cut and rerank step for step. Recall against
    * [[knnBrute]] is additionally spec-pinned on the real corpus.
    *
    * Same candidate rules as [[knnBrute]]: self excluded, zero-norm
    * (prefix OR full) vectors dropped.
    *
    * Output: (probe_id, neighbor_id, sim, rank, tsim, crank).
    */
  def knnTruncatedRerank(
      corpus: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      prefixDims: Int,
      candK: Int,
      k: Int): DataFrame = {
    require(prefixDims >= 1, "prefixDims must be >= 1")
    require(candK >= k, "candK must be >= k (the rerank pool cannot shrink below k)")
    def prep(df: DataFrame) = prepared(df, idCol, vecCol)
      .withColumn("tv", slice(col("v"), 1, prefixDims))
      .withColumn("tn", l2norm(col("tv")))
    val c = prep(corpus)
    val p = prep(probes).select(
      col(idCol).as("probe_id"), col("v").as("pv"), col("nrm").as("pn"),
      col("tv").as("ptv"), col("tn").as("ptn"))
    val stage1 = c
      .join(broadcast(p), col(idCol) =!= col("probe_id"))
      .withColumn("tsim", cosine(dot(col("ptv"), col("tv")), col("ptn"), col("tn")))
      .filter(col("tsim").isNotNull)
    val w1 = Window.partitionBy(col("probe_id")).orderBy(col("tsim").desc, col(idCol))
    val w2 = Window.partitionBy(col("probe_id")).orderBy(col("sim").desc, col(idCol))
    stage1
      .withColumn("crank", row_number().over(w1).cast("long"))
      .filter(col("crank") <= candK)
      .withColumn("sim", cosine(dot(col("pv"), col("v")), col("pn"), col("nrm")))
      .filter(col("sim").isNotNull)
      .withColumn("rank", row_number().over(w2).cast("long"))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col(idCol).as("neighbor_id"),
        col("sim"), col("rank"), col("tsim"), col("crank"))
  }

  /** Exact cosine top-k: for each probe, the k nearest corpus vectors
    * (excluding itself), ranked by (similarity desc, id) for a total order.
    * Zero-norm vectors (on either side) have UNDEFINED direction and are
    * dropped from the candidate set — never returned as NULL-sim padding in
    * the tail of the top-k — so [[knnBruteAgg]] (whose heap holds primitive
    * doubles) is row-identical by the same rule.
    */
  def knnBrute(
      corpus: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val c = prepared(corpus, idCol, vecCol)
    val p = prepared(probes, idCol, vecCol)
      .select(col(idCol).as("probe_id"), col("v").as("pv"), col("nrm").as("pn"))
    val scored = c
      .join(broadcast(p), col(idCol) =!= col("probe_id"))
      .withColumn("sim", cosine(dot(col("pv"), col("v")), col("pn"), col("nrm")))
      .filter(col("sim").isNotNull)
    val w = Window.partitionBy(col("probe_id")).orderBy(col("sim").desc, col(idCol))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col(idCol).as("neighbor_id"), col("sim"), col("rank"))
  }

  /** Hard-negative mining for contrastive training: for each anchor, the
    * top-`k` most cosine-similar corpus vectors with a DIFFERENT label —
    * the near-misses a contrastive or reranker objective learns the most
    * from (easy negatives are already far; same-label neighbors are
    * positives, not negatives). Same candidate rules as [[knnBrute]]
    * (self excluded, zero-norm vectors dropped, (sim DESC, id) total
    * order), plus the label-inequality predicate; both labels ride along
    * in the output for audit.
    *
    * Scale shape: identical to [[knnBrute]] — anchors broadcast, corpus
    * scanned once with no shuffle of raw vectors, per-anchor top-k via a
    * rank-filtered window over (anchor, id, sim) triples. The label adds
    * one tiny column to the broadcast and the scan.
    */
  def hardNegatives(
      corpus: DataFrame,
      anchors: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int): DataFrame = {
    def prep(df: DataFrame) = df
      .select(col(idCol), col(vecCol).cast("array<double>").as("v"), col(labelCol))
      .withColumn("nrm", l2norm(col("v")))
    val c = prep(corpus)
    val p = prep(anchors)
      .select(
        col(idCol).as("probe_id"), col("v").as("pv"), col("nrm").as("pn"),
        col(labelCol).as("probe_label"))
    val scored = c
      .join(
        broadcast(p),
        col(idCol) =!= col("probe_id") && col(labelCol) =!= col("probe_label"))
      .withColumn("sim", cosine(dot(col("pv"), col("v")), col("pn"), col("nrm")))
      .filter(col("sim").isNotNull)
    val w = Window.partitionBy(col("probe_id")).orderBy(col("sim").desc, col(idCol))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(
        col("probe_id"), col("probe_label"),
        col(idCol).as("neighbor_id"), col(labelCol).as("neighbor_label"),
        col("sim"), col("rank"))
  }

  /** Margin-based bitext mining (Artetxe & Schwenk 2019 — the scoring
    * rule behind the CCMatrix/WikiMatrix-scale parallel-corpus mines):
    * candidate cross-side pairs are scored by the RATIO margin
    * `cos(x,y) / ((avgₖ(x→Y) + avgₖ(y→X)) / 2)` — similarity relative to
    * each endpoint's own neighborhood density — which is what separates
    * true translation pairs from generically-close neighbors in
    * hubness-prone embedding spaces; a raw cosine threshold cannot. Kept
    * pairs clear `marginFpMin` (micro-units, 1_000_000 = margin 1.0) and
    * are reduced to each source's best target; `mutual` marks pairs that
    * also appear in the backward top-k (the "intersection" strategy's
    * condition, the highest-precision subset).
    *
    * Engine-exact discipline: per-pair cosine is the same double formula
    * as [[knnBrute]] (pure per-pair — hash-safe); neighborhood averages
    * are summed in NANO fixed point (integer sums are order-independent,
    * so a 1000-executor sum equals the oracle's) and the margin is one
    * integer division; the division's trunc-vs-floor divergence on
    * negative numerators cannot surface because only
    * margin ≥ marginFpMin ≥ 0 rows are emitted and both engines agree on
    * every non-negative quotient.
    *
    * Scale shape: the two top-k legs are the pluggable part — here the
    * exact [[knnBrute]] (probes broadcast, corpus scanned once, raw
    * vectors never shuffle); at 100 TB swap in the staged
    * [[knnIvfPq]]/[[knnHnsw]] searches, which share the
    * (probe, neighbor, sim, rank) contract. Everything downstream is
    * O(n·k): two map-side-partial aggregates over k-row groups, one
    * equi-join of the forward candidates against the two tiny per-vector
    * sums, and a left semi-shaped mutual probe on the (src, dst) key.
    */
  def bitextMine(
      xs: DataFrame,
      ys: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 4,
      marginFpMin: Long = 1050000L): DataFrame =
    bitextMineFrom(
      knnBrute(ys, xs, idCol, vecCol, k),
      knnBrute(xs, ys, idCol, vecCol, k),
      marginFpMin)

  /** [[bitextMine]] over PRE-BUILT directional top-k relations — the
    * operating form at scale: `fwd` (x-probes over the Y corpus) and
    * `bwd` (y-probes over X) are ANY candidate relations sharing the knn
    * family's `(probe_id, neighbor_id, sim, rank)` contract — exact
    * [[knnBrute]] here, the staged [[knnIvfPq]]/[[knnHnsw]] searches over
    * a persisted index at 100 TB. Everything downstream is O(n·k).
    * Neighborhood averages use each side's ACTUAL candidate count
    * (`2·kx·ky·sim / (ky·Σx + kx·Σy)` in fixed point — an ANN leg may
    * return fewer than k), which reduces EXACTLY to the shared-oracle
    * `2k·sim/(Σx+Σy)` form when both sides are full: integer division is
    * invariant under the common kx=ky factor.
    */
  def bitextMineFrom(
      fwd0: DataFrame,
      bwd0: DataFrame,
      marginFpMin: Long = 1050000L): DataFrame = {
    require(marginFpMin >= 0, "negative margins are never translation pairs")
    val simFp = round(col("sim") * lit(1000000000.0)).cast("long")
    val fwd = fwd0.select(
      col("probe_id").as("src_id"), col("neighbor_id").as("dst_id"),
      col("sim"), simFp.as("sim_fp"))
    val bwd = bwd0.select(
      col("probe_id").as("dst_id"), col("neighbor_id").as("src_id"),
      simFp.as("sim_fp"))
    val ax = fwd.groupBy(col("src_id"))
      .agg(sum(col("sim_fp")).as("ax_fp"), count(lit(1)).as("kx"))
    val ay = bwd.groupBy(col("dst_id"))
      .agg(sum(col("sim_fp")).as("ay_fp"), count(lit(1)).as("ky"))
    val mutual = bwd.select(col("src_id"), col("dst_id"), lit(true).as("mutual"))
    val w = Window.partitionBy(col("src_id"))
      .orderBy(col("margin_fp").desc, col("dst_id"))
    fwd
      .join(ax, Seq("src_id"))
      .join(ay, Seq("dst_id"))
      .join(mutual, Seq("src_id", "dst_id"), "left")
      .filter(col("ky") * col("ax_fp") + col("kx") * col("ay_fp") > 0)
      .withColumn("__mnum",
        lit(2L) * col("kx") * col("ky") * col("sim_fp") * lit(1000000L))
      .withColumn("margin_fp", expr("__mnum div (ky * ax_fp + kx * ay_fp)"))
      .filter(col("margin_fp") >= marginFpMin)
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") === 1)
      .select(
        col("src_id"), col("dst_id"), col("sim"), col("margin_fp"),
        coalesce(col("mutual"), lit(false)).as("mutual"))
  }

  /** kNN label-noise detection over a PRE-BUILT neighbor relation
    * (`(probe_id, neighbor_id)` from any candidate generator): each
    * labeled point's neighbors vote, `n_disagree` counts the
    * differently-labeled ones, and a strict majority of disagreement
    * flags the row as a suspect label — the confident-learning-style
    * mislabel screen. Decomposed exactly so the scale path plugs in: the
    * registered query wires [[knnBrute]] (exact, corpus²), and at 100 TB
    * the SAME vote consumes [[knnIvfSearch]]/[[knnIvfPq]] candidates —
    * the vote itself shuffles only (probe, neighbor, label) triples,
    * n·k-sized.
    */
  def labelNoiseFrom(
      neighbors: DataFrame,
      labeled: DataFrame,
      idCol: String,
      labelCol: String): DataFrame =
    neighbors
      .join(labeled.select(col(idCol).as("probe_id"), col(labelCol).as("__pl")), "probe_id")
      .join(
        labeled.select(col(idCol).as("neighbor_id"), col(labelCol).as("__nl")),
        "neighbor_id")
      .groupBy(col("probe_id"), col("__pl"))
      .agg(
        count(lit(1)).as("n_neighbors"),
        sum(when(col("__nl") =!= col("__pl"), 1L).otherwise(0L)).as("n_disagree"))
      .select(
        col("probe_id").as(idCol), col("__pl").as(labelCol),
        col("n_neighbors"), col("n_disagree"),
        (col("n_disagree") * 2 > col("n_neighbors")).as("is_suspect"))

  /** [[labelNoiseFrom]] over the exact brute-force k-nearest neighbors of
    * every labeled vector (knnBrute rules: self excluded, zero-norm
    * dropped, (sim DESC, id) total order). Every corpus vector is a probe
    * here, so the candidate leg is [[knnBruteAgg]] — the heap aggregator
    * reduces each probe's n−1 scored candidates to k MAP-SIDE instead of
    * shuffling all n² rows into ranking windows (row-identical to
    * knnBrute by the aggregator's spec).
    */
  def labelNoise(
      vecs: DataFrame, idCol: String, vecCol: String, labelCol: String, k: Int): DataFrame =
    labelNoiseFrom(knnBruteAgg(vecs, vecs, idCol, vecCol, k), vecs, idCol, labelCol)

  /** Per-class centroid distances with farthest-first outlier ranking —
    * the embedding-quality audit that catches mislabeled or degenerate
    * vectors before they poison contrastive training: each vector's
    * Euclidean distance to its label's centroid, ranked DESC within the
    * label, the top-`k` flagged. Engine-portable by construction:
    * per-dimension coordinates are quantized to BIGINT millionths and the
    * centroid is built from their order-free integer sums (the float
    * mean of a million-row class would otherwise depend on partition
    * order); the distance uses the dot identity ‖v−c‖² = v·v − 2v·c + c·c
    * over the SAME sequential folds on both engines, so even the doubles
    * hash-match.
    *
    * Scale shape: one explode to (label, dim, q) integer rows →
    * partial-aggregating groupBy (label, dim) → per-label centroid arrays
    * (labels × dims — tiny, broadcast); the corpus is scanned once for the
    * quantized sums and once for the distance projection; the per-label
    * ranking is a rank-filtered window over (label, dist, id) triples —
    * WindowGroupLimit applies, vectors never shuffle.
    */
  def classCentroidOutliers(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    val v = col(vecCol).cast("array<double>")
    val vq = df.select(
      col(idCol), col(labelCol),
      posexplode(transform(v, x => round(x * lit(1.0e6)).cast("long"))).as(Seq("dim", "q")))
    val cent = vq.groupBy(col(labelCol), col("dim"))
      .agg(sum(col("q")).as("sq"), count(lit(1)).as("cnt"))
      .groupBy(col(labelCol))
      .agg(transform(
        array_sort(collect_list(struct(col("dim"),
          (col("sq").cast("double") / (col("cnt").cast("double") * lit(1.0e6))).as("c")))),
        s => s.getField("c")).as("cvec"))
    val d2 = dot(col("v"), col("v")) - lit(2.0) * dot(col("v"), col("cvec")) +
      dot(col("cvec"), col("cvec"))
    val w = Window.partitionBy(col(labelCol)).orderBy(col("dist").desc, col(idCol))
    df.select(col(idCol), col(labelCol), v.as("v"))
      .join(broadcast(cent), Seq(labelCol))
      .withColumn("dist", sqrt(greatest(d2, lit(0.0))))
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(
        col(idCol), col(labelCol), col("dist"), col("rank"),
        (col("rank") <= k).as("is_outlier"))
  }

  /** Embedding-space DRIFT monitor: per label (model version, source,
    * shard…), the L2 distance between the label's centroid and the
    * corpus-wide centroid, with the label's corpus share — the check that
    * catches a re-embedded or mis-normalized partition before it poisons
    * retrieval. Complements [[classCentroidOutliers]] (which ranks
    * VECTORS within a label; this compares LABELS against the corpus).
    *
    * Same engine-exact recipe as the outliers: components quantize to
    * 1e6-fixed-point longs, per-(label, dim) sums aggregate (ONE explode
    * scan — the corpus-sized work), and the GLOBAL sums derive from the
    * label sums (the (label, dim, sq, cnt) relation is a monoid, so an
    * incremental form is the same fold discipline as the histogram
    * drift). Centroids divide back to doubles only inside per-row dot
    * products over dim-ordered arrays, so the oracle replays them with
    * list_dot_product in identical order. The dense relation is
    * (labels × dims) — dimension-sized; the 1-row global centroid
    * broadcasts.
    *
    * Output: (labelCol, n_vecs, share_fp, dist).
    */
  def centroidDrift(
      df: DataFrame,
      vecCol: String,
      labelCol: String): DataFrame = {
    centroidDriftFromSums(centroidSums(df, vecCol, labelCol), labelCol)
  }

  /** The per-batch SUMS phase of [[centroidDrift]]: quantized component
    * sums and element counts per (label, dim) — the drift monoid. Fold
    * increments from DISJOINT batches with [[mergeCentroidSums]] and
    * derive with [[centroidDriftFromSums]].
    */
  def centroidSums(df: DataFrame, vecCol: String, labelCol: String): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    df.select(
      col(labelCol),
      posexplode(transform(v, x => round(x * lit(1.0e6)).cast("long"))).as(Seq("dim", "q")))
      .groupBy(col(labelCol), col("dim"))
      .agg(sum(col("q")).as("sq"), count(lit(1)).as("cnt"))
  }

  /** Fold [[centroidSums]] increments from DISJOINT batches (exact long
    * sums — the fold is invisible in the derived drift).
    */
  def mergeCentroidSums(labelCol: String)(parts: DataFrame*): DataFrame = {
    require(parts.nonEmpty, "need at least one sums relation")
    parts.reduce(_ unionByName _)
      .groupBy(col(labelCol), col("dim"))
      .agg(sum(col("sq")).as("sq"), sum(col("cnt")).as("cnt"))
  }

  /** The DERIVE phase of [[centroidDrift]], over an already-built
    * `(labelCol, dim, sq, cnt)` fixed-point sums relation (one explode
    * scan, a fold of disjoint-batch sums, or a RollupStream's `current`
    * pivoted to the two statistics). Sums are the monoid; centroids,
    * shares and distances derive here, AFTER any fold — so incremental
    * and streaming embedding-drift monitors reproduce the one-shot form
    * bit-for-bit (all fold inputs are exact longs).
    */
  def centroidDriftFromSums(sums: DataFrame, labelCol: String): DataFrame = {
    val byLabel = sums
      .select(col(labelCol), col("dim"),
        col("sq").cast("long").as("sq"), col("cnt").cast("long").as("cnt"))
      .scopedCache()
    def centroidVec(sq: Column, cnt: Column) =
      (sq.cast("double") / (cnt.cast("double") * lit(1.0e6))).as("c")
    val lab = byLabel.groupBy(col(labelCol))
      .agg(
        transform(
          array_sort(collect_list(struct(col("dim"), centroidVec(col("sq"), col("cnt"))))),
          s => s.getField("c")).as("cvec"),
        max(col("cnt")).as("n_vecs"))
    val glob = byLabel.groupBy(col("dim"))
      .agg(sum(col("sq")).as("sq"), sum(col("cnt")).as("cnt"))
      .agg(
        transform(
          array_sort(collect_list(struct(col("dim"), centroidVec(col("sq"), col("cnt"))))),
          s => s.getField("c")).as("rvec"),
        max(col("cnt")).as("n_total"))
    val d2 = dot(col("cvec"), col("cvec")) - lit(2.0) * dot(col("cvec"), col("rvec")) +
      dot(col("rvec"), col("rvec"))
    lab.crossJoin(broadcast(glob))
      .select(
        col(labelCol), col("n_vecs"),
        expr("(n_vecs * 1000000) div n_total").as("share_fp"),
        sqrt(greatest(d2, lit(0.0))).as("dist"))
  }

  /** Incremental top-k maintenance (the interactive-session pattern: the
    * corpus grows, stored per-probe results must not be recomputed against
    * everything): merge a stored top-k relation with the top-k of a DELTA
    * batch and re-rank. Because every global top-k neighbor is necessarily
    * in its own partition's top-k (per-side k ≥ merged k), the merge is
    * EXACTLY the full-corpus [[knnBrute]] result — the registered query
    * proves it by sharing q_embedding_knn's oracle verbatim.
    *
    * Scale shape: the inputs are already k rows per probe per side, so the
    * merge shuffles O(|probes|·k) rows total — corpus-size-independent;
    * the only corpus-scaled work is scoring the delta, which is the point
    * of incremental maintenance.
    *
    * The two sides need NOT be disjoint: a (probe_id, neighbor_id) pair
    * appearing on both sides is collapsed to ONE slot before ranking, so
    * overlapping inputs merge correctly instead of double-occupying the k
    * budget. Contract: both sides must score a pair consistently (the
    * corpus is append-only; a neighbor's embedding does not change between
    * scorings) — max(sim) then just deduplicates. If embeddings can MUTATE,
    * stale stored scores must be invalidated upstream; no top-k merge can
    * distinguish "re-scored lower" from "scored against a different
    * probe set".
    */
  def knnMerge(storedTopK: DataFrame, deltaTopK: DataFrame, k: Int): DataFrame = {
    val cols = Seq("probe_id", "neighbor_id", "sim")
    val w = Window.partitionBy(col("probe_id")).orderBy(col("sim").desc, col("neighbor_id"))
    storedTopK.select(cols.map(col): _*)
      .unionByName(deltaTopK.select(cols.map(col): _*))
      // a neighbor present on BOTH sides must occupy ONE slot, not two —
      // under the consistent-scoring contract max(sim) is pure dedup, and
      // the merge stays lossless at O(|probes|·k) rows
      .groupBy(col("probe_id"), col("neighbor_id"))
      .agg(max(col("sim")).as("sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Embedding-space (SEMANTIC) decontamination: flag every train vector
    * whose nearest EVAL vector by cosine reaches `threshold` — the
    * embedding leg of benchmark-leakage screening, catching paraphrased or
    * reformatted eval items that n-gram decontamination
    * (DedupOps.decontaminate) cannot see. Output: one row per train vector
    * with (max_sim, nearest_eval_id, is_contaminated); zero-norm vectors on
    * either side have undefined direction and contribute no similarity
    * (a train doc scored only against zero-norm evals keeps its row with
    * NULL max_sim, never a fabricated score).
    *
    * Scale shape: the eval set is benchmark-sized, so it BROADCASTS; the
    * corpus streams once through a single scored projection + per-id
    * max_by — no shuffle of train vectors, and the reduction is the same
    * (sim desc, eval_id asc) total order as the knn family. For eval sets
    * beyond broadcast, block with [[knnIvfKmeans]]'s quantizer first (the
    * ANN path); this exact form is the oracle-checkable contract.
    */
  def semanticDecontaminate(
      train: DataFrame,
      eval: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double): DataFrame = {
    val t = prepared(train, idCol, vecCol)
    val e = prepared(eval, idCol, vecCol)
      .filter(col("nrm") > 0)
      .select(col(idCol).as("eval_id"), col("v").as("ev"), col("nrm").as("en"))
    t.join(broadcast(e), lit(true), "left")
      .withColumn("sim", cosine(dot(col("v"), col("ev")), col("nrm"), col("en")))
      // argmax via min over (-sim, eval_id): negating the DOUBLE (never the
      // id) keeps the (sim desc, eval_id asc) total order portable to any
      // id type — string ids order lexically, exactly like the SQL oracle's
      // ORDER BY; null sims are excluded by the when-guard, so an all-null
      // train row degrades to NULL fields, never a fabricated winner
      .groupBy(col(idCol))
      .agg(min(when(col("sim").isNotNull,
        struct((-col("sim")).as("__negsim"), col("eval_id")))).as("__best"))
      .select(
        col(idCol),
        (-col("__best.__negsim")).as("max_sim"),
        col("__best.eval_id").as("nearest_eval_id"),
        coalesce(-col("__best.__negsim") >= threshold, lit(false)).as("is_contaminated"))
  }

  /** Exact cosine top-k via the bounded-heap aggregator
    * (graft.functions.TopKAggregator): identical result to [[knnBrute]]
    * (same (sim desc, id) total order) but the per-probe reduction happens
    * map-side — each partition shuffles at most k candidates per probe
    * instead of all |corpus| scored rows, the winning shape when the
    * candidate set per probe is huge.
    */
  def knnBruteAgg(
      corpus: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    import org.apache.spark.sql.functions.udaf
    val c = prepared(corpus, idCol, vecCol)
    val p = prepared(probes, idCol, vecCol)
      .select(col(idCol).as("probe_id"), col("v").as("pv"), col("nrm").as("pn"))
    val topk = udaf(new graft.functions.TopKAggregator(k))
    c.join(broadcast(p), col(idCol) =!= col("probe_id"))
      .select(
        col("probe_id"),
        (cosine(dot(col("pv"), col("v")), col("pn"), col("nrm"))).as("score"),
        col(idCol).as("id"))
      // zero-norm vectors score NULL and drop — the same rule knnBrute
      // applies, so the two operators stay row-identical in every case
      .filter(col("score").isNotNull)
      .groupBy(col("probe_id"))
      .agg(topk(col("score"), col("id")).as("top"))
      .select(col("probe_id"), posexplode(col("top")).as(Seq("pos", "entry")))
      .select(
        col("probe_id"),
        col("entry.id").as("neighbor_id"),
        col("entry.score").as("sim"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  /** Embedding-cosine near-duplicate pairs: every unordered pair (a < b)
    * with cosine ≥ threshold, scored with the native dot kernel. Zero-norm
    * vectors have undefined direction and pair with nothing.
    *
    * Scale stance: this is the EXACT form — an upper-triangle self-comparison
    * whose Spark plan is a broadcast nested-loop on the id inequality, so the
    * big side streams once and only (id, id, sim) survive. Moderate-angle
    * thresholds (τ ≲ 0.9) defeat sign-random-projection banding (expected
    * Hamming fraction θ/π is far from 0, so no band survives), which is why
    * the scale path is NOT an LSH variant but coarse-quantizer blocking:
    * [[cosineNearDupPairsBlocked]] — same result contract, candidates from
    * shared k-means lists instead of the full triangle. This exact form is
    * the blocked variant's oracle (and the right choice up to ~10⁴ vectors,
    * where one broadcast beats a quantizer fit).
    */
  def cosineNearDupPairs(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double): DataFrame = {
    val c = prepared(corpus, idCol, vecCol).filter(col("nrm") > 0)
    val a = c.select(col(idCol).as("id_a"), col("v").as("va"), col("nrm").as("na"))
    val b = c.select(col(idCol).as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .withColumn("sim", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  /** Embedding-cosine near-duplicate pairs via k-means coarse-quantizer
    * BLOCKING — the scale path [[cosineNearDupPairs]]'s doc comment names:
    * fit the same normalized-vector k-means quantizer as [[knnIvfKmeans]],
    * multi-assign every vector to its `nProbe` closest lists by direction,
    * take candidate pairs ONLY from vectors sharing at least one list, and
    * verify candidates with the exact cosine (blocking affects recall,
    * never the correctness of returned scores — same candidate/verify
    * separation as the LSH dedup family).
    *
    * Why blocking and not SRP banding: at moderate thresholds (τ ≲ 0.9)
    * the expected signature-disagreement fraction θ/π is far from 0, so no
    * LSH band survives with useful probability; coarse lists cluster by
    * direction and keep near-dup pairs co-listed instead.
    *
    * Scale shape vs the exact form's O(n²) broadcast nested loop: the
    * candidate join is an equi self-join on `list_id` carrying only
    * (id, list) pairs, so per-list work is |list|²/2 with |list| ≈
    * nProbe·n/nLists — total candidate volume ~ nProbe²·n²/nLists, made
    * sub-quadratic by growing `nLists` with the corpus (nLists ∝ √n keeps
    * per-list size, and therefore cost growth, at O(n^1.5); at 100 TB the
    * list id also becomes the partitioning key so each list's pairing is
    * co-located). Raw vectors shuffle only in the final verify join on id,
    * sized by surviving candidates, not n². Recall on clustered corpora is
    * pinned ≥ 0.9 in SimilaritySpec; sub-quadratic growth is measured in
    * ScaleSmoke against the exact form.
    */
  def cosineNearDupPairsBlocked(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      nLists: Int = 16,
      nProbe: Int = 2,
      seed: Long = 42L,
      maxIter: Int = 5): DataFrame = {
    val c = preparedNonZero(corpus, idCol, vecCol).scopedCache()
    val assigned = multiProbeAssign(c.select(col(idCol), col("vn")), idCol, nLists, nProbe,
      seed, maxIter).withColumnRenamed("list_id", "__blk")
    verifyBlockedPairs(c, idCol, assigned, "__blk", threshold)
  }

  /** Exact-cosine verify of a blocked membership relation `(idCol,
    * keyCol)` WITHOUT a pair-scale array shuffle: vectors attach to the
    * n·m membership rows (the pre-pair side — small), the self-join on
    * the block key computes the dot INSIDE the join, and only
    * (id_a, id_b, sim) scalars survive to the threshold filter; the pair
    * dedup (multi-probe overlap emits a pair once per shared key, with
    * identical sim) runs on threshold SURVIVORS only. The pre-r12 shape
    * — distinct candidate pairs, then arrays joined onto the pair
    * relation — shuffled |candidates|·dim doubles and was the measured
    * decade-grower of the sf1 semantic-dedup smoke (≈13 GB of array
    * shuffle at the 20k-vector decade). Shared by all three blocked
    * near-dup forms (MLlib, fixed-point, salted).
    */
  private def verifyBlockedPairs(
      c: DataFrame, idCol: String, assigned: DataFrame, keyCol: String,
      threshold: Double): DataFrame = {
    val routed = assigned.join(c.select(col(idCol), col("v"), col("nrm")), Seq(idCol))
    val aArm = routed.select(
      col(idCol).as("id_a"), col(keyCol), col("v").as("va"), col("nrm").as("na"))
    val bArm = routed.select(
      col(idCol).as("id_b"), col(keyCol), col("v").as("vb"), col("nrm").as("nb"))
    aArm.join(bArm, Seq(keyCol))
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
      .distinct()
  }

  /** Candidate pairs of the blocked near-dup (before the exact-cosine
    * verify) — exposed for ScaleSmoke, where the candidate count is the
    * machine-independent scale metric (the exact form scores n(n-1)/2).
    */
  private[graft] def blockedCandidates(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nLists: Int,
      nProbe: Int,
      seed: Long = 42L,
      maxIter: Int = 5): DataFrame =
    blockedCandidatesFrom(
      preparedNonZero(corpus, idCol, vecCol).scopedCache(), idCol, nLists, nProbe, seed, maxIter)

  private def preparedNonZero(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    prepared(df, idCol, vecCol)
      .filter(col("nrm") > 0)
      .withColumn("vn", transform(col("v"), x => x / col("nrm")))

  /** k-means fit + multi-probe assignment over a (id, vn) normalized-vector
    * relation: every vector lands in its `nProbe` closest lists by centroid
    * direction, so boundary pairs straddling two lists still share their
    * probed neighbor. ONE definition for the flat and salted blockings.
    */
  private def multiProbeAssign(
      c: DataFrame,
      idCol: String,
      k: Int,
      nProbe: Int,
      seed: Long,
      maxIter: Int): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val model = new KMeans()
      .setK(k).setSeed(seed).setMaxIter(maxIter).setFeaturesCol("features")
      .setInitMode("random")
      .fit(c.withColumn("features", array_to_vector(col("vn"))))
    val spark = c.sparkSession
    import spark.implicits._
    val centroids = model.clusterCenters.zipWithIndex.toSeq
      .map { case (ctr, i) => (i, ctr.toArray.toSeq) }
      .toDF("list_id", "cv")
    val w = Window.partitionBy(col(idCol)).orderBy(col("cdot").desc, col("list_id"))
    c.join(broadcast(centroids), lit(true))
      .withColumn("cdot", dot(col("vn"), col("cv")))
      .withColumn("crank", row_number().over(w))
      .filter(col("crank") <= nProbe)
      .select(col(idCol), col("list_id"))
  }

  private def blockedCandidatesFrom(
      c: DataFrame,
      idCol: String,
      nLists: Int,
      nProbe: Int,
      seed: Long,
      maxIter: Int): DataFrame = {
    val assigned =
      multiProbeAssign(c.select(col(idCol), col("vn")), idCol, nLists, nProbe, seed, maxIter)
    assigned.select(col(idCol).as("id_a"), col("list_id"))
      .join(assigned.select(col(idCol).as("id_b"), col("list_id")), Seq("list_id"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** Fixed-point (ENGINE-EXACT) k-means blocking — the [[kmeansFixedPoint]]
    * discipline applied to [[cosineNearDupPairsBlocked]]'s candidate
    * generation, so the WHOLE blocked near-dup (quantizer fit, multi-probe
    * list assignment, candidate pairing, exact-cosine verify) reproduces
    * bit-for-bit on any engine and the registered query carries a full SQL
    * oracle (the MLlib-fitted variant keeps float centroids and a seeded
    * random init, which no other engine can replay — its recall is
    * spec-pinned instead). Direction blocking: vectors are L2-NORMALIZED
    * and then quantized to BIGINT millionths, so the integer Lloyd's
    * squared-L2 objective equals (up to the monotone 2−2cos map) cosine
    * distance and lists cluster by direction, exactly like the MLlib fit.
    *
    * Scale shape is the flat blocking's: candidate volume ~ nProbe²·n²/
    * nLists with nLists grown ∝ √n (sub-quadratic); the Lloyd rounds scan
    * the corpus `iters` times but shuffle only (id, cid, dist) triples;
    * at 100 TB the list id is the partitioning key. Determinism costs
    * nothing at scale — lowest-id seeding is one TakeOrdered, integer
    * argmin is the same broadcast scan as the float one.
    */
  def cosineNearDupPairsBlockedFp(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      nLists: Int = 8,
      nProbe: Int = 2,
      iters: Int = 2): DataFrame =
    cosineNearDupPairsBlockedFpForTest(
      corpus, idCol, vecCol, threshold, nLists, nProbe, iters, HierRoutingThreshold)

  /** [[cosineNearDupPairsBlockedFp]] with the routing threshold exposed —
    * spec-only seam for the flat-vs-hier differential at equal nLists.
    */
  private[graft] def cosineNearDupPairsBlockedFpForTest(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      nLists: Int,
      nProbe: Int,
      iters: Int,
      hierThreshold: Int,
      fineCap: Long = 0L): DataFrame = {
    val c = preparedNonZero(corpus, idCol, vecCol).scopedCache()
    val q = quantizeNormFp(c, idCol).scopedCache()
    // granularity-adaptive routing: ≤32 lists (every oracled call) is the
    // verbatim flat form; larger granularities (nLists ∝ n at scale) take
    // the two-level tree that kills the n·nLists routing quadratic
    val routing = fitRouting(q, idCol, nLists, iters, hierThreshold, fineCap, nProbe)
    val assigned = multiProbeRoute(q, idCol, routing, nProbe)
    verifyBlockedPairs(c, idCol, assigned, "cid", threshold)
  }

  /** IVF top-k on the fixed-point quantizer — [[knnIvfKmeans]] with the
    * MLlib fit swapped for the engine-exact integer Lloyd over NORMALIZED
    * millionth-quantized vectors (list routing and corpus assignment both
    * integer-deterministic; returned scores are the same exact cosine), so
    * the registered IVF query carries a full SQL oracle instead of a
    * recall-only spec. Search shape is [[knnIvfSearch]]'s: corpus vectors
    * carry one list id (argmin), probes fan to their `nProbe` closest
    * lists, scoring touches only probed lists, raw vectors never shuffle
    * (probes broadcast). At 100 TB the assignment relation persists
    * `partitionBy(list_id)` and probed lists prune at the scan, exactly
    * like the fitted-index split.
    */
  def knnIvfKmeansFp(
      corpus: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nLists: Int,
      nProbe: Int,
      iters: Int = 2): DataFrame = {
    val c = preparedNonZero(corpus, idCol, vecCol).scopedCache()
    val q = quantizeNormFp(c, idCol).scopedCache()
    // adaptive routing (flat ≤32 lists — the oracle's bit-exact form):
    // the corpus argmin and the probe multi-probe both ride it, so the
    // n·nLists fit/assign terms go n·√nLists at scaled granularity
    val routing = fitRouting(q, idCol, nLists, iters, censusProbe = 1)
    val assigned = assignRoute(q, idCol, routing)
      .join(c.select(col(idCol), col("v"), col("nrm")), Seq(idCol))
    val p = preparedNonZero(probes, idCol, vecCol)
    val probeLists = multiProbeRoute(
      quantizeNormFp(p, idCol).withColumnRenamed(idCol, "probe_id"),
      "probe_id", routing, nProbe)
      .join(
        p.select(col(idCol).as("probe_id"), col("v").as("pv"), col("nrm").as("pn")),
        Seq("probe_id"))
    val scored = assigned
      .join(broadcast(probeLists), Seq("cid"))
      .filter(col(idCol) =!= col("probe_id"))
      .withColumn("sim", cosine(dot(col("pv"), col("v")), col("pn"), col("nrm")))
      .filter(col("sim").isNotNull)
    val w = Window.partitionBy(col("probe_id")).orderBy(col("sim").desc, col(idCol))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col(idCol).as("neighbor_id"), col("sim"), col("rank"))
  }

  /** Routing artifact of the fixed-point direction quantizer — FLAT (one
    * Lloyd fit; every vector ranks all nLists centroids) below
    * [[HierRoutingThreshold]], HIERARCHICAL two-level above it. The flat
    * n·nLists routing term is the measured scale-killer of the r11 sf1
    * smoke: with nLists ∝ n (the constant-list-size operating posture)
    * it is n²/const — HNSW build+search grew 3.48× and semantic dedup
    * 2.38× per 2× rows while every pair pipeline stayed linear. The
    * two-level tree routes in n·(k1 + nProbe·k2) ≈ n·(1+nProbe)·√nLists
    * — n^1.5 when nLists ∝ n, and ~4× less absolute work already at the
    * 20k-vector decade — while keeping routing a PURE PER-VECTOR function
    * of the frozen tree, so the pair-block decomposition every
    * incremental/streaming fold relies on is unchanged.
    *
    * The threshold keeps every ORACLED query (nLists ≤ 16) on the flat
    * path bit-for-bit; the hier path is recall-pinned in SimilaritySpec
    * (approximate blocking has no exactness contract — only the chosen
    * lists change, and verification/scoring stays exact either way).
    */
  private[graft] sealed trait FpRouting
  private[graft] final case class FlatRouting(cents: DataFrame) extends FpRouting
  /** `census`/`censusOf`: the fit-time fine-membership relation
    * `(key, cid, dist_fp)` at [[FineCensusProbe]] over the fit corpus
    * (reference `censusOf`), checkpointed. Routing the SAME corpus at
    * nProbe ≤ censusProbe reuses it (routing is a pure per-vector
    * function, so the census IS that routing's base — the whale census
    * would otherwise double the routing cost of every self-build).
    */
  private[graft] final case class HierRouting(
      cents1: DataFrame, cents2: DataFrame, k2: Int,
      cents3: Option[DataFrame] = None, s3: Long = 1L,
      census: Option[DataFrame] = None, censusOf: AnyRef = null,
      censusK: Int = FineCensusProbe) extends FpRouting

  /** Largest nLists still routed flat — chosen between the registered
    * queries' granularities (8/16, which must stay oracle-exact) and the
    * sf1 smoke's scaled ones (80-160, where the n·nLists term dominates).
    */
  private[graft] val HierRoutingThreshold = 32

  /** Floor of the hier router's auto fine-list capacity cap: whale-list
    * subdivision (level 3) only fires when a fine list's CENSUS
    * membership exceeds max(256, 4·n/nLists) vectors — above the balanced
    * nProbe·n/nLists expectation, so a healthy fit never subdivides and
    * every existing fixture routes identically; the sf1 rehearsal's
    * measured whales (max fine list 2885 vs balanced 375 at the 40k
    * decade — the residual n^1.7 candidate-volume term) are exactly what
    * crosses it.
    */
  private[graft] val FineCapFloor = 256L

  /** Probe count of the fit-time membership census. Whales are a
    * MEMBERSHIP phenomenon, not an ownership one (multi-probe
    * concentration: the sf1 rehearsal shows 1459-member lists whose
    * ownership stays under 500 — neighbors' rank-2/3 probes pile into
    * the same realized list), so the census must count memberships at a
    * representative probe depth. Any fixed choice keeps the tree a pure
    * function of the corpus; 3 is the ANN/blocking families' default.
    */
  private[graft] val FineCensusProbe = 3

  /** Fit the routing artifact for an `(idCol, vfp)` relation (caller
    * caches it — the fit scans it). Flat: the full-corpus integer Lloyd,
    * exactly as before. Hier: level-1 centroids (k1 = ⌈√nLists⌉) fit on a
    * fixed-target deterministic hash-sample — quantizer quality needs the
    * direction DISTRIBUTION, which a sample captures (the ivfFitKmeans
    * fitFraction posture) — then per-cell level-2 codebooks (k2 =
    * ⌈nLists/k1⌉) via ONE grouped Lloyd over a per-cell sample that
    * always includes each cell's k2 lowest ids (a cell absent from the
    * sample would otherwise have no codebook and orphan its members).
    * Both fits are deterministic functions of the id set, so a staged
    * build under a frozen tree equals the one-shot build exactly.
    *
    * Level 3 — WHALE-LIST SUBDIVISION (the fine-list capacity cap): the
    * population-proportional fine capacity equalizes EXPECTED fine-list
    * size, but intra-cell Lloyd imbalance still leaves whale lists on
    * skewed (or adversarially structureless) corpora — the sf1 rehearsal
    * measured max fine list 2841 vs balanced 125, inflating candidate
    * volume ∝ n^1.7 (Σ m_i² under Σ m_i = n·nProbe is minimized by
    * balance; whales pay their excess QUADRATICALLY). Any fine list
    * owning more than `fineCap` vectors gets its own sub-codebook —
    * fan-out ∝ pop/cap (one level suffices, the saltedAssignments
    * adaptive-fan-out argument) fit by the SAME grouped Lloyd as level 2
    * — so per-list candidate volume is capped at ~pop·cap and the total
    * returns to the linear-in-n balanced bound. The sub-fit is a
    * deterministic function of the id set (exact ownership counts,
    * lowest-id seeds, hash samples) and the tree is frozen before any
    * routing, so staged/incremental folds still decompose exactly.
    * `fineCap` 0 = auto (max([[FineCapFloor]], 4·n/nLists));
    * Int.MaxValue disables.
    */
  private[graft] def fitRouting(
      q: DataFrame, idCol: String, nLists: Int, iters: Int,
      hierThreshold: Int = HierRoutingThreshold,
      fineCap: Long = 0L,
      censusProbe: Int = FineCensusProbe): FpRouting =
    if (nLists <= hierThreshold) FlatRouting(lloyd(q, idCol, nLists, iters))
    else {
      val k1 = math.max(2, math.ceil(math.sqrt(nLists.toDouble)).toInt)
      val n = math.max(1L, q.count())
      val sampleMod1 = math.max(1L, n / math.max(40L * k1, 4000L))
      val qs = q
        .filter(pmod(xxhash64(col(idCol).cast("string")), lit(sampleMod1)) === 0)
        .localCheckpoint()
      val cents1 = lloyd(qs, idCol, k1, iters)
      val a1 = assignFp(q, idCol, cents1).select(col(idCol), col("cid").as("c1"))
        .localCheckpoint()
      // fine capacity ∝ cell POPULATION: a uniform per-cell k2 was the
      // measured skew AMPLIFIER — a coarse cell holding 2× the vectors
      // got the same sub-list count, so each of its subs was 2× hot, and
      // fine-list skew COMPOUNDED per decade (max list 1504→2841, pair
      // volume ∝ n^1.7 at the sf1 K=20 rehearsal). Proportional caps
      // equalize expected fine-list size at n·m/nLists no matter how
      // uneven the coarse cells are; the sub-list count still sums to
      // ~nLists. Exact integer arithmetic on exact counts keeps the fit
      // deterministic.
      val pops = a1.groupBy(col("c1")).agg(count(lit(1)).as("__pop"))
      val caps = pops.select(col("c1"),
        greatest(lit(1L),
          ((col("__pop") * lit(nLists.toLong) + lit(n / 2)) / lit(n)).cast("long"))
          .as("__cap"))
        .localCheckpoint()
      val k2max = math.max(2, caps.agg(max(col("__cap"))).head().getLong(0).toInt)
      val byCell = a1.join(q, Seq(idCol))
      val seedW = Window.partitionBy(col("c1")).orderBy(col(idCol))
      val sampleMod2 = math.max(1L, n / math.max(40L * nLists.toLong, 4000L))
      // eager checkpoint: pqLloyd scans its input to seed and once per
      // round — an uncut lineage re-executes the corpus-wide argmin +
      // per-cell window each time (measured as a 10s routing plan over
      // 10k vectors before the cut)
      val fit2 = byCell
        .join(broadcast(caps), Seq("c1"))
        .withColumn("__rn", row_number().over(seedW))
        .filter(col("__rn") <= col("__cap") ||
          pmod(xxhash64(col(idCol).cast("string")), lit(sampleMod2)) === 0)
        .select(col(idCol), col("c1").as("sub"), col("vfp").as("svfp"))
        .localCheckpoint()
      val cents2 = pqLloyd(fit2, idCol, k2max, iters,
        subCaps = Some(caps.select(col("c1").as("sub"), col("__cap"))))
      // auto cap in CENSUS units: 4× the balanced census membership
      // (censusProbe·n/nLists). A tighter multiple (the first cut used
      // 4× balanced OWNERSHIP = 1.33× balanced membership) subdivides
      // ordinary fluctuation — measured as pure overhead on corpora
      // whose volume is not whale-dominated — while genuine whales sit
      // 6-8× above balance and still cross this bar.
      val cap =
        if (fineCap == 0L)
          math.max(FineCapFloor,
            4L * censusProbe * ((n + nLists - 1) / nLists))
        else fineCap
      if (cap >= n) HierRouting(cents1, cents2, k2max)
      else {
        // level 3: MEMBERSHIP census under the frozen two-level tree at
        // the representative probe depth (see FineCensusProbe — whales
        // are realized-membership pileups, not ownership ones), then one
        // grouped Lloyd over the whales only. The census is NOT an extra
        // cost: it is retained on the routing artifact and serves as the
        // fit corpus's own base routing (the common self-build path), so
        // the fit+route total stays one coarse+fine pass either way.
        val census = hierFine(q, idCol, cents1, cents2, k2max, censusProbe)
          .localCheckpoint()
        val withCensus = HierRouting(cents1, cents2, k2max,
          census = Some(census), censusOf = q, censusK = censusProbe)
        val hot = census.groupBy(col("cid")).agg(count(lit(1)).as("__pop"))
          .filter(col("__pop") > cap)
        if (hot.head(1).isEmpty) withCensus
        else {
          // fan-out 4·pop/cap: the sub-refinement keeps up to 2 sub-cells
          // per kept fine membership (sub-boundary pairs survive, the
          // saltedAssignments multi-probe argument), so doubling the
          // nominal pop/cap split keeps per-whale volume ≈ pop·cap even
          // at worst-case membership doubling before the global re-rank
          val caps3 = hot.select(col("cid"),
            greatest(lit(2L), least(col("__pop"),
              ((lit(4L) * col("__pop")) / lit(cap)).cast("long") + 1L))
              .as("__cap"))
            .localCheckpoint()
          val k3max = math.max(2, caps3.agg(max(col("__cap"))).head().getLong(0).toInt)
          val seedW3 = Window.partitionBy(col("cid")).orderBy(col(idCol))
          val fit3 = census.join(broadcast(caps3), Seq("cid"))
            .join(q, Seq(idCol))
            .withColumn("__rn", row_number().over(seedW3))
            .filter(col("__rn") <= col("__cap") ||
              pmod(xxhash64(col(idCol).cast("string")), lit(sampleMod2)) === 0)
            .select(col(idCol), col("cid").as("sub"), col("vfp").as("svfp"))
            .localCheckpoint()
          val cents3 = pqLloyd(fit3, idCol, k3max, iters,
            subCaps = Some(caps3.select(col("cid").as("sub"), col("__cap"))))
            .select(col("sub").as("cid"), col("cid").as("scid"), col("cfp"))
          withCensus.copy(cents3 = Some(cents3), s3 = k3max + 1L)
        }
      }
    }

  /** Top-`nProbe` list memberships per vector under a routing artifact —
    * `(keyCol, cid)`, the one routing entry point every blocking/build
    * shares. Flat: rank all centroids ([[multiProbeAssignFp]]). Hier:
    * rank the k1 coarse cells (n·k1), then rank the nProbe probed cells'
    * sub-centroids TOGETHER and keep the global top-nProbe fine lists
    * (n·nProbe·k2) — the inverted-multi-index routing. Membership per
    * vector is nProbe in both forms, so candidate volume per list is the
    * flat bound; a vector's argmin cell always carries a codebook (the
    * fit's per-cell seed floor), so no vector is orphaned. cid is
    * c1·k2+c2 — unique per (cell, sub-list).
    */
  private def multiProbeRoute(
      q: DataFrame, keyCol: String, routing: FpRouting, nProbe: Int): DataFrame =
    routing match {
      // flat stays FULLY DECLARATIVE (no checkpoint): the registered
      // queries ride this branch and their plan contracts audit the
      // routing window in the final plan; re-evaluation across the
      // self-join arms is one extra broadcast+window at oracle scales.
      // hier checkpoints (below): its plan is deep (two fits + two
      // windows), every consumer reads it 2-4 times, and no oracled
      // query reaches it
      case FlatRouting(cents) =>
        multiProbeAssignFp(q, keyCol, cents, nProbe)
      case h: HierRouting =>
        val fromCensus = h.census.isDefined &&
          (h.censusOf eq q) && nProbe <= h.censusK
        val fine =
          if (!fromCensus) hierFine(q, keyCol, h.cents1, h.cents2, h.k2, nProbe)
          else if (nProbe == h.censusK) h.census.get
          else {
            // the census at a deeper probe SUPERSETS any shallower
            // routing's candidates (its coarse over-probe is wider too,
            // so the filtered top-nProbe can only see MORE near-boundary
            // candidates than a fresh shallow route — recall-neutral or
            // better, still a pure per-vector function of the frozen
            // tree) — one window over checkpointed scalar rows instead
            // of a full coarse+fine re-route
            val w = Window.partitionBy(col(keyCol))
              .orderBy(col("dist_fp"), col("cid"))
            h.census.get.withColumn("__r", row_number().over(w))
              .filter(col("__r") <= nProbe)
              .select(col(keyCol), col("cid"), col("dist_fp"))
          }
        val refined = h.cents3 match {
          case None => fine.select(col(keyCol), col("cid"))
          case Some(c3) =>
            // whale subdivision: memberships in a subdivided fine list
            // refine to their 2 nearest sub-cells (sub-boundary pairs
            // survive — the direction-aware salt argument), then the
            // refined candidate set re-ranks GLOBALLY per vector so
            // membership stays exactly nProbe; unsubdivided memberships
            // pass through at their fine-centroid distance. cid·s3(+scid
            // +1) keeps the two populations disjoint: subdivided lists
            // never emit slot 0, unsubdivided lists only slot 0.
            val dist3c = graft.functions.VectorFunctions.graft_l2sq(col("vfp"), col("scfp"))
            val subW = Window.partitionBy(col(keyCol), col("cid"))
              .orderBy(col("dist3"), col("scid"))
            val gW = Window.partitionBy(col(keyCol))
              .orderBy(col("dist3"), col("cid3"))
            fine.join(q, Seq(keyCol))
              .join(
                broadcast(c3.select(col("cid"), col("scid"), col("cfp").as("scfp"))),
                Seq("cid"), "left")
              .withColumn("dist3",
                when(col("scid").isNull, col("dist_fp")).otherwise(dist3c))
              .withColumn("__rs", row_number().over(subW))
              .filter(col("__rs") <= 2)
              .withColumn("cid3",
                col("cid") * h.s3 +
                  when(col("scid").isNull, lit(0L)).otherwise(col("scid") + 1L))
              .withColumn("__rg", row_number().over(gW))
              .filter(col("__rg") <= nProbe)
              .select(col(keyCol), col("cid3").as("cid"))
        }
        // eager checkpoint: every blocking consumer joins the routing
        // TWICE (the id_a/id_b self-join arms), and the hier plan is
        // deep (two fits + two windows) — n·nProbe two-column rows is
        // the cheapest point to cut it. A census served verbatim with no
        // level 3 is ALREADY cut; don't copy it to local disk again.
        if (h.cents3.isEmpty && fromCensus && nProbe == h.censusK)
          refined
        else refined.localCheckpoint()
    }

  /** The hier router's base (pre-level-3) fine routing:
    * `(keyCol, cid, dist_fp)` — the coarse over-probe + global fine
    * ranking, split out so the fit-time census and any consumer-side
    * re-route share one definition. Probes MORE coarse cells than fine
    * memberships kept (the inverted-multi-index over-probe): near-
    * boundary neighbors that disagree on their rank-2 coarse cell still
    * see each other's fine lists in the global ranking. Measured on the
    * 10×200-cluster fixture at nLists=48/nProbe=2: pair recall 0.786 at
    * coarseProbe=nProbe → 0.92+ at nProbe+2, vs 0.912 for the flat
    * router at the same granularity; membership (and so candidate
    * volume) stays nProbe either way.
    */
  private def hierFine(
      q: DataFrame, keyCol: String, c1: DataFrame, c2: DataFrame, k2: Int,
      nProbe: Int): DataFrame = {
    val coarse = multiProbeAssignFp(q, keyCol, c1, nProbe + 2)
      .withColumnRenamed("cid", "c1")
    val distFp = graft.functions.VectorFunctions.graft_l2sq(col("vfp"), col("cfp"))
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("dist_fp"), col("c1"), col("c2"))
    q.join(coarse, Seq(keyCol))
      .join(
        broadcast(c2.select(col("sub").as("c1"), col("cid").as("c2"), col("cfp"))),
        Seq("c1"))
      .withColumn("dist_fp", distFp)
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") <= nProbe)
      .select(col(keyCol), (col("c1") * k2 + col("c2")).as("cid"), col("dist_fp"))
  }

  /** ONE list per vector under a routing artifact — the IVF
    * corpus-assignment leg. Flat: the exact integer argmin (ties to the
    * lowest cid — unchanged for every oracled granularity). Hier: the
    * top-1 of the global fine ranking within the probed coarse cells —
    * the inverted-multi-index's approximate argmin, recall-pinned rather
    * than exact (candidates are verified/re-ranked exactly downstream in
    * every consumer, so only recall can move).
    */
  private def assignRoute(q: DataFrame, keyCol: String, routing: FpRouting): DataFrame =
    routing match {
      case FlatRouting(cents) =>
        assignFp(q, keyCol, cents).select(col(keyCol), col("cid"))
      case h: HierRouting => multiProbeRoute(q, keyCol, h, 1)
    }

  /** Spec-only: the raw `(id, cid)` memberships under a given routing
    * configuration — for structure diagnostics in SimilaritySpec.
    */
  private[graft] def routeForTest(
      corpus: DataFrame, idCol: String, vecCol: String,
      nLists: Int, nProbe: Int, iters: Int, hierThreshold: Int,
      fineCap: Long = 0L): DataFrame = {
    val c = preparedNonZero(corpus, idCol, vecCol).scopedCache()
    val q = quantizeNormFp(c, idCol).scopedCache()
    multiProbeRoute(
      q, idCol,
      fitRouting(q, idCol, nLists, iters, hierThreshold, fineCap, nProbe), nProbe)
  }

  /** L2-normalized BIGINT-millionth quantization of a [[preparedNonZero]]
    * relation — `(keyCol, vfp)`, the engine-exact input both fixed-point
    * blocking operators share with their oracles.
    */
  private def quantizeNormFp(c: DataFrame, keyCol: String): DataFrame =
    c.select(
      col(keyCol),
      transform(col("vn"), x => round(x * lit(1000000.0)).cast("long")).as("vfp"))

  /** Top-`nProbe` centroid lists per vector by integer squared-L2 (ties to
    * the lowest cid — the first-minimum rule): the multi-probe analogue of
    * [[assignFp]], shared by the fixed-point blocking and IVF routing.
    */
  private def multiProbeAssignFp(
      q: DataFrame,
      keyCol: String,
      cents: DataFrame,
      nProbe: Int): DataFrame = {
    val distFp = graft.functions.VectorFunctions.graft_l2sq(col("vfp"), col("cfp"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("dist_fp"), col("cid"))
    q.join(broadcast(cents), lit(true))
      .withColumn("dist_fp", distFp)
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") <= nProbe)
      .select(col(keyCol), col("cid"))
  }

  /** Salted (hierarchical) blocking for the SKEWED regime the flat blocking
    * cannot survive: when one direction cluster holds a large fraction of
    * the corpus (the one-giant-cluster regime), its k-means list emits
    * |list|²/2 candidates and the flat form goes quadratic no matter how
    * nLists is tuned. The fix follows the [[graft.ops.Merge.lastWinsSalted]]
    * precedent — subdivide the hot key — but a RANDOM salt would sever
    * near-dup pairs across sub-blocks (pairing, unlike aggregation, has no
    * merge step to reunite them), so the salt here is direction-AWARE: every
    * over-full list is re-clustered by a second-level k-means over its own
    * vectors (multi-probed again, so sub-boundary pairs survive), repeating
    * until every block is ≤ maxListSize or maxDepth is hit. Candidate
    * volume is then Σ block² ≤ n·maxListSize — LINEAR in n for a fixed cap
    * — instead of the hot list's quadratic; a block that stops subdividing
    * (all-identical vectors) is a cluster whose TRUE pair output is itself
    * quadratic, so no algorithm does better there. Each level costs one
    * small k-means fit over the still-hot subset plus one shuffle of (id,
    * key) pairs; per-level state is localCheckpointed like the
    * connected-components rounds. Verification is the same exact-cosine
    * join — salting affects recall only (pinned ≥0.95 on the skewed corpus
    * in SimilaritySpec). Measured on the 50%-one-cluster generator
    * (ScaleSmoke `neardupskew`, 2k→4k→8k vectors): flat-blocked candidates
    * 450k→2.0M→10.0M (quadratic), salted 239k→604k→1.1M (≈linear, 9× less
    * at 8k) at 99.5% pair recall.
    */
  def cosineNearDupPairsBlockedSalted(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      nLists: Int = 16,
      nProbe: Int = 2,
      maxListSize: Int = 1000,
      seed: Long = 42L,
      maxIter: Int = 5,
      maxDepth: Int = 3): DataFrame = {
    val c = preparedNonZero(corpus, idCol, vecCol).scopedCache()
    val assigned =
      saltedAssignments(c, idCol, nLists, nProbe, maxListSize, seed, maxIter, maxDepth)
    verifyBlockedPairs(c, idCol, assigned, "k", threshold)
  }

  /** Candidate pairs of the salted blocking (pre-verify) — exposed for the
    * spec/smoke curves, where candidate count is the machine-independent
    * scale metric.
    */
  private[graft] def blockedCandidatesSalted(
      c: DataFrame,
      idCol: String,
      nLists: Int,
      nProbe: Int,
      maxListSize: Int,
      seed: Long,
      maxIter: Int,
      maxDepth: Int): DataFrame = {
    val assigned =
      saltedAssignments(c, idCol, nLists, nProbe, maxListSize, seed, maxIter, maxDepth)
    assigned.select(col(idCol).as("id_a"), col("k"))
      .join(assigned.select(col(idCol).as("id_b"), col("k")), Seq("k"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** The salted blocking's final `(idCol, k)` membership relation — the
    * adaptive-subdivision loop split from the pairing so the verify can
    * score inside the key join ([[verifyBlockedPairs]]).
    */
  private def saltedAssignments(
      c: DataFrame,
      idCol: String,
      nLists: Int,
      nProbe: Int,
      maxListSize: Int,
      seed: Long,
      maxIter: Int,
      maxDepth: Int): DataFrame = {
    require(maxListSize >= nLists, "maxListSize below the sub-split fan-out cannot converge")
    var assigned =
      multiProbeAssign(c.select(col(idCol), col("vn")), idCol, nLists, nProbe, seed, maxIter)
        .select(col(idCol), col("list_id").cast("string").as("k"))
        .localCheckpoint()
    var depth = 0
    var done = false
    while (!done && depth < maxDepth) {
      val hotKeys = assigned.groupBy(col("k")).agg(count(lit(1)).as("m"))
        .filter(col("m") > maxListSize).select(col("k"))
      if (hotKeys.head(1).isEmpty) done = true
      else {
        val hot = assigned.join(broadcast(hotKeys), Seq("k"), "left_semi")
        val hotVecs = c.select(col(idCol), col("vn"))
          .join(hot.select(col(idCol)).distinct(), Seq(idCol), "left_semi")
          .scopedCache()
        // ADAPTIVE fan-out (the large-star trick applied to blocking): split
        // proportionally to the hot population so ONE level usually lands
        // every block under the cap — a fixed small fan-out would need
        // nProbe^depth membership copies to get there, re-inflating the
        // very candidate volume the salt exists to bound
        val hotCount = hotVecs.count()
        val kSub = math.max(nLists.toLong,
          math.min(2L * hotCount / math.max(maxListSize, 1) + 1, hotCount)).toInt
        val sub = multiProbeAssign(hotVecs, idCol, kSub, nProbe, seed + depth + 1, maxIter)
          .withColumnRenamed("list_id", "sub")
        val rehashed = hot.join(sub, Seq(idCol))
          .select(col(idCol), concat(col("k"), lit("/"), col("sub")).as("k"))
        assigned = assigned.join(broadcast(hotKeys), Seq("k"), "left_anti")
          .unionByName(rehashed)
          .localCheckpoint()
        // the eager checkpoint above severed the lineage — the per-level
        // hot cache is dead weight from here on
        hotVecs.unpersist()
        depth += 1
      }
    }
    assigned
  }

  /** Fit an IVF index over a vector corpus — the PERSISTABLE half of
    * [[knnIvfKmeans]], split out so the quantizer fit and the corpus
    * assignment are paid ONCE per corpus version instead of per query
    * batch. Returns two plain relations:
    *
    *  - `centroids` `(list_id, cv: array<double>, chalf: ‖c‖²/2)` — the
    *    nLists normalized-space centroids (tiny: broadcast on search);
    *  - `assigned` `(idCol, v, nrm, list_id)` — every corpus vector with
    *    its predicted list.
    *
    * The operating posture at scale: write `assigned` out
    * `partitionBy("list_id")` and `centroids` alongside; every
    * [[knnIvfSearch]] then reads ONLY its probed lists' partitions (the
    * search derives a static `list_id IN (…)` predicate, so the pruning
    * shows up in the scan, not just the join) — per-query-batch work is
    * the nProbe/nLists fraction of the corpus, while a brute scan re-reads
    * everything every batch. ScaleSmoke's `knncross` section measures the
    * crossover.
    *
    * `fitFraction < 1` fits the k-means quantizer on a Bernoulli sample
    * and assigns the FULL corpus — the standard trick when the corpus is
    * far larger than what centroid estimation needs (quantizer quality
    * depends on the direction distribution, which a sample captures);
    * recall bounds in SimilaritySpec pin the sampled fit too.
    */
  def ivfFitKmeans(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nLists: Int,
      seed: Long = 42L,
      maxIter: Int = 5,
      fitFraction: Double = 1.0): (DataFrame, DataFrame) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val c = prepared(corpus, idCol, vecCol)
      // zero-norm vectors normalize to the zero vector, not a division abort
      .withColumn("vn", transform(col("v"), x => when(col("nrm") > 0, x / col("nrm")).otherwise(lit(0.0))))
      .scopedCache()
    val feat = c.withColumn("features", array_to_vector(col("vn")))
    val fitOn =
      if (fitFraction >= 1.0) feat
      else feat.sample(withReplacement = false, fitFraction, seed)
    val model = new KMeans()
      .setK(nLists).setSeed(seed).setMaxIter(maxIter).setFeaturesCol("features")
      // random init: kmeans|| costs ~2 extra full passes over the corpus and
      // buys nothing here — Lloyd iterations on unit-norm vectors converge to
      // equivalent coarse lists either way (recall checked in SimilaritySpec)
      .setInitMode("random")
      .fit(fitOn)
    val assigned = model
      .transform(feat)
      .select(col(idCol), col("v"), col("nrm"), col("prediction").as("list_id"))
    val spark = corpus.sparkSession
    import spark.implicits._
    val centroids = model.clusterCenters.zipWithIndex.toSeq
      .map { case (ctr, i) => (i, ctr.toArray.toSeq, ctr.toArray.map(x => x * x).sum / 2) }
      .toDF("list_id", "cv", "chalf")
    (centroids, assigned)
  }

  /** Search a fitted IVF index ([[ivfFitKmeans]]'s relations, live or read
    * back from a list-partitioned store): probes rank lists by the SAME
    * objective the k-means assignment minimized — ‖vn − c‖² over
    * NORMALIZED vectors, i.e. maximize vn·c − ‖c‖²/2 (a raw dot against
    * unnormalized centroids is a different metric and can rank a probe's
    * own assignment list below a foreign one, missing even an
    * exact-duplicate neighbor at nProbe=1) — then score EXACT cosine
    * against only their `nProbe` lists' vectors.
    *
    * Scale shape: probes and centroids are broadcast (probes are the
    * SMALL side by contract, as in [[knnBrute]]); the union of probed
    * list ids (≤ nLists values) is collected at PLANNING time and applied
    * as a static `list_id IN (…)` filter, so a store partitioned by
    * `list_id` scans only the probed partitions — the search cost is the
    * probed fraction of the corpus, not a full scan. The subsequent
    * broadcast join carries (probe, pv, list) only; raw corpus vectors
    * never shuffle.
    */
  def knnIvfSearch(
      centroids: DataFrame,
      assigned: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int): DataFrame = {
    val probeLists = ivfProbeLists(centroids, probes, idCol, vecCol, nProbe)
    // planning-time collect (≤ nLists values — the quote-source contract):
    // the static IN predicate is what turns a list-partitioned store scan
    // into a partition-pruned one; on an in-memory frame it is a no-op
    // semantically (the equi join below already restricts to probed lists)
    val probed = probeLists.select(col("list_id")).distinct().collect().map(_.get(0))
    val scored = assigned
      .filter(col("list_id").isin(probed: _*))
      .join(broadcast(probeLists), Seq("list_id"))
      .filter(col(idCol) =!= col("probe_id"))
      .withColumn("sim", cosine(dot(col("pv"), col("v")), col("pn"), col("nrm")))
      .filter(col("sim").isNotNull)
    val w = Window.partitionBy(col("probe_id")).orderBy(col("sim").desc, col(idCol))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col(idCol).as("neighbor_id"), col("sim"), col("rank"))
  }

  /** Rank an [[ivfFitKmeans]] centroid relation per probe and keep each
    * probe's `nProbe` best lists — the coarse ROUTING step of the IVF
    * search, split out so any store keyed by the same lists (the raw
    * `assigned` relation, a PQ-coded copy, an externally-maintained
    * index) can share one routing decision. Probes rank lists by the
    * assignment's own objective (vn·c − ‖c‖²/2 over normalized vectors —
    * see [[knnIvfSearch]]). Returns `(probe_id, pv, pn, list_id)`;
    * broadcast-sized by the probe-batch contract.
    */
  def ivfProbeLists(
      centroids: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      nProbe: Int): DataFrame = {
    val p = prepared(probes, idCol, vecCol)
      .select(col(idCol).as("probe_id"), col("v").as("pv"), col("nrm").as("pn"))
      .withColumn("pvn",
        transform(col("pv"), x => when(col("pn") > 0, x / col("pn")).otherwise(lit(0.0))))
    val probeW = Window.partitionBy(col("probe_id")).orderBy(col("pscore").desc, col("list_id"))
    broadcast(p)
      .join(broadcast(centroids), lit(true))
      .withColumn("pscore", dot(col("pvn"), col("cv")) - col("chalf"))
      .withColumn("prank", row_number().over(probeW))
      .filter(col("prank") <= nProbe)
      .select(col("probe_id"), col("pv"), col("pn"), col("list_id"))
  }

  /** Assign a NEW batch of vectors to an EXISTING quantizer's lists — the
    * INCREMENTAL maintenance of the IVF store: append these rows to the
    * list-partitioned `assigned` relation and the new vectors are
    * immediately searchable, with no quantizer refit and no touch of the
    * banked rows (the same append-only discipline as the dedup posting
    * bank; refresh centroids only at a compaction if direction drift
    * accumulates — searches stay correct either way because candidates
    * are verified by exact cosine). Assignment evaluates the SAME
    * objective as the fit's own predict — argmin ‖vn − c‖² over
    * normalized vectors, i.e. argmax vn·c − ‖c‖²/2, ties to the lowest
    * list id (the first-minimum rule) — pinned equal to the fit's
    * assignment on the whole corpus in SimilaritySpec. One broadcast of
    * the centroids, one narrow pass over the batch; nothing shuffles but
    * the per-vector argmax window keyed on the batch id.
    */
  def ivfAssign(
      centroids: DataFrame,
      batch: DataFrame,
      idCol: String,
      vecCol: String): DataFrame = {
    val c = prepared(batch, idCol, vecCol)
      .withColumn("vn",
        transform(col("v"), x => when(col("nrm") > 0, x / col("nrm")).otherwise(lit(0.0))))
    val w = Window.partitionBy(col(idCol)).orderBy(col("score").desc, col("list_id"))
    c.join(broadcast(centroids), lit(true))
      .withColumn("score", dot(col("vn"), col("cv")) - col("chalf"))
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") === 1)
      .select(col(idCol), col("v"), col("nrm"), col("list_id"))
  }

  /** Maximal-marginal-relevance diversified selection (Carbonell &
    * Goldstein 1998): per query, greedily pick `k` candidates maximizing
    * `λ·rel − (1−λ)·max_sim_to_already_selected` — the standard
    * redundancy-penalizing re-rank for retrieval results and for curating
    * DIVERSE examples out of near-duplicate-heavy candidate pools. First
    * pick is the relevance argmax; every tie breaks to the lowest doc id,
    * so the full selection is deterministic and the registered query's
    * oracle replays the k greedy steps as unrolled CTEs.
    *
    * Inputs: `candidates` `(qidCol, didCol, relCol)` — a per-query
    * candidate pool (top-N of any retrieval stage; N is small by
    * contract); `vectors` keyed by `didCol` supplies the embedding used
    * for the redundancy term (exact cosine; zero-norm candidates have no
    * direction and are dropped, the [[knnBrute]] rule).
    *
    * Shape: the selection loop runs k−1 rounds over QUERY-BATCH-sized
    * relations (|queries|·N rows — never the corpus). The redundancy term
    * is carried forward: remaining candidates keep a running
    * max-sim-to-selected and each round folds in only the NEWEST pick —
    * one cosine per candidate per round, O(k·N) total rather than the
    * naive O(k²·N) re-join of the whole picked set. Rounds
    * localCheckpoint like every iterative operator here. At
    * 100 TB the candidate pool is what a retrieval stage already pays
    * for; MMR adds work bounded by the pool, independent of corpus size.
    *
    * Output: `(qidCol, didCol, relCol, pick_rank)` — the k selections per
    * query in pick order.
    */
  def mmrSelect(
      candidates: DataFrame,
      vectors: DataFrame,
      qidCol: String,
      didCol: String,
      relCol: String,
      vecCol: String,
      k: Int,
      lam: Double): DataFrame = {
    require(k >= 1, "k must be positive")
    require(lam >= 0.0 && lam <= 1.0, "lambda must be in [0, 1]")
    val v = prepared(vectors, didCol, vecCol)
      .filter(col("nrm") > 0)
      .select(col(didCol), col("v"), col("nrm"))
    val c = candidates.select(col(qidCol), col(didCol), col(relCol))
      .join(v, Seq(didCol))
      .scopedCache()
    val w1 = Window.partitionBy(col(qidCol)).orderBy(col(relCol).desc, col(didCol))
    var selected = c.withColumn("__r", row_number().over(w1))
      .filter(col("__r") === 1)
      .select(col(qidCol), col(didCol), col("v"), col("nrm"), col(relCol),
        lit(1L).as("pick_rank"))
      .localCheckpoint()
    // the redundancy term is carried FORWARD: each remaining candidate
    // keeps its running max-sim-to-selected and every round folds in ONLY
    // the newest pick — one cosine per candidate per round (O(k·N) total),
    // where re-joining the whole picked set each round would recompute the
    // already-folded pairs (O(k²·N)). max is exact on doubles, so the
    // incremental greatest() equals the all-pairs max bit-for-bit.
    def simToPick(pick: DataFrame)(rem: DataFrame): DataFrame = rem
      .join(pick.select(col(qidCol), col(didCol).as("__pd"),
        col("v").as("__pv"), col("nrm").as("__pn")), Seq(qidCol))
      .filter(col(didCol) =!= col("__pd"))
      .withColumn("__psim", cosine(dot(col("v"), col("__pv")), col("nrm"), col("__pn")))
    var rem = simToPick(selected)(c)
      .withColumn("__maxsim", col("__psim"))
      .drop("__pd", "__pv", "__pn", "__psim")
      .localCheckpoint()
    for (t <- 2 to k) {
      val wt = Window.partitionBy(col(qidCol)).orderBy(col("__mmr").desc, col(didCol))
      val pick = rem
        .withColumn("__mmr", lit(lam) * col(relCol) - lit(1.0 - lam) * col("__maxsim"))
        .withColumn("__r", row_number().over(wt))
        .filter(col("__r") === 1)
        .select(col(qidCol), col(didCol), col("v"), col("nrm"), col(relCol),
          lit(t.toLong).as("pick_rank"))
        .localCheckpoint()
      selected = selected.unionByName(pick)
      if (t < k)
        rem = simToPick(pick)(rem)
          .withColumn("__maxsim", greatest(col("__maxsim"), col("__psim")))
          .drop("__pd", "__pv", "__pn", "__psim")
          .localCheckpoint()
    }
    selected.select(col(qidCol), col(didCol), col(relCol), col("pick_rank"))
  }

  /** Greedy k-center (farthest-first traversal) coreset selection: pick
    * the smallest-id vector, then k−1 times the vector FARTHEST from the
    * already-picked set — the classic 2-approximation of the metric
    * k-center cover, and the diversity-maximizing dual of [[mmrSelect]]'s
    * relevance/novelty trade (here there is no relevance: pure coverage,
    * the "spread representatives for labeling/eval" selector).
    *
    * Same carry-forward shape as MMR: each remaining vector keeps its
    * running MIN squared-L2 to the picked set and every round folds in
    * ONLY the newest pick (`least` is exact on the integer distances), so
    * the cost is one 1-row broadcast cross + one narrow `graft_l2sq` scan
    * + one TakeOrdered argmax per round — O(k·N·d) total, no pairwise
    * relation ever materializes. Distances are order-free BIGINT sums
    * over millionth-quantized coordinates (the k-means fixed-point
    * recipe), so the DuckDB oracle replays every round bit-for-bit.
    *
    * Output: (idCol, pick_rank 1..k, radius_sq) where radius_sq is the
    * pick's distance to the set at pick time (NULL for the seed) — the
    * non-increasing k-center radius sequence, the coverage diagnostic.
    */
  def kCenterSelect(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    val v = quantizeFp(vecs, idCol, vecCol).scopedCache()
    val distFp = graft.functions.VectorFunctions.graft_l2sq(col("vfp"), col("__pv"))
    def crossPick(rel: DataFrame, pick: DataFrame): DataFrame = rel
      .crossJoin(broadcast(
        pick.select(col(idCol).as("__pid"), col("vfp").as("__pv"))))
      .filter(col(idCol) =!= col("__pid"))
      .withColumn("__d", distFp)
      .drop("__pid", "__pv")
    var pick = v.orderBy(col(idCol)).limit(1)
      .select(col(idCol), col("vfp"), lit(1L).as("pick_rank"),
        lit(null).cast("long").as("radius_sq"))
      .localCheckpoint()
    var selected = pick
    var rem = crossPick(v, pick)
      .withColumnRenamed("__d", "__mind")
      .localCheckpoint()
    for (t <- 2 to k) {
      pick = rem.orderBy(col("__mind").desc, col(idCol)).limit(1)
        .select(col(idCol), col("vfp"), lit(t.toLong).as("pick_rank"),
          col("__mind").as("radius_sq"))
        .localCheckpoint()
      selected = selected.unionByName(pick)
      if (t < k)
        rem = crossPick(rem, pick)
          .withColumn("__mind", least(col("__mind"), col("__d")))
          .drop("__d")
          .localCheckpoint()
    }
    selected.select(col(idCol), col("pick_rank"), col("radius_sq"))
  }

  /** kNN-Shapley data valuation (the closed-form exact Shapley value of
    * each training point under the K-nearest-neighbor utility, Jia et
    * al., PVLDB 12(11) 2019): for each labeled probe, training points
    * sort by distance and the value telescopes from the farthest point
    * inward — s_N = 𝟙[y_N = y_probe]/N, s_i = s_{i+1} +
    * (𝟙[y_i = y] − 𝟙[y_{i+1} = y])·min(K,i)/(K·i) — so one ranked pass
    * computes what naive Shapley needs 2^N coalitions for. The per-probe
    * values sum over the probe panel: points that pull K-NN toward
    * correct predictions value high, mislabeled/outlier points go
    * NEGATIVE — the "which training data helps vs hurts" curation signal.
    *
    * Fixed-point discipline: distances are order-free BIGINT squared-L2
    * on millionth-quantized coordinates; each telescoping step quantizes
    * to nano-units with TRUNCATED integer division before summation
    * ((𝟙ᵢ−𝟙ᵢ₊₁)·((min(K,i)·10⁹) div (K·i))), so the suffix accumulation
    * is an integer window sum — exact under ANY evaluation order, which
    * is what lets engines with segment-tree window aggregation (DuckDB)
    * hash-match Spark's running accumulation.
    *
    * Shape: |probes|·N scored rows (the knnBrute posture — the probe
    * panel is small and BOUNDED by contract); ranking and the suffix sum
    * partition per probe, and the final per-point reduction is one
    * id-keyed aggregate. Output: (idCol, shap_fp) with shap_fp the
    * nano-unit sum over the panel.
    *
    * PRECONDITION — shared id namespace: train and probes must draw ids
    * from the same keyspace (the knnBrute convention). Leave-self-out
    * filters on raw id equality, so a probe id that COINCIDENTALLY equals
    * an unrelated train id silently drops that valid neighbor (and
    * shrinks that probe's N) with no error. Callers mixing id universes
    * must re-key one side first; the registered query's %50 id-split
    * satisfies the precondition by construction.
    */
  def knnShapley(
      train: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      kNeigh: Int): DataFrame = {
    require(kNeigh >= 1, "K must be positive")
    def fp(v: Column) = transform(v, x => round(x.cast("double") * lit(1000000.0)).cast("long"))
    val t = train.select(
      col(idCol), fp(col(vecCol)).as("vfp"), col(labelCol).cast("long").as("__y"))
    val p = probes.select(
      col(idCol).as("__pid"), fp(col(vecCol)).as("__pv"),
      col(labelCol).cast("long").as("__py"))
    val w = Window.partitionBy(col("__pid")).orderBy(col("__dist"), col(idCol))
    val wDesc = Window.partitionBy(col("__pid")).orderBy(col("__i").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // self-match exclusion (the knnBrute convention): a probe that also
    // appears in train would rank itself at distance 0 with a guaranteed
    // label agreement, inflating its own value — filtered so callers with
    // overlapping relations get leave-self-out semantics (no-op when the
    // panels are disjoint, as the registered query's id-split is)
    t.crossJoin(broadcast(p))
      .filter(col(idCol) =!= col("__pid"))
      .withColumn("__dist", graft.functions.VectorFunctions.graft_l2sq(col("vfp"), col("__pv")))
      .withColumn("__i", row_number().over(w).cast("long"))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("__pid"))))
      .withColumn("__ind", (col("__y") === col("__py")).cast("long"))
      .withColumn("__nind", lead(col("__ind"), 1).over(w))
      .withColumn("__dfp",
        when(col("__nind").isNull, lit(0L))
          .otherwise((col("__ind") - col("__nind")) *
            expr(s"(least($kNeigh, __i) * 1000000000L) div (${kNeigh}L * __i)")))
      .withColumn("__sfp",
        sum(col("__dfp")).over(wDesc) +
          first(col("__ind")).over(wDesc) * expr("1000000000L div __n"))
      .groupBy(col(idCol))
      .agg(sum(col("__sfp")).as("shap_fp"))
  }

  /** IVF approximate top-k with k-means coarse quantization — the
    * self-contained composition of [[ivfFitKmeans]] + [[knnIvfSearch]]
    * (fit per call; an operating deployment persists the fit and calls
    * the search directly, which is where IVF actually beats the brute
    * scan — re-paying the fit per query batch is the measured own-goal
    * the split removes).
    */
  def knnIvfKmeans(
      corpus: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nLists: Int,
      nProbe: Int,
      seed: Long = 42L,
      maxIter: Int = 5): DataFrame = {
    val (centroids, assigned) = ivfFitKmeans(corpus, idCol, vecCol, nLists, seed, maxIter)
    knnIvfSearch(centroids, assigned, probes, idCol, vecCol, k, nProbe)
  }

  /** SRP-LSH approximate top-k: sign-random-projection signatures (Charikar
    * SimHash for real vectors) with banding. Each vector gets an `nBits`-bit
    * signature — bit b is the sign of its dot product with a fixed
    * seed-deterministic Gaussian hyperplane — split into `nBands` bands;
    * probes only score corpus vectors sharing at least one band bucket,
    * then candidates are ranked by EXACT cosine (LSH affects recall only,
    * never the correctness of returned scores).
    *
    * Scale shape vs [[knnIvf]]: no training pass at all — the signature is
    * one codegen'd projection (nBits native dot kernels against literal
    * hyperplanes), so the corpus streams once with no driver state; the
    * banded join is an equi shuffle-hash join on (band, value) carrying
    * (id, bucket) pairs, never vectors; probes stay broadcast. P(band
    * match) = (1 − θ/π)^(nBits/nBands) per band — tune nBands up for
    * recall, down for candidate volume.
    */
  def knnLshSrp(
      corpus: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      dim: Int,
      nBits: Int = 64,
      nBands: Int = 8,
      seed: Long = 42L): DataFrame =
    knnLshSrpSearch(
      srpIndex(corpus, idCol, vecCol, dim, nBits, seed).scopedCache(),
      probes, idCol, vecCol, k, dim, nBits, nBands, seed)

  /** The seed-deterministic Gaussian hyperplanes behind the SRP signature —
    * ONE definition shared by index build, probe signing AND the DuckDB
    * oracle: `java.util.Random`'s LCG + nextGaussian are spec-pinned, so the
    * same (dim, nBits, seed) always regenerates the identical doubles, and
    * an oracle that embeds `srpPlanes(...)` as literals replays the exact
    * plan (Double.toString round-trips, so the SQL literal parses back to
    * the bit-identical double).
    */
  def srpPlanes(dim: Int, nBits: Int, seed: Long): Array[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(nBits)(Array.fill(dim)(rng.nextGaussian()))
  }

  private def srpSignature(dim: Int, nBits: Int, seed: Long)(v: Column): Column = {
    val planes = srpPlanes(dim, nBits, seed)
    planes.zipWithIndex.map { case (h, b) =>
      when(dot(v, typedlit(h.toSeq)) >= 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
  }

  /** The PERSISTABLE half of [[knnLshSrp]]: the corpus with its `nBits`-bit
    * sign-random-projection signature — `(idCol, v, nrm, sig)`. Computing
    * the signature is the expensive part of the SRP scheme (nBits dot
    * products per vector, one full corpus pass); an operating deployment
    * writes this relation once per corpus version and every
    * [[knnLshSrpSearch]] reads it back, paying only the banded bucket join
    * and the output-sized exact verify per query batch. Unlike the IVF
    * store the per-search scan is still O(corpus) rows — but of trivial
    * per-row work (bit slicing), not nBits dot products; IVF is the
    * sublinear-scan path, SRP the no-training-pass one.
    */
  def srpIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      nBits: Int = 64,
      seed: Long = 42L): DataFrame =
    prepared(corpus, idCol, vecCol)
      .withColumn("sig", srpSignature(dim, nBits, seed)(col("v")))

  /** Search an SRP signature index ([[srpIndex]]'s relation, live or read
    * back from a store): probes get signatures from the SAME
    * seed-deterministic hyperplanes, candidates come from shared band
    * buckets, and candidates are ranked by EXACT cosine (LSH affects
    * recall only, never the correctness of returned scores).
    */
  def knnLshSrpSearch(
      indexed: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      dim: Int,
      nBits: Int = 64,
      nBands: Int = 8,
      seed: Long = 42L): DataFrame = {
    require(nBits % nBands == 0 && nBits <= 64, "nBands must divide nBits ≤ 64")
    val bandBits = nBits / nBands
    // bandBits = 64 would wrap the mask (1L << 64 == 1L in JVM shift
    // semantics), making every vector share one bucket — a full cross join
    require(bandBits < 64, "need nBands >= 2 for a 64-bit signature")
    val signature = srpSignature(dim, nBits, seed) _
    val c = indexed
    val p = prepared(probes, idCol, vecCol)
      .select(col(idCol).as("probe_id"), col("v").as("pv"), col("nrm").as("pn"))
      .withColumn("psig", signature(col("pv")))
    val bucketOf = (sig: Column) => explode(transform(
      sequence(lit(0), lit(nBands - 1)),
      b => concat(
        b.cast("string"), lit(":"),
        call_function("shiftright", sig, (b * bandBits).cast("int"))
          .bitwiseAND(lit((1L << bandBits) - 1)).cast("string"))))
    val cb = c.select(col(idCol), bucketOf(col("sig")).as("bucket"))
    val pb = p.select(col("probe_id"), bucketOf(col("psig")).as("bucket"))
    val candidates = cb.join(broadcast(pb), Seq("bucket"))
      .filter(col(idCol) =!= col("probe_id"))
      .select(col("probe_id"), col(idCol)).distinct()
    val scored = candidates
      .join(c.select(col(idCol), col("v"), col("nrm")), Seq(idCol))
      .join(broadcast(p.select(col("probe_id"), col("pv"), col("pn"))), Seq("probe_id"))
      .withColumn("sim", cosine(dot(col("pv"), col("v")), col("pn"), col("nrm")))
      .filter(col("sim").isNotNull)
    val w = Window.partitionBy(col("probe_id")).orderBy(col("sim").desc, col(idCol))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col(idCol).as("neighbor_id"), col("sim"), col("rank"))
  }

  /** IVF approximate top-k (MLlib-free variant). Coarse "centroids" are a
    * deterministic hash-ranked corpus subset — the `nLists` vectors with
    * the smallest xxhash64(id), a uniform pseudo-random pick that is
    * independent of the id distribution (an id-modulo stride would
    * silently select zero centroids when ids are sparse or share a common
    * factor with the stride) and costs one TakeOrdered, never a global
    * sort. See [[knnIvfKmeans]] for the fitted version. Every corpus
    * vector is assigned to its nearest centroid (its list); probes search
    * only their `nProbe` nearest lists.
    */
  def knnIvf(
      corpus: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nLists: Int,
      nProbe: Int): DataFrame = {
    val c = prepared(corpus, idCol, vecCol).scopedCache()
    val centroids = c
      .orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(nLists)
      .select(col(idCol).as("list_id"), col("v").as("cv"), col("nrm").as("cn"))
    // nearest-list assignment for every corpus vector: rank centroids per vector
    val assignW = Window.partitionBy(col(idCol)).orderBy(col("csim").desc, col("list_id"))
    val assigned = c
      .join(broadcast(centroids), lit(true))
      .withColumn("csim", cosine(dot(col("cv"), col("v")), col("cn"), col("nrm")))
      .withColumn("crank", row_number().over(assignW))
      .filter(col("crank") === 1)
      .select(col(idCol), col("v"), col("nrm"), col("list_id"))
    // probes pick their nProbe closest lists
    val p = prepared(probes, idCol, vecCol)
      .select(col(idCol).as("probe_id"), col("v").as("pv"), col("nrm").as("pn"))
    val probeW = Window.partitionBy(col("probe_id")).orderBy(col("psim").desc, col("list_id"))
    val probeLists = broadcast(p)
      .join(broadcast(centroids), lit(true))
      .withColumn("psim", cosine(dot(col("cv"), col("pv")), col("cn"), col("pn")))
      .withColumn("prank", row_number().over(probeW))
      .filter(col("prank") <= nProbe)
      .select(col("probe_id"), col("pv"), col("pn"), col("list_id"))
    // search only the selected lists
    val scored = assigned
      .join(broadcast(probeLists), Seq("list_id"))
      .filter(col(idCol) =!= col("probe_id"))
      .withColumn("sim", cosine(dot(col("pv"), col("v")), col("pn"), col("nrm")))
      .filter(col("sim").isNotNull)
    val w = Window.partitionBy(col("probe_id")).orderBy(col("sim").desc, col(idCol))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col(idCol).as("neighbor_id"), col("sim"), col("rank"))
  }

  /** HNSW-style layered-graph ANN (Malkov & Yashunin 2018, "Efficient and
    * robust approximate nearest neighbor search using Hierarchical
    * Navigable Small World graphs" — restated relationally): the
    * high-recall complement to the IVF/LSH/PQ family. The paper's
    * insert-one-point-at-a-time construction is inherently sequential, so
    * the BUILD here is declarative:
    *
    *  - LEVELS: node n sits on every layer l ≤ lvl(n), where lvl(n) is
    *    the largest l ≤ maxLevel with H(n) mod 2^l == 0 and H is the
    *    md5-15-hex id hash — the paper's geometric level law
    *    (P[lvl ≥ l] = 2^-l) made integer-deterministic so both engines
    *    replay it.
    *  - EDGES: ONE fixed-point k-means fit (the blocked near-dup
    *    quantizer) multi-probes every vector into its nProbe closest
    *    lists; per layer, same-list co-members ON THAT LAYER are the
    *    candidates, and each node keeps its mNeighbors best by exact
    *    INTEGER dot over the normalized micro-quantized vectors (directed
    *    lists, ties to the lower id). Candidate volume is the
    *    blocked-pairs bound (Σ list² with multi-probe overlap) — never
    *    all-pairs — and upper layers shrink geometrically.
    *  - ENTRY: the max-level node (ties to the lowest id) — one row.
    *
    * SEARCH is the paper's descent as bounded unrolled joins (the
    * k-core/CC discipline — one localCheckpoint per round): greedy width-1
    * hops down layers maxLevel→1 (roundsUpper hops per layer), then
    * rounds0 beam rounds at layer 0 with width `ef`; each round expands
    * the beam through the layer's (src, dst) edge relation, rescores by
    * integer dot, keeps the probe-keyed top-width. The fixed round budget
    * replaces the paper's run-until-no-improvement (the bounded-round
    * semantics every iterative operator here uses); the spec pins recall
    * against brute force.
    *
    * 100 TB shape: adjacency is n·mNeighbors rows per layer, bucketable
    * by src; per search round the moving state is |probes|·ef rows
    * BROADCAST into one equi-join against the edge relation and one
    * id-equi-join against the vector store — raw corpus vectors never
    * shuffle after the one-time build, and rounds are independent of
    * corpus size. Output matches the IVF family: (probe_id, neighbor_id,
    * sim, rank), sim the exact double cosine.
    */
  def knnHnsw(
      corpus: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      maxLevel: Int = 3,
      mNeighbors: Int = 10,
      nLists: Int = 16,
      nProbe: Int = 3,
      iters: Int = 2,
      ef: Int = 16,
      roundsUpper: Int = 1,
      rounds0: Int = 4,
      fineCap: Long = 0L): DataFrame = {
    require(maxLevel >= 1 && mNeighbors >= 1 && ef >= k, "degenerate HNSW shape")
    val c = preparedNonZero(corpus, idCol, vecCol).scopedCache()
    val q = quantizeNormFp(c, idCol).scopedCache()
    val routing = hnswPh("lloyd") {
      fitRouting(q, idCol, nLists, iters, fineCap = fineCap, censusProbe = nProbe)
    }
    // NOT checkpointed: the routing underneath is (n·nProbe scalar rows,
    // already cut), so each of the 4 level aggregates re-runs only the
    // cid equi-join + dot — cheaper than writing the pair-scale relation
    // (now carrying its multi-probe duplicates) to local disk once
    val scored0 = hnswPh("scored0") { hnswScoredPairs(q, q, idCol, routing, nProbe) }
    val state = hnswAdjState(scored0, maxLevel, mNeighbors)
    hnswSearch(c, q, probes, idCol, vecCol, state, k, maxLevel, ef, roundsUpper, rounds0)
  }

  private def hnswHash(cc: Column): Column =
    conv(substring(md5(cc.cast("string")), 1, 15), 16, 10).cast("long")

  /** The HNSW working-row shape `(idCol, v, nrm, vfp)` — raw doubles for
    * the exact-cosine output leg plus the micro-quantized integer vector
    * for every build/search decision. The streaming maintainer persists
    * exactly this relation per batch (vectors are the additive,
    * id-idempotent state; the adjacency is derived).
    */
  private[graft] def hnswPrep(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    prepared(df, idCol, vecCol)
      .filter(col("nrm") > 0)
      .select(col(idCol), col("v"), col("nrm"),
        // inline (x / nrm) * 1e6 — the same double-op sequence as
        // preparedNonZero∘quantizeNormFp, without the dropped `vn`
        // alias whose inferred constraint trips streaming batch plans
        // (QueryPlanConstraints "key not found" on the pruned attribute)
        transform(col("v"),
          x => round(x / col("nrm") * lit(1000000.0)).cast("long")).as("vfp"))

  /** The frozen-quantizer fit for the HNSW family — the engine-exact
    * integer Lloyd over the normalized micro-quantized corpus, exposed so
    * an operating deployment (and the streaming maintainer's equality
    * spec) can train ONCE and hold the centroids across increments.
    * Deterministic: the same corpus always yields the same centroids, so
    * this equals [[knnHnsw]]'s internal fit on that corpus.
    */
  def hnswFitCentroids(
      corpus: DataFrame, idCol: String, vecCol: String,
      nLists: Int = 16, iters: Int = 2): DataFrame =
    lloyd(quantizeNormFp(preparedNonZero(corpus, idCol, vecCol), idCol),
      idCol, nLists, iters)

  /** [[hnswScoredPairs]] over `(id, vfp)` relations with externally-held
    * centroids — the streaming maintainer's pair-block generator.
    */
  private[graft] def hnswScoredPairsFor(
      qa: DataFrame, qb: DataFrame, idCol: String,
      cents: DataFrame, nProbe: Int): DataFrame =
    hnswScoredPairs(qa, qb, idCol, FlatRouting(cents), nProbe)

  /** [[hnswSearch]] over an externally-maintained `(id, v, nrm, vfp)`
    * relation and adjacency state — the streaming maintainer's query leg.
    */
  private[graft] def hnswSearchOver(
      rel: DataFrame, probes: DataFrame, idCol: String, vecCol: String,
      state: DataFrame, k: Int, maxLevel: Int, ef: Int,
      roundsUpper: Int, rounds0: Int): DataFrame =
    hnswSearch(
      rel.select(col(idCol), col("v"), col("nrm")),
      rel.select(col(idCol), col("vfp")),
      probes, idCol, vecCol, state, k, maxLevel, ef, roundsUpper, rounds0)

  /** Env-gated phase timer for the HNSW build (SPARK_GRAFT_HNSW_DEBUG). */
  private def hnswPh[A](tag: String)(f: => A): A =
    if (!sys.env.contains("SPARK_GRAFT_HNSW_DEBUG")) f
    else {
      val t0 = System.nanoTime; val r = f
      println(f"HNSWPHASE $tag ${(System.nanoTime - t0) / 1e9}%.2f"); r
    }

  /** Directed scored candidate pairs src ∈ qa → dst ∈ qb sharing a probed
    * list under the FROZEN quantizer `cents`, annotated with both
    * endpoints' level hashes (pure functions of the id, so layer
    * adjacencies are FILTERS over this relation, never membership joins).
    * The one-shot build calls this with qa = qb = the whole corpus; the
    * incremental fold calls it per (batch×store / store×batch /
    * batch×batch) block — list routing is a per-vector function, so the
    * union corpus's candidate set decomposes EXACTLY into these blocks.
    */
  private def hnswScoredPairs(
      qa: DataFrame, qb: DataFrame, idCol: String,
      routing: FpRouting, nProbe: Int): DataFrame = {
    // vectors travel WITH their (id, cid) routing rows into the cid
    // equi-join (n·nProbe rows — the only array-carrying shuffle), and
    // dots are computed INSIDE the join so the pair-scale relation that
    // comes out carries only (src, dst, sim, hashes) — attaching arrays
    // to the pair relation afterwards would shuffle |pairs|·dim values
    // and is exactly what overflowed local disk at the sf1 smoke's 20k
    // decade. Probe-overlap duplicates score identically (the dot is a
    // pure function of the pair) and are NOT pre-deduplicated here: every
    // consumer folds pairs through the id-dedup top-M heap
    // (TopKDistinctAggregator), which collapses them in O(M) memory per
    // group — the r11 pair-wide `distinct` was a 22.5M-row hash
    // aggregate that spilled at the sf1 smoke's 16 GiB heap for work the
    // heap's map-side partials already do
    val routedA = multiProbeRoute(qa, idCol, routing, nProbe).join(qa, Seq(idCol))
    // the self-build (qa eq qb) routes the corpus ONCE — routing is the
    // build's granularity-scaled term (n·k flat, n·√k hier), not worth
    // paying twice for the two join arms
    val routedB =
      if (qb eq qa) routedA
      else multiProbeRoute(qb, idCol, routing, nProbe).join(qb, Seq(idCol))
    val qa2 = routedA.select(col(idCol).as("src"), col("cid"), col("vfp").as("svfp"))
    val qb2 = routedB.select(col(idCol).as("dst"), col("cid"), col("vfp").as("dvfp"))
    qa2.join(qb2, Seq("cid"))
      .filter(col("src") =!= col("dst"))
      .select(
        col("src"), col("dst"),
        graft.functions.VectorFunctions.graft_dotfp(col("svfp"), col("dvfp")).as("sim_fp"),
        hnswHash(col("src")).as("hsrc"),
        hnswHash(col("dst")).as("hdst"))
  }

  /** The maintainable HNSW adjacency STATE: per layer (lvl ≤ maxLevel),
    * each node's top-M candidates WITH their scores —
    * `(lvl, src, dst, sim_fp)`. Keeping sim_fp makes the relation a
    * bounded-max monoid per (lvl, src) (the KMV min-k argument): folding
    * new scored pairs in with [[hnswMergeAdjState]] is EXACTLY the
    * from-scratch top-M over the union candidate set, because a candidate
    * outside a top-M can never re-enter once MORE candidates arrive.
    * Top-M rides the heap aggregator (map-side combine — never a pair-set
    * sort); sim_fp ≤ 1e12 < 2^53 so the Double-scored heap preserves the
    * exact integer order (ties to the lower dst).
    */
  def hnswAdjState(scored: DataFrame, maxLevel: Int, mNeighbors: Int): DataFrame = {
    // id-dedup heap: the scored pair relation keeps its multi-probe
    // duplicates (equal-score by construction), and collapsing them here
    // costs O(M) per group instead of a pair-wide distinct
    val topM = udaf(new graft.functions.TopKDistinctAggregator(mNeighbors))
    (0 to maxLevel).map { l =>
      hnswPh(s"adj$l") {
        scored
          .filter(col("hsrc") % lit(1L << l) === 0 && col("hdst") % lit(1L << l) === 0)
          .groupBy(col("src"))
          .agg(topM(col("sim_fp").cast("double"), col("dst")).as("top"))
          .select(lit(l).as("lvl"), col("src"), explode(col("top")).as("e"))
          .select(col("lvl"), col("src"), col("e.id").as("dst"),
            col("e.score").cast("long").as("sim_fp"))
          .localCheckpoint()
      }
    }.reduce(_ unionByName _)
  }

  /** Fold newly-arrived scored pairs into an adjacency state — exact by
    * the bounded-max monoid argument on [[hnswAdjState]] (top-M of
    * (state ∪ new) per (lvl, src) = from-scratch top-M over all pairs
    * ever seen, under the SAME frozen quantizer). The per-batch cost is
    * governed by the batch's pair blocks, never the store size.
    */
  def hnswMergeAdjState(
      state: DataFrame, newScored: DataFrame,
      maxLevel: Int, mNeighbors: Int): DataFrame = {
    // the id-DEDUP heap makes the fold idempotent on PAIRS, not rows: an
    // at-least-once re-delivery (or a multi-probe/block overlap) presents
    // a (lvl, src, dst) already in the state, and a plain heap would let
    // the duplicate occupy TWO of the M slots and evict a genuinely
    // distinct neighbor (the r11 replay-no-op spec caught exactly that).
    // sim_fp is functional on the pair, so dedup-by-dst inside the
    // (lvl, src) group is dedup-by-pair — in O(M) memory, replacing the
    // r11 pair-wide dropDuplicates hash aggregate
    val topM = udaf(new graft.functions.TopKDistinctAggregator(mNeighbors))
    val newLeveled = (0 to maxLevel).map { l =>
      newScored
        .filter(col("hsrc") % lit(1L << l) === 0 && col("hdst") % lit(1L << l) === 0)
        .select(lit(l).as("lvl"), col("src"), col("dst"), col("sim_fp"))
    }.reduce(_ unionByName _)
    state.select(col("lvl"), col("src"), col("dst"), col("sim_fp"))
      .unionByName(newLeveled)
      .groupBy(col("lvl"), col("src"))
      .agg(topM(col("sim_fp").cast("double"), col("dst")).as("top"))
      .select(col("lvl"), col("src"), explode(col("top")).as("e"))
      .select(col("lvl"), col("src"), col("e.id").as("dst"),
        col("e.score").cast("long").as("sim_fp"))
      .localCheckpoint()
  }

  /** The HNSW descent over a built adjacency state: greedy width-1 hops
    * down layers maxLevel→1, then rounds0 beam rounds at width ef on
    * layer 0, exact-cosine top-k at the end — see [[knnHnsw]] for the
    * full contract.
    */
  private def hnswSearch(
      c: DataFrame, q: DataFrame, probes: DataFrame,
      idCol: String, vecCol: String, state: DataFrame,
      k: Int, maxLevel: Int, ef: Int, roundsUpper: Int, rounds0: Int): DataFrame = {
    val adj: Map[Int, DataFrame] = (0 to maxLevel).map { l =>
      l -> state.filter(col("lvl") === l).select(col("src"), col("dst"))
    }.toMap
    val hashes = q.select(col(idCol), hnswHash(col(idCol)).as("h"))
    val lvlOf = (1 to maxLevel)
      .map(l => when(col("h") % lit(1L << l) === 0, 1).otherwise(0))
      .reduce(_ + _)
    val entry = hashes.withColumn("lvl", lvlOf)
      .orderBy(col("lvl").desc, col(idCol)).limit(1)
      .select(col(idCol).as("node"))
    val p = preparedNonZero(probes, idCol, vecCol).scopedCache()
    val pq = quantizeNormFp(p, idCol)
      .select(col(idCol).as("probe_id"), col("vfp").as("pvfp")).scopedCache()
    // beam seeding: every probe starts at the one entry node — the 1-row
    // broadcast cross (the declared bounded pattern)
    var beam = pq.select(col("probe_id")).join(broadcast(entry), lit(true))
    def round(b: DataFrame, layer: Int, width: Int): DataFrame = {
      val grown = b.select(col("probe_id"), col("node"))
        .unionByName(
          b.join(adj(layer), b("node") === adj(layer)("src"))
            .select(col("probe_id"), col("dst").as("node")))
        .distinct()
      val w = Window.partitionBy(col("probe_id")).orderBy(col("sim_fp").desc, col("node"))
      // every round is localCheckpointed: the beam feeds the NEXT round
      // twice (union left arm + expansion join), so an uncut lineage
      // re-executes the whole prior descent 2^depth times
      q.join(broadcast(grown), q(idCol) === grown("node"))
        .join(broadcast(pq), Seq("probe_id"))
        .withColumn("sim_fp",
          graft.functions.VectorFunctions.graft_dotfp(col("pvfp"), col("vfp")))
        .withColumn("__r", row_number().over(w))
        .filter(col("__r") <= width)
        .select(col("probe_id"), col("node"))
        .localCheckpoint()
    }
    for (l <- maxLevel to 1 by -1; _ <- 1 to roundsUpper)
      beam = hnswPh(s"round-l$l") { round(beam, l, 1) }
    for (r <- 1 to rounds0)
      beam = hnswPh(s"round-0.$r") { round(beam, 0, ef) }
    val out = beam
      .join(c.select(col(idCol).as("node"), col("v").as("nv"), col("nrm").as("nn")), "node")
      .join(p.select(col(idCol).as("probe_id"), col("v").as("pv"), col("nrm").as("pn")),
        "probe_id")
      .filter(col("node") =!= col("probe_id"))
      .withColumn("sim", cosine(dot(col("pv"), col("nv")), col("pn"), col("nn")))
      .filter(col("sim").isNotNull)
    val w = Window.partitionBy(col("probe_id")).orderBy(col("sim").desc, col("node"))
    out.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("node").as("neighbor_id"), col("sim"), col("rank"))
  }

  /** [[knnHnsw]] with the build split into the OPERATING increments: the
    * layered adjacency state is built from the store partition's pairs,
    * then the batch partition folds in via [[hnswMergeAdjState]] (pair
    * blocks batch×store, store×batch, batch×batch — never store×store
    * again), and the search runs over the merged state. With the
    * quantizer FROZEN across the fold (trained once; operationally on
    * whatever corpus version last refit), the result is EXACTLY
    * [[knnHnsw]]'s on the union corpus — the registered q_ann_hnsw_incr
    * shares q_ann_hnsw's oracle verbatim on that contract. A
    * re-clustering refit is a scheduled full rebuild, the same posture as
    * the IVF fitted-index split.
    */
  def knnHnswStaged(
      corpus: DataFrame,
      batchPred: Column,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      maxLevel: Int = 3,
      mNeighbors: Int = 10,
      nLists: Int = 16,
      nProbe: Int = 3,
      iters: Int = 2,
      ef: Int = 16,
      roundsUpper: Int = 1,
      rounds0: Int = 4,
      fineCap: Long = 0L): DataFrame = {
    val c = preparedNonZero(corpus, idCol, vecCol).scopedCache()
    val q = quantizeNormFp(c, idCol).scopedCache()
    // same adaptive routing as the one-shot build, fit on the SAME union
    // corpus — routing stays a per-vector function of the frozen tree, so
    // the pair blocks below decompose the union candidate set exactly
    val routing = fitRouting(q, idCol, nLists, iters, fineCap = fineCap, censusProbe = nProbe)
    val qStore = q.filter(!batchPred)
    val qBatch = q.filter(batchPred)
    val storeState = hnswAdjState(
      hnswScoredPairs(qStore, qStore, idCol, routing, nProbe).localCheckpoint(),
      maxLevel, mNeighbors)
    val newPairs = hnswScoredPairs(qBatch, qStore, idCol, routing, nProbe)
      .unionByName(hnswScoredPairs(qStore, qBatch, idCol, routing, nProbe))
      .unionByName(hnswScoredPairs(qBatch, qBatch, idCol, routing, nProbe))
      .localCheckpoint()
    val merged = hnswMergeAdjState(storeState, newPairs, maxLevel, mNeighbors)
    hnswSearch(c, q, probes, idCol, vecCol, merged, k, maxLevel, ef, roundsUpper, rounds0)
  }

  /** Stage the HNSW build ONCE for a corpus version: the working relation
    * `(id, v, nrm, vfp)` and the full-corpus scored candidate-pair
    * relation under the adaptive routing fit — the expensive,
    * query-independent legs (quantizer fit, corpus routing, pair
    * scoring) that the one-shot AND incremental registered queries
    * otherwise recompute identically (13% of the r11 suite wall-clock
    * was the twin queries duplicating exactly this work). Both relations
    * are eagerly checkpointed; derive the per-query adjacency + search
    * with [[knnHnswFromStaged]] / [[knnHnswStagedFromPairs]]. At 100 TB
    * this pair of relations is what a deployment persists per corpus
    * version (bucketed by src), with searches running against the store.
    */
  def hnswStageIndex(
      corpus: DataFrame, idCol: String, vecCol: String,
      nLists: Int = 16, nProbe: Int = 3, iters: Int = 2): (DataFrame, DataFrame) = {
    val rel = hnswPrep(corpus, idCol, vecCol).localCheckpoint(true)
    val q = rel.select(col(idCol), col("vfp"))
    val routing = fitRouting(q, idCol, nLists, iters, censusProbe = nProbe)
    val scored = hnswScoredPairs(q, q, idCol, routing, nProbe).localCheckpoint(true)
    (rel, scored)
  }

  /** [[knnHnsw]] over a staged index — bit-identical to the one-shot
    * build on the same corpus (same prep, same deterministic fit, same
    * pair relation), with the staged legs' cost already paid.
    */
  def knnHnswFromStaged(
      rel: DataFrame, scored: DataFrame, probes: DataFrame,
      idCol: String, vecCol: String, k: Int,
      maxLevel: Int = 3, mNeighbors: Int = 10, ef: Int = 16,
      roundsUpper: Int = 1, rounds0: Int = 4): DataFrame =
    hnswSearchOver(rel, probes, idCol, vecCol,
      hnswAdjState(scored, maxLevel, mNeighbors), k, maxLevel, ef, roundsUpper, rounds0)

  /** [[knnHnswStaged]] over a staged index: routing is a per-vector
    * function of the frozen fit, so the union corpus's pair relation
    * decomposes EXACTLY into store×store vs batch-incident blocks by
    * FILTERING on the endpoints — the store adjacency builds from the
    * former, the latter folds in through [[hnswMergeAdjState]], and the
    * result equals the one-shot build by the bounded-max monoid argument
    * (the same equality the registered incr query's shared oracle pins).
    * `batchOf` maps an endpoint id column to the batch predicate.
    */
  def knnHnswStagedFromPairs(
      rel: DataFrame, scored: DataFrame, batchOf: Column => Column,
      probes: DataFrame, idCol: String, vecCol: String, k: Int,
      maxLevel: Int = 3, mNeighbors: Int = 10, ef: Int = 16,
      roundsUpper: Int = 1, rounds0: Int = 4): DataFrame = {
    val storePairs = scored.filter(!batchOf(col("src")) && !batchOf(col("dst")))
    val newPairs = scored.filter(batchOf(col("src")) || batchOf(col("dst")))
    val merged = hnswMergeAdjState(
      hnswAdjState(storePairs, maxLevel, mNeighbors),
      newPairs, maxLevel, mNeighbors)
    hnswSearchOver(rel, probes, idCol, vecCol, merged, k, maxLevel, ef, roundsUpper, rounds0)
  }

  /** Distributed Lloyd k-means, fully ENGINE-EXACT: vector components
    * quantize once to BIGINT millionths, squared-L2 distances are integer
    * sums over the zipped arrays, the argmin assignment breaks ties by
    * smallest centroid id, and centroid updates are per-dimension
    * truncated-division means of integer sums — no floating point
    * anywhere in the iteration, so the full clustering (assignments AND
    * final distances) reproduces bit-for-bit on any engine and the
    * registered query's oracle replays the iterations as unrolled CTEs.
    * Deterministic seeding: the k lowest-id vectors are the initial
    * centroids (rank order = centroid id). An emptied cluster keeps its
    * previous centroid, so k is stable across iterations.
    *
    * Shape: the fit ([[fitLloyd]]) holds the k centroids in driver
    * memory and runs ONE Spark job per round — each task assigns its
    * vectors and returns k·dim partial sums, which the driver merges into
    * the next centroids. At 100 TB the corpus scans `iters` times and
    * nothing shuffles; the final assignment is one broadcast of the k
    * centroids against one corpus scan and an argmin aggregate over
    * (id, cid, dist) triples.
    *
    * Output: (id, cid, dist_fp) for the final assignment.
    */
  def kmeansFixedPoint(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int): DataFrame = {
    val v = quantizeFp(vecs, idCol, vecCol).scopedCache()
    assignFp(v, idCol, lloyd(v, idCol, k, iters))
  }

  /** Train the fixed-point k-means model alone — (cid, cfp) centroid
    * arrays. The 100 TB operating split: train on a SAMPLE, then score
    * the full corpus with [[kmeansAssign]] (one broadcast scan, no
    * iteration over the big relation); the registered assign query pins
    * the split's determinism by oracle.
    */
  def kmeansCentroids(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int): DataFrame =
    lloyd(quantizeFp(vecs, idCol, vecCol).scopedCache(), idCol, k, iters)

  /** Score vectors against an externally-trained centroid relation
    * (cid, cfp as BIGINT-millionth arrays) — one broadcast + one scan +
    * one triple-shuffling argmin aggregate, no iteration.
    */
  def kmeansAssign(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame): DataFrame =
    assignFp(quantizeFp(vecs, idCol, vecCol), idCol, centroids)

  private def quantizeFp(vecs: DataFrame, idCol: String, vecCol: String): DataFrame =
    vecs.select(col(idCol), graft.functions.VectorFunctions.graft_quantize_fp(col(vecCol)).as("vfp"))

  private def assignFp(v: DataFrame, idCol: String, cs: DataFrame): DataFrame = {
    // native codegen'd long loop (graft_l2sq) — the HOF formulation
    // aggregate(zip_with(...)) interprets two lambdas per element and is
    // the differential baseline in SimilaritySpec
    val distFp = graft.functions.VectorFunctions.graft_l2sq(col("vfp"), col("cfp"))
    v.join(broadcast(cs), lit(true))
      .withColumn("dist_fp", distFp)
      .groupBy(col(idCol))
      .agg(min(struct(col("dist_fp").as("d"), col("cid").as("c"))).as("m"))
      .select(col(idCol), col("m.c").as("cid"), col("m.d").as("dist_fp"))
  }

  // ───────────────────────── product quantization ─────────────────────────

  /** Split an already-quantized `(idCol, vfp)` relation into its `m`
    * contiguous sub-vectors — `(idCol, sub, svfp)` with `svfp` the exact
    * BIGINT-millionth slice `vfp[sub·d/m … (sub+1)·d/m)`. One generator +
    * slice projection, no shuffle; the sub key is what lets one grouped
    * Lloyd fit ([[pqLloyd]]) train all `m` codebooks at once.
    */
  private def subSplit(v: DataFrame, idCol: String, dim: Int, m: Int): DataFrame = {
    require(m >= 1 && dim % m == 0, s"m=$m must divide dim=$dim")
    val subDim = dim / m
    v.select(col(idCol), explode(sequence(lit(0L), lit(m - 1L))).as("sub"), col("vfp"))
      .select(
        col(idCol), col("sub"),
        slice(col("vfp"), (col("sub") * subDim + 1).cast("int"), lit(subDim)).as("svfp"))
  }

  /** Argmin code per (vector, sub) against a `(sub, cid, cfp)` codebook
    * relation: the PQ analogue of [[assignFp]] — the codebooks join is an
    * equi broadcast on `sub` (m·kSub rows, tiny by construction), distances
    * are the native integer kernel, and the argmin aggregate shuffles only
    * `(id, sub, dist, cid)` quads, never sub-vectors. Ties break to the
    * lowest code (the first-minimum rule shared by every fixed-point
    * assign in this file).
    */
  private def pqAssignFp(s: DataFrame, idCol: String, cs: DataFrame): DataFrame = {
    val distFp = graft.functions.VectorFunctions.graft_l2sq(col("svfp"), col("cfp"))
    s.join(broadcast(cs), Seq("sub"))
      .withColumn("dist_fp", distFp)
      .groupBy(col(idCol), col("sub"))
      .agg(min(struct(col("dist_fp").as("d"), col("cid").as("c"))).as("m"))
      .select(col(idCol), col("sub"), col("m.c").as("code"), col("m.d").as("dist_fp"))
  }

  /** Per-sub Lloyd over the `(id, sub, svfp)` relation — [[fitLloyd]]
    * grouped by `sub`, so one job per round trains all m codebooks at once
    * instead of m driver-looped fits. Same engine-exact discipline:
    * k-lowest-id seeding per sub (the same seed ids in every subspace),
    * truncated-div means, emptied codes keep their prior codeword.
    * `subCaps` `(sub, __cap)` is an optional per-group codeword budget
    * ≤ kSub (the hier router's population-proportional fine capacity);
    * absent, every group seeds kSub codewords.
    */
  private[graft] def pqLloyd(
      s: DataFrame, idCol: String, kSub: Int, iters: Int,
      subCaps: Option[DataFrame] = None): DataFrame =
    fitLloyd(s, idCol, Some("sub"), "svfp", kSub, iters, subCaps)

  /** Train product-quantization codebooks: `m` per-subspace codebooks of
    * `kSub` codewords each, fit with the fixed-point Lloyd discipline
    * (engine-exact — the registered encode query replays the fit as
    * unrolled CTEs in the oracle). Returns `(sub, cid, cfp)` — m·kSub
    * rows in a local relation, broadcastable everywhere it is consumed.
    * The fit ([[pqLloyd]]) runs one Spark job to seed and one per round
    * for all m subspaces together.
    *
    * The 100 TB posture mirrors [[kmeansCentroids]]: train on a sample,
    * persist this tiny relation once per corpus version, and encode /
    * search against it with no further iteration over the big corpus.
    */
  def pqTrain(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      m: Int,
      kSub: Int,
      iters: Int,
      fitFraction: Double = 1.0): DataFrame = {
    // fitFraction < 1: the codebooks only need the sub-vector DISTRIBUTION,
    // which a Bernoulli sample captures — the same sample-fit/full-encode
    // split as ivfFitKmeans (seed fixed so the fit stays deterministic
    // given the input; the registered oracle queries use fraction 1)
    val fitOn =
      if (fitFraction >= 1.0) vecs
      else vecs.sample(withReplacement = false, fitFraction, 42L)
    val s = subSplit(quantizeFp(fitOn, idCol, vecCol), idCol, dim, m).scopedCache()
    pqLloyd(s, idCol, kSub, iters)
  }

  /** Encode a corpus against trained codebooks — the long-form
    * `(idCol, sub, code, dist_fp)` relation (one row per vector per
    * subspace; `dist_fp` is that subspace's squared quantization error in
    * millionth² units, so `sum(dist_fp) OVER id` is the vector's exact
    * reconstruction error). One broadcast of the m·kSub codebook rows
    * against one corpus scan; this is the compression step that turns a
    * dim·8-byte vector into m small codes — at 100 TB the coded relation
    * (see [[pqPack]]) is what sits in the hot store, raw vectors stay in
    * cold storage for optional exact re-ranking only.
    */
  def pqEncode(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      m: Int,
      codebooks: DataFrame): DataFrame =
    pqAssignFp(subSplit(quantizeFp(vecs, idCol, vecCol), idCol, dim, m), idCol, codebooks)

  /** Pack [[pqEncode]]'s long form into the store shape — one row per
    * vector: `(idCol, codes: array<bigint> indexed by sub, err_fp = total
    * squared reconstruction error)`. The aggregate shuffles only
    * (id, sub, code, dist) quads.
    */
  def pqPack(encoded: DataFrame, idCol: String): DataFrame =
    encoded
      .groupBy(col(idCol))
      .agg(
        DedupOps.bindOnce(sort_array(collect_list(struct(col("sub"), col("code"))))) { arr =>
          transform(arr, e => e.getField("code"))
        }.as("codes"),
        sum(col("dist_fp")).as("err_fp"))

  /** Search an IVF-PQ index by asymmetric distance computation (ADC): the
    * compressed store alone answers the query — raw corpus vectors are
    * NEVER read. Inputs are the three persisted relations of the index:
    * `coarse` `(cid, cfp)` fixed-point coarse centroids ([[lloyd]] /
    * [[kmeansCentroids]]), `codebooks` `(sub, cid, cfp)` ([[pqTrain]]),
    * and `coded` `(idCol, list_id, codes)` — [[pqPack]] joined with the
    * coarse assignment, written `partitionBy("list_id")`.
    *
    * Per probe: (1) rank coarse lists by exact fixed-point L2 and keep
    * `nProbe` (broadcast × broadcast — tiny); (2) build the ADC lookup
    * table — the probe's m·kSub sub-distances to every codeword — and
    * pack it per probe as one flat array indexed `sub·kSub + code`;
    * (3) score every coded row in the probed lists as the O(m) fold
    * `Σ_sub lut[sub·kSub + codes[sub]]` — exactly the squared L2 between
    * the probe and the candidate's reconstruction, in integer arithmetic.
    * The probed list ids are collected at PLANNING time (≤ nLists values)
    * into a static `list_id IN (…)` predicate, so a list-partitioned
    * store scans only the probed partitions — same pruning contract as
    * [[knnIvfSearch]], but over rows that are m codes wide instead of
    * dim doubles: the scan is smaller by the PQ compression ratio
    * (dim·8 bytes → m codes), which is the whole point at 100 TB.
    *
    * Output: `(probe_id, neighbor_id, adc_fp, rank)` ranked by
    * (adc_fp asc, neighbor_id) — approximate distances; compose with an
    * exact re-rank over the top candidates ([[knnIvfPq]]) when exact
    * scores are required.
    */
  def knnIvfPqSearch(
      coarse: DataFrame,
      codebooks: DataFrame,
      coded: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      m: Int,
      k: Int,
      nProbe: Int): DataFrame = {
    val p = quantizeFp(probes, idCol, vecCol)
      .select(col(idCol).as("probe_id"), col("vfp").as("pvfp"))
    // coarse ranking — probes and centroids both broadcast-sized
    val probeW = Window.partitionBy(col("probe_id")).orderBy(col("cdist"), col("cid"))
    val probeLists = p
      .join(broadcast(coarse), lit(true))
      .withColumn("cdist", graft.functions.VectorFunctions.graft_l2sq(col("pvfp"), col("cfp")))
      .withColumn("crank", row_number().over(probeW))
      .filter(col("crank") <= nProbe)
      .select(col("probe_id"), col("cid").as("list_id"))
    knnIvfPqSearchWithLists(
      probeLists, codebooks, coded, probes, idCol, vecCol, dim, m, k)
  }

  /** [[knnIvfPqSearch]] with the coarse routing EXTERNALIZED: `probeLists`
    * is any `(probe_id, list_id)` relation (small — |probes|·nProbe rows,
    * broadcast) naming which lists each probe searches. This is the seam
    * that lets a PQ-coded store share whatever coarse router the
    * deployment already persists — the fixed-point lloyd centroids, the
    * ML-fit [[ivfFitKmeans]] lists, or an externally-maintained
    * assignment — because ADC ranking inside a list is independent of how
    * the list was chosen. Steps (2)-(3) of the search: the per-probe flat
    * lookup table (sub·kSub + code indexed) and the O(m) integer fold per
    * (candidate, probe) pair, with the same planning-time `list_id IN`
    * pruning contract.
    */
  def knnIvfPqSearchWithLists(
      probeLists: DataFrame,
      codebooks: DataFrame,
      coded: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      m: Int,
      k: Int): DataFrame = {
    val p = quantizeFp(probes, idCol, vecCol)
      .select(col(idCol).as("probe_id"), col("vfp").as("pvfp"))
    // the flat LUT is indexed by the ACTUAL per-sub codeword count, read
    // from the codebooks at planning time (one tiny aggregate): pqTrain
    // yields min(kSub, |fit corpus|) codes per sub, and indexing by a
    // DECLARED kSub against an under-full codebook would silently read
    // the wrong sub's block (or NULL past the end)
    val kEff = codebooks.agg(max(col("cid"))).head().getLong(0).toInt + 1
    // per-probe ADC lookup table, packed flat: index = sub·kEff + code
    val lut = subSplit(
      p.withColumnRenamed("probe_id", "__pid").withColumnRenamed("pvfp", "vfp"),
      "__pid", dim, m)
      .join(broadcast(codebooks), Seq("sub"))
      .withColumn("dfp", graft.functions.VectorFunctions.graft_l2sq(col("svfp"), col("cfp")))
      .groupBy(col("__pid"))
      .agg(DedupOps.bindOnce(sort_array(collect_list(struct(col("sub"), col("cid"), col("dfp"))))) {
        arr => transform(arr, e => e.getField("dfp"))
      }.as("lut"))
      .withColumnRenamed("__pid", "probe_id")
    // planning-time collect (≤ nLists values — the knnIvfSearch contract):
    // the static IN predicate is what prunes a list-partitioned store
    // scan; collected from probeLists ALONE so the LUT aggregate above is
    // not executed twice per search
    val probed = probeLists.select(col("list_id")).distinct().collect().map(_.get(0))
    val pl = probeLists.select(col("probe_id"), col("list_id"))
      .join(lut, Seq("probe_id"))
    // ADC: one O(m) integer fold per (candidate, probe) pair
    val adc = DedupOps.bindOnce(
      transform(col("codes"), (c, i) =>
        element_at(col("lut"), (i.cast("long") * kEff + c + 1).cast("int")))
    ) { perSub => aggregate(perSub, lit(0L), (acc, x) => acc + x) }
    val scored = coded
      .filter(col("list_id").isin(probed: _*))
      .join(broadcast(pl), Seq("list_id"))
      .filter(col(idCol) =!= col("probe_id"))
      .withColumn("adc_fp", adc)
    val w = Window.partitionBy(col("probe_id")).orderBy(col("adc_fp"), col(idCol))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col(idCol).as("neighbor_id"), col("adc_fp"), col("rank"))
  }

  /** Self-contained IVF-PQ top-k with exact re-ranking: fixed-point coarse
    * quantizer (nLists, [[lloyd]]) + per-sub PQ codebooks ([[pqTrain]]) +
    * ADC candidate generation ([[knnIvfPqSearch]], `rerank·k` candidates
    * from the compressed store) + exact fixed-point L2 re-rank of the
    * candidates against raw vectors. The re-rank join touches only
    * |probes|·rerank·k candidate ids — a point-lookup against the cold
    * vector store, not a scan — so the raw corpus is read once to build
    * the index and then only in candidate-sized slices per query batch.
    *
    * Every stage is integer-deterministic, so the registered query
    * replays the ENTIRE pipeline — coarse fit, codebook fit, encode, ADC,
    * re-rank — as unrolled CTEs in the DuckDB oracle: the approximate
    * search is oracle-checked end-to-end, not merely recall-bounded.
    *
    * Output: `(probe_id, neighbor_id, adc_fp, dist_fp, rank)` — ADC
    * estimate and exact distance side by side, ranked by
    * (dist_fp asc, neighbor_id).
    */
  def knnIvfPq(
      corpus: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      m: Int,
      kSub: Int,
      k: Int,
      nLists: Int,
      nProbe: Int,
      iters: Int = 2,
      rerank: Int = 4): DataFrame = {
    require(rerank >= 1, "rerank factor must be positive")
    val v = quantizeFp(corpus, idCol, vecCol).scopedCache()
    // the coarse legs ride the adaptive routing: flat (bit-exact, the
    // oracle's form) at ≤32 lists, the two-level tree above — the
    // n·nLists fit/assign terms here are the same quadratic the HNSW
    // family carried (raw-space l2 instead of direction, same integer
    // machinery). Routing externalizes through the WithLists seam, whose
    // flat instantiation is exactly knnIvfPqSearch's own probe ranking
    val routing = fitRouting(v, idCol, nLists, iters, censusProbe = 1)
    val assigned = assignRoute(v, idCol, routing)
      .select(col(idCol), col("cid").as("list_id"))
    val s = subSplit(v, idCol, dim, m).scopedCache()
    val codebooks = pqLloyd(s, idCol, kSub, iters)
    val coded = pqPack(pqAssignFp(s, idCol, codebooks), idCol)
      .join(assigned, Seq(idCol))
      .select(col(idCol), col("list_id"), col("codes"))
    val probeLists = multiProbeRoute(
      quantizeFp(probes, idCol, vecCol).select(col(idCol).as("probe_id"), col("vfp")),
      "probe_id", routing, nProbe)
      .select(col("probe_id"), col("cid").as("list_id"))
    val cand = knnIvfPqSearchWithLists(
      probeLists, codebooks, coded, probes, idCol, vecCol, dim, m, rerank * k)
    val pv = quantizeFp(probes, idCol, vecCol)
      .select(col(idCol).as("probe_id"), col("vfp").as("pvfp"))
    val exact = cand
      .drop("rank")
      .join(v.select(col(idCol).as("neighbor_id"), col("vfp").as("nvfp")), Seq("neighbor_id"))
      .join(broadcast(pv), Seq("probe_id"))
      .withColumn("dist_fp", graft.functions.VectorFunctions.graft_l2sq(col("pvfp"), col("nvfp")))
    val w = Window.partitionBy(col("probe_id")).orderBy(col("dist_fp"), col("neighbor_id"))
    exact
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("neighbor_id"), col("adc_fp"), col("dist_fp"), col("rank"))
  }

  /** The Lloyd fit over an `(id, vfp)` quantized relation — [[fitLloyd]]'s
    * one-group case, returning `(cid, cfp)`. The caller caches `v`: every
    * round scans it.
    */
  private[graft] def lloyd(v: DataFrame, idCol: String, k: Int, iters: Int): DataFrame =
    fitLloyd(v, idCol, None, "vfp", k, iters, None)

  /** The Lloyd fit with centroids held in driver memory — at most k·dim
    * longs per group of `groupCol` (one group when absent). Returns
    * `(group, cid, cfp)`, or `(cid, cfp)`, as a local relation.
    *
    * Seeds are the k lowest ids per group (NULL ids first), from one job;
    * `caps` `(group, cap)` lowers k per group, and a group absent from it
    * gets no centroids. Each round is ONE job over `rel`: a task assigns
    * each non-null vector to the nearest centroid of its group by
    * [[graft.functions.L2SquaredFp]] (ties to the lowest cid; a NULL
    * centroid's NULL distance orders first, as `min(struct(dist, cid))`
    * orders it) and returns per-(group, cid, pos) sums, counts and
    * non-null flags. The driver merges them: position pos is `sum div
    * count` over the members that have it, NULL where all their elements
    * are, and a centroid with no positioned member keeps its value. Sums
    * use `Math.addExact`, so an overflow raises as ANSI `sum` does.
    */
  private def fitLloyd(
      rel: DataFrame, idCol: String, groupCol: Option[String], vecCol: String,
      k: Int, iters: Int, caps: Option[DataFrame]): DataFrame = {
    require(k >= 1, "k must be positive")
    require(iters >= 1, "need at least one iteration")
    groupCol.foreach(g => require(rel.schema(g).dataType == LongType, s"$g must be BIGINT"))
    val rows = PlanBridge.internalRows(
      rel.select(groupCol.fold(lit(0L))(col), col(idCol), col(vecCol)))
    // a NULL cap does not cap, as `least(cap, k)` ignores it
    val capOf = caps.map(_.collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) k.toLong else r.getLong(1))).toMap)
    val seedLimit = (g: Long) =>
      capOf.fold(k)(m => math.max(0L, math.min(k.toLong, m.getOrElse(g, 0L))).toInt)
    val byId: Ordering[InternalRow] = new InterpretedOrdering(
      Seq(SortOrder(BoundReference(1, rel.schema(idCol).dataType, nullable = true), Ascending)))
    val seedRows = rows.mapPartitions { it =>
      val lowest = mutable.HashMap.empty[Long, java.util.PriorityQueue[InternalRow]]
      it.foreach { r =>
        val n = if (r.isNullAt(0)) 0 else seedLimit(r.getLong(0))
        if (n > 0) {
          val q = lowest.getOrElseUpdate(r.getLong(0), new java.util.PriorityQueue(n, byId.reverse))
          if (q.size < n) q.add(r.copy())
          else if (byId.lt(r, q.peek())) { q.poll(); q.add(r.copy()) }
        }
      }
      lowest.valuesIterator.flatMap(_.iterator.asScala)
    }.collect()
    var cents: Map[Long, Array[ArrayData]] = seedRows.groupBy(_.getLong(0)).map { case (g, rs) =>
      g -> rs.sorted(byId).take(seedLimit(g)).map(r => if (r.isNullAt(2)) null else r.getArray(2).copy())
    }
    for (_ <- 1 to iters) {
      val cs = cents
      val partials = rows.mapPartitions { it =>
        val acc = mutable.HashMap.empty[(Long, Int), LloydSums]
        it.foreach { r =>
          if (!r.isNullAt(0) && !r.isNullAt(2)) cs.get(r.getLong(0)).foreach { gc =>
            val v = r.getArray(2)
            acc.getOrElseUpdate((r.getLong(0), nearest(v, gc)), new LloydSums).add(v)
          }
        }
        acc.iterator
      }.collect()
      val merged = partials.groupMapReduce(_._1)(_._2)(_ merge _)
      cents = cs.map { case (g, gc) =>
        g -> gc.indices.map(c => merged.get((g, c)).flatMap(_.mean).getOrElse(gc(c))).toArray
      }
    }
    val fields = groupCol.map(rel.schema(_)).toSeq ++ Seq(
      StructField("cid", LongType, nullable = false),
      StructField("cfp", ArrayType(LongType, containsNull = true), rel.schema(vecCol).nullable))
    val out = for {
      (g, gc) <- cents.toSeq.sortBy(_._1)
      (c, cid) <- gc.zipWithIndex
    } yield Row.fromSeq(groupCol.map(_ => g).toSeq ++ Seq(cid.toLong,
      if (c == null) null else (0 until c.numElements()).map(i => if (c.isNullAt(i)) null else c.getLong(i))))
    rel.sparkSession.createDataFrame(out.asJava, StructType(fields))
  }

  /** The cid of `gc` nearest to the non-null vector `v`: the first minimum
    * of `(dist, cid)`, where a NULL centroid's NULL distance is least.
    */
  private def nearest(v: ArrayData, gc: Array[ArrayData]): Int = {
    var best = -1
    var bestD = 0L
    var c = 0
    while (c < gc.length) {
      if (gc(c) == null) return c
      val d = graft.functions.L2SquaredFp.distance(v, gc(c))
      if (best < 0 || d < bestD) { best = c; bestD = d }
      c += 1
    }
    best
  }

  /** One cluster's per-position sums, member counts and non-null flags. */
  private final class LloydSums extends Serializable {
    private var sum = Array.emptyLongArray
    private var n = Array.emptyLongArray
    private var nonNull = Array.emptyBooleanArray

    private def grow(len: Int): Unit = if (len > sum.length) {
      sum = java.util.Arrays.copyOf(sum, len)
      n = java.util.Arrays.copyOf(n, len)
      nonNull = java.util.Arrays.copyOf(nonNull, len)
    }

    def add(v: ArrayData): Unit = {
      grow(v.numElements())
      var i = 0
      while (i < v.numElements()) {
        n(i) += 1
        if (!v.isNullAt(i)) { sum(i) = Math.addExact(sum(i), v.getLong(i)); nonNull(i) = true }
        i += 1
      }
    }

    def merge(o: LloydSums): LloydSums = {
      grow(o.sum.length)
      for (i <- o.sum.indices) {
        sum(i) = Math.addExact(sum(i), o.sum(i))
        n(i) += o.n(i)
        nonNull(i) |= o.nonNull(i)
      }
      this
    }

    /** The new centroid, or None when no member had a position. */
    def mean: Option[ArrayData] =
      if (sum.isEmpty) None
      else {
        val m = UnsafeArrayData.fromPrimitiveArray(
          Array.tabulate(sum.length)(i => if (nonNull(i)) sum(i) / n(i) else 0L))
        for (i <- sum.indices if !nonNull(i)) m.setNullAt(i)
        Some(m)
      }
  }
}
