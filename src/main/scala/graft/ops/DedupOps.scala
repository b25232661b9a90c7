package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.KnownNotNull
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import Caching.Syntax

/** Deduplication operators for LLM-data pipelines (north-star extension):
  * exact (hash group-by), n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design (100 TB stance):
  *  - exact dedup is one hash-aggregate on a 128-bit digest — no text shuffle,
  *    only (digest, id) pairs move.
  *  - pairwise similarity NEVER does an O(n²) cross join: candidates come
  *    from an equi-join on a bucket key (shared shingle / LSH band / SimHash
  *    chunk), which Spark executes as a shuffle-hash join on the bucket.
  *  - hot buckets (stop-shingles shared by half the corpus) are dropped with
  *    a document-frequency cap BEFORE the self-join — the standard guard that
  *    keeps the join output near-linear; the cap is part of the operator
  *    contract (and of the oracle SQL), not a silent truncation.
  *
  * Caching contract (applies to every pair operator here and in
  * SimilarityOps): shingle/signature relations are cached because they feed
  * multiple branches (candidates + sizes/verify) and as CollapseProject
  * barriers; results are lazy, so they cannot be unpersisted inside the
  * operator. Long-lived sessions issuing many calls should clear or
  * unpersist once results are materialized — Verify/Bench clear the cache
  * between queries.
  */
object DedupOps {

  /** Exact dedup groups: one row per distinct content digest with the
    * surviving (minimum) id and the duplicate count.
    */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_dupes"))

  /** Let-binding via a single-element HOF: evaluates `value` ONCE and binds
    * it to the lambda variable. Without this, any expression referenced
    * inside a higher-order-function lambda body is RE-EVALUATED per array
    * element (e.g. re-running a regex split once per shingle index).
    */
  def bindOnce(value: Column)(body: Column => Column): Column =
    element_at(transform(array(value), body), 1)

  /** Distinct word n-gram shingles per document: (id, sh: array<string>).
    * Documents shorter than `n` tokens get an empty shingle set. The token
    * array is let-bound so tokenization runs once per document, not once per
    * shingle position.
    */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(
      col(idCol),
      bindOnce(TextOps.tokens(col(textCol))) { toks =>
        when(
          size(toks) >= n,
          array_distinct(transform(
            sequence(lit(1), size(toks) - lit(n - 1)),
            i => concat_ws(" ", slice(toks, i, lit(n))))))
          .otherwise(array().cast("array<string>"))
      }.as("sh"))

  /** Distinct word n-gram shingles per document, HASHED to 64-bit longs:
    * (id, sh: array<long>). All downstream set algebra (posting-list joins,
    * intersections, minhash signatures) runs on fixed-width longs — an
    * exploded shuffle moves 8-byte keys instead of n-word strings, and the
    * intersect in the verification step compares longs. Distinctness and
    * intersection sizes are preserved up to xxhash64 collisions
    * (~|shingles|²/2⁶⁵ — negligible at any realistic corpus size).
    *
    * The build is the native [[graft.functions.NGramHashes]] kernel — one
    * codegen'd loop per document; DedupTextSpec pins bitwise equality with
    * the interpreted HOF formulation kept in test sources.
    */
  def hashedShingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(
      col(idCol),
      graft.functions.HashFunctions
        .graft_ngram_hashes(TextOps.tokens(col(textCol)), n, distinct = true)
        .as("sh"))

  /** Drop elements whose document frequency exceeds `maxDocFreq` from an
    * exploded (id, s) element relation — THE df-cap block (strict `>`, the
    * boundary DedupTextSpec pins). One definition for every capped
    * consumer ([[setJaccardPairs]], [[jaccardPairsPrefix]], ScaleSmoke,
    * the specs) so the cap semantics cannot drift between the operators
    * whose shared oracles assume they are identical.
    */
  private[graft] def cappedExploded(
      ex0: DataFrame, idCol: String, maxDocFreq: Int): DataFrame =
    if (maxDocFreq <= 0) ex0
    else {
      val hot = ex0.groupBy(col("s")).agg(count(lit(1)).as("df"))
        .filter(col("df") > maxDocFreq).select(col("s"))
      ex0.join(hot, Seq("s"), "left_anti")
    }

  /** Candidate pairs sharing ≥1 bucket value, with the shared-bucket count.
    * Input: (id, bucket). Output: (doc_a, doc_b, common) with doc_a < doc_b.
    *
    * Built from posting lists: group ids per bucket, emit each bucket's
    * id-combinations directly (ordered pairs a<b from the sorted list), then
    * count shared buckets per pair. The grouping is an object hash set per
    * bucket and the expansion an interpreted lambda per list, so this pays
    * off only where each bucket's document frequency is needed anyway: the
    * capped ([[bucketPairsCapped]]) and anti-hot ([[bucketPairsAntiHot]])
    * generators filter on `size(__ids)` before expanding. For LSH band
    * buckets, almost all of which hold one document, [[lshCandidates]] uses
    * a compiled self-join instead. The other uncapped callers (prefix-filter
    * pairs, `LinkOps`, `ScaleSmoke`) still pair here; no benchmark workload
    * measures them. Hot buckets must be capped upstream
    * (maxDocFreq) since a bucket of m docs emits m(m-1)/2 pairs — true of
    * ANY pairing strategy.
    */
  private[graft] def bucketPairs(exploded: DataFrame, idCol: String, bucketCol: String): DataFrame =
    bucketPairsCapped(exploded, idCol, bucketCol, maxDocFreq = 0)

  /** [[bucketPairs]] with the df cap FUSED into the posting-list build: the
    * posting aggregation already materializes each bucket's distinct-id set,
    * so "document frequency > maxDocFreq" is just `size(__ids) > cap` — one
    * predicate on the aggregate instead of [[cappedExploded]]'s separate
    * df-count shuffle plus an anti-join back over the whole exploded
    * relation. Same strict-`>` boundary (a bucket of exactly `maxDocFreq`
    * documents survives), identical pairs and `common` counts for
    * duplicate-free (id, bucket) input.
    *
    * PRECONDITION: the exploded input must be duplicate-free on
    * (id, bucket). This variant counts df as the number of DISTINCT ids in
    * a bucket (`size(collect_set)`), where [[cappedExploded]] counted
    * ROWS — the two cap semantics agree only when the relation has one row
    * per (id, bucket). Every element-set producer in this module
    * guarantees that ([[shingles]]/[[hashedShingles]] are array_distinct,
    * winnow fingerprints `.distinct`); a caller exploding a relation with
    * repeated (id, bucket) rows must `.distinct()` first or the cap
    * boundary silently drifts from the pinned strict-`>` contract.
    * At 100 TB this removes the widest
    * extra shuffle in the dedup family: the exploded relation is re-shuffled
    * once (the posting groupBy), never a second time for the cap.
    */
  private[graft] def bucketPairsCapped(
      exploded: DataFrame,
      idCol: String,
      bucketCol: String,
      maxDocFreq: Int): DataFrame = {
    val posting0 = postingLists(exploded, idCol, bucketCol)
    val posting =
      if (maxDocFreq <= 0) posting0
      else posting0.filter(size(col("__ids")) <= maxDocFreq)
    expandPostingPairs(posting)
  }

  /** [[bucketPairs]] under an EXTERNALLY maintained hot-bucket exclusion:
    * the anti-join runs against the POSTING LISTS (one row per distinct
    * bucket) instead of the exploded relation (one row per id×bucket) —
    * dropping a hot bucket before or after the per-bucket grouping is the
    * same set algebra, but the post-grouping relation is |distinct buckets|
    * rows instead of sum-of-set-sizes rows, so the anti-join touches the
    * narrowest possible relation.
    */
  private[graft] def bucketPairsAntiHot(
      exploded: DataFrame,
      idCol: String,
      bucketCol: String,
      hot: DataFrame): DataFrame =
    expandPostingPairs(
      postingLists(exploded, idCol, bucketCol)
        .join(hot.select(col("s").as(bucketCol)), Seq(bucketCol), "left_anti"))

  private def postingLists(exploded: DataFrame, idCol: String, bucketCol: String): DataFrame =
    exploded
      .groupBy(col(bucketCol))
      .agg(sort_array(collect_set(col(idCol))).as("__ids"))
      .filter(size(col("__ids")) > 1)

  private def expandPostingPairs(posting: DataFrame): DataFrame =
    posting.select(explode(bindOnce(col("__ids")) { ids =>
      flatten(transform(
        ids,
        (x, i) => transform(
          slice(ids, i + lit(2), size(ids)),
          y => struct(x.as("doc_a"), y.as("doc_b")))))
    }).as("__p"))
      .groupBy(col("__p.doc_a").as("doc_a"), col("__p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("common"))

  /** N-gram Jaccard near-dup pairs: explode distinct shingles, equi-join on
    * the shingle, exact Jaccard = common / (|A| + |B| - common) ≥ threshold.
    * `maxDocFreq` drops shingles present in more than that many documents
    * before pairing (0 = no cap).
    *
    * The cap DEFAULTS ON (df > 100, the same calibration as [[winnowPairs]])
    * and is part of the operator contract, oracle included: a bucket of m
    * documents emits m(m-1)/2 candidate pairs, so on a stop-shingle-heavy
    * real corpus the uncapped posting lists go quadratic (measured: 272s vs
    * 2s on the byte-gram variant, see [[winnowPairs]]). A shingle shared by
    * >100 documents identifies no pair above any useful threshold — each
    * pair loses at most that shingle from its intersection, a vanishing
    * Jaccard perturbation for real near-dups — so the guard changes cost
    * class, not answers. Pass 0 only for small/curated corpora where the
    * exact uncapped semantics are wanted.
    */
  def jaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      maxDocFreq: Int = 100): DataFrame =
    setJaccardPairs(hashedShingles(df, idCol, textCol, n), idCol, threshold, maxDocFreq)

  /** Containment near-duplicate pairs: the SAME capped posting-list
    * candidates as [[jaccardPairs]], scored by the ASYMMETRIC overlap
    * `common / min(n_a, n_b)` — the max-containment measure that catches
    * a document wholly EMBEDDED in a larger one (boilerplate wrapping,
    * quote expansion, concatenated shards). Symmetric Jaccard dilutes
    * such pairs below any fixed threshold as the wrapper grows
    * (j = |A|/|B| → 0 while containment stays 1), so a dedup pass keyed
    * on Jaccard alone ships the wrapped copies; this is the complement
    * pass. Output carries BOTH scores plus `contained_id` (the smaller
    * side — the copy a curation pass would drop; ties to doc_a, matching
    * the oracle's CASE). Same 100 TB posture as the Jaccard family: df-
    * capped posting lists bound candidate growth by real dup structure.
    */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      maxDocFreq: Int = 100): DataFrame = {
    val sh = hashedShingles(df, idCol, textCol, n).scopedCache()
    val sizes = sh.select(col(idCol), size(col("sh")).as("n_sh"))
    val pairs = bucketPairsCapped(
      sh.select(col(idCol), explode(col("sh")).as("s")), idCol, "s", maxDocFreq)
    pairs
      .join(sizes.withColumnRenamed(idCol, "doc_a").withColumnRenamed("n_sh", "na"), "doc_a")
      .join(sizes.withColumnRenamed(idCol, "doc_b").withColumnRenamed("n_sh", "nb"), "doc_b")
      .withColumn("containment",
        col("common").cast("double") / least(col("na"), col("nb")))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("common"),
        col("containment"),
        (col("common").cast("double") / (col("na") + col("nb") - col("common")))
          .as("jaccard"),
        when(col("na") <= col("nb"), col("doc_a")).otherwise(col("doc_b"))
          .as("contained_id"))
  }

  /** Exact set-Jaccard pairs over any (id, sh: array) element-set relation:
    * explode, posting-list pair the shared elements, Jaccard = common /
    * (|A| + |B| − common) ≥ threshold. The candidate-generation core shared
    * by n-gram shingles and winnowed fingerprints.
    */
  private[ops] def setJaccardPairs(
      sets: DataFrame,
      idCol: String,
      threshold: Double,
      maxDocFreq: Int,
      hotOverride: Option[DataFrame] = None): DataFrame = {
    val sh = sets.scopedCache()
    val sizes = sh.select(col(idCol), size(col("sh")).as("n_sh"))
    val explodedAll = sh.select(col(idCol), explode(col("sh")).as("s"))
    // hotOverride supplies an EXTERNALLY-maintained hot-element relation
    // (e.g. corpus-wide df in the incremental store cycle, where capping by
    // this subset's own df would diverge from the full-corpus contract)
    val pairs = hotOverride match {
      case Some(hot) =>
        // hot exclusion applied to posting lists, not the exploded relation
        bucketPairsAntiHot(explodedAll, idCol, "s", hot)
      case None =>
        // df cap fused into the posting build — no separate df shuffle
        bucketPairsCapped(explodedAll, idCol, "s", maxDocFreq)
    }
    scoreJaccardPairs(pairs, sizes, sizes, idCol, threshold)
  }

  /** Exact-Jaccard scoring tail shared by every posting-list candidate
    * generator: join each side's FULL set size onto the (doc_a, doc_b,
    * common) candidates, jaccard = common / (na + nb − common), filter.
    * `sizesA`/`sizesB` are (idCol, n_sh) relations for the a/b sides
    * (identical for self-joins).
    */
  private def scoreJaccardPairs(
      pairs: DataFrame,
      sizesA: DataFrame,
      sizesB: DataFrame,
      idCol: String,
      threshold: Double): DataFrame =
    pairs
      .join(sizesA.withColumnRenamed(idCol, "doc_a").withColumnRenamed("n_sh", "na"), "doc_a")
      .join(sizesB.withColumnRenamed(idCol, "doc_b").withColumnRenamed("n_sh", "nb"), "doc_b")
      .withColumn("jaccard", col("common").cast("double") / (col("na") + col("nb") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  /** Prefix-filtered exact Jaccard pairs (the AllPairs/PPJoin candidate
    * scheme, Bayardo et al. / Xiao et al.): identical OUTPUT to
    * [[jaccardPairs]] — the registered query shares its oracle verbatim as
    * the equality proof — with a candidate set cut by prefix filtering.
    * Under a global element order (document frequency ASC, then hash: the
    * rarest-first order that minimizes collisions), a pair at Jaccard ≥ t
    * must share an element within each side's first |C| − ⌈t·|C|⌉ + 1
    * elements, so only those PREFIX elements are indexed; the bound holds
    * under the df cap because the capped common is ≤ each capped set size
    * while the denominator uses the (larger) full sizes. Candidates are
    * then verified exactly: capped-set intersection over full-size
    * denominators, the same contract as [[jaccardPairs]].
    *
    * Scale tradeoff vs full posting lists: one extra per-document ranking
    * window (a shuffle on the doc id) buys posting lists ~(1−t)× the
    * length — at t=0.9 only a tenth of each document's shingles are ever
    * indexed. Measured on the ScaleSmoke replicated corpus (t=0.5,
    * sf0.1×K): full-posting candidates grow 338k → 14.0M over K=1..8
    * (41×, super-linear — shared shingles compound) while prefix
    * candidates grow 68k → 717k (10.5×, tracking the 8× corpus) — 5% of
    * full at K=8 and diverging. Wall-clock (both forms cold-cache) still
    * favors the plain form at these corpus sizes, but the gap NARROWS as
    * the candidate gap compounds: 2.0s vs 3.3s at K=1, 5.0s vs 5.7s at
    * K=8 — the ranking window + per-candidate verification are a fixed
    * toll while the avoided in-bucket pair explosion keeps growing; the
    * prefix form is the one whose cost scales with REAL near-dup
    * structure rather than bucket co-occurrence², which is what survives
    * at 100 TB.
    */
  def jaccardPairsPrefix(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      maxDocFreq: Int = 100): DataFrame = {
    val sh = hashedShingles(df, idCol, textCol, n).scopedCache()
    val sizes = sh.select(col(idCol), size(col("sh")).as("n_sh"))
    // ONE df pass serves both the cap and the rarest-first prefix order:
    // the inner join against the (small, ≤cap-filtered) per-element df
    // relation caps hot elements AND annotates survivors with `sdf` in the
    // same step — the separate cappedExploded df-count + anti-join pass
    // over the widest relation in the plan is gone. Survivor df values are
    // identical either way (capping removes whole elements, never rows of
    // surviving ones).
    val ex0 = sh.select(col(idCol), explode(col("sh")).as("s"))
    val dfr0 = ex0.groupBy(col("s")).agg(count(lit(1)).as("sdf"))
    val dfr = if (maxDocFreq <= 0) dfr0 else dfr0.filter(col("sdf") <= maxDocFreq)
    val ex = ex0.join(dfr, Seq("s"))
    // ONE groupBy(id) collects each document's df-annotated survivor set,
    // sorted rarest-first — the per-row sorted array replaces BOTH window
    // passes of [[prefixCandidatePairsAnnotated]] (row_number + count over
    // doc partitions: a shuffle plus a full sort of the exploded relation)
    // AND the separate csets groupBy: prefix = a slice of the array,
    // verify sets = a projection of it, one exchange for the pair. Same
    // total order (struct(sdf, s) sorts lexicographically = orderBy(sdf, s);
    // s is distinct per doc so the order is total), so the prefix SETS —
    // and therefore the candidates, the intersections and every output
    // row — are identical; the spec-facing reference formulation in
    // [[prefixCandidatePairs]] is unchanged.
    val docsets = ex.groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("sdf"), col("s")))).as("__ss"))
      .scopedCache()
    val nc = size(col("__ss"))
    val prefixLen = greatest(prefixLength(nc, threshold).cast("int"), lit(0))
    val prefix = docsets
      .select(col(idCol), explode(slice(col("__ss"), lit(1), prefixLen)).as("__e"))
      .select(col(idCol), col("__e.s").as("s"))
    val cand = bucketPairs(prefix, idCol, "s").select(col("doc_a"), col("doc_b"))
    // verify set and uncapped set size attach to the PAIR relation in one
    // join per side: the (id-keyed, doc-count-sized) csets⋈sizes join is
    // paid once instead of two extra pair-sized joins
    val docinfo = docsets.select(
      col(idCol), sort_array(transform(col("__ss"), e => e.getField("s"))).as("cs"))
      .join(sizes, Seq(idCol))
    cand
      .join(docinfo.select(
        col(idCol).as("doc_a"), col("cs").as("ca"), col("n_sh").as("na")), "doc_a")
      .join(docinfo.select(
        col(idCol).as("doc_b"), col("cs").as("cb"), col("n_sh").as("nb")), "doc_b")
      .withColumn("common", size(array_intersect(col("ca"), col("cb"))))
      .withColumn("jaccard", col("common").cast("double") / (col("na") + col("nb") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Rarest-first prefix length for a set of `nc` elements at Jaccard
    * threshold t: nc − ceil(t·nc) + 1. Two sets with Jaccard ≥ t must
    * share an element within these prefixes (prefix-filtering bound).
    * The one definition both [[jaccardPairsPrefix]] and the spec-facing
    * [[prefixCandidatePairsAnnotated]] use, so they cannot drift.
    */
  private def prefixLength(nc: Column, threshold: Double): Column =
    nc - ceil(lit(threshold) * nc) + lit(1)

  /** The distinct candidate pairs whose rarest-first prefixes intersect —
    * split out so the spec can measure the candidate reduction against
    * full posting lists.
    */
  private[graft] def prefixCandidatePairs(
      ex: DataFrame,
      idCol: String,
      threshold: Double): DataFrame = {
    val dfr = ex.groupBy(col("s")).agg(count(lit(1)).as("sdf"))
    prefixCandidatePairsAnnotated(ex.join(dfr, Seq("s")), idCol, threshold)
  }

  /** [[prefixCandidatePairs]] over an already df-annotated (id, s, sdf)
    * relation — the fused-cap path in [[jaccardPairsPrefix]] supplies the
    * annotation from its single df pass.
    */
  private[graft] def prefixCandidatePairsAnnotated(
      exd: DataFrame,
      idCol: String,
      threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wDoc = Window.partitionBy(col(idCol)).orderBy(col("sdf"), col("s"))
    val wAll = Window.partitionBy(col(idCol))
    val prefix = exd
      .withColumn("pos", row_number().over(wDoc))
      .withColumn("nc", count(lit(1)).over(wAll))
      .filter(col("pos") <= prefixLength(col("nc"), threshold))
      .select(col(idCol), col("s"))
    bucketPairs(prefix, idCol, "s").select(col("doc_a"), col("doc_b"))
  }

  /** Incremental (cross-corpus) near-dup pairs: exact Jaccard between a
    * NEW batch and an EXISTING corpus only — the dedup shape that matters
    * operationally at 100 TB, where each crawl increment is checked
    * against the store without ever re-pairing existing×existing (that
    * work was done when those documents arrived). Candidates come from
    * per-shingle posting lists kept separate per side, so a bucket emits
    * |existing|×|incoming| cross pairs and zero same-side pairs; the
    * existing side's shingle sets are typically the big side and stream
    * through one shuffle on the hashed shingle. `maxDocFreq` caps hot
    * shingles by their combined document frequency, same contract as
    * [[jaccardPairs]].
    *
    * Caching contract: both sides' shingle sets are cached for reuse across
    * the pair/size branches and stay cached after return (the result is
    * lazy, so they cannot be unpersisted here). Long-lived sessions issuing
    * many calls should `spark.sharedState.cacheManager.clearCache()` (or
    * unpersist) once the result is materialized — Verify/Bench do.
    */
  def crossJaccardPairs(
      existing: DataFrame,
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      maxDocFreq: Int = 100): DataFrame = {
    val shA = hashedShingles(existing, idCol, textCol, n).scopedCache()
    val shB = hashedShingles(incoming, idCol, textCol, n).scopedCache()
    crossJaccardPairsFrom(shA, shB, idCol, threshold, maxDocFreq, None)
  }

  /** Batch-internal + bank-cross Jaccard pairs from PRE-COMPUTED shingle
    * relations (`(id, sh: array<long>)`, the [[hashedShingles]] shape)
    * under an EXTERNALLY maintained hot-shingle set: the caller banks
    * shingle sets and the corpus-wide df statistic across increments, so
    * each increment pays only batch-internal + bank×batch candidate work,
    * never bank×bank. NOTE: the posting-bank form
    * ([[shingleBank]]/[[pairsFromPostingBanks]], what
    * [[graft.streaming.Streaming]]'s NearDupClusterStream now maintains)
    * supersedes this seam operationally — it avoids re-aggregating the
    * bank side's posting lists per increment; this document-major form
    * remains for callers that bank raw shingle sets. With
    * `hot = None` the semantics are exact/uncapped — the configuration
    * whose stream-fold ≡ from-scratch equality is unconditional (a GROWING
    * hot set is by nature prefix-dependent: a pair legitimately found
    * before an element crossed the cap has no counterpart in a
    * full-corpus-capped one-shot run, so capped equality holds exactly
    * when the hot set is stable across the stream — see the streaming
    * spec, which pins both regimes).
    */
  def pairsFromShingleBank(
      bank: DataFrame,
      batchSh: DataFrame,
      idCol: String,
      threshold: Double,
      hot: Option[DataFrame]): (DataFrame, DataFrame) = {
    val b = batchSh.scopedCache()
    (setJaccardPairs(b, idCol, threshold, maxDocFreq = 0, hotOverride = hot),
      crossJaccardPairsFrom(bank, b, idCol, threshold, maxDocFreq = 0, hotOverride = hot))
  }

  /** [[crossJaccardPairs]] core over pre-hashed shingle relations, with an
    * optional externally-maintained hot-shingle override (the incremental
    * store cycle's corpus-wide df cap — see [[incrementalJaccardPairs]]).
    */
  /** Exact Jaccard pairs RESTRICTED to one anchor side: all pairs
    * (a ∈ anchors, b ∈ corpus, a ≠ b) with J ≥ threshold, under the SAME
    * corpus-wide df cap as [[jaccardPairs]] (the hot set is computed over
    * the FULL corpus and passed as the exclusion — not the cross form's
    * combined-sides cap — so for anchor-involving pairs the output is
    * bit-identical to filtering [[jaccardPairs]], and an oracle written
    * against the full form stays valid). The consumer-side optimization
    * for metrics that only read anchor-involving pairs (retrieval
    * relevance, per-query dedup): posting expansion costs df_anchor·df per
    * shingle instead of df², so a 1/k anchor stride cuts the pair stage
    * ~k×. Anchor-anchor pairs appear in BOTH orientations (each side of
    * the pair anchors once); anchor-other pairs once, anchored on doc_a.
    */
  def jaccardPairsAgainst(
      corpus: DataFrame,
      anchors: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      maxDocFreq: Int = 100): DataFrame = {
    val shAll = hashedShingles(corpus, idCol, textCol, n).scopedCache()
    val shA = hashedShingles(anchors, idCol, textCol, n).scopedCache()
    val hot =
      if (maxDocFreq <= 0) shAll.sparkSession.emptyDataFrame.select(lit(0L).as("s")).limit(0)
      else shAll.select(explode(col("sh")).as("s"))
        .groupBy(col("s")).agg(count(lit(1)).as("__df"))
        .filter(col("__df") > maxDocFreq).select(col("s"))
    crossJaccardPairsFrom(shA, shAll, idCol, threshold, 0, Some(hot))
      .filter(col("doc_a") =!= col("doc_b"))
  }

  private[ops] def crossJaccardPairsFrom(
      shA: DataFrame,
      shB: DataFrame,
      idCol: String,
      threshold: Double,
      maxDocFreq: Int,
      hotOverride: Option[DataFrame]): DataFrame = {
    val ea = shA.select(col(idCol), explode(col("sh")).as("s"))
    val eb = shB.select(col(idCol), explode(col("sh")).as("s"))
    val pa = ea.groupBy(col("s")).agg(collect_set(col(idCol)).as("__as"))
    val pb = eb.groupBy(col("s")).agg(collect_set(col(idCol)).as("__bs"))
    // Hot/df exclusion applied AFTER the per-side posting grouping, on the
    // narrowest relation in the plan (one row per element present on both
    // sides): cross pairing only uses both-sides elements, and dropping a
    // hot element before or after grouping is the same set algebra. The
    // combined-df cap is FUSED as a predicate — for both-sides elements the
    // combined document frequency is exactly size(__as)+size(__bs) (sides
    // are duplicate-free element sets), so no union + df-count shuffle +
    // anti-joins back over the exploded relations. One-side-only elements
    // never join and never pair, so their cap status is irrelevant. Same
    // strict-`>` boundary as [[cappedExploded]].
    val joined0 = pa.join(pb, Seq("s"))
    val pairs = expandCrossPostingPairs(hotOverride match {
      case Some(hot) => joined0.join(hot.select(col("s")), Seq("s"), "left_anti")
      case None if maxDocFreq > 0 =>
        joined0.filter(size(col("__as")) + size(col("__bs")) <= maxDocFreq)
      case None => joined0
    })
    scoreJaccardPairs(
      pairs,
      shA.select(col(idCol), size(col("sh")).as("n_sh")),
      shB.select(col(idCol), size(col("sh")).as("n_sh")),
      idCol, threshold)
  }

  /** Cross-side pair expansion over joined postings (s, __as, __bs):
    * every a×b combination, counted per pair — the two-sided complement of
    * [[expandPostingPairs]].
    */
  private def expandCrossPostingPairs(joined: DataFrame): DataFrame =
    joined
      .select(explode(bindOnce(struct(col("__as"), col("__bs"))) { ab =>
        flatten(transform(
          ab.getField("__as"),
          x => transform(ab.getField("__bs"), y => struct(x.as("doc_a"), y.as("doc_b")))))
      }).as("__p"))
      .groupBy(col("__p.doc_a").as("doc_a"), col("__p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("common"))

  /** The full incremental pair-generation cycle under ONE corpus-wide df
    * cap: store-internal, batch-internal and store×batch cross pairs, all
    * excluding shingles whose document frequency ACROSS THE WHOLE CORPUS
    * (store + batch) exceeds `maxDocFreq` — the df statistic an operating
    * store maintains incrementally (counts only add). Because the three
    * relations cap by the same global df, their union is EXACTLY
    * [[jaccardPairs]] over the full corpus (pair sets and scores) — the
    * property that makes incremental cluster maintenance
    * ([[mergeClusters]]) provably equal to a from-scratch run, and what
    * the registered query's shared oracle checks. Returns the three parts
    * (store, batch, cross); in steady-state operation only the batch and
    * cross parts are computed — the store part is what previous increments
    * already banked.
    *
    * Plan shape: each side's POSTING LISTS are built once and serve the
    * whole cycle — own-side pair expansion, the other side's global-df cap
    * (a posting-level size join: global df of an element is its a-side
    * posting size plus its b-side posting size, the sides indexing
    * disjoint documents), and the cross join. Each side's exploded
    * (id, shingle) relation — the widest in the plan — shuffles exactly
    * ONCE; the earlier formulation exploded each side three times (a
    * union-df pass for the hot set plus per-part posting builds).
    * Singleton postings are kept in the bank: they pair nothing on their
    * own side but count toward the other side's df cap.
    */
  def incrementalJaccardPairs(
      store: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      maxDocFreq: Int = 100): (DataFrame, DataFrame, DataFrame) = {
    val (pA, sizesA) = shingleBank(store, idCol, textCol, n)
    val (pB, sizesB) = shingleBank(batch, idCol, textCol, n)
    val (batchPairs, crossPairs) = pairsFromPostingBanks(
      pA, sizesA, pB, sizesB, idCol, threshold, maxDocFreq)
    // the store's own pairs under the same global cap: cap df from the
    // batch side's posting sizes, mirroring the core's postB derivation
    val dfB = pB.select(col("s"), size(col("__ids")).as("__nother"))
    val postA = pA.join(dfB, Seq("s"), "left")
      .filter(size(col("__ids")) > 1 &&
        withinBankCap(size(col("__ids")) + coalesce(col("__nother"), lit(0)), maxDocFreq))
      .select(col("s"), col("__ids"))
    val storePairs =
      scoreJaccardPairs(expandPostingPairs(postA), sizesA, sizesA, idCol, threshold)
    (storePairs, batchPairs, crossPairs)
  }

  /** The banked form of one side of the incremental cycle: posting lists
    * `(s, __ids)` — sorted distinct doc ids per shingle, singletons
    * included (they pair nothing but count toward the df cap) — plus the
    * per-doc set sizes `(id, n_sh)` the Jaccard denominators need. Both
    * relations ADD across disjoint-doc increments (postings by per-element
    * array union, sizes by plain union), so an operating store maintains
    * them instead of re-sharding history; they are exactly what
    * [[incrementalPairsFromBank]] consumes each batch.
    */
  def shingleBank(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int): (DataFrame, DataFrame) = {
    val sh = hashedShingles(df, idCol, textCol, n).scopedCache()
    val (postings, sizes) = shingleBankFromSets(sh, idCol)
    (postings.scopedCache(), sizes)
  }

  /** [[shingleBank]] over an already-shingled (id, sh) relation — no
    * caching (callers that manage their own materialization, e.g. the
    * streaming maintainer's per-batch localCheckpoint, use this form).
    */
  def shingleBankFromSets(sh: DataFrame, idCol: String): (DataFrame, DataFrame) =
    (sh.select(col(idCol), explode(col("sh")).as("s"))
      .groupBy(col("s")).agg(sort_array(collect_set(col(idCol))).as("__ids")),
      sh.select(col(idCol), size(col("sh")).as("n_sh")))

  /** STEADY-STATE increment against a banked store: batch-internal and
    * bank×batch cross pairs under the corpus-wide df cap — the per-batch
    * cost of the operating cycle, touching the bank only through
    * posting-level joins (never re-exploding or re-sharding stored text).
    * The cap is evaluated from posting sizes: an element's corpus-wide df
    * is its bank posting size plus its batch posting size (sides index
    * disjoint documents). Union with the banked side's own pairs (what
    * previous increments produced) is provably [[jaccardPairs]] over the
    * whole corpus — [[incrementalJaccardPairs]] is exactly that
    * composition, and the registered query's shared oracle checks it.
    */
  def incrementalPairsFromBank(
      bank: (DataFrame, DataFrame),
      batch: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      maxDocFreq: Int = 100): (DataFrame, DataFrame) = {
    val (pB, sizesB) = shingleBank(batch, idCol, textCol, n)
    pairsFromPostingBanks(bank._1, bank._2, pB, sizesB, idCol, threshold, maxDocFreq)
  }

  /** Fold shingle banks from disjoint-doc increments: postings merge by
    * per-element array union (ids stay sorted and distinct because the
    * parts index disjoint documents), sizes by plain union — the
    * [[graft.ops.TextOps.mergeBm25Stats]] pattern applied to the dedup
    * store, so history is never re-sharded.
    *
    * CONTRACT: the banks must index DISJOINT doc-id sets. An overlapping
    * id silently breaks both invariants downstream consumers rely on — the
    * merged postings stop being sorted-distinct (inflated df, duplicated
    * pairs in [[pairsFromPostingBanks]]) and the sizes relation carries
    * duplicate rows (doubled Jaccard denominators). The streaming
    * maintainer fences by anti-joining each batch against the banked ids;
    * external callers own the same fence. With
    * `-Dgraft.debug.bankChecks=true` the fold VERIFIES disjointness (one
    * extra count job over the merged sizes) and fails loudly on overlap —
    * the debug posture for new integrations; off by default because the
    * check is a full pass over a relation the production path never
    * materializes eagerly.
    */
  def mergeShingleBanks(banks: (DataFrame, DataFrame)*): (DataFrame, DataFrame) = {
    require(banks.nonEmpty, "need at least one bank")
    val sizes = banks.map(_._2).reduce(_.unionByName(_))
    if (sys.props.get("graft.debug.bankChecks").exists(_.toBoolean) && banks.size > 1) {
      val idc = sizes.columns.head
      val overlaps = sizes.groupBy(col(idc)).count().filter(col("count") > 1)
        .select(col(idc)).limit(5).collect().map(_.get(0))
      require(overlaps.isEmpty,
        s"mergeShingleBanks: banks overlap on doc ids ${overlaps.mkString(", ")} — " +
          "increments must index disjoint documents (fence with an anti-join)")
    }
    (banks.map(_._1).reduce(_.unionByName(_))
      .groupBy(col("s")).agg(sort_array(flatten(collect_list(col("__ids")))).as("__ids")),
      sizes)
  }

  private def withinBankCap(total: Column, maxDocFreq: Int): Column =
    if (maxDocFreq <= 0) lit(true) else total <= lit(maxDocFreq)

  /** (batch-internal pairs, bank×batch cross pairs) from two posting
    * banks under the combined-df cap — the shared core of
    * [[incrementalPairsFromBank]], [[incrementalJaccardPairs]] and the
    * streaming cluster maintainer.
    *
    * PRECONDITIONS: each side's postings must hold sorted DISTINCT doc ids
    * per element (the [[shingleBankFromSets]] invariant — df is evaluated
    * as posting SIZE, so a duplicated id inflates the cap basis), and the
    * two sides must index DISJOINT doc-id sets (the combined df is the
    * SUM of the two posting sizes, exact only without overlap; an
    * overlapping doc would also self-pair in the cross join). Callers
    * fence with an anti-join on the banked ids — see
    * [[graft.streaming.Streaming.NearDupClusterStream]].
    */
  private[graft] def pairsFromPostingBanks(
      pA: DataFrame,
      sizesA: DataFrame,
      pB: DataFrame,
      sizesB: DataFrame,
      idCol: String,
      threshold: Double,
      maxDocFreq: Int): (DataFrame, DataFrame) = {
    val dfA = pA.select(col("s"), size(col("__ids")).as("__nother"))
    val postB = pB.join(dfA, Seq("s"), "left")
      .filter(size(col("__ids")) > 1 &&
        withinBankCap(size(col("__ids")) + coalesce(col("__nother"), lit(0)), maxDocFreq))
      .select(col("s"), col("__ids"))
    val crossJoined = pA.join(
        pB.select(col("s"), col("__ids").as("__bs")), Seq("s"))
      .filter(withinBankCap(size(col("__ids")) + size(col("__bs")), maxDocFreq))
      .select(col("s"), col("__ids").as("__as"), col("__bs"))
    (scoreJaccardPairs(expandPostingPairs(postB), sizesB, sizesB, idCol, threshold),
      scoreJaccardPairs(expandCrossPostingPairs(crossJoined), sizesA, sizesB, idCol, threshold))
  }

  /** Winnowing near-dup pairs: Rabin–Karp rolling-hash k-gram fingerprints
    * selected by the winnowing scheme (graft.functions.WinnowFingerprints),
    * then exact set-Jaccard over the selected fingerprints. Density ~2/(w+1)
    * means the exploded relation is ~(w+1)/2× smaller than full byte-shingle
    * dedup for the same guarantee window — the byte-level complement to the
    * word-shingle [[jaccardPairs]].
    *
    * Parameter calibration (measured on the sf0.1 corpus): SHORT byte grams
    * (k=8 ≈ one word) are stop-gram-dominated — "the and"-type 8-grams occur
    * corpus-wide, so posting lists go quadratic (272s uncapped) and capping
    * them deletes the very fingerprints near-dup pairs share (0 recall).
    * k=16 (≈2–3 words, like the word-3-gram shingles) makes fingerprints
    * discriminative: full recall of the shingle ground truth with the
    * df>100 stop-gram cap ON, in ~2s. Both defaults are part of the operator
    * contract; the cap is not silent truncation — a fingerprint shared by
    * >100 documents identifies no PAIR in any case.
    */
  def winnowPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 16,
      w: Int = 4,
      threshold: Double = 0.5,
      maxDocFreq: Int = 100): DataFrame =
    setJaccardPairs(
      df.select(
        col(idCol),
        graft.functions.WinnowFunctions.graft_winnow(col(textCol), k, w).as("sh")),
      idCol, threshold, maxDocFreq)

  /** MinHash signature from pre-computed shingle hashes — the native
    * one-pass Catalyst kernel (graft.functions.MinHashSignature): permutation
    * p takes `min over h of XXH64.hashLong(h, p)`, one codegen'd loop
    * instead of an interpreted lambda per (permutation × shingle).
    */
  def minhashSignature(hashes: Column, numHashes: Int): Column =
    graft.functions.HashFunctions.graft_minhash_sig(hashes, numHashes)

  /** Banded LSH buckets of a hashed-shingle relation `(idCol, sh)` (no
    * empty sets): one `(idCol, bucket)` row per band of each document's
    * `numHashes`-long MinHash signature, `bucket = struct(band, h)` with
    * `h = xxhash64(slice(sig, band·rows + 1, rows))` computed by the native
    * [[graft.functions.BandHashes]] kernel — a fixed-width key, equal
    * exactly when the band index and the band's hash are. ONE definition
    * for the self- and cross-corpus LSH variants, whose bucket encodings
    * are contractually required to agree (a candidate can only form
    * across sides if both sides bucket identically). Each document emits
    * each band once, so the rows are distinct per (id, bucket) by
    * construction.
    */
  private def bandBuckets(sh: DataFrame, idCol: String, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val sig = minhashSignature(col("sh"), numHashes)
    sh.select(col(idCol),
        posexplode(graft.functions.HashFunctions.graft_band_hashes(sig, bands, numHashes / bands)))
      .select(col(idCol), struct(col("pos").as("band"), col("col").as("h")).as("bucket"))
  }

  /** LSH candidate pairs of [[minhashLshPairs]]: (doc_a, doc_b, common)
    * with doc_a < doc_b and `common` the number of shared bands.
    *
    * An equi-join of the band buckets with themselves on `bucket`, kept to
    * doc_a < doc_b, then `count(1)` per pair: a join that AQE broadcasts at
    * curation sizes (sort-merge beyond) and a hash aggregate, all generated
    * code. Posting lists ([[bucketPairs]]) would build an object hash set
    * per bucket, and with near-duplicates rare almost every band bucket
    * holds one document and pairs nothing. The rows equal [[bucketPairs]]
    * over the same buckets: the strict `<` drops self-pairs and NULL ids,
    * as `collect_set` drops NULLs, and [[bandBuckets]] emits each
    * (id, bucket) once, so a pair's join rows are its shared buckets.
    */
  private[graft] def lshCandidates(
      sh: DataFrame, idCol: String, numHashes: Int, bands: Int): DataFrame = {
    val buckets = bandBuckets(sh, idCol, numHashes, bands)
    // past the filter no id is NULL: declare it, so the schema stays non-null
    def id(c: String): Column = ColumnBridge.column(KnownNotNull(ColumnBridge.expression(col(c)))).as(c)
    buckets.select(col(idCol).as("doc_a"), col("bucket"))
      .join(buckets.select(col(idCol).as("doc_b"), col("bucket")), Seq("bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(id("doc_a"), id("doc_b"))
      .agg(count(lit(1)).as("common"))
  }

  /** LSH candidate pairs of [[crossMinhashLshPairs]]: distinct (doc_a, doc_b)
    * with doc_a from `shA` and doc_b from `shB` sharing at least one band.
    */
  private[graft] def crossLshCandidates(
      shA: DataFrame, shB: DataFrame, idCol: String, numHashes: Int, bands: Int): DataFrame =
    bandBuckets(shA, idCol, numHashes, bands).select(col(idCol).as("doc_a"), col("bucket"))
      .join(bandBuckets(shB, idCol, numHashes, bands)
        .select(col(idCol).as("doc_b"), col("bucket")), Seq("bucket"))
      .select(col("doc_a"), col("doc_b")).distinct()

  /** MinHash+LSH near-dup pairs. Signature of `numHashes` minhashes split
    * into `bands` bands; documents sharing any band bucket become candidates;
    * candidates are verified with exact Jaccard ≥ threshold (so LSH only
    * affects recall, never precision).
    */
  def minhashLshPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      numHashes: Int = 32,
      bands: Int = 16): DataFrame = {
    val sh = hashedShingles(df, idCol, textCol, n).filter(size(col("sh")) > 0).scopedCache()
    val candidates = lshCandidates(sh, idCol, numHashes, bands).select(col("doc_a"), col("doc_b"))
    // verify candidates with exact Jaccard over the shingle sets
    val shA = sh.select(col(idCol).as("doc_a"), col("sh").as("sh_a"))
    val shB = sh.select(col(idCol).as("doc_b"), col("sh").as("sh_b"))
    candidates
      .join(shA, "doc_a").join(shB, "doc_b")
      .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("jaccard", col("common") / (size(col("sh_a")) + size(col("sh_b")) - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Incremental (cross-corpus) MinHash+LSH near-dup pairs: the LSH analog
    * of [[crossJaccardPairs]], completing the {self, cross} × {exact, LSH}
    * matrix — banded signature buckets are built PER SIDE and joined only
    * across sides, so a bucket with a existing and b incoming docs emits
    * a·b candidates and zero same-side pairs, and the store is never
    * re-paired against itself. Candidates verify with exact Jaccard over
    * the hashed shingle sets (LSH affects recall only, never precision).
    *
    * At 100 TB this is the operationally dominant dedup shape: the store's
    * banded buckets are computed once per increment (or persisted — the
    * signature relation is ~numHashes longs per doc, a compact sketch
    * table worth materializing), the incoming increment is small, and the
    * bucket join shuffles (id, bucket) pairs, never text or signatures.
    */
  def crossMinhashLshPairs(
      existing: DataFrame,
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      numHashes: Int = 32,
      bands: Int = 16): DataFrame = {
    val shA = hashedShingles(existing, idCol, textCol, n).filter(size(col("sh")) > 0).scopedCache()
    val shB = hashedShingles(incoming, idCol, textCol, n).filter(size(col("sh")) > 0).scopedCache()
    val candidates = crossLshCandidates(shA, shB, idCol, numHashes, bands)
    candidates
      .join(shA.select(col(idCol).as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(shB.select(col(idCol).as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("jaccard", col("common") / (size(col("sh_a")) + size(col("sh_b")) - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Connected components over near-duplicate pairs — the cluster-resolution
    * step that turns PAIRWISE dedup output into transitive duplicate groups
    * (A~B, B~C ⟹ {A,B,C} is one group with one keeper; dropping the higher
    * id of each pair independently would over-drop and can even drop every
    * member of a cycle). Returns (id, cluster_id) where cluster_id is the
    * minimum member id — the canonical keeper.
    *
    * Algorithm: iterative min-label propagation to a fixpoint — each round
    * every vertex takes the min of its own label and its neighbors' labels
    * (one shuffle join + partial-aggregating groupBy per round, converging
    * in O(graph diameter) rounds). Near-dup graphs are overwhelmingly tiny
    * cliques and chains (diameter ≤ ~3), so the round count is small and
    * data-independent of corpus size; each round's state is localCheckpointed
    * so the lineage (and the re-execution cost of the convergence check)
    * stays O(1) per round instead of growing with the iteration count. For
    * adversarially long chains at 100 TB, use [[connectedComponentsFast]]
    * (large-star/small-star pointer doubling, O(log n) rounds) — same
    * join/agg building blocks, different message rule; identical labels
    * (pinned by a PropertiesSpec random-graph property).
    *
    * `maxIter` is a fail-loud guard, not a cost: the loop exits on the
    * first no-change round, so a generous budget is only ever PAID by a
    * graph that actually needs the rounds — the default (100, covering
    * component diameters ≈200 under min-label + smart init) exists so a
    * chain-shaped component a few dozen docs long converges rather than
    * crashing, while a truly unbounded diameter still fails loudly below
    * instead of looping forever.
    */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int = 100): DataFrame = {
    // materialize the pair relation exactly ONCE: `pairs` is typically an
    // expensive shingle/band join-aggregate, and the two union branches
    // below would otherwise each re-derive it (Spark performs no
    // cross-branch subtree reuse)
    val base = pairs.select(col(aCol).as("s"), col(bCol).as("t")).localCheckpoint(true)
    val edges = base
      .union(base.select(col("t").as("s"), col("s").as("t")))
      .distinct().localCheckpoint()
    // smart init: label = min(id, min neighbor) — one aggregation that
    // fully resolves cliques and stars (the dominant near-dup shapes), so
    // the loop below usually runs exactly one no-change round
    var labels = edges.groupBy(col("s").as("id"))
      .agg(min(col("t")).as("__nmin"))
      .select(col("id"), least(col("id"), col("__nmin")).as("label"))
      .localCheckpoint()
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val neighborMin = edges
        .join(labels.select(col("id").as("t"), col("label").as("nl")), Seq("t"))
        .groupBy(col("s").as("id")).agg(min(col("nl")).as("nmin"))
      // LAZY checkpoint: the convergence count below is the materializing
      // action (it computes every partition), so each round pays ONE job
      // instead of an eager-checkpoint job plus a separate check
      val next = labels
        .join(neighborMin, Seq("id"), "left")
        .select(col("id"), least(col("label"), coalesce(col("nmin"), col("label"))).as("label"),
          (col("nmin") < col("label")).as("__chg"))
        .localCheckpoint(false)
      converged = next.filter(col("__chg")).count() == 0
      labels = next.drop("__chg")
      i += 1
    }
    // same fail-loud contract as connectedComponentsFast: labels from a
    // truncated run would silently split one transitive duplicate group
    // into several "clusters", each keeping its own copy. Components wider
    // than the round budget need the O(log n) variant.
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $i rounds (maxIter=$maxIter); " +
        "use connectedComponentsFast for large-diameter graphs")
    labels.select(col("id"), col("label").as("cluster_id"))
  }

  /** Connected components via alternating large-star / small-star (the
    * MapReduce pointer-doubling scheme of Kiveris et al., "Connected
    * Components in MapReduce and Beyond") — the adversarial-diameter
    * upgrade of [[connectedComponents]]: a path graph of n nodes converges
    * in O(log n) rounds where min-label propagation needs O(n). Same
    * output contract: (id, cluster_id = component minimum) for every id
    * appearing in `pairs`.
    *
    * Per round (both phases are one join + one partial-aggregating groupBy
    * on the node id — no global structure):
    *  - large-star: every node u connects its strictly-LARGER neighbors to
    *    m(u) = min(Γ(u) ∪ u), halving long chains upward;
    *  - small-star: with edges oriented max→min, every node u connects its
    *    not-larger neighbors and itself to m(u), collapsing local stars.
    * The edge set monotonically approaches the star closure {(v, root)};
    * convergence = the round was a no-op. Each round's edge set is
    * localCheckpointed so lineage stays O(1) per round.
    *
    * Near-dup graphs (tiny cliques/chains) converge in 1-2 rounds either
    * way — the min-label version's smart init is marginally cheaper there,
    * which is why the registered cluster queries keep it; this variant is
    * the one to reach for when component diameter is unknown or unbounded
    * (web graphs, transitive identity resolution at 100 TB).
    */
  def connectedComponentsFast(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int = 50): DataFrame = {
    // materialize the pair relation exactly ONCE: the star rounds and the
    // node set both consume it, and downstream evaluations of the OUTPUT
    // would otherwise re-derive the (typically expensive) pair lineage
    // through `nodes` on every use
    val base = pairs.select(col(aCol).as("s"), col(bCol).as("t")).localCheckpoint(true)
    val (edges, rounds, converged) = alternatingStarRounds(base, "s", "t", maxIter)
    // O(log n) rounds means the default budget covers ~2^50 nodes; hitting
    // it unconverged must fail LOUD — star edges from a truncated run would
    // silently mislabel components
    if (!converged) throw new IllegalStateException(
      s"connectedComponentsFast did not converge in $rounds rounds (maxIter=$maxIter)")
    val nodes = base.select(col("s").as("id"))
      .union(base.select(col("t").as("id"))).distinct()
    // converged edges are star edges (child → root); roots and self-pair
    // singletons label themselves
    nodes
      .join(edges.select(col("s").as("id"), col("t").as("__root")), Seq("id"), "left")
      .select(col("id"), coalesce(col("__root"), col("id")).as("cluster_id"))
  }

  /** Star-contraction loop shared with the spec (which asserts the O(log n)
    * round count on a long chain). Returns (final max→min edge set, rounds
    * executed, converged?).
    */
  private[graft] def alternatingStarRounds(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int): (DataFrame, Int, Boolean) = {
    var edges = pairs
      .select(greatest(col(aCol), col(bCol)).as("s"), least(col(aCol), col(bCol)).as("t"))
      .filter(col("s") =!= col("t"))
      .distinct().localCheckpoint(true)
    // carry the edge count across rounds: each round's count doubles as
    // the LAZY checkpoint's materializing action, so a round pays one
    // count job (plus the except only when counts match) instead of an
    // eager-checkpoint job + two counts
    var edgeCount = edges.count()
    var rounds = 0
    var done = edgeCount == 0
    while (!done && rounds < maxIter) {
      val nbrs = edges.union(edges.select(col("t").as("s"), col("s").as("t")))
      val lsMin = nbrs.groupBy(col("s")).agg(min(col("t")).as("__nmin"))
        .select(col("s"), least(col("s"), col("__nmin")).as("m"))
      val ls = nbrs.join(lsMin, "s")
        .filter(col("t") > col("s"))
        .select(col("t").as("s"), col("m").as("t"))
        .filter(col("s") =!= col("t"))
        .distinct()
      val ssMin = ls.groupBy(col("s")).agg(min(col("t")).as("m"))
      val withM = ls.join(ssMin, "s")
      val ss = withM.select(col("t").as("s"), col("m").as("t"))
        .union(withM.select(col("s"), col("m").as("t")))
        .filter(col("s") =!= col("t"))
        .distinct()
        .localCheckpoint(false)
      val ssCount = ss.count()
      done = ssCount == edgeCount && ss.except(edges).isEmpty
      edges = ss
      edgeCount = ssCount
      rounds += 1
    }
    (edges, rounds, done || edgeCount == 0)
  }

  /** Train/eval decontamination: flag training documents sharing any word
    * n-gram with the evaluation set — the standard benchmark-leakage guard
    * run before pretraining (n = 8 by convention; see the hashed-shingle
    * notes on collision odds). Output: one row per training document with
    * its distinct-gram count, the number of those grams that appear
    * anywhere in the eval set, and the contamination flag.
    *
    * Scale shape: the eval side is tiny by construction (benchmarks vs a
    * 100 TB corpus), so its distinct gram set is BROADCAST — the training
    * corpus is scanned once, grams are hashed to 64-bit longs
    * ([[hashedShingles]]) so the probe compares fixed-width keys, and the
    * only shuffle is the per-document count aggregation of (id, hit) pairs.
    * A left join keeps zero-overlap documents in the result.
    */
  def decontaminate(
      train: DataFrame,
      eval: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8): DataFrame = {
    val trainSh = hashedShingles(train, idCol, textCol, n)
    val evalGrams = hashedShingles(eval, idCol, textCol, n)
      .select(explode(col("sh")).as("g")).distinct()
    val exploded = trainSh.select(col(idCol), explode(col("sh")).as("g"))
    val hits = exploded
      .join(broadcast(evalGrams), Seq("g"), "left_semi")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"))
    trainSh.select(col(idCol), size(col("sh")).cast("long").as("n_grams"))
      .join(hits, Seq(idCol), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .withColumn("is_contaminated", col("n_hits") > 0)
  }

  /** Bloom-prefiltered decontamination — same output as [[decontaminate]]
    * (row-identical; the registered query reuses its DuckDB oracle), for the
    * regime where the eval-side distinct-gram set is too large to sit in the
    * driver as a broadcast hash relation but its BLOOM FILTER is not: at
    * fpp=0.01 the filter costs ~1.2 bytes/gram, so 10⁹ eval grams fit in
    * ~1.2 GB where the exact long-set needs 8 GB+ and a hash table on top.
    *
    * Two-phase exactness: the bloom filter has NO false negatives, so
    * prefiltering the exploded training grams through it keeps every true
    * hit; the surviving candidates (true hits + ~fpp false positives) then
    * exact-verify against the real eval-gram relation. That verify join is
    * deliberately NOT broadcast-hinted — in the target regime the eval-gram
    * relation is exactly the thing that does not fit as a broadcast hash
    * relation, so the join must be free to run as a shuffled semi join on
    * the 8-byte gram key, where the bloom has already cut the corpus side
    * to ~fpp of its grams (AQE still picks broadcast when eval is small).
    * What remains after the join is the per-document count aggregation,
    * same as the broadcast form.
    *
    * The membership probe is a closure-capturing UDF by design, not a
    * Catalyst expression: the serialized filter is MB-to-GB scale, and a
    * native expression would embed it in the plan as a literal (shipped with
    * every task binary AND into codegen). A broadcast-captured UDF ships it
    * once per executor — here the UDF-vs-expression preference ladder
    * inverts. (Spark's own runtime-filter rewrite, `InjectRuntimeFilter`,
    * uses the same sketch for join pruning but cannot express this
    * count-the-hits semantic.)
    *
    * `fpp` trades filter size against wasted verify work only — never
    * correctness. Reference provenance: same benchmark-leakage guard as
    * [[decontaminate]] (n=8 by convention).
    *
    * Unlike the other (fully lazy) operators here, CONSTRUCTION runs two
    * eager eval-side jobs (the sizing count and the filter aggregate), and
    * the cached eval-gram relation stays pinned because the returned frame
    * still references it lazily in the verify join — long-lived sessions
    * should use [[decontaminateBloomManaged]] and invoke its release handle
    * after materializing each result.
    */
  /** The (cached distinct eval-gram relation, bloom filter) pair behind
    * [[decontaminateBloom]] — factored so diagnostics (ScaleSmoke's
    * cand_frac probe) measure EXACTLY the filter the operator runs with
    * (sizing, hashing and fpp included); construction runs two eval-side
    * jobs (the sizing count, then the distributed filter aggregate whose
    * per-partition partials merge on the driver).
    */
  private[graft] def evalGramBloom(
      eval: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      fpp: Double): (DataFrame, org.apache.spark.util.sketch.BloomFilter) = {
    val evalGrams = hashedShingles(eval, idCol, textCol, n)
      .select(explode(col("sh")).as("g")).distinct()
      .scopedCache()
    val bf = evalGrams.stat.bloomFilter("g", math.max(evalGrams.count(), 1L), fpp)
    (evalGrams, bf)
  }

  def decontaminateBloom(
      train: DataFrame,
      eval: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      fpp: Double = 0.01): DataFrame =
    decontaminateBloomManaged(train, eval, idCol, textCol, n, fpp)._1

  /** [[decontaminateBloom]] plus an explicit release handle: the second
    * element unpersists the cached eval-gram relation and destroys the
    * (MB-to-GB scale) broadcast bloom filter. Call it AFTER materializing
    * the returned frame — long-lived sessions (query harnesses, notebooks)
    * that loop over corpora must not rely on GC/ContextCleaner to reclaim
    * executor memory for filters this large.
    */
  def decontaminateBloomManaged(
      train: DataFrame,
      eval: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      fpp: Double = 0.01): (DataFrame, () => Unit) = {
    val (evalGrams, bf) = evalGramBloom(eval, idCol, textCol, n, fpp)
    val spark = train.sparkSession
    val bfBc = spark.sparkContext.broadcast(bf)
    val release = () => { evalGrams.unpersist(); bfBc.destroy() }
    val mightContain = udf((g: Long) => bfBc.value.mightContainLong(g))
    val trainSh = hashedShingles(train, idCol, textCol, n)
    // no broadcast hint: in the target regime evalGrams is bigger than any
    // broadcast budget — AQE broadcasts it when small, shuffles on the
    // 8-byte gram key when not (with the candidate side already ~fpp-sized)
    val hits = trainSh.select(col(idCol), explode(col("sh")).as("g"))
      .filter(mightContain(col("g")))
      .join(evalGrams, Seq("g"), "left_semi")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"))
    val out = trainSh.select(col(idCol), size(col("sh")).cast("long").as("n_grams"))
      .join(hits, Seq(idCol), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .withColumn("is_contaminated", col("n_hits") > 0)
    (out, release)
  }

  /** Multi-benchmark decontamination ATTRIBUTION: which eval set leaked
    * into which training document. [[decontaminate]] answers "is this doc
    * contaminated"; production pipelines run dozens of benchmarks and need
    * the per-(doc, eval_set) hit counts to decide drops per benchmark
    * policy and to report leakage per suite. Output: one row per
    * contaminated (id, eval_set) pair with its shared-gram count — clean
    * pairs are absent by construction (the relation is hit-sized, not
    * |train|×|sets|).
    *
    * Scale shape: train grams explode ONCE and join the union of the
    * (set-tagged, distinct) eval gram relations on the 8-byte hash — the
    * eval union is benchmark-sized (small), so AQE broadcasts it; the
    * aggregation is a map-side-partial count on (id, set). Adding a
    * benchmark adds rows to the broadcast side, never a second train scan.
    */
  def decontaminateMulti(
      train: DataFrame,
      evals: Seq[(String, DataFrame)],
      idCol: String,
      textCol: String,
      n: Int = 8): DataFrame = {
    require(evals.nonEmpty, "need at least one eval set")
    require(evals.map(_._1).distinct.size == evals.size,
      "eval set names must be unique — same-named sets would silently merge and double-count")
    val trainG = hashedShingles(train, idCol, textCol, n)
      .select(col(idCol), explode(col("sh")).as("g"))
    val evalG = evals.map { case (name, df) =>
      hashedShingles(df, idCol, textCol, n)
        .select(explode(col("sh")).as("g")).distinct()
        .withColumn("eval_set", lit(name))
    }.reduce(_.unionByName(_))
    trainG.join(evalG, Seq("g"))
      .groupBy(col(idCol), col("eval_set"))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Line-level boilerplate removal (the CCNet / RefinedWeb pre-dedup pass):
    * drop every line that appears in more than `maxDocFreq` distinct
    * documents — navigation bars, cookie banners, copyright footers — and
    * reconstruct each document from its surviving lines, preserving order.
    * Output: one row per document with `n_lines`, `n_dropped`, `clean_text`.
    *
    * Scale shape (the document text stays put as long as the dropped-position
    * relation broadcasts; every unconditional shuffle carries hashes and int
    * positions only):
    *  1. explode to (id, line_idx, xxhash64(line)) — 8-byte hashes move, not
    *     line strings;
    *  2. document-frequency aggregate on the hash (map-side partial) → the
    *     hot-hash relation, which is small by construction (only lines
    *     repeated across >maxDocFreq docs survive the filter);
    *  3. semi-join the (id, idx, hash) relation against the hot hashes →
    *     dropped positions, collapsed to one `(id, drop_idx array)` row per
    *     affected document — rows of a few ints;
    *  4. left-join that small relation back to the original documents (AQE
    *     picks broadcast when it fits; if boilerplate is so pervasive that
    *     the position relation outgrows broadcast, this degrades to ONE
    *     doc-id-keyed shuffle of the corpus — still strictly cheaper than
    *     the naive explode→filter→regroup, which shuffles every surviving
    *     line's text) and rebuild the text with an index-aware `filter`
    *     HOF — a narrow projection over the original partitioning.
    * Hash collisions (~|lines|²/2⁶⁵) can at worst drop an innocent
    * line that collides with boilerplate — same odds as the other xxhash64
    * operators here.
    */
  def lineDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxDocFreq: Long,
      sep: String = "\n"): DataFrame = {
    require(maxDocFreq >= 1, "maxDocFreq must be >= 1")
    val lines = df.select(
      col(idCol),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("idx", "line")))
      .select(col(idCol), col("idx"), xxhash64(col("line")).as("h"))
    val hot = lines.groupBy(col("h"))
      .agg(countDistinct(col(idCol)).as("docfreq"))
      .filter(col("docfreq") > maxDocFreq)
      .select(col("h"))
    val dropIdx = lines.join(hot, Seq("h"), "left_semi")
      .groupBy(col(idCol))
      .agg(collect_set(col("idx")).as("drop_idx"))
    df.join(dropIdx, Seq(idCol), "left")
      .select(
        col(idCol),
        bindOnce(split(col(textCol), java.util.regex.Pattern.quote(sep))) { ls =>
          struct(
            size(ls).cast("long").as("n_lines"),
            coalesce(size(col("drop_idx")), lit(0)).cast("long").as("n_dropped"),
            array_join(
              filter(ls, (_, i) =>
                !array_contains(coalesce(col("drop_idx"), array().cast("array<int>")), i)),
              sep).as("clean_text"))
        }.as("r"))
      .select(col(idCol), col("r.n_lines"), col("r.n_dropped"), col("r.clean_text"))
  }

  /** THREE-SENTENCE-SPAN dedup — C4's own dedup unit (Raffel et al. 2020
    * §2.2 deduplicates "any three-sentence span" occurring more than once
    * in the corpus), completing the [[graft.ops.TextOps.c4Rules]] family:
    * line dedup catches repeated LINES, the substring family repeated
    * TOKEN runs; this catches repeated sentence windows, the unit the C4
    * paper actually removes.
    *
    * Sentences are maximal `[^.!?]+[.!?]` runs (trimmed, empties
    * dropped — deterministic and engine-portable; no abbreviation
    * heuristics, same contract class as the c4Rules sentence count).
    * Every consecutive `span` -sentence window is keyed by the md5 of its
    * space-joined text; the first occurrence in (id, span_idx) order is
    * the keeper, every other occurrence is a duplicate.
    *
    * Scale shape: sentence/window expansion is a narrow per-row
    * projection (output volume = corpus sentence count — linear); the
    * only shuffle is the hash partition on `span_md5` for the keeper
    * window — never all-pairs, the exactDedup posture at span
    * granularity. Documents with fewer than `span` sentences emit
    * nothing.
    *
    * Output: (idCol, span_idx, span_md5, keeper_id, keeper_idx, is_dup)
    * with span_idx 0-based.
    */
  def sentenceSpanDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      span: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(span >= 1, "span must be >= 1")
    // possessive quantifier (++): the greedy form backtracks O(len²) on a
    // terminal-punctuation-free document (consume-all, then unwind one
    // char at a time before failing) — measured 15× slower on the soup
    // corpus. For THIS pattern possessive is match-equivalent: the class
    // excludes the terminals, so the maximal run is the only viable run.
    // The oracle keeps the plain `+` — RE2 is a linear-time automaton
    // with no backtracking (and no possessive syntax).
    val sents = filter(
      transform(
        regexp_extract_all(coalesce(col(textCol), lit("")), lit("[^.!?]++[.!?]"), lit(0)),
        s => trim(s)),
      s => s =!= "")
    // the window construction is let-bound (bindOnce) so the sentence
    // extraction runs ONCE per document — CollapseProject would otherwise
    // inline the regexp into the per-window lambda (once per window) and
    // the size() guard (measured ~15× on this corpus)
    val spans = df
      .select(col(idCol),
        bindOnce(sents) { s =>
          when(size(s) >= span,
            transform(sequence(lit(1), size(s) - (span - 1)),
              i => array_join(slice(s, i, lit(span)), " ")))
            .otherwise(array().cast("array<string>"))
        }.as("__w"))
      .select(col(idCol),
        posexplode(col("__w")).as(Seq("span_idx", "span_text")))
      .select(col(idCol), col("span_idx").cast("long").as("span_idx"),
        md5(col("span_text")).as("span_md5"))
    val w = Window.partitionBy(col("span_md5"))
    spans
      .withColumn("__k", min(struct(col(idCol), col("span_idx"))).over(w))
      .select(col(idCol), col("span_idx"), col("span_md5"),
        col("__k").getField(idCol).as("keeper_id"),
        col("__k").getField("span_idx").as("keeper_idx"),
        (col("__k").getField(idCol) =!= col(idCol) ||
          col("__k").getField("span_idx") =!= col("span_idx")).as("is_dup"))
  }

  /** Repeated-SPAN detection — the substring-level dedup pass (the
    * "Deduplicating Training Data" ExactSubstr shape, re-expressed
    * relationally): find, per document, the maximal token spans whose every
    * k-gram occurs at least `minCount` times corpus-wide — repeated
    * passages, quotes and boilerplate INSIDE otherwise-unique documents,
    * which document-level (exact/Jaccard/minhash) dedup cannot see. Two
    * hot k-gram positions belong to one span when their token windows
    * touch or overlap (position gap ≤ k); output one row per span:
    * (id, span_start, span_end, n_grams) with token positions 0-based and
    * span_end exclusive.
    *
    * Scale shape: position-indexed gram hashes (posexplode of the native
    * kernel — 8-byte hashes + int positions move, text never leaves the
    * scan), one count aggregate on the hash (map-side partial), a semi-join
    * back, and one by-id window for the island merge — two shuffles total,
    * both on fixed-width keys. The suffix-array construction of the paper
    * is a single-machine algorithm; the k-gram-occurrence relaxation is the
    * join-friendly equivalent with one-sided error only for repeats shorter
    * than k tokens.
    */
  def repeatedSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      minCount: Long = 2L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && minCount >= 2, "need k >= 1 and minCount >= 2")
    val grams = df.select(
      col(idCol),
      posexplode(
        graft.functions.HashFunctions.graft_ngram_hashes(TextOps.tokens(col(textCol)), k))
        .as(Seq("pos", "h")))
    val hot = grams.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount).select(col("h"))
    val hotPos = grams.join(hot, Seq("h"), "left_semi")
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    hotPos
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(w) > k, lit(1L)).otherwise(lit(0L)))
      .withColumn("grp",
        sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("grp"))
      .agg(
        min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + k).cast("long").as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col(idCol), col("span_start"), col("span_end"), col("n_grams"))
  }

  /** Repeated-span REMOVAL — the consumer of [[repeatedSpans]], same
    * contract as [[lineDedup]]'s reconstruction: drop every token covered
    * by a repeated span and rebuild each document from its surviving
    * tokens, order preserved. Output one row per document:
    * (id, n_tokens, n_removed, clean_text) — documents with no repeated
    * spans keep their row with the normalized token stream intact.
    *
    * Scale shape: the span relation is the (small) repeatedSpans output —
    * it broadcasts; the reconstruction is a narrow per-row filter over the
    * token array (token index ∈ some span tested against the doc's
    * collected span list), so full text shuffles only if the span relation
    * exceeds broadcast size and AQE picks a shuffled join.
    */
  def removeRepeatedSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      minCount: Long = 2L): DataFrame =
    reconstructWithoutSpans(df, idCol, textCol,
      repeatedSpans(df, idCol, textCol, k, minCount)
        .select(col(idCol), col("span_start"), col("span_end")))

  /** Rebuild each document from the tokens NOT covered by any of its
    * spans in `spanRel` (idCol, span_start, span_end — 0-based,
    * end-exclusive), order preserved — the reconstruction tail shared by
    * [[removeRepeatedSpans]] (within-doc spans) and [[removeCrossSpans]]
    * (cross-doc spans) so the keep/drop algebra cannot drift between the
    * two scrub policies. Documents with no spans keep their row with the
    * normalized token stream intact.
    */
  private def reconstructWithoutSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      spanRel: DataFrame): DataFrame = {
    val spans = spanRel
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("__spans"))
    df.select(col(idCol), TextOps.tokens(col(textCol)).as("__toks"))
      .join(spans, Seq(idCol), "left")
      .select(
        col(idCol),
        bindOnce(coalesce(col("__spans"),
          array().cast("array<struct<span_start:bigint,span_end:bigint>>"))) { sp =>
          bindOnce(filter(col("__toks"), (_, i) =>
            !exists(sp, s =>
              i.cast("long") >= s.getField("span_start") &&
                i.cast("long") < s.getField("span_end")))) { kept =>
            struct(
              size(col("__toks")).cast("long").as("n_tokens"),
              (size(col("__toks")) - size(kept)).cast("long").as("n_removed"),
              array_join(kept, " ").as("clean_text"))
          }
        }.as("r"))
      .select(col(idCol), col("r.n_tokens"), col("r.n_removed"), col("r.clean_text"))
  }

  /** CROSS-document exact-substring duplicate spans — the suffix-array
    * dedup family (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better": cross-document duplicated substrings ≥ L
    * tokens that doc-level shingle-Jaccard and the within-doc
    * [[repeatedSpans]] both miss), re-expressed as a bucketed join rather
    * than a monolithic suffix array: every position's k-token anchor gram
    * is a bucket; two documents sharing a RUN of consecutive anchors on
    * one alignment diagonal share the run's exact substring, and the
    * maximal run is recovered per (pair, diagonal) with the island trick
    * (anchor position minus its rank is constant within a consecutive
    * run). A span of L ≥ k shared tokens yields L−k+1 consecutive
    * anchors, so maximal-span length = max(pos)−min(pos)+k exactly.
    *
    * Anchor grams are xxhash64 of the k-token window (the
    * [[hashedShingles]] convention, via the native positional
    * [[graft.functions.NGramHashes]] kernel — one codegen'd loop per
    * document): gram VALUES never surface in the output, only positions
    * and span lengths, so the oracle hashes with md5 instead and the two
    * engines agree because both hashes preserve string equality
    * (collisions ~|grams|²/2⁶⁵, the documented hashedShingles bound).
    * The bucket self-join moves 8-byte keys, not k-word strings —
    * measured ~2.8× on the registered pair at sf0.1 (6.7 s → 2.35 s).
    *
    * Scale shape: NEVER all-pairs — pair generation is the anchor-bucket
    * self-join restricted to grams seen in [2, maxDocFreq] distinct
    * documents (the df-cap contract of the Jaccard family: a boilerplate
    * gram shared by every license header is a stop-gram, exactly what
    * Lee et al. drop; strict `>` cap boundary). Per surviving gram the
    * fan-out is ≤ cap², and the island window partitions by
    * (doc_a, doc_b, diagonal) — no global window anywhere. Unique-gram
    * positions (the overwhelming mass of a natural corpus) die in the
    * df ∈ [2, cap] semi-join before any pairing.
    *
    * Output: (doc_a, doc_b, a_start, b_start, span_tokens) per maximal
    * shared span with span_tokens ≥ minSpanTokens, positions 0-based
    * token offsets, doc_a < doc_b.
    */
  def substringSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      minSpanTokens: Int = 24,
      maxDocFreq: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 2, "anchor gram needs k >= 2")
    require(minSpanTokens >= k, "a reportable span must cover at least one anchor")
    require(maxDocFreq >= 2, "a shared gram needs at least two documents")
    // grams alive for pairing: shared (df >= 2) and not hot (df <= cap,
    // strict-> boundary). The semi-join kills the unique-gram mass before
    // the self-join ever sees it.
    val grams = substringGrams(df, idCol, textCol, k)
    val alive = substringAlive(substringGramDf(grams), maxDocFreq)
    val shared = grams.join(alive, Seq("s"), "left_semi")
    val pairs = shared.alias("a")
      .join(shared.alias("b"),
        col("a.s") === col("b.s") && col("a.__doc") < col("b.__doc"))
      .select(
        col("a.__doc").as("doc_a"), col("b.__doc").as("doc_b"),
        col("a.__pos").as("__pa"), col("b.__pos").as("__pb"))
    diagonalSpans(pairs, k, minSpanTokens)
  }

  /** Positional anchor grams for the substring family: (__doc, __pos, s)
    * — NOT distinct; position is load-bearing (the same gram at two
    * positions is two anchors). Same kernel + posexplode shape as
    * [[repeatedSpans]]. The building block the one-shot, incremental,
    * cross-corpus and streaming forms all share.
    */
  private[graft] def substringGrams(
      df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    df.select(
      col(idCol).as("__doc"),
      posexplode(
        graft.functions.HashFunctions.graft_ngram_hashes(TextOps.tokens(col(textCol)), k))
        .as(Seq("__p", "s")))
      .select(col("__doc"), col("__p").cast("long").as("__pos"), col("s"))

  /** Per-gram distinct-document counts (s, __df) — the df statistic a
    * bank maintains; ADDITIVE across batches of DISJOINT documents
    * ([[mergeSubstringGramDf]] is the fold).
    */
  private[graft] def substringGramDf(grams: DataFrame): DataFrame =
    grams.groupBy(col("s")).agg(countDistinct(col("__doc")).as("__df"))

  /** Fold per-gram df counts from disjoint-document batches. */
  private[graft] def mergeSubstringGramDf(parts: DataFrame*): DataFrame =
    parts.reduce(_ unionByName _)
      .groupBy(col("s")).agg(sum(col("__df")).as("__df"))

  /** The df ∈ [2, cap] survival relation from a (s, __df) count table. */
  private[graft] def substringAlive(dfCounts: DataFrame, maxDocFreq: Int): DataFrame =
    dfCounts.filter(col("__df") >= 2 && col("__df") <= maxDocFreq).select(col("s"))

  /** The diagonal-island span tail over a (doc_a, doc_b, __pa, __pb)
    * anchor-match relation: within (pair, pa-pb), anchor positions are
    * unique, so pa - rank(pa) is constant exactly on a consecutive run —
    * each group is one maximal shared span. Shared by [[substringSpans]]
    * and [[incrementalSubstringSpans]] so the span algebra cannot drift
    * between the one-shot and staged forms.
    */
  private def diagonalSpans(pairs: DataFrame, k: Int, minSpanTokens: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wDiag = Window
      .partitionBy(col("doc_a"), col("doc_b"), col("__diag"))
      .orderBy(col("__pa"))
    pairs
      .withColumn("__diag", col("__pa") - col("__pb"))
      .withColumn("__isl", col("__pa") - row_number().over(wDiag))
      .groupBy(col("doc_a"), col("doc_b"), col("__diag"), col("__isl"))
      .agg(
        min(col("__pa")).as("a_start"),
        min(col("__pb")).as("b_start"),
        (max(col("__pa")) - min(col("__pa")) + k).as("span_tokens"))
      .filter(col("span_tokens") >= minSpanTokens)
      .select(
        col("doc_a"), col("doc_b"), col("a_start"), col("b_start"),
        col("span_tokens"))
  }

  /** Incremental [[substringSpans]] — the store/batch decomposition of
    * the suffix-array dedup family (the [[incrementalJaccardPairs]]
    * posture): anchor matches partition EXACTLY into store-internal,
    * batch-internal and store×batch legs under ONE corpus-wide df
    * survival (computed over store ∪ batch — the statistic a production
    * store maintains in its gram bank), so the union of the three legs'
    * spans equals a from-scratch run over all documents — the
    * losslessness proof the registered query pins by sharing the
    * one-shot oracle verbatim. In steady state the store leg's spans
    * were computed when those documents arrived and only the batch and
    * cross legs are paid per increment; the cross leg is batch×store,
    * never store×store.
    *
    * Returns (storeSpans, batchSpans, crossSpans) — cross spans are
    * id-ordered (doc_a < doc_b) regardless of which side each document
    * came from, matching the one-shot convention.
    */
  def incrementalSubstringSpans(
      store: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      minSpanTokens: Int = 24,
      maxDocFreq: Int = 50): (DataFrame, DataFrame, DataFrame) = {
    require(k >= 2, "anchor gram needs k >= 2")
    require(minSpanTokens >= k, "a reportable span must cover at least one anchor")
    require(maxDocFreq >= 2, "a shared gram needs at least two documents")
    val gs = substringGrams(store, idCol, textCol, k)
    val gb = substringGrams(batch, idCol, textCol, k)
    // corpus-wide df over BOTH sides — the cap boundary must match the
    // from-scratch run or the legs stop partitioning its pair set
    val alive = substringAlive(
      mergeSubstringGramDf(substringGramDf(gs), substringGramDf(gb)), maxDocFreq)
    val (batchSpans, crossSpans) = substringSpanLegs(gs, gb, alive, k, minSpanTokens)
    (diagonalSpans(substringInternalPairs(gs.join(alive, Seq("s"), "left_semi")),
      k, minSpanTokens),
      batchSpans, crossSpans)
  }

  private[graft] def substringInternalPairs(g: DataFrame): DataFrame = g.alias("a")
    .join(g.alias("b"), col("a.s") === col("b.s") && col("a.__doc") < col("b.__doc"))
    .select(
      col("a.__doc").as("doc_a"), col("b.__doc").as("doc_b"),
      col("a.__pos").as("__pa"), col("b.__pos").as("__pb"))

  /** The INCREMENT's two span legs from gram relations under a given
    * survival table: batch-internal spans and bank×batch cross spans
    * (id-ordered, matching the one-shot orientation) — what a streaming
    * maintainer emits per micro-batch (the bank-internal leg was emitted
    * when those documents arrived).
    */
  private[graft] def substringSpanLegs(
      bankGrams: DataFrame,
      batchGrams: DataFrame,
      alive: DataFrame,
      k: Int,
      minSpanTokens: Int): (DataFrame, DataFrame) = {
    val ss = bankGrams.join(alive, Seq("s"), "left_semi")
    val sb = batchGrams.join(alive, Seq("s"), "left_semi")
    // cross leg: one row per (gram match, bank doc, batch doc),
    // id-ordered after the join so the span relation matches the
    // one-shot orientation
    val crossPairs = ss.alias("x")
      .join(sb.alias("y"), col("x.s") === col("y.s") && col("x.__doc") =!= col("y.__doc"))
      .select(
        least(col("x.__doc"), col("y.__doc")).as("doc_a"),
        greatest(col("x.__doc"), col("y.__doc")).as("doc_b"),
        when(col("x.__doc") < col("y.__doc"), col("x.__pos")).otherwise(col("y.__pos")).as("__pa"),
        when(col("x.__doc") < col("y.__doc"), col("y.__pos")).otherwise(col("x.__pos")).as("__pb"))
    (diagonalSpans(substringInternalPairs(sb), k, minSpanTokens),
      diagonalSpans(crossPairs, k, minSpanTokens))
  }

  /** CROSS-CORPUS exact-substring spans — [[substringSpans]] between two
    * DISJOINT relations (doc_a always from `left`, doc_b from `right`, no
    * id ordering): anchor survival under the df computed over the UNION
    * (the corpus-wide statistic), pairs restricted to left×right — never
    * left×left or right×right — then the shared diagonal-island tail.
    * The building block of substring decontamination (train×eval) and of
    * batch-vs-store incremental maintenance (the cross leg of
    * [[incrementalSubstringSpans]] is this relation id-ordered).
    */
  def crossSubstringSpans(
      left: DataFrame,
      right: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      minSpanTokens: Int = 24,
      maxDocFreq: Int = 50): DataFrame = {
    require(k >= 2, "anchor gram needs k >= 2")
    require(minSpanTokens >= k, "a reportable span must cover at least one anchor")
    require(maxDocFreq >= 2, "a shared gram needs at least two documents")
    val gl = substringGrams(left, idCol, textCol, k)
    val gr = substringGrams(right, idCol, textCol, k)
    val alive = substringAlive(
      mergeSubstringGramDf(substringGramDf(gl), substringGramDf(gr)), maxDocFreq)
    val pairs = gl.join(alive, Seq("s"), "left_semi").alias("a")
      .join(gr.join(alive, Seq("s"), "left_semi").alias("b"),
        col("a.s") === col("b.s") && col("a.__doc") =!= col("b.__doc"))
      .select(
        col("a.__doc").as("doc_a"), col("b.__doc").as("doc_b"),
        col("a.__pos").as("__pa"), col("b.__pos").as("__pb"))
    diagonalSpans(pairs, k, minSpanTokens)
  }

  /** Exact-substring DECONTAMINATION — the suffix-array complement of the
    * n-gram [[decontaminate]] probe (Lee et al. 2022 §6 / the PaLM-style
    * "contaminated if it shares a ≥L-token verbatim span with an eval
    * document" rule, which catches long verbatim leakage whose doc-level
    * n-gram overlap RATE stays low): every training document sharing at
    * least one maximal span ≥ minSpanTokens with any eval document, with
    * the evidence aggregated per train doc. Eval sets are benchmark-sized;
    * the df cap must sit ABOVE the eval duplication structure (a passage
    * present in the whole eval set plus its train leaks) or the
    * contamination itself becomes a stop-gram — callers size it to the
    * eval corpus, not the dedup default.
    *
    * Output: (idCol, n_eval_docs, n_spans, max_span_tokens) — hit train
    * docs only (the scrub/drop policy joins back by id).
    */
  def substringDecontaminate(
      train: DataFrame,
      evalSet: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      minSpanTokens: Int = 24,
      maxDocFreq: Int = 200): DataFrame =
    crossSubstringSpans(train, evalSet, idCol, textCol, k, minSpanTokens, maxDocFreq)
      .groupBy(col("doc_a").as(idCol))
      .agg(
        countDistinct(col("doc_b")).as("n_eval_docs"),
        count(lit(1)).as("n_spans"),
        max(col("span_tokens")).as("max_span_tokens"))

  /** Cross-document duplicated-span REMOVAL — the Lee et al. 2022 policy
    * consumer of [[substringSpans]]: every duplicated substring keeps ONE
    * canonical occurrence (the lowest-id document is doc_a in every pair
    * it wins, so its copy survives) and every doc_b-side copy is dropped;
    * each document rebuilt from its surviving tokens, order preserved.
    * Overlapping ranges from different pairs union naturally in the
    * covered-index test.
    *
    * Scale shape: the span relation is the (duplication-structure-sized)
    * [[substringSpans]] output — it broadcasts; the reconstruction is
    * [[reconstructWithoutSpans]]'s narrow per-row token filter, shared
    * verbatim with [[removeRepeatedSpans]].
    *
    * Output one row per document: (id, n_tokens, n_removed, clean_text).
    */
  def removeCrossSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      minSpanTokens: Int = 24,
      maxDocFreq: Int = 50): DataFrame =
    reconstructWithoutSpans(df, idCol, textCol,
      substringSpans(df, idCol, textCol, k, minSpanTokens, maxDocFreq)
        .select(col("doc_b").as(idCol), col("b_start").as("span_start"),
          (col("b_start") + col("span_tokens")).as("span_end")))

  /** Incremental connected-components maintenance — the cluster-resolution
    * leg of the incremental dedup story ([[crossJaccardPairs]] /
    * [[crossMinhashLshPairs]] generate the pairs, this folds them into the
    * store's labeling): given the EXISTING `(id, cluster_id)` labeling and
    * a batch of NEW pairs, produce the labeling a full recomputation over
    * every pair ever seen would give — WITHOUT keeping historical pairs
    * around. The stored labeling is itself a star forest (each id → its
    * component's min id, which is a member), so CC over {store stars} ∪
    * {new pairs} reconnects exactly the historical components and links
    * them through the new evidence; labels stay the global min id
    * (spec-pinned equal to the from-scratch CC).
    *
    * Scale shape: the input is O(store ids) star edges + O(batch pairs) —
    * never O(historical pairs); rounds are [[connectedComponentsFast]]'s
    * O(log n). Singletons (with or without new edges) keep their row.
    */
  def mergeClusters(labeled: DataFrame, newPairs: DataFrame): DataFrame = {
    // materialize each input exactly ONCE: `labeled` feeds the edge seed
    // and the id roster, `newPairs` feeds both plus its mirror — without a
    // checkpoint the (typically expensive: a CC run, a shingle join) input
    // lineages re-derive once per consuming branch
    val lab = labeled.select(col("id"), col("cluster_id")).localCheckpoint(true)
    val np = newPairs.select(col("doc_a"), col("doc_b")).localCheckpoint(true)
    val edges = lab
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as("doc_a"), col("cluster_id").as("doc_b"))
      .unionByName(np)
    val cc = connectedComponentsFast(edges, "doc_a", "doc_b")
    val ids = lab.select(col("id"))
      .unionByName(np.select(col("doc_a").as("id")))
      .unionByName(np.select(col("doc_b").as("id")))
      .distinct()
    ids.join(cc, Seq("id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("id")))
  }

  /** Score-based keeper election per cluster: given a `(id, cluster_id)`
    * labeling (any CC output) and a per-id score relation, pick each
    * cluster's HIGHEST-scoring member (ties → min id) as its keeper —
    * production curation keeps the best-quality member of a near-dup
    * family, not the accidental minimum id. Output: the labeling extended
    * with (keeper_id, is_keeper) — EVERY labeled row survives; ids missing
    * from the score relation rank below all scored members, and a cluster
    * with no scored member falls back to the min-id keeper.
    *
    * Scale shape: one join on id + one max_by aggregation on cluster_id
    * (map-side partial; the struct argmax carries (score, -id) so the
    * tiebreak needs no second pass), then a broadcast-size join back —
    * cluster count is ≤ id count and the aggregate row is a few fields.
    */
  def keeperByScore(
      labeled: DataFrame,
      scores: DataFrame,
      idCol: String,
      scoreCol: String): DataFrame = {
    // LEFT join: an unscored id must stay in the labeling (it just cannot
    // win against any scored member — missing score ranks below every real
    // one); an entirely-unscored cluster falls back to the min-id keeper
    val withScore = labeled.join(
      scores.select(col(idCol).as("id"), col(scoreCol).as("__score")), Seq("id"), "left")
      .withColumn("__score", coalesce(col("__score"), lit(Double.NegativeInfinity)))
    val keepers = withScore
      .groupBy(col("cluster_id"))
      .agg(max(struct(col("__score"), (-col("id")).as("__negid"))).as("__best"))
      .select(col("cluster_id"), (-col("__best.__negid")).as("keeper_id"))
    labeled.join(keepers, Seq("cluster_id"))
      .select(col("id"), col("cluster_id"), col("keeper_id"),
        (col("id") === col("keeper_id")).as("is_keeper"))
  }

  /** Prefix-template groups (mirror/boilerplate detection): documents
    * sharing their first `k` tokens verbatim collapse into one template
    * group — SEO farms, mirrored articles and generated pages repeat their
    * openings even when tails diverge, so the prefix fingerprint catches
    * families that whole-document exact dedup misses. One row per group
    * with ≥2 members: (fingerprint = md5 of the joined prefix, keeper_id =
    * min id, n_docs). Documents shorter than `k` tokens fingerprint their
    * whole token stream (empty documents therefore form one group — the
    * degenerate template).
    *
    * Scale shape: one narrow projection (tokens → k-slice → md5) + one
    * hash-aggregate on the 128-bit fingerprint; text never shuffles.
    */
  def prefixTemplates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 16): DataFrame = {
    require(k >= 1, "k must be positive")
    df.select(
      col(idCol),
      md5(concat_ws(" ", slice(TextOps.tokens(col(textCol)), 1, k))).as("fingerprint"))
      .groupBy(col("fingerprint"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
  }

  /** Exact word-n-gram Jaccard verification over any candidate pair
    * relation: each (doc_a, doc_b) candidate is re-scored against the FULL
    * (uncapped) shingle sets and kept at `threshold` — the standard
    * candidate/verify split where the generator (LSH bands, simhash chunks,
    * winnowed fingerprints) affects RECALL only, never precision or scores.
    *
    * The returned `jaccard` is the true text-level similarity, re-derivable
    * in plain SQL from the documents — so when the generator's recall is
    * total (measured on the gate corpus in DedupTextSpec), the result is
    * EXACTLY the text-derivable exact-Jaccard relation, and the registered
    * queries built on this share one DuckDB oracle: the hash-match then
    * verifies the whole generate→verify composition end-to-end, including
    * that no true pair was lost to banding.
    *
    * Scale shape: candidates are the (small) output of a bucketed generator
    * — this join ships each candidate id pair plus two hashed shingle sets,
    * never text, and never goes all-pairs.
    */
  def verifyPairsExactJaccard(
      candidates: DataFrame,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double): DataFrame = {
    val sh = hashedShingles(docs, idCol, textCol, n)
    val shA = sh.select(col(idCol).as("doc_a"), col("sh").as("sh_a"))
    val shB = sh.select(col(idCol).as("doc_b"), col("sh").as("sh_b"))
    candidates.select(col("doc_a"), col("doc_b")).distinct()
      .join(shA, "doc_a").join(shB, "doc_b")
      .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("jaccard",
        col("common") / (size(col("sh_a")) + size(col("sh_b")) - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Per-document n-gram novelty: the fraction of a document's distinct
    * word n-grams whose FIRST corpus occurrence (minimum doc id) is this
    * document — the cheap sequencing-free instance of the "how much new
    * text does this doc add" question that exact-substring dedup answers
    * expensively. Low-novelty late documents are recombinations of
    * earlier material; a training-data curation pass ranks or drops them.
    *
    * Shape: one explode of hashed shingles, one min-aggregate per gram
    * (8-byte keys, map-side combined), one equi-join back, one count
    * aggregate — no pairing, so no df cap is needed: a hot gram costs one
    * posting row per doc, never a quadratic bucket. Documents with fewer
    * than `n` tokens have no grams and are excluded (mirrored by the
    * oracle).
    *
    * Output: (id, n_grams, n_novel, novelty).
    */
  def ngramNovelty(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3): DataFrame = {
    // cached: the exploded gram relation feeds the first-owner aggregate
    // AND the join probe (module caching contract: caller/harness clears)
    val ex = hashedShingles(docs, idCol, textCol, n)
      .select(col(idCol), explode(col("sh")).as("s"))
      .scopedCache()
    val firstOwner = ex.groupBy(col("s")).agg(min(col(idCol)).as("__first"))
    ex.join(firstOwner, "s")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("__first") === col(idCol), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty", col("n_novel").cast("double") / col("n_grams").cast("double"))
  }

  /** Edit-distance (Levenshtein) near-dup pairs: shingle-blocked candidates
    * verified with the exact `levenshtein` built-in. Reference scope: the
    * fuzzy-match lens the reference applies to symbol/name reconciliation
    * (`/root/reference/etl/utils.py` normalization seam), lifted to
    * document near-dup detection — edit distance catches small in-place
    * rewrites (typo fixes, token substitutions) that shift every
    * downstream shingle and so can sit BELOW a Jaccard threshold while the
    * texts are plainly the same document.
    *
    * Scale shape (100 TB stance): never O(n²) — candidates are df-capped
    * word-`n`-gram posting-list pairs sharing ≥ `minCommon` shingles (the
    * [[jaccardPairs]] generator), then two lossless prefilters run BEFORE
    * any text comparison: `least(la,lb) ≥ simThreshold·greatest(la,lb)`
    * (dist ≥ |la−lb|, so a pair failing it cannot reach the similarity
    * bar) cuts on 8-byte lengths, and only surviving candidates join the
    * normalized text for the O(la·lb) DP verify. Measured on the sf0.1
    * corpus: 112k shared-shingle pairs → 301 verified candidates → 256
    * results at sim ≥ 0.6; the quadratic-cost step runs on 0.3% of the
    * candidate set. `minCommon` is a RECALL contract, not a heuristic: a
    * pair must share that many distinct capped shingles, which at the
    * default n=3 means near-dups with < `minCommon` intact word runs of
    * length 3 (i.e. heavier than ~uniform rewrites) are out of scope —
    * mirrored in the oracle, so the gate would catch drift.
    *
    * Output: (doc_a, doc_b, dist, sim) with sim = 1 − dist/max(la, lb)
    * over whitespace-normalized lowercased text, filtered to
    * sim ≥ `simThreshold`.
    */
  def editDistancePairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      simThreshold: Double = 0.6,
      minCommon: Int = 5,
      maxDocFreq: Int = 100): DataFrame = {
    require(simThreshold > 0.0 && simThreshold <= 1.0, "simThreshold in (0, 1]")
    require(minCommon >= 1, "minCommon must be positive")
    // cached: the normalized relation feeds both sides of the verify join
    val nrm = docs
      .select(col(idCol), TextOps.normalize(col(textCol)).as("__t"))
      .withColumn("__len", length(col("__t")))
      .scopedCache()
    val exploded = hashedShingles(docs, idCol, textCol, n)
      .select(col(idCol), explode(col("sh")).as("s"))
    // lengths join + ratio filter FIRST on 8-byte columns; only the
    // surviving candidates (0.3% on the measured corpus) ever join the
    // text relation — the full texts must not shuffle for candidates the
    // length prefilter is about to discard
    val lens = nrm.select(col(idCol), col("__len"))
    // df cap fused into the posting build, same as [[setJaccardPairs]]
    val cand = bucketPairsCapped(exploded, idCol, "s", maxDocFreq)
      .filter(col("common") >= minCommon)
      .join(lens.select(col(idCol).as("doc_a"), col("__len").as("__la")), "doc_a")
      .join(lens.select(col(idCol).as("doc_b"), col("__len").as("__lb")), "doc_b")
      .filter(least(col("__la"), col("__lb")).cast("double") >=
        lit(simThreshold) * greatest(col("__la"), col("__lb")).cast("double"))
    cand
      .join(nrm.select(col(idCol).as("doc_a"), col("__t").as("__ta")), "doc_a")
      .join(nrm.select(col(idCol).as("doc_b"), col("__t").as("__tb")), "doc_b")
      .withColumn("dist", levenshtein(col("__ta"), col("__tb")).cast("long"))
      .withColumn("sim",
        lit(1.0) - col("dist").cast("double") / greatest(col("__la"), col("__lb")).cast("double"))
      .filter(col("sim") >= simThreshold)
      .select(col("doc_a"), col("doc_b"), col("dist"), col("sim"))
  }

  /** SimHash-bucketed near-dup pairs, exact-Jaccard verified: candidates
    * from [[simhashPairs]] (Hamming ≤ `maxHamming` over token simhashes),
    * scores from [[verifyPairsExactJaccard]]. Precision 1.0 by
    * construction; recall is PARTIAL on ordinary near-dups — radius-3
    * token-simhash only reliably buckets near-EXACT duplicates (a single
    * token edit flips ~6 of 64 bits on a 100-word doc), so this is a
    * subset of the exact relation (specced as such), not an
    * oracle-checkable reconstruction of it like the minhash/winnow forms.
    */
  def simhashVerifiedPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      maxHamming: Int = 3): DataFrame =
    verifyPairsExactJaccard(
      simhashPairs(df, idCol, textCol, maxHamming), df, idCol, textCol, n, threshold)

  /** Winnowing-bucketed near-dup pairs, exact-Jaccard verified: candidates
    * from [[winnowPairs]] at the looser `candidateThreshold` over winnowed
    * fingerprint sets, scores from [[verifyPairsExactJaccard]] over word
    * n-gram shingles. The oracle-checkable form of the winnowing generator.
    */
  def winnowVerifiedPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      candidateThreshold: Double = 0.3): DataFrame =
    verifyPairsExactJaccard(
      winnowPairs(df, idCol, textCol, threshold = candidateThreshold),
      df, idCol, textCol, n, threshold)

  /** 64-bit SimHash of the document's distinct tokens: bit b of the result is
    * set iff the sum over tokens of ±1 (by bit b of the token's xxhash64) is
    * positive.
    */
  /** 64-bit SimHash from pre-computed token hashes (bit b set iff the ±1
    * votes on bit b of the token hashes sum positive). Takes the hash ARRAY
    * column (materialize it in a projection first) so the token hashing runs
    * once per document, not once per bit.
    */
  def simhashFromHashes(hashes: Column): Column =
    graft.functions.HashFunctions.graft_simhash(hashes)

  /** Reference HOF formulation of the 64-bit simhash — bit-identical to the
    * native kernel (checked in DedupTextSpec); kept as its differential
    * baseline. 64 interpreted vote folds per document vs one native pass.
    */
  def simhashFromHashesHof(hashes: Column): Column = {
    // variable-distance shifts need the SQL shiftright/shiftleft (the Scala
    // helpers only take literal Int distances)
    def shr(v: Column, n: Column): Column = call_function("shiftright", v, n.cast("int"))
    def shl(v: Column, n: Column): Column = call_function("shiftleft", v, n.cast("int"))
    aggregate(
      sequence(lit(0), lit(63)),
      lit(0L),
      (acc, b) => {
        val vote = aggregate(
          hashes,
          lit(0L),
          (s, h) => s + shr(h, b).bitwiseAND(lit(1L)) * lit(2L) - lit(1L))
        acc.bitwiseOR(when(vote > 0, shl(lit(1L), b)).otherwise(lit(0L)))
      })
  }

  /** md5 hex-fold 60-bit token hash — the KMV/CMS recipe
    * ([[graft.ops.Analytics.kmvSketch]]): parse the first 15 hex chars of
    * md5 as one BIGINT. Deterministic and ORACLE-VISIBLE — a DuckDB oracle
    * replays the identical nibble fold — unlike xxhash64, whose seeded
    * avalanche no other SQL engine reproduces.
    */
  def md5Hash60(t: Column): Column =
    conv(substring(md5(t), 1, 15), 16, 10).cast("long")

  /** Token simhash over [[md5Hash60]] hashes. Bits 60–63 of the hash are
    * always zero, so the signature is an effective 60-bit simhash (the top
    * 4 vote sums are unanimously −n and those signature bits pin to 0 on
    * EVERY document — Hamming distances between any two signatures are
    * unaffected). The md5 hash makes the whole pair relation replayable by
    * the q_simhash_dedup DuckDB oracle, which the previous xxhash64 form
    * could never be.
    */
  def simhash(tokensCol: Column): Column =
    simhashFromHashes(transform(array_distinct(tokensCol), t => md5Hash60(t)))

  /** The xxhash64 variant of [[simhash]] — one codegen'd hash vs md5's
    * digest per token (faster when no cross-engine oracle needs to replay
    * the signature, e.g. operational dedup where only pair AGREEMENT
    * matters, not external reproducibility).
    */
  def simhashXx(tokensCol: Column): Column =
    simhashFromHashes(transform(array_distinct(tokensCol), t => xxhash64(t)))

  /** Content-defined chunking (the Rabin/LBFS discipline, Muthitacharoen
    * et al. 2001): chunk boundaries fall where the hash of the trailing
    * `window`-character gram has its low `maskBits` bits zero, so
    * boundaries move WITH the content — an insertion early in a document
    * shifts byte offsets but re-synchronizes at the next content-defined
    * boundary, and every later chunk hashes identically. That is the
    * primitive fixed-size blocking cannot offer: chunk-level dedup across
    * near-identical page versions / re-crawls, the storage-dedup
    * complement of the span families above. `minChunk` suppresses
    * boundaries closer than that to the previous accepted one (the
    * standard anti-fragmentation rule) — a SEQUENTIAL accept/skip fold,
    * per-document, replayed by the oracle as a list_reduce.
    *
    * The window hash is [[md5Hash60]] (values GATE boundaries here, so
    * both engines must realize the same hash — the q_simhash_dedup
    * reasoning; an operational deployment that needs no cross-engine
    * replay swaps in the xxhash64 kernel form, [[simhashXx]]'s trade).
    * Expected chunk length ≈ 2^maskBits + minChunk.
    *
    * Per-document narrow projection (one interpreted HOF pass, O(len)
    * hashes of `window`-char grams) → explode to chunk rows: nothing
    * shuffles until the caller aggregates chunk ids. Empty documents emit
    * no chunks.
    *
    * Output: (idCol, chunk_idx, chunk_start, chunk_len, chunk_id) — 1-based
    * char offsets, chunk_id = md5Hash60 of the chunk text.
    */
  def cdcChunks(
      df: DataFrame,
      idCol: String,
      textCol: String,
      window: Int = 8,
      maskBits: Int = 5,
      minChunk: Int = 16): DataFrame = {
    require(window >= 1 && maskBits >= 1 && minChunk >= 0, "invalid CDC parameters")
    // the whole walk (window hashes, boundary gate, minChunk fold, chunk
    // ids) is ONE native-kernel pass per document — the HOF formulation
    // evaluated an interpreted substr+md5+conv tree per character position
    // (measured 7.5 s/query at sf0.1; the kernel form is the same
    // semantics, spec-pinned equal to md5Hash60 on every emitted slice)
    import graft.functions.CdcFunctions.graft_cdc_chunks
    df.select(col(idCol),
      explode(graft_cdc_chunks(coalesce(col(textCol), lit("")),
        window, maskBits, minChunk)).as("c"))
      .select(col(idCol), col("c.chunk_idx").as("chunk_idx"),
        col("c.chunk_start").as("chunk_start"), col("c.chunk_len").as("chunk_len"),
        col("c.chunk_id").as("chunk_id"))
  }

  /** Cross-document chunk dedup over [[cdcChunks]]: each chunk row joins
    * its chunk id's distinct-carrier count — `is_dup` marks content shared
    * with ANY other document (or repeated within one), offset-independent
    * by construction. The carrier aggregate partial-combines map-side;
    * only (chunk_id)-keyed rows shuffle.
    */
  def cdcChunkDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      window: Int = 8,
      maskBits: Int = 5,
      minChunk: Int = 16): DataFrame = {
    val ch = cdcChunks(df, idCol, textCol, window, maskBits, minChunk).scopedCache()
    val carriers = ch.groupBy(col("chunk_id"))
      .agg(countDistinct(col(idCol)).as("n_carriers"))
    cdcMarkFromStats(ch, idCol, carriers)
  }

  /** Per-chunk distinct-carrier statistics from a [[cdcChunks]] relation —
    * the MAINTAINED half of the CDC dedup store: `(chunk_id, n_carriers)`.
    * Chunking itself is a stateless per-document projection, so carrier
    * counts are the only cross-document state; they sum across
    * DOC-DISJOINT parts (each document arrives in exactly one batch — the
    * standard ingest contract, same as every counts-monoid store here), so
    * an operating store folds each batch's stats in with
    * [[mergeCdcCarriers]] instead of re-chunking history.
    */
  def cdcCarrierStats(chunks: DataFrame, idCol: String): DataFrame =
    chunks.groupBy(col("chunk_id")).agg(countDistinct(col(idCol)).as("n_carriers"))

  /** Key-wise sum of [[cdcCarrierStats]] relations over doc-disjoint parts. */
  def mergeCdcCarriers(parts: DataFrame*): DataFrame = {
    require(parts.nonEmpty, "need at least one stats relation")
    parts.reduce(_.unionByName(_)).groupBy(col("chunk_id"))
      .agg(sum(col("n_carriers")).as("n_carriers"))
  }

  /** Mark a chunk relation against an (externally maintained) carrier
    * store — the incremental operating mode of [[cdcChunkDedup]].
    */
  def cdcMarkFromStats(chunks: DataFrame, idCol: String, stats: DataFrame): DataFrame =
    chunks.join(stats, Seq("chunk_id"))
      .select(col(idCol), col("chunk_idx"), col("chunk_start"), col("chunk_len"),
        col("chunk_id"), col("n_carriers"), (col("n_carriers") > 1).as("is_dup"))

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming (≤ 3 with the
    * default 4 chunks, by pigeonhole: ≤3 differing bits leave ≥1 of the 4
    * 16-bit chunks identical, so chunk-equality buckets lose no true pair).
    */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3): DataFrame = {
    // 4 chunks of 16 bits guarantee recall only up to 3 differing bits
    // (pigeonhole); a larger radius would silently lose true pairs
    require(maxHamming >= 0 && maxHamming <= 3,
      "4-chunk banding is complete only for maxHamming <= 3")
    // the native kernel folds tokenize→hash→simhash in ONE projection; the
    // cache is still a required barrier so CollapseProject can't inline the
    // simhash into each of the 4 chunk-bucket expressions below
    val sims = df
      .select(col(idCol), simhash(TextOps.tokens(col(textCol))).as("sim"))
      .scopedCache()
    val chunks = sims.select(
      col(idCol), col("sim"),
      explode(transform(
        sequence(lit(0), lit(3)),
        c => concat(
          c.cast("string"), lit(":"),
          call_function("shiftright", col("sim"), (c * 16).cast("int"))
            .bitwiseAND(lit(0xFFFFL)).cast("string")))).as("bucket"))
    val a = chunks.select(col(idCol).as("doc_a"), col("sim").as("sim_a"), col("bucket"))
    val b = chunks.select(col(idCol).as("doc_b"), col("sim").as("sim_b"), col("bucket"))
    a.join(b, Seq("bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("sim_a"), col("sim_b")).distinct()
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }
}
