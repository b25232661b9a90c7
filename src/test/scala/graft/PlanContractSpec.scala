package graft

import org.apache.spark.sql.catalyst.expressions.{Expression, Round}
import org.apache.spark.sql.catalyst.plans.logical.{Window => LogicalWindow}
import org.scalatest.funsuite.AnyFunSuite

/** Plan contracts for the most expensive registered queries — the 100 TB
  * posture the plan audits verify by hand, pinned in CI so a regression
  * (a dropped broadcast, an accidental cartesian, an unbounded global
  * window creeping into a hot path) fails the build instead of surfacing
  * as a silent bench cliff.
  *
  * What is asserted, per query, on the STATIC physical plan (AQE disabled
  * for planning only, so the assertions are deterministic; at runtime AQE
  * can only improve on this plan, e.g. converting a shuffle join to
  * broadcast — it never introduces a cartesian or drops a pushed filter):
  *
  *  - `CartesianProduct` never appears: an unpartitioned all-pairs product
  *    is the one operator that cannot survive a 100× scale-up anywhere.
  *  - `BroadcastNestedLoopJoin` appears only where the query DECLARES a
  *    bounded broadcast cross (a one-row aggregate or dimension-sized
  *    relation crossed onto the corpus — the documented centroid/spine/
  *    threshold pattern). Everywhere else it is forbidden: an accidental
  *    BNL against a corpus-sized side is quadratic work.
  *  - Window operators over an EMPTY partition spec (single-partition
  *    global sort of the whole input) appear only where the windowed
  *    relation is bounded by contract (≤k TakeOrdered survivors,
  *    dimension-sized mixtures) — checked on the optimized logical plan,
  *    where the window's partitionSpec is inspectable, not string-matched.
  *  - Expected physical markers are present: the explicit broadcasts the
  *    operators declare (`BroadcastHashJoin`), the shuffle joins that are
  *    the designed shape (`SortMergeJoin`), parquet `PushedFilters` where
  *    a selective predicate must reach the scan, and the custom
  *    `RangeLookupJoin` operator where the whole point of the query is
  *    replacing the naive theta-join.
  *
  * Query set = the top of the per-round bench by wall-clock (the heavy
  * dedup/curation/retrieval compositions) — the plans a scale regression
  * would hit first.
  */
class PlanContractSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** One query's pinned contract. `requiredMarkers` are substrings of the
    * static physical plan; `allowBroadcastCross`/`allowGlobalWindow`
    * whitelist the two documented bounded exceptions.
    */
  /** `bnlAtMost` bounds the COUNT of BroadcastNestedLoopJoin operators
    * when a declared broadcast cross is allowed — a whitelisted plan with
    * exactly one declared cross fails if a SECOND (accidental) BNL creeps
    * in, which a bare boolean whitelist could never catch.
    */
  private case class Contract(
      name: String,
      requiredMarkers: Seq[String],
      allowBroadcastCross: Boolean = false,
      allowGlobalWindow: Boolean = false,
      bnlAtMost: Int = Int.MaxValue)

  private val contracts = Seq(
    // incremental near-dup: the pair-generation stages (where the
    // df-capped hot-shingle broadcasts live — pinned by
    // q_ngram_jaccard_dedup's contract on the same path) are
    // checkpoint-materialized, so the FINAL plan visible here is the
    // cluster-merge tail: id-keyed shuffle joins over checkpointed pair
    // RDDs plus the pruned parquet scan of the doc roster
    Contract("q_neardup_clusters_incr",
      requiredMarkers = Seq("SortMergeJoin", "PushedFilters")),
    // shingle-join dedup: the df-capped hot-shingle relation broadcasts
    Contract("q_ngram_jaccard_dedup", requiredMarkers = Seq("BroadcastHashJoin")),
    // BM25 index + near-dup pairs + eval scorecard; qrels/eval sides
    // broadcast, postings join shuffles; the one-row corpus-stats cross is
    // a declared broadcast cross
    Contract("q_retrieval_eval",
      requiredMarkers = Seq("BroadcastHashJoin", "SortMergeJoin"),
      allowBroadcastCross = true, allowGlobalWindow = true),
    // embedding near-dup at threshold: id-keyed pair join shuffles; the
    // one-row norm aggregate crosses via broadcast
    Contract("q_semantic_dedup",
      requiredMarkers = Seq("SortMergeJoin", "PushedFilters"),
      allowBroadcastCross = true),
    Contract("q_training_manifest",
      requiredMarkers = Seq("BroadcastHashJoin", "PushedFilters"),
      allowBroadcastCross = true, allowGlobalWindow = true),
    Contract("q_corpus_curation",
      requiredMarkers = Seq("BroadcastHashJoin", "PushedFilters")),
    // the registered 100×-scale curation mode (curated relation persisted
    // once, both manifests derived from it)
    Contract("q_curation_manifest_staged",
      requiredMarkers = Seq("BroadcastHashJoin", "PushedFilters"),
      allowBroadcastCross = true, allowGlobalWindow = true),
    Contract("q_neardup_clusters", requiredMarkers = Seq("SortMergeJoin")),
    // min-over-grams novelty: reference grams broadcast onto the batch
    Contract("q_ngram_novelty", requiredMarkers = Seq("BroadcastHashJoin")),
    // the custom physical operator IS the contract: the naive form of the
    // band lookup is a theta-join that plans as BNL
    Contract("q_range_band_fast", requiredMarkers = Seq("RangeLookupJoin")),
    // HNSW: the build (quantizer fit, pair scoring, layer adjacencies,
    // search rounds) is checkpoint-materialized — the visible plan is the
    // final exact-cosine top-k tail: beam scan + two id-equi joins (small
    // sides broadcast) + the probe-keyed rank window; no cartesian, no
    // BNL, no global window may appear in that tail
    Contract("q_ann_hnsw", requiredMarkers = Seq("BroadcastHashJoin")),
    // the staged fold must keep the identical search-tail posture
    Contract("q_ann_hnsw_incr", requiredMarkers = Seq("BroadcastHashJoin")),
    // wedge join tail over the checkpoint-materialized pair artifact (the
    // df-capped shingle broadcasts live inside the artifact's own run);
    // the degree/triangle legs shuffle-join on node ids
    Contract("q_triangle_stats", requiredMarkers = Seq("SortMergeJoin")),
    // rank relation broadcasts onto the cached edge relation each
    // iteration; the final rank window runs over ≤k TakeOrdered survivors
    // (bounded by construction — the zipRank RDD path would hide the
    // upstream plan from this very contract)
    Contract("q_textrank",
      requiredMarkers = Seq("BroadcastHashJoin"), allowGlobalWindow = true),
    // shard-allocation mixture: dimension-sized allocation relation joins
    // broadcast; the curated corpus scan keeps its pushed quality filter
    Contract("q_mixture_manifest",
      requiredMarkers = Seq("BroadcastHashJoin", "PushedFilters"),
      allowBroadcastCross = true, allowGlobalWindow = true),
    // month-spine fill: per-key bounds broadcast back onto the spine; the
    // interpolation windows are keyed by symbol, never global
    Contract("q_gap_interpolate",
      requiredMarkers = Seq("BroadcastHashJoin", "PushedFilters")),
    // iterative vote rounds: label relation shuffle-joins the cached edge
    // relation on node ids each round
    Contract("q_label_propagation",
      requiredMarkers = Seq("SortMergeJoin", "PushedFilters")),
    // PageRank rounds: rank relation joins the cached weighted edge list
    // per round (lineage checkpointed, so the visible plan is the final
    // doc-roster join tail); the teleport/damping arithmetic is row-local
    Contract("q_pagerank",
      requiredMarkers = Seq("SortMergeJoin", "PushedFilters")),
    // keeper election: quality scores shuffle-join the cluster labeling on
    // doc ids; the per-cluster argmax window is cluster-keyed, not global
    Contract("q_keeper_by_quality",
      requiredMarkers = Seq("SortMergeJoin", "PushedFilters")),
    // BM25: postings join via the df-bounded term dictionary broadcasts;
    // the ONLY BNL is the one-row corpus-stats (N, avgdl) cross — the
    // declared bounded broadcast-cross pattern
    Contract("q_bm25",
      requiredMarkers = Seq("BroadcastHashJoin", "PushedFilters"),
      allowBroadcastCross = true, allowGlobalWindow = true),
    // incremental BM25 must keep the SAME plan posture as the from-scratch
    // build it is proven equal to (shared oracle)
    Contract("q_bm25_incremental",
      requiredMarkers = Seq("BroadcastHashJoin", "PushedFilters"),
      allowBroadcastCross = true, allowGlobalWindow = true),
    // PPJoin prefix filtering: the single df pass's cap-and-annotate join
    // (small per-element df relation) broadcasts — no shuffle join at all
    Contract("q_jaccard_prefix", requiredMarkers = Seq("BroadcastHashJoin")),
    // fused df-capped blocking + length-ratio prefilter: candidate joins
    // broadcast; DP verification never plans as a product
    Contract("q_editdist_dedup", requiredMarkers = Seq("BroadcastHashJoin")),
    // leakage-safe split: ONE narrow projection over the checkpointed
    // cluster labeling artifact (the roster join and pair generation live
    // in the artifact's own run) — no join, no window, nothing may creep in
    Contract("q_cluster_split", requiredMarkers = Seq()),
    // leakage metric: one cached pair derivation feeds the CC labeling
    // and both straddle counts; assignments join the pair relation by id
    Contract("q_split_leakage",
      requiredMarkers = Seq("PushedFilters")),
    // winnowing fingerprints: df-capped hot-fingerprint relation broadcasts
    Contract("q_winnow_dedup", requiredMarkers = Seq("BroadcastHashJoin")),
    // substring spans: anchor-bucket self-join on 8-byte gram hashes after
    // the df∈[2,cap] survival semi-join (both hash joins — broadcast at
    // the contract scale, AQE re-plans to shuffled as the alive-gram
    // relation grows); the island window partitions per (pair, diagonal)
    // — no cartesian, no BNL, no global window anywhere
    Contract("q_substring_dedup", requiredMarkers = Seq("BroadcastHashJoin")),
    // the store/batch decomposition must keep the one-shot posture (it
    // shares the oracle as its losslessness proof)
    Contract("q_substring_dedup_incr", requiredMarkers = Seq("BroadcastHashJoin")),
    // the scrub consumer: span relation re-joined to the doc roster; the
    // reconstruction is a narrow per-row token filter
    Contract("q_substring_scrub", requiredMarkers = Seq("SortMergeJoin")),
    // train×eval cross spans: same hash-join + per-diagonal-window shape,
    // pairs strictly cross-corpus, one per-train-doc aggregate on top
    Contract("q_substring_decontaminate", requiredMarkers = Seq("BroadcastHashJoin")),
    // blocked cosine near-dup: the only BNL is the DECLARED bounded cross
    // of every vector against the collected centroid list (LocalTableScan
    // build side); list ranking runs as rank-limited windows partitioned
    // per vector (WindowGroupLimit — never a global sort), and the exact
    // verify joins vectors back by id
    Contract("q_embedding_neardup_blocked",
      requiredMarkers = Seq("WindowGroupLimit", "BroadcastHashJoin"),
      allowBroadcastCross = true),
    // SymSpell fuzzy linkage: candidates come from the deletion-variant
    // equi-join (never a cartesian); the quadratic-looking levenshtein
    // runs only as the VERIFY condition on those candidates
    Contract("q_fuzzy_join",
      requiredMarkers = Seq("BroadcastHashJoin", "levenshtein")),
    // PQ encode: the m·kSub codebook relation broadcasts onto the
    // sub-split corpus scan; the argmin is a grouped min-aggregate, never
    // a window, and nothing crosses
    Contract("q_pq_encode", requiredMarkers = Seq("BroadcastHashJoin")),
    // IVF-PQ search: the only BNLs are the DECLARED bounded crosses
    // (probe batch × nLists coarse centroids / × m·kSub codebooks); list
    // routing and ADC ranking run as probe-keyed rank-limited windows
    // (WindowGroupLimit — never a global sort); the probe-lists+LUT
    // relation broadcasts onto the coded store by list_id, and the exact
    // re-rank joins raw vectors back by candidate id
    Contract("q_ann_ivfpq",
      requiredMarkers = Seq("WindowGroupLimit", "BroadcastHashJoin", "SortMergeJoin"),
      allowBroadcastCross = true),
    // BPE corpus encoding: the corpus scan is encoded by TWO broadcast
    // joins (vocab-sized segmentation, bounded id table); subword ids are
    // zip-assigned over the sorted vocabulary — no global window at all
    Contract("q_bpe_encode",
      requiredMarkers = Seq("BroadcastHashJoin")),
    // same final-plan shape as q_bpe_encode — the merges were learned on
    // the even half, but the corpus-encoding tail is identical
    Contract("q_bpe_assign",
      requiredMarkers = Seq("BroadcastHashJoin")),
    // hybrid RRF: the BM25 leg keeps q_bm25's posture (term-dictionary
    // broadcast, one-row stats cross, stride filter pushed to the scan);
    // the dense leg's probe batch is the declared bounded cross; the
    // fusion window is query-keyed, never global
    Contract("q_hybrid_rrf",
      requiredMarkers = Seq("BroadcastHashJoin", "PushedFilters"),
      allowBroadcastCross = true, allowGlobalWindow = true),
    // trained classifier: the even-half train filter pushes to the scan;
    // the 1-row weight-array and bias relations are the declared bounded
    // crosses; scoring is one corpus scan against the broadcast model
    Contract("q_classifier_filter",
      requiredMarkers = Seq("PushedFilters"), allowBroadcastCross = true,
      bnlAtMost = 1),
    // the label-free deployment leg pins the same posture as the filter
    // leg: no cartesian, no global window, AND at most the ONE declared
    // broadcast cross (the 1-row weight-array build side) — a second BNL
    // appearing anywhere in the full-corpus scoring path fails the count
    Contract("q_classifier_apply",
      requiredMarkers = Seq("PushedFilters"), allowBroadcastCross = true,
      bnlAtMost = 1),
    // constraint audit: row checks are single-scan conditional sums (no
    // join at all); uniqueness is one groupBy; the FK joins carry the
    // child pre-aggregated to key cardinality — no cartesian, no BNL
    Contract("q_constraint_audit", requiredMarkers = Seq()),
    // the fold form must keep the from-scratch suite's posture
    Contract("q_audit_incremental", requiredMarkers = Seq()),
    // unigram family: the EM executes eagerly over checkpointed
    // vocabulary-sized slices, so the visible plans are dimension-scale;
    // the only BNL is the 1-row score-total cross (scoresFrom), declared
    Contract("q_unigram_vocab", requiredMarkers = Seq(), allowBroadcastCross = true),
    Contract("q_unigram_segment", requiredMarkers = Seq(), allowBroadcastCross = true),
    Contract("q_unigram_assign", requiredMarkers = Seq(), allowBroadcastCross = true),
    // encode adds the shared BPE encode tail: segmentation + id-table
    // broadcasts onto the corpus token scan; subword ids are
    // zip-assigned over the sorted vocabulary — no global window
    Contract("q_unigram_encode",
      requiredMarkers = Seq("BroadcastHashJoin"),
      allowBroadcastCross = true),
    // staged family union: inherits the vocab leg's declared score-total
    // cross and the encode leg's broadcasts (ids zip-assigned, no window)
    Contract("q_unigram_staged",
      requiredMarkers = Seq("BroadcastHashJoin"),
      allowBroadcastCross = true),
    // both families' encode tails (broadcast segmentation + id table onto
    // the corpus scan; subword ids zip-assigned, no global windows) + one
    // source-keyed aggregate per family
    Contract("q_tokenizer_report",
      requiredMarkers = Seq("BroadcastHashJoin"),
      allowBroadcastCross = true),
    // count-min family: explode → hash aggregate cells, probe estimate is
    // an equi-join on (keys, row_id, slot) — no cross, no global window
    Contract("q_cms_heavy_hitters", requiredMarkers = Seq()),
    Contract("q_cms_incremental", requiredMarkers = Seq()),
    // skyline: the ONLY global window is the suffix-max over the
    // nBuckets-row bucket relation (the declared bounded site); the
    // level/bucket joins are hash joins
    Contract("q_pareto_frontier", requiredMarkers = Seq(), allowGlobalWindow = true),
    Contract("q_pareto_incremental", requiredMarkers = Seq(), allowGlobalWindow = true),
    // greedy k-center: every round is checkpoint-materialized, so the
    // visible plan is the union of the picked 1-row slices — nothing may
    // reintroduce a cartesian or window over the corpus
    Contract("q_kcenter_select", requiredMarkers = Seq()),
    // c-TF-IDF: the 1-row average-mass relation is the declared bounded
    // cross; ranking windows partition per cluster
    // (4 declared crosses: the final Lloyd assignment's k-row centroid
    // relation appears once per consumer of the cached tf_c derivation
    // plus the 1-row average-mass cross — all dimension-sized)
    Contract("q_cluster_keywords", requiredMarkers = Seq(),
      allowBroadcastCross = true, bnlAtMost = 4),
    // kNN-Shapley: the bounded probe panel is the ONE declared broadcast
    // cross; ranking and suffix sums partition per probe
    Contract("q_knn_shapley", requiredMarkers = Seq(),
      allowBroadcastCross = true, bnlAtMost = 1),
    // greedy munch: every relation after the word-count scan is
    // vocabulary-bounded and the fold is one projection; the ONE declared
    // cross is the trained inventory's 1-row score-total (scoresFrom, the
    // unigram family's shared exception)
    Contract("q_greedy_segment", requiredMarkers = Seq(),
      allowBroadcastCross = true, bnlAtMost = 1),
    // DSIR: the 4096-row bucket model broadcasts into the scoring join
    // (BroadcastHashJoin); the ONE declared cross is the 1-row totals
    // relation onto the model
    Contract("q_dsir_weights",
      requiredMarkers = Seq("BroadcastHashJoin"),
      allowBroadcastCross = true, bnlAtMost = 1),
    Contract("q_dsir_incremental",
      requiredMarkers = Seq("BroadcastHashJoin"),
      allowBroadcastCross = true, bnlAtMost = 1),
    // the resampling take is TakeOrdered (per-partition top-k, never a
    // global sort); the rank window runs over the k-row survivors —
    // bounded by construction (the zipRank RDD path would hide the
    // TakeOrdered marker from this very contract)
    Contract("q_dsir_select",
      requiredMarkers = Seq("BroadcastHashJoin", "TakeOrdered"),
      allowBroadcastCross = true, allowGlobalWindow = true, bnlAtMost = 1),
    // isotonic calibration: the trainer's and scorer's 1-row model
    // crosses (3 — the midpoint fold's count/mean relations plus the
    // weight-array broadcast) plus the bounded-histogram minimax's two
    // non-equi joins (prefix pairs i≤j, segment×bin containment) — all
    // 1-row or ≤nBins-sized by construction; the prefix-sum window runs
    // over the ≤nBins-row histogram
    Contract("q_calibrate_scores",
      requiredMarkers = Seq("PushedFilters"),
      allowBroadcastCross = true, allowGlobalWindow = true, bnlAtMost = 5),
    // label-noise: the brute self-kNN broadcast is the DECLARED exact
    // form (the ANN searches are the scale path — the vote consumes any
    // candidate relation); the vote itself is a hash aggregate over
    // n·k rows
    Contract("q_label_noise", requiredMarkers = Seq(),
      allowBroadcastCross = true),
    // containment: the identical df-capped posting-candidate plan as the
    // jaccard family (shared contract shape) — only the scoring
    // projection differs
    Contract("q_containment_dedup", requiredMarkers = Seq("BroadcastHashJoin")),
    // Stupid Backoff: occurrence explode + three map-combined count
    // aggregates + five equi-joins (one per rung) + the declared 1-row
    // totals cross — no iteration, no windows anywhere
    Contract("q_sb_score", requiredMarkers = Seq(),
      allowBroadcastCross = true, bnlAtMost = 1),
    Contract("q_sb_incremental", requiredMarkers = Seq(),
      allowBroadcastCross = true, bnlAtMost = 1),
    Contract("q_sb_assign", requiredMarkers = Seq("PushedFilters"),
      allowBroadcastCross = true, bnlAtMost = 1))

  /** Static plan + logical global windows for one registered query, with
    * AQE off so the physical plan is fully materialized at plan time.
    */
  private def planOf(name: String): (String, Seq[LogicalWindow]) = staticPlan(name) { df =>
    val phys = df.queryExecution.executedPlan.toString
    val globalWindows = df.queryExecution.optimizedPlan.collect {
      case w: LogicalWindow if w.partitionSpec.isEmpty => w
    }
    (phys, globalWindows)
  }

  /** `f` over one registered query's relation, planned with AQE off. */
  private def staticPlan[A](name: String)(f: org.apache.spark.sql.DataFrame => A): A = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      f(SparkEntry.queries(name)(spark, TestSpark.sf0001))
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prev)
      spark.catalog.clearCache()
    }
  }

  /** The RUNTIME leg of the global-window contract: the static whitelist
    * above says WHERE an unpartitioned Window may appear; this sweep
    * proves each one's input is actually dimension-sized by executing the
    * window's child subtree at the GATE scale (sf0.01 — where the event
    * log is 10k rows and lineitem 60k, so a corpus-proportional global
    * window blows the bound by an order of magnitude) and counting rows.
    * Every bounded-by-contract site in the suite — subword-vocab id
    * ranks, DSIR's k-row rank, PAV's 20 bins, the pareto bucket suffix,
    * mixture shard suffixes, batch chunk assignment — sits far below the
    * bound; the bound is set ~6× above the largest legitimate site so
    * vocabulary growth has headroom while events/lineitem-scale inputs
    * still fail loudly. This closes the WindowExec-warning class: every
    * "No Partition Defined" the harness logs is one of these counted,
    * bounded inputs (attributed in PLANS.md §global-windows).
    */
  test("every unpartitioned Window's input is row-bounded at the gate scale") {
    val Bound = 5000L
    val offenders = Seq.newBuilder[String]
    var audited = 0
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val df = SparkEntry.queries(name)(spark, TestSpark.sf001)
      df.queryExecution.optimizedPlan.collect {
        case w: LogicalWindow if w.partitionSpec.isEmpty => w
      }.foreach { w =>
        audited += 1
        val n = org.apache.spark.sql.graftbridge.PlanBridge.ofRows(spark, w.child).count()
        if (n > Bound)
          offenders += s"$name: global window over $n rows " +
            s"(${w.windowExpressions.map(_.sql).mkString(", ").take(120)})"
      }
      spark.catalog.clearCache()
    }
    assert(offenders.result().isEmpty,
      s"corpus-scale global windows:\n${offenders.result().mkString("\n")}")
    assert(audited > 0, "sweep found no global windows — collection broke, not the suite")
  }

  /** The round-10 web-corpus stages are claimed SHUFFLE-FREE scans (or
    * exactly one designed exchange) — pin the count so a refactor that
    * sneaks a repartition/aggregate into a projection stage fails CI, not
    * a bench. Shuffle exchanges are counted as plan lines mentioning
    * Exchange that are not BroadcastExchange.
    */
  test("web-corpus stage queries: pinned shuffle-exchange counts") {
    def shuffles(name: String): Int = {
      val (phys, _) = planOf(name)
      phys.linesIterator.count(l => l.contains("Exchange") && !l.contains("BroadcastExchange"))
    }
    val zeroShuffle = Seq("q_c4_rules", "q_url_normalize", "q_text_normalize",
      "q_fix_mojibake", "q_html_links", "q_readability", "q_html_extract",
      "q_gopher_repetition", "q_luhn_cards")
    zeroShuffle.foreach { n =>
      assert(shuffles(n) == 0, s"$n must plan as a shuffle-free scan")
    }
    // span dedup: ONE hash partition on span_md5 for the keeper window
    assert(shuffles("q_sentence_span_dedup") == 1,
      "q_sentence_span_dedup plans exactly the span_md5 keeper exchange")
    // feature hashing: ONE exchange for the (doc, dim) final aggregate —
    // the partial aggregate must stay on the map side
    assert(shuffles("q_hash_features") == 1,
      "q_hash_features plans exactly the (doc, dim) aggregate exchange")
  }

  /** Interpreted expressions in a static physical plan, cached relations'
    * plans included: the outermost `CodegenFallback` of each expression
    * tree (a higher-order function with its lambdas, an imperative
    * aggregate).
    */
  private def interpreted(name: String): Seq[Expression] = {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def outermost(e: Expression): Seq[Expression] = e match {
      case f: CodegenFallback => Seq(f)
      case _ => e.children.flatMap(outermost)
    }
    def expressions(plan: SparkPlan): Seq[Expression] = plan.collect {
      case s: InMemoryTableScanExec => s.expressions ++ expressions(s.relation.cachedPlan)
      case p => p.expressions
    }.flatten
    staticPlan(name) { df => expressions(df.queryExecution.executedPlan).flatMap(outermost) }
  }

  /** Each expression's name with the names of the columns it reads. */
  private def describe(es: Seq[Expression]): Seq[(String, Set[String])] =
    es.map(e => (e.prettyName, e.references.map(_.name).toSet))

  test("curation kernels run as generated code: nothing interpreted in q_gopher_repetition, " +
    "q_minhash_dedup or q_kmeans, and no posting lists in q_minhash_dedup") {
    for (q <- Seq("q_gopher_repetition", "q_minhash_dedup", "q_kmeans")) {
      val found = interpreted(q)
      assert(found.isEmpty, s"$q plans interpreted expressions: ${describe(found)}")
    }
    // LSH candidates are a bucket self-join, not collect_set posting lists
    val (plan, _) = planOf("q_minhash_dedup")
    assert(!plan.contains("collect_set"), s"q_minhash_dedup plans collect_set:\n$plan")
  }

  test("fixed-point quantization runs as the native kernel: no interpreted Round in " +
    "q_class_outliers, q_embedding_drift, q_knn_shapley or q_embedding_neardup_blocked") {
    for (q <- Seq("q_class_outliers", "q_embedding_drift", "q_knn_shapley",
        "q_embedding_neardup_blocked")) {
      val rounding = interpreted(q).filter(_.exists(_.isInstanceOf[Round]))
      assert(rounding.isEmpty, s"$q rounds inside interpreted expressions: ${describe(rounding)}")
    }
  }

  contracts.foreach { c =>
    test(s"${c.name}: pinned plan contract (no cartesian/BNL/global-window drift, markers present)") {
      val (plan, globalWindows) = planOf(c.name)
      assert(!plan.contains("CartesianProduct"),
        s"${c.name} planned a CartesianProduct — quadratic at scale:\n$plan")
      if (!c.allowBroadcastCross)
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"${c.name} planned a BroadcastNestedLoopJoin without a declared bounded cross:\n$plan")
      else {
        val bnls = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
        assert(bnls <= c.bnlAtMost,
          s"${c.name} planned $bnls BroadcastNestedLoopJoins — more than the " +
            s"${c.bnlAtMost} declared bounded cross(es):\n$plan")
      }
      if (!c.allowGlobalWindow)
        assert(globalWindows.isEmpty,
          s"${c.name} has ${globalWindows.size} unpartitioned Window(s) — single-partition " +
            s"sort of the whole relation: ${globalWindows.map(_.windowExpressions).mkString("; ")}")
      c.requiredMarkers.foreach { m =>
        assert(plan.contains(m), s"${c.name} lost expected plan marker '$m':\n$plan")
      }
    }
  }
}
