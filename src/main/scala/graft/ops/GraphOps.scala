package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import Caching.Syntax

/** Graph operators over pair relations (near-dup pairs, similarity edges,
  * link graphs). Complements [[DedupOps.connectedComponents]] — CC answers
  * "what is transitively connected"; these answer the denser questions a
  * curation pipeline asks of the same pair graph: community structure
  * (label propagation — a bridge edge should NOT merge two dense
  * communities the way CC does) and local density (triangles / clustering
  * coefficient — a doc whose neighbors all pair with each other is a
  * template family, not a chance collision).
  *
  * Scale stance shared by both operators: the input is the PAIR relation
  * (already near-linear via df-capped candidate generation), never the
  * corpus; every round/join shuffles on a node id — 8-byte keys; nothing
  * here touches text. Caching contract as per [[DedupOps]]: multi-branch
  * relations are cached, harness/caller clears.
  */
object GraphOps {

  /** Synchronous label propagation (Raghavan et al. 2007), made fully
    * deterministic: `rounds` fixed iterations; each node adopts the label
    * carried by the largest total edge weight among its neighbors, ties
    * broken by SMALLEST label (the argmin is a total order, so the result
    * is engine-reproducible — no random tie-breaks, no update-order
    * dependence). Nodes start labeled with their own id. Isolated nodes
    * (absent from `pairs`) are absent from the result; callers left-join
    * and coalesce to the node id, as with connectedComponents.
    *
    * Versus CC on the same pairs: one bridge pair between two template
    * families merges them in CC forever, while LPA keeps two dense
    * communities — after round 1 every member holds its community's
    * majority label and a single bridge vote cannot flip it.
    *
    * Shape: the undirected weighted edge relation builds once (one
    * shuffle) and is cached; each round is one join of the node-label
    * relation against the edges plus two partial-aggregating groupBys —
    * O(rounds) shuffles total on 8-byte ids, no driver state, the same
    * round discipline as [[DedupOps.connectedComponents]]. The per-node
    * argmin is `min(struct(-count, label))` — an in-aggregate reduction,
    * not a window.
    *
    * Output: (node, label).
    */
  def labelPropagation(
      pairs: DataFrame,
      srcCol: String,
      dstCol: String,
      rounds: Int = 3): DataFrame = {
    require(rounds >= 1, "need at least one round")
    val edges = undirectedWeightedEdges(pairs, srcCol, dstCol)
    var lab = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
    for (_ <- 1 to rounds) {
      lab = edges
        .join(lab.select(col("node").as("dst"), col("label").as("nl")), "dst")
        .groupBy(col("src"), col("nl")).agg(sum(col("w")).as("c"))
        .groupBy(col("src"))
        .agg(min(struct((-col("c")).as("nc"), col("nl").as("nl"))).as("m"))
        .select(col("src").as("node"), col("m.nl").as("label"))
        // truncate lineage per round (the connectedComponents discipline):
        // without the barrier round N's plan nests rounds 1..N-1 and the
        // label chain recomputes quadratically
        .localCheckpoint()
    }
    lab
  }

  /** The ONE cached undirected weighted edge list behind
    * [[labelPropagation]] and [[pageRank]] (and the oracles' shared
    * `ed`/`ew` CTE construction): each pair votes in both directions,
    * weights sum parallel edges so a multi-evidence pair counts
    * accordingly. Both orientations come from ONE evaluation of `pairs`
    * (explode, not a two-branch union) — the pair relation is typically
    * an expensive shingle join. Output: (src, dst, w), cached.
    */
  private def undirectedWeightedEdges(
      pairs: DataFrame,
      srcCol: String,
      dstCol: String): DataFrame =
    pairs
      .select(explode(array(
        struct(col(srcCol).as("src"), col(dstCol).as("dst")),
        struct(col(dstCol).as("src"), col(srcCol).as("dst")))).as("__e"))
      .select(col("__e.src"), col("__e.dst"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
      .scopedCache()

  /** k-core membership by synchronous peeling: `rounds` unrolled
    * iterations of "drop every node with fewer than k neighbors still
    * alive" (Seidman 1983; the density screen web-graph and dup-graph
    * curation uses where a CHAIN of pairs must not count as a dense
    * family — a path survives CC and even LPA, but no tree survives the
    * 2-core). After round R the alive set is a SUPERSET of the true
    * k-core that shrinks monotonically and reaches the exact fixpoint as
    * soon as one round removes nothing; bounded-round semantics exactly
    * as [[labelPropagation]], with GraphOpsSpec pinning convergence on
    * the shipped pair graph (round R−1 ≡ round R there, so the registered
    * result IS the fixpoint). Peeling is monotone, so
    * rounds replay as oracle CTEs with no tie-break subtleties at all —
    * every step is a degree count and an integer comparison.
    *
    * Shape: the undirected edge list builds once (cached); each round is
    * two semi-shaped joins of the shrinking alive set against the edges
    * plus one partial-aggregating count — O(rounds) shuffles on 8-byte
    * ids, lineage truncated per round (the CC/LPA discipline). The alive
    * relation only ever shrinks, so late rounds are broadcast-sized
    * joins at any corpus scale.
    *
    * Output: (node, degree, in_kcore, core_degree) for nodes IN the
    * graph; `core_degree` (degree among surviving nodes) is NULL outside
    * the core. `core_degree ≥ k` holds AT THE FIXPOINT (which the spec
    * pins for the registered 8-round form); under a deliberately
    * unconverged round budget a survivor can report a smaller
    * core_degree — the bounded-round semantics the lollipop spec relies
    * on (an extra implicit peel here would make `rounds` lie by one).
    * Isolated documents are absent — callers left-join the roster, as
    * with the other graph operators.
    */
  def kCore(
      pairs: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int = 2,
      rounds: Int = 8): DataFrame = {
    require(k >= 1, "k must be positive")
    require(rounds >= 1, "need at least one round")
    val edges = undirectedWeightedEdges(pairs, srcCol, dstCol)
    val deg0 = edges.groupBy(col("src")).agg(count(lit(1)).as("degree")).scopedCache()
    var alive = deg0.filter(col("degree") >= k).select(col("src").as("node"))
    def degreesWithin(a: DataFrame): DataFrame = edges
      .join(a.select(col("node").as("src")), "src")
      .join(a.select(col("node").as("dst")), "dst")
      .groupBy(col("src")).agg(count(lit(1)).as("d"))
    for (_ <- 2 to rounds) {
      alive = degreesWithin(alive)
        .filter(col("d") >= k)
        .select(col("src").as("node"))
        .localCheckpoint()
    }
    val coreDeg = degreesWithin(alive)
      .select(col("src").as("node"), col("d").as("core_degree"))
    deg0.select(col("src").as("node"), col("degree"))
      .join(coreDeg, Seq("node"), "left")
      .select(col("node"), col("degree"),
        col("core_degree").isNotNull.as("in_kcore"), col("core_degree"))
  }

  /** The isolated-node PageRank fixed point for a damping fraction —
    * what a node with no edges holds after any number of rounds (pure
    * teleport mass). Exposed so callers coalescing out-of-graph nodes
    * (q_pagerank's doc roster) cannot drift from the recurrence's own
    * base term.
    */
  def pageRankTeleportBase(dampNum: Long = 85L, dampDen: Long = 100L): Long =
    1000000L * (dampDen - dampNum) / dampDen

  /** Weighted PageRank over an undirected pair graph in INTEGER fixed
    * point — the authority/centrality weight web-corpus curation uses to
    * prioritize domains and documents. Rank units are micro-rank longs
    * (every node starts at 1e6); one synchronous round is
    *
    *   r'(v) = base + (dampNum · Σ_{(u,v)} (r(u)·w(u,v)) div wdeg(u)) div dampDen
    *
    * with base = 1e6·(dampDen−dampNum) div dampDen (the teleport mass,
    * 150000 at the classic 0.85). Every step is integer arithmetic with
    * truncating division, so `rounds` unrolled rounds replay bit-for-bit
    * as oracle CTEs (the labelPropagation discipline). The truncation
    * bleeds ≤1 unit of mass per edge per round — deterministic on every
    * engine, which is the contract here; this is a RANKING signal, not a
    * probability (dangling/isolated nodes are the caller's coalesce —
    * they hold exactly `base`).
    *
    * Shape: one cached weighted edge list (both orientations from ONE
    * evaluation of `pairs`); per round one hash join on src + one
    * aggregate on dst — the standard distributed PageRank step; lineage
    * truncates per round (localCheckpoint) so round N's plan does not
    * nest rounds 1..N−1. Σ rank mass is bounded by |nodes|·1e6, so the
    * damped per-node sums sit far inside int64 at any corpus scale.
    *
    * Output: (node, rank_fp, degree) for nodes IN the graph.
    */
  def pageRank(
      pairs: DataFrame,
      srcCol: String,
      dstCol: String,
      rounds: Int = 5,
      dampNum: Long = 85L,
      dampDen: Long = 100L): DataFrame = {
    require(rounds >= 1, "need at least one round")
    require(dampDen >= 1 && dampNum >= 0 && dampNum <= dampDen,
      "damping must be a fraction in [0, 1]")
    val base = pageRankTeleportBase(dampNum, dampDen)
    val edges = undirectedWeightedEdges(pairs, srcCol, dstCol)
    val wdeg = edges.groupBy(col("src")).agg(sum(col("w")).as("wdeg"))
    val ew = edges.join(wdeg, "src")
    var r = edges.select(col("src").as("node")).distinct()
      .withColumn("r", lit(1000000L))
    for (_ <- 1 to rounds) {
      r = ew
        .join(r.select(col("node").as("src"), col("r").as("rs")), "src")
        .select(col("dst"), expr("(rs * w) div wdeg").as("contrib"))
        .groupBy(col("dst"))
        .agg(sum(col("contrib")).as("c"))
        .select(col("dst").as("node"),
          (lit(base) + expr(s"($dampNum * c) div $dampDen")).as("r"))
        .localCheckpoint()
    }
    r.join(wdeg.select(col("src").as("node"), col("wdeg")), Seq("node"))
      .select(col("node"), col("r").as("rank_fp"), col("wdeg").as("degree"))
  }

  /** Per-node triangle count, degree, and local clustering coefficient
    * over an undirected simple graph given as canonical pairs (a < b,
    * distinct). lcc = 2·triangles / (degree·(degree−1)), NULL for
    * degree-1 nodes.
    *
    * Shape: triangles enumerate via the canonical-orientation join —
    * (a,b)⋈(b,c)⋈(a,c) with a<b<c, each triangle produced exactly once —
    * three shuffles on 8-byte ids. On a pair graph from df-capped
    * candidate generation the max degree is already bounded by the cap
    * (a node can only pair inside its capped buckets), which is what
    * keeps the (a,b)⋈(b,c) wedge join from going quadratic at corpus
    * scale; for general graphs the standard refinement is degree-ordered
    * orientation, which this operator's canonical a<b orientation
    * approximates without the extra degree join.
    *
    * Output: (node, degree, triangles, lcc).
    */
  def triangleStats(
      pairs: DataFrame,
      srcCol: String,
      dstCol: String): DataFrame = {
    val e = pairs.select(col(srcCol).as("a"), col(dstCol).as("b")).distinct().scopedCache()
    val deg = e.select(col("a").as("node"))
      .unionByName(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    val tri = e.as("e1")
      .join(e.as("e2"), col("e2.a") === col("e1.b"))
      .join(e.as("e3"), col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    val perNode = tri.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("node"), "left")
      .select(
        col("node"),
        col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(col("degree") >= 2,
          lit(2.0) * coalesce(col("triangles"), lit(0L)).cast("double")
            / (col("degree") * (col("degree") - 1)).cast("double"))
          .as("lcc"))
  }
}
