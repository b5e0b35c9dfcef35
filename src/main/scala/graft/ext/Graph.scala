package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Checkpoints.Pinnable

/** Iterative link-analysis over a token co-occurrence graph — PageRank as
  * the representative distributed graph computation (the same join-
  * aggregate round shape serves label propagation, HITS, or any
  * message-passing scheme). Nodes are corpus words, edges are adjacent-
  * token bigrams weighted by corpus frequency; the stationary rank
  * surfaces the connective vocabulary the same way PageRank surfaces hub
  * pages.
  *
  * Scale shape: each round is ONE equi-join (ranks ⋈ edges on `src`) and
  * ONE `groupBy(dst)` sum — node-keyed shuffles only, never an all-pairs
  * form; this is the canonical cluster PageRank. Edges (with their
  * precomputed out-weight) are materialized once via `Checkpoints.pin`
  * (local blocks by default; a reliable checkpoint dir under
  * `spark.graft.checkpointDir` for cluster fault-tolerance) so
  * the token stream is scanned a single time no matter how many rounds
  * run, and the rank vector the rounds iterate over is one row per node.
  * The iteration count is FIXED (no convergence `count()` per round), so
  * the whole computation is `iters + 1` jobs.
  *
  * Determinism: ranks are integer-scaled BIGINTs (initial mass
  * `SCALE // N`). Each edge's contribution is
  * `((dampNum·r) // dampDen · w) // W(src)` evaluated in DECIMAL(38,0) so
  * the product cannot overflow at any corpus size; sums of contributions
  * are plain BIGINT (mass conservation bounds them by `SCALE`). Every
  * operation is exact integer arithmetic — the result is bit-identical
  * across engines and shuffle orders. Dangling-node mass (words that never
  * start a bigram) decays to the teleport term rather than being
  * redistributed; both engines implement the identical convention.
  */
object Graph {

  /** Total rank mass. 1e15 keeps per-node resolution ≈ SCALE/N ≥ 10⁶ even
    * at a billion nodes, while the largest intermediate (`dampNum · rank`
    * when all mass concentrates on one node) stays ≤ 8.5e16 — safely
    * inside BIGINT on both engines. */
  val SCALE: Long = 1000000000000000L

  /** Directed bigram edges with corpus-frequency weights:
    * (src, dst, w) — one `groupBy` over the adjacent-token stream. */
  def bigramEdges(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(graft.functions.token_ngrams(col(textCol), 2)).as("g"))
      .select(split(col("g"), " ").getItem(0).as("src"),
        split(col("g"), " ").getItem(1).as("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))

  /** Fixed-round integer-scaled PageRank over weighted edges.
    * Columns: node, rank_scaled — ordered by rank desc (node tiebreak). */
  def pageRank(edges: DataFrame, iters: Int = 5,
               dampNum: Long = 85, dampDen: Long = 100): DataFrame = {
    require(iters >= 0 && dampDen > 0 && dampNum >= 0 && dampNum <= dampDen)
    val outW = edges.groupBy("src").agg(sum("w").as("wout"))
    // One materialization: rounds re-read block-manager rows, not the
    // token stream; also cuts the per-round lineage (the Dedup.clusters
    // convention for iterative plans).
    val edgesW = edges.join(outW, "src").pinCheckpoint()
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node")))
      .distinct().pinCheckpoint()
    val n = nodes.count() // driver scalar: node count (metadata-scale)
    if (n == 0) // empty edge set: empty result with the right shape
      return nodes.select(col("node"), lit(0L).as("rank_scaled"))
    val base = ((dampDen - dampNum) * SCALE / dampDen) / n // teleport share
    var ranks = nodes.select(col("node"), lit(SCALE / n).as("rank"))
    var lastRanksCp: DataFrame = null
    for (i <- 1 to iters) {
      val contrib = edgesW
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"),
          expr(s"CAST((($dampNum * rank) div $dampDen) AS DECIMAL(38,0))" +
            " * CAST(w AS DECIMAL(38,0)) div CAST(wout AS DECIMAL(38,0))").as("c"))
        .groupBy("node").agg(sum("c").as("in_mass"))
      ranks = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(base) + coalesce(col("in_mass"), lit(0L))).as("rank"))
      // cut the rank-vector lineage periodically: without this, round k's
      // plan nests all k-1 predecessors and analysis time grows with depth.
      // The superseded rank checkpoint is freed once the new one has
      // materialized, so live storage is O(1) generations over any
      // iteration count (bridge.freeCheckpoint — Dataset.unpersist cannot
      // release checkpoint blocks; freeing only the TRACKED previous cp,
      // never `ranks` itself, keeps the shared nodes/edgesW checkpoints
      // that appear in the rank plan's leaves untouched).
      if (i % 10 == 0 && i < iters) {
        val cp = ranks.pinCheckpoint()
        if (lastRanksCp != null) org.apache.spark.sql.graft.bridge.freeCheckpoint(lastRanksCp)
        lastRanksCp = cp
        ranks = cp
      }
    }
    ranks.select(col("node"), col("rank").as("rank_scaled"))
      .orderBy(col("rank_scaled").desc, col("node"))
  }

  /** The declared query: PageRank of the corpus bigram graph. */
  def wordPageRank(docs: DataFrame, iters: Int = 5): DataFrame =
    pageRank(bigramEdges(docs), iters)

  /** Per-node degree/strength profile of the weighted digraph — the
    * sanity report run before any iterative graph computation (skew,
    * dangling nodes, and supernodes all show up here first). One
    * aggregation per direction (node-keyed shuffles over the edge list),
    * full-outer joined on the node; nodes missing a direction fill 0.
    * Columns: node, out_degree, out_strength, in_degree, in_strength. */
  def degreeStats(edges: DataFrame): DataFrame = {
    val out = edges.groupBy(col("src").as("node"))
      .agg(countDistinct("dst").as("out_degree"), sum("w").as("out_strength"))
    val in = edges.groupBy(col("dst").as("node"))
      .agg(countDistinct("src").as("in_degree"), sum("w").as("in_strength"))
    out.join(in, Seq("node"), "full_outer")
      .na.fill(0L, Seq("out_degree", "out_strength", "in_degree", "in_strength"))
      .orderBy("node")
  }

  /** The declared query: degree profile of the corpus bigram graph. */
  def wordDegreeStats(docs: DataFrame): DataFrame =
    degreeStats(bigramEdges(docs))

  /** Canonical undirected simple edges of the co-occurrence graph:
    * self-loops dropped, direction collapsed to (a, b) with a < b. */
  def undirectedEdges(edges: DataFrame): DataFrame =
    edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()

  /** Fixed-round synchronous min-label propagation over the undirected
    * simple graph: every node starts labeled with itself and each round
    * takes the min of its own and its neighbors' labels, so after k
    * rounds a node carries the smallest node id within k hops — on any
    * component of diameter ≤ k this IS the connected-component label.
    * The bounded-round sibling of `Dedup.clusterPairs`' pointer jumping:
    * pointer jumping converges in O(log d) adaptive rounds but its
    * stop-when-stable loop isn't a fixed replayable recipe; fixed-k LPA
    * is the engine-portable, oracle-gradable form (and the standard
    * seed/community-spread primitive in its own right).
    *
    * Scale shape: each round is one edge-keyed equi-join plus a dst-keyed
    * min aggregate (partial agg combines map-side, so a supernode's
    * million incoming labels reduce per input partition before the
    * shuffle), then a node-keyed left join. Label-vector lineage is cut
    * on the pageRank cadence. Columns: node, label — ordered by node. */
  def labelPropagation(edges: DataFrame, iters: Int = 4): DataFrame = {
    require(iters >= 0, "iters must be non-negative")
    val und = undirectedEdges(edges)
    // both directions for propagation; one materialization feeds every round
    val sym = und.select(col("a").as("src"), col("b").as("dst"))
      .union(und.select(col("b").as("src"), col("a").as("dst")))
      .pinCheckpoint()
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node")))
      .distinct().pinCheckpoint()
    var labels = nodes.select(col("node"), col("node").as("label"))
    var lastCp: DataFrame = null
    for (i <- 1 to iters) {
      val neigh = sym.join(labels.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node")).agg(min(col("label")).as("nl"))
      labels = labels.join(neigh, Seq("node"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("nl"), col("label"))).as("label"))
      // same O(1)-generations checkpoint rotation as pageRank
      if (i % 10 == 0 && i < iters) {
        val cp = labels.pinCheckpoint()
        if (lastCp != null) org.apache.spark.sql.graft.bridge.freeCheckpoint(lastCp)
        lastCp = cp
        labels = cp
      }
    }
    labels.orderBy("node")
  }

  /** The declared query: k-hop min-label propagation on the corpus
    * bigram graph. */
  def wordLabelPropagation(docs: DataFrame, iters: Int = 4): DataFrame =
    labelPropagation(bigramEdges(docs), iters)

  /** Recursive-hierarchy resolution WITHOUT recursive SQL — Spark has
    * no `WITH RECURSIVE`, and the idiomatic distributed translation is
    * POINTER JUMPING: maintain (id, ptr, steps) where `ptr` is the
    * 2^k-th ancestor (clamped at the root) and square per round, so
    * (root_id, depth) of every node lands in O(log depth) node-keyed
    * self-joins instead of depth sequential rounds or per-row driver
    * recursion. Roots are algebraic FIXED POINTS (ptr = id, 0 steps) —
    * no per-round termination test, no special casing.
    *
    * Scale shape: the iterated frame is ONE ROW PER NODE; each round is
    * one equi-join on the pointer (node-keyed exchange). `rounds` = 6
    * resolves any hierarchy up to depth 64 — deeper than any real
    * org/category/BOM tree — in 6 jobs. Each round's result is
    * localCheckpointed so the self-join lineage stays flat (the naive
    * form doubles the plan per round). */
  def hierarchyResolve(nodes: DataFrame, rounds: Int = 6): DataFrame = {
    var f = nodes.select(col("id"),
        coalesce(col("parent"), col("id")).as("ptr"),
        when(col("parent").isNull, 0L).otherwise(1L).as("steps"))
      .pinCheckpoint()
    var lastCp = f
    for (_ <- 1 to rounds) {
      val g = f.select(col("id").as("gid"), col("ptr").as("gptr"),
        col("steps").as("gsteps"))
      // LEFT join: a ptr whose target node is absent from the input (a
      // dangling parent reference) is treated as a fixed point — the
      // node resolves to (root_id = the dangling ptr, depth = steps so
      // far) instead of silently vanishing from the frame, which an
      // inner join would do on any referentially-incomplete node table.
      val next = f.join(g, f("ptr") === g("gid"), "left")
        .select(f("id"), coalesce(col("gptr"), f("ptr")).as("ptr"),
          (f("steps") + coalesce(col("gsteps"), lit(0L))).as("steps"))
        .pinCheckpoint()
      org.apache.spark.sql.graft.bridge.freeCheckpoint(lastCp)
      lastCp = next
      f = next
    }
    f.select(col("id"), col("ptr").as("root_id"), col("steps").as("depth"))
  }

  /** The declared query: a deterministic 3-root binary hierarchy planted
    * over the corpus ids (parent = id div 2; ids < 3 are roots), every
    * node resolved to (root_id, depth). */
  def docHierarchy(docs: DataFrame, rounds: Int = 6): DataFrame =
    hierarchyResolve(
      docs.select(col("doc_id").as("id"),
        when(col("doc_id") < 3, lit(null).cast("long"))
          .otherwise(expr("doc_id div 2")).as("parent")),
      rounds)
      .orderBy("id")

  /** Jaccard node similarity on the HUB-PRUNED undirected graph: for
    * every node pair sharing ≥ `minCommon` neighbors,
    * J = |N(a)∩N(b)| / |N(a)∪N(b)| — the classic link-prediction /
    * related-entities signal. Hub pruning (drop nodes whose degree
    * exceeds `maxDeg` BEFORE pair generation) is what makes the wedge
    * join scale: a stopword-hub with degree 10⁶ would alone contribute
    * (10⁶ choose 2) candidate pairs, and its similarity signal is noise
    * anyway — the standard practice the oracle mirrors exactly. After
    * the prune, the wedge self-join fan-out is bounded by
    * maxDeg · |E|; degrees, wedges and the closing joins are all
    * node-keyed equi-joins. Top-k by (jaccard desc, a, b) plans as
    * TakeOrderedAndProject. */
  def jaccardSimilarity(edges: DataFrame, maxDeg: Long = 30,
                        minCommon: Long = 2, k: Int = 50): DataFrame = {
    val und = undirectedEdges(edges)
    val adj = und.select(col("a").as("node"), col("b").as("nbr"))
      .unionByName(und.select(col("b").as("node"), col("a").as("nbr")))
    val keep = adj.groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") <= maxDeg).select(col("node"))
    val adjK = adj.join(keep, Seq("node"))
      .join(keep.select(col("node").as("nbr")), Seq("nbr"))
    val degK = adjK.groupBy(col("node")).agg(count(lit(1)).as("degk"))
    val byCenter = adjK.select(col("node").as("c"), col("nbr").as("x"))
    val pairs = byCenter.as("l")
      .join(byCenter.as("r"), col("l.c") === col("r.c") && col("l.x") < col("r.x"))
      .groupBy(col("l.x").as("a"), col("r.x").as("b"))
      .agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= minCommon)
    pairs
      .join(degK.select(col("node").as("a"), col("degk").as("deg_a")), Seq("a"))
      .join(degK.select(col("node").as("b"), col("degk").as("deg_b")), Seq("b"))
      .withColumn("jaccard", col("n_common").cast("double") /
        (col("deg_a") + col("deg_b") - col("n_common")).cast("double"))
      .select(col("a"), col("b"), col("n_common"), col("deg_a"), col("deg_b"),
        col("jaccard"))
      .orderBy(col("jaccard").desc, col("a"), col("b"))
      .limit(k)
  }

  /** [[jaccardSimilarity]] over the word co-occurrence graph. */
  def wordJaccard(docs: DataFrame, maxDeg: Long = 30, minCommon: Long = 2,
                  k: Int = 50): DataFrame =
    jaccardSimilarity(bigramEdges(docs), maxDeg, minCommon, k)

  /** Per-node triangle counts via DEGREE-ORDERED ORIENTATION (the
    * standard O(m^{3/2}) distributed algorithm, vs O(sum deg²) for the
    * naive wedge join): orient every undirected edge from the
    * lower-ranked endpoint to the higher under the total order
    * (degree, node). Every out-neighborhood then has size O(√m) — a
    * supernode with degree 10⁶ contributes (10⁶ choose 2) wedges to the
    * naive count but only rank-higher neighbors here — and each triangle
    * is found EXACTLY once, at its lowest-ranked corner. Wedges
    * (u→v, u→w with rank(v) < rank(w)) close against the oriented edge
    * (v, w) in one equi-join; corners then unpivot and aggregate.
    *
    * Scale shape: degrees are one node-keyed aggregation; orientation is
    * a projection; the wedge self-join and the closing join are
    * equi-joins keyed on node ids. Everything is exact integer counting —
    * bit-identical across engines and shuffle orders (the oracle is the
    * naive lexicographic triple-join, a different algorithm entirely:
    * agreement IS the correctness argument).
    * Columns: (node, n_triangles), top `k` by count desc, node asc. */
  def triangleCounts(edges: DataFrame, k: Int = 20): DataFrame = {
    val und = undirectedEdges(edges).pinCheckpoint()
    val deg = und.select(col("a").as("node")).union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    // rank = (degree, node); orient low -> high. Carrying the dst rank
    // lets the wedge join order its two legs without re-attaching degrees.
    val withDeg = und
      .join(deg.select(col("node").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("d").as("db")), "b")
    val oriented = withDeg.select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          struct(col("a").as("src"), col("b").as("dst"), col("db").as("ddst")))
          .otherwise(struct(col("b").as("src"), col("a").as("dst"), col("da").as("ddst")))
          .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.ddst").as("ddst"))
      .pinCheckpoint()
    // `und` fed degrees + orientation, both now folded into `oriented`'s
    // materialized blocks — release it rather than pinning a dead
    // generation per invocation (the result plan reads only `oriented`)
    org.apache.spark.sql.graft.bridge.freeCheckpoint(und)
    val wedges = oriented.select(col("src"), col("dst").as("v"), col("ddst").as("dv"))
      .join(oriented.select(col("src"), col("dst").as("w"), col("ddst").as("dw")), "src")
      .filter(struct(col("dv"), col("v")) < struct(col("dw"), col("w")))
    val tris = wedges
      .join(oriented.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
      .select(col("src").as("x"), col("v").as("y"), col("w").as("z"))
    tris.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
      .orderBy(col("n_triangles").desc, col("node"))
      .limit(k)
  }

  /** The declared query: triangle census of the corpus bigram graph. */
  def wordTriangles(docs: DataFrame, k: Int = 20): DataFrame =
    triangleCounts(bigramEdges(docs), k)
}
