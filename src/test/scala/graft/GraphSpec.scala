package graft

import graft.ext.Graph
import org.apache.spark.sql.functions._

/** PageRank: edge extraction, mass invariants, symmetry, dangling decay,
  * determinism of the integer-scaled iteration. */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("bigramEdges counts adjacent-token pairs across the corpus") {
    val docs = Seq((0L, "a b a b"), (1L, "b a")).toDF("doc_id", "text")
    val got = Graph.bigramEdges(docs)
      .as[(String, String, Long)].collect().toSet
    // doc0: (a,b) (b,a) (a,b); doc1: (b,a)
    assert(got == Set(("a", "b", 2L), ("b", "a", 2L)))
  }

  test("symmetric 2-cycle keeps equal ranks summing to the full mass") {
    val edges = Seq(("a", "b", 1L), ("b", "a", 1L)).toDF("src", "dst", "w")
    val ranks = Graph.pageRank(edges, iters = 5)
      .as[(String, Long)].collect().toMap
    assert(ranks("a") == ranks("b"))
    // No dangling mass: total stays within integer-division slack of SCALE.
    val total = ranks.values.sum
    assert(math.abs(total - Graph.SCALE) < 100,
      s"mass $total drifted from ${Graph.SCALE}")
  }

  test("label propagation: hop-bounded min labels on a path graph") {
    // path a-b-c-d-e (+ isolated self-loop z-z): after k rounds each node
    // holds the min label within k hops; the self-loop is dropped by the
    // undirected simplification, so z keeps itself
    val edges = Seq(("b", "a", 1L), ("b", "c", 1L), ("c", "d", 1L),
      ("e", "d", 1L), ("z", "z", 1L)).toDF("src", "dst", "w")
    def run(k: Int) = Graph.labelPropagation(edges, k)
      .as[(String, String)].collect().toMap
    assert(run(0) == Map("a" -> "a", "b" -> "b", "c" -> "c", "d" -> "d",
      "e" -> "e", "z" -> "z"))
    assert(run(1) == Map("a" -> "a", "b" -> "a", "c" -> "b", "d" -> "c",
      "e" -> "d", "z" -> "z"))
    assert(run(2) == Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "b",
      "e" -> "c", "z" -> "z"))
    // k >= diameter: the full component label
    assert(run(4) == Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a",
      "e" -> "a", "z" -> "z"))
  }

  test("label propagation agrees with pointer-jumped components when k >= diameter") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val edges = Graph.bigramEdges(docs)
    // the dense word graph has tiny diameter; 6 rounds saturates it
    val lpa = Graph.labelPropagation(edges, 6).as[(String, String)].collect().toMap
    val lpa7 = Graph.labelPropagation(edges, 7).as[(String, String)].collect().toMap
    assert(lpa == lpa7, "labels must be stable once rounds exceed the diameter")
    // stable labels == connected components: members of one label set are
    // mutually reachable, so every edge connects equal labels
    val und = Graph.undirectedEdges(edges).as[(String, String)].collect()
    assert(und.forall { case (a, b) => lpa(a) == lpa(b) })
  }

  test("reliable checkpoints evaluate the pinned edge frame once per row") {
    // a lazy reliable checkpoint computes its frame for the first job and
    // again when it writes the checkpoint files; eager pins compute it once
    val evals = spark.sparkContext.longAccumulator("graph_edge_evals")
    val tagged = udf { (s: String) => evals.add(1); s }
    val raw = Seq(("a", "b", 1L), ("b", "c", 2L), ("c", "a", 1L), ("c", "d", 1L), ("d", "b", 3L))
      .toDF("src", "dst", "w")
    // the exchange keeps the optimizer from folding the udf into the local
    // relation at planning time, so every count below is an execution
    val edges = raw.repartition(2).select(col("src"), tagged(col("dst")).as("dst"), col("w"))
    val dir = java.nio.file.Files.createTempDirectory("graft_graph_ckpt").toString
    spark.conf.set(graft.core.Checkpoints.ConfKey, dir)
    try {
      val ranks = Graph.pageRank(edges, iters = 3).collect()
      assert(ranks.length == 4)
      // `dst` is read by two pins: the weighted edge frame and the node set
      assert(evals.value == 2L * raw.count(),
        s"${evals.value} evaluations of ${raw.count()} edge rows across the two pins")
      evals.reset()
      Graph.labelPropagation(edges, 2).collect()
    } finally spark.conf.unset(graft.core.Checkpoints.ConfKey)
    // label propagation's pins: no more evaluations than the local strategy makes
    val reliable = evals.value
    evals.reset()
    Graph.labelPropagation(edges, 2).collect()
    assert(reliable == evals.value, s"reliable $reliable vs local ${evals.value} evaluations")
  }

  test("a hub fed by two spokes outranks the spokes") {
    val edges = Seq(
      ("s1", "hub", 1L), ("s2", "hub", 1L),
      ("hub", "s1", 1L), ("hub", "s2", 1L)
    ).toDF("src", "dst", "w")
    val ranks = Graph.pageRank(edges, iters = 8)
      .as[(String, Long)].collect().toMap
    assert(ranks("hub") > ranks("s1"))
    assert(ranks("s1") == ranks("s2"), "symmetric spokes must tie exactly")
  }

  test("dangling sink decays toward teleport; result deterministic") {
    val edges = Seq(("a", "b", 1L)).toDF("src", "dst", "w")
    val r1 = Graph.pageRank(edges, iters = 5).as[(String, Long)].collect().toSeq
    val r2 = Graph.pageRank(edges, iters = 5).as[(String, Long)].collect().toSeq
    assert(r1 == r2)
    val m = r1.toMap
    // b receives a's damped mass; a only ever holds the teleport share.
    assert(m("b") > m("a"))
    val base = (15L * Graph.SCALE / 100L) / 2L
    assert(m("a") == base, "source with no inbound edges holds exactly the teleport share")
  }

  test("zero iterations returns the uniform initial mass, ordered by rank then node") {
    val edges = Seq(("a", "b", 3L), ("b", "c", 1L), ("c", "a", 2L)).toDF("src", "dst", "w")
    val got = Graph.pageRank(edges, iters = 0).as[(String, Long)].collect().toSeq
    assert(got.map(_._2).toSet == Set(Graph.SCALE / 3))
    assert(got.map(_._1) == Seq("a", "b", "c"), "equal ranks break ties by node")
  }

  test("edge weight shifts rank toward the heavier target") {
    val edges = Seq(
      ("a", "b", 9L), ("a", "c", 1L),
      ("b", "a", 1L), ("c", "a", 1L)
    ).toDF("src", "dst", "w")
    val ranks = Graph.pageRank(edges, iters = 6).as[(String, Long)].collect().toMap
    assert(ranks("b") > ranks("c"))
  }

  test("degree stats: hand-computed profile, zero-fill for one-directional nodes") {
    import spark.implicits._
    val edges = Seq(
      ("a", "b", 3L), ("a", "c", 1L), ("b", "a", 2L)
    ).toDF("src", "dst", "w")
    val got = Graph.degreeStats(edges)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("a", 2L, 4L, 1L, 2L),  // out: b,c (3+1); in: from b (2)
      ("b", 1L, 2L, 1L, 3L),
      ("c", 0L, 0L, 1L, 1L))) // pure sink: out zero-filled
  }

  test("triangles: K4 census, star has none, orientation == naive triple-join") {
    // K4 on {a,b,c,d}: 4 triangles, every node in exactly 3
    val k4 = Seq(("a","b"),("a","c"),("a","d"),("b","c"),("b","d"),("c","d"))
      .map { case (s, t) => (s, t, 1L) }.toDF("src", "dst", "w")
    val got = Graph.triangleCounts(k4).as[(String, Long)].collect().toMap
    assert(got == Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L))
    // a star supernode has maximal degree but zero triangles — and the
    // orientation bounds its wedge fan-out (all edges point INTO the hub)
    val star = (1 to 9).map(i => ("hub", s"n$i", 1L)).toDF("src", "dst", "w")
    assert(Graph.triangleCounts(star).count() == 0L)
    // direction and duplication must not matter: reversed + repeated
    // edges canonicalize to the same undirected simple graph
    val messy = Seq(("b","a",3L),("a","b",1L),("c","a",1L),("b","c",2L),("c","c",9L))
      .toDF("src", "dst", "w")
    val tri = Graph.triangleCounts(messy).as[(String, Long)].collect().toMap
    assert(tri == Map("a" -> 1L, "b" -> 1L, "c" -> 1L))
  }

  test("triangles: orientation algorithm == naive triple-join on a random graph") {
    // pseudo-random (deterministic) graph: edge {i,j} present iff
    // (i*31 + j*17) % 5 == 0 over 24 nodes — dense enough for hundreds
    // of triangles, including high-degree nodes
    val edges = (for {
      i <- 0 until 24; j <- (i + 1) until 24
      if (i * 31 + j * 17) % 5 == 0
    } yield (s"v%02d".format(i), s"v%02d".format(j), 1L)).toDF("src", "dst", "w")
    val got = Graph.triangleCounts(edges, k = 1000)
      .as[(String, Long)].collect().toMap
    // naive reference: lexicographic triple-join over canonical edges
    val und = Graph.undirectedEdges(edges)
    val e1 = und.select(col("a").as("x"), col("b").as("y"))
    val e2 = und.select(col("a").as("y"), col("b").as("z"))
    val e3 = und.select(col("a").as("x"), col("b").as("z"))
    val tris = e1.join(e2, "y").join(e3, Seq("x", "z"))
    val naive = tris.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(naive.nonEmpty, "fixture must actually contain triangles")
    assert(got == naive)
    // repartition invariance
    val again = Graph.triangleCounts(edges.repartition(7), k = 1000)
      .as[(String, Long)].collect().toMap
    assert(again == got)
  }

  test("declared corpus query ranks every word and orders by rank") {
    val docs = Seq((0L, "the cat sat on the mat"), (1L, "the dog")).toDF("doc_id", "text")
    val out = Graph.wordPageRank(docs, iters = 3)
    val rows = out.collect()
    val words = Graph.bigramEdges(docs)
      .select(explode(array(col("src"), col("dst"))))
      .distinct().count()
    assert(rows.length == words)
    val ranks = rows.map(_.getLong(1)).toSeq
    assert(ranks == ranks.sorted.reverse)
    // "the" has the most inbound mass in this corpus
    assert(rows.head.getString(0) == "the")
  }

  test("jaccard similarity: hand graph, hub prune, tie-break, bounds") {
    // path graph x-a-y plus x-b-y, x-c-y: x and y share {a,b,c};
    // hub h connects to everything (degree 7 > maxDeg 5) -> pruned
    val edges = Seq(
      ("x", "a"), ("a", "y"), ("x", "b"), ("b", "y"), ("x", "c"), ("c", "y"),
      ("h", "x"), ("h", "y"), ("h", "a"), ("h", "b"), ("h", "c"), ("h", "d"), ("h", "e"),
      ("d", "e")
    ).toDF("src", "dst").withColumn("w", lit(1L))
    val out = Graph.jaccardSimilarity(edges, maxDeg = 5, minCommon = 2, k = 10)
      .as[(String, String, Long, Long, Long, Double)].collect().toSeq
    // after pruning h: deg(x)=deg(y)=3 ({a,b,c}); J(x,y) = 3/(3+3-3) = 1
    assert(out.contains(("x", "y", 3L, 3L, 3L, 1.0)))
    // equal-jaccard ties order by (a, b): ("a","b") leads
    assert(out.head == (("a", "b", 2L, 2L, 2L, 1.0)))
    // pairs through the hub only (e.g. d-e via h) must NOT appear
    assert(!out.exists(r => Set(r._1, r._2).contains("h")))
    assert(out.forall(r => r._3 >= 2L && r._6 > 0.0 && r._6 <= 1.0))
    // a,b,c all share exactly {x, y}: J = 2/(2+2-2) = 1, tie-broken (a,b) asc
    val ones = out.filter(_._6 == 1.0).map(r => (r._1, r._2))
    assert(ones == Seq(("a", "b"), ("a", "c"), ("b", "c"), ("x", "y")).sorted ||
      ones.toSet == Set(("a", "b"), ("a", "c"), ("b", "c"), ("x", "y")))
  }

  test("pointer jumping resolves (root, depth) exactly, incl. chains deeper than one round") {
    // a pure 100-deep CHAIN: node i's parent is i-1, node 0 the root —
    // depth 100 needs ceil(log2(101)) = 7 doubling rounds
    val chain = (0L to 100L).map(i =>
      (i, if (i == 0) None else Some(i - 1))).toDF("id", "parent")
    val got = Graph.hierarchyResolve(chain, rounds = 7)
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got.forall(_._2 == 0L)) // every node resolves to the single root
    assert(got.map(_._3) == (0L to 100L)) // depth == position in the chain
    // 6 rounds (reach 64) must UNDER-resolve the tail — proves the
    // rounds actually do the work
    val short = Graph.hierarchyResolve(chain, rounds = 6)
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(short.last._2 != 0L || short.last._3 < 100L)
    // the planted corpus hierarchy: hand-check a few nodes
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val h = Graph.docHierarchy(docs).as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(h(0L) == ((0L, 0L)) && h(1L) == ((1L, 0L)) && h(2L) == ((2L, 0L)))
    assert(h(3L) == ((1L, 1L)))   // 3 -> 1
    assert(h(5L) == ((2L, 1L)))   // 5 -> 2
    assert(h(499L) == ((1L, 8L))) // 499->249->124->62->31->15->7->3->1
  }

  test("hierarchyResolve treats dangling parents as fixed points, never drops rows") {
    // 10 -> 20 -> 99 where 99 is NOT a node in the input (a
    // referentially-incomplete table). An inner-join formulation drops
    // 10 and 20 from the frame entirely; the contract is that they
    // resolve to the dangling ancestor with the depth walked so far.
    val nodes = Seq(
      (10L, Some(20L)), (20L, Some(99L)), (1L, None: Option[Long]))
      .toDF("id", "parent")
    val got = Graph.hierarchyResolve(nodes, rounds = 4)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got.size == 3)             // every input row survives
    assert(got(1L) == ((1L, 0L)))     // real root: its own fixed point
    assert(got(20L) == ((99L, 1L)))   // one hop to the dangling ancestor
    assert(got(10L) == ((99L, 2L)))   // two hops, through 20
  }
}
