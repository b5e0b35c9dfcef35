package graft

import graft.ext.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dedup correctness on a planted corpus: exact copies, near-duplicates
  * (small edits), and unrelated docs. Approximate ops are gated on
  * invariants (identical docs always caught; unrelated never paired). */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat watches the " +
      "birds fly south for the winter season every single year without fail"

  private lazy val corpus: DataFrame = Seq(
    (0L, base),
    (1L, base), // exact duplicate of 0
    (2L, base.replace("lazy", "sleepy")), // near-dup of 0 (1-token edit)
    (3L, base.replace("quick", "swift").replace("winter", "summer")), // near-dup, 2 edits
    (4L, "completely different content about spark catalyst optimizer rules " +
      "and whole stage code generation for large scale data processing")
  ).toDF("doc_id", "text")

  test("exact dedup keeps min id per content group") {
    assert(Dedup.exactKeepIds(corpus).as[Long].collect().toSeq == Seq(0L, 2L, 3L, 4L))
  }

  test("exactDedup returns full deduplicated rows") {
    val kept = Dedup.exactDedup(corpus).select("doc_id").as[Long].collect().toSet
    assert(kept == Set(0L, 2L, 3L, 4L))
  }

  test("minhash LSH catches exact and near duplicates, not unrelated docs") {
    val pairs = Dedup.minhashNearDuplicates(corpus, threshold = 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)), "identical docs must always collide")
    assert(pairs.contains((0L, 2L)) && pairs.contains((1L, 2L)), "1-edit near-dup")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L), "unrelated doc never pairs")
  }

  test("exact jaccard: identical docs = 1.0, unrelated ~ 0") {
    val j = Dedup.ngramJaccardPairs(corpus)
      .select("a", "b", "jaccard").as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(j((0L, 1L)) == 1.0)
    assert(j.getOrElse((0L, 4L), 0.0) == 0.0)
    assert(j((0L, 2L)) > 0.7 && j((0L, 2L)) < 1.0)
  }

  test("prefix-filtered jaccard == naive inverted join at every threshold") {
    // output-equivalence is the pruning's whole contract — check it at
    // thresholds spanning tiny prefixes (0.9) to near-full index (0.1),
    // on the planted corpus (exact copies, near-dups, unrelated docs)
    def naive(t: Double, maxDf: Long) = Dedup.ngramJaccardPairs(corpus, maxDf = maxDf)
      .filter(col("jaccard") >= t)
      .select("a", "b", "inter", "sa", "sb", "jaccard")
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
    for (t <- Seq(0.1, 0.3, 0.5, 0.7, 0.9); maxDf <- Seq(Long.MaxValue, 5L)) {
      val pruned = Dedup.prefixJaccardPairs(corpus, t, maxDf = maxDf)
        .select("a", "b", "inter", "sa", "sb", "jaccard")
        .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
      assert(pruned == naive(t, maxDf), s"divergence at t=$t maxDf=$maxDf")
    }
    // and the exact-copy pair survives the tightest threshold
    assert(Dedup.prefixJaccardPairs(corpus, 1.0)
      .select("a", "b").as[(Long, Long)].collect().toSet.contains((0L, 1L)))
  }

  test("prefix index is smaller than the full index and shrinks as t rises") {
    // not just correct — actually pruning: count indexed (doc, shingle)
    // rows the candidate join sees at a high vs low threshold
    def prefixRows(t: Double): Long = {
      val sh = Dedup.shingleRows(corpus).select(col("doc_id"), xxhash64(col("shingle")).as("sh_h"))
      val dfs = sh.groupBy("sh_h").agg(count(lit(1)).as("df"))
      sh.join(dfs, "sh_h").groupBy("doc_id")
        .agg(sort_array(collect_list(struct(col("df"), col("sh_h")))).as("ordered"))
        .select(explode(slice(col("ordered"), lit(1),
          (size(col("ordered")) - ceil(lit(t) * size(col("ordered")) - lit(1e-9)) + 1).cast("int"))))
        .count()
    }
    val full = Dedup.shingleRows(corpus).count()
    val p08 = prefixRows(0.8)
    assert(p08 < full, s"prefix index ($p08) must be smaller than full index ($full)")
    assert(p08 < prefixRows(0.2), "higher threshold must index fewer rows")
  }

  test("maxDf hot-shingle semantics: boilerplate-only pairs drop; real near-dups survive") {
    // every doc carries the same boilerplate tail (its interior 3-shingles
    // have df=6); bodies: 0~1 near-identical, 2..5 mutually unrelated
    val boiler = " please subscribe to our newsletter for weekly updates and offers"
    val hot = Seq(
      (0L, base + boiler),
      (1L, base.replace("lazy", "sleepy") + boiler),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa" + boiler),
      (3L, "one two three four five six seven eight nine ten eleven" + boiler),
      (4L, "red orange yellow green blue indigo violet colors rainbow sky" + boiler),
      (5L, "north south east west compass map route travel journey distance" + boiler)
    ).toDF("doc_id", "text")
    // exact (maxDf=inf): boilerplate alone is enough to pair unrelated docs
    val exact = Dedup.ngramJaccardPairs(hot)
      .select("a", "b", "jaccard").as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(exact.contains((2L, 3L)) && exact((2L, 3L)) > 0.0,
      "with maxDf=inf, boilerplate-only overlap must produce a (low) score")
    // filtered universe: df=6 boilerplate shingles dropped at maxDf=5 —
    // unrelated pairs never meet, the true near-dup still scores high
    val filtered = Dedup.ngramJaccardPairs(hot, maxDf = 5L)
      .select("a", "b", "jaccard").as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(filtered.contains((0L, 1L)) && filtered((0L, 1L)) > 0.7,
      "near-dup pair must survive the hot-shingle filter with a high score")
    for (p <- Seq((2L, 3L), (2L, 4L), (3L, 5L), (4L, 5L)))
      assert(!filtered.contains(p),
        s"pair $p shares only dropped boilerplate shingles and must not meet")
  }

  test("simhash: identical hamming 0; near-dups within pair distance") {
    val sims = Dedup.simhash(corpus, numBits = 30)
      .as[(Long, Long)].collect().toMap
    assert(sims(0L) == sims(1L))
    val d02 = java.lang.Long.bitCount(sims(0L) ^ sims(2L))
    val d04 = java.lang.Long.bitCount(sims(0L) ^ sims(4L))
    assert(d02 < d04, s"near-dup distance $d02 should be < unrelated $d04")
    val pairs = Dedup.simhashPairs(corpus, numBits = 30, maxDist = 3)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
  }

  test("near-dup clustering is transitive and keeps one id per cluster") {
    // chain: 0≡1 (exact), 1~2 (1 edit), 2~3 (edits) — one component even
    // though 0 and 3 may never pair directly; 4 isolated
    val clusters = Dedup.nearDupClusters(corpus, threshold = 0.5)
      .as[(Long, Long)].collect().toMap
    assert(clusters(0L) == 0L && clusters(1L) == 0L && clusters(2L) == 0L)
    assert(clusters(3L) == 0L, "transitive chain must merge")
    assert(clusters(4L) == 4L, "isolated doc keeps its own cluster")
    val kept = Dedup.nearDupKeepIds(corpus, threshold = 0.5)
      .as[Long].collect().toSeq
    assert(kept == Seq(0L, 4L))
  }

  test("clusterPairs: driver union-find and distributed propagation agree") {
    // deep chain + star + singleton — the shapes that stress both paths
    val nodes = (0L to 12L).toDF("doc_id")
    val pairs = ((0L until 8L).map(i => (i, i + 1)) ++ // 9-node chain
      Seq((9L, 10L), (9L, 11L))).toDF("a", "b")        // star at 9; 12 isolated
    def run(cap: Long) =
      Dedup.clusterPairs(nodes, pairs, "doc_id", smallGraphCap = cap)
        .as[(Long, Long)].collect().toMap
    val fast = run(1000000L)
    val dist = run(0L)
    assert(fast == dist, "both paths must compute the same min-label fixpoint")
    assert(fast(8L) == 0L && fast(11L) == 9L && fast(12L) == 12L)
  }

  test("minhash signatures == the exploded per-shingle min aggregate, both base hashes") {
    for ((name, h) <- Seq("xxhash64" -> (Dedup.xxHash _), "poly_hash" -> (Dedup.polyHash _))) {
      val got = Dedup.minhashSignature(corpus, numHashes = 64, baseHash = h)
        .as[(Long, Seq[Long])].collect().toMap
      val want = MinHashReference.signatures(corpus, 3, 64, h)
        .as[(Long, Seq[Long])].collect().toMap
      assert(got == want, s"signature kernel diverged from the reference under $name")
    }
  }

  test("array-intersect verify == shingle-row Jaccard on every near-dup pair") {
    val exact = Dedup.ngramJaccardPairs(corpus).select("a", "b", "jaccard")
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val pairs = Dedup.minhashNearDuplicates(corpus, threshold = 0.1)
      .select("a", "b", "jaccard").as[(Long, Long, Double)].collect()
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b, j) => assert(j == exact((a, b)), s"($a, $b): $j") }
    // a document with no text has no signature row, and no pair
    val withNull = corpus.union(Seq((9L, null: String)).toDF("doc_id", "text"))
    assert(Dedup.minhashSignature(withNull).filter(col("doc_id") === 9L).count() == 0)
  }

  test("MinHash paths never turn shingles into rows: no GenerateExec over token_shingles") {
    import org.apache.spark.sql.execution.{GenerateExec, ProjectExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.util.QueryExecutionListener
    import graft.functions.TokenShingles
    // every executed plan, including the eager pins inside construction
    val captured = new java.util.concurrent.CopyOnWriteArrayList[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        captured.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def expand(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case r: ReusedExchangeExec => Seq(r.child)
        case other => other.children
      }
      p +: kids.flatMap(expand)
    }
    val batch = Seq((7L, base.replace("lazy", "idle")), (8L, "nothing in common here at all"))
      .toDF("doc_id", "text")
    spark.listenerManager.register(listener)
    try {
      Dedup.minhashNearDupPairs(corpus, 0.5, 3, 64, 16, Dedup.xxHash, "text", "doc_id").collect()
      Dedup.crossCorpusNearDups(corpus, batch, 0.4).collect()
      Dedup.minhashSignature(corpus).collect()
      org.apache.spark.sql.graft.ListenerBusDrain(spark)
    } finally spark.listenerManager.unregister(listener)
    val nodes = captured.toArray(Array.empty[SparkPlan]).toSeq.flatMap(expand)
    assert(nodes.nonEmpty)
    // shingle arrays by name too, in case a projection below the generator aliases them
    val shingleAttrs = nodes.collect { case p: ProjectExec => p.projectList }.flatten
      .filter(_.exists(_.isInstanceOf[TokenShingles])).map(_.exprId).toSet
    val offenders = nodes.collect {
      case g: GenerateExec if g.generator.exists {
        case _: TokenShingles => true
        case a: org.apache.spark.sql.catalyst.expressions.Attribute => shingleAttrs(a.exprId)
        case _ => false
      } => g
    }
    assert(offenders.isEmpty, s"shingles exploded into rows:\n${offenders.mkString("\n")}")
  }

  test("minhashFlat evaluates the signature kernel once per document") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }).flatMap(nodes)
    // read from files: over a local relation the optimizer would evaluate
    // the projection (and any filter pushed into it) at planning time
    val dir = java.nio.file.Files.createTempDirectory("graft_minhash_flat").resolve("docs").toString
    corpus.write.parquet(dir)
    val flat = Dedup.minhashFlat(spark.read.parquet(dir))
    flat.collect()
    val kernels = nodes(flat.queryExecution.executedPlan)
      .flatMap(_.expressions.flatMap(_.collect { case m: graft.functions.MinHashSignature => m }))
    assert(kernels.size == 1, s"signature kernel appears ${kernels.size} times in the plan")
  }

  test("minhash signature is invariant under repartitioning") {
    val s1 = Dedup.minhashFlat(corpus, numHashes = 8).collect().toSeq
    val s2 = Dedup.minhashFlat(corpus.repartition(7), numHashes = 8)
      .collect().toSeq
    assert(s1 == s2)
  }

  test("embedding clusters match the exact all-pairs clustering; structure is non-trivial") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .filter(col("vec_id") < 300)
    val got = Dedup.embeddingNearDupClusters(emb, 0.4)
      .as[(Long, Long)].collect().toSeq
    val exactPairs = graft.ext.Similarity
      .cosineNearDupPairsExact(emb, 0.4).select("a", "b")
    val want = Dedup.clusterPairs(emb.select(col("vec_id")), exactPairs, "vec_id")
      .orderBy("vec_id").as[(Long, Long)].collect().toSeq
    assert(got == want)
    // the threshold was picked where this corpus actually clusters: at
    // least one multi-member component, and not everything in one blob
    val sizes = got.groupBy(_._2).map(_._2.size)
    assert(sizes.exists(_ > 1) && sizes.size > 1)
  }

  test("embedding clusters: zero-norm vectors stay singletons, identical vectors merge") {
    val df = Seq(
      (0L, Array(1.0f, 2.0f, 3.0f)),
      (1L, Array(1.0f, 2.0f, 3.0f)), // identical direction → cosine 1
      (2L, Array(0.0f, 0.0f, 0.0f)), // zero norm: no direction, pairs with nothing
      (3L, Array(-3.0f, 1.0f, 0.5f))
    ).toDF("vec_id", "embedding")
    val clusters = Dedup.embeddingNearDupClusters(df, 0.9, nlist = 2)
      .as[(Long, Long)].collect().toMap
    assert(clusters(0L) == 0L && clusters(1L) == 0L)
    assert(clusters(2L) == 2L && clusters(3L) == 3L)
  }

  test("span dedup: repeated spans collapse to first occurrence, docs reassemble in order") {
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"), // 2 full spans, both first
      (1L, "alpha beta gamma one two three"), // span 0 repeats doc 0's span 0
      (2L, ""), // empty doc must survive with 0 spans
      (3L, "x y z w"), // ragged tail span "w"
      (4L, "p q r p q r") // within-doc repetition
    ).toDF("doc_id", "text")
    val out = Dedup.spanDedup(docs, 3)
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out == Seq(
      (0L, 2L, 2L, "alpha beta gamma delta epsilon zeta"),
      (1L, 2L, 1L, "one two three"),
      (2L, 0L, 0L, ""),
      (3L, 2L, 2L, "x y z w"),
      (4L, 2L, 1L, "p q r")))
  }

  test("cross-corpus near-dups: planted paraphrase found, unrelated doc clean") {
    val base = "the quick brown fox jumps over the lazy dog while the cat watches birds"
    val corpus = Seq((0L, base),
      (2L, "entirely different content about catalyst optimizer rule execution order"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (1L, base.replace("lazy", "sleepy")), // near-dup of corpus doc 0
      (3L, "unrelated third topic with completely fresh vocabulary and phrasing")
    ).toDF("doc_id", "text")
    val hits = Dedup.crossCorpusNearDups(corpus, batch, 0.4)
      .select("corpus_id", "batch_id").as[(Long, Long)].collect().toSeq
    assert(hits == Seq((0L, 1L)))
    // exact duplicate across sides scores jaccard 1.0
    val exact = Dedup.crossCorpusNearDups(corpus, Seq((9L, base)).toDF("doc_id", "text"), 0.9)
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(exact.size == 1 && exact.head._1 == 0L && exact.head._2 == 9L
      && exact.head._6 == 1.0)
  }

  test("containment is asymmetric: quoted-short side hits 1.0, long side dilutes") {
    // A's 3 shingles all appear in B (A is an excerpt of B); B has 8
    val docs = Seq(
      (0L, "a b c d e"),
      (1L, "a b c d e f g h i j")
    ).toDF("doc_id", "text")
    val all = Dedup.containmentPairs(docs, k = 3, threshold = 0.0)
      .select("src", "dst", "inter", "s_src", "containment")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(all == Seq((0L, 1L, 3L, 3L, 1.0), (1L, 0L, 3L, 8L, 0.375)))
    val strict = Dedup.containmentPairs(docs, k = 3, threshold = 0.5)
      .select("src").as[Long].collect().toSeq
    assert(strict == Seq(0L), "only the contained excerpt direction survives 0.5")
  }

  test("span dedup plans as partial aggregation, not a span-partitioned window sort") {
    val docs = Seq((0L, "a b c")).toDF("doc_id", "text")
    val plan = Dedup.spanDedup(docs, 3).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      "first-occurrence pick must be min-struct agg (map-side combinable), not a window")
  }

  test("fuzzy entity pairs: distances, threshold boundary, blocking") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // entity 0's ids: 0 (canonical), 100 (deletion typo), 50
    // (transposition typo), 150 (canonical re-entry); 3 -> entity 3
    // (different block, never paired)
    val docs = Seq(0L, 50L, 100L, 150L, 3L).toDF("doc_id")
      .withColumn("text", lit("t"))
    val out = graft.ext.Entity.fuzzyPairs(docs)
      .as[(Long, Long, String, String, Long)].collect().toSeq
    val m = out.map(r => (r._1, r._2) -> r._5).toMap
    assert(m((0L, 100L)) == 1L, "deletion typo: distance 1")
    assert(m((0L, 50L)) == 2L, "transposition typo: distance 2")
    assert(m((0L, 150L)) == 0L, "identical re-entry: distance 0")
    assert(!m.contains((50L, 100L)), "usr-/recrod pair is distance 3: over threshold")
    assert(!out.exists(r => r._1 == 3L || r._2 == 3L), "cross-block pairs never form")
    assert(m((100L, 150L)) == 1L && m((50L, 150L)) == 2L)
    // the engine's distances agree with a reference implementation
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    out.foreach(r => assert(r._5 == lev(r._3, r._4).toLong, s"${r._3} vs ${r._4}"))
  }

  test("fuzzy entity pairs: degenerate blocking key fails loud, not quadratic") {
    import org.apache.spark.sql.functions.lit
    import spark.implicits._
    // entities=1 collapses every row into ONE block ('0') — the exact
    // silent-quadratic shape the guard exists for
    val docs = (0L until 20L).toDF("doc_id").withColumn("text", lit("t"))
    val e = intercept[IllegalArgumentException] {
      graft.ext.Entity.fuzzyPairs(docs, entities = 1L, maxBlockSize = 10L)
    }
    assert(e.getMessage.contains("maxBlockSize"), e.getMessage)
    assert(e.getMessage.contains("'0'=20"),
      s"guard must name the offending block and its size: ${e.getMessage}")
    // healthy blocking under the same cap sails through unchanged
    val ok = graft.ext.Entity.fuzzyPairs(docs, entities = 10L, maxBlockSize = 10L)
    assert(ok.count() > 0)
  }

  test("LSH quality report: internally consistent, full recall with 64-band config") {
    import org.apache.spark.sql.functions.lit
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog while the cat watches"
    val docs = Seq(
      (0L, base),
      (1L, base),                                   // exact dup of 0
      (2L, base.replace("lazy", "sleepy")),         // near dup of 0
      (3L, "completely different content about catalyst optimizer rules engine"),
      (4L, "another unrelated piece of text mentioning shuffles and joins")
    ).toDF("doc_id", "text").withColumn("lang", lit("en"))
    // bands = numHashes -> a single shared minhash buckets a pair:
    // candidate recall is 1 for any jaccard > 0 pair set
    val r = graft.ext.Dedup.lshQualityReport(docs, threshold = 0.5,
        numHashes = 64, bands = 64)
      .as[(Long, Long, Long, Double, Double)].head()
    val (nTrue, nCand, nHit, prec, rec) = r
    assert(nTrue >= 2L, "exact pair (0,1) and near pair must be in the truth")
    assert(nHit <= math.min(nCand, nTrue))
    assert(rec == 1.0, s"64-band config must bucket every true pair, got $r")
    assert(prec == nHit.toDouble / nCand.toDouble)
    // fewer bands can only shrink the candidate set (monotone knob)
    val tight = graft.ext.Dedup.lshQualityReport(docs, threshold = 0.5,
        numHashes = 64, bands = 8)
      .as[(Long, Long, Long, Double, Double)].head()
    assert(tight._2 <= nCand)
    assert(tight._1 == nTrue, "truth side must not depend on the banding")
  }

  test("golden records: transitive merge, modal survivor, deterministic ties") {
    import org.apache.spark.sql.functions.lit
    import spark.implicits._
    // entity 0 has 4 member rows: 2× canonical (0, 150), 1× deletion
    // (100), 1× transposition (50). Note 50↔100 is distance 3 — over the
    // pair threshold — yet both join the cluster TRANSITIVELY through
    // the canonical form. Modal name = 'user-0-record' (count 2).
    val docs = Seq(0L, 50L, 100L, 150L, 3L).toDF("doc_id")
      .withColumn("text", lit("t"))
    val got = graft.ext.Entity.goldenRecords(docs)
      .as[(Long, Long, String)].collect().toSeq
    assert(got == Seq(
      (0L, 4L, "user-0-record"),
      (3L, 1L, "user-3-record"))) // singleton: its own name survives
    // tie-break: two variants with equal counts -> lexicographically
    // smallest survives (entity 0: one canonical + one deletion typo)
    val tied = Seq(0L, 100L).toDF("doc_id").withColumn("text", lit("t"))
    val g2 = graft.ext.Entity.goldenRecords(tied)
      .as[(Long, Long, String)].collect().toSeq
    assert(g2 == Seq((0L, 2L, "user-0-record")),
      "'user-0-record' < 'usr-0-record' must win the 1-1 tie")
  }

  test("url canonicalization: every rule on hand-built cases") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val cases = Seq(
      // case + www + default port + trailing slash all collapse
      "HTTPS://WWW.Example.COM:443/A/b/" -> "https://example.com/A/b",
      // path case is PRESERVED (paths are case-sensitive)
      "https://example.com/CaseSensitive" -> "https://example.com/CaseSensitive",
      // http default port
      "http://example.com:80/x" -> "http://example.com/x",
      // NON-default port survives
      "https://example.com:8443/x" -> "https://example.com:8443/x",
      // utm_* dropped, real params kept, fragment dropped
      "https://example.com/a?id=7&utm_source=f&utm_campaign=c#frag" ->
        "https://example.com/a?id=7",
      // all params tracking -> whole query collapses
      "https://example.com/a?utm_source=f" -> "https://example.com/a",
      // bare host, multiple trailing slashes
      "https://www.example.com///" -> "https://example.com",
      // unknown scheme: no port stripping, still lowercased + de-www'd
      "FTP://WWW.Example.com:21/f" -> "ftp://example.com:21/f",
      // not a URL at all: passes through unchanged
      "not a url" -> "not a url",
      "" -> "")
    val got = cases.map(_._1).toDF("u")
      .select(graft.ext.Urls.canonicalizeUrl(col("u")).as("c"))
      .as[String].collect().toSeq
    got.zip(cases).foreach { case (c, (in, want)) =>
      assert(c == want, s"canonicalize('$in') = '$c', want '$want'") }
    // grouping: variants of one page collapse to one keeper
    val docs = Seq(0L, 1L, 2L, 3L, 70L, 140L).toDF("doc_id")
    val out = graft.ext.Urls.urlDedup(docs)
      .as[(Long, String, String, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    // ids 0/70/140: v0/v2/v0 encodings of art/0/item/0 -> one group of 3
    assert(out(0L)._3 == "https://example.com/art/0/item/0")
    assert(out(0L)._4 == 3L && out(0L)._5, "smallest id keeps")
    assert(out(70L)._3 == out(0L)._3 && !out(70L)._5)
    assert(out(140L)._3 == out(0L)._3 && !out(140L)._5)
    assert(out(3L)._3 == "http://example.org/art/3?id=3" && out(3L)._4 == 1L)
  }

  test("robots decisions: longest match wins, allow beats disallow on depth") {
    val docs = Seq(0L, 1L, 2L, 3L, 4L).toDF("doc_id")
    val out = graft.ext.Urls.robotsDecisions(docs)
      .as[(Long, String, String, Boolean)].collect().map(r => r._1 -> r).toMap
    // /private/pub/...: nested allow overrides the /private disallow
    assert(out(0L)._2.startsWith("/private/pub/"))
    assert(out(0L)._3 == "/private/pub" && out(0L)._4)
    // /private/cache/...: the /private disallow wins over the root allow
    assert(out(1L)._3 == "/private" && !out(1L)._4)
    // /search/...: plain disallow
    assert(out(2L)._3 == "/search" && !out(2L)._4)
    // /api/v2/open/...: deep allow override of /api
    assert(out(3L)._3 == "/api/v2/open" && out(3L)._4)
    // /articles/...: only the default-allow root rule matches
    assert(out(4L)._3 == "/" && out(4L)._4)
  }

  test("sitemap parse: comments vanish, loc-less skipped with gap, entities, priorities") {
    import spark.implicits._
    val xml = "<?xml version=\"1.0\"?><urlset>" +
      "<url><loc>https://a.example/x?p=1&amp;q=2</loc>" +
      "<lastmod>2026-03-04</lastmod><priority>0.8</priority></url>" +
      "<!-- <url><loc>https://never.example/c</loc></url> -->" +
      "<url><lastmod>2026-01-01</lastmod></url>" + // loc-less: skipped
      "<url><loc>https://a.example/y</loc></url>" + // defaults
      "</urlset>"
    val rows = graft.ext.Urls.sitemapEntries(
        Seq((7L, xml)).toDF("doc_id", "sitemap_xml"))
      .orderBy("entry_id")
      .select("entry_id", "loc", "lastmod", "priority_permille")
      .as[(Long, String, String, Long)].collect().toSeq
    assert(rows == Seq(
      (1L, "https://a.example/x?p=1&q=2", "2026-03-04", 800L),
      // entry 2 was the loc-less one -> entry_id 3 proves the gap
      (3L, "https://a.example/y", "", 500L)), rows)
  }
}
