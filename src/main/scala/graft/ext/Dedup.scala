package graft.ext

import graft.text.Tokenize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Checkpoints.Pinnable

/** Deduplication suite for large text corpora: exact, MinHash+LSH,
  * SimHash, and exact n-gram Jaccard.
  *
  * Scale design (the 100 TB story):
  *  - exact dedup groups on a 256-bit content hash, so the shuffle carries
  *    (hash, id) pairs — never the document text;
  *  - MinHash state is computed in ONE row per document: the shingle
  *    array is built once, folded into its signature by a codegen'd
  *    kernel and hashed for the Jaccard verify in the same projection —
  *    shingles never become rows, so no shuffle carries them;
  *  - LSH banding turns all-pairs comparison into an equi-join on
  *    (band, band_hash) — candidates only, never n²;
  *  - SimHash near-dup search uses the pigeonhole block trick: pairs within
  *    Hamming distance d must agree exactly on one of d+1 blocks, again an
  *    equi-join.
  *
  * Hash choice: every op takes a `baseHash` column function. The default is
  * Spark's codegen'd `xxhash64` (production path). The DuckDB-oracle-checked
  * queries pass [[polyHash]] — a 31-ary rolling hash any engine can
  * reproduce — so correctness is verified end-to-end against SQL, while the
  * production default keeps the better-mixed 64-bit hash.
  */
object Dedup {

  val P: Long = 1000000007L // base-hash modulus (prime, < 2^30)
  val P2: Long = graft.functions.TextKernels.MinHashP2 // signature-hash modulus (prime, < 2^31)

  /** Portable rolling hash: fold codepoints, h = (h*31 + cp) mod P.
    * Reproducible in any engine with a sequential list fold; compiled to a
    * tight codegen loop (see graft.functions.PolyHash — ~10× over the
    * equivalent interpreted `aggregate(split(...))` fold). */
  def polyHash(s: Column): Column = graft.functions.poly_hash(s)

  /** Default production hash. */
  def xxHash(s: Column): Column = xxhash64(s)

  // ------------------------------------------------------------------
  // exact dedup

  /** IDs retained after exact dedup: min id per content hash. The text
    * itself never crosses the shuffle. */
  def exactKeepIds(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.groupBy(sha2(col(textCol), 256).as("content_sha"))
      .agg(min(col(idCol)).as(idCol))
      .select(idCol)
      .orderBy(idCol)

  /** The deduplicated table itself (first row per content hash wins,
    * deterministically by id). */
  def exactDedup(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy(sha2(col(textCol), 256)).orderBy(col(idCol))
    docs.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  // ------------------------------------------------------------------
  // span-level exact dedup (sub-document granularity)

  /** Span-level exact dedup: the span-quantized form of exact-substring
    * deduplication (Lee et al. 2021, "Deduplicating Training Data Makes
    * Language Models Better"). Each document is cut into consecutive
    * non-overlapping `spanTokens`-token spans; only the corpus-wide FIRST
    * occurrence (ordered by (doc_id, span_no)) of each exact span text
    * survives, and each document is reassembled from its surviving spans.
    * This removes repeated boilerplate passages *inside* otherwise-unique
    * documents — the duplication class whole-document dedup can't see.
    *
    * Scale design: the first-occurrence winner per span is a
    * `groupBy(span).agg(min(struct(id, span_no)))` — partial aggregation
    * combines map-side, so a boilerplate span with 10⁸ occurrences
    * reduces to one row per input partition before the shuffle (a window
    * `row_number` over the span partition would instead sort the full
    * occurrence list through one task — the classic hot-key trap). The
    * mark-kept step is then an equi-join on the span text, and document
    * reassembly is one doc_id-keyed aggregation. No n² stage anywhere.
    *
    * @return (doc_id, n_spans, n_kept, clean_text), one row per input
    *         document (empty documents kept with clean_text = "")
    */
  def spanDedup(docs: DataFrame, spanTokens: Int = 3,
                textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val w = spanTokens
    val spans = docs
      .select(col(idCol), Tokenize.tokensArray(col(textCol)).as("__toks"))
      .withColumn("__n_spans", ((size(col("__toks")) + (w - 1)) / w).cast("long"))
      .withColumn("span_no", explode(when(col("__n_spans") > 0,
        sequence(lit(0L), col("__n_spans") - 1)).otherwise(lit(Array.empty[Long]))))
      .select(col(idCol), col("span_no"),
        array_join(slice(col("__toks"), (col("span_no") * w + 1).cast("int"), lit(w)), " ")
          .as("span"))
    val firstOcc = spans.groupBy("span")
      .agg(min(struct(col(idCol), col("span_no"))).as("__first"))
    val marked = spans.join(firstOcc, "span")
      .withColumn("__kept", struct(col(idCol), col("span_no")) === col("__first"))
    val perDoc = marked.groupBy(idCol).agg(
      count(lit(1)).as("n_spans"),
      sum(when(col("__kept"), 1L).otherwise(0L)).as("n_kept"),
      concat_ws(" ", transform(
        array_sort(collect_list(when(col("__kept"), struct(col("span_no"), col("span"))))),
        s => s.getField("span"))).as("clean_text"))
    docs.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .orderBy(idCol)
  }

  // ------------------------------------------------------------------
  // shingling

  /** k-token shingles (distinct), preserving duplicate tokens inside the
    * window; documents shorter than k collapse to one whole-doc shingle.
    * Declarative SPEC form over a token array (mirrored by the oracle);
    * the hot path uses the codegen'd single-pass kernel below. */
  def shinglesSpec(tokens: Column, k: Int): Column =
    when(size(tokens) >= k,
      array_distinct(transform(sequence(lit(0), size(tokens) - k),
        i => concat_ws(" ", slice(tokens, i + 1, lit(k))))))
      .otherwise(array(concat_ws(" ", tokens)))

  /** (id, shingle) rows for a document table — one codegen'd pass from
    * raw text to distinct shingles (tokenize + normalize + slide). */
  def shingleRows(docs: DataFrame, k: Int = 3,
                  textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol),
      explode(graft.functions.token_shingles(col(textCol), k)).as("shingle"))

  // ------------------------------------------------------------------
  // MinHash + LSH

  /** Affine re-hash family over the base hash: h_i(x) = (a_i·x + b_i) mod P2.
    * Seeds are a fixed deterministic family shared with the SQL oracle and
    * with the signature kernel ([[graft.functions.TextKernels.minhashSignature]]). */
  def seedFamily(numHashes: Int): Seq[(Int, Long, Long)] = {
    import graft.functions.TextKernels.{minhashA, minhashB}
    (0 until numHashes).map(i => (i, minhashA(i), minhashB(i)))
  }

  /** The one MinHash path: (id, sig, sh_h), one row per document with
    * non-null text. `token_shingles` runs once per document; its array
    * feeds both the signature kernel (`sig`, H slots of
    * min h_i(pmod(baseHash(s), P))) and the verify hashes (`sh_h`, the
    * xxhash64 of each distinct shingle). Signature-only consumers never
    * read `sh_h`, and column pruning drops it from their plans. `idCol`
    * is a key: each input row is one document. */
  private def signatureRows(docs: DataFrame, k: Int, numHashes: Int,
                            baseHash: Column => Column,
                            textCol: String, idCol: String): DataFrame =
    docs.where(col(textCol).isNotNull)
      .select(col(idCol), graft.functions.token_shingles(col(textCol), k).as("__sh"))
      .select(col(idCol),
        graft.functions.minhash_signature(
          transform(col("__sh"), s => pmod(baseHash(s), lit(P))), numHashes).as("sig"),
        transform(col("__sh"), s => xxhash64(s)).as("sh_h"))

  /** MinHash signatures in flat form: (id, h_idx, minhash). The slots are
    * zipped with their index before the explode: a generator over the bare
    * `sig` attribute makes the optimizer infer `size(sig) > 0` and push it
    * below the projection, computing every signature twice. */
  def minhashFlat(docs: DataFrame, k: Int = 3, numHashes: Int = 8,
                  baseHash: Column => Column = xxHash,
                  textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    minhashSignature(docs, k, numHashes, baseHash, textCol, idCol)
      .select(col(idCol), inline(transform(col("sig"),
        (v, i) => struct(i.cast("long").as("h_idx"), v.as("minhash")))))
      .orderBy(idCol, "h_idx")

  /** Signature as one array column per doc (internal for banding). */
  def minhashSignature(docs: DataFrame, k: Int = 3, numHashes: Int = 64,
                       baseHash: Column => Column = xxHash,
                       textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    signatureRows(docs, k, numHashes, baseHash, textCol, idCol).select(col(idCol), col("sig"))

  /** LSH banding: (band, band_hash, id) — docs sharing a band bucket are
    * near-dup candidates. band_hash folds the band's r minhash values. */
  def lshBands(sig: DataFrame, bands: Int, idCol: String = "doc_id"): DataFrame = {
    val r = size(col("sig")) / bands
    sig.select(col(idCol),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => aggregate(slice(col("sig"), b * r + 1, r), lit(0L),
            (h, v) => (h * 31 + pmod(v, lit(P))) % P))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_hash")
      .select("band", "band_hash", idCol)
  }

  /** Per-band bucket statistics (distinct buckets, docs per band) — a
    * cheap observable of LSH health that stays oracle-checkable even when
    * the corpus has no near-dups (candidate pairs would be empty). */
  def lshBandStats(docs: DataFrame, k: Int = 3, numHashes: Int = 8, rowsPerBand: Int = 4,
                   baseHash: Column => Column = xxHash,
                   textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    lshBands(minhashSignature(docs, k, numHashes, baseHash, textCol, idCol),
        numHashes / rowsPerBand, idCol)
      .groupBy(col("band").cast("long").as("band"))
      .agg(countDistinct(col("band_hash")).as("n_buckets"), count(lit(1)).as("n_docs"))
      .orderBy("band")

  /** Candidate pairs (a < b, distinct) from a banded signature table. */
  private def candidatesFromSignatures(sig: DataFrame, bands: Int, idCol: String): DataFrame = {
    val bandsDf = lshBands(sig, bands, idCol)
    val a = bandsDf.select(col("band"), col("band_hash"), col(idCol).as("a"))
    val b = bandsDf.select(col("band"), col("band_hash"), col(idCol).as("b"))
    a.join(b, Seq("band", "band_hash")).filter(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** Candidate near-dup pairs from LSH buckets (a < b, distinct). */
  def minhashCandidates(docs: DataFrame, k: Int = 3, numHashes: Int = 64,
                        bands: Int = 16, baseHash: Column => Column = xxHash,
                        textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    candidatesFromSignatures(
      minhashSignature(docs, k, numHashes, baseHash, textCol, idCol), bands, idCol)

  /** LSH index-quality report — the dedup-side sibling of the ANN recall
    * monitors: banded MinHash candidate generation graded against the
    * exact thresholded truth (the recall-complete prefix-filtered
    * Jaccard join). One row:
    * `(n_true, n_cand, n_hit, candidate_precision, pair_recall)` —
    * recall is the number a dedup owner watches (true near-dup pairs the
    * bands never surface are duplicates that SURVIVE dedup); precision
    * is the verify-join cost multiplier (false candidates still pay the
    * exact-Jaccard verification).
    *
    * Scale shape: both pair generators are the graded production paths
    * (band equi-joins / prefix-index equi-joins); the comparison itself
    * is one full-outer equi-join on the pair key folded into a scalar
    * aggregate — nothing new materializes beyond the two pair lists. */
  def lshQualityReport(docs: DataFrame, threshold: Double = 0.7, k: Int = 3,
                       numHashes: Int = 64, bands: Int = 16,
                       baseHash: Column => Column = xxHash,
                       textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val cand = minhashCandidates(docs, k, numHashes, bands, baseHash, textCol, idCol)
      .withColumn("is_cand", lit(1L))
    val truth = prefixJaccardPairs(docs, threshold, k, Long.MaxValue, textCol, idCol)
      .select(col("a"), col("b")).withColumn("is_true", lit(1L))
    cand.join(truth, Seq("a", "b"), "full_outer")
      .agg(sum(coalesce(col("is_true"), lit(0L))).as("n_true"),
        sum(coalesce(col("is_cand"), lit(0L))).as("n_cand"),
        sum(when(col("is_cand").isNotNull && col("is_true").isNotNull, 1L)
          .otherwise(0L)).as("n_hit"))
      .withColumn("candidate_precision",
        col("n_hit").cast("double") / col("n_cand").cast("double"))
      .withColumn("pair_recall",
        col("n_hit").cast("double") / col("n_true").cast("double"))
  }

  /** MinHash near-duplicates: LSH candidates verified with exact shingle
    * Jaccard ≥ threshold.
    *
    * Scale design: exact-equal texts (the dominant duplicate class in web
    * corpora) are collapsed to one representative by content hash BEFORE
    * the LSH/verify machinery runs — signatures, banding and the verify
    * joins all touch distinct texts only. Each representative is ONE
    * pinned row (id, signature, shingle-hash array); banding reads the
    * signature and the verify joins each candidate pair to its two rows
    * and intersects the arrays. Pairs are then expanded back: within-group
    * pairs are Jaccard 1.0 by construction; cross-group pairs inherit
    * their representatives' Jaccard. */
  def minhashNearDuplicates(docs: DataFrame, threshold: Double = 0.7, k: Int = 3,
                            numHashes: Int = 64, bands: Int = 16,
                            baseHash: Column => Column = xxHash,
                            textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    minhashNearDupPairs(docs, threshold, k, numHashes, bands, baseHash,
      textCol, idCol).orderBy("a", "b")

  /** [[minhashNearDuplicates]] WITHOUT the presentation sort — the form
    * the clustering consumers read: they feed the pair list straight
    * into a checkpoint/aggregate, and a global sort of the pair list
    * would execute inside that pin for nothing (the graded pair query
    * adds its own orderBy).
    *
    * Construction pins two frames: the content-hash groups and ONE
    * (id, sig, sh_h) row per representative ([[signatureRows]]). No
    * shingle becomes a row, so the shuffles after the pins carry band
    * keys, pair ids and per-document hash arrays — never shingle rows. */
  private[graft] def minhashNearDupPairs(docs: DataFrame, threshold: Double, k: Int,
                            numHashes: Int, bands: Int,
                            baseHash: Column => Column,
                            textCol: String, idCol: String): DataFrame = {
    // `groups` feeds FOUR consumers (rep semi-join, the a/b pair
    // expansions, the within-group pairs) — materialize it once or each
    // re-runs the corpus-wide sha2 groupBy (measured ~0.7s of the
    // pipeline_clean_corpus residual at sf0.1). pinCheckpoint picks the
    // strategy: local blocks by default, a reliable checkpoint under
    // spark.graft.checkpointDir on a cluster (Checkpoints.pin).
    val groups = docs.groupBy(sha2(col(textCol), 256).as("__h"))
      .agg(sort_array(collect_list(col(idCol))).as("ids"), min(col(idCol)).as("rep"))
      .select("ids", "rep")
      .pinCheckpoint()
    val reps = docs.join(groups.select(col("rep").as(idCol)), Seq(idCol), "left_semi")
    // one row per rep feeds BOTH the banding chain and the exact-Jaccard
    // verify — materialize it once (also flattens the lineage the
    // clustering loop above this op iterates over)
    val rows = signatureRows(reps, k, numHashes, baseHash, textCol, idCol).pinCheckpoint()
    val cands = candidatesFromSignatures(rows, bands, idCol)
    val repPairs = jaccardOfPairs(cands, rows, idCol)
      .filter(col("jaccard") >= threshold)
    // No broadcast hint: `groups` is one row per DISTINCT text — near
    // corpus-sized for a mostly-unique web corpus, far past the 8 GB hard
    // broadcast limit at 100 TB (an explicit broadcast() hint is honored
    // regardless of autoBroadcastJoinThreshold and fails the job, it does
    // not fall back). The join keys are fixed-width rep ids; Catalyst/AQE
    // picks broadcast on its own whenever the stats say `groups` is small.
    val repIds = groups
    val cross = repPairs
      .join(repIds.select(col("rep").as("a"), col("ids").as("ids_a")), "a")
      .join(repIds.select(col("rep").as("b"), col("ids").as("ids_b")), "b")
      .select(explode(col("ids_a")).as("x"), col("ids_b"), col("jaccard"))
      .select(col("x"), explode(col("ids_b")).as("y"), col("jaccard"))
      .select(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"), col("jaccard"))
    val same = groups.filter(size(col("ids")) > 1)
      .select(explode(pairsOfSorted(col("ids"))).as("p"), lit(1.0d).as("jaccard"))
      .select(col("p.a").as("a"), col("p.b").as("b"), col("jaccard"))
    same.unionByName(cross)
  }

  /** Connected components over an undirected pair list by iterative
    * min-label propagation WITH adaptive pointer jumping: every round
    * relaxes over edges (neighbor min); from round 3 on, a surviving
    * frontier additionally compresses one level (label ← label[label]),
    * so the reachable-min horizon roughly doubles per round and deep
    * chains converge in 2 + O(log diameter) rounds instead of
    * O(diameter). The first two rounds stay plain because the common
    * near-dup shape — stars around an exact-dup nucleus — converges
    * there already, and a jump is an extra self-join those graphs would
    * pay for nothing (measured: always-jumping cut the deep-chain
    * embedding fixture 6→4 rounds but added ~20% to the shallow minhash
    * composites). Profiling showed the per-round fixed cost (one
    * checkpoint + one convergence count, a full barrier on a cluster)
    * dominates, so round count is the lever that matters at every scale.
    *
    * `maxIter` is a safety valve, not a tuning knob: the declared contract
    * (and the WITH RECURSIVE oracle) is the exact fixpoint, so the default
    * comfortably exceeds any plausible near-dup component diameter — a
    * paraphrase chain deeper than 100 hops means the threshold, not the
    * iteration cap, is wrong. Non-convergence still warns. */
  def clusterPairs(nodes: DataFrame, pairs: DataFrame,
                   idCol: String = "doc_id", maxIter: Int = 100,
                   smallGraphCap: Long = 1000000L): DataFrame = {
    // materialize the pair list once and truncate its (potentially huge)
    // minhash lineage — iterative plans over cached-but-deep lineage are a
    // classic Spark trap (cache lookup misses re-run the whole pipeline
    // per round). pinCheckpoint picks local blocks by
    // default or a reliable checkpoint under spark.graft.checkpointDir
    // on a cluster (Checkpoints.pin).
    val p = pairs.select(col("a"), col("b")).pinCheckpoint()
    // Small-graph fast path: a post-LSH near-dup pair list is usually
    // TINY relative to the corpus (hundreds of pairs at sf0.1; the graded
    // composites each paid 3 shuffle joins + a checkpoint + a count PER
    // ROUND for it). Below the cap — an explicitly bounded driver
    // collect, ≤ ~48 MB of long pairs at the default — run union-find
    // with path compression on the driver and broadcast the labels back;
    // the result is the identical min-label fixpoint. Above the cap the
    // distributed propagation below is unchanged (the 100 TB path; spec
    // coverage forces it with smallGraphCap = 0).
    if (p.count() <= smallGraphCap) {
      val spark = nodes.sparkSession
      import spark.implicits._
      val edgePairs = p.as[(Long, Long)].collect()
      org.apache.spark.sql.graft.bridge.freeCheckpoint(p)
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x0: Long): Long = {
        var x = x0
        while (parent.getOrElse(x, x) != x) x = parent.getOrElse(x, x)
        var y = x0 // path compression
        while (parent.getOrElse(y, y) != y) { val n = parent(y); parent(y) = x; y = n }
        x
      }
      // invariant: a root is always the min id of its set, so find(x) IS
      // the component's min label — the same fixpoint the loop computes
      edgePairs.foreach { case (a, b) =>
        val ra = find(a); val rb = find(b)
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
      val labels = parent.keysIterator.map(k => (k, find(k))).toSeq
      return nodes.select(col(idCol))
        .join(broadcast(labels.toDF(idCol, "cluster_id")), Seq(idCol), "left")
        .select(col(idCol), coalesce(col("cluster_id"), col(idCol)).as("cluster_id"))
    }
    val edges = p.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(p.select(col("b").as("src"), col("a").as("dst")))
    // propagation only touches edge-incident nodes; everything else is
    // trivially its own singleton cluster and joins back at the end
    var labels = edges.select(col("src").as(idCol)).distinct()
      .select(col(idCol), col(idCol).as("cluster_id")).pinCheckpoint()
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val neighborMin = edges
        .join(labels.select(col(idCol).as("dst"), col("cluster_id").as("nl")), "dst")
        .groupBy(col("src").as(idCol)).agg(min(col("nl")).as("nmin"))
      val relaxed = labels.join(neighborMin, Seq(idCol), "left")
        .select(col(idCol), col("cluster_id").as("old"),
          least(col("cluster_id"), coalesce(col("nmin"), col("cluster_id")))
            .as("mid"))
      // pointer jumping (round 3+): follow the relaxed label one more hop
      // through the PREVIOUS round's checkpointed labels (labels are node
      // ids, so label-of-label is a lookup; using the materialized frame
      // keeps the lookup side a cheap checkpoint scan — a self-join on
      // the uncached `relaxed` would re-execute the relaxation join
      // twice). labels_prev[x] ≤ x for every node (initialized to own id,
      // monotone non-increasing), reachability is transitive, and labels
      // are bounded by the component min, so the hop never overshoots the
      // fixpoint and deep chains still collapse geometrically — one round
      // behind the self-compressed form. The left join + coalesce keeps
      // nodes whose label already is a component min. The previous label
      // rides along through the checkpoint so the convergence check is a
      // filter over materialized rows, not another join.
      val jumped = if (iter < 2) relaxed.withColumnRenamed("mid", "cluster_id") else {
        val lookup = labels.select(col(idCol).as("__hop_id"), col("cluster_id").as("__hop"))
        relaxed.join(lookup, col("mid") === col("__hop_id"), "left")
          .select(col(idCol), col("old"),
            coalesce(col("__hop"), col("mid")).as("cluster_id"))
      }
      val next = jumped.pinCheckpoint()
      changed = next.filter(col("cluster_id") =!= col("old")).count()
      // free the superseded generation's blocks now that `next` is
      // materialized: live storage stays O(1) label generations instead
      // of O(rounds). Dataset.unpersist cannot do this for checkpoints —
      // see bridge.freeCheckpoint. Measured effect (sf0.1): this closed
      // the ~1.3s in-suite-vs-standalone penalty the r6 profiling found
      // on dedup_embedding — in-suite 4.47s before, 2.96s after, equal
      // to the 2.9s standalone floor (block-manager pressure from prior
      // queries' unfreed generations was the cause).
      org.apache.spark.sql.graft.bridge.freeCheckpoint(labels)
      labels = next.select(col(idCol), col("cluster_id"))
      iter += 1
    }
    if (changed > 0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"clusterPairs did not converge in $maxIter rounds ($changed labels still " +
          "moving) — components wider than maxIter hops are split; raise maxIter")
    nodes.select(col(idCol))
      .join(labels, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("cluster_id"), col(idCol)).as("cluster_id"))
  }

  /** Near-dup clustering end-to-end: MinHash+LSH pairs → transitive
    * clusters → (doc_id, cluster_id), cluster_id = min doc id of the
    * component. Exact duplicates land in the same cluster via their
    * Jaccard-1.0 pairs. */
  def nearDupClusters(docs: DataFrame, threshold: Double = 0.7,
                      baseHash: Column => Column = xxHash,
                      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val pairs = minhashNearDupPairs(docs, threshold, 3, 64, 16, baseHash,
        textCol, idCol)
      .select("a", "b")
    clusterPairs(docs.select(col(idCol)), pairs, idCol).orderBy(idCol)
  }

  /** Embedding-cosine near-duplicate clustering — the semantic-dedup
    * family member: two documents are near-dups when their embeddings'
    * cosine is at or above `threshold`, regardless of surface text.
    * Exact thresholded pairs come from IVF cell-pair pruning (never an
    * all-pairs crossJoin — [[Similarity.cosineNearDupPairs]]), then the
    * same transitive min-label components as the MinHash path. Every
    * vector gets a cluster_id (zero-norm vectors have no direction, pair
    * with nothing, and stay singletons). Dedup decision = keep the min id
    * per cluster, exactly like [[nearDupKeepIds]]. */
  def embeddingNearDupClusters(embeddings: DataFrame, threshold: Double, nlist: Int = 16,
                               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val pairs = Similarity.cosineNearDupPairs(embeddings, threshold, nlist, idCol, vecCol)
      .select("a", "b")
    clusterPairs(embeddings.select(col(idCol)), pairs, idCol).orderBy(idCol)
  }

  /** The dedup decision: one retained id per near-dup cluster. */
  def nearDupKeepIds(docs: DataFrame, threshold: Double = 0.7,
                     baseHash: Column => Column = xxHash,
                     textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    nearDupClusters(docs, threshold, baseHash, textCol, idCol)
      .groupBy("cluster_id").agg(min(col(idCol)).as(idCol))
      .select(idCol).orderBy(idCol)

  /** Exact Jaccard for given (a, b) pairs: two equi-joins of the pairs
    * against one row per document carrying `sh_h`, the array of its
    * distinct shingles' xxhash64 (the form [[minhashNearDupPairs]] pins),
    * then |A∩B| = size(array_intersect) and |A∪B| = |A| + |B| − |A∩B| per
    * pair row. Shingles are compared by 64-bit hash, not string (collision
    * odds ~n²/2^64); only the pairs and the hash arrays cross a shuffle.
    * Pairs whose ids have no row are dropped. */
  def jaccardOfPairs(pairs: DataFrame, shingleHashes: DataFrame,
                     idCol: String = "doc_id"): DataFrame =
    verifyPairs(pairs, "a", shingleHashes, "b", shingleHashes, idCol)
      .select("a", "b", "jaccard")

  /** (left, right, inter, s_left, s_right, jaccard) for each pair of
    * `pairs`, with each side's `sh_h` array joined from its own table. */
  private def verifyPairs(pairs: DataFrame, left: String, leftHashes: DataFrame,
                          right: String, rightHashes: DataFrame,
                          idCol: String): DataFrame =
    pairs
      .join(leftHashes.select(col(idCol).as(left), col("sh_h").as("__hl")), left)
      .join(rightHashes.select(col(idCol).as(right), col("sh_h").as("__hr")), right)
      .select(col(left), col(right),
        size(array_intersect(col("__hl"), col("__hr"))).cast("long").as("inter"),
        size(col("__hl")).cast("long").as(s"s_$left"),
        size(col("__hr")).cast("long").as(s"s_$right"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col(s"s_$left") + col(s"s_$right") - col("inter")))

  // ------------------------------------------------------------------
  // exact n-gram Jaccard (no approximation; inverted shingle join)

  /** All-pairs exact n-gram Jaccard via the shingle inverted index: only
    * docs that SHARE a shingle ever meet (equi-join), so cost scales with
    * co-occurrence, not n². `maxDf` drops ultra-common shingles (stopword
    * shingles), which is both a quality and a skew guard at scale.
    *
    * DECISION (hot-shingle semantics): with `maxDf` set, scores are
    * defined over the FILTERED shingle universe — pairs sharing ONLY
    * dropped shingles never meet, and surviving pairs' Jaccard counts
    * exclude the dropped shingles from both intersection and union. This
    * dropping is INTENDED, not a workaround. The alternative — keeping
    * hot shingles exact by routing them through a salted two-path join
    * (the [[graft.rel.SkewJoin]] machinery, as `q_skew_join` does) — was
    * considered and rejected: salting fixes PARTITION skew, but a shingle
    * with document frequency df emits ~df²/2 candidate pairs in the
    * OUTPUT no matter how the join is partitioned. At corpus scale a
    * boilerplate shingle with df=10⁸ yields ~10¹⁶ pairs — the quadratic
    * blow-up is in the result set itself, so no join strategy makes
    * `maxDf=∞` affordable, and the pairs it would add are exactly the
    * zero-signal ones (sharing boilerplate is not evidence of
    * duplication). Production web-corpus dedup pipelines drop hot
    * shingles for the same combined cost/quality reason. The default
    * remains `maxDf=∞` (fully exact) so small/clean corpora — and the
    * DuckDB oracle — pay no semantic surprise; corpus-scale callers set
    * `maxDf`. DedupSpec pins both behaviors on a planted hot-shingle
    * fixture. [[containmentPairs]] shares these semantics. */
  def ngramJaccardPairs(docs: DataFrame, k: Int = 3, maxDf: Long = Long.MaxValue,
                        textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val sh = shingleRows(docs, k, textCol, idCol)
      .select(col(idCol), xxhash64(col("shingle")).as("sh_h"))
    val filtered = if (maxDf == Long.MaxValue) sh else {
      // NOT broadcast: the kept-shingle set is nearly the full vocabulary
      // (only hot shingles are dropped) — let AQE pick the join strategy
      val df = sh.groupBy("sh_h").agg(count(lit(1)).as("df"))
      sh.join(df.filter(col("df") <= maxDf), "sh_h").select(col(idCol), col("sh_h"))
    }
    val sizes = filtered.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val a = filtered.select(col(idCol).as("a"), col("sh_h"))
    val b = filtered.select(col(idCol).as("b"), col("sh_h"))
    a.join(b, "sh_h").filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
      .join(sizes.select(col(idCol).as("a"), col("sz").as("sa")), "a")
      .join(sizes.select(col(idCol).as("b"), col("sz").as("sb")), "b")
      .select(col("a"), col("b"), col("inter"), col("sa"), col("sb"),
        (col("inter").cast("double") / (col("sa") + col("sb") - col("inter")))
          .as("jaccard"))
  }

  /** Exact threshold Jaccard pairs via PREFIX FILTERING (the PPJoin
    * family: Chaudhuri et al. ICDE'06, Bayardo et al. WWW'07): identical
    * output to `ngramJaccardPairs(...).filter(jaccard >= t)`, but the
    * candidate join indexes only each document's PREFIX — its
    * `sz - ceil(t·sz) + 1` rarest shingles under a global (df, hash)
    * order — instead of every shingle.
    *
    * Why this is exact: order all shingles globally; let m = the smallest
    * shared shingle of a pair with J ≥ t. If m were outside A's prefix,
    * the whole intersection would fit in A's suffix of size ceil(t·|A|)−1,
    * but J ≥ t forces |A∩B| ≥ ceil(t·|A|) — contradiction. Same for B. So
    * every qualifying pair meets in the prefix-index equi-join, and the
    * verify stage (exact intersection count over the FULL shingle sets)
    * removes false candidates. Both float dials are relaxed by 1e-9
    * toward MORE candidates, so float rounding can only cost pruning,
    * never a pair.
    *
    * Scale: candidate generation cost is driven by prefix co-occurrence —
    * rarest-first ordering puts high-df (boilerplate) shingles at the
    * END of each document's ordering, so they rarely enter any prefix
    * and contribute ~0 candidate pairs (vs df²/2 in the full inverted
    * join). The per-doc ordering is one aggregation (sort_array over the
    * doc's own shingles — bounded by document length, no window over the
    * corpus); a size-ratio filter (J ≥ t ⇒ min·sz ≥ t·max·sz) prunes
    * before the verify join. `maxDf` composes as in [[ngramJaccardPairs]]
    * with identical dropped-shingle semantics.
    *
    * MEASURED regime boundary (sf0.1): on the
    * benign synthetic corpus the naive inverted join is NOT
    * co-occurrence-bound, and it counts intersections inline while this
    * operator pays a separate candidate-restricted verify join — naive
    * wins there (2.0s vs 2.3s at t=0.8; 1.9s vs 8.4s at t=0.3, where the
    * prefix keeps ~70% of the index and prunes nothing). On a
    * boilerplate-heavy corpus — every doc sharing a hot template tail,
    * the web-corpus norm — the ranking inverts at only 2k docs: prefix
    * 1.1s vs naive 4.6s, and the gap grows as df² since each hot shingle
    * emits ~df²/2 naive candidates but never enters a prefix. Use this
    * operator for high thresholds over boilerplate-contaminated corpora
    * (or any corpus where `maxDf` would be unacceptable because dropped
    * shingles must still count toward scores); use the plain inverted
    * join for low thresholds on clean corpora. */
  def prefixJaccardPairs(docs: DataFrame, threshold: Double, k: Int = 3,
                         maxDf: Long = Long.MaxValue,
                         textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold in (0,1], got $threshold")
    val sh = shingleRows(docs, k, textCol, idCol)
      .select(col(idCol), xxhash64(col("shingle")).as("sh_h"))
    val filtered = (if (maxDf == Long.MaxValue) sh else {
      val df = sh.groupBy("sh_h").agg(count(lit(1)).as("df"))
      sh.join(df.filter(col("df") <= maxDf), "sh_h").select(col(idCol), col("sh_h"))
    }).pinCheckpoint() // feeds ordering, prefixes, AND verify — compute once
    val dfs = filtered.groupBy("sh_h").agg(count(lit(1)).as("df"))
    // per-doc rarest-first ordering; prefix length relaxed by 1e-9 so a
    // float ceil landing one above the true rational can only ADD a slot
    val prefixes = filtered.join(dfs, "sh_h")
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("df"), col("sh_h")))).as("ordered"))
      .withColumn("sz", size(col("ordered")))
      .withColumn("plen",
        (col("sz") - ceil(lit(threshold) * col("sz") - lit(1e-9)) + 1).cast("int"))
      .select(col(idCol), col("sz"), explode(slice(col("ordered"), lit(1), col("plen"))).as("p"))
      .select(col(idCol), col("sz"), col("p.sh_h").as("sh_h"))
    val cands = prefixes.select(col(idCol).as("a"), col("sz").as("sa"), col("sh_h"))
      .join(prefixes.select(col(idCol).as("b"), col("sz").as("sb"), col("sh_h")), "sh_h")
      .filter(col("a") < col("b") &&
        least(col("sa"), col("sb")).cast("double") >=
          lit(threshold) * greatest(col("sa"), col("sb")) - lit(1e-9))
      .select("a", "b", "sa", "sb").distinct()
    val ha = filtered.select(col(idCol).as("a"), col("sh_h"))
    val hb = filtered.select(col(idCol).as("b"), col("sh_h"))
    cands.join(ha, "a").join(hb, Seq("b", "sh_h"))
      .groupBy("a", "b", "sa", "sb").agg(count(lit(1)).as("inter"))
      .select(col("a"), col("b"), col("inter"), col("sa"), col("sb"),
        (col("inter").cast("double") / (col("sa") + col("sb") - col("inter")))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Cross-corpus near-duplicate detection: which batch documents
    * near-duplicate ANY corpus document — the fuzzy form of incremental
    * ingest dedup (and of test-set decontamination when `corpus` is the
    * benchmark suite). Exact membership ([[Incremental]]) misses
    * paraphrases and near-copies; this catches them at the MinHash
    * threshold.
    *
    * Scale shape: signatures/bands are per-document, so each side
    * computes them independently (the corpus side is computed ONCE and
    * persisted in a real deployment — only the batch side is new work per
    * ingest); the sides meet in an equi-join on (band, band_hash), so
    * cost scales with bucket co-occupancy across the sides, never
    * |corpus|·|batch|. Each side is one pinned row per document (id,
    * signature, shingle-hash array); the exact-Jaccard verify joins each
    * candidate pair to its two rows and intersects the hash arrays —
    * document text never crosses the shuffle. Compose
    * [[exactKeepIds]] in front when the batch is internally duplicated. */
  def crossCorpusNearDups(corpus: DataFrame, batch: DataFrame, threshold: Double = 0.7,
                          k: Int = 3, numHashes: Int = 64, bands: Int = 16,
                          baseHash: Column => Column = xxHash,
                          textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // each side's rows feed both the banding chain and the verify join
    // — materialize once per side
    val rowsC = signatureRows(corpus, k, numHashes, baseHash, textCol, idCol).pinCheckpoint()
    val rowsB = signatureRows(batch, k, numHashes, baseHash, textCol, idCol).pinCheckpoint()
    def bandSide(rows: DataFrame, out: String) =
      lshBands(rows, bands, idCol).select(col("band"), col("band_hash"), col(idCol).as(out))
    val cands = bandSide(rowsC, "corpus_id")
      .join(bandSide(rowsB, "batch_id"), Seq("band", "band_hash"))
      .select("corpus_id", "batch_id").distinct()
    verifyPairs(cands, "corpus_id", rowsC, "batch_id", rowsB, idCol)
      .select(col("corpus_id"), col("batch_id"), col("inter"),
        col("s_corpus_id").as("s_corpus"), col("s_batch_id").as("s_batch"), col("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy("corpus_id", "batch_id")
  }

  /** Directed shingle containment C(src→dst) = |S(src)∩S(dst)| / |S(src)|
    * over distinct k-shingles — the asymmetric near-dup signal. Symmetric
    * Jaccard dilutes a short document quoted inside a long one (the
    * intersection is tiny next to the union); containment of the SHORT
    * side stays near 1.0, which is exactly the boilerplate/quotation/
    * excerpt case a corpus cleaner wants to catch.
    *
    * Same scale shape as [[ngramJaccardPairs]]: the inverted shingle
    * index equi-joins only documents that share a shingle (never n²),
    * `maxDf` guards hot boilerplate shingles, and each co-occurring pair
    * is scored once then emitted in both directions. */
  def containmentPairs(docs: DataFrame, k: Int = 3, threshold: Double = 0.5,
                       maxDf: Long = Long.MaxValue,
                       textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val sh = shingleRows(docs, k, textCol, idCol)
      .select(col(idCol), xxhash64(col("shingle")).as("sh_h"))
    val filtered = if (maxDf == Long.MaxValue) sh else {
      val df = sh.groupBy("sh_h").agg(count(lit(1)).as("df"))
      sh.join(df.filter(col("df") <= maxDf), "sh_h").select(col(idCol), col("sh_h"))
    }
    val sizes = filtered.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val a = filtered.select(col(idCol).as("a"), col("sh_h"))
    val b = filtered.select(col(idCol).as("b"), col("sh_h"))
    val inter = a.join(b, "sh_h").filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
    val directed = inter
      .select(col("a").as("src"), col("b").as("dst"), col("inter"))
      .unionByName(inter.select(col("b").as("src"), col("a").as("dst"), col("inter")))
    directed
      .join(sizes.select(col(idCol).as("src"), col("sz").as("s_src")), "src")
      .select(col("src"), col("dst"), col("inter"), col("s_src"),
        (col("inter").cast("double") / col("s_src")).as("containment"))
      .filter(col("containment") >= threshold)
      .orderBy("src", "dst")
  }

  // ------------------------------------------------------------------
  // SimHash

  /** Per-document SimHash over token hashes: bit i of the fingerprint is
    * the sign of Σ_tokens (±1 by bit i of the token hash). One aggregation
    * with `numBits` partial sums — map-side combinable. */
  def simhash(docs: DataFrame, numBits: Int = 30,
              baseHash: Column => Column = xxHash,
              textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val tok = docs.select(col(idCol),
      explode(Tokenize.tokensArray(col(textCol))).as("word"))
      .withColumn("bh", pmod(baseHash(col("word")), lit(P)))
    val bitSums = (0 until numBits).map { i =>
      sum(when(shiftrightunsigned(col("bh"), i).bitwiseAND(1) === 1, 1L).otherwise(-1L))
        .as(s"s$i")
    }
    tok.groupBy(col(idCol))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col(idCol),
        (0 until numBits).map(i =>
          when(col(s"s$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L)))
          .reduce(_.bitwiseOR(_)).as("simhash"))
      .orderBy(col(idCol))
  }

  /** All (a, b) pairs of a sorted id array (a < b), as structs. */
  private def pairsOfSorted(ids: Column): Column =
    flatten(transform(sequence(lit(0), size(ids) - 2), i =>
      transform(slice(ids, i + 2, size(ids)),
        x => struct(element_at(ids, i + 1).as("a"), x.as("b")))))

  /** Near-dup pairs by SimHash Hamming distance ≤ maxDist using the
    * pigeonhole block join: split the fingerprint into maxDist+1 blocks —
    * any pair within distance maxDist agrees exactly on ≥1 block.
    *
    * Scale design: the join runs over DISTINCT fingerprints (exact-equal
    * docs — the common near-dup case — collapse to one row first), and
    * doc-level pairs are expanded afterwards from the per-fingerprint id
    * lists. Identical corpora of n copies cost one n-row list, not an
    * n²-row join. */
  def simhashPairs(docs: DataFrame, numBits: Int = 48, maxDist: Int = 3,
                   baseHash: Column => Column = xxHash,
                   textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val blocks = maxDist + 1
    val blockBits = numBits / blocks
    val fps = simhash(docs, numBits, baseHash, textCol, idCol)
      .groupBy("simhash").agg(sort_array(collect_list(col(idCol))).as("ids"))
    // Hamming-0: pairs inside one fingerprint group
    val same = fps.filter(size(col("ids")) > 1)
      .select(explode(pairsOfSorted(col("ids"))).as("p"), lit(0).as("hamming"))
      .select(col("p.a").as("a"), col("p.b").as("b"), col("hamming"))
    // Hamming 1..maxDist: block join over distinct fingerprints only
    val blocked = fps.select(col("simhash"), col("ids"),
      posexplode(array((0 until blocks).map(b =>
        shiftrightunsigned(col("simhash"), b * blockBits)
          .bitwiseAND((1L << blockBits) - 1)): _*)))
      .withColumnRenamed("pos", "block")
      .withColumnRenamed("col", "block_val")
    val l = blocked.select(col("block"), col("block_val"),
      col("simhash").as("sim_a"), col("ids").as("ids_a"))
    val r = blocked.select(col("block"), col("block_val"),
      col("simhash").as("sim_b"), col("ids").as("ids_b"))
    val cross = l.join(r, Seq("block", "block_val"))
      .filter(col("sim_a") < col("sim_b"))
      .select(col("sim_a"), col("sim_b"), col("ids_a"), col("ids_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      .filter(col("hamming") > 0 && col("hamming") <= maxDist)
      .distinct()
      .select(explode(col("ids_a")).as("x"), col("ids_b"), col("hamming"))
      .select(col("x"), explode(col("ids_b")).as("y"), col("hamming"))
      .select(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"), col("hamming"))
    same.unionByName(cross).orderBy("a", "b")
  }

  // ------------------------------------------------------------------
  // suffix-array exact-substring dedup (prefix doubling)
  // ------------------------------------------------------------------

  /** Order-preserving dense rank 1..K over the DISTINCT rows of `keys`,
    * sorted by `sortCols` — the per-round sort of the distributed
    * suffix-array construction. Two-phase so no global window ever
    * forms: range-repartition on the sort key, per-partition
    * `row_number`, then a broadcast of |partitions| offsets (the same
    * machinery as the vocabulary ranking / packSequences prefix sum). */
  private[graft] def orderedDenseRank(keys: DataFrame, sortCols: Seq[Column],
                                      rankCol: String,
                                      parts: Option[Int] = None): DataFrame = {
    val nParts = parts.getOrElse(math.max(2,
      keys.sparkSession.sessionState.conf.numShufflePartitions / 4))
    // PINNED: the per-partition ranked table used to feed THREE
    // consumers (a final join and both sides of an offsets self-join),
    // and without a pin the optimizer re-evaluated the whole
    // range-shuffle + window subtree once per consumer — measured: 3
    // full-table shuffles per call. The pin runs it ONCE; the offsets
    // are then ONE ≤|partitions|-row collect (driver-scale metadata,
    // the same class as the sketch level histograms) folded into a
    // literal map — no offsets self-join, no broadcast exchange, and
    // the result is a pure codegen projection over the pin. Callers
    // free the pin via `bridge.freeCheckpoint` once they are done with
    // the returned view.
    val local = keys.repartitionByRange(nParts, sortCols: _*)
      .withColumn("__pid", spark_partition_id())
      .withColumn("__lr", row_number().over(
        Window.partitionBy(col("__pid")).orderBy(sortCols: _*)))
      .pinCheckpoint()
    val sizes = local.groupBy(col("__pid")).agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offs: Map[Int, Long] = (0 until nParts).scanLeft(0L) {
      case (acc, pid) => acc + sizes.getOrElse(pid, 0L)
    }.zipWithIndex.map { case (off, pid) => pid -> off }.toMap
    // ONE literal map node (a when-chain here would re-grow the plan
    // linearly in the cluster's partition count)
    local
      .withColumn(rankCol,
        element_at(typedLit(offs), col("__pid")) + col("__lr"))
      .drop("__pid", "__lr")
  }

  /** Run `body` with subset-key co-partitioning enabled for joins
    * (`requireAllClusterKeysForCoPartition=false` — the pre-3.3 planner
    * behavior): the ladder's self-join keys are (id, pos±h), and only
    * the id-subset hash can co-locate both sides, so under the default
    * the pinned HashPartitioning(id) would be ignored and every round
    * would re-shuffle both sides anyway. Scoped set-and-restore; every
    * ladder generation materializes (checkpoint) inside the scope, so
    * nothing outside planning is affected. */
  private def withSubsetCoPartition[T](spark: org.apache.spark.sql.SparkSession)
                                      (body: => T): T = {
    val key = "spark.sql.requireAllClusterKeysForCoPartition"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Partition count for the ladder's pinned co-partitioning, derived
    * from the INPUT's optimizer size estimate (a driver-side stats read,
    * no job): one partition per ~4 MB of source text (the token frame
    * expands ~50×), capped at the session's shuffle parallelism. A
    * fixed repartition count can't AQE-coalesce, so a constant here
    * would pin 32 near-empty tasks onto every ladder stage at bench
    * scale while a constant tuned for local mode would starve a
    * cluster — the estimate scales with the data and the conf stays
    * the cluster-side ceiling. */
  private def ladderParts(input: DataFrame): Int = {
    val spark = input.sparkSession
    val conf = spark.sessionState.conf
    val bytes = input.queryExecution.optimizedPlan.stats.sizeInBytes
    // floor: EVERY core — the ladder's per-round work is CPU-bound row
    // crunching over the pinned partitions, and because the rounds
    // consume the pinned layout with zero exchanges there is no AQE
    // coalescing to re-spread a too-small count (an 8-partition ladder
    // on a 32-core driver measured ~25% slower than the shuffled form);
    // ceiling: the session's shuffle parallelism — the cluster-side
    // knob — so a conf'd 2000-partition cluster job is honored.
    val floor = math.max(2, spark.sparkContext.defaultParallelism)
    val ceil = math.max(floor, conf.numShufflePartitions)
    val byBytes = (bytes / (4L << 20) + 1)
      .max(BigInt(floor)).min(BigInt(ceil))
    byBytes.max(BigInt(1)).toInt
  }

  /** Re-establish the ladder's document co-partitioning (+ the (id, pos)
    * in-partition order) before a checkpoint. `Checkpoints.pin`
    * preserves `outputPartitioning`/`outputOrdering` in the resulting
    * `LogicalRDD` (via `bridge.checkpointKeepLayout`), so every
    * subsequent (id, pos±h) self-join plans with ZERO Exchange:
    * HashPartitioning(id) satisfies the join's clustering on (id, pos) —
    * the subset-key co-partition rule — and both sides of the self-join
    * carry the same spec (and the join's sort is already satisfied by
    * the pinned (id, pos) order). At 100 TB this is the difference
    * between re-shuffling the whole token table twice per doubling round
    * and shuffling it once at ladder entry. The FALLBACK path only: the
    * common case re-keys nothing — see [[smallRanks]]. */
  private def docPartitioned(df: DataFrame, idCol: String, nParts: Int): DataFrame =
    df.repartition(nParts, col(idCol)).sortWithinPartitions(col(idCol), col("pos"))

  /** The ladder's token frame with the ladder layout: the doc
    * co-partitioning is established on the RAW docs frame — the cheapest
    * place, raw text being several times narrower than the exploded
    * token rows — and posexplode/projections PRESERVE partitioning, so
    * the token frame lands hash(id)-keyed without ever shuffling the
    * expanded rows. Deliberately NOT checkpointed: its two consumers
    * (the vocabulary distinct and the rank join) re-run the tokenizer,
    * which measures cheaper than materializing the expanded frame —
    * tokenization is a streaming codegen projection, the checkpoint is
    * a full extra write+read of the widest table in the ladder. */
  private def ladderToks(docs: DataFrame, textCol: String, idCol: String,
                         nParts: Int): DataFrame =
    docs.repartition(nParts, col(idCol))
      .select(col(idCol), Tokenize.tokensArray(col(textCol)).as("__toks"))
      .select(col(idCol), size(col("__toks")).cast("long").as("n_toks"),
        posexplode(col("__toks")).as(Seq("pos", "__tok")))
      .select(col(idCol), col("pos").cast("long").as("pos"),
        col("n_toks"), col("__tok"))

  /** Pin a rank-mapping table (vocabulary ranks, densify class map) and
    * measure its TRUE size: (pinned frame, row count). The count is a
    * cheap job over the materialized checkpoint blocks, and it replaces
    * Catalyst's estimate for the broadcast decision below — a distinct
    * aggregate's sizeInBytes estimate is its CHILD's size (the whole
    * token frame), so stats-driven planning would never broadcast a
    * class map that is actually a few MB. Guide §3.1: when the estimate
    * is known-wrong and the true size is knowable, decide explicitly. */
  private def pinnedRanks(df: DataFrame): (DataFrame, Long) = {
    // orderedDenseRank already returns a pure projection over its own
    // pinned pass — measure THAT checkpoint instead of materializing a
    // second copy; re-pin only frames that are not checkpoint views
    org.apache.spark.sql.graft.bridge.pinnedSizeBytes(df) match {
      case Some(bytes) => (df, bytes)
      case None =>
        val pinned = df.pinCheckpoint()
        org.apache.spark.sql.graft.bridge.freeCheckpoint(df)
        val bytes = org.apache.spark.sql.graft.bridge.pinnedSizeBytes(pinned)
          .getOrElse(pinned.count() * 32L) // reliable-checkpoint fallback
        (pinned, bytes)
    }
  }

  /** Whether a pinned rank table of measured `bytes` is worth
    * broadcasting: true materialized size against the session's
    * broadcast threshold. A broadcast class-map join PRESERVES the
    * streamed side's pinned doc partitioning and (id, pos) order, so
    * the densified generation re-keys NOTHING; past the threshold the
    * join shuffles by the class key and ONE `docPartitioned` re-key
    * restores the invariant (still cheaper than the two shuffles the
    * next round would otherwise pay). Threshold ≤ 0 (broadcast
    * disabled) always re-keys. */
  private def smallRanks(bytes: Long, df: DataFrame): Boolean = {
    val threshold = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    // ×3: `bytes` is the DESERIALIZED block-manager footprint, while the
    // threshold semantically bounds the packed/compressed relation AQE
    // compares shuffle bytes against (measured ~3× smaller on the
    // 3-long class rows) — without the calibration the fallback re-keys
    // tables AQE itself would broadcast at runtime
    threshold > 0 && bytes <= threshold * 3
  }

  /** One prefix-doubling combine round: re-rank every position by the
    * pair (rank(p), rank(p+offset)). Two strategies, chosen per round:
    *  - NUMERIC (free): when the incoming ranks are dense with K
    *    classes and K(K+2) fits a long (K < 3 037 000 498 — comfortably
    *    beyond any realistic class count, but checked, so a
    *    trillion-token corpus falls back to the exact path instead of
    *    overflowing), the combined rank is the order-preserving product
    *    r1·(K+1)+r2 — a projection, ZERO extra shuffles. The output is
    *    order- and equality-correct but not dense, so the NEXT round
    *    must densify.
    *  - DENSIFY: distinct pairs + the two-phase range rank — the full
    *    sort, restoring density (and the per-round class count).
    * Alternating halves the expensive sorts of the ladder: the classic
    * suffix-array radix trick, expressed relationally. Returns the
    * checkpointed frame plus Some(classCount) iff the output is dense.
    * The caller owns freeing superseded generations. */
  private def combineRanks(ranked: DataFrame, offset: Long, idCol: String,
                           denseClasses: Option[Long],
                           forceDense: Boolean, nParts: Int): (DataFrame, Option[Long]) = {
    val right = ranked.select(col(idCol).as("__id2"),
      (col("pos") - offset).as("__p2"), col("rank").as("__r2"))
    // merge-hinted: the two sides are the SAME pinned generation, so the
    // sort-merge join consumes the pinned HashPartitioning(id) and
    // (id, pos) order with zero Exchange and only a narrow right-side
    // sort — a stats-misled broadcast of the full token frame here would
    // be catastrophic at scale, so the strategy is pinned, not estimated
    val paired0 = ranked
      .join(right.hint("merge"),
        col(idCol) === col("__id2") && col("pos") === col("__p2"), "left")
      .select(col(idCol), col("pos"), col("n_toks"),
        col("rank").as("__r1"), coalesce(col("__r2"), lit(0L)).as("__r2"))
    denseClasses match {
      case Some(k) if !forceDense && k < 3037000498L =>
        val b = k + 1
        val next = paired0
          .select(col(idCol), col("pos"), col("n_toks"),
            (col("__r1") * b + col("__r2")).as("rank"))
          .pinCheckpoint()
        (next, None)
      case _ =>
        // paired feeds BOTH the class table and the final join — without
        // a checkpoint the live subtree doubles per round (2^rounds plan
        // copies by the last doubling)
        val paired = paired0.pinCheckpoint()
        val (classes, classBytes) = pinnedRanks(orderedDenseRank(
          paired.select(col("__r1"), col("__r2")).distinct(),
          Seq(col("__r1"), col("__r2")), "__nr"))
        // small class map: broadcast it — the streamed side KEEPS the
        // pinned doc partitioning and (id, pos) order, the generation
        // re-keys nothing. Large class map: the join shuffles by
        // (__r1, __r2), so one repartition restores the document
        // co-partitioning for the next round (see docPartitioned).
        val next = (if (smallRanks(classBytes, paired))
            paired.join(broadcast(classes), Seq("__r1", "__r2"))
              .select(col(idCol), col("pos"), col("n_toks"), col("__nr").as("rank"))
          else docPartitioned(
            paired.join(classes, Seq("__r1", "__r2"))
              .select(col(idCol), col("pos"), col("n_toks"), col("__nr").as("rank")),
            idCol, nParts))
          .pinCheckpoint()
        org.apache.spark.sql.graft.bridge.freeCheckpoint(paired)
        org.apache.spark.sql.graft.bridge.freeCheckpoint(classes)
        val k = next.agg(max(col("rank"))).head() match {
          case r if r.isNullAt(0) => 0L
          case r => r.getLong(0)
        }
        (next, Some(k))
    }
  }

  /** Token positions annotated with the lexicographic rank of their
    * `windowTokens`-token forward window, built by Manber–Myers prefix
    * doubling: rank_1 is the dense rank of the token itself, and
    * rank_2h(p) is the dense rank of the pair (rank_h(p), rank_h(p+h)),
    * doubling while 2h ≤ L; a non-power-of-two L finishes with the
    * classic OVERLAPPING combine (rank_h(p), rank_h(p+L−h)) — the two
    * h-windows cover [p, p+L) exactly, the overlap region is already
    * tie-broken by the first rank, so equality AND lexicographic order
    * hold for the true L-window, never the next power of two (a padded
    * tail must not split equal L-grams). ⌈log₂ L⌉ rounds, each a constant
    * number of LINEAR shuffles (one self-join on (doc, pos±h), one
    * distinct over pairs, one range-sort rank of the class table) —
    * the distributed suffix-array sort, never an n² stage and never a
    * global single-partition window. Suffixes do not cross document
    * boundaries: out-of-range positions rank 0, below every real rank,
    * exactly the sentinel of the classic construction.
    *
    * Returns (idCol, pos LONG, n_toks LONG, rank LONG): equal ranks ⇔
    * equal L-token windows (padding included for tail positions), and
    * rank order = lexicographic window order — SuffixDedupSpec pins
    * both properties.
    */
  def suffixWindowRanks(docs: DataFrame, windowTokens: Int,
                        textCol: String = "text",
                        idCol: String = "doc_id"): DataFrame = {
    require(windowTokens >= 2, s"windowTokens must be >= 2, got $windowTokens")
    withSubsetCoPartition(docs.sparkSession) {
    val nParts = ladderParts(docs)
    val toks = ladderToks(docs, textCol, idCol, nParts)
    val (vocabRanks, vocabBytes) = pinnedRanks(orderedDenseRank(
      toks.select(col("__tok")).distinct(), Seq(col("__tok")), "__r"))
    // Each round is CHECKPOINTED flat (same O(1)-generations rotation as
    // Graph.pageRank): `paired` feeds BOTH the class table and the final
    // join, so an unbroken lineage would double the live subtree every
    // round — 2^rounds plan copies by the last doubling. The superseded
    // checkpoints are freed once the round's result has materialized.
    var ranked = (if (smallRanks(vocabBytes, docs))
        toks.join(broadcast(vocabRanks), "__tok")
          .select(col(idCol), col("pos"), col("n_toks"), col("__r").as("rank"))
          .sortWithinPartitions(col(idCol), col("pos"))
      else docPartitioned(
        toks.join(vocabRanks, "__tok")
          .select(col(idCol), col("pos"), col("n_toks"), col("__r").as("rank")),
        idCol, nParts))
      .pinCheckpoint()
    org.apache.spark.sql.graft.bridge.freeCheckpoint(vocabRanks)
    var denseK: Option[Long] = Some(ranked.agg(max(col("rank"))).head() match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0)
    })
    var h = 1L
    while (h < windowTokens) {
      // covered-so-far is h; the next combine extends by step = min(h,
      // L−h): pure doubling until h > L/2, then ONE overlapping final
      // combine that lands exactly on L (the window [p, p+h) ∪
      // [p+step, p+step+h) = [p, p+L) when step = L−h ≤ h).
      // Rounds alternate numeric/densify (see combineRanks); the FINAL
      // round is forced dense — the declared output contract.
      val step = math.min(h, windowTokens - h)
      val (next, k) = combineRanks(ranked, step, idCol, denseK,
        forceDense = h + step >= windowTokens, nParts = nParts)
      org.apache.spark.sql.graft.bridge.freeCheckpoint(ranked)
      ranked = next
      denseK = k
      h += step
    }
    ranked
    }
  }

  /** FULL-suffix rank tables at every doubling level h = 1, 2, 4, …,
    * 2^⌈log₂ maxLen⌉ — the complete Manber–Myers ladder, retained
    * per level (each a checkpointed (id, pos, n_toks, rank) frame)
    * because exact-LCP computation descends it. The top level ranks
    * whole suffixes: equal top ranks ⇔ equal suffixes (sentinel
    * padding aligns only when the suffixes are identical), and rank
    * order is lexicographic with a shorter prefix first.
    *
    * Space shape: ⌈log₂ maxLen⌉ + 1 retained frames of |tokens| rows —
    * the classic O(n log n) suffix-array space, each frame a
    * distributed checkpoint, freed by the caller when the descent has
    * materialized. Returns (levels DESCENDING by h, max token count). */
  private[graft] def suffixLevelRanks(docs: DataFrame,
                                      textCol: String = "text",
                                      idCol: String = "doc_id")
      : (List[(Long, DataFrame)], Long) = withSubsetCoPartition(docs.sparkSession) {
    val nParts = ladderParts(docs)
    val toks = ladderToks(docs, textCol, idCol, nParts)
    val (vocabRanks, vocabBytes) = pinnedRanks(orderedDenseRank(
      toks.select(col("__tok")).distinct(), Seq(col("__tok")), "__r"))
    var ranked = (if (smallRanks(vocabBytes, docs))
        toks.join(broadcast(vocabRanks), "__tok")
          .select(col(idCol), col("pos"), col("n_toks"), col("__r").as("rank"))
          .sortWithinPartitions(col(idCol), col("pos"))
      else docPartitioned(
        toks.join(vocabRanks, "__tok")
          .select(col(idCol), col("pos"), col("n_toks"), col("__r").as("rank")),
        idCol, nParts))
      .pinCheckpoint()
    org.apache.spark.sql.graft.bridge.freeCheckpoint(vocabRanks)
    val maxLen = ranked.agg(max(col("n_toks"))).head() match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0)
    }
    var levels: List[(Long, DataFrame)] = List((1L, ranked))
    var h = 1L
    var denseK: Option[Long] = Some(ranked.agg(max(col("rank"))).head() match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0)
    })
    var lastDense = denseK.get
    var converged = false
    while (h < maxLen && !converged) {
      // levels are RETAINED (the LCP descent reads every one); rounds
      // alternate numeric/densify per combineRanks — numeric levels are
      // equality- and order-correct, all the descent needs
      val (next, k) = combineRanks(ranked, h, idCol, denseK,
        forceDense = false, nParts = nParts)
      ranked = next
      h *= 2
      levels = (h, next) :: levels
      // FIXPOINT early exit, checked on densified rounds: if the class
      // count did not grow since the previous densified level, no class
      // split anywhere in between (refinement with equal counts is
      // equality), so every surviving tie is an identical-suffix pair
      // and further rounds are provably no-ops. The descent's top-level
      // "equal ⇒ identical" credit relies on exactly this property.
      k.foreach { kk =>
        converged = kk == lastDense
        lastDense = kk
      }
      denseK = k
    }
    (levels, maxLen)
  }

  /** EXACT longest-duplicate-substring report — the true Lee et al.
    * artifact that [[suffixDuplicateSpans]] quantizes to L-token
    * granularity: per document, the exact token length of the longest
    * substring that also occurs ANYWHERE else in the corpus (other
    * position, same or another document), and the smallest start
    * achieving it.
    *
    * Algorithm: full suffix order from the prefix-doubling ladder, then
    * the classic rank-table LCP descent — adjacent suffixes in the
    * order compare their rank at each level h (largest first): equal
    * h-ranks at offset lcp ⇒ lcp += h and both advance. Any LCP value
    * is a sum of distinct powers of two, so the descent is exact; the
    * final `least(lcp, remaining_a, remaining_b)` collapses the
    * sentinel-aligned case (fully equal suffixes) to the true common
    * length. A position's longest duplicate is the max LCP with its
    * order-neighbors (the suffix-array adjacency argument: the nearest
    * suffixes in lexicographic order share the longest prefixes).
    *
    * Scale shape: every stage is a LINEAR shuffle — the order index is
    * the two-phase range rank (never a global window), adjacency is a
    * self-join on index+1, and the descent is 2·|levels| keyed joins of
    * |tokens|-row frames in ONE linear lineage (a single eager
    * checkpoint at the end; each round references its predecessor
    * exactly once, so there is no 2^rounds fan-out to cut). The ladder
    * itself exits at the refinement FIXPOINT — once a doubling splits
    * no class, every surviving tie is an identical-suffix pair, so the
    * tail rounds are provably no-ops. No n² stage anywhere.
    *
    * @return (doc_id, lcp_start, lcp_len): per doc with any duplicated
    *         token, the exact longest duplicated span (ties → smallest
    *         start), token units
    */
  def suffixLcpReport(docs: DataFrame, textCol: String = "text",
                      idCol: String = "doc_id"): DataFrame = {
    // NOTE: the subset-co-partition scope lives INSIDE suffixLevelRanks
    // (the ladder rounds, where the pinned layout pays). It must NOT
    // cover the descent below: the descent's level joins would then plan
    // zero-Exchange SortMergeJoins over the pinned frames — and with no
    // shuffle stage feeding them, AQE never sees runtime sizes and can
    // never apply its broadcast conversion, which at bench scale is the
    // cheaper plan by far (measured: 2.3 s of AQE-broadcast descent vs
    // 9.1 s of exchange-free sort-merge descent on the same data).
    val (levels, maxLen) = suffixLevelRanks(docs, textCol, idCol)
    val full = levels.head._2
    // already a projection over orderedDenseRank's internal pin — both
    // descent branches read that checkpoint directly, no re-pin needed
    val sa = orderedDenseRank(
      full.select(col(idCol), col("pos"), col("n_toks"), col("rank")),
      Seq(col("rank"), col(idCol), col("pos")), "__sa")
    val a = sa.select(col(idCol).as("__ida"), col("pos").as("__pa"),
      col("n_toks").as("__na"), (col("__sa") + 1).as("__nx"))
    val b = sa.select(col(idCol).as("__idb"), col("pos").as("__pb"),
      col("n_toks").as("__nb"), col("__sa").as("__nx"))
    var pairs = a.join(b, "__nx")
      .select(col("__ida"), col("__pa"), col("__na"),
        col("__idb"), col("__pb"), col("__nb"))
      .withColumn("__lcp", lit(0L))
    // the descent lineage is LINEAR (each round references the previous
    // pairs exactly once, plus checkpointed level frames), so no
    // per-round checkpoint is needed — one eager checkpoint at the end
    // materializes the whole 2·|levels|-join chain, after which the
    // ladder can be released
    for (((h, lvl), idx) <- levels.zipWithIndex) { // descending h
      val l1 = lvl.select(col(idCol).as("__ida"), col("pos").as("__qa"),
        col("rank").as("__ra"))
      val l2 = lvl.select(col(idCol).as("__idb"), col("pos").as("__qb"),
        col("rank").as("__rb"))
      // at the TOP level, equality means the suffixes are IDENTICAL to
      // their ends (h ≥ maxLen, or the fixpoint argument when the
      // ladder exited early) — credit the whole remaining length and
      // let the final cap land on min(remaining); lower levels credit
      // exactly their window length
      val credit = if (idx == 0) maxLen else h
      pairs = pairs
        .withColumn("__qa", col("__pa") + col("__lcp"))
        .withColumn("__qb", col("__pb") + col("__lcp"))
        .join(l1, Seq("__ida", "__qa"), "left")
        .join(l2, Seq("__idb", "__qb"), "left")
        .withColumn("__lcp",
          when(col("__ra").isNotNull && col("__rb").isNotNull &&
            col("__ra") === col("__rb"), col("__lcp") + credit)
            .otherwise(col("__lcp")))
        .drop("__qa", "__qb", "__ra", "__rb")
    }
    pairs = pairs.pinCheckpoint()
    // the descent is done — release the retained ladder and the order
    levels.foreach { case (_, lvl) =>
      org.apache.spark.sql.graft.bridge.freeCheckpoint(lvl) }
    org.apache.spark.sql.graft.bridge.freeCheckpoint(sa)
    val exact = pairs.withColumn("__lcp",
      least(col("__lcp"), col("__na") - col("__pa"), col("__nb") - col("__pb")))
    val perPos = exact
      .select(col("__ida").as(idCol), col("__pa").as("pos"), col("__lcp"))
      .unionByName(exact
        .select(col("__idb").as(idCol), col("__pb").as("pos"), col("__lcp")))
      .groupBy(col(idCol), col("pos"))
      .agg(max(col("__lcp")).as("dup_len"))
    // per-doc argmax with smallest start: struct-max, no window
    perPos.filter(col("dup_len") >= 1)
      .groupBy(col(idCol))
      .agg(max(struct(col("dup_len"), (-col("pos")).as("negpos"))).as("__m"))
      .select(col(idCol), (-col("__m.negpos")).as("lcp_start"),
        col("__m.dup_len").as("lcp_len"))
      .orderBy(idCol)
  }

  /** CROSS-CORPUS exact-substring contamination via the same
    * suffix-array ranks: for each EVAL document, the maximal spans
    * whose every L-token window also occurs somewhere in TRAIN — the
    * decontamination artifact of Lee et al. (a benchmark answer leaked
    * into the training set shows up as a long exact overlap, wherever
    * it sits inside the eval prompt). Both corpora rank in ONE
    * prefix-doubling pass over the union (ids must be disjoint); a
    * window is contaminated iff its rank class contains a TRAIN
    * position — eval-only repetition does NOT count.
    *
    * @return (doc_id, span_start, span_len) per maximal contaminated
    *         span of an eval document
    */
  def suffixCrossContamination(train: DataFrame, eval: DataFrame,
                               windowTokens: Int = 8,
                               textCol: String = "text",
                               idCol: String = "doc_id"): DataFrame = {
    val l = windowTokens
    val union = train.select(col(idCol), col(textCol))
      .unionByName(eval.select(col(idCol), col(textCol)))
    val origins = train.select(col(idCol), lit(0).as("__origin"))
      .unionByName(eval.select(col(idCol), lit(1).as("__origin")))
    val full = suffixWindowRanks(union, l, textCol, idCol)
      .filter(col("pos") <= col("n_toks") - l)
      .join(origins, idCol)
    val trainClasses = full.filter(col("__origin") === 0)
      .select(col("rank")).distinct()
    val covered = full.filter(col("__origin") === 1)
      .join(trainClasses, "rank")
      .select(col(idCol), col("pos"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    covered
      .withColumn("__isl", col("pos") - row_number().over(w))
      .groupBy(col(idCol), col("__isl"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) - min(col("pos")) + l).as("span_len"))
      .select(col(idCol), col("span_start"), col("span_len"))
      .orderBy(idCol, "span_start")
  }

  /** Exact-substring duplicate spans via the suffix-array ranks — the
    * real artifact of Lee et al. 2021 that [[spanDedup]] only
    * quantizes: every position whose L-token window occurs ≥ 2 times
    * ANYWHERE in the corpus (cross- or within-document) is duplicate-
    * covered, and consecutive covered starts merge into maximal spans.
    * A duplicate straddling two of spanDedup's fixed windows — which
    * the quantized form provably misses — is caught here
    * (SuffixDedupSpec plants one).
    *
    * Scale shape: duplicate detection is one count per rank class
    * (map-side combinable; the hot boilerplate class reduces per
    * partition before the shuffle), and span merging is
    * gaps-and-islands under per-DOCUMENT windows — millions of tiny
    * windows, no global sort.
    *
    * @return (doc_id, span_start, span_len) per maximal duplicate span,
    *         token units, span_len ≥ windowTokens
    */
  def suffixDuplicateSpans(docs: DataFrame, windowTokens: Int = 8,
                           textCol: String = "text",
                           idCol: String = "doc_id"): DataFrame = {
    val l = windowTokens
    val full = suffixWindowRanks(docs, l, textCol, idCol)
      .filter(col("pos") <= col("n_toks") - l)
    val dupClasses = full.groupBy(col("rank"))
      .agg(count(lit(1)).as("__occ"))
      .filter(col("__occ") >= 2)
      .select(col("rank"))
    val covered = full.join(dupClasses, "rank").select(col(idCol), col("pos"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    covered
      .withColumn("__isl", col("pos") - row_number().over(w))
      .groupBy(col(idCol), col("__isl"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) - min(col("pos")) + l).as("span_len"))
      .select(col(idCol), col("span_start"), col("span_len"))
      .orderBy(idCol, "span_start")
  }
}
