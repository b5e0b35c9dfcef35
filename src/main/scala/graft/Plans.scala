package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}

/** Regenerates PLANS.md: the final (post-AQE where executed) physical
  * plans of the headline queries, with the scale property each plan is
  * expected to exhibit. Run: `sbt "runMain graft.Plans"`. */
object Plans {
  private val Headline = Seq(
    "wc_word_count" -> "partial agg before exchange; scan reads only `text`",
    "q_filter_project" -> "PushedFilters + 4-column ReadSchema at the scan",
    "q_join_broadcast" -> "BroadcastHashJoin on both dims; no fact shuffle",
    "q_join_agg" -> "shuffled join on the key; AQE re-plans at runtime",
    "q_topk" -> "TakeOrderedAndProject: per-partition top-k, k-row merge",
    "sim_topk" -> "query side broadcast; corpus scanned once",
    "dedup_minhash" -> "one projection per doc (signature kernel); only the final sort exchanges",
    "q_asof_join" -> "equi-join + range filter + max_by partial-agg argmax",
    "q_multi_join" -> "6-table chain: facts shuffled on keys, dims broadcast",
    "text_vocab" -> "two-phase global ranking: range exchange + pid-keyed window; no SinglePartition stage",
    "sim_cosine_pairs" -> "cell-pair equi-joins (broadcast pair list); exact scores, no CartesianProduct",
    "q_ntile" -> "ntile window partitioned by year: quantile sort distributes",
    "pipeline_decontaminate" -> "benchmark n-grams broadcast; train n-gram text never shuffles",
    "q_profile" -> "one table scan feeds every per-column aggregate (expand, not re-scan)",
    "text_gopher" -> "pure per-document projection: no exchange anywhere in the plan",
    "pipeline_mixture" -> "hash-filter at the scan: no shuffle, no RNG, sample nests across rates",
    "pipeline_ingest" -> "bloom screen at the scan routes rows; only bloom hits reach the anti-join",
    "q_zorder" -> "bounds broadcast (single-row join); interleave is pure projection",
    "q_skew_join" -> "hot keys broadcast both paths; salted exchange spreads the hot reducer",
    "q_gap_fill" -> "per-user sequence + user-partitioned windows; no global calendar join",
    "q_heavy_hitters" -> "one count shuffle + broadcast scalar total; threshold filters map-side",
    "dedup_containment" -> "inverted shingle equi-join (co-occurrence-bounded); df guard before the pair join",
    "text_nb" -> "model joins the term stream on word (shuffle join — web-scale vocab never broadcast); class grid is the broadcast side",
    "graph_pagerank" -> "per-round shape: ranks ⋈ checkpointed edges on src + groupBy(dst) — node-keyed exchanges only",
    "pipeline_weighted_sample" -> "global top-k by A-ES key = TakeOrderedAndProject; no global sort",
    "text_bm25" -> "query-term df broadcast + 1-row corpus stats broadcast; top-k is TakeOrderedAndProject",
    "text_bpe_encode" -> "token stream equi-joins the vocab-sized segmentation table; order recovered in the doc-keyed agg, no window",
    "pipeline_decon_embedding" -> "cross-side cell-pair equi-joins (broadcast pruned pair list); exact scores, no CartesianProduct",
    "sim_kmeans" -> "literal-centroid argmin is a narrow projection (no join); only the nlist-row size table broadcasts back",
    "text_bpe_model_encode" -> "frozen-vocab replay: new corpus's word table re-segmented (vocab-sized), token stream equi-joins it; no training scan",
    "pipeline_diversity" -> "per-cell cap is a bounded TopKAggregator partial agg — no cell-partitioned window funneling the corpus through nlist partitions",
    "pipeline_scd2" -> "doc-keyed run-collapse windows (millions of tiny partitions, no global sort); newest-version is a 1-row broadcast join",
    "dedup_jaccard_prefix" -> "prefix-index self-equi-join for candidates + candidate-restricted verify join; per-doc ordering is an aggregation, no corpus window, no CartesianProduct",
    "pipeline_cdc_apply" -> "winner-per-key is one max-struct partial agg; one full-outer equi-join applies it — no window over the change log",
    "pipeline_preference_pairs" -> "both pair ends ride one grouped max/min-struct aggregation over one corpus scan; no window, no self-join",
    "pipeline_curriculum" -> "two-phase count prefix sum: range exchange + pid-keyed window + broadcast offsets; no SinglePartition stage in the rank path (the N-total aggregates to ONE row, like every scalar-total query)",
    "graph_triangles" -> "degree-ordered orientation: node-keyed equi-joins only; wedge fan-out bounded by rank, no CartesianProduct",
    "text_pmi" -> "two word-keyed count shuffles; totals broadcast as single rows; unigram attachment via vocabulary-sized equi-joins",
    "sim_knn_classify" -> "broadcast queries x one corpus scan; id-keyed label join; vote argmax is one max-struct aggregation, no window",
    "pipeline_scd2_asof" -> "map-side interval filter on the run-compressed history + ONE composite-key equi-join attaches run texts",
    "pipeline_scd2_extend" -> "CDC winner is one max-struct partial agg; ONE full-outer equi-join folds it onto current runs; closed runs pass through union-side with no join",
    "sim_ivf" -> "snapped literal-centroid assignment is a narrow projection; probe cells explode on the broadcast query side; candidates meet in a cell equi-join — no CartesianProduct",
    "sim_pq" -> "codes are a narrow argmin projection; per-query ADC tables broadcast; scan-side lookup-sum scores ride the corpus scan",
    "text_hybrid_rrf" -> "corpus-scale work stays in the two retriever subplans (broadcast-df BM25, broadcast-query cosine); the RRF fusion joins two kEach-row frames",
    "pipeline_temperature" -> "rates are plan literals from ONE bounded count agg; the apply path is a map-side hash filter — no shuffle, no RNG",
    "pipeline_pack_tokens" -> "bin ids via the two-phase prefix sum, token ids via the vocab equi-join; per-bin assembly is one grouped agg with targetTokens-bounded state",
    "pipeline_dsir" -> "bucket histogram (nBuckets rows) + totals (1 row) broadcast; per-doc work is hash-keyed aggs; top-N via the two-phase global rank — no corpus-wide window",
    "pipeline_oversample" -> "group-aware two-phase rank: range exchange on (group, id) + pid-keyed window; group counts and the 1-row max broadcast — no per-group hash partitioning",
    "lake_incr_agg" -> "winner-per-key max-struct agg over the CHANGE LOG only; id-keyed lookup join of touched rows into base; the view merge joins |groups| rows — base groups never rescanned",
    "graph_jaccard" -> "hub prune BEFORE the wedge self-join bounds pair fan-out by maxDeg·E; node-keyed equi-joins only; top-k is TakeOrderedAndProject",
    "dedup_fuzzy" -> "content-derived block key makes candidate generation an equi-join; the levenshtein verify is a codegen'd filter inside the join stage — no all-pairs product",
    "sim_matryoshka" -> "coarse stage touches only the prefix dims of one corpus scan; full-width vectors meet only the candidates' id-keyed join; both top-k stages are bounded partial aggs",
    "q_asof_nearest" -> "banded equi-join bounds per-key candidates; winner is ONE min_by aggregation with a composite ordering key — no window over candidates",
    "sketch_hll_merge" -> "per-group states are nBuckets-bounded; register-wise max merge is a 64-row aggregation; corpus touched once",
    "text_nb_roc" -> "cumulative TP/FP via the two-phase prefix sum: range exchange + pid-keyed window + broadcast offsets — no corpus-wide SinglePartition sweep",
    "text_kn_score" -> "three bounded statistic tables (bigram, context, continuation) equi-join the occurrence stream; DECIMAL(38,0) products; no window anywhere",
    "pipeline_clean_audit" -> "the clean run's gate+cluster subplans reused; exact split is ONE sha256 hash agg (text never crosses that shuffle); report stitched by per-row equi-joins",
    "graph_labelprop" -> "per-round shape: labels ⋈ checkpointed symmetric edges on src + groupBy(dst) min — node-keyed exchanges only, supernode fan-in combined map-side",
    "sim_hamming" -> "coarse pass scans only the 16-byte signature column (broadcast query signatures; XOR+popcount codegen'd); full vectors touched only for the candidates' id-keyed joins; both top-k stages bounded partial aggs",
    "sim_hard_negatives" -> "broadcast queries × one corpus scan; cluster-label exclusion is an id-keyed equi-join; top-k is a bounded TopKAggregator partial agg — no window over the corpus",
    "dedup_golden" -> "survivorship = per-(cluster,name) count agg + min-struct argmax per cluster, both map-side combinable; linkage/components are the graded paths upstream",
    "pipeline_group_sample" -> "per-group top-k is a bounded TopKAggregator partial agg (k-row state) — NOT a per-group row_number window funneling a corpus-sized stratum through one task",
    "sketch_hll_intersect" -> "three 64-register sketch folds (bounded state, map-side combined) + one-row broadcast exact count; slices scanned once each",
    "q3_shipping_priority" -> "segment filter prunes customer BEFORE the joins; filtered dims broadcast; cents-exact agg; top-10 is TakeOrderedAndProject",
    "sketch_quantile" -> "level histogram is a ≤32-row agg; the only window sorts the ≤capacity kept frame (cut guarantees the bound); estimate probes broadcast ≤|quantiles| rows against ONE corpus scan — no corpus-wide sort anywhere",
    "sketch_quantile_merge" -> "each half folds to a ≤capacity kept set; the re-cut is a ≤32-row agg with a 1-row floor broadcast; every summary is a bounded agg — corpus scanned once per sketch, never joined to itself",
    "mm_jpeg_pixels" -> "the full Huffman+IDCT decode runs inside mapPartitions over the payload scan; only fixed-width pixel stats cross the shuffle — payload bytes never leave the scan stage",
    "sketch_quantile_grouped" -> "per-group cuts from group-keyed ≤32-level histograms; the kept sort is a Window PARTITIONED BY GROUP (bounded per group, distributed across groups — no SinglePartition); exact-rank probes are a group-keyed equi-join",
    "q18_large_orders" -> "quantity agg over the FACT table alone (partial combine), HAVING filters before anything joins; only surviving keys meet orders/customer",
    "sketch_theta" -> "ONE bounded ObjectHashAggregate: ≤k-long KMV buffers combine map-side, only sketch states cross the exchange (keys never do); exact counts join per group",
    "text_unigram_fertility" -> "the Viterbi DP runs once per DISTINCT word (vocabulary-bounded frame, codebook-sized model broadcast); the corpus-scale token stream attaches via ONE word-keyed equi-join — per-token work never re-runs the DP",
    "sketch_bloom" -> "bit-set build is a distinct aggregation on ≤ m values (the partial-agg union IS the bloom merge); probes meet the bounded bit set in an index-keyed join — keys never cross the shuffle",
    "sketch_theta_ops" -> "two bounded slice folds (filters run map-side at the scan) + ≤k-element array algebra over one-row broadcast frames — nothing after the partial aggregates depends on data size",
    "text_html_extract" -> "pure per-document regexp projection — the ONLY exchange is the trailing presentation sort; extraction itself is shuffle-free map work (PlanSpec-asserted pre-sort)",
    "text_html_blocks" -> "block explode is a Generate over the per-doc split (rows × blocks-per-doc, never × corpus); link-density math stays in the same projection — no exchange before the presentation sort",
    "src_warc_gz" -> "gzip-member walk + record framing run inside mapPartitions over the binaryFile scan; only the fixed-width graded frame crosses the shuffle — compressed bytes never leave the scan stage",
    "src_charset" -> "per-FILE sniff + decode inside the binaryFile scan (one detection per file, not per row); per-line framing is flatMap work — no exchange before the presentation sort",
    "mm_jpeg_exif" -> "APP1/TIFF IFD walk inside mapPartitions over the payload scan; only (tag, value) rows cross the shuffle — JPEG bytes never leave the scan stage",
    "text_html_links" -> "anchor explode is a Generate over per-doc arrays; href resolution is pure string projection — no exchange before the presentation sort",
    "text_html_meta" -> "title/meta/canonical extraction is one regexp projection per document — zero exchange before the presentation sort",
    "src_orc" -> "the selective predicate reaches the ORC scan as a PushedFilter (stripe-stat skipping at scale); the round trip is scan-shaped, no shuffle before the presentation sort",
    "text_luhn_scrub" -> "candidates, Luhn validation and the fold-replace are higher-order column expressions in one projection — zero shuffle before the presentation sort",
    "url_sitemap" -> "per-feed entry explode is a Generate; loc/lastmod/priority extraction stays in the same projection — no exchange before the presentation sort",
    "graph_hierarchy" -> "pointer jumping: 6 node-keyed self-joins (each round checkpointed flat) resolve depth ≤ 64 — no SinglePartition, no per-row recursion, frame stays one row per node",
    "pipeline_crawl_corpus" -> "extraction is map work feeding the checkpointed qualified set; the clean chain reuses the audited band-equi-join + component paths — no new shuffle shape",
    "q_moments" -> "one hash aggregation with map-side partials; four integer power sums per group cross the exchange, the DECIMAL(38,0) moment algebra is post-agg projection",
    "pipeline_crawl_frontier" -> "links + sitemap are per-row projections; the robots gate is a closed-form when-chain (NO join of any kind in the plan); the only shuffle is the canonical-url frontier hash agg — no SinglePartition, no window",
    "src_avro" -> "binaryFile scan → per-container decode (one task per file); OCF carries no column stats so the filter applies post-decode — scan-shaped, no shuffle before the presentation sort",
    "url_politeness" -> "frontier agg feeds ONE host-partitioned window (hashpartitioning(host) — spreads at crawl scale, no SinglePartition); wave arithmetic is projection",
    "url_robots_parsed" -> "per-host rule frame (flatMap over DISTINCT sources) broadcasts into the left prefix-join; RFC winner is the integer-keyed argmax aggregation, no window",
    "url_robots_wildcard" -> "compiled-regex rules broadcast into the left pattern-join; same octet-length argmax — literal and wildcard rules rank on one scale",
    "text_bbpe_encode" -> "byte-hex word table trains in ceil(merges/batch) scans; encode is ONE equi-join of the token stream against the vocab-sized segmentation table, order recovered in the doc-keyed agg",
    "pipeline_crawl_cycle" -> "wave-1 agg → per-page fetch/extract projections → ONE left anti join on the canonical URL (the seen-set) → wave-2 hash agg; no window, no cartesian, everything URL-keyed",
    "text_nfkc" -> "one codegen'd NFKC expression in a pure projection — zero shuffle before the presentation sort",
    "url_politeness_delay" -> "parsed per-host rules gate + broadcast host-bounded delay table + ONE source-partitioned window; no SinglePartition, wave arithmetic is projection",
    "dedup_suffix" -> "prefix doubling: ⌈log L⌉ rounds of (pos±h self-join + pair-class distinct + range-exchange rank with pid-keyed window) — all linear shuffles; dup classes are one map-side-combinable count agg; span merge is doc-keyed windows, no SinglePartition anywhere",
    "lake_txn" -> "snapshot read is a plain multi-file parquet scan (pushdown intact — the commit log is driver-scale metadata); the only exchange is the presentation sort",
    "lake_txn_cdc" -> "file-pruned CoW merge: change keys BROADCAST into the semi-join (find affected files) and the anti-join (drop old rows); only affected files rescan for the rewrite — the unaffected corpus never moves",
    "q_global_sort" -> "global total order via rangepartitioning with sampled bounds — the sort distributes across 32 partitions, no SinglePartition stage",
    "text_bbpe_pretok" -> "one codegen'd regexp_extract_all projection + Generate (posexplode) — zero shuffle before the presentation sort",
    "mm_mp4_frames" -> "stsc/stco/stsz walk + per-frame JPEG decode inside mapPartitions over the payload scan; only fixed-width frame stats cross the shuffle — video bytes never leave the scan stage",
    "mm_audio_tones" -> "RIFF walk + PCM decode + integer DFT inside mapPartitions; only (bin, re, im, magnitude) rows cross the shuffle — audio bytes never leave the scan stage",
    "lake_txn_cdf" -> "change data feed = ONE full-outer equi-join of two snapshot scans on the key (text reduced to sha256 AT the scan — content never crosses the shuffle); status is post-join projection",
    "mm_audio_spectrogram" -> "windowed integer DFT inside mapPartitions (fixed 192-sample clips); only the (window, bin) grid rows cross the shuffle",
    "dedup_suffix_cross" -> "one prefix-doubling pass over train∪eval (checkpointed rounds); contamination = rank-class semi-join against the train side — no text ever re-compared, no CartesianProduct",
    "dedup_suffix_lcp" -> "full ladder (alternating free numeric combines with densify sorts, fixpoint exit) + LCP descent as ONE linear join chain over (id,pos)-keyed lookups; suffix order via the two-phase range rank; per-doc argmax is a max-struct agg — no window over the corpus, no SinglePartition",
    "lake_txn_concurrent" -> "append content is plain staged parquet scans; the racing claims are driver-side put-if-absent metadata (hard-link EEXIST) — the data plan is identical to lake_txn's, one multi-file scan + presentation sort",
    "lake_txn_skipping" -> "the band read prunes the file list from LOG-recorded min/max (zero footer opens at plan time); the residual band filter reaches the kept scans as PushedFilters",
    "q_skew_join_aqe" -> "plain shuffle join under scoped AQE-skew settings: OptimizeSkewedJoin splits oversized partitions at runtime (spec-pinned skew=true marker); result identical to the manual salted path",
    "lake_txn_dv" -> "merge-on-read: the data scan keeps its pushdown; live deletion vectors broadcast into ONE LeftAnti hash join on (file basename, row position) — zero data files rewritten by the delete",
    "lake_txn_evolve" -> "schema-on-log read: ONE multi-file scan under the DECLARED log schema (pre-evolution files null-fill the new column inside the scan — no union, no per-generation subplans); the only exchange is the presentation sort",
    "stream_lake_source" -> "DataSource V2 MicroBatchStream over the commit log (offsets = versions); the final read is the complete-mode memory state — the per-batch plan is a projected V2 file scan, no shuffle beyond the streaming aggregation",
    "lake_txn_zorder" -> "z-clustered write (range exchange on the Morton value + within-partition sort); the box read prunes the file list from LOG-recorded 2-D min/max (zero footer opens) with the residual box filter pushed to the kept scans",
    "lake_txn_bloom" -> "point-lookup read prunes the file list from LOG-recorded per-file bloom filters (driver-side membership test, zero file opens); the pushed-down IN filter makes the kept scans exact",
    "lake_optimize_zorder" -> "OPTIMIZE ZORDER is a copy-on-write re-cluster (scan + range exchange on the Morton value + sorted write); the box read afterwards prunes from log-recorded 2-D stats like lake_txn_zorder",
    "stream_lake_pipeline" -> "V2 source tail -> per-epoch transform -> one marked commit per epoch into table B; the graded read is B's plain snapshot scan + presentation sort (exactly-once lives in the commit markers, not the plan)",
    "lake_txn_partition" -> "partition-pruned read: the file list filters on LOG-recorded partition values (no directory listing); per-value scans union with the partition column reinjected as literals — the filter is metadata, not a plan operator",
    "lake_txn_constraint" -> "CHECK enforcement is one filter-isEmpty job per constraint BEFORE staging (the Delta invariant shape); the graded read is the plain snapshot scan + presentation sort — the poisoned batch never enters any plan",
    "lake_v2_batch" -> "the V2 BatchScan shows the pushed filters in its description and feeds ColumnarToRow (vectorized reader); file pruning happened at plan time from log stats (driver metadata), surviving files skip row groups from footer min/max inside the reader, and the residual box filter runs codegen'd — no exchange before the presentation sort",
    "lake_v2_write" -> "the graded read is the reference reader's plain multi-file scan + presentation sort; the connector write itself is per-task staging + ONE driver-side atomic log commit (no exchange introduced by the write)",
    "lake_sql_ddl" -> "pure-SQL catalog journey: the SELECT resolves through the TableCatalog to the V2 BatchScan (ColumnarToRow above the vectorized reader); INSERTs are AppendData into the same connector; evolution is log metadata, not a plan operator",
    "stream_lake_sink" -> "V2 source tail -> per-epoch NATIVE StreamingWrite (one marked commit per epoch, no foreachBatch); the graded read is the destination's plain snapshot scan + presentation sort — exactly-once lives in the commit markers",
    "lake_v2_overwrite" -> "the overwrite is ONE atomic remove-all+add commit (driver metadata, no plan operator); the graded read is a plain multi-file scan + presentation sort over the replaced-then-appended snapshot",
    "lake_multi_stats" -> "IS NOT NULL + band predicates push into the V2 scan and prune the file list from the LOG's n-column stats map (nullCount + min/max, zero footer opens); the kept files decode vectorized with the residual filter re-applied",
    "lake_agg_pushdown" -> "COMPLETE aggregate pushdown: the whole COUNT/MIN/MAX block collapses into a one-row metadata scan ('answered from log' in the scan description) — counts fold add-action rows and nullCounts, extremes fold the exact per-file INT64 bands; zero data file opens at any table size",
    "lake_stats_join" -> "LOG-REPORTED scan statistics (SupportsReportStatistics folding add-action bytes/rows, post-prune) let Catalyst AUTO-broadcast the lake dim against the orders fact with no hint — BroadcastHashJoin in the plan where an unknown-size V2 table would have shuffled both sides",
    "lake_sql_delete" -> "SQL DELETE resolves to SupportsDelete -> one merge-on-read deletion-vector commit per statement (zero data files rewritten); the SELECT is the V2 scan with the broadcast DV anti-join applied in the readers — delete cost is Θ(matched rows), not Θ(table)",
    "lake_sql_call" -> "CALL cat.system.merge/checkpoint/compact/vacuum: each procedure is the corresponding LakeTxn commit (file-pruned CoW merge, checkpointed fold, bin-pack, retention delete) returning a one-row LocalScan; the graded SELECT is the final snapshot's plain scan + presentation sort",
    "lake_sql_update" -> "SQL UPDATE plans as a group-based copy-on-write: a runtime group-filter subquery collects matching _file values, the rewrite scan reads ONLY those files (rows + injected _file), and the replace commit removes exactly them — conflict-checked at the scan's read version",
    "lake_sql_merge" -> "native MERGE INTO through the same row-level operation: source joins the group-filtered rewrite scan, matched-delete/update + not-matched-insert land as ONE atomic replace commit (the third surface over the CDC contract after applyChanges and CALL merge)",
    "lake_v2_batch_dv" -> "merge-on-read COLUMNAR: a deletion vector no longer demotes the scan — ColumnarToRow stays above the vectorized reader, each decoded batch compacted against the file's sorted tombstone ordinals (row-group pruning off for DV'd files only, keeping ordinals sequential); file pruning from log stats unchanged",
    "lake_string_stats" -> "truncated UTF-8 string bands in the log's stats map: the pushed text-range predicate prunes the file list from per-file [minPrefix, maxBound] under binary UTF-8 order (32-cp truncation, upper bound incremented) — zero footer opens; the kept files decode vectorized with the residual filter re-applied",
    "lake_sql_update_mor" -> "CALL update_where is the write-cheap UPDATE: ONE commit carrying a deletion vector (tombstoned matches) + appended rewritten rows, ZERO data files removed — Θ(matched rows) write cost against any table size; the graded SELECT pays the columnar DV mask until compaction",
    "lake_sql_partitioned" -> "pure-SQL partitioned table: INSERT splits one staged file per partition value (the column physically absent, its value in the add action), and the SELECT's IN-filter prunes the file list from log partition values — no directory listing, no footer opens; kept scans reinject the value as a constant vector",
    "lake_sql_time_travel" -> "VERSION AS OF pins the scan's snapshot fold at plan time (driver-scale log read); the plan is the ordinary V2 vectorized scan over the pinned file list — history costs what the log costs, and below-horizon reads refuse before any file opens",
    "stream_lake_catalog" -> "readStream.table resolves the catalog to the SAME V2 MicroBatchStream as the path API (offsets = log versions, one commit per batch); the graded read is the complete-mode memory state — restart-resume is checkpoint offsets, not plan shape",
    "lake_sql_insert_overwrite" -> "INSERT OVERWRITE ... PARTITION (pc='v') is ONE atomic scoped remove+add commit: the replacement stages per-value files (the column physically absent), scope-validates against the writer-recorded values, and removes exactly the named partition's files — every other partition's files are untouched survivors; the graded read is the plain partition-aware scan + presentation sort",
    "lake_txn_cdc_mor" -> "the MERGE-ON-READ CDC apply (Delta's low-shuffle-merge shape): matched keys tombstone via a deletion vector (broadcast key semi-join over the MoR scan), upserts append — ONE commit, ZERO data files removed, Θ(changes) write cost at any table size; the graded read is the DV-masked columnar scan + presentation sort",
    "lake_txn_bucket_join" -> "storage-partitioned join through the log: both scans report KeyGroupedPartitioning(bucket(8, key)) from log-recorded bucket ids, the catalog's V2 bucket function completes the handshake, and the SortMergeJoin runs with NO Exchange on either join key — the write-once shuffle the bucketed layout exists to amortize",
    "lake_sql_cdf" -> "CALL table_changes(from, to): the diff computes as ONE full-outer equi-join of two pinned snapshot scans on the key (text reduced to sha256 at the scan), served through the procedure's LocalScan — driver-local rows by the CALL contract, the distributed path stays snapshotDiff",
  )

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sf = "/root/testdata/sf0.001"
    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of the headline queries\n\n")
    sb.append("Generated by `sbt \"runMain graft.Plans\"` at sf0.001 (plan shape is\n")
    sb.append("scale-invariant; AQE specializes partitioning at runtime). For each\n")
    sb.append("query: the scale property the plan must exhibit, then the plan.\n")
    Headline.foreach { case (name, why) =>
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect()
      sb.append(s"\n## $name\n\n**Why this plan:** $why\n\n```\n")
      sb.append(df.queryExecution.explainString(ExplainMode.fromString("formatted")).trim)
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${Headline.size} plans)")
    spark.stop()
  }
}
