package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.apps.{InvertedIndex, WordCount}
import graft.core.MapReduce
import graft.ext.{Dedup, Multimodal, Similarity, TextStats}
import graft.rel.Relational

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every query has a matching DuckDB oracle in [[oracleSql]] unless its
  * semantics are not SQL-expressible (approximate/sketch ops), in which
  * case the driver records a weaker rows-only check and a ScalaTest spec
  * carries the correctness argument instead.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    WordCount.wordCount(Tables.documents(spark, "/root/testdata/sf0.001"))

  /** Shared DuckDB CTE: the canonical tokenizer (§1.4 rules) as SQL.
    * RE2 has no `(?U)` flag but supports the explicit Unicode classes.
    * Whitespace is the explicit Java-`\s` set — RE2's `\s` lacks
    * vertical tab (\x0B), which Java and the engine kernel include. */
  private val tokSql =
    """SELECT lower(regexp_replace(t, '[^\p{L}\p{N}]+', '', 'g')) AS word,
      |       source AS doc
      |FROM documents, unnest(regexp_split_to_array(text, '[ \t\n\x0B\f\r]+')) AS u(t)
      |WHERE t <> ''""".stripMargin

  /** The three derived corpus snapshots the SCD2 queries share: v1 lacks
    * id%7 docs (created later), v2 edits id%5, v3 drops id%11 (deletions)
    * and further edits id%3 — creates, edits, deletes, and stable runs
    * all exercised. */
  private def scd2Snapshots(docs: DataFrame): DataFrame = {
    val d = docs.select("doc_id", "text")
    val t2 = when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
      .otherwise(col("text"))
    val v1 = d.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"), col("text"), lit(1L).as("version"))
    val v2 = d.select(col("doc_id"), t2.as("text"), lit(2L).as("version"))
    val v3 = d.filter(col("doc_id") % 11 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 3 === 0, concat(t2, lit(" v3"))).otherwise(t2).as("text"),
        lit(3L).as("version"))
    v1.unionByName(v2).unionByName(v3)
  }

  /** The shared CDC change log (two batches: deletes, edits, a
    * delete-then-reinsert, fresh inserts; latest seq wins per id —
    * change rules are if/else-exclusive per seq so (id, seq) is unique
    * and the winner is order-independent). Mirrored by
    * OracleSql.cdcFinalCte. `private[graft]` so specs exercise the REAL
    * change log instead of a hand-copy that drifts. */
  private[graft] def cdcChanges(docs: DataFrame): DataFrame = {
    val sNull = lit(null).cast("string")
    val c1del = docs.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"), lit(1L).as("seq"), lit("delete").as("op"),
        sNull.as("text"), sNull.as("source"))
    val c1up = docs.filter(col("doc_id") % 7 =!= 0 && col("doc_id") % 5 === 0)
      .select(col("doc_id"), lit(1L).as("seq"), lit("upsert").as("op"),
        concat(col("text"), lit(" rev1")).as("text"), col("source"))
    val c2rev = docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), lit(2L).as("seq"), lit("upsert").as("op"),
        concat(col("text"), lit(" rev2")).as("text"), col("source"))
    val c2back = docs.filter(col("doc_id") % 10 =!= 0 && col("doc_id") % 21 === 0)
      .select(col("doc_id"), lit(2L).as("seq"), lit("upsert").as("op"),
        concat(col("text"), lit(" back")).as("text"), col("source"))
    val c2ins = docs.filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), lit(2L).as("seq"),
        lit("upsert").as("op"),
        concat(lit("fresh "), col("doc_id").cast("string")).as("text"),
        lit("cdc").as("source"))
    c1del.unionByName(c1up).unionByName(c2rev)
      .unionByName(c2back).unionByName(c2ins)
  }

  /** The synthetic corpus carries no punctuation; the sentence-level ops
    * run over this deterministically terminator-planted variant
    * (mirrored by OracleSql.sentenceCte). */
  private def plantedSentenceDocs(docs: DataFrame): DataFrame =
    docs.withColumn("text",
      expr("replace(replace(text, ' a ', '! '), ' the ', '. ')"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- parity: the reference's two applications ----
    "wc_word_count" -> ((s, d) => WordCount.wordCount(Tables.documents(s, d))),
    "wc_word_count_salted" -> ((s, d) => WordCount.wordCountSalted(Tables.documents(s, d))),
    "wc_formatted" -> ((s, d) => WordCount.formatted(Tables.documents(s, d))),
    "ii_flat" -> ((s, d) => InvertedIndex.flat(Tables.documents(s, d))),
    // MapType itself can't be hashed by the driver's comparator; declare
    // the canonical JSON rendering (doc-sorted entries). The MAP-typed
    // API (InvertedIndex.postings) stays covered by AppsSpec.
    "ii_postings" -> ((s, d) => InvertedIndex.postingsJson(Tables.documents(s, d))),
    // ---- parity: pluggable map/reduce registry (reference's dispatch) ----
    "mr_registry_wc" -> ((s, d) =>
      MapReduce.run(Tables.documents(s, d), "map_wc", "reduce_wc")),
    "mr_registry_id_flat" -> ((s, d) =>
      MapReduce.runFlat(Tables.documents(s, d), "map_id")),
    "mr_registry_id" -> ((s, d) =>
      MapReduce.run(Tables.documents(s, d), "map_id", "reduce_id")
        .select(col("key"),
          InvertedIndex.postingsToJson(col("postings")).as("postings_json"))),
    // ---- parity: multi-source union (reference's multi-file concat) ----
    "union_sources" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      WordCount.wordCount(
        docs.filter(col("source") === "src0")
          .unionByName(docs.filter(col("source") === "src1")))
    }),
    // ---- sources: non-parquet ingestion, graded as a full write→parse
    // round trip over adversarial content (embedded quotes/commas/
    // newlines/unicode/NULLs) — the oracle computes the same frame from
    // parquet, so any escaping fault in either direction mismatches ----
    "src_csv" -> ((s, d) =>
      graft.sources.Ingest.csvRoundTrip(s, Tables.documents(s, d), d)),
    "src_jsonl" -> ((s, d) =>
      graft.sources.Ingest.jsonlRoundTrip(s, Tables.documents(s, d), d)),
    // gzip-coded JSONL shards (the .json.gz wire shape 100-TB corpora
    // ship; gzip unsplittable -> shard sizing IS the parallelism knob)
    "src_jsonl_gz" -> ((s, d) =>
      graft.sources.Ingest.jsonlGzRoundTrip(s, Tables.documents(s, d), d)),
    // whole-file JSON arrays (API dumps): multiLine parse, one document
    // per file, records spanning real newlines
    "src_json_multiline" -> ((s, d) =>
      graft.sources.Ingest.jsonMultilineRoundTrip(s, Tables.documents(s, d), d)),
    // ORC round trip over the same adversarial frame, with a selective
    // predicate that must reach the ORC scan pushed (stripe-skipping is
    // the format's 100-TB point; PlanSpec asserts PushedFilters)
    "src_orc" -> ((s, d) =>
      graft.sources.Ingest.orcRoundTrip(s, Tables.documents(s, d), d)),
    // Avro OCF round trip (real DataFileReader/Writer, deflate blocks,
    // union nulls; reader-schema projection spec'd) — this distribution
    // has no spark-avro DataSource, so the reader is the binaryFile +
    // per-file decode shape like WARC/tar; OCF has no per-block column
    // stats, so the ORC-twin filter applies post-decode by design
    "src_avro" -> ((s, d) =>
      graft.sources.Avro.roundTrip(s, Tables.documents(s, d), d)),
    // dead-letter routing: PERMISSIVE parse of a batch with planted
    // corrupt lines; quarantine keeps the raw payload for replay
    "src_dead_letter" -> ((s, d) =>
      graft.sources.Ingest.deadLetterIngest(s, Tables.documents(s, d), d)),
    // schema evolution across ingest generations: a column added later is
    // null-filled for early rows under mergeSchema (the default
    // one-footer read silently loses it — spec-demonstrated)
    "src_schema_evolution" -> ((s, d) =>
      graft.sources.Ingest.schemaEvolutionRoundTrip(s, Tables.documents(s, d), d)),
    // crawl politeness: RFC 9309 robots longest-match (allow wins ties)
    // as a broadcast rule join + ONE integer-keyed argmax per path
    "url_robots" -> ((s, d) =>
      ext.Urls.robotsDecisions(Tables.documents(s, d))),
    // the gate driven by PARSED per-host robots.txt policies: group
    // selection (exact agent beats *, groups never merge), per-source
    // rule sets, no-match defaults to allow
    "url_robots_parsed" -> ((s, d) =>
      ext.Urls.robotsParsedDecisions(Tables.documents(s, d))),
    // RFC 9309 §2.2.3 pattern rules (* wildcards, $ end anchor): rules
    // ride the broadcast join as compiled regexes; same octet-length
    // argmax, so literal and wildcard rules rank on one scale
    "url_robots_wildcard" -> ((s, d) =>
      ext.Urls.robotsWildcardDecisions(Tables.documents(s, d))),
    // parsed Crawl-delay drives the per-wave budget: slots = 3 - delay,
    // delays from each source's own selected group, paths gated by the
    // parsed rules, FIFO per source
    "url_politeness_delay" -> ((s, d) =>
      ext.Urls.politenessByDelay(Tables.documents(s, d))),
    // WebDataset-style tar shards: ustar headers with VERIFIED checksums,
    // block-padded entries (ids % 17 == 0 planted at exact 512 multiples
    // to pin the no-pad edge), adjacent <id>.json + <id>.txt sample pairs
    // re-grouped by key; metadata through from_json
    "src_tar" -> ((s, d) =>
      graft.sources.Tar.roundTrip(s, Tables.documents(s, d), d)),
    // WARC (ISO 28500) round trip: Content-Length byte framing carries
    // payloads salted with a version-line LOOKALIKE + CRLFs + unicode;
    // warcinfo records interleaved that the reader must skip
    "src_warc" -> ((s, d) =>
      graft.sources.Warc.roundTrip(s, Tables.documents(s, d), d)),
    // production .warc.gz: the SAME salted records, each in its own
    // RFC 1952 gzip member (CommonCrawl convention) — member walk,
    // raw-Inflater body, CRC32 + ISIZE verified per member
    "src_warc_gz" -> ((s, d) =>
      graft.sources.Warc.roundTripGz(s, Tables.documents(s, d), d)),
    // mixed-encoding ingest: the same salted content landed per-doc in
    // five wire forms (UTF-8 ± BOM, UTF-16LE/BE, Latin-1); BOM sniff +
    // strict-UTF-8-then-Latin-1 fallback must land identical UTF-8 text
    // with a per-file (encoding, wire-bytes) report
    "src_charset" -> ((s, d) =>
      graft.sources.Charset.roundTrip(s, Tables.documents(s, d), d)),
    // hive-partitioned lake table: the lang predicate prunes the file
    // list from the log; content (incl. the log-carried partition
    // column) is the graded claim
    "lake_partition_prune" -> ((s, d) =>
      ext.LakeTxn.partitionQuery(s, Tables.documents(s, d), d, Seq("en", "de"), "partprune")
        .select("doc_id", "text", "lang", "source", "n_chars")),
    // ---- relational surface (SURVEY.md §2.2) ----
    "q1_pricing_summary" -> ((s, d) => Relational.pricingSummary(Tables.lineitem(s, d))),
    // named TPC-H anchors: Q3 (selective dims -> fact join -> top-k) and
    // Q18 (fact agg -> HAVING -> rejoin only the survivors)
    "q3_shipping_priority" -> ((s, d) =>
      Relational.q3ShippingPriority(Tables.customer(s, d), Tables.orders(s, d),
        Tables.lineitem(s, d))),
    "q18_large_orders" -> ((s, d) =>
      Relational.q18LargeOrders(Tables.customer(s, d), Tables.orders(s, d),
        Tables.lineitem(s, d))),
    "q_filter_project" -> ((s, d) => Relational.filterProject(Tables.lineitem(s, d))),
    "q_join_agg" -> ((s, d) =>
      Relational.ordersPerSegment(Tables.orders(s, d), Tables.customer(s, d))),
    "q_join_broadcast" -> ((s, d) =>
      Relational.customersPerRegion(Tables.customer(s, d), Tables.nation(s, d), Tables.region(s, d))),
    "q_multi_join" -> ((s, d) =>
      Relational.localSupplierRevenue(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.supplier(s, d), Tables.nation(s, d), Tables.region(s, d))),
    "q_semi_join" -> ((s, d) =>
      Relational.customersWithOrders(Tables.customer(s, d), Tables.orders(s, d))),
    "q_anti_join" -> ((s, d) =>
      Relational.customersWithoutOrders(Tables.customer(s, d), Tables.orders(s, d))),
    "q_distinct" -> ((s, d) => Relational.distinctSegments(Tables.customer(s, d))),
    // governance: quasi-identifier combos shared by < k customers (the
    // re-identification audit a data release runs before publishing)
    "q_kanon" -> ((s, d) => Relational.kAnonymityViolations(Tables.customer(s, d))),
    "q_count_distinct" -> ((s, d) => Relational.supplierStats(Tables.lineitem(s, d))),
    "q_topk" -> ((s, d) => Relational.topOrders(Tables.orders(s, d))),
    "q_window_rank" -> ((s, d) => Relational.topOrdersPerCustomer(Tables.orders(s, d))),
    "q_window_running" -> ((s, d) => Relational.runningUserSpend(Tables.events(s, d))),
    "q_rollup" -> ((s, d) => Relational.returnFlagRollup(Tables.lineitem(s, d))),
    "q_date_agg" -> ((s, d) => Relational.ordersPerMonth(Tables.orders(s, d))),
    "q_case_bands" -> ((s, d) => Relational.orderValueBands(Tables.orders(s, d))),
    "q_string_fns" -> ((s, d) => Relational.partTypeHeads(Tables.part(s, d))),
    "q_events_window" -> ((s, d) => Relational.hourlyEventStats(Tables.events(s, d))),
    "q_sessions" -> ((s, d) => Relational.sessionize(Tables.events(s, d))),
    // ---- streaming, driver-graded: these rows go through the REAL
    // micro-batch engine (writeStream → memory sink, AvailableNow) and
    // must still hash-match the batch SQL oracle ----
    "stream_events_window" -> ((s, d) => streaming.EventsStream.hourlyStatsLanded(s, d)),
    "stream_dedup" -> ((s, d) => streaming.EventsStream.dedupKeysLanded(s, d)),
    // windowed top-k heavy hitters: streamed per-(window, user) counts,
    // per-window read-side rank over the landed table
    "stream_topk" -> ((s, d) => streaming.EventsStream.topUsersPerHourLanded(s, d)),
    // streaming CDC -> SCD2: per-micro-batch extendHistory fold; the
    // landed history must equal the batch full recompute (same oracle
    // as pipeline_scd2)
    "stream_scd2" -> ((s, d) => streaming.EventsStream.scd2StreamLanded(s, d)),
    // streaming IVM: the per-source aggregate view patched per
    // micro-batch (same oracle as the batch lake_incr_agg)
    "stream_incr_agg" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text", "source")
      streaming.EventsStream.incrAggStreamLanded(s, d, docs, cdcChanges(docs))
    }),
    "stream_join" -> ((s, d) => streaming.EventsStream.purchasesAfterErrorsLanded(s, d)),
    "stream_sessions" -> ((s, d) => streaming.EventsStream.sessionWindowLanded(s, d)),
    // the production foreachBatch→parquet sink path, graded: the landed
    // files (read back from disk) must hold exactly the batch key set
    "stream_sink" -> ((s, d) => streaming.EventsStream.dedupKeysSunk(s, d)),
    // crash recovery under grade: kill the drain after batch 1's data
    // write (torn write — no offset commit), restart from the checkpoint,
    // grade the landed parquet — exactly-once through the production sink
    "stream_recovery" -> ((s, d) => streaming.EventsStream.recoveredDedupLanded(s, d)),
    // sketch-at-ingest: the quantile sketch maintained per micro-batch
    // (state union raw batch, lossless re-cut); the final state must BE
    // the single-pass sketch — graded by the same closed-form oracle
    "stream_quantile" -> ((s, d) => streaming.EventsStream.quantileSketchStreamLanded(s, d)),
    // theta sketch maintained across micro-batches: lossless KMV merge
    // means the final state IS the single-pass sketch — same oracle as
    // the batch formula
    "stream_theta" -> ((s, d) => streaming.EventsStream.thetaSketchStreamLanded(s, d)),
    // sketch-at-ingest, Bloom flavor (the quartet's fourth member):
    // per-batch distinct per-group bits OR-merge driver-side — the
    // provably lossless bloom merge — so the drained state equals the
    // single-pass filter, graded by the same closed-form oracle
    "stream_bloom" -> ((s, d) => streaming.EventsStream.bloomStreamLanded(s, d)),
    // sketch-at-ingest, CMS flavor (the quintet's fifth): counter
    // tables ADD per cell — count sketches are linear — so the summed
    // per-batch states equal the single-pass table; hottest-key probes
    // graded with exact counts beside the estimates
    "stream_cms" -> ((s, d) => streaming.EventsStream.cmsStreamLanded(s, d)),
    // HLL maintained across micro-batches: register-wise max is the
    // lossless merge, so the final state IS the single-pass sketch
    "stream_hll" -> ((s, d) => streaming.EventsStream.hllStreamLanded(s, d)),
    // late-data drop accounting: planted rows beyond the watermark must
    // be dropped and unfinalized windows withheld (see lateFixtureDir)
    "stream_late" -> ((s, d) => streaming.EventsStream.lateWindowCountsLanded(s, d)),
    // stream-stream LEFT OUTER interval join: unmatched purchases must
    // land with null error columns exactly when the watermark proves no
    // match can arrive — and the in-flight advancer must NOT land
    "stream_outer_join" -> ((s, d) => streaming.EventsStream.outerJoinLanded(s, d)),
    "q_json" -> ((s, d) => Relational.eventPropStats(Tables.events(s, d))),
    "q_asof_join" -> ((s, d) =>
      rel.TemporalJoins.latestOrderPerEvent(Tables.events(s, d), Tables.orders(s, d))),
    // nearest-as-of (either direction, banded): closest error around
    // each purchase; winner via one min_by aggregation, no window
    "q_asof_nearest" -> ((s, d) =>
      rel.TemporalJoins.nearestErrorPerPurchase(Tables.events(s, d))),
    "q_range_join" -> ((s, d) =>
      rel.TemporalJoins.eventPairsWithin(Tables.events(s, d))),
    "q_cube" -> ((s, d) => Relational.returnFlagCube(Tables.lineitem(s, d))),
    "q_intersect" -> ((s, d) =>
      Relational.richActiveCustomers(Tables.customer(s, d), Tables.orders(s, d))),
    "q_except" -> ((s, d) =>
      Relational.richInactiveCustomers(Tables.customer(s, d), Tables.orders(s, d))),
    "q_date_parts" -> ((s, d) => Relational.orderDateParts(Tables.orders(s, d))),
    "q_approx_distinct" -> ((s, d) => Relational.approxDistinctParts(Tables.lineitem(s, d))),
    // HLL with an ENGINE-SPECIFIED hash: sketch state AND estimate are
    // hash-graded (Spark's built-in sketch above stays rows-only — its
    // internal hash is an implementation detail)
    "sketch_hll" -> ((s, d) =>
      ext.Sketches.hllDistinct(Tables.lineitem(s, d), "l_returnflag", "l_partkey")),
    // HLL mergeability: per-group sketch states merged by register-wise
    // max must equal the single-pass whole-table sketch exactly
    "sketch_hll_merge" -> ((s, d) =>
      ext.Sketches.hllMerged(Tables.lineitem(s, d), "l_returnflag", "l_partkey")),
    // sketch algebra: |A ∩ B| by inclusion-exclusion over two HLL states
    // (union = lossless register-wise max); exact count graded beside it.
    // Date slices with partial overlap (keys shipped in the shared year)
    // so the three sketches genuinely differ
    "sketch_hll_intersect" -> ((s, d) =>
      ext.Sketches.hllIntersect(Tables.lineitem(s, d), "l_orderkey",
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"),
        col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))),
    // contract-hash Bloom screen: bit state + per-probe verdicts graded,
    // the one-sided guarantee (in_a => might_contain) visible per row and
    // false positives COUNTED; same date slices as the other sketch ops
    "sketch_bloom" -> ((s, d) =>
      ext.Sketches.bloomScreen(Tables.lineitem(s, d), "l_orderkey",
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"),
        col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))),
    // bloom mergeability: per-linestatus bit sets OR-merged must equal
    // the direct single-pass filter (population + bit-set checksum)
    "sketch_bloom_merge" -> ((s, d) =>
      ext.Sketches.bloomMerged(Tables.lineitem(s, d), "l_orderkey", "l_linestatus",
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))),
    // KMV/theta sketch: the k smallest distinct contract hashes ARE the
    // state (CSV-graded like the HLL registers); supports the direct set
    // algebra HLL can't (see sketch_theta_ops)
    "sketch_theta" -> ((s, d) =>
      ext.Sketches.thetaSketch(Tables.lineitem(s, d), "l_returnflag", "l_partkey")),
    // KMV mergeability: per-linestatus states refolded through the same
    // bounded buffer must equal the direct per-group sketch (the oracle
    // computes ONLY the direct one — a lossy merge hash-mismatches)
    "sketch_theta_merge" -> ((s, d) =>
      ext.Sketches.thetaMerged(Tables.lineitem(s, d), "l_returnflag",
        "l_linestatus", "l_partkey")),
    // theta set algebra: DIRECT union/intersection/difference estimates
    // from the two bounded states below the common theta — never negative
    // (unlike HLL inclusion-exclusion), and a difference estimate exists.
    // Same overlapping date slices as sketch_hll_intersect
    "sketch_theta_ops" -> ((s, d) =>
      ext.Sketches.thetaOps(Tables.lineitem(s, d), "l_orderkey",
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"),
        col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))),
    // CMS with contract hashes: counter table + top-k probe, graded;
    // the never-undercount guarantee is visible per row (over_count >= 0)
    "sketch_cms" -> ((s, d) => ext.Sketches.cmsTokenCounts(Tables.documents(s, d))),
    // level-sampling quantile sketch with the contract hash: the kept
    // set is <= capacity rows by construction, the estimate's EXACT rank
    // rides beside its target (the built-in approx_percentile above
    // stays rows-only — its GK internals are private). Row id
    // l_orderkey*8 + l_linenumber is collision-free (linenumber <= 7)
    "sketch_quantile" -> ((s, d) =>
      ext.Sketches.quantileSketch(Tables.lineitem(s, d), "l_extendedprice",
        col("l_orderkey") * 8 + col("l_linenumber"))),
    // quantile-sketch mergeability: two half-corpus sketches (id parity)
    // unioned and re-cut must equal the single-pass direct sketch
    "sketch_quantile_merge" -> ((s, d) =>
      ext.Sketches.quantileSketchMerged(Tables.lineitem(s, d), "l_extendedprice",
        col("l_orderkey") * 8 + col("l_linenumber"))),
    // the production shape: one pass sketches EVERY group's quantiles;
    // per-group cuts, group-partitioned kept-frame sort (bounded per
    // group — no SinglePartition), group-keyed exact-rank probe
    "sketch_quantile_grouped" -> ((s, d) =>
      ext.Sketches.quantileSketchGrouped(Tables.lineitem(s, d), "l_returnflag",
        "l_extendedprice", col("l_orderkey") * 8 + col("l_linenumber"))),
    "q_outer_join" -> ((s, d) =>
      Relational.userActivityFullOuter(Tables.orders(s, d), Tables.events(s, d))),
    "q_sql_correlated" -> ((s, d) =>
      Relational.ordersAboveCustomerAvg(Tables.orders(s, d))),
    // the SQL entry point WITH the injected custom Catalyst expressions:
    // the exact surface a spark.sql.extensions deployment exposes
    // (registerSql stays in sync with GraftExtensions' injections)
    "q_sql_custom_fns" -> ((s, d) => {
      graft.functions.registerSql(s)
      Tables.documents(s, d).createOrReplaceTempView("documents_sqlv")
      s.sql("""SELECT doc_id, poly_hash(text) AS h,
              |  CAST(size(tokenize_text(text)) AS BIGINT) AS n_tokens,
              |  CAST(size(token_ngrams(text, 2)) AS BIGINT) AS n_bigrams,
              |  nfc_normalize(text) = text AS is_nfc
              |FROM documents_sqlv ORDER BY doc_id""".stripMargin)
    }),
    "q_window_range" -> ((s, d) =>
      Relational.trailingEventWindow(Tables.events(s, d))),
    "q_pivot" -> ((s, d) => Relational.eventTypePivot(Tables.events(s, d))),
    "q_unpivot" -> ((s, d) => Relational.eventTypeUnpivot(Tables.events(s, d))),
    "q_ntile" -> ((s, d) => Relational.priceQuartilesByYear(Tables.orders(s, d))),
    "q_percentiles" -> ((s, d) => Relational.docLengthPercentiles(Tables.documents(s, d))),
    "q_profile" -> ((s, d) => Relational.columnProfile(Tables.lineitem(s, d),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))),
    "q_grouping_sets" -> ((s, d) => Relational.flagStatusGroupingSets(Tables.lineitem(s, d))),
    "q_stats_agg" -> ((s, d) => Relational.statsByReturnFlag(Tables.lineitem(s, d))),
    // skewness/kurtosis the hash-graded way: exact integer power sums,
    // DECIMAL(38,0) central-moment numerators (scale factors cancel),
    // two final double divisions with A^1.5 spelled A*sqrt(A) (sqrt is
    // correctly rounded cross-engine; pow(x, 1.5) is not)
    "q_moments" -> ((s, d) => Relational.momentsByGroup(Tables.lineitem(s, d))),
    // z-order clustering key over (customer, exact-cents price): the
    // lake-layout sort key for 2-D data skipping
    "q_zorder" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .withColumn("__cents", Relational.cents(col("o_totalprice")))
      ext.Zorder.zValues(o, col("o_custkey"), col("__cents"))
        .select(col("o_orderkey"), col("zvalue")).orderBy("o_orderkey")
    }),
    "q_events_hopping" -> ((s, d) => Relational.hoppingEventCounts(Tables.events(s, d))),
    "q_gap_fill" -> ((s, d) => Relational.gapFillEvents(Tables.events(s, d))),
    "q_histogram" -> ((s, d) =>
      Relational.histogram(Tables.lineitem(s, d), col("l_extendedprice"), 20)),
    "q_funnel" -> ((s, d) =>
      Relational.funnel(Tables.events(s, d), Seq("view", "click", "purchase"))),
    "q_retention" -> ((s, d) => Relational.retentionCohorts(Tables.events(s, d))),
    "text_bpe" -> ((s, d) => ext.Bpe.mergeTable(Tables.documents(s, d), 8)),
    "text_bpe_vocab" -> ((s, d) => ext.Bpe.subwordFrequencies(Tables.documents(s, d), 8)),
    "text_bpe_encode" -> ((s, d) => ext.Bpe.encodeCorpus(Tables.documents(s, d), 8)),
    // byte-level BPE (GPT lineage — the 4th subword family): UTF-8
    // bytes as hex symbols, multi-byte salt words split across symbols
    "text_bbpe_encode" -> ((s, d) => ext.ByteBpe.encodeCorpus(Tables.documents(s, d), 8)),
    // losslessness of the byte pipeline: decode(encode(x)) == the exact
    // in-universe token stream, graded against tokens derived directly
    "text_bbpe_decode" -> ((s, d) => ext.ByteBpe.decodeCorpus(Tables.documents(s, d), 8)),
    // GPT-2-style category-aware pre-tokenizer (lookahead-free form):
    // contractions, letter/number/punct runs with one leading space,
    // whitespace runs — the split byte-BPE consumes upstream
    "text_bbpe_pretok" -> ((s, d) =>
      ext.ByteBpe.pretokCorpus(Tables.documents(s, d))),
    // tokenizer fertility per language (subwords per word under the
    // trained vocabulary) — the cross-lingual tokenizer-quality report
    "text_bpe_fertility" -> ((s, d) =>
      ext.Bpe.fertilityReport(Tables.documents(s, d), 8)),
    // the production ingest shape: fit ONCE on the corpus, encode a NEW
    // batch with the frozen vocabulary — the derived corpus (each doc
    // concatenated with its vowel-rotated form) contains both in-vocab
    // and OOV words, so the merge-log replay path is exercised, not just
    // the trained-word join. Oracle replays the same merge log
    // sequentially (≡ the engine's disjoint-group replay, BpeSpec).
    "text_bpe_model_encode" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val derived = docs.withColumn("text",
        concat(col("text"), lit(" "), translate(col("text"), "aeiou", "eioua")))
      ext.Bpe.fit(docs, 8).encode(derived)
    }),
    "text_lm_score" -> ((s, d) => ext.LmScore.scoreDocuments(Tables.documents(s, d))),
    // interpolated Kneser-Ney bigram scoring (D=3/4 exact rational) —
    // the actual KenLM-filter smoothing, vs text_lm_score's add-one
    "text_kn_score" -> ((s, d) =>
      ext.LmScore.kneserNeyScoreDocuments(Tables.documents(s, d))),
    // incremental count maintenance: batch = doc_id % 4 == 0; the merged
    // totals must equal a full recount of the whole corpus
    "pipeline_merge_counts" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      ext.Incremental.mergeCounts(
        WordCount.wordCount(docs.filter(pmod(col("doc_id"), lit(4)) =!= 0)),
        WordCount.wordCount(docs.filter(pmod(col("doc_id"), lit(4)) === 0)))
    }),
    "q_transitions" -> ((s, d) => Relational.eventTransitions(Tables.events(s, d))),
    // two-path skew join: orders with >7 lineitems take the salted path,
    // the rest the plain shuffle join; result identical to a plain join
    "q_skew_join" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val ord = Tables.orders(s, d).withColumnRenamed("o_orderkey", "l_orderkey")
      rel.SkewJoin.skewAwareJoin(li, ord, "l_orderkey", 7L, 4,
          Seq(col("l_orderkey"), col("l_linenumber")))
        .groupBy("o_orderpriority")
        .agg(sum(Relational.cents(col("l_extendedprice"))).as("revenue_cents"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    }),
    // the SAME join without the manual salt, handed to Spark's own AQE
    // skew splitter under scoped runtime settings (aggressive advisory/
    // threshold bytes, restored after the eager bounded run) — the
    // runtime re-planner and the declarative salted path must agree
    "q_skew_join_aqe" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val ord = Tables.orders(s, d).withColumnRenamed("o_orderkey", "l_orderkey")
      rel.SkewJoin.aqeSkewJoinAgg(s, li, ord, "l_orderkey", joined =>
        joined.groupBy("o_orderpriority")
          .agg(sum(Relational.cents(col("l_extendedprice"))).as("revenue_cents"),
            count(lit(1)).as("n"))
          .orderBy("o_orderpriority"))
    }),
    "ii_postings_str" -> ((s, d) => InvertedIndex.postingsString(Tables.documents(s, d))),
    // ---- extensions: deduplication ----
    "dedup_exact" -> ((s, d) => Dedup.exactKeepIds(Tables.documents(s, d))),
    "dedup_minhash" -> ((s, d) =>
      Dedup.minhashFlat(Tables.documents(s, d), 3, 8, Dedup.polyHash)
        .select(col("doc_id"), col("h_idx").cast("long").as("h_idx"), col("minhash"))),
    "dedup_lsh_bands" -> ((s, d) =>
      Dedup.lshBandStats(Tables.documents(s, d), 3, 8, 4, Dedup.polyHash)),
    "dedup_simhash" -> ((s, d) =>
      Dedup.simhash(Tables.documents(s, d), 30, Dedup.polyHash)),
    // pigeonhole block join for Hamming <= 3 pairs; the exact all-pairs
    // oracle makes the hash-match a recall-completeness proof
    "dedup_simhash_pairs" -> ((s, d) =>
      Dedup.simhashPairs(Tables.documents(s, d), 30, 3, Dedup.polyHash)),
    // maxDf: finite hot-shingle guard (skew + quality at web scale),
    // mirrored exactly by the oracle's df filter
    "dedup_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, d), 3, maxDf = 1000L)
        .orderBy(col("jaccard").desc, col("a"), col("b")).limit(50)),
    // prefix-filtered exact threshold Jaccard: the oracle is the NAIVE
    // full inverted join — output equivalence is the pruning's contract.
    // t=0.8 is the operator's measured regime (high-threshold near-dup
    // mining; see the prefixJaccardPairs Scaladoc for the measured
    // numbers): at low t the prefix keeps most of the index and the
    // plain inverted join (dedup_ngram_jaccard) is the right tool
    "dedup_jaccard_prefix" -> ((s, d) =>
      Dedup.prefixJaccardPairs(Tables.documents(s, d), 0.8, 3)
        .orderBy("a", "b")),
    // polyHash (not the default xxhash64) so the LSH candidate generation
    // is reproducible in SQL — these three are fully oracle-checked
    "dedup_minhash_neardups" -> ((s, d) =>
      Dedup.minhashNearDuplicates(Tables.documents(s, d), 0.3, 3, 64, 16, Dedup.polyHash)),
    // LSH index-quality report: banded candidates graded against the
    // exact thresholded truth — the dedup-side recall monitor
    "dedup_lsh_quality" -> ((s, d) =>
      Dedup.lshQualityReport(Tables.documents(s, d), 0.8, 3, 64, 16, Dedup.polyHash)),
    "dedup_clusters" -> ((s, d) =>
      Dedup.nearDupClusters(Tables.documents(s, d), 0.3, Dedup.polyHash)),
    // semantic (embedding-space) near-dup dedup; id range bounded so the
    // all-pairs oracle stays n² on 500 vectors, threshold picked where
    // this corpus has real cluster structure (~60 pairs)
    "dedup_embedding" -> ((s, d) =>
      Dedup.embeddingNearDupClusters(
        Tables.embeddings(s, d).filter(col("vec_id") < 500), 0.4)),
    // provenance audit of the clean run: one row per INPUT doc with the
    // first gate that dropped it (quality | exact_dup | near_dup | kept)
    // and the retained representative — "why was my document dropped"
    "pipeline_clean_audit" -> ((s, d) =>
      ext.TrainingPipeline.cleanCorpusAudit(Tables.documents(s, d), 0.3,
        baseHash = Dedup.polyHash)),
    "pipeline_clean_corpus" -> ((s, d) =>
      ext.TrainingPipeline.cleanCorpus(Tables.documents(s, d), 0.3, baseHash = Dedup.polyHash)
        .select("doc_id", "lang", "source")),
    // the full crawl-to-corpus chain in ONE declarative plan: planted
    // HTML -> extraction -> the same quality gate -> near-dup clusters
    // -> keep-one pipeline, now over the EXTRACTED text (shared nav
    // chrome rides into every doc and must not fuse unrelated docs)
    "pipeline_crawl_corpus" -> ((s, d) => {
      val base = Tables.documents(s, d)
      val crawl = ext.Html.extract(ext.Html.htmlDocs(base))
        .select(col("doc_id"), col("text"))
        .join(base.select("doc_id", "lang", "source"), Seq("doc_id"))
      ext.TrainingPipeline.cleanCorpus(crawl, 0.3, baseHash = Dedup.polyHash)
        .select(col("doc_id"), col("lang"), col("source"),
          length(col("text")).cast("long").as("n_chars"))
    }),
    // the frontier side of the same crawl: extracted links + sitemap
    // entries -> canonicalize -> robots gate ON THE CANONICAL PATH ->
    // dedup into the fetch frontier (a robots-blocked sitemap entry
    // must vanish; a cased/www/port/tracking-divergent link pair must
    // collapse to one frontier row)
    "pipeline_crawl_frontier" -> ((s, d) =>
      ext.Frontier.crawlFrontier(Tables.documents(s, d))),
    // politeness scheduling over the deduped frontier: per-host FIFO
    // waves of at most 2 fetches (one host-partitioned window — spreads
    // at crawl scale; never a global sort)
    "url_politeness" -> ((s, d) =>
      ext.Frontier.politenessWaves(Tables.documents(s, d))),
    // the frontier MAINTAINED across micro-batches: the same candidate
    // projection per wave, dropDuplicates state as the seen-set — a URL
    // re-announced by a later wave never re-lands
    "stream_frontier" -> ((s, d) =>
      streaming.EventsStream.frontierStreamLanded(s, d)),
    // one full crawl CYCLE: wave-1 frontier -> fetch -> extract ->
    // gate -> wave-2 minus the wave-1 seen-set (self-links die, the
    // blocked deeper link dies, the hub link collapses to one row)
    "pipeline_crawl_cycle" -> ((s, d) =>
      ext.Frontier.crawlCycle(Tables.documents(s, d))),
    "pipeline_split" -> ((s, d) =>
      ext.TrainingPipeline.assignSplits(Tables.documents(s, d))),
    // leakage-safe variant: split buckets hash the near-dup CLUSTER id
    // (threshold/hash match dedup_clusters, where this corpus has real
    // cluster structure), so near-duplicates never straddle train/val
    "pipeline_split_safe" -> ((s, d) =>
      ext.TrainingPipeline.assignSplitsByCluster(Tables.documents(s, d),
        nearDupThreshold = 0.3, baseHash = Dedup.polyHash)),
    // semantic-granularity variant: clusters from embedding cosine (same
    // bounded-id/threshold regime as dedup_embedding so the all-pairs
    // oracle stays n²), catching paraphrase leakage the LSH split can't
    "pipeline_split_safe_emb" -> ((s, d) =>
      ext.TrainingPipeline.assignSplitsByEmbeddingCluster(
        Tables.embeddings(s, d).filter(col("vec_id") < 500), threshold = 0.4)),
    // SEMANTIC decontamination: eval set = vec_id < 50, corpus bounded to
    // [50, 550) so the all-pairs oracle stays n·m; threshold 0.4 flags a
    // dozen cross-side paraphrase-level matches on this corpus
    "pipeline_decon_embedding" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.crossCosinePairs(
        emb.filter(col("vec_id") >= 50 && col("vec_id") < 550),
        emb.filter(col("vec_id") < 50), 0.4)
    }),
    // benchmark decontamination: docs with doc_id % 19 == 0 stand in for
    // the eval/benchmark set; the report covers the remaining train docs
    "pipeline_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      ext.TrainingPipeline.contaminationReport(
        docs.filter(pmod(col("doc_id"), lit(19)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(19)) === 0), n = 4)
    }),
    // the flip side: per BENCHMARK item, how compromised the eval is
    "pipeline_eval_contamination" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      ext.TrainingPipeline.evalContamination(
        docs.filter(pmod(col("doc_id"), lit(19)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(19)) === 0), n = 4)
    }),
    "pipeline_mixture" -> ((s, d) =>
      ext.TrainingPipeline.mixtureSample(Tables.documents(s, d), Seq("en" -> 75, "zh" -> 40), 20)
        .select("doc_id", "lang").orderBy("doc_id")),
    // data-derived mixture: keep-rates ∝ sqrt(stratum size) (temperature
    // α = 0.5), scaled to a 50% corpus budget — exact integer rate math
    "pipeline_temperature" -> ((s, d) =>
      ext.TrainingPipeline.temperatureMixture(Tables.documents(s, d), targetPct = 50)
        .select("doc_id", "lang").orderBy("doc_id")),
    "pipeline_pack" -> ((s, d) =>
      ext.TrainingPipeline.packSequences(Tables.documents(s, d), 2048)),
    // the materialized form: one EOS-terminated token-id stream per bin
    "pipeline_pack_tokens" -> ((s, d) =>
      ext.TrainingPipeline.packedBatches(Tables.documents(s, d), 2048)),
    // incremental ingest: even-id docs stand in for the new batch, ids not
    // divisible by 3 for the already-ingested corpus — the overlap (even,
    // non-multiple-of-3 ids) makes the batch ~2/3 duplicates, exercising
    // both the bloom fast path and the verify join
    "pipeline_ingest" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      ext.Incremental.newDocuments(
        docs.filter(pmod(col("doc_id"), lit(3)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(2)) === 0))
        .select("doc_id", "n_chars").orderBy("doc_id")
    }),
    "pipeline_stratified" -> ((s, d) =>
      ext.TrainingPipeline.stratifiedSample(Tables.documents(s, d), "lang", 20)
        .select("doc_id", "lang")
        // nulls LAST to match DuckDB's ASC default (Spark defaults first)
        .orderBy(col("lang").asc_nulls_last, col("doc_id"))),
    // ---- extensions: similarity search ----
    "sim_topk" -> ((s, d) =>
      Similarity.bruteForceTopK(Tables.embeddings(s, d), 0L until 8L, 5)),
    "sim_knn_classify" -> ((s, d) =>
      Similarity.knnClassify(Tables.embeddings(s, d), 0L until 8L, 5)),
    // Matryoshka two-stage retrieval: coarse prefix-dim (16 of 64) pass
    // keeps 25 candidates; exact full-dim cosine re-ranks to top-5
    "sim_matryoshka" -> ((s, d) =>
      Similarity.matryoshkaTopK(Tables.embeddings(s, d), 0L until 8L, 5)),
    // binary-quantization retrieval: 16-byte sign-bit signatures, coarse
    // Hamming pass keeps 25 candidates, exact cosine re-ranks to top-5
    "sim_hamming" -> ((s, d) =>
      Similarity.hammingTopK(Tables.embeddings(s, d), 0L until 8L, 5)),
    // contrastive hard negatives: top-5 cosine among vectors OUTSIDE the
    // query's semantic near-dup cluster (id range bounded like
    // dedup_embedding so the oracle's all-pairs chain stays n²-bounded)
    "sim_hard_negatives" -> ((s, d) =>
      Similarity.hardNegatives(
        Tables.embeddings(s, d).filter(col("vec_id") < 500), 0L until 8L, 5, 0.4)),
    // its recall monitor against the exact brute force (same generic
    // recallReport the LSH/IVF/PQ families use)
    "sim_recall_mrl" -> ((s, d) =>
      Similarity.recallReport(
        Similarity.matryoshkaTopK(Tables.embeddings(s, d), 0L until 8L, 5),
        Similarity.bruteForceTopK(Tables.embeddings(s, d), 0L until 8L, 5))),
    "sim_recall_ham" -> ((s, d) =>
      Similarity.recallReport(
        Similarity.hammingTopK(Tables.embeddings(s, d), 0L until 8L, 5),
        Similarity.bruteForceTopK(Tables.embeddings(s, d), 0L until 8L, 5))),
    // rank-aware index quality: where the true nearest lands in the list
    "sim_mrr_ham" -> ((s, d) =>
      Similarity.mrrReport(
        Similarity.hammingTopK(Tables.embeddings(s, d), 0L until 8L, 5),
        Similarity.bruteForceTopK(Tables.embeddings(s, d), 0L until 8L, 5))),
    // exact snapped-integer Rocchio: whole-corpus confusion matrix
    "sim_centroid_confusion" -> ((s, d) =>
      ext.Classify.centroidConfusion(Tables.embeddings(s, d))),
    "sim_cosine_pairs" -> ((s, d) =>
      Similarity.topCosinePairs(
        Tables.embeddings(s, d).filter(col("vec_id") < 500), 50)),
    "sim_ann_lsh" -> ((s, d) =>
      Similarity.lshTopK(Tables.embeddings(s, d), 0L until 8L, 5, 8)),
    // index-quality monitoring: recall@5 of the LSH index against exact
    // brute force on the probe set — both sides deterministic, so the
    // report itself is exact-match gradeable
    "sim_recall_lsh" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.recallReport(
        Similarity.lshTopK(emb, 0L until 8L, 5, 8),
        Similarity.bruteForceTopK(emb, 0L until 8L, 5))
    }),
    // the same production-shaped recall monitor over the other two index
    // families — recallReport is generic over any (ann, exact) top-k pair
    "sim_recall_ivf" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.recallReport(
        ext.Ivf.ivfTopKSnapped(emb, 0L until 8L, 5, 16, 4, iters = 2),
        Similarity.bruteForceTopK(emb, 0L until 8L, 5))
    }),
    "sim_recall_pq" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.recallReport(
        ext.Pq.pqTopKSnapped(emb, 0L until 8L, 5, m = 4, ksub = 16, iters = 3),
        Similarity.bruteForceTopK(emb, 0L until 8L, 5))
    }),
    "sim_label_stats" -> ((s, d) => Similarity.labelStats(Tables.embeddings(s, d))),
    // iters=2: measured — top-5 recall at nprobe=4/16 is
    // 1.000 at 1-2 Lloyd rounds and DROPS to 0.95-0.975 at 3-5 (tighter
    // cells spread true neighbors past the probe budget), so extra
    // rounds cost time and recall here; library default stays 5.
    // Snapped variant: identical shape, integer-exact index → the
    // candidate set (and so the result) is oracle-replayable.
    "sim_ivf" -> ((s, d) =>
      ext.Ivf.ivfTopKSnapped(Tables.embeddings(s, d), 0L until 8L, 5, 16, 4, iters = 2)),
    // iters=3: measured on this corpus, PQ recall is
    // flat across 1..5 Lloyd rounds (0.175-0.225, noise band) — the
    // near-isotropic synthetic embeddings plateau immediately, so the
    // benchmark exercises a measured-adequate setting; the library
    // default stays at the conservative 5. Snapped variant: exact
    // integer codebooks + unshifted-integer ADC → oracle-replayable.
    "sim_pq" -> ((s, d) =>
      ext.Pq.pqTopKSnapped(Tables.embeddings(s, d), 0L until 8L, 5, m = 4, ksub = 16, iters = 3)),
    // ---- extensions: text analysis ----
    "text_stats" -> ((s, d) => TextStats.tokenStats(Tables.documents(s, d))),
    "text_quality" -> ((s, d) => TextStats.qualityScores(Tables.documents(s, d))),
    "text_gopher" -> ((s, d) => TextStats.gopherQualityFlags(Tables.documents(s, d))),
    "text_chunks" -> ((s, d) => TextStats.chunkDocuments(Tables.documents(s, d), 32, 24)),
    // content-defined chunking: every boundary decision (rolling-window
    // mask hit) is under grade, not just the chunk counts
    "text_cdc_chunks" -> ((s, d) => TextStats.cdcChunks(Tables.documents(s, d))),
    // hashing-trick vectorizer: vocabulary-free fixed-width features via
    // codegen'd higher-order fns; bucket AND sign both under grade
    "text_hashing_tf" -> ((s, d) => TextStats.hashingTf(Tables.documents(s, d))),
    "text_langid" -> ((s, d) => TextStats.languageId(Tables.documents(s, d))),
    "text_fingerprint" -> ((s, d) => TextStats.fingerprints(Tables.documents(s, d))),
    "text_tfidf" -> ((s, d) => TextStats.tfIdfTopK(Tables.documents(s, d), 5)),
    "text_bigrams" -> ((s, d) => TextStats.topNgrams(Tables.documents(s, d), 2, 20)),
    "text_pmi" -> ((s, d) => TextStats.pmiCollocations(Tables.documents(s, d), 50, 5)),
    "text_scrub" -> ((s, d) => TextStats.scrub(Tables.documents(s, d))),
    // PII scrub graded on REAL removals: the corpus ships digit-free, so
    // deterministic id-derived footers (phone, IPv4, card run, email)
    // are injected first — identical string ops in the oracle — and the
    // scrubber must remove and account for every one
    // checksum-VALIDATED card scrubbing: a 16-digit run is planted per
    // doc whose Luhn validity falls deterministically out of the id;
    // only valid runs mask, a too-short 12-digit run never matches —
    // the over-fire a regex-only card pass cannot avoid
    "text_luhn_scrub" -> ((s, d) => {
      val id = col("doc_id")
      val planted = concat(col("text"),
        lit(" pay 4"),
        lpad(((id * 7919) % 100000000000000L).cast("string"), 14, "0"),
        (id % 10).cast("string"),
        lit(" ref 123456789012 x"))
      ext.TextStats.luhnScrub(
        Tables.documents(s, d).withColumn("text", planted))
    }),
    "text_scrub_pii" -> ((s, d) => {
      val id = col("doc_id")
      val footer = concat(
        when(id % 5 === 0, concat(lit(" contact +1 (202) 555-"),
          lpad((id % 10000).cast("string"), 4, "0"), lit(" now"))).otherwise(lit("")),
        when(id % 7 === 0, concat(lit(" from 10."),
          (id % 256).cast("string"), lit("."), ((id * 7) % 256).cast("string"), lit("."),
          ((id * 13) % 250).cast("string"), lit(" logged"))).otherwise(lit("")),
        when(id % 11 === 0, concat(lit(" card 4111111111"),
          lpad((id % 100).cast("string"), 2, "0"), lit("1111 used"))).otherwise(lit("")),
        when(id % 13 === 0, concat(lit(" mail user"), id.cast("string"),
          lit("@example.com sent"))).otherwise(lit("")))
      TextStats.scrubPii(
        Tables.documents(s, d).withColumn("text", concat(col("text"), footer)))
    }),
    "text_tfidf_pairs" -> ((s, d) =>
      TextStats.tfIdfCosinePairs(Tables.documents(s, d), 50, maxDf = 1000L)),
    "text_repetition" -> ((s, d) => TextStats.repetitionStats(Tables.documents(s, d))),
    "text_vocab" -> ((s, d) => TextStats.vocabulary(Tables.documents(s, d))),
    // tokenizer health: per-doc OOV rate vs the frozen top-24 dictionary
    "text_oov" -> ((s, d) => TextStats.oovReport(Tables.documents(s, d), 24)),
    // Flesch reading ease (vowel-group syllables, terminator-run sentences)
    "text_readability" -> ((s, d) => TextStats.readability(Tables.documents(s, d))),
    // originality: share of a doc's distinct bigrams unique to it
    "text_novelty" -> ((s, d) => TextStats.ngramNovelty(Tables.documents(s, d))),
    "text_encode" -> ((s, d) => TextStats.encodeDocumentsFlat(Tables.documents(s, d))),
    // span-level exact dedup: sub-document granularity (repeated 3-token
    // spans collapse to their first corpus occurrence)
    "dedup_spans" -> ((s, d) => Dedup.spanDedup(Tables.documents(s, d), 3)),
    // exact-substring duplicate spans via the distributed suffix-array
    // prefix-doubling sort — catches duplicates straddling dedup_spans'
    // quantized windows; maximal merged spans of duplicated 8-grams
    "dedup_suffix" -> ((s, d) =>
      Dedup.suffixDuplicateSpans(Tables.documents(s, d), 8)),
    // EXACT longest-duplicate-substring per doc (token length + smallest
    // start) via the full prefix-doubling ladder + rank-table LCP
    // descent — the un-quantized Lee et al. report dedup_suffix rounds
    // to L-gram granularity
    "dedup_suffix_lcp" -> ((s, d) =>
      Dedup.suffixLcpReport(Tables.documents(s, d))),
    // cross-corpus exact-substring CONTAMINATION (the Lee et al.
    // decontamination shape): eval docs (derived — leaked prefixes for
    // %17=0, guaranteed-novel text for %17=5) scanned for spans whose
    // every 8-gram also occurs in TRAIN; eval-only repetition not counted
    "dedup_suffix_cross" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val leaked = docs.filter(col("doc_id") % 17 === 0)
        .select((col("doc_id") + 5000000L).as("doc_id"),
          substring(col("text"), 1, 80).as("text"))
      val novel = docs.filter(col("doc_id") % 17 === 5)
        .select((col("doc_id") + 6000000L).as("doc_id"),
          concat(lit("zqxeval "), col("doc_id").cast("string"),
            lit(" wholly novel benchmark prompt")).as("text"))
      Dedup.suffixCrossContamination(docs, leaked.unionByName(novel), 8)
    }),
    "text_entropy" -> ((s, d) => TextStats.charEntropy(Tables.documents(s, d))),
    "pipeline_shuffle" -> ((s, d) =>
      ext.TrainingPipeline.shuffleShardsAuto(Tables.documents(s, d), rowsPerShard = 64)),
    // DPO/RLHF data prep: best-vs-worst pair per (source, lang) on the
    // bigram-LM quality signal (corpus-likeness, not the stopword proxy)
    "pipeline_preference_pairs" -> ((s, d) =>
      ext.TrainingPipeline.preferencePairsLm(Tables.documents(s, d))),
    // curriculum schedule: global LM-quality rank via two-phase prefix sum
    "pipeline_curriculum" -> ((s, d) =>
      ext.TrainingPipeline.curriculumPhasesLm(Tables.documents(s, d), 4)),
    "sim_dim_stats" -> ((s, d) => Similarity.dimStats(Tables.embeddings(s, d))),
    // per-dimension distribution shift between two snapshot halves
    "sim_dim_drift" -> ((s, d) => Similarity.dimDrift(Tables.embeddings(s, d))),
    "q_mode" -> ((s, d) => Relational.modeQuantity(Tables.lineitem(s, d))),
    "q_regex_extract" -> ((s, d) => Relational.partNameWords(Tables.part(s, d), 25)),
    "q_approx_quantile" -> ((s, d) => Relational.approxPriceQuantiles(Tables.lineitem(s, d))),
    // ---- extensions: multimodal columns ----
    "mm_features" -> ((s, d) =>
      Multimodal.featuresQuery(s, Tables.documents(s, d))),
    // full baseline JPEG pipeline over REAL entropy-coded fixtures:
    // Huffman decode -> dequant -> IDCT -> chroma upsample -> YCbCr->RGB;
    // constant-color DC-only blocks decode exactly, so the means are the
    // closed-form integer color round trip (both 4:4:4 and 4:2:0 graded)
    "mm_jpeg_pixels" -> ((s, d) =>
      Multimodal.jpegPixelsQuery(s, Tables.documents(s, d))),
    // PROGRESSIVE (SOF2) twin: multi-scan accumulation must land on the
    // identical pixels; scan count grades the container walk (5/11)
    "mm_jpeg_progressive" -> ((s, d) =>
      Multimodal.jpegProgressiveQuery(s, Tables.documents(s, d))),
    // EXIF/APP1 round trip through real JPEG bytes: TIFF IFD walk in
    // BOTH byte orders (II even ids / MM odd), inline + spilled values,
    // ASCII/SHORT/LONG/RATIONAL types — the most common image-metadata
    // format, completing the family next to PNG tEXt / WAV INFO / MP4
    "mm_jpeg_exif" -> ((s, d) =>
      ext.Exif.jpegExifQuery(s, Tables.documents(s, d))),
    "mm_frames" -> ((s, d) =>
      Multimodal.sampleFrames(Multimodal.asMediaTable(Tables.documents(s, d)))),
    // real ISO-BMFF container walk: box nesting, mvhd/tkhd headers,
    // stts/stsz/stco sample tables; the checksum runs over sample bytes
    // extracted VIA the table, proving the offset arithmetic
    "mm_mp4_meta" -> ((s, d) => ext.Mp4.mp4Query(s, Tables.documents(s, d))),
    // video frame extraction: MJPEG samples located via the stsc/stco/
    // stsz walk, each decoded as a full baseline JPEG — per-frame means
    // against the closed-form YCbCr round trip
    "mm_mp4_frames" -> ((s, d) =>
      ext.Mp4.mjpegFramesQuery(s, Tables.documents(s, d))),
    // real decoded dims are small; maxDim=10 keeps the clamp branch live
    "mm_resize" -> ((s, d) =>
      Multimodal.resizePlan(
        Multimodal.featuresQuery(s, Tables.documents(s, d))
          .select("media_id", "width", "height"), maxDim = 10)),
    "mm_dedup" -> ((s, d) =>
      Multimodal.exactPayloadDedup(Multimodal.asMediaTable(Tables.documents(s, d)))),
    // real WAV (RIFF) audio decode over real encoded fixtures — the audio
    // face of the multimodal codec (chunk walk, PCM s16le sample decode)
    "mm_audio" -> ((s, d) => Multimodal.audioQuery(s, Tables.documents(s, d))),
    // spectral features: multi-tone PCM across all three bit depths,
    // integer-contract DFT (shared sine LUT) at planted + empty bins
    "mm_audio_tones" -> ((s, d) =>
      Multimodal.audioTonesQuery(s, Tables.documents(s, d))),
    // windowed DFT frames over a NON-stationary signal (tones shift one
    // bin between windows) — the energy must move frame to frame
    "mm_audio_spectrogram" -> ((s, d) =>
      Multimodal.audioSpectrogramQuery(s, Tables.documents(s, d))),
    // RIFF LIST/INFO metadata round trip — the audio sibling of mm_png_text
    "mm_wav_info" -> ((s, d) => Multimodal.wavInfoQuery(s, Tables.documents(s, d))),
    // real PNG decode over real encoded fixtures: CRC-verified chunk walk,
    // zlib inflate (Inflater), full scanline unfilter across all 5 filter
    // types, per-channel means for gray/RGB/RGBA
    "mm_png" -> ((s, d) => Multimodal.pngQuery(s, Tables.documents(s, d))),
    // GIF through the real variable-width LZW decode (9->12-bit growth,
    // interlace for odd ids); the positional checksum catches any
    // deinterlace or row-order fault channel means are blind to
    "mm_gif" -> ((s, d) => ext.Gif.gifQuery(s, Tables.documents(s, d))),
    // animated GIF: every image block decoded (GCE delays, NETSCAPE
    // loop count), cross-frame positional checksum — dropped/reordered/
    // double-decoded frames scramble it
    "mm_gif_anim" -> ((s, d) => ext.Gif.gifAnimQuery(s, Tables.documents(s, d))),
    // full animation SEMANTICS: sub-canvas rects composited onto the
    // canvas with draw-through transparency, restore-background
    // disposal, and overlap — one checksum per emitted canvas
    "mm_gif_composite" -> ((s, d) => ext.Gif.gifCompositeQuery(s, Tables.documents(s, d))),
    // tEXt metadata round trip through the CRC-verified chunk walk
    "mm_png_text" -> ((s, d) => Multimodal.pngTextQuery(s, Tables.documents(s, d))),
    "sim_mips" -> ((s, d) =>
      Similarity.mipsTopK(Tables.embeddings(s, d), 0L until 8L, 5)),
    "q_array_agg" -> ((s, d) => Relational.orderQuantityProfile(Tables.lineitem(s, d))),
    "q_time_weighted" -> ((s, d) => Relational.timeWeightedValue(Tables.events(s, d))),
    // bucketed-lake co-located join: both lake tables bucket-stamped in
    // the log, so the sort-merge join runs with no join-key Exchange
    // (asserted in-query); the result is identical to the plain join
    // the oracle runs
    "lake_bucket_join" -> ((s, d) =>
      sources.GraftLakeCatalog.sqlBucketJoinQuery(s, d, "bucket")),
    // lake OPTIMIZE: 64 tiny ingest landings bin-packed (no shuffle —
    // coalesce) into ~target-size files in one commit; graded on exact
    // content preservation, the one thing compaction must never change
    "lake_compact" -> ((s, d) =>
      ext.LakeTxn.compactQuery(s, Tables.documents(s, d), d)),
    // range-partitioned sorted write with per-file min/max in the log; a
    // selective band read prunes the file list from it — 1-D data skipping
    "lake_sorted_write" -> ((s, d) =>
      ext.LakeTxn.skippingQuery(s, Tables.orders(s, d), d, "sorted")),
    // GLOBAL total order via RangePartitioning (sampled bounds, never a
    // single-partition sort) — the write-side sibling grades the files,
    // this grades the order itself
    "q_global_sort" -> ((s, d) =>
      Tables.orders(s, d).select(col("o_orderkey"),
        Relational.cents(col("o_totalprice")).as("price_cents"),
        col("o_orderstatus"))
        .orderBy(col("price_cents").desc, col("o_orderkey"))),
    // transactional table: appends + file-pruned copy-on-write delete +
    // compaction, every state change one atomic commit in the mini
    // commit log; graded on the final snapshot content
    "lake_txn" -> ((s, d) => ext.LakeTxn.txnQuery(s, Tables.documents(s, d), d)),
    // time travel: the same life cycle read AT VERSION 1 — removes only
    // unpin, so the pre-delete/pre-compaction corpus must still read
    "lake_time_travel" -> ((s, d) =>
      ext.LakeTxn.timeTravelQuery(s, Tables.documents(s, d), d)),
    // the commit log ITSELF as a frame: per-version add/remove/row
    // counts against a closed-form oracle (deterministic file counts)
    "lake_txn_log" -> ((s, d) => ext.LakeTxn.logQuery(s, Tables.documents(s, d), d)),
    // one MERGE commit with updates+inserts+deletes applied file-pruned
    // copy-on-write through the log — the CDC apply at lake scale
    "lake_txn_cdc" -> ((s, d) => ext.LakeTxn.cdcQuery(s, Tables.documents(s, d), d)),
    // retention-bounded physical deletion: vacuum keeps only the latest
    // snapshot's files; live content must be byte-identical
    "lake_vacuum" -> ((s, d) => ext.LakeTxn.vacuumQuery(s, Tables.documents(s, d), d)),
    // change data feed OUT of the lake: time travel + content-hash diff
    // between two committed versions (added/changed/removed/unchanged)
    "lake_txn_cdf" -> ((s, d) => ext.LakeTxn.cdfQuery(s, Tables.documents(s, d), d)),
    // log checkpoint: the read folds checkpoint + Δ commits, O(Δ) not
    // O(table lifetime) — content identical to the full fold
    "lake_txn_checkpoint" -> ((s, d) =>
      ext.LakeTxn.checkpointQuery(s, Tables.documents(s, d), d)),
    // streaming micro-batches committing exactly-once into the txn log
    // (idempotence markers); the landed table read back through the log
    "stream_lake_txn" -> ((s, d) => ext.LakeTxn.streamIngestQuery(s, d)),
    // TWO writer threads racing append commits through the put-if-absent
    // protocol (no lock; losers re-claim at the new head), then an
    // optimistic compaction — a lost update drops a batch from the result
    "lake_txn_concurrent" -> ((s, d) =>
      ext.LakeTxn.concurrentQuery(s, Tables.documents(s, d), d)),
    // per-file min/max recorded IN the commit log at write time; the
    // selective band read prunes the file list from the log alone (zero
    // footer opens — the spec corrupts skipped files and still reads)
    "lake_txn_skipping" -> ((s, d) =>
      ext.LakeTxn.skippingQuery(s, Tables.orders(s, d), d, "skip")),
    // MERGE-ON-READ delete: deletion vectors (file basename + row
    // position, from _metadata.row_index) tombstone rows in ONE commit
    // with zero data files rewritten; the read anti-joins them away —
    // the write-cheap half of the delete trade-off next to the CoW path
    "lake_txn_dv" -> ((s, d) =>
      ext.LakeTxn.dvQuery(s, Tables.documents(s, d), d)),
    // schema evolution through the log: a new column arrives with its
    // data in ONE commit (schema-on-log); pre-evolution files null-fill
    // it at read time — zero rewrites, zero footer merging
    "lake_txn_evolve" -> ((s, d) =>
      ext.LakeTxn.evolveQuery(s, Tables.documents(s, d), d)),
    // the lake tailed AS A STREAM: a DataSource V2 MicroBatchStream
    // whose offsets are log versions — four append commits delivered
    // one per micro-batch across TWO AvailableNow passes sharing a
    // checkpoint (the second resumes from the recorded offset)
    "stream_lake_source" -> ((s, d) => sources.LakeStream.streamSourceQuery(s, d)),
    // z-order clustered append: per-file min/max of BOTH curve
    // dimensions in the log; a 2-D box answered with zero footer opens
    "lake_txn_zorder" -> ((s, d) =>
      ext.LakeTxn.zorderQuery(s, Tables.orders(s, d), d)),
    // per-file bloom filters in the add actions: a 40-key point-lookup
    // batch opens only files whose filter might hold some probe
    "lake_txn_bloom" -> ((s, d) =>
      ext.LakeTxn.bloomQuery(s, Tables.documents(s, d), d)),
    // the connector's BATCH half: Catalyst-pushed filters prune the
    // file list from the log's recorded 2-D stats inside the V2 scan
    "lake_v2_batch" -> ((s, d) => sources.LakeStream.v2BatchQuery(s, d)),
    // the connector's WRITE half: per-task staging, one atomic log
    // commit per write, constraints + protocol gates apply
    "lake_v2_write" -> ((s, d) => sources.LakeStream.v2WriteQuery(s, d)),
    // the SQL DDL surface: CREATE/INSERT/ALTER ADD COLUMN/SELECT in
    // pure SQL through the V2 TableCatalog resolving over the log
    "lake_sql_ddl" -> ((s, d) => sources.GraftLakeCatalog.sqlDdlQuery(s, d)),
    // SQL DELETE FROM through the catalog: merge-on-read DV commits,
    // zero data files rewritten, the SELECT sees exactly the survivors
    "lake_sql_delete" -> ((s, d) => sources.GraftLakeCatalog.sqlDeleteQuery(s, d)),
    // the SQL maintenance surface: CALL cat.system.{merge, checkpoint,
    // compact, vacuum} running the lake's state changes from pure SQL
    "lake_sql_call" -> ((s, d) => sources.GraftLakeCatalog.sqlCallQuery(s, d)),
    // SQL UPDATE as group-based copy-on-write: the runtime group filter
    // rewrites only matching files; sequential updates compound
    "lake_sql_update" -> ((s, d) => sources.GraftLakeCatalog.sqlUpdateQuery(s, d)),
    // native MERGE INTO: matched-delete/update + not-matched-insert in
    // one atomic row-level commit
    "lake_sql_merge" -> ((s, d) => sources.GraftLakeCatalog.sqlMergeQuery(s, d)),
    // MERGE-ON-READ update via CALL update_where: adds + deletion
    // vector only, zero data files removed (asserted in the query)
    "lake_sql_update_mor" -> ((s, d) =>
      sources.GraftLakeCatalog.sqlUpdateMorQuery(s, d)),
    // MERGE-ON-READ CDC apply: the lake_txn_cdc batch as tombstones +
    // appends in one commit, zero data files removed
    "lake_txn_cdc_mor" -> ((s, d) =>
      ext.LakeTxn.cdcMorQuery(s, Tables.documents(s, d), d)),
    // CREATE TABLE ... PARTITIONED BY in pure SQL: per-value staged
    // files lacking the column, log-pruned partition reads
    "lake_sql_partitioned" -> ((s, d) =>
      sources.GraftLakeCatalog.sqlPartitionedQuery(s, d)),
    // INSERT OVERWRITE ... PARTITION: one atomic scoped remove+add
    // commit rebuilds exactly the named partition
    "lake_sql_insert_overwrite" -> ((s, d) =>
      sources.GraftLakeCatalog.sqlInsertOverwriteQuery(s, d)),
    // SELECT ... VERSION AS OF through the SQL parser, incl. the
    // below-vacuum-horizon refusal through SQL
    "lake_sql_time_travel" -> ((s, d) =>
      sources.GraftLakeCatalog.sqlTimeTravelQuery(s, d)),
    // the change data feed in pure SQL: CALL table_changes(from, to)
    // returns the row-level diff between two committed versions
    "lake_sql_cdf" -> ((s, d) =>
      sources.GraftLakeCatalog.sqlCdfQuery(s, d)),
    // bucketed tables through the TRANSACTIONAL connector: bucket ids
    // in the log, KeyGroupedPartitioning reported, storage-partitioned
    // join with zero join-key Exchange (asserted in-query)
    "lake_txn_bucket_join" -> ((s, d) =>
      sources.GraftLakeCatalog.sqlBucketJoinQuery(s, d, "sqlbkt")),
    // readStream.table through the catalog: same micro-batch stream as
    // the path API, restart-resume over one checkpoint
    "stream_lake_catalog" -> ((s, d) =>
      sources.GraftLakeCatalog.streamCatalogQuery(s, d)),
    // merge-on-read COLUMNAR: a DV'd z-table stays on the vectorized
    // reader, each batch compacted against the tombstone ordinals
    "lake_v2_batch_dv" -> ((s, d) => sources.LakeStream.v2BatchDvQuery(s, d)),
    // truncated UTF-8 string bands in the stats map: text predicates
    // (the crawl-corpus shape) prune the file list from the log alone
    "lake_string_stats" -> ((s, d) => sources.LakeStream.stringStatsQuery(s, d)),
    // the NATIVE exactly-once streaming sink: writeStream lands each
    // epoch as one marker-keyed commit; a full fresh-checkpoint replay
    // re-delivers every epoch and the markers skip them all
    "stream_lake_sink" -> ((s, d) => sources.LakeStream.streamSinkQuery(s, d)),
    // mode("overwrite") through the connector: one atomic
    // remove-all+add commit, then an append on top
    "lake_v2_overwrite" -> ((s, d) => sources.LakeStream.v2OverwriteQuery(s, d)),
    // the n-column stats map: IS NOT NULL + band predicates prune the
    // file list from log-recorded nullCount/min/max, zero footer opens
    "lake_multi_stats" -> ((s, d) => sources.LakeStream.multiStatsQuery(s, d)),
    // complete aggregate pushdown: COUNT/MIN/MAX answered from the log
    // alone (one-row metadata scan, zero data file opens)
    "lake_agg_pushdown" -> ((s, d) => sources.LakeStream.aggPushdownQuery(s, d)),
    // log-reported stats drive join planning: the lake dim
    // auto-broadcasts against the fact with no hint
    "lake_stats_join" -> ((s, d) => sources.LakeStream.statsJoinQuery(s, d)),
    // CHECK constraints through the log: a conforming append lands, a
    // violating one aborts before anything stages
    "lake_txn_constraint" -> ((s, d) =>
      ext.LakeTxn.constraintQuery(s, Tables.documents(s, d), d)),
    // hive-partitioned appends: partition values live only in the log
    // (files lack the column); the read prunes and reinjects from it
    "lake_txn_partition" -> ((s, d) =>
      ext.LakeTxn.partitionQuery(s, Tables.documents(s, d), d, Seq("en", "fr"), "part")),
    // OPTIMIZE ZORDER: unclustered appends re-clustered copy-on-write;
    // the box read then prunes from the log-recorded 2-D stats
    "lake_optimize_zorder" -> ((s, d) =>
      ext.LakeTxn.optimizeZorderQuery(s, Tables.orders(s, d), d)),
    // lake → transform → lake, exactly-once END TO END: the V2 source
    // tails per-commit, each epoch lands as one marked commit, and a
    // full fresh-checkpoint replay is skipped by the markers
    "stream_lake_pipeline" -> ((s, d) =>
      sources.LakeStream.streamPipelineQuery(s, d)),
    "pipeline_domain_cap" -> ((s, d) =>
      ext.TrainingPipeline.domainCap(Tables.documents(s, d), 40)),
    "q_heavy_hitters" -> ((s, d) =>
      TextStats.heavyHitters(Tables.documents(s, d), permille = 5)),
    "q_winsorize" -> ((s, d) => Relational.winsorizedBalances(Tables.customer(s, d))),
    "sim_radius" -> ((s, d) =>
      Similarity.radiusSearch(Tables.embeddings(s, d), 0L until 8L, 0.35)),
    // directed containment with a REAL hot-shingle guard (maxDf=100) —
    // the asymmetric quote/boilerplate detector
    "dedup_containment" -> ((s, d) =>
      Dedup.containmentPairs(Tables.documents(s, d), k = 3, threshold = 0.6,
        maxDf = 100L)),
    "q_outliers" -> ((s, d) => Relational.priceOutliers(Tables.orders(s, d))),
    // probabilistic sketch (rows-only): fixed-memory token counts; the
    // exact twin q_heavy_hitters carries the oracle, the spec pins the
    // CMS error bounds
    "text_cms_counts" -> ((s, d) =>
      TextStats.cmsHeavyHitters(Tables.documents(s, d), permille = 5)),
    // k-means assignments as a first-class clustering output. The
    // snapped-integer variant (floor(x*1e6)+8e6 quantization, integer
    // centroid snap) keeps every Lloyd round in EXACT arithmetic, so the
    // DuckDB oracle replays the identical 5-round schedule and the query
    // hash-matches — the float-mean path (kept for IVF cell training)
    // cannot, its avg(double) is accumulation-order-dependent
    "sim_kmeans" -> ((s, d) => ext.Ivf.kmeansAssignSnapped(Tables.embeddings(s, d), 16)),
    // embedding-space diversity cap over the exact clustering: at most 24
    // vectors per cell, lowest-id keep — the SemDeDup-style
    // cluster-then-cap selection, hash-matched because the snapped
    // k-means underneath is
    "pipeline_diversity" -> ((s, d) =>
      ext.TrainingPipeline.diversityCap(Tables.embeddings(s, d), nlist = 16, capPerCell = 24)),
    "pipeline_interleave" -> ((s, d) =>
      ext.TrainingPipeline.interleaveBySource(Tables.documents(s, d),
        Seq("src0" -> 3, "src1" -> 2))),
    "q_percent_rank" -> ((s, d) => Relational.quantityDistribution(Tables.lineitem(s, d))),
    // snapshot diff between the corpus and a deterministically-derived
    // "next crawl" (drops id%7, edits id%5, adds one doc per id%13)
    "pipeline_diff" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val oldVer = docs.select("doc_id", "text")
      val newVer = docs.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(lit("new "), col("doc_id").cast("string")).as("text")))
      ext.Incremental.snapshotDiff(oldVer, newVer)
    }),
    // MERGE INTO / CDC apply: a two-batch change log (edits, deletes,
    // a delete-then-reinsert, and fresh inserts) folded onto documents;
    // latest seq wins per id. Change rules are if/else-exclusive per seq
    // so (id, seq) is unique and the winner is order-independent
    "pipeline_cdc_apply" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text", "source")
      ext.Incremental.applyChanges(docs, cdcChanges(docs), Seq("text", "source"))
    }),
    // incrementally-maintained per-source aggregate under the same CDC
    // log: baseAgg + Δ(changes) must be indistinguishable from the full
    // recompute over the merged table (the oracle IS that recompute)
    "lake_incr_agg" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text", "source")
      ext.Incremental.maintainAggregate(
        docs, ext.Incremental.charAggregate(docs), cdcChanges(docs))
    }),
    // SCD2 history over the three derived snapshots (see scd2Snapshots)
    "pipeline_scd2" -> ((s, d) =>
      ext.Incremental.scdHistory(scd2Snapshots(Tables.documents(s, d)))),
    // time travel closes the SCD2 loop: reconstructing "corpus as of
    // version 2" from the run-compressed history must equal the directly
    // built v2 snapshot — the oracle IS that direct snapshot, a different
    // derivation entirely
    "pipeline_scd2_asof" -> ((s, d) =>
      ext.Incremental.corpusAsOf(scd2Snapshots(Tables.documents(s, d)), 2L)),
    // incremental SCD2 maintenance: the v1∪v2 history extended by the
    // CDC batch that creates v3 (deletes id%11, edits id%3, plus
    // hash-equal no-op upserts of id%13) must be indistinguishable from
    // the full three-snapshot recompute — the oracle IS that recompute
    "pipeline_scd2_extend" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // newestVersion attested by construction (the filter keeps v1∪v2),
      // so the history plan carries no scalar max-version subtree at all
      val h12 = ext.Incremental.scdHistoryHashed(
        scd2Snapshots(docs).filter(col("version") <= 2), newestVersion = Some(2L))
      val t2 = when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
        .otherwise(col("text"))
      val base = docs.select(col("doc_id"), t2.as("text"))
      val dels = base.filter(col("doc_id") % 11 === 0)
        .select(col("doc_id"), lit(1L).as("seq"), lit("delete").as("op"),
          lit(null).cast("string").as("text"))
      val edits = base.filter(col("doc_id") % 11 =!= 0 && col("doc_id") % 3 === 0)
        .select(col("doc_id"), lit(1L).as("seq"), lit("upsert").as("op"),
          concat(col("text"), lit(" v3")).as("text"))
      val noops = base.filter(col("doc_id") % 11 =!= 0 && col("doc_id") % 3 =!= 0 &&
          col("doc_id") % 13 === 0)
        .select(col("doc_id"), lit(1L).as("seq"), lit("upsert").as("op"), col("text"))
      ext.Incremental.extendHistory(h12, dels.unionByName(edits).unionByName(noops), 3L)
        .drop("content_hash", "content_len")
    }),
    "q_dq_checks" -> ((s, d) =>
      Relational.dataQualityReport(Tables.orders(s, d), Tables.customer(s, d))),
    // fuzzy incremental dedup: even-id docs play the corpus, odd-id docs
    // the incoming batch; polyHash so the LSH chain replays in SQL
    "dedup_cross_corpus" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.crossCorpusNearDups(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        0.3, 3, 64, 16, Dedup.polyHash)
    }),
    // Naive Bayes language classifier: trained and scored on the corpus
    // (the mechanics under grade; production trains once, reuses)
    "text_nb" -> ((s, d) => ext.Classify.naiveBayesPredict(Tables.documents(s, d))),
    // classifier evaluation at scale: ROC sweep + exact AUC of the NB
    // 'en'-vs-rest detector — the calibration report a pipeline checks
    // before trusting a model-based filter to gate the corpus. Cumulative
    // TP/FP run as the two-phase prefix sum (no corpus-wide partition).
    "text_nb_confusion" -> ((s, d) =>
      ext.Classify.naiveBayesConfusion(Tables.documents(s, d))),
    "text_nb_roc" -> ((s, d) =>
      ext.Eval.rocTable(ext.Eval.binaryNbScores(Tables.documents(s, d)))),
    "text_nb_auc" -> ((s, d) =>
      ext.Eval.aucReport(ext.Eval.binaryNbScores(Tables.documents(s, d)))),
    "text_nb_lift" -> ((s, d) =>
      ext.Eval.liftTable(ext.Eval.binaryNbScores(Tables.documents(s, d)), 10)),
    // unigram-LM (SentencePiece-style) tokenizer: frequency-derived
    // piece vocabulary with integer-scaled log probs; every single char
    // force-included (coverage guarantee)
    "text_unigram_vocab" -> ((s, d) =>
      ext.Unigram.vocabulary(Tables.documents(s, d))),
    // exact Viterbi max-likelihood segmentation per distinct word; the
    // oracle replays the DP as an unrolled CTE chain with the identical
    // tie-break key
    "text_unigram_encode" -> ((s, d) =>
      ext.Unigram.encode(Tables.documents(s, d))),
    // cross-tokenizer fertility row next to text_bpe_fertility
    "text_unigram_fertility" -> ((s, d) =>
      ext.Unigram.fertilityReport(Tables.documents(s, d))),
    // WordPiece (BERT lineage), the THIRD subword family: prefix vs
    // ##-continuation vocabulary, single-char initials force-included,
    // NO forced continuation singles (the [UNK] path stays reachable)
    "text_wordpiece_vocab" -> ((s, d) =>
      ext.WordPiece.vocabulary(Tables.documents(s, d))),
    // greedy LONGEST-match-first segmentation (observably different
    // from Viterbi: a long first piece can strand the tail -> [UNK]);
    // oracle replays the walk as best-piece table + unrolled steps
    "text_wordpiece_encode" -> ((s, d) =>
      ext.WordPiece.encode(Tables.documents(s, d))),
    // the third cross-tokenizer fertility row (BPE / unigram /
    // WordPiece over the same corpus; [UNK] counts as its 1 token)
    "text_wordpiece_fertility" -> ((s, d) =>
      ext.WordPiece.fertilityReport(Tables.documents(s, d))),
    // multi-pattern blocklist scan: ONE Aho-Corasick pass per document
    // finds every overlapping occurrence of every pattern (failure +
    // output links), where the naive plan rescans the corpus per pattern
    "text_blocklist" -> ((s, d) =>
      ext.AhoCorasick.matchReport(Tables.documents(s, d))),
    // chance-corrected agreement of the NB self-eval: exact integer
    // kappa numerator/denominator (DECIMAL(38,0) products), one final
    // double ratio — the two-annotator agreement fold of a labeling
    // pipeline, graded on predictions-vs-truth
    "text_nb_kappa" -> ((s, d) =>
      ext.Eval.kappaReport(ext.Classify.naiveBayesPredict(Tables.documents(s, d)))),
    // calibration with an EXACT ECE: the kNN vote classifier's
    // confidence is the rational votes/k, so every reliability-bin gap
    // has an integer numerator (NB's softmax posterior would not grade)
    "sim_knn_calibration" -> ((s, d) =>
      ext.Eval.knnCalibration(Tables.embeddings(s, d), 0L until 500L, 5)),
    // iterative graph computation: integer-scaled PageRank over the
    // bigram co-occurrence graph, 5 fixed rounds
    "graph_pagerank" -> ((s, d) => ext.Graph.wordPageRank(Tables.documents(s, d), 5)),
    // recursive-hierarchy resolution WITHOUT recursive SQL: pointer
    // jumping squares the ancestor pointer per round — O(log depth)
    // node-keyed self-joins; roots are algebraic fixed points. The
    // oracle is DuckDB's literal WITH RECURSIVE over the same tree
    "graph_hierarchy" -> ((s, d) => ext.Graph.docHierarchy(Tables.documents(s, d))),
    // k-hop min-label propagation (bounded-round component labeling)
    "graph_labelprop" -> ((s, d) =>
      ext.Graph.wordLabelPropagation(Tables.documents(s, d), 4)),
    // per-stratum weighted sampling: k best A-ES draws per source, via a
    // bounded per-group top-k aggregator (no per-group window)
    "pipeline_group_sample" -> ((s, d) =>
      ext.TrainingPipeline.weightedSamplePerGroup(Tables.documents(s, d), 20)),
    // deterministic weighted sampling without replacement (A-ES keys)
    "pipeline_weighted_sample" -> ((s, d) =>
      ext.TrainingPipeline.weightedSample(Tables.documents(s, d), 100)),
    // ordered string aggregation (LISTAGG)
    "q_string_agg" -> ((s, d) =>
      Relational.prioritiesPerSegment(Tables.orders(s, d), Tables.customer(s, d))),
    // BM25 ranked retrieval for a fixed lexical query
    "text_bm25" -> ((s, d) =>
      TextStats.bm25(Tables.documents(s, d), Seq("spark", "query", "vector"), 25)),
    // hybrid retrieval: the BM25 lexical list fused with the cosine
    // semantic list by reciprocal-rank fusion (exact integer RRF)
    "text_hybrid_rrf" -> ((s, d) =>
      ext.Retrieval.hybridTopK(Tables.documents(s, d), Tables.embeddings(s, d),
        Seq("spark", "query", "vector"), queryVecId = 0L, k = 25, kEach = 50)),
    // quality-ranked greedy selection under a global token budget
    "pipeline_token_budget" -> ((s, d) =>
      ext.TrainingPipeline.tokenBudget(Tables.documents(s, d), 15000L)),
    // one-scan corpus data card (per-lang + total, rollup grouping sets)
    "pipeline_datacard" -> ((s, d) =>
      ext.TrainingPipeline.dataCard(Tables.documents(s, d))),
    // int8 scalar quantization of the embedding corpus (4x compression)
    "sim_quantize" -> ((s, d) => Similarity.quantizeInt8(Tables.embeddings(s, d))),
    // JL sign projection: training-free dimensionality reduction in one
    // codegen'd per-row fold; exact integer math -> hash-graded
    "sim_random_projection" -> ((s, d) =>
      Similarity.randomProjection(Tables.embeddings(s, d), dim = 64)),
    // degree/strength profile of the bigram graph (the pre-flight report
    // for any iterative graph computation)
    "graph_degrees" -> ((s, d) => ext.Graph.wordDegreeStats(Tables.documents(s, d))),
    // degree-ordered-orientation triangle census; the oracle is the NAIVE
    // lexicographic triple-join — a different algorithm, so agreement is
    // the correctness argument
    "graph_triangles" -> ((s, d) => ext.Graph.wordTriangles(Tables.documents(s, d), 20)),
    // Jaccard node similarity (link prediction) on the hub-pruned
    // co-occurrence graph: wedge fan-out bounded by maxDeg * |E|
    "graph_jaccard" -> ((s, d) => ext.Graph.wordJaccard(Tables.documents(s, d))),
    // sliding-window next-event training examples over the event stream
    "pipeline_examples" -> ((s, d) =>
      ext.TrainingPipeline.nextEventExamples(Tables.events(s, d), 3)),
    // deterministic contrastive negatives (k per anchor, self-excluding)
    "pipeline_negatives" -> ((s, d) =>
      ext.TrainingPipeline.negativeSamples(Tables.documents(s, d), 4)),
    // sentence segmentation: terminator-run boundaries, sentinel-split
    // (lookbehind-free so the RE2 oracle applies the identical pattern).
    // The synthetic corpus carries no punctuation, so terminators are
    // planted deterministically first (same surgery in the oracle) —
    // otherwise every document would be one sentence and the grade moot
    "text_sentences" -> ((s, d) =>
      TextStats.sentences(plantedSentenceDocs(Tables.documents(s, d)))),
    // per-sentence langid folded to a doc-level mixing profile
    // (code-switching detection; same planted boundaries as sentences)
    "text_lang_mix" -> ((s, d) =>
      TextStats.languageMix(plantedSentenceDocs(Tables.documents(s, d)))),
    // fuzzy entity resolution: content-derived blocking + levenshtein
    // verify (threshold boundary exercised both directions per block)
    "dedup_fuzzy" -> ((s, d) => ext.Entity.fuzzyPairs(Tables.documents(s, d))),
    // survivorship after linkage: transitive match components collapsed
    // to one canonical row per entity (modal name, deterministic ties)
    "dedup_golden" -> ((s, d) => ext.Entity.goldenRecords(Tables.documents(s, d))),
    // URL canonicalization + duplicate grouping: the crawl-frontier
    // dedup pass (case/www/port/fragment/utm/trailing-slash variants
    // collapse; real query params survive)
    "dedup_urls" -> ((s, d) => ext.Urls.urlDedup(Tables.documents(s, d))),
    // sitemap XML parsing (the OTHER crawl-control file next to
    // robots.txt): loc entity-decode, optional lastmod, priority as
    // exact permille, commented-out and loc-less entries dropped
    "url_sitemap" -> ((s, d) =>
      ext.Urls.sitemapEntries(ext.Urls.sitemapDocs(Tables.documents(s, d)))
        .orderBy("doc_id", "entry_id")),
    // CCNet-style line-level dedup: sentences repeated across >= 2
    // distinct documents (headers/footers/banners), worst first
    "text_boilerplate" -> ((s, d) =>
      TextStats.boilerplateSentences(
        TextStats.sentences(plantedSentenceDocs(Tables.documents(s, d))))),
    // and the removal: every document rebuilt from its non-boilerplate
    // sentences with kept/dropped accounting
    "text_strip_boilerplate" -> ((s, d) =>
      TextStats.stripBoilerplate(plantedSentenceDocs(Tables.documents(s, d)))),
    // perceptual average-hash over REAL decoded PNG pixels; the oracle
    // recomputes every bit from the fixtures' closed-form pixel formula
    "mm_phash" -> ((s, d) =>
      ext.Multimodal.pngAHashQuery(s, Tables.documents(s, d))),
    // perceptual dedup: byte-different re-encodes of the same pixels
    // (planted twins: rotated filter schedule + real Deflater) group by
    // aHash where sha256 cannot
    "mm_phash_dedup" -> ((s, d) =>
      ext.Multimodal.pngAHashDedup(s, Tables.documents(s, d))),
    // token-frequency drift across an ingest cycle: the corpus before
    // vs after the shared CDC batch, top words by |Δ relative freq|
    "text_drift" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text", "source")
      TextStats.tokenDrift(docs,
        ext.Incremental.applyChanges(docs, cdcChanges(docs), Seq("text", "source")))
    }),
    // packing-efficiency report: per-bin fill ratios (the padded-compute
    // waste metric a trainer tracks)
    "pipeline_pack_stats" -> ((s, d) =>
      ext.TrainingPipeline.packStats(Tables.documents(s, d), 2048L)),
    // T5-style span corruption on a deterministic grid: (input, target)
    // denoising pairs with sequential sentinels, every mask under grade
    "pipeline_span_corruption" -> ((s, d) =>
      ext.TrainingPipeline.spanCorruption(Tables.documents(s, d))),
    // minority-class oversampling to exact parity: per-doc copy counts
    // via the group-aware two-phase rank (no per-group window)
    "pipeline_oversample" -> ((s, d) =>
      ext.TrainingPipeline.oversampleBalance(Tables.documents(s, d))),
    // Unicode NFC normalization (custom codegen expression — no Spark
    // built-in): combining sequences planted into every doc must
    // compose back, shrinking the codepoint count to the original
    "text_normalize" -> ((s, d) =>
      TextStats.normalizeReport(Tables.documents(s, d))),
    // NFKC compatibility fold (ligatures, fullwidth forms, roman
    // numerals, unit signs — what NFC deliberately leaves alone): the
    // salt's image is a known constant, so the claim is closed-form
    "text_nfkc" -> ((s, d) =>
      TextStats.nfkcReport(Tables.documents(s, d))),
    // DSIR importance resampling: hashed unigram+bigram log-ratio
    // weights against the English-target distribution, top-N selection
    // via the two-phase global rank
    "pipeline_dsir" -> ((s, d) =>
      ext.Dsir.importanceSelect(Tables.documents(s, d), col("lang") === "en",
        nBuckets = 256, selectN = 200)),
    // HTML→text extraction over HTML planted around every document's
    // text (head metadata, script/style bodies carrying fake tags, a
    // comment, every decoded entity, nav chrome, nested inline anchor)
    // — the first operator of every crawl pipeline. Pure projection:
    // zero shuffle before the presentation sort (PlanSpec-asserted)
    "text_html_extract" -> ((s, d) =>
      ext.Html.extract(ext.Html.htmlDocs(Tables.documents(s, d)))
        .orderBy("doc_id")),
    // per-block link-density view of the same corpus: `is_nav` where
    // more than half the visible chars are anchor text (the classic
    // navigation-chrome boilerplate signal)
    "text_html_blocks" -> ((s, d) =>
      ext.Html.blocks(ext.Html.htmlDocs(Tables.documents(s, d)))
        .orderBy("doc_id", "block_id")),
    // link extraction + URL resolution (the crawl-frontier feed):
    // absolute / root-relative / directory-relative / protocol-relative
    // / fragment-only hrefs resolved against each doc's base URL,
    // fragments stripped, internal/external classified
    "text_html_links" -> ((s, d) =>
      ext.Html.links(ext.Html.htmlLinkDocs(Tables.documents(s, d)))
        .orderBy("doc_id", "link_id")),
    // head-metadata extraction (title / description / og:title /
    // canonical): attribute order not assumed, fake title inside a
    // script ignored, entities decoded, absence graded as empty string
    "text_html_meta" -> ((s, d) =>
      ext.Html.meta(ext.Html.htmlMetaDocs(Tables.documents(s, d)))
        .orderBy("doc_id")),
  )

  /** Shared WARC round-trip oracle: payload salt + framing are engine
    * concerns; DuckDB recomputes the graded frame straight from parquet
    * (used verbatim for both plain and gzip-member WARC). */
  /** Shared frontier ground-truth CTEs (cand + rules + gate): one row
    * per planted anchor/sitemap entry with its POST-canonicalization
    * URL and path, gated by the same rules table as url_robots. Used by
    * both pipeline_crawl_frontier and url_politeness. */
  private val frontierCandSql: String =
    s"""cand(doc_id, canonical_url, path, via_sitemap) AS (
      |  SELECT doc_id, 'https://ext' || (doc_id % 7) || '.example/a',
      |    '/a', 0 FROM documents
      |  UNION ALL SELECT doc_id, 'https://ext' || (doc_id % 7) || '.example/a',
      |    '/a', 0 FROM documents
      |  UNION ALL SELECT doc_id,
      |    'https://' || source || '.example/p/' || (doc_id % 50),
      |    '/p/' || (doc_id % 50), 0 FROM documents
      |  UNION ALL SELECT doc_id,
      |    'https://' || source || '.example/search/' || (doc_id % 7),
      |    '/search/' || (doc_id % 7), 0 FROM documents
      |  UNION ALL SELECT doc_id,
      |    'https://' || source || '.example/private/pub/' || (doc_id % 7),
      |    '/private/pub/' || (doc_id % 7), 0 FROM documents
      |  UNION ALL SELECT doc_id,
      |    'https://' || source || '.example/private/cache/' || (doc_id % 7),
      |    '/private/cache/' || (doc_id % 7), 0 FROM documents
      |  UNION ALL SELECT doc_id,
      |    'https://' || source || '.example/docs/d' || (doc_id % 20) ||
      |      '/sub/' || (doc_id % 10) || '.html',
      |    '/docs/d' || (doc_id % 20) || '/sub/' || (doc_id % 10) || '.html',
      |    0 FROM documents
      |  UNION ALL SELECT doc_id,
      |    'https://' || source || '.example/q/' || (doc_id % 20),
      |    '/q/' || (doc_id % 20), 0 FROM documents
      |  UNION ALL SELECT doc_id,
      |    'https://' || source || '.example/q/' || (doc_id % 20),
      |    '/q/' || (doc_id % 20), 1 FROM documents
      |  UNION ALL SELECT doc_id,
      |    'https://' || source || '.example/search/s' || (doc_id % 9),
      |    '/search/s' || (doc_id % 9), 1 FROM documents
      |  UNION ALL SELECT doc_id,
      |    'https://' || source || '.example/api/v2/open/' || (doc_id % 7),
      |    '/api/v2/open/' || (doc_id % 7), 1 FROM documents
      |  UNION ALL SELECT doc_id,
      |    'https://' || source || '.example/api/private/x' || (doc_id % 4),
      |    '/api/private/x' || (doc_id % 4), 1 FROM documents),
      |rules(prefix, allow) AS (VALUES ${
        ext.Urls.RobotRules.map { case (p, a) => s"('$p', $a)" }.mkString(", ")}),
      |gate AS (
      |  SELECT p.path,
      |    arg_max(r.prefix, length(r.prefix) * 2 + r.allow) AS matched_rule,
      |    (arg_max(r.allow, length(r.prefix) * 2 + r.allow) = 1) AS allowed
      |  FROM (SELECT DISTINCT path FROM cand) p
      |  JOIN rules r ON starts_with(p.path, r.prefix)
      |  GROUP BY 1)""".stripMargin

  private val warcOracle: String =
    """SELECT doc_id,
      |  'https://' || source || '.example/' || doc_id AS url,
      |  lang,
      |  strlen(text || chr(13) || chr(10) || 'WARC/1.0'
      |         || chr(13) || chr(10) || '☃é—')::BIGINT AS n_bytes,
      |  text || chr(13) || chr(10) || 'WARC/1.0'
      |    || chr(13) || chr(10) || '☃é—' AS text
      |FROM documents ORDER BY doc_id""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "wc_word_count" ->
      s"""WITH tok AS ($tokSql)
         |SELECT word, count(*) AS cnt FROM tok GROUP BY word ORDER BY word""".stripMargin,
    "wc_word_count_salted" ->
      s"""WITH tok AS ($tokSql)
         |SELECT word, count(*) AS cnt FROM tok GROUP BY word ORDER BY word""".stripMargin,
    "wc_formatted" ->
      s"""WITH tok AS ($tokSql)
         |SELECT word || ' - [' || count(*) || ']' AS line
         |FROM tok GROUP BY word ORDER BY word""".stripMargin,
    "ii_flat" ->
      s"""WITH tok AS ($tokSql)
         |SELECT word, doc, count(*) AS cnt FROM tok
         |GROUP BY word, doc ORDER BY word, doc""".stripMargin,
    "mr_registry_wc" ->
      s"""WITH tok AS ($tokSql)
         |SELECT word AS key, count(*) AS cnt FROM tok GROUP BY word ORDER BY key""".stripMargin,
    "mr_registry_id_flat" ->
      s"""WITH tok AS ($tokSql)
         |SELECT word AS key, doc, count(*) AS cnt FROM tok
         |GROUP BY word, doc ORDER BY key, doc""".stripMargin,
    "union_sources" ->
      s"""WITH tok AS ($tokSql)
         |SELECT word, count(*) AS cnt FROM tok
         |WHERE doc IN ('src0', 'src1') GROUP BY word ORDER BY word""".stripMargin,
    // the round trip is graded against the frame computed straight from
    // parquet: identical output means the CSV/JSONL write+parse was
    // lossless on quotes, separators, record breaks, unicode, and NULLs
    "src_csv" ->
      """SELECT doc_id, text,
        |  'q"' || substr(text, 1, 10) || '",' || chr(10) || lang || 'é—☃' AS tricky,
        |  nullif(lang, 'es') AS lang_or_null,
        |  n_chars,
        |  n_chars / 4.0 AS score
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the ORC twin: identical frame, the graded filter applied in SQL
    "src_orc" ->
      """SELECT doc_id, text,
        |  'q"' || substr(text, 1, 10) || '",' || chr(10) || lang || 'é—☃' AS tricky,
        |  nullif(lang, 'es') AS lang_or_null,
        |  n_chars,
        |  n_chars / 4.0 AS score
        |FROM documents WHERE n_chars >= 120 ORDER BY doc_id""".stripMargin,
    // the Avro twin: identical frame and filter (post-decode — OCF has
    // no stats to push into)
    "src_avro" ->
      """SELECT doc_id, text,
        |  'q"' || substr(text, 1, 10) || '",' || chr(10) || lang || 'é—☃' AS tricky,
        |  nullif(lang, 'es') AS lang_or_null,
        |  n_chars,
        |  n_chars / 4.0 AS score
        |FROM documents WHERE n_chars >= 120 ORDER BY doc_id""".stripMargin,
    // closed-form routing truth: %7==3 rows are quarantined with their
    // exact raw line; everything else parses clean
    "src_dead_letter" ->
      """SELECT
        |  CASE WHEN doc_id % 7 = 3 THEN NULL ELSE doc_id END AS doc_id,
        |  CASE WHEN doc_id % 7 = 3 THEN NULL ELSE coalesce(lang, 'xx') END AS lang,
        |  CASE WHEN doc_id % 7 = 3 THEN NULL ELSE n_chars END AS n_chars,
        |  CASE WHEN doc_id % 7 = 3 THEN 'quarantined' ELSE 'clean' END AS status,
        |  CASE WHEN doc_id % 7 = 3
        |       THEN 'id-' || doc_id || ',' || coalesce(lang, 'xx') || ',' || n_chars
        |       ELSE doc_id || ',' || coalesce(lang, 'xx') || ',' || n_chars
        |  END AS raw
        |FROM documents ORDER BY raw""".stripMargin,
    "src_jsonl" ->
      """SELECT doc_id, text,
        |  'q"' || substr(text, 1, 10) || '",' || chr(10) || lang || 'é—☃' AS tricky,
        |  nullif(lang, 'es') AS lang_or_null,
        |  n_chars,
        |  n_chars / 4.0 AS score
        |FROM documents ORDER BY doc_id""".stripMargin,
    // compression and array framing are transparent to the frame
    "src_jsonl_gz" ->
      """SELECT doc_id, text,
        |  'q"' || substr(text, 1, 10) || '",' || chr(10) || lang || 'é—☃' AS tricky,
        |  nullif(lang, 'es') AS lang_or_null,
        |  n_chars,
        |  n_chars / 4.0 AS score
        |FROM documents ORDER BY doc_id""".stripMargin,
    "src_json_multiline" ->
      """SELECT doc_id, text,
        |  'q"' || substr(text, 1, 10) || '",' || chr(10) || lang || 'é—☃' AS tricky,
        |  nullif(lang, 'es') AS lang_or_null,
        |  n_chars,
        |  n_chars / 4.0 AS score
        |FROM documents ORDER BY doc_id""".stripMargin,
    "src_schema_evolution" ->
      """SELECT doc_id, text, n_chars,
        |  CASE WHEN doc_id % 2 = 1 THEN lang ELSE NULL END AS lang
        |FROM documents ORDER BY doc_id""".stripMargin,
    // closed-form sitemap ground truth: entry_id gaps where the
    // loc-less entry was skipped; no-match lastmod = '' (regexp_extract
    // convention both engines share); priority in exact permille
    "url_sitemap" ->
      """SELECT doc_id, entry_id, loc, lastmod, priority_permille FROM (
        |  SELECT doc_id, 1::BIGINT AS entry_id,
        |    'https://' || source || '.example/p/' || (doc_id % 50)
        |      || '?a=1&b=2' AS loc,
        |    '2026-01-' || lpad(((doc_id % 28) + 1)::VARCHAR, 2, '0') AS lastmod,
        |    ((doc_id % 10) * 100)::BIGINT AS priority_permille
        |  FROM documents
        |  UNION ALL SELECT doc_id, 2,
        |    'https://' || source || '.example/q/' || (doc_id % 20), '', 500
        |  FROM documents
        |  UNION ALL SELECT doc_id, 4,
        |    'https://cdn.example/r/' || (doc_id % 7), '', 1000
        |  FROM documents)
        |ORDER BY doc_id, entry_id""".stripMargin,
    "url_robots" ->
      s"""WITH rules(prefix, allow) AS (VALUES ${
          ext.Urls.RobotRules.map { case (p, a) => s"('$p', $a)" }.mkString(", ")}),
        |u AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN '/private/pub/' || (doc_id % 7)
        |         WHEN doc_id % 5 = 1 THEN '/private/cache/' || (doc_id % 7)
        |         WHEN doc_id % 5 = 2 THEN '/search/' || (doc_id % 7)
        |         WHEN doc_id % 5 = 3 THEN '/api/v2/open/' || (doc_id % 7)
        |         ELSE '/articles/' || (doc_id % 7) END AS path
        |  FROM documents),
        |m AS (
        |  SELECT u.doc_id, u.path, r.prefix, r.allow,
        |    length(r.prefix) * 2 + r.allow AS key
        |  FROM u JOIN rules r ON starts_with(u.path, r.prefix))
        |SELECT doc_id, path, arg_max(prefix, key) AS matched_rule,
        |  (arg_max(allow, key) = 1) AS allowed
        |FROM m GROUP BY 1, 2 ORDER BY doc_id""".stripMargin,
    // frontier chain ground truth, closed-form: one row per planted
    // anchor/sitemap entry with its POST-canonicalization URL and path
    // (the fixture's divergent forms all collapse here — that IS the
    // claim under grade), gated by the same rules CTE as url_robots,
    // then deduped per canonical URL
    "pipeline_crawl_frontier" ->
      s"""WITH $frontierCandSql
        |SELECT c.canonical_url, c.path, g.matched_rule,
        |  min(c.doc_id) AS first_doc, count(*)::BIGINT AS n_refs,
        |  bool_or(c.via_sitemap = 0) AS from_link,
        |  bool_or(c.via_sitemap = 1) AS from_sitemap
        |FROM cand c JOIN gate g ON c.path = g.path
        |WHERE g.allowed
        |GROUP BY 1, 2, 3
        |ORDER BY canonical_url""".stripMargin,
    // parsed per-host robots ground truth: the CLOSED-FORM rule sets the
    // planted robots.txt bodies parse to (the graftbot group only — the
    // otherbot decoy and the * group's /private must not leak), left
    // join + argmax, no-match rows default allow with matched_rule ''
    "url_robots_parsed" ->
      """WITH srcs AS (SELECT DISTINCT source FROM documents),
        |rules AS (
        |  SELECT source, '/search' AS prefix, 0 AS allow FROM srcs
        |  UNION ALL SELECT source, '/search/archive', 1 FROM srcs
        |  UNION ALL SELECT source, '/api', 0 FROM srcs
        |  UNION ALL SELECT source, '/api/v2/open', 1 FROM srcs
        |  UNION ALL SELECT source, '/q', 0 FROM srcs
        |    WHERE regexp_extract(source, '([0-9]+)', 1)::INT % 3 = 0),
        |u AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 6 = 0 THEN '/search/archive/' || (doc_id % 7)
        |         WHEN doc_id % 6 = 1 THEN '/search/' || (doc_id % 7)
        |         WHEN doc_id % 6 = 2 THEN '/api/v2/open/' || (doc_id % 7)
        |         WHEN doc_id % 6 = 3 THEN '/q/' || (doc_id % 7)
        |         WHEN doc_id % 6 = 4 THEN '/private/' || (doc_id % 7)
        |         ELSE '/articles/' || (doc_id % 7) END AS path
        |  FROM documents),
        |m AS (
        |  SELECT u.doc_id, u.source, u.path, r.prefix, r.allow,
        |    length(r.prefix) * 2 + r.allow AS key
        |  FROM u LEFT JOIN rules r
        |    ON u.source = r.source AND starts_with(u.path, r.prefix))
        |SELECT doc_id, source, path,
        |  coalesce(arg_max(prefix, key), '') AS matched_rule,
        |  coalesce(arg_max(allow, key) = 1, true) AS allowed
        |FROM m GROUP BY 1, 2, 3 ORDER BY doc_id""".stripMargin,
    // delay-driven scheduling ground truth: the same parsed-rules CTEs,
    // allowed rows ranked FIFO per source, slots = 3 - (1 + digit%2)
    "url_politeness_delay" ->
      """WITH srcs AS (SELECT DISTINCT source FROM documents),
        |rules AS (
        |  SELECT source, '/search' AS prefix, 0 AS allow FROM srcs
        |  UNION ALL SELECT source, '/search/archive', 1 FROM srcs
        |  UNION ALL SELECT source, '/api', 0 FROM srcs
        |  UNION ALL SELECT source, '/api/v2/open', 1 FROM srcs
        |  UNION ALL SELECT source, '/q', 0 FROM srcs
        |    WHERE regexp_extract(source, '([0-9]+)', 1)::INT % 3 = 0),
        |u AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 6 = 0 THEN '/search/archive/' || (doc_id % 7)
        |         WHEN doc_id % 6 = 1 THEN '/search/' || (doc_id % 7)
        |         WHEN doc_id % 6 = 2 THEN '/api/v2/open/' || (doc_id % 7)
        |         WHEN doc_id % 6 = 3 THEN '/q/' || (doc_id % 7)
        |         WHEN doc_id % 6 = 4 THEN '/private/' || (doc_id % 7)
        |         ELSE '/articles/' || (doc_id % 7) END AS path
        |  FROM documents),
        |m AS (
        |  SELECT u.doc_id, u.source, u.path, r.allow,
        |    length(r.prefix) * 2 + r.allow AS key
        |  FROM u LEFT JOIN rules r
        |    ON u.source = r.source AND starts_with(u.path, r.prefix)),
        |gated AS (
        |  SELECT doc_id, source, path,
        |    coalesce(arg_max(allow, key) = 1, true) AS allowed
        |  FROM m GROUP BY 1, 2, 3),
        |a AS (SELECT doc_id, source, path,
        |        (2 - regexp_extract(source, '([0-9]+)', 1)::INT % 2)::BIGINT AS slots
        |      FROM gated WHERE allowed)
        |SELECT doc_id, source, path, slots,
        |  row_number() OVER (PARTITION BY source ORDER BY doc_id, path)::BIGINT AS slot,
        |  ((row_number() OVER (PARTITION BY source ORDER BY doc_id, path) - 1)
        |    // slots)::BIGINT AS wave
        |FROM a ORDER BY doc_id""".stripMargin,
    // wildcard-rule ground truth, fully closed-form per path class:
    // the anchored .json$ block, the un-anchored .bak escape, the
    // wildcard allow out-ranking the literal /api, the plain /tmp
    // block, and the literal-only /api catch
    "url_robots_wildcard" ->
      """SELECT doc_id, path, matched_rule, allowed FROM (
        |  SELECT doc_id,
        |    CASE doc_id % 5
        |      WHEN 0 THEN '/files/f' || (doc_id % 7) || '.json'
        |      WHEN 1 THEN '/files/f' || (doc_id % 7) || '.json.bak'
        |      WHEN 2 THEN '/api/v' || (doc_id % 7) || '/open/x'
        |      WHEN 3 THEN '/tmp/t' || (doc_id % 7)
        |      ELSE '/api/v' || (doc_id % 7) || '/closed' END AS path,
        |    CASE doc_id % 5
        |      WHEN 0 THEN '/*.json$' WHEN 1 THEN ''
        |      WHEN 2 THEN '/api/*/open' WHEN 3 THEN '/tmp'
        |      ELSE '/api' END AS matched_rule,
        |    (doc_id % 5 IN (1, 2)) AS allowed
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,
    // wave-2 ground truth: each wave-1 page contributes its unique
    // /next deeper link (n_refs 1); the hub link collapses to one row
    // referenced by the whole wave-1 population; the blocked and self
    // links never appear
    "pipeline_crawl_cycle" ->
      s"""WITH $frontierCandSql,
        |wave1 AS (
        |  SELECT c.canonical_url, c.path,
        |    regexp_extract(c.canonical_url, '^https?://([^/]+)', 1) AS host
        |  FROM cand c JOIN gate g ON c.path = g.path
        |  WHERE g.allowed
        |  GROUP BY 1, 2, 3)
        |SELECT canonical_url, path, matched_rule, n_refs FROM (
        |  SELECT 'https://' || host || '/next' || path AS canonical_url,
        |    '/next' || path AS path, '/' AS matched_rule, 1::BIGINT AS n_refs
        |  FROM wave1
        |  UNION ALL
        |  SELECT 'https://hub.example/home', '/home', '/',
        |    count(*)::BIGINT FROM wave1)
        |ORDER BY canonical_url""".stripMargin,
    // streamed frontier: the landed union across micro-batches must be
    // exactly the batch frontier's distinct gated set
    "stream_frontier" ->
      s"""WITH $frontierCandSql
        |SELECT DISTINCT c.canonical_url, c.path, g.matched_rule
        |FROM cand c JOIN gate g ON c.path = g.path
        |WHERE g.allowed
        |ORDER BY canonical_url""".stripMargin,
    // politeness waves over the deduped frontier: per-host FIFO by
    // (first_doc, canonical_url), wave = (rank-1) div slots
    "url_politeness" ->
      s"""WITH $frontierCandSql,
        |frontier AS (
        |  SELECT c.canonical_url, min(c.doc_id) AS first_doc
        |  FROM cand c JOIN gate g ON c.path = g.path
        |  WHERE g.allowed GROUP BY 1),
        |hosted AS (
        |  SELECT canonical_url,
        |    regexp_extract(canonical_url, '^https?://([^/]+)', 1) AS host,
        |    first_doc
        |  FROM frontier)
        |SELECT canonical_url, host, first_doc,
        |  row_number() OVER (PARTITION BY host
        |    ORDER BY first_doc, canonical_url)::BIGINT AS slot,
        |  ((row_number() OVER (PARTITION BY host
        |    ORDER BY first_doc, canonical_url) - 1) // 2)::BIGINT AS wave
        |FROM hosted ORDER BY canonical_url""".stripMargin,
    "src_tar" ->
      """WITH padded AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 17 = 0
        |         THEN text || repeat(' ', ((512 - strlen(text) % 512) % 512)::INT)
        |         ELSE text END AS text,
        |    lang, source
        |  FROM documents)
        |SELECT doc_id, text, lang, source, strlen(text)::BIGINT AS n_bytes
        |FROM padded ORDER BY doc_id""".stripMargin,
    "src_warc" -> warcOracle,
    // identical logical content — compression is transparent to the frame
    "src_warc_gz" -> warcOracle,
    // per-doc wire-size arithmetic (BOM is file overhead, not the
    // doc's): UTF-8 forms = strlen, UTF-16 = 2 × chars (all-BMP
    // corpus), Latin-1 = codepoints (all < U+0100)
    "src_charset" ->
      """WITH s AS (
        |  SELECT doc_id, text || ' protégé Ærø ß°' AS text FROM documents)
        |SELECT doc_id,
        |  CASE doc_id % 7 WHEN 0 THEN 'utf-8' WHEN 1 THEN 'utf-8-bom'
        |       WHEN 2 THEN 'utf-16le' WHEN 3 THEN 'utf-16be'
        |       WHEN 4 THEN 'latin-1'
        |       WHEN 5 THEN 'utf-16le-nobom' ELSE 'utf-16be-nobom' END AS encoding,
        |  (CASE WHEN doc_id % 7 IN (2, 3, 5, 6) THEN 2 * length(text)
        |        WHEN doc_id % 7 = 4 THEN length(text)
        |        ELSE strlen(text) END)::BIGINT AS n_bytes,
        |  length(text)::BIGINT AS n_chars,
        |  text
        |FROM s ORDER BY doc_id""".stripMargin,
    "lake_partition_prune" ->
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents WHERE lang IN ('en', 'de') ORDER BY doc_id""".stripMargin,
    // ---- relational surface; money math mirrored in exact integer cents ----
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_base_price,
        |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
        |         * (100 - CAST(round(l_discount*100) AS BIGINT))) AS DOUBLE)/10000.0 AS sum_disc_price,
        |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
        |         * (100 - CAST(round(l_discount*100) AS BIGINT))
        |         * (100 + CAST(round(l_tax*100) AS BIGINT))) AS DOUBLE)/1000000.0 AS sum_charge,
        |  sum(l_quantity)/count(*) AS avg_qty,
        |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/100.0/count(*) AS avg_price,
        |  CAST(sum(CAST(round(l_discount*100) AS BIGINT)) AS DOUBLE)/100.0/count(*) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem WHERE l_quantity >= 48 AND l_discount <= 0.01
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_join_agg" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_join_broadcast" ->
      """SELECT r_name, n_name, count(*) AS n_customers,
        |  CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "q_multi_join" ->
      """SELECT r_name, n_name, count(*) AS n_items,
        |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
        |         * (100 - CAST(round(l_discount*100) AS BIGINT))) AS DOUBLE)/10000.0 AS revenue
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "q_semi_join" ->
      """SELECT c_mktsegment, count(*) AS n_customers FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_anti_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,
    "q_distinct" ->
      "SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment",
    "q3_shipping_priority" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
        |         * (100 - CAST(round(l_discount*100) AS BIGINT))) AS DOUBLE)/10000.0
        |    AS revenue
        |FROM customer
        |JOIN orders   ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate  > TIMESTAMP '1998-01-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""".stripMargin,
    "q18_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey, CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
        |    AS sum_qty
        |  FROM lineitem GROUP BY 1 HAVING sum_qty > 250)
        |SELECT c_name, o_orderkey, o_orderdate,
        |  CAST(CAST(round(o_totalprice*100) AS BIGINT) AS DOUBLE)/100.0 AS o_totalprice,
        |  sum_qty
        |FROM big
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY sum_qty DESC, o_orderkey""".stripMargin,
    "q_kanon" ->
      """SELECT c_mktsegment, c_nationkey,
        |  CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS acctbal_band,
        |  count(*) AS n
        |FROM customer GROUP BY 1, 2, 3 HAVING count(*) < 3
        |ORDER BY 1, 2, 3""".stripMargin,
    "q_count_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp,
        |  count(DISTINCT l_partkey) AS n_part, count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "q_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q_window_running" ->
      """SELECT user_id, event_id,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) OVER w AS DOUBLE)/100.0 AS running_spend,
        |  count(*) OVER w AS running_n
        |FROM events WHERE event_type = 'purchase'
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q_date_agg" ->
      """SELECT year(o_orderdate) AS y, month(o_orderdate) AS m,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS revenue
        |FROM orders GROUP BY 1, 2 ORDER BY y, m""".stripMargin,
    "q_case_bands" ->
      """SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
        |            WHEN o_totalprice < 200000 THEN 'medium'
        |            ELSE 'large' END AS band, count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY band""".stripMargin,
    "q_string_fns" ->
      """SELECT string_split(p_type, ' ')[1] AS type_head, upper(p_brand) AS brand,
        |  count(*) AS n
        |FROM part GROUP BY 1, 2 ORDER BY type_head, brand""".stripMargin,
    "q_events_window" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_start,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin,
    // the streaming run must land exactly what the batch SQL computes
    "stream_events_window" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_start,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin,
    "stream_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,
    // the streamed counts must land exactly the batch histogram, and the
    // per-window rank must agree including the (n desc, user_id) tie-break
    "stream_topk" ->
      """WITH c AS (
        |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_start,
        |    user_id, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY hour_start
        |        ORDER BY n DESC, user_id) AS BIGINT) AS rnk FROM c)
        |SELECT hour_start, user_id, n, rnk FROM r WHERE rnk <= 5
        |ORDER BY hour_start, rnk""".stripMargin,
    // same oracle through the parquet-sink path: the disk round-trip
    // must not change a single row
    "stream_sink" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,
    // same oracle through the kill-and-restart path: exactly-once means
    // the recovered landing holds the batch answer, not one row more
    // (torn-write replay) or less (lost offsets)
    "stream_recovery" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,
    // late-data drop accounting: the landed result must be EXACTLY the
    // kept set's hourly counts — late rows (id%10=8, planted 26+ hours
    // below the watermark) dropped, the watermark-advancer rows
    // (id%20=19, windows past the final watermark) withheld, on-time
    // rows (id%10<8) and the T0+47h carrier batch (id%20=9) kept. The
    // oracle rebuilds the kept set from the events table with the same
    // closed-form timestamps the fixture writer used.
    "stream_late" ->
      """WITH kept AS (
        |  SELECT event_id % 48 AS hoff, event_type FROM events WHERE event_id % 10 < 8
        |  UNION ALL
        |  SELECT 47 AS hoff, event_type FROM events WHERE event_id % 20 = 9)
        |SELECT CAST(epoch(TIMESTAMP '2024-01-01 00:00:00'
        |         + hoff * INTERVAL 1 HOUR) AS BIGINT) AS hour_start,
        |  event_type, count(*) AS n
        |FROM kept
        |GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin,
    // the outer-join fixture is closed-form in event_id (purchases on the
    // 29-grid, errors on the 31-grid, users mod 100); the oracle is the
    // plain batch LEFT JOIN — matched multiplicity AND null emission for
    // unmatched purchases both under grade. The T0+30d advancer rows are
    // absent here because the engine must leave them un-emitted (their
    // watermark horizon never closes before the stream ends).
    "stream_outer_join" ->
      """WITH p AS (
        |  SELECT event_id, (event_id // 10) % 100 AS user_id,
        |    (1704067200 + (event_id % 29) * 600)::BIGINT AS ts_sec
        |  FROM events WHERE event_id % 10 = 0),
        |e AS (
        |  SELECT (event_id // 10) % 100 AS user_id,
        |    (1704067200 + (event_id % 31) * 600)::BIGINT AS err_sec
        |  FROM events WHERE event_id % 10 = 1)
        |SELECT p.event_id, p.user_id, p.ts_sec, e.err_sec
        |FROM p LEFT JOIN e ON p.user_id = e.user_id
        |  AND p.ts_sec >= e.err_sec AND p.ts_sec <= e.err_sec + 1800
        |ORDER BY p.event_id, e.err_sec""".stripMargin,
    // session_window's interval is end-EXCLUSIVE: an event at exactly
    // last_ts + gap starts a NEW session, hence >= in the island test
    // (q_sessions' custom sessionizer uses strict >, a deliberate
    // semantic difference documented there)
    "stream_sessions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts, value,
        |    epoch_ms(ts) - lag(epoch_ms(ts)) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id) AS gap_ms
        |  FROM events),
        |s AS (
        |  SELECT *, CAST(sum(CASE WHEN gap_ms >= 1800000 THEN 1 ELSE 0 END) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
        |  FROM e)
        |SELECT user_id, epoch_ms(min(ts)) AS session_start_ms,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS session_value_cents
        |FROM s GROUP BY user_id, session_idx
        |ORDER BY user_id, session_start_ms""".stripMargin,
    "stream_join" ->
      """SELECT p.user_id, p.event_id,
        |  epoch_ms(p.ts)::BIGINT AS ts_ms, epoch_ms(e.ts)::BIGINT AS err_ts_ms
        |FROM events p JOIN events e
        |  ON p.user_id = e.user_id AND e.event_type = 'error'
        | AND p.ts >= e.ts AND p.ts <= e.ts + INTERVAL 30 MINUTE
        |WHERE p.event_type = 'purchase'
        |ORDER BY p.user_id, p.event_id, err_ts_ms""".stripMargin,
    "q_sessions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts, value,
        |    epoch_ms(ts) - lag(epoch_ms(ts)) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id) AS gap_ms
        |  FROM events),
        |s AS (
        |  SELECT *, CAST(sum(CASE WHEN gap_ms > 1800000 THEN 1 ELSE 0 END) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
        |  FROM e)
        |SELECT user_id, session_idx, count(*) AS n_events,
        |  epoch_ms(max(ts)) - epoch_ms(min(ts)) AS duration_ms,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS session_value
        |FROM s GROUP BY user_id, session_idx ORDER BY user_id, session_idx""".stripMargin,
    "q_json" ->
      """SELECT k % 10 AS k_mod, count(*) AS n, min(k) AS min_k, max(k) AS max_k
        |FROM (SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
        |GROUP BY 1 ORDER BY k_mod""".stripMargin,
    "q_asof_join" ->
      """WITH ord AS (
        |  SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
        |  FROM orders GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, o.o_orderkey,
        |  epoch_ms(o.o_orderdate) AS order_date_ms
        |FROM events e ASOF LEFT JOIN ord o
        |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
        |ORDER BY e.event_id""".stripMargin,
    // nearest-as-of: the oracle ranks candidates with a window (nulls
    // last so unmatched purchases survive with null columns) where the
    // engine uses a min_by aggregation — different derivations agreeing
    "q_asof_nearest" ->
      """WITH p AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |e AS (
        |  SELECT user_id, event_id AS err_id, ts AS err_ts FROM events
        |  WHERE event_type = 'error'),
        |j AS (
        |  SELECT p.event_id, p.user_id, epoch_ms(p.ts) AS p_ms, e.err_id,
        |    epoch_ms(e.err_ts) AS err_ts_ms
        |  FROM p LEFT JOIN e ON e.user_id = p.user_id
        |    AND e.err_ts >= p.ts - INTERVAL 120 MINUTE
        |    AND e.err_ts <= p.ts + INTERVAL 120 MINUTE),
        |r AS (
        |  SELECT *, abs(err_ts_ms - p_ms) AS diff_ms,
        |    row_number() OVER (PARTITION BY event_id ORDER BY
        |      CASE WHEN err_id IS NULL THEN 1 ELSE 0 END,
        |      abs(err_ts_ms - p_ms), err_ts_ms, err_id) AS rn
        |  FROM j)
        |SELECT event_id, user_id, err_id, err_ts_ms, diff_ms
        |FROM r WHERE rn = 1 ORDER BY event_id""".stripMargin,
    "q_range_join" ->
      """SELECT a.event_type AS a_type, count(*) AS n_pairs,
        |  count(DISTINCT a.event_id) AS n_lead_events
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND a.ts < b.ts AND b.ts <= a.ts + INTERVAL 30 MINUTES
        |GROUP BY 1 ORDER BY a_type""".stripMargin,
    "q_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q_intersect" ->
      """SELECT c_custkey FROM customer WHERE c_acctbal > 5000
        |INTERSECT SELECT o_custkey FROM orders WHERE o_totalprice > 400000
        |ORDER BY c_custkey""".stripMargin,
    "q_except" ->
      """SELECT c_custkey FROM customer WHERE c_acctbal > 5000
        |EXCEPT SELECT o_custkey FROM orders WHERE o_totalprice > 400000
        |ORDER BY c_custkey""".stripMargin,
    "q_percentiles" ->
      """SELECT lang, count(*) AS n_docs,
        |  quantile_cont(n_chars, 0.5) AS p50, quantile_cont(n_chars, 0.9) AS p90,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_date_parts" ->
      """SELECT quarter(o_orderdate) AS q, day(o_orderdate) AS dom, count(*) AS n
        |FROM orders GROUP BY 1, 2 ORDER BY q, dom""".stripMargin,
    // engine-vs-engine on the IDENTICAL SQL string (spark.sql surface)
    "q_sql_correlated" -> Relational.CorrelatedSql,
    "q_sql_custom_fns" ->
      s"""WITH ${OracleSql.toksCte}
         |SELECT d.doc_id, ${OracleSql.poly("d.text")} AS h,
         |  len(t.toks)::BIGINT AS n_tokens,
         |  CASE WHEN len(t.toks) >= 2 THEN len(t.toks) - 1 ELSE 0 END::BIGINT
         |    AS n_bigrams,
         |  nfc_normalize(d.text) = d.text AS is_nfc
         |FROM documents d JOIN toks t USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    "q_window_range" ->
      """SELECT user_id, event_id,
        |  count(*) OVER w AS n_trailing,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) OVER w AS DOUBLE)/100.0 AS trailing_value
        |FROM (SELECT user_id, event_id, epoch_ms(ts) AS ms, value FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY ms
        |             RANGE BETWEEN 1800000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,
    "q_outer_join" ->
      """SELECT coalesce(o.uid, e.uid) AS uid,
        |  coalesce(o.n_orders, 0) AS n_orders, coalesce(e.n_events, 0) AS n_events
        |FROM (SELECT o_custkey AS uid, count(*) AS n_orders FROM orders GROUP BY 1) o
        |FULL JOIN (SELECT user_id AS uid, count(*) AS n_events FROM events GROUP BY 1) e
        |  ON o.uid = e.uid
        |ORDER BY uid""".stripMargin,
    "q_pivot" ->
      """SELECT user_id,
        |  count(*) FILTER (event_type = 'click') AS click,
        |  count(*) FILTER (event_type = 'error') AS error,
        |  count(*) FILTER (event_type = 'purchase') AS purchase,
        |  count(*) FILTER (event_type = 'signup') AS signup,
        |  count(*) FILTER (event_type = 'view') AS "view"
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_unpivot" ->
      """SELECT user_id, event_type, count(*) AS cnt
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_ntile" ->
      """WITH q AS (
        |  SELECT year(o_orderdate) AS y, o_totalprice,
        |    ntile(4) OVER (PARTITION BY year(o_orderdate)
        |                   ORDER BY o_totalprice, o_orderkey) AS quartile
        |  FROM orders)
        |SELECT y, quartile, count(*) AS n,
        |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
        |FROM q GROUP BY y, quartile ORDER BY y, quartile""".stripMargin,
    "ii_postings_str" ->
      s"""WITH tok AS ($tokSql),
         |tf AS (SELECT word, doc, count(*) AS cnt FROM tok GROUP BY word, doc)
         |SELECT word, string_agg(doc || ':' || cnt, ',' ORDER BY doc) AS postings
         |FROM tf GROUP BY word ORDER BY word""".stripMargin,
    // canonical JSON rendering of the postings map ({"doc":cnt,…}, doc
    // order, no spaces — matches Spark's to_json byte-for-byte on string
    // keys/long values)
    "ii_postings" ->
      s"""WITH tok AS ($tokSql),
         |tf AS (SELECT word, doc, count(*) AS cnt FROM tok GROUP BY word, doc)
         |SELECT word, '{' || string_agg('"' || doc || '":' || cnt, ',' ORDER BY doc) || '}' AS postings_json
         |FROM tf GROUP BY word ORDER BY word""".stripMargin,
    "mr_registry_id" ->
      s"""WITH tok AS ($tokSql),
         |tf AS (SELECT word AS key, doc, count(*) AS cnt FROM tok GROUP BY word, doc)
         |SELECT key, '{' || string_agg('"' || doc || '":' || cnt, ',' ORDER BY doc) || '}' AS postings_json
         |FROM tf GROUP BY key ORDER BY key""".stripMargin,
    "q_mode" ->
      """WITH c AS (SELECT l_returnflag, l_quantity, count(*) AS mode_n
        |           FROM lineitem GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY l_returnflag
        |        ORDER BY mode_n DESC, l_quantity) AS rn FROM c)
        |SELECT l_returnflag, l_quantity AS mode_quantity, mode_n
        |FROM r WHERE rn = 1 ORDER BY l_returnflag""".stripMargin,
    "q_regex_extract" ->
      """SELECT w AS word, count(*) AS cnt
        |FROM part, unnest(regexp_extract_all(p_name, '[a-z]+')) AS u(w)
        |GROUP BY w ORDER BY cnt DESC, word LIMIT 25""".stripMargin,
    // ---- extensions ----
    "dedup_spans" -> OracleSql.spanDedup(3),
    // naive all-window oracle: every duplicated 8-gram start, merged
    // gaps-and-islands into maximal spans — the ground truth the
    // suffix-array construction must land on exactly
    "dedup_suffix" -> OracleSql.suffixDuplicateSpans(8),
    // naive exact ground truth: per position the max common token
    // prefix with its lexicographic suffix-order neighbors (the
    // adjacency argument makes that the global max), per doc the max
    // with smallest start — un-quantized, any length
    "dedup_suffix_lcp" -> OracleSql.suffixLcpReport,
    // naive cross-corpus oracle: eval grams join DISTINCT train grams
    "dedup_suffix_cross" -> OracleSql.suffixCrossContamination(8),
    "text_entropy" -> OracleSql.charEntropy,
    "pipeline_shuffle" -> OracleSql.shuffleShardsAuto(64, "graft"),
    // ranked on the bigram-LM quality signal (lmq = avg scaled logp)
    "pipeline_curriculum" ->
      s"""WITH ${OracleSql.lmQualityCtes},
         |r AS (SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM lmq),
         |n AS (SELECT count(*) AS n FROM lmq)
         |SELECT doc_id, score, CAST(rank AS BIGINT) AS rank,
         |  CAST(((rank - 1) * 4) // n AS BIGINT) AS phase
         |FROM r, n ORDER BY doc_id""".stripMargin,
    // chosen = argmax (score, -id); rejected = argmin (score, id) —
    // the window ORDER BY mirrors the engine's struct-max tie-breaks;
    // score is the bigram-LM quality signal
    "pipeline_preference_pairs" ->
      s"""WITH ${OracleSql.lmQualityCtes},
         |s AS (
         |  SELECT d.source, d.lang, d.doc_id, q.score
         |  FROM documents d JOIN lmq q USING (doc_id)),
         |r AS (
         |  SELECT *,
         |    row_number() OVER (PARTITION BY source, lang
         |                       ORDER BY score DESC, doc_id ASC) AS rc,
         |    row_number() OVER (PARTITION BY source, lang
         |                       ORDER BY score ASC, doc_id ASC) AS rr
         |  FROM s),
         |g AS (SELECT source, lang, count(*) AS n_docs FROM s GROUP BY 1, 2)
         |SELECT g.source, g.lang, g.n_docs,
         |  c.doc_id AS chosen_id, w.doc_id AS rejected_id,
         |  c.score AS chosen_score, w.score AS rejected_score,
         |  c.score - w.score AS margin
         |FROM g
         |JOIN r c ON c.source = g.source AND c.lang = g.lang AND c.rc = 1
         |JOIN r w ON w.source = g.source AND w.lang = g.lang AND w.rr = 1
         |WHERE c.score - w.score > 0
         |ORDER BY g.source, g.lang""".stripMargin,
    "sim_dim_stats" -> OracleSql.dimStats,
    "sim_dim_drift" -> OracleSql.dimDrift,
    "dedup_exact" ->
      """SELECT min(doc_id) AS doc_id FROM documents GROUP BY text ORDER BY doc_id""",
    "dedup_minhash" -> OracleSql.minhashFlat(8),
    "dedup_lsh_bands" -> OracleSql.lshBands(8, 4),
    "dedup_simhash" -> OracleSql.simhash(30),
    "dedup_simhash_pairs" -> OracleSql.simhashPairsSql(30, 3),
    "dedup_ngram_jaccard" -> OracleSql.ngramJaccardTop(50, maxDf = 1000L),
    "dedup_jaccard_prefix" -> OracleSql.ngramJaccardThreshold(0.8),
    "dedup_minhash_neardups" -> OracleSql.minhashNearDups(0.3),
    "dedup_lsh_quality" -> OracleSql.lshQuality(0.8),
    "text_scrub" -> OracleSql.textScrub,
    "text_scrub_pii" -> OracleSql.textScrubPii,
    // identical planting + Luhn fold in list arithmetic
    "text_luhn_scrub" ->
      """WITH t AS (
        |  SELECT doc_id, text || ' pay 4'
        |    || lpad(((doc_id * 7919) % 100000000000000)::VARCHAR, 14, '0')
        |    || (doc_id % 10)::VARCHAR || ' ref 123456789012 x' AS t
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, t,
        |    regexp_extract_all(t, '(^|[^0-9])([0-9]{13,19})([^0-9]|$)', 2) AS cands
        |  FROM t),
        |v AS (
        |  SELECT doc_id, t, cands,
        |    list_filter(cands, c ->
        |      list_reduce(list_prepend(0, list_transform(range(1, length(c) + 1),
        |        i -> CASE WHEN i % 2 = 0 THEN
        |               CASE WHEN 2 * (substr(c, (length(c) - i + 1)::INT, 1)::INT) > 9
        |                    THEN 2 * (substr(c, (length(c) - i + 1)::INT, 1)::INT) - 9
        |                    ELSE 2 * (substr(c, (length(c) - i + 1)::INT, 1)::INT) END
        |             ELSE substr(c, (length(c) - i + 1)::INT, 1)::INT END)),
        |        (a, x) -> a + x) % 10 = 0) AS valid
        |  FROM c)
        |SELECT doc_id, len(cands)::BIGINT AS n_candidates,
        |  len(valid)::BIGINT AS n_valid,
        |  list_reduce(list_prepend(t, valid),
        |    (acc, c) -> replace(acc, c, '<CARD>')) AS clean_text
        |FROM v ORDER BY doc_id""".stripMargin,
    "text_tfidf_pairs" -> OracleSql.tfIdfCosinePairs(50, 1000L),
    "pipeline_split" -> OracleSql.assignSplits(98, 1),
    "pipeline_split_safe" -> OracleSql.assignSplitsByCluster(98, 1, 0.3),
    "pipeline_split_safe_emb" -> OracleSql.assignSplitsByEmbeddingCluster(98, 1, 500, 0.4),
    "pipeline_decontaminate" -> OracleSql.decontaminate(4, 19),
    "pipeline_eval_contamination" -> OracleSql.evalContamination(4, 19),
    "text_repetition" -> OracleSql.repetition,
    "pipeline_stratified" -> OracleSql.stratifiedSample("lang", 20),
    "pipeline_mixture" -> OracleSql.mixtureSample(Seq("en" -> 75, "zh" -> 40), 20),
    "pipeline_temperature" -> OracleSql.temperatureMixture(50),
    "dedup_clusters" -> OracleSql.nearDupClusters(0.3),
    "dedup_embedding" -> OracleSql.embeddingClusters(500, 0.4),
    "pipeline_decon_embedding" -> OracleSql.crossSemanticPairs(50, 550, 0.4),
    "text_gopher" -> OracleSql.gopherQuality(50, 100000, 3.0, 10.0, 0.1, 0.9, 0.3, 0.8, 2),
    "text_chunks" -> OracleSql.chunkDocuments(32, 24),
    "text_hashing_tf" -> OracleSql.hashingTf(64, 1000000007L),
    // CDC ground truth: the rolling-window sum and mask test recomputed
    // character by character — a boundary placed or missed anywhere
    // shifts chunk_start/len/sum for the rest of the document
    "text_cdc_chunks" ->
      """WITH ch AS (
        |  SELECT doc_id, i, unicode(substr(text, i::INT, 1))::BIGINT AS code
        |  FROM documents, unnest(range(1, len(text) + 1)) AS u(i)
        |  WHERE len(text) > 0),
        |r AS (
        |  SELECT doc_id, i, code,
        |    sum(code) OVER w AS wsum, count(*) OVER w AS wn
        |  FROM ch
        |  WINDOW w AS (PARTITION BY doc_id ORDER BY i
        |               ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)),
        |m AS (
        |  SELECT doc_id, i, code,
        |    CASE WHEN wn = 8 AND wsum % 16 = 0 THEN 1 ELSE 0 END AS is_b
        |  FROM r),
        |g AS (
        |  SELECT doc_id, i, code,
        |    coalesce(sum(is_b) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cidx
        |  FROM m)
        |SELECT doc_id, cidx::BIGINT AS chunk_idx, min(i)::BIGINT AS chunk_start,
        |  count(*)::BIGINT AS chunk_len, sum(code)::BIGINT AS chunk_sum
        |FROM g GROUP BY doc_id, cidx
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    "pipeline_pack" -> OracleSql.packSequences(2048),
    // every aHash bit recomputed from the closed-form pixel value
    // (3x + 7y + 13·id mod 256) — agreement proves the real decoder
    // (CRC walk + inflate + unfilter) reconstructed every pixel
    "mm_phash" ->
      """WITH d AS (
        |  SELECT doc_id, (doc_id % 12 + 5) AS w, (doc_id % 9 + 4) AS h,
        |    ((doc_id * 13) % 256) AS off
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, w, h, x, y, (3*x + 7*y + off) % 256 AS v
        |  FROM d, unnest(range(0, w)) AS ux(x), unnest(range(0, h)) AS uy(y)),
        |m AS (SELECT doc_id, sum(v) // count(*) AS mean0 FROM px GROUP BY 1),
        |b AS (
        |  SELECT p.doc_id, p.w, p.h, p.x, p.y, m.mean0,
        |    CASE WHEN p.v > m.mean0 THEN '1' ELSE '0' END AS bit
        |  FROM px p JOIN m USING (doc_id))
        |SELECT doc_id AS media_id, w::BIGINT AS width, h::BIGINT AS height,
        |  mean0::BIGINT AS mean0,
        |  sum(CASE WHEN bit = '1' THEN 1 ELSE 0 END)::BIGINT AS n_ones,
        |  string_agg(bit, '' ORDER BY y, x) AS ahash
        |FROM b GROUP BY 1, 2, 3, 4 ORDER BY media_id""".stripMargin,
    // twin mapping s = id-1 for id%5==4; hashes from the closed-form
    // pixel formula of the SOURCE id; grouping mirrors the engine's
    "mm_phash_dedup" ->
      """WITH d AS (
        |  SELECT doc_id, CASE WHEN doc_id % 5 = 4 THEN doc_id - 1 ELSE doc_id END AS s
        |  FROM documents),
        |dim AS (
        |  SELECT doc_id, s, (s % 12 + 5) AS w, (s % 9 + 4) AS h,
        |    ((s * 13) % 256) AS off
        |  FROM d),
        |px AS (
        |  SELECT doc_id, w, h, x, y, (3*x + 7*y + off) % 256 AS v
        |  FROM dim, unnest(range(0, w)) AS ux(x), unnest(range(0, h)) AS uy(y)),
        |m AS (SELECT doc_id, sum(v) // count(*) AS mean0 FROM px GROUP BY 1),
        |hsh AS (
        |  SELECT p.doc_id, p.w, p.h,
        |    string_agg(CASE WHEN p.v > m.mean0 THEN '1' ELSE '0' END, ''
        |      ORDER BY p.y, p.x) AS ahash,
        |    sum(CASE WHEN p.v > m.mean0 THEN 1 ELSE 0 END)::BIGINT AS n_ones
        |  FROM px p JOIN m USING (doc_id) GROUP BY 1, 2, 3),
        |g AS (SELECT ahash, w, h, count(*)::BIGINT AS n_copies,
        |        min(doc_id) AS keep_id
        |      FROM hsh GROUP BY 1, 2, 3)
        |SELECT hsh.doc_id AS media_id, hsh.w::BIGINT AS width,
        |  hsh.h::BIGINT AS height, hsh.n_ones, g.n_copies,
        |  (hsh.doc_id = g.keep_id) AS keep
        |FROM hsh JOIN g USING (ahash, w, h) ORDER BY media_id""".stripMargin,
    // old side tokenizes documents, new side tokenizes the CDC-merged
    // `final` table; both relative frequencies in rounded ppm
    "text_drift" ->
      s"""WITH ${OracleSql.cdcFinalCte},
         |${OracleSql.toksCteFor("documents", "otoks")},
         |${OracleSql.toksCteFor("final", "ntoks")},
         |ow AS (SELECT w AS word, count(*)::BIGINT AS old_cnt
         |       FROM otoks, unnest(toks) AS u(w) WHERE w <> '' GROUP BY 1),
         |nw AS (SELECT w AS word, count(*)::BIGINT AS new_cnt
         |       FROM ntoks, unnest(toks) AS u(w) WHERE w <> '' GROUP BY 1),
         |tot AS (SELECT (SELECT sum(old_cnt) FROM ow) AS ot,
         |               (SELECT sum(new_cnt) FROM nw) AS nt),
         |j AS (
         |  SELECT coalesce(ow.word, nw.word) AS word,
         |    coalesce(old_cnt, 0)::BIGINT AS old_cnt,
         |    coalesce(new_cnt, 0)::BIGINT AS new_cnt
         |  FROM ow FULL OUTER JOIN nw ON ow.word = nw.word),
         |p AS (
         |  SELECT word, old_cnt, new_cnt,
         |    CAST(round(old_cnt * 1000000.0 / ot) AS BIGINT) AS old_ppm,
         |    CAST(round(new_cnt * 1000000.0 / nt) AS BIGINT) AS new_ppm
         |  FROM j CROSS JOIN tot)
         |SELECT word, old_cnt, new_cnt, old_ppm, new_ppm,
         |  (new_ppm - old_ppm)::BIGINT AS delta_ppm
         |FROM p ORDER BY abs(new_ppm - old_ppm) DESC, word LIMIT 40""".stripMargin,
    "pipeline_pack_stats" ->
      s"""WITH p AS (
         |${OracleSql.packSequences(2048)})
         |SELECT bin_id, count(*)::BIGINT AS n_docs,
         |  sum(n_tokens)::BIGINT AS bin_tokens,
         |  min(doc_id) AS first_doc,
         |  sum(n_tokens)::DOUBLE / 2048.0 AS fill_ratio
         |FROM p GROUP BY bin_id ORDER BY bin_id""".stripMargin,
    "pipeline_pack_tokens" -> OracleSql.packedBatches(2048),
    // exact membership semantics: the bloom prefilter must not change the
    // answer, so the oracle is the plain anti-join the bloom accelerates
    "pipeline_ingest" ->
      """SELECT i.doc_id, i.n_chars FROM documents i
        |WHERE i.doc_id % 2 = 0 AND NOT EXISTS (
        |  SELECT 1 FROM documents c WHERE c.doc_id % 3 <> 0 AND c.text = i.text)
        |ORDER BY i.doc_id""".stripMargin,
    "q_grouping_sets" -> rel.Relational.GroupingSetsSql,
    "q_profile" -> {
      def one(c: String) =
        s"""SELECT '$c' AS col_name, count($c) AS n_non_null,
           |  count(*) - count($c) AS n_nulls,
           |  count(DISTINCT $c) AS n_distinct,
           |  CAST(min($c) AS DOUBLE) AS min_value, CAST(max($c) AS DOUBLE) AS max_value
           |FROM lineitem""".stripMargin
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        .map(one).mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },
    // the skew machinery must be invisible in the result: the oracle is
    // the plain join
    "q_skew_join" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  count(*) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // AQE's runtime skew splitting must be invisible in the result too:
    // the identical plain-join oracle
    "q_skew_join_aqe" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  count(*) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_histogram" ->
      """WITH c AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem),
        |b AS (SELECT min(v) AS lo, max(v) AS hi FROM c)
        |SELECT CASE WHEN hi = lo THEN 0
        |            ELSE least(19, CAST(floor((v - lo) * 20 / (hi - lo + 1)) AS BIGINT)) END AS bin,
        |       count(*) AS n
        |FROM c, b GROUP BY bin ORDER BY bin""".stripMargin,
    // staged strictly-after mins; epoch-ms comparisons match the engine
    "q_funnel" ->
      """WITH s0 AS (SELECT user_id, min(epoch_ms(ts)) AS t FROM events
        |            WHERE event_type = 'view' GROUP BY user_id),
        |s1 AS (SELECT e.user_id, min(epoch_ms(e.ts)) AS t FROM events e
        |       JOIN s0 ON e.user_id = s0.user_id
        |       WHERE e.event_type = 'click' AND epoch_ms(e.ts) > s0.t GROUP BY e.user_id),
        |s2 AS (SELECT e.user_id, min(epoch_ms(e.ts)) AS t FROM events e
        |       JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'purchase' AND epoch_ms(e.ts) > s1.t GROUP BY e.user_id)
        |SELECT * FROM (
        |  SELECT 0 AS step_idx, 'view' AS step, (SELECT count(*) FROM s0) AS n_users
        |  UNION ALL SELECT 1, 'click', (SELECT count(*) FROM s1)
        |  UNION ALL SELECT 2, 'purchase', (SELECT count(*) FROM s2)
        |) ORDER BY step_idx""".stripMargin,
    "text_bpe" -> OracleSql.bpeMerges(8),
    "text_bpe_vocab" -> OracleSql.bpeSubwords(8),
    "text_bpe_encode" -> OracleSql.bpeEncode(8),
    "text_bbpe_encode" -> OracleSql.byteBpeEncode(8),
    // the decode twin never needs the trainer: ground truth is the
    // in-universe token stream straight from the salted text
    "text_bbpe_decode" ->
      """WITH bdocs AS (
        |  SELECT doc_id, text || ' protégé cafés naïve' AS text FROM documents),
        |t AS (
        |  SELECT doc_id, list_transform(
        |           list_filter(regexp_split_to_array(text, '[ \t\n\x0B\f\r]+'), x -> x <> ''),
        |           x -> lower(regexp_replace(x, '[^\p{L}\p{N}]+', '', 'g'))) AS toks
        |  FROM bdocs)
        |SELECT doc_id,
        |  array_to_string(list_filter(toks, x -> regexp_matches(x, '^[a-zé0-9ï]+$')), ' ')
        |    AS decoded
        |FROM t ORDER BY doc_id""".stripMargin,
    // the IDENTICAL RE2 pattern string Spark runs (single quotes
    // doubled for SQL); leading spaces are part of the token
    "text_bbpe_pretok" ->
      """WITH p AS (
        |  SELECT doc_id, regexp_extract_all(text,
        |    '''s|''t|''re|''ve|''m|''ll|''d| ?\p{L}+| ?\p{N}+| ?[^ \t\n\x0B\f\r\p{L}\p{N}]+|[ \t\n\x0B\f\r]+')
        |    AS pts FROM documents)
        |SELECT doc_id, CAST(i AS BIGINT) AS pt_no, pts[i+1] AS pretoken
        |FROM p, unnest(range(0, len(pts))) AS u(i)
        |ORDER BY doc_id, pt_no""".stripMargin,
    "text_bpe_fertility" ->
      s"""WITH enc AS (
         |${OracleSql.bpeEncode(8)}),
         |j AS (SELECT d.lang, e.n_tokens, e.n_subwords
         |      FROM enc e JOIN documents d USING (doc_id))
         |SELECT lang, count(*)::BIGINT AS n_docs,
         |  sum(n_tokens)::BIGINT AS n_words,
         |  sum(n_subwords)::BIGINT AS n_subwords,
         |  sum(n_subwords)::DOUBLE / nullif(sum(n_tokens), 0)::DOUBLE AS fertility
         |FROM j GROUP BY lang ORDER BY lang""".stripMargin,
    "text_bpe_model_encode" -> OracleSql.bpeModelEncode(8),
    "text_lm_score" -> OracleSql.lmScore,
    "text_kn_score" -> OracleSql.knScore,
    // associativity is the check: merged batch+corpus counts == recount
    "pipeline_merge_counts" ->
      s"""WITH tok AS ($tokSql)
         |SELECT word, count(*) AS cnt FROM tok GROUP BY word ORDER BY word""".stripMargin,
    "q_retention" ->
      """WITH e AS (SELECT user_id,
        |             CAST(floor(epoch_ms(ts) / 604800000) AS BIGINT) AS wk FROM events),
        |f AS (SELECT user_id, min(wk) AS cohort_week FROM e GROUP BY user_id)
        |SELECT f.cohort_week, e.wk - f.cohort_week AS week_offset,
        |       count(DISTINCT e.user_id) AS n_users
        |FROM e JOIN f ON e.user_id = f.user_id
        |GROUP BY f.cohort_week, week_offset
        |ORDER BY cohort_week, week_offset""".stripMargin,
    "q_transitions" ->
      """WITH o AS (SELECT user_id, event_id, epoch_ms(ts) AS ms, event_type FROM events),
        |t AS (SELECT user_id, event_type,
        |        lag(event_type) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev
        |      FROM o)
        |SELECT prev AS from_type, event_type AS to_type, count(*) AS n
        |FROM t WHERE prev IS NOT NULL
        |GROUP BY from_type, to_type ORDER BY from_type, to_type""".stripMargin,
    // portable gaps-and-islands forward fill — identical shape both sides
    "q_gap_fill" ->
      """WITH e AS (SELECT user_id,
        |             epoch_ms(ts) - (epoch_ms(ts) % 21600000) AS slot_ms, value
        |           FROM events),
        |b AS (SELECT user_id, min(slot_ms) AS lo, max(slot_ms) AS hi FROM e GROUP BY user_id),
        |grid AS (SELECT user_id,
        |           unnest(range(lo, hi + 21600000, 21600000)) AS slot_ms FROM b),
        |obs AS (SELECT user_id, slot_ms, max(value) AS slot_max FROM e GROUP BY user_id, slot_ms),
        |j AS (SELECT grid.user_id, grid.slot_ms, obs.slot_max FROM grid
        |      LEFT JOIN obs ON grid.user_id = obs.user_id AND grid.slot_ms = obs.slot_ms),
        |g2 AS (SELECT *, count(slot_max) OVER (PARTITION BY user_id ORDER BY slot_ms
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp FROM j)
        |SELECT user_id, slot_ms,
        |  max(slot_max) OVER (PARTITION BY user_id, grp) AS filled,
        |  slot_max IS NOT NULL AS observed
        |FROM g2 ORDER BY user_id, slot_ms""".stripMargin,
    // same quantize shape both sides: BIGINT (c-min)*65535 exact, one
    // double division, floor — identical IEEE result in both engines;
    // the interleave is generated term-for-term from the same bit fan
    "q_zorder" ->
      s"""WITH o AS (SELECT o_orderkey, o_custkey AS x,
         |             CAST(round(o_totalprice * 100) AS BIGINT) AS y FROM orders),
         |b AS (SELECT min(x) xmin, max(x) xmax, min(y) ymin, max(y) ymax FROM o),
         |q AS (SELECT o_orderkey,
         |  CASE WHEN xmax = xmin THEN 0
         |       ELSE CAST(floor((x - xmin) * 65535 / (xmax - xmin)) AS BIGINT) END AS qx,
         |  CASE WHEN ymax = ymin THEN 0
         |       ELSE CAST(floor((y - ymin) * 65535 / (ymax - ymin)) AS BIGINT) END AS qy
         |  FROM o, b)
         |SELECT o_orderkey, ${ext.Zorder.interleaveSql("qx", "qy")} AS zvalue
         |FROM q ORDER BY o_orderkey""".stripMargin,
    // HUGEINT interiors mirror the DECIMAL(38,0) numerators exactly;
    // both render as canonical integer strings
    "q_moments" ->
      """WITH g AS (
        |  SELECT l_returnflag, count(*)::BIGINT AS n,
        |    sum(q)::BIGINT AS s1, sum(q*q)::BIGINT AS s2,
        |    sum(q*q*q)::BIGINT AS s3, sum(q*q*q*q)::BIGINT AS s4
        |  FROM (SELECT l_returnflag, CAST(round(l_quantity) AS BIGINT) AS q
        |        FROM lineitem) t
        |  GROUP BY 1),
        |m AS (
        |  SELECT l_returnflag, n, s1,
        |    (n::HUGEINT * s2 - s1::HUGEINT * s1) AS a,
        |    (n::HUGEINT * n * s3 - 3 * n::HUGEINT * s1 * s2
        |      + 2 * s1::HUGEINT * s1 * s1) AS b,
        |    (n::HUGEINT * n * n * s4 - 4 * n::HUGEINT * n * s1 * s3
        |      + 6 * n::HUGEINT * s1 * s1 * s2
        |      - 3 * s1::HUGEINT * s1 * s1 * s1) AS c
        |  FROM g)
        |SELECT l_returnflag, n, s1,
        |  CAST(a AS VARCHAR) AS m2_num, CAST(b AS VARCHAR) AS m3_num,
        |  CAST(c AS VARCHAR) AS m4_num,
        |  CAST(b AS DOUBLE) / (CAST(a AS DOUBLE) * sqrt(CAST(a AS DOUBLE)))
        |    AS skewness,
        |  CAST(c AS DOUBLE) / (CAST(a AS DOUBLE) * CAST(a AS DOUBLE))
        |    AS kurtosis
        |FROM m ORDER BY l_returnflag""".stripMargin,
    "q_stats_agg" ->
      """WITH a AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    sum(CAST(round(l_quantity) AS BIGINT)) AS sq,
        |    sum(CAST(round(l_quantity) AS BIGINT)*CAST(round(l_quantity) AS BIGINT)) AS sq2,
        |    sum(CAST(round(l_extendedprice) AS BIGINT)) AS sp,
        |    sum(CAST(round(l_extendedprice) AS BIGINT)*CAST(round(l_extendedprice) AS BIGINT)) AS sp2,
        |    sum(CAST(round(l_quantity) AS BIGINT)*CAST(round(l_extendedprice) AS BIGINT)) AS sqp,
        |    quantile_cont(l_quantity, 0.5) AS median_qty
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  sqrt((CAST(n AS DOUBLE)*CAST(sq2 AS DOUBLE) - CAST(sq AS DOUBLE)*CAST(sq AS DOUBLE)) /
        |       (CAST(n AS DOUBLE)*(CAST(n AS DOUBLE) - 1.0))) AS stddev_qty,
        |  (CAST(n AS DOUBLE)*CAST(sqp AS DOUBLE) - CAST(sq AS DOUBLE)*CAST(sp AS DOUBLE)) /
        |  (sqrt(CAST(n AS DOUBLE)*CAST(sq2 AS DOUBLE) - CAST(sq AS DOUBLE)*CAST(sq AS DOUBLE)) *
        |   sqrt(CAST(n AS DOUBLE)*CAST(sp2 AS DOUBLE) - CAST(sp AS DOUBLE)*CAST(sp AS DOUBLE)))
        |    AS corr_qty_price,
        |  median_qty
        |FROM a ORDER BY l_returnflag""".stripMargin,
    "q_events_hopping" ->
      """WITH w AS (
        |  SELECT (epoch_ms(ts) // 900000 - k) * 900000 AS ws_ms, event_type,
        |    CAST(round(value*100) AS BIGINT) AS cents
        |  FROM events, unnest([0, 1, 2, 3]) AS u(k))
        |SELECT ws_ms, event_type, count(*) AS n,
        |  CAST(sum(cents) AS DOUBLE)/100.0 AS value_sum
        |FROM w GROUP BY ws_ms, event_type ORDER BY ws_ms, event_type""".stripMargin,
    "pipeline_clean_corpus" -> OracleSql.pipelineCleanCorpus(0.3),
    "pipeline_crawl_corpus" -> OracleSql.pipelineCrawlCorpus(0.3),
    "pipeline_clean_audit" -> OracleSql.pipelineCleanAudit(0.3),
    "sim_topk" -> OracleSql.simTopK(8, 5),
    "sim_knn_classify" -> OracleSql.knnClassify(8, 5),
    "sim_centroid_confusion" -> OracleSql.centroidConfusion,
    "sim_label_stats" ->
      """WITH n AS (
        |  SELECT label, len(embedding)::BIGINT AS dim,
        |    sqrt(list_reduce(list_prepend(0.0::DOUBLE,
        |      list_transform(range(1, len(embedding)+1),
        |        i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE)),
        |      (acc, v) -> acc + v)) AS nrm
        |  FROM embeddings)
        |SELECT label, count(*) AS n, max(dim) AS dim,
        |  min(nrm) AS min_norm, max(nrm) AS max_norm
        |FROM n GROUP BY label ORDER BY label""".stripMargin,
    "sim_cosine_pairs" -> OracleSql.cosineTopPairs(500, 50),
    "text_stats" ->
      s"""WITH ${OracleSql.toksCte},
         |raw AS (
         |  SELECT doc_id, len(toks)::BIGINT AS n_tokens,
         |    len(list_distinct(toks))::BIGINT AS n_distinct,
         |    list_reduce(list_prepend(0::BIGINT, list_transform(toks, t -> length(t)::BIGINT)),
         |      (a, b) -> a + b) AS n_token_chars,
         |    length(text)::BIGINT AS n_raw_chars
         |  FROM toks JOIN documents USING (doc_id))
         |SELECT doc_id, n_tokens, n_distinct, n_token_chars, n_raw_chars,
         |  CAST(n_token_chars AS DOUBLE) / CAST(nullif(n_tokens, 0) AS DOUBLE) AS avg_token_len,
         |  CAST(n_distinct AS DOUBLE) / CAST(nullif(n_tokens, 0) AS DOUBLE) AS ttr
         |FROM raw ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      s"""WITH ${OracleSql.toksCte},
         |raw AS (
         |  SELECT doc_id, len(toks)::BIGINT AS n_tokens,
         |    len(regexp_extract_all(text, '[\\p{L}]+|[\\p{N}]+|[^\\p{L}\\p{N}\\s]+'))::BIGINT AS n_bpeish,
         |    len(list_filter(toks, t -> t IN (${OracleSql.stopwordList})))::BIGINT AS n_stopwords,
         |    len(list_filter(toks, t -> regexp_matches(t, '^[0-9]+$$')))::BIGINT AS n_digit_tokens,
         |    len(list_filter(toks, t -> length(t) >= 10))::BIGINT AS n_long_tokens,
         |    len(regexp_extract_all(text, '[^\\p{L}\\p{N}\\s]'))::BIGINT AS n_punct_chars,
         |    length(text)::BIGINT AS n_chars_total
         |  FROM toks JOIN documents USING (doc_id)),
         |r2 AS (
         |  SELECT *,
         |    CAST(n_stopwords AS DOUBLE) / CAST(nullif(n_tokens, 0) AS DOUBLE) AS stopword_ratio,
         |    CAST(n_digit_tokens AS DOUBLE) / CAST(nullif(n_tokens, 0) AS DOUBLE) AS digit_ratio,
         |    CAST(n_punct_chars AS DOUBLE) / CAST(nullif(n_chars_total, 0) AS DOUBLE) AS punct_ratio
         |  FROM raw)
         |SELECT doc_id, n_tokens, n_bpeish, n_stopwords, n_digit_tokens, n_long_tokens,
         |  n_punct_chars, n_chars_total, stopword_ratio, digit_ratio, punct_ratio,
         |  (n_tokens >= 10 AND stopword_ratio >= 0.01 AND digit_ratio <= 0.5) AS quality_ok
         |FROM r2 ORDER BY doc_id""".stripMargin,
    "text_langid" -> OracleSql.langId,
    "text_lang_mix" -> OracleSql.langMix,
    "text_novelty" ->
      s"""WITH ${OracleSql.toksCte},
         |${OracleSql.ngramsCte(2)},
         |dg AS (SELECT DISTINCT doc_id, g FROM grams),
         |df AS (SELECT g, count(*) AS df FROM dg GROUP BY g)
         |SELECT dg.doc_id, count(*)::BIGINT AS n_grams,
         |  sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END)::BIGINT AS n_unique,
         |  CAST(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS novelty
         |FROM dg JOIN df USING (g)
         |GROUP BY dg.doc_id ORDER BY dg.doc_id""".stripMargin,
    "text_fingerprint" ->
      s"""SELECT doc_id, ${OracleSql.poly("text")} AS fingerprint
         |FROM documents ORDER BY doc_id""".stripMargin,
    "text_tfidf" ->
      s"""WITH ${OracleSql.toksCte},
         |tok AS (SELECT doc_id, unnest(toks) AS word FROM toks),
         |tf AS (SELECT doc_id, word, count(*) AS tf FROM tok GROUP BY doc_id, word),
         |df AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
         |n AS (SELECT count(*)::DOUBLE AS n FROM documents),
         |scored AS (
         |  SELECT doc_id, word, tf, df,
         |    tf * CAST(round(ln(n.n / CAST(df AS DOUBLE)) * 1000000.0) AS BIGINT) AS score_scaled
         |  FROM tf JOIN df USING (word), n),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY score_scaled DESC, word) AS rn FROM scored)
         |SELECT doc_id, word, tf, df, score_scaled, rn FROM ranked
         |WHERE rn <= 5 ORDER BY doc_id, rn""".stripMargin,
    "text_vocab" ->
      s"""WITH tok AS ($tokSql),
         |counts AS (SELECT word, count(*) AS cnt FROM tok GROUP BY word)
         |SELECT row_number() OVER (ORDER BY cnt DESC, word) - 1 AS word_id, word, cnt
         |FROM counts ORDER BY word_id""".stripMargin,
    "text_readability" ->
      s"""WITH ${OracleSql.toksCte},
         |tokw AS (SELECT doc_id, w AS word FROM toks, unnest(toks) AS u(w)),
         |syl AS (
         |  SELECT doc_id, count(*)::BIGINT AS n_words,
         |    sum(len(regexp_extract_all(word, '[aeiouy]+')))::BIGINT AS n_syllables
         |  FROM tokw GROUP BY doc_id),
         |sent AS (
         |  SELECT doc_id,
         |    greatest(1, len(regexp_extract_all(coalesce(text, ''), '[.!?]+')))::BIGINT
         |      AS n_sentences
         |  FROM documents)
         |SELECT s.doc_id, s.n_sentences,
         |  coalesce(y.n_words, 0)::BIGINT AS n_words,
         |  coalesce(y.n_syllables, 0)::BIGINT AS n_syllables,
         |  CASE WHEN coalesce(y.n_words, 0) = 0 THEN NULL
         |       ELSE 206.835::DOUBLE
         |            - 1.015::DOUBLE * (y.n_words::DOUBLE / s.n_sentences::DOUBLE)
         |            - 84.6::DOUBLE * (y.n_syllables::DOUBLE / y.n_words::DOUBLE)
         |  END AS flesch
         |FROM sent s LEFT JOIN syl y USING (doc_id)
         |ORDER BY s.doc_id""".stripMargin,
    "text_oov" ->
      s"""WITH ${OracleSql.toksCte},
         |tokpos AS (
         |  SELECT doc_id, toks[i] AS word
         |  FROM toks, unnest(range(1, len(toks)+1)) AS r(i)),
         |counts AS (SELECT word, count(*) AS cnt FROM tokpos GROUP BY word),
         |vocab AS (SELECT word, row_number() OVER (ORDER BY cnt DESC, word) - 1 AS word_id
         |          FROM counts),
         |top AS (SELECT word FROM vocab WHERE word_id < 24),
         |per AS (
         |  SELECT t.doc_id, count(*)::BIGINT AS n_tokens,
         |    sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov
         |  FROM tokpos t LEFT JOIN top v USING (word) GROUP BY 1)
         |SELECT d.doc_id, coalesce(per.n_tokens, 0)::BIGINT AS n_tokens,
         |  coalesce(per.n_oov, 0)::BIGINT AS n_oov,
         |  CASE WHEN coalesce(per.n_tokens, 0) = 0 THEN 0.0::DOUBLE
         |       ELSE per.n_oov::DOUBLE / per.n_tokens::DOUBLE END AS oov_rate
         |FROM documents d LEFT JOIN per USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "text_encode" ->
      s"""WITH ${OracleSql.toksCte},
         |tokpos AS (
         |  SELECT doc_id, i - 1 AS pos, toks[i] AS word
         |  FROM toks, unnest(range(1, len(toks)+1)) AS r(i)),
         |counts AS (SELECT word, count(*) AS cnt FROM tokpos GROUP BY word),
         |vocab AS (SELECT word, row_number() OVER (ORDER BY cnt DESC, word) - 1 AS word_id
         |          FROM counts)
         |SELECT doc_id, CAST(pos AS BIGINT) AS pos, coalesce(word_id, -1) AS word_id
         |FROM tokpos LEFT JOIN vocab USING (word)
         |ORDER BY doc_id, pos""".stripMargin,
    "text_bigrams" ->
      s"""WITH ${OracleSql.toksCte},
         |grams AS (
         |  SELECT g FROM toks, unnest(CASE WHEN len(toks) >= 2
         |    THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
         |    ELSE [] END) AS u(g))
         |SELECT g AS ngram, count(*) AS cnt FROM grams
         |GROUP BY g ORDER BY cnt DESC, ngram LIMIT 20""".stripMargin,
    // PMI mirror: the probability ratio is ONE double expression with the
    // identical association as the engine; round at 1e-6 absorbs libm ulps
    "text_pmi" ->
      s"""WITH ${OracleSql.toksCte},
         |grams AS (
         |  SELECT g FROM toks, unnest(CASE WHEN len(toks) >= 2
         |    THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
         |    ELSE [] END) AS u(g)),
         |bi AS (SELECT g AS bigram, count(*) AS cab FROM grams GROUP BY g),
         |uni AS (SELECT w AS word, count(*) AS c
         |        FROM toks, unnest(toks) AS u(w) GROUP BY w),
         |tot AS (SELECT (SELECT CAST(sum(c) AS BIGINT) FROM uni) AS w_total,
         |               (SELECT CAST(sum(cab) AS BIGINT) FROM bi) AS b_total)
         |SELECT bigram, cab, ua.c AS ca, ub.c AS cb,
         |  round(ln((CAST(cab AS DOUBLE) * w_total * w_total) /
         |           (CAST(b_total AS DOUBLE) * ua.c * ub.c)) * 1e6) / 1e6 AS pmi
         |FROM bi, tot
         |JOIN uni ua ON ua.word = string_split(bigram, ' ')[1]
         |JOIN uni ub ON ub.word = string_split(bigram, ' ')[2]
         |WHERE cab >= 5
         |ORDER BY cab DESC, bigram LIMIT 50""".stripMargin,
    // ground truth for the REAL codec: the fixtures are encoded from
    // closed-form parameters of doc_id, so the oracle recomputes them and
    // any decoder fault (stride, padding, channel order, SOF offset)
    // hash-mismatches. bmp size = 54 + h*stride4(w*3); ppm size = header
    // (35 fixed chars + digits of w and h) + 3*w*h; jpeg shell = 58.
    "mm_features" ->
      """SELECT doc_id AS media_id, 'image' AS kind,
        |  CASE doc_id % 3
        |    WHEN 0 THEN 54 + (doc_id % 11 + 3) * ((((doc_id % 13 + 4) * 3 + 3) // 4) * 4)
        |    WHEN 1 THEN 35 + length(CAST(doc_id % 13 + 4 AS VARCHAR))
        |                   + length(CAST(doc_id % 11 + 3 AS VARCHAR))
        |                   + 3 * (doc_id % 13 + 4) * (doc_id % 11 + 3)
        |    ELSE 58 END AS n_bytes,
        |  doc_id % 13 + 4 AS width,
        |  doc_id % 11 + 3 AS height,
        |  CASE doc_id % 3 WHEN 0 THEN 'bmp' WHEN 1 THEN 'ppm' ELSE 'jpeg' END AS format,
        |  CASE WHEN doc_id % 3 = 2 THEN CAST(-1 AS BIGINT) ELSE (doc_id * 13) % 251 END AS mean_r,
        |  CASE WHEN doc_id % 3 = 2 THEN CAST(-1 AS BIGINT) ELSE (doc_id * 7) % 251 END AS mean_g,
        |  CASE WHEN doc_id % 3 = 2 THEN CAST(-1 AS BIGINT) ELSE (doc_id * 3) % 251 END AS mean_b
        |FROM documents ORDER BY media_id""".stripMargin,
    // the Jpeg color contract replayed in SQL: 16-bit fixed point with
    // arithmetic-shift rounding. `(a + 2^24) // 65536 - 256` equals the
    // arithmetic shift `a >> 16` for any a > -2^24 while keeping the
    // numerator positive (SQL `//` semantics diverge on negatives)
    "mm_jpeg_pixels" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    CAST(doc_id % 13 + 4 AS BIGINT) AS width,
        |    CAST(doc_id % 11 + 3 AS BIGINT) AS height,
        |    CASE WHEN doc_id % 7 = 3 THEN 'gray'
        |         WHEN doc_id % 2 = 1 THEN '420' ELSE '444' END AS chroma,
        |    (doc_id * 13) % 251 AS r, (doc_id * 7) % 251 AS g, (doc_id * 3) % 251 AS b
        |  FROM documents),
        |ycc AS (
        |  SELECT doc_id, width, height, chroma, r,
        |    (19595*r + 38470*g + 7471*b + 32768) // 65536 AS y,
        |    128 + ((-11059*r - 21709*g + 32768*b + 32768 + 16777216) // 65536) - 256 AS cb,
        |    128 + ((32768*r - 27439*g - 5329*b + 32768 + 16777216) // 65536) - 256 AS cr
        |  FROM c)
        |SELECT doc_id AS media_id, width, height, chroma,
        |  CAST(CASE WHEN chroma = 'gray' THEN r ELSE greatest(0, least(255,
        |    y + ((91881*(cr-128) + 32768 + 16777216) // 65536) - 256)) END AS BIGINT) AS mean_r,
        |  CAST(CASE WHEN chroma = 'gray' THEN r ELSE greatest(0, least(255,
        |    y - (((22554*(cb-128) + 46802*(cr-128) + 32768 + 16777216) // 65536) - 256))) END AS BIGINT) AS mean_g,
        |  CAST(CASE WHEN chroma = 'gray' THEN r ELSE greatest(0, least(255,
        |    y + ((116131*(cb-128) + 32768 + 16777216) // 65536) - 256)) END AS BIGINT) AS mean_b
        |FROM ycc ORDER BY media_id""".stripMargin,
    // progressive twin: identical pixel oracle (the multi-scan
    // accumulation must land on the same coefficients), plus the scan
    // count of the fixture script (5 gray / 11 color)
    "mm_jpeg_progressive" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    CAST(doc_id % 13 + 4 AS BIGINT) AS width,
        |    CAST(doc_id % 11 + 3 AS BIGINT) AS height,
        |    CASE WHEN doc_id % 7 = 3 THEN 'gray'
        |         WHEN doc_id % 2 = 1 THEN '420' ELSE '444' END AS chroma,
        |    (doc_id * 13) % 251 AS r, (doc_id * 7) % 251 AS g, (doc_id * 3) % 251 AS b
        |  FROM documents),
        |ycc AS (
        |  SELECT doc_id, width, height, chroma, r,
        |    (19595*r + 38470*g + 7471*b + 32768) // 65536 AS y,
        |    128 + ((-11059*r - 21709*g + 32768*b + 32768 + 16777216) // 65536) - 256 AS cb,
        |    128 + ((32768*r - 27439*g - 5329*b + 32768 + 16777216) // 65536) - 256 AS cr
        |  FROM c)
        |SELECT doc_id AS media_id, width, height, chroma,
        |  CAST(CASE WHEN chroma = 'gray' THEN 5 ELSE 11 END AS BIGINT) AS n_scans,
        |  CAST(CASE WHEN chroma = 'gray' THEN r ELSE greatest(0, least(255,
        |    y + ((91881*(cr-128) + 32768 + 16777216) // 65536) - 256)) END AS BIGINT) AS mean_r,
        |  CAST(CASE WHEN chroma = 'gray' THEN r ELSE greatest(0, least(255,
        |    y - (((22554*(cb-128) + 46802*(cr-128) + 32768 + 16777216) // 65536) - 256))) END AS BIGINT) AS mean_g,
        |  CAST(CASE WHEN chroma = 'gray' THEN r ELSE greatest(0, least(255,
        |    y + ((116131*(cb-128) + 32768 + 16777216) // 65536) - 256)) END AS BIGINT) AS mean_b
        |FROM ycc ORDER BY media_id""".stripMargin,
    // closed-form ground truth of the EXIF fixtures: six IFD0 entries
    // per asset, every value a function of the id (ASCII counts include
    // the trailing NUL per the TIFF spec)
    "mm_jpeg_exif" ->
      """WITH e AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order
        |  FROM documents)
        |SELECT doc_id AS media_id, byte_order, ifd, tag, ttype, n_values, value FROM (
        |  SELECT doc_id, byte_order, 'ifd0' AS ifd, 256::BIGINT AS tag,
        |         4::BIGINT AS ttype, 1::BIGINT AS n_values,
        |         CAST(doc_id % 13 + 4 AS VARCHAR) AS value FROM e
        |  UNION ALL SELECT doc_id, byte_order, 'ifd0', 271, 2, 6, 'graft' FROM e
        |  UNION ALL SELECT doc_id, byte_order, 'ifd0', 272, 2,
        |    length('cam-' || (doc_id % 100)) + 1, 'cam-' || (doc_id % 100) FROM e
        |  UNION ALL SELECT doc_id, byte_order, 'ifd0', 274, 3, 1,
        |    CAST(doc_id % 8 + 1 AS VARCHAR) FROM e
        |  UNION ALL SELECT doc_id, byte_order, 'ifd0', 282, 5, 1,
        |    (doc_id % 300 + 1) || '/25' FROM e
        |  UNION ALL SELECT doc_id, byte_order, 'ifd0', 306, 2, 20,
        |    '2026:01:01 00:00:' || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') FROM e
        |  -- the Exif sub-IFD behind the 0x8769 pointer (the pointer
        |  -- entry itself is structural and never lands as a row)
        |  UNION ALL SELECT doc_id, byte_order, 'exif', 33434, 5, 1,
        |    '1/' || (doc_id % 250 + 1) FROM e
        |  UNION ALL SELECT doc_id, byte_order, 'exif', 33437, 5, 1,
        |    (doc_id % 60 + 10) || '/10' FROM e
        |  UNION ALL SELECT doc_id, byte_order, 'exif', 34855, 3, 1,
        |    CAST(100 + (doc_id % 8) * 50 AS VARCHAR) FROM e
        |  UNION ALL SELECT doc_id, byte_order, 'exif', 42036, 2,
        |    length('lens-' || (doc_id % 30)) + 1, 'lens-' || (doc_id % 30) FROM e)
        |ORDER BY media_id, tag""".stripMargin,
    // closed-form ground truth of the MP4 fixtures: every graded field
    // (incl. the positional sample-byte checksum) is a function of the id
    "mm_mp4_meta" ->
      """WITH par AS (
        |  SELECT doc_id,
        |    CAST((doc_id % 5 + 1) * 64 AS BIGINT) AS width,
        |    CAST((doc_id % 4 + 1) * 48 AS BIGINT) AS height,
        |    CAST(doc_id % 7 + 2 AS BIGINT) AS n_samples,
        |    CAST(doc_id % 11 + 5 AS BIGINT) AS slen,
        |    CAST((doc_id % 7 + 2) * (doc_id % 6 + 1) * 40 AS BIGINT) AS duration_ms
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, duration_ms, width, height, n_samples, slen,
        |    (doc_id * 31 + u.i * 7 + v.j) % 256 AS b,
        |    u.i * slen + v.j + 1 AS pos
        |  FROM par, unnest(range(0, n_samples)) AS u(i),
        |       unnest(range(0, slen)) AS v(j)),
        |s AS (
        |  SELECT doc_id, duration_ms, width, height, n_samples, slen,
        |    sum((b + 1) * pos)::BIGINT AS checksum
        |  FROM px GROUP BY 1, 2, 3, 4, 5, 6)
        |SELECT doc_id AS media_id, duration_ms, width, height, n_samples,
        |  (n_samples * slen)::BIGINT AS sample_bytes, checksum
        |FROM s ORDER BY media_id""".stripMargin,
    "mm_frames" ->
      """SELECT doc_id AS media_id, CAST(o AS BIGINT) AS frame_offset
        |FROM documents, unnest(range(0, octet_length(encode(text)), 100)) AS u(o)
        |ORDER BY media_id, frame_offset""".stripMargin,
    // closed-form ground truth of the MJPEG-in-MP4 frames: per (id,
    // frame) constant colors through the same integer YCbCr round trip
    // as mm_jpeg_pixels (gray ids decode to the luma directly)
    "mm_mp4_frames" ->
      """WITH f AS (
        |  SELECT doc_id, i,
        |    CAST(doc_id % 13 + 4 AS BIGINT) AS width,
        |    CAST(doc_id % 11 + 3 AS BIGINT) AS height,
        |    (doc_id % 7 = 3) AS gray,
        |    (doc_id * 13 + i * 17) % 251 AS r,
        |    (doc_id * 7 + i * 29) % 251 AS g,
        |    (doc_id * 3 + i * 5) % 251 AS b
        |  FROM documents, unnest(range(0, doc_id % 5 + 2)) AS u(i)),
        |ycc AS (
        |  SELECT doc_id, i, width, height, gray, r,
        |    (19595*r + 38470*g + 7471*b + 32768) // 65536 AS y,
        |    128 + ((-11059*r - 21709*g + 32768*b + 32768 + 16777216) // 65536) - 256 AS cb,
        |    128 + ((32768*r - 27439*g - 5329*b + 32768 + 16777216) // 65536) - 256 AS cr
        |  FROM f)
        |SELECT doc_id AS media_id, CAST(i AS BIGINT) AS frame_no, width, height,
        |  CAST(CASE WHEN gray THEN r ELSE greatest(0, least(255,
        |    y + ((91881*(cr-128) + 32768 + 16777216) // 65536) - 256)) END AS BIGINT) AS mean_r,
        |  CAST(CASE WHEN gray THEN r ELSE greatest(0, least(255,
        |    y - (((22554*(cb-128) + 46802*(cr-128) + 32768 + 16777216) // 65536) - 256))) END AS BIGINT) AS mean_g,
        |  CAST(CASE WHEN gray THEN r ELSE greatest(0, least(255,
        |    y + ((116131*(cb-128) + 32768 + 16777216) // 65536) - 256)) END AS BIGINT) AS mean_b
        |FROM ycc ORDER BY media_id, frame_no""".stripMargin,
    "mm_resize" ->
      """WITH f AS (
        |  SELECT doc_id AS media_id,
        |    doc_id % 13 + 4 AS width,
        |    doc_id % 11 + 3 AS height
        |  FROM documents)
        |SELECT media_id, width, height,
        |  CASE WHEN greatest(width, height) > 10
        |       THEN CAST(floor(width * 10 / greatest(width, height)) AS BIGINT)
        |       ELSE width END AS new_width,
        |  CASE WHEN greatest(width, height) > 10
        |       THEN CAST(floor(height * 10 / greatest(width, height)) AS BIGINT)
        |       ELSE height END AS new_height,
        |  greatest(width, height) > 10 AS resized
        |FROM f ORDER BY media_id""".stripMargin,
    "mm_dedup" ->
      """SELECT min(doc_id) AS media_id, sha256(text) AS payload_sha,
        |  count(*)::BIGINT AS n_copies
        |FROM documents GROUP BY sha256(text) ORDER BY media_id""".stripMargin,
    // WAV ground truth: fixtures encoded from closed-form parameters of
    // doc_id (constant-amplitude PCM s16le), so any chunk-walk / byte-
    // order / sign-extension fault in the decoder hash-mismatches.
    // n_bytes = RIFF(12) + fmt(24) + LIST(18) + data hdr(8) + frames*ch*2.
    // animated ground truth: per-frame pixel formula summed across the
    // frame-offset positional weights; total delay in closed form
    // (sum of (f+1)*10 + id%7 over nf frames)
    "mm_gif_anim" ->
      """WITH par AS (
        |  SELECT doc_id, doc_id % 12 + 20 AS w, doc_id % 9 + 16 AS h,
        |    doc_id % 4 + 2 AS nf, doc_id % 3 AS loops, doc_id % 7 AS dk
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, w, h, t.f, u.x, v.y
        |  FROM par, unnest(range(0, nf)) AS t(f),
        |       unnest(range(0, w)) AS u(x), unnest(range(0, h)) AS v(y)),
        |ck AS (
        |  SELECT doc_id,
        |    sum(((3*x + 7*y + doc_id*11 + f*5) % 256 + 1)
        |        * (f*w*h + y*w + x + 1))::BIGINT AS checksum
        |  FROM px GROUP BY 1)
        |SELECT p.doc_id AS media_id, p.nf::BIGINT AS n_frames,
        |  p.loops::BIGINT AS loops,
        |  (5 * p.nf * (p.nf + 1) + p.nf * p.dk)::BIGINT AS total_delay_cs,
        |  c.checksum
        |FROM par p JOIN ck c ON p.doc_id = c.doc_id
        |ORDER BY media_id""".stripMargin,
    // composited-canvas ground truth: per frame a CASE over the rects —
    // base everywhere (f0); the holed rect drawn where its local value
    // is not the transparent 7 (f1); the overlap rect, then restored
    // background inside rect1, else base (f2)
    "mm_gif_composite" ->
      """WITH par AS (
        |  SELECT doc_id, doc_id % 12 + 20 AS w, doc_id % 9 + 16 AS h FROM documents),
        |px AS (
        |  SELECT doc_id, w, h, u.x, v.y
        |  FROM par, unnest(range(0, w)) AS u(x), unnest(range(0, h)) AS v(y)),
        |c AS (
        |  SELECT doc_id, w, h, x, y,
        |    (3*x + 7*y + doc_id*11) % 256 AS b,
        |    (x >= 2 AND x < 2 + w // 2 AND y >= 3 AND y < 3 + h // 2) AS in1,
        |    (x >= 1 AND x < 1 + w // 3 AND y >= 1 AND y < 1 + h // 3) AS in2,
        |    (3*(x-2) + 7*(y-3) + doc_id) % 16 AS f1,
        |    ((x-1) + 2*(y-1) + doc_id) % 32 AS f2
        |  FROM px),
        |frames AS (
        |  SELECT doc_id, w, h, x, y, 0 AS f, b AS v FROM c
        |  UNION ALL SELECT doc_id, w, h, x, y, 1,
        |    CASE WHEN in1 AND f1 <> 7 THEN f1 ELSE b END FROM c
        |  UNION ALL SELECT doc_id, w, h, x, y, 2,
        |    CASE WHEN in2 THEN f2 WHEN in1 THEN 0 ELSE b END FROM c)
        |SELECT doc_id AS media_id, f::BIGINT AS frame_no,
        |  sum((v + 1) * (f*w*h + y*w + x + 1))::BIGINT AS checksum
        |FROM frames GROUP BY 1, 2 ORDER BY media_id, frame_no""".stripMargin,
    // bit depth cycles 16/8/24 (doc_id % 3); the stored amplitude is
    // ranged per depth — 8-bit fits the signed byte, 24-bit exceeds 16
    // bits so a truncating decoder is caught
    "mm_audio" ->
      """SELECT doc_id AS media_id,
        |  62 + (50 + doc_id % 100) * (1 + doc_id % 2)
        |     * (CASE doc_id % 3 WHEN 0 THEN 2 WHEN 1 THEN 1 ELSE 3 END) AS n_bytes,
        |  8000 + (doc_id % 3) * 4000 AS sample_rate,
        |  1 + doc_id % 2 AS n_channels,
        |  CASE doc_id % 3 WHEN 0 THEN 16 WHEN 1 THEN 8 ELSE 24 END AS bit_depth,
        |  50 + doc_id % 100 AS n_frames,
        |  CASE doc_id % 3 WHEN 0 THEN (doc_id * 37) % 1000
        |       WHEN 1 THEN ((doc_id * 37) % 1000) % 120
        |       ELSE ((doc_id * 37) % 1000) * 1000 + 7 END AS mean_abs
        |FROM documents ORDER BY media_id""".stripMargin,
    // integer-contract DFT replay: same 96-entry scaled sine table,
    // same half-away rndDiv sample synthesis, same re/im accumulation;
    // the one double step (round(sqrt(re^2+im^2))) is IEEE-deterministic
    "mm_audio_tones" ->
      (s"""WITH lutc AS (SELECT [${ext.Multimodal.SinLut.mkString(", ")}]::BIGINT[] AS lut),
         |par AS (
         |  SELECT doc_id,
         |    CASE doc_id % 3 WHEN 0 THEN 16 WHEN 1 THEN 8 ELSE 24 END AS bits,
         |    2 + doc_id % 2 AS ntones
         |  FROM documents),
         |base AS (
         |  SELECT doc_id, ntones,
         |    CASE bits WHEN 8 THEN 30 WHEN 16 THEN 9000 ELSE 200000 END AS b
         |  FROM par),
         |tones AS (
         |  SELECT doc_id, 1 + 3*t + doc_id % 7 AS kt, b - t*b//4 AS amp
         |  FROM base, unnest(range(0, ntones)) AS u(t)),
         |samp AS (
         |  SELECT doc_id, n,
         |    sum(CASE WHEN amp*lut[((kt*n) % 96) + 1] >= 0
         |             THEN (amp*lut[((kt*n) % 96) + 1] + 500000) // 1000000
         |             ELSE -((-(amp*lut[((kt*n) % 96) + 1]) + 500000) // 1000000)
         |        END)::BIGINT AS x
         |  FROM tones, lutc, unnest(range(0, 96)) AS v(n)
         |  GROUP BY 1, 2),
         |probes AS (
         |  SELECT DISTINCT doc_id, kt AS k FROM tones
         |  UNION SELECT doc_id, 23 FROM base),
         |dft AS (
         |  SELECT p.doc_id, p.k,
         |    sum(s.x * lut[((p.k*s.n + 24) % 96) + 1])::BIGINT AS re_scaled,
         |    (-sum(s.x * lut[((p.k*s.n) % 96) + 1]))::BIGINT AS im_scaled
         |  FROM probes p JOIN samp s ON p.doc_id = s.doc_id, lutc
         |  GROUP BY 1, 2)
         |SELECT doc_id AS media_id, CAST(k AS BIGINT) AS bin, re_scaled, im_scaled,
         |  CAST(round(sqrt(CAST(re_scaled AS DOUBLE)*re_scaled
         |                  + CAST(im_scaled AS DOUBLE)*im_scaled)) AS BIGINT)
         |    AS magnitude
         |FROM dft ORDER BY media_id, bin""").stripMargin,
    // PNG ground truth: fixture pixels are the gradient (3x + 7y + off_c)
    // mod 256, so the oracle recomputes the exact per-channel sums pixel
    // by pixel — a decoder that mis-reverses any scanline filter (the
    // encoder cycles all 5) diverges on the graded means. n_bytes is
    // closed-form because IDAT uses stored-block zlib framing:
    // 8 (sig) + 25 (IHDR) + 12 + [2 + 5 + raw + 4] (IDAT) + 12 (IEND)
    // = 68 + raw, raw = h * (1 + w * bpp).
    // closed-form ground truth of the GIF fixtures: identity red channel
    // recovers the palette index, so stats AND the positional checksum
    // are pure SQL over the planted pattern
    "mm_gif" ->
      """WITH par AS (
        |  SELECT doc_id, doc_id % 12 + 20 AS w, doc_id % 9 + 16 AS h,
        |    doc_id % 2 = 1 AS il
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, w, h, il, u.x, v.y,
        |    (3*u.x + 7*v.y + (doc_id*11) % 256) % 256 AS idx
        |  FROM par, unnest(range(0, w)) AS u(x), unnest(range(0, h)) AS v(y)),
        |s AS (
        |  SELECT doc_id, w, h, il,
        |    count(DISTINCT idx)::BIGINT AS n_colors,
        |    sum((idx + 1) * (y*w + x + 1))::BIGINT AS checksum,
        |    sum(idx)::BIGINT AS sr,
        |    sum((idx*7) % 256)::BIGINT AS sg,
        |    sum((idx*13) % 256)::BIGINT AS sb
        |  FROM px GROUP BY 1, 2, 3, 4)
        |SELECT doc_id AS media_id, w AS width, h AS height, il AS interlaced,
        |  n_colors, checksum,
        |  sr // (w*h) AS mean_r, sg // (w*h) AS mean_g, sb // (w*h) AS mean_b
        |FROM s ORDER BY media_id""".stripMargin,
    "mm_png" ->
      """WITH par AS (
        |  SELECT doc_id, doc_id % 12 + 5 AS w, doc_id % 9 + 4 AS h, doc_id % 3 AS m,
        |    (CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END) AS bpp
        |  FROM documents),
        |-- Adam7 pass geometry; every 7th asset is interlaced, so its
        |-- raw scanline stream is the per-pass sum, not h*(1+w*bpp)
        |adam7(x0, y0, dx, dy) AS (VALUES
        |  (0,0,8,8),(4,0,8,8),(0,4,4,8),(2,0,4,4),(0,2,2,4),(1,0,2,2),(0,1,1,2)),
        |rawlen AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 3 THEN (
        |      SELECT sum(CASE WHEN p.w > a.x0 AND p.h > a.y0
        |        THEN ((p.h - a.y0 + a.dy - 1) // a.dy)
        |           * (1 + ((p.w - a.x0 + a.dx - 1) // a.dx) * p.bpp)
        |        ELSE 0 END)
        |      FROM adam7 a)
        |    ELSE h * (1 + w * bpp) END AS raw_len
        |  FROM par p),
        |px AS (
        |  SELECT doc_id, w, h, m, u.x, v.y
        |  FROM par, unnest(range(0, w)) AS u(x), unnest(range(0, h)) AS v(y)),
        |s AS (
        |  SELECT doc_id, w, h, m,
        |    sum((3*x + 7*y + (doc_id*13) % 256) % 256)::BIGINT AS s0,
        |    sum((3*x + 7*y + (doc_id*7) % 256) % 256)::BIGINT AS s1,
        |    sum((3*x + 7*y + (doc_id*3) % 256) % 256)::BIGINT AS s2,
        |    sum((3*x + 7*y + (doc_id*5) % 256) % 256)::BIGINT AS s3
        |  FROM px GROUP BY 1, 2, 3, 4)
        |SELECT doc_id AS media_id,
        |  (68 + (SELECT raw_len FROM rawlen r WHERE r.doc_id = s.doc_id))::BIGINT AS n_bytes,
        |  w AS width, h AS height,
        |  CASE m WHEN 0 THEN 'gray' WHEN 1 THEN 'rgb' ELSE 'rgba' END AS color_type,
        |  s0 // (w*h) AS mean_r,
        |  CASE WHEN m = 0 THEN s0 // (w*h) ELSE s1 // (w*h) END AS mean_g,
        |  CASE WHEN m = 0 THEN s0 // (w*h) ELSE s2 // (w*h) END AS mean_b,
        |  CASE WHEN m = 2 THEN s3 // (w*h) ELSE CAST(-1 AS BIGINT) END AS mean_a
        |FROM s ORDER BY media_id""".stripMargin,
    // closed-form ground truth of the planted INFO sub-chunks; the engine
    // must recover exactly these through the real RIFF byte round trip
    "mm_wav_info" ->
      """SELECT media_id, ikey, ivalue FROM (
        |  SELECT doc_id AS media_id, 'IART' AS ikey, 'graft engine' AS ivalue
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, 'INAM',
        |    'clip-' || doc_id || '-' || (8000 + (doc_id % 3) * 4000) || 'hz'
        |  FROM documents)
        |ORDER BY media_id, ikey""".stripMargin,
    // closed-form ground truth of the planted tEXt chunks; the engine
    // side must recover exactly these through the real byte round trip
    "mm_png_text" ->
      """SELECT media_id, tkey, tvalue FROM (
        |  SELECT doc_id AS media_id, 'Comment' AS tkey,
        |    'img-' || doc_id || '-' || ((doc_id % 12) + 5) || 'x'
        |      || ((doc_id % 9) + 4) AS tvalue
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, 'Software', 'graft engine' FROM documents)
        |ORDER BY media_id, tkey""".stripMargin,
    "sim_mips" -> OracleSql.simMips(8, 5),
    "q_array_agg" ->
      """WITH g AS (
        |  SELECT l_orderkey,
        |    list(CAST(l_quantity AS BIGINT) ORDER BY CAST(l_quantity AS BIGINT) DESC) AS qs
        |  FROM lineitem GROUP BY l_orderkey)
        |SELECT l_orderkey, len(qs)::BIGINT AS n_items, qs[1] AS max_qty,
        |  list_reduce(list_prepend(0::BIGINT, qs[1:3]), (a, b) -> a + b) AS top3_sum,
        |  array_to_string(qs, ',') AS qtys_desc
        |FROM g ORDER BY l_orderkey""".stripMargin,
    "q_time_weighted" ->
      """WITH x AS (
        |  SELECT user_id, event_id, ts, CAST(round(value * 100) AS BIGINT) AS vc
        |  FROM events),
        |g AS (SELECT user_id, vc,
        |    epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
        |      - epoch_us(ts) AS dt
        |  FROM x)
        |SELECT user_id, count(*)::BIGINT AS n_intervals,
        |  (sum(vc * dt)::DOUBLE / sum(dt)::DOUBLE) / 100.0 AS twa_value
        |FROM g WHERE dt IS NOT NULL GROUP BY user_id ORDER BY user_id""".stripMargin,
    // the bucketed layout changes the PLAN, never the answer: the oracle
    // is the plain join
    "lake_bucket_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  sum(CAST(round(o_totalprice*100) AS BIGINT))::BIGINT AS revenue_cents
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    // same integer contract as mm_audio_tones, with the window dimension:
    // generation shifts the tone bins by the window index, analysis
    // probes {k, k+1, empty} per window
    "mm_audio_spectrogram" ->
      (s"""WITH lutc AS (SELECT [${ext.Multimodal.SinLut.mkString(", ")}]::BIGINT[] AS lut),
         |par AS (
         |  SELECT doc_id,
         |    CASE doc_id % 3 WHEN 0 THEN 16 WHEN 1 THEN 8 ELSE 24 END AS bits,
         |    2 + doc_id % 2 AS ntones
         |  FROM documents),
         |base AS (
         |  SELECT doc_id, ntones,
         |    CASE bits WHEN 8 THEN 30 WHEN 16 THEN 9000 ELSE 200000 END AS b
         |  FROM par),
         |tones AS (
         |  SELECT doc_id, 1 + 3*t + doc_id % 7 AS kt, b - t*b//4 AS amp
         |  FROM base, unnest(range(0, ntones)) AS u(t)),
         |samp AS (
         |  SELECT doc_id, wnd, m,
         |    sum(CASE WHEN amp*lut[(((kt+wnd)*m) % 96) + 1] >= 0
         |             THEN (amp*lut[(((kt+wnd)*m) % 96) + 1] + 500000) // 1000000
         |             ELSE -((-(amp*lut[(((kt+wnd)*m) % 96) + 1]) + 500000) // 1000000)
         |        END)::BIGINT AS x
         |  FROM tones, lutc, unnest(range(0, 2)) AS ww(wnd),
         |       unnest(range(0, 96)) AS vv(m)
         |  GROUP BY 1, 2, 3),
         |probes AS (
         |  SELECT DISTINCT doc_id, k FROM (
         |    SELECT doc_id, kt AS k FROM tones
         |    UNION ALL SELECT doc_id, kt + 1 FROM tones
         |    UNION ALL SELECT doc_id, 23 FROM base)),
         |dft AS (
         |  SELECT s.doc_id, s.wnd, p.k,
         |    sum(s.x * lut[((p.k*s.m + 24) % 96) + 1])::BIGINT AS re_scaled,
         |    (-sum(s.x * lut[((p.k*s.m) % 96) + 1]))::BIGINT AS im_scaled
         |  FROM probes p JOIN samp s ON p.doc_id = s.doc_id, lutc
         |  GROUP BY 1, 2, 3)
         |SELECT doc_id AS media_id, CAST(wnd AS BIGINT) AS win,
         |  CAST(k AS BIGINT) AS bin, re_scaled, im_scaled,
         |  CAST(round(sqrt(CAST(re_scaled AS DOUBLE)*re_scaled
         |                  + CAST(im_scaled AS DOUBLE)*im_scaled)) AS BIGINT)
         |    AS magnitude
         |FROM dft ORDER BY media_id, win, bin""").stripMargin,
    // compaction changes the LAYOUT, never the answer: the oracle is the
    // plain projection
    "lake_compact" ->
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    // pruning must never change the answer: the oracle is the plain band
    "lake_sorted_write" ->
      """SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
        |  o_orderstatus
        |FROM orders
        |WHERE CAST(round(o_totalprice * 100) AS BIGINT) BETWEEN 1000000 AND 3000000
        |ORDER BY o_orderkey""".stripMargin,
    "q_global_sort" ->
      """SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
        |  o_orderstatus
        |FROM orders ORDER BY price_cents DESC, o_orderkey""".stripMargin,
    // final snapshot after append+append, CoW delete of 'de', compaction
    "lake_txn" ->
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents WHERE lang <> 'de' ORDER BY doc_id""".stripMargin,
    // version 1 (both appends, pre-delete/pre-compaction): full corpus
    "lake_time_travel" ->
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    // deterministic log shape: two repartition(2) appends then a
    // coalesce-to-1 compaction that removes all four files
    "lake_txn_log" ->
      """SELECT 0::BIGINT AS version, 2::BIGINT AS n_adds, 0::BIGINT AS n_removes,
        |  (SELECT count(*) FROM documents WHERE doc_id % 2 = 0)::BIGINT AS rows_added
        |UNION ALL SELECT 1::BIGINT, 2::BIGINT, 0::BIGINT,
        |  (SELECT count(*) FROM documents WHERE doc_id % 2 = 1)::BIGINT
        |UNION ALL SELECT 2::BIGINT, 1::BIGINT, 4::BIGINT,
        |  (SELECT count(*) FROM documents)::BIGINT
        |ORDER BY version""".stripMargin,
    // the feed's ground truth: deletes win over edits in the overlap
    // class (the MERGE excluded them); inserts are the +1000000 keys
    "lake_txn_cdf" ->
      """SELECT * FROM (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 4 THEN 'removed'
        |         WHEN doc_id % 7 = 0 THEN 'changed'
        |         ELSE 'unchanged' END AS status
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, 'added' FROM documents WHERE doc_id % 13 = 0)
        |ORDER BY doc_id""".stripMargin,
    // the same query as lake_bucket_join, so the same ground truth
    "lake_txn_bucket_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  sum(CAST(round(o_totalprice*100) AS BIGINT))::BIGINT AS revenue_cents
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    // the SQL feed shares lake_txn_cdf's ground truth, keys surfaced
    // under the procedure's generic `key` column
    "lake_sql_cdf" ->
      """SELECT * FROM (
        |  SELECT doc_id AS key,
        |    CASE WHEN doc_id % 5 = 4 THEN 'removed'
        |         WHEN doc_id % 7 = 0 THEN 'changed'
        |         ELSE 'unchanged' END AS status
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, 'added' FROM documents WHERE doc_id % 13 = 0)
        |ORDER BY key""".stripMargin,
    // vacuum must never change live content: same oracle as lake_txn
    "lake_vacuum" ->
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents WHERE lang <> 'de' ORDER BY doc_id""".stripMargin,
    // the checkpointed fold lands on the same final content
    "lake_txn_checkpoint" ->
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents WHERE lang <> 'de' ORDER BY doc_id""".stripMargin,
    // exactly-once landed stream = the batch projection
    "stream_lake_txn" ->
      """SELECT event_id, user_id, event_type
        |FROM events ORDER BY event_id""".stripMargin,
    // racing writers must lose nothing: the union of all four batches
    // is exactly the corpus, whatever the commit interleaving was
    "lake_txn_concurrent" ->
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    // evolution must equal the union with explicit null backfill, in
    // declared column order
    "lake_txn_evolve" ->
      """SELECT doc_id, text, lang, source, n_chars, CAST(NULL AS BIGINT) AS quality
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT doc_id, text, lang, source, n_chars, n_chars % 7 AS quality
        |FROM documents WHERE doc_id % 2 = 1
        |ORDER BY doc_id""".stripMargin,
    // merge-on-read must equal the plain anti-filter: drop 'de' and the
    // second vector's residue class
    "lake_txn_dv" ->
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents
        |WHERE lang <> 'de' AND doc_id % 31 <> 7
        |ORDER BY doc_id""".stripMargin,
    // the streamed aggregate must equal the batch aggregate over the
    // whole corpus: a lost commit, a double-delivered replay, or a
    // restart that re-reads history would all corrupt some group
    "stream_lake_source" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // 2-D pruning must change nothing but the files opened: the oracle
    // is the plain box filter
    "lake_txn_zorder" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        |FROM orders
        |WHERE o_custkey BETWEEN 1 AND 300
        |  AND CAST(round(o_totalprice * 100) AS BIGINT)
        |    BETWEEN 1000000 AND 3000000
        |ORDER BY o_orderkey""".stripMargin,
    // connector pruning must change nothing but the files opened: the
    // oracle is the plain box filter
    "lake_v2_batch" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        |FROM orders
        |WHERE o_custkey BETWEEN 50 AND 250
        |  AND CAST(round(o_totalprice * 100) AS BIGINT)
        |    BETWEEN 1500000 AND 4000000
        |ORDER BY o_orderkey""".stripMargin,
    // a lost task commit, double-published speculative attempt, or
    // dropped column would corrupt the content: oracle = whole corpus
    "lake_v2_write" ->
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the auto-broadcast join must equal the plain join exactly (stats
    // change the plan, never the content)
    "lake_stats_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    // the log-answered aggregate must equal the computed one exactly:
    // counts from rows/nullCounts, extremes from exact footer bands
    "lake_agg_pushdown" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(CASE WHEN o_custkey % 4 = 0 THEN 1 END) AS BIGINT) AS n_promo,
        |  CAST(min(o_custkey) AS BIGINT) AS min_cust,
        |  CAST(max(o_custkey) AS BIGINT) AS max_cust,
        |  CAST(min(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS min_price,
        |  CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS max_price
        |FROM orders""".stripMargin,
    // null-count + band pruning must change nothing but the files
    // opened: the oracle is the plain filter (IS NOT NULL = the promo
    // residue class by construction)
    "lake_multi_stats" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS promo_cents
        |FROM orders
        |WHERE o_custkey % 4 = 0
        |  AND CAST(round(o_totalprice * 100) AS BIGINT) <= 3000000
        |ORDER BY o_orderkey""".stripMargin,
    // the overwrite must replace EXACTLY the old content (a missed
    // remove double-counts; a half-applied replace mixes); the final
    // append stacks on top
    "lake_v2_overwrite" ->
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents WHERE lang <> 'de'
        |UNION ALL
        |SELECT doc_id, text, lang, source, n_chars
        |FROM documents WHERE lang = 'de' AND doc_id % 13 = 0
        |ORDER BY doc_id""".stripMargin,
    // the native sink must land each row exactly once through a full
    // epoch replay: oracle = the filtered corpus
    "stream_lake_sink" ->
      """SELECT doc_id, lang, source, n_chars
        |FROM documents WHERE lang <> 'fr' ORDER BY doc_id""".stripMargin,
    // two compounding UPDATEs: the second reads the first's commit
    "lake_sql_update" ->
      """SELECT doc_id,
        |  CASE WHEN n2 > 1500 THEN 'xl' ELSE lang END AS lang,
        |  source, n2 AS n_chars
        |FROM (
        |  SELECT doc_id, lang, source,
        |    CASE WHEN lang = 'en' THEN n_chars + 1000 ELSE n_chars END AS n2
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,
    // the merge-on-read update must land the SAME final content as the
    // copy-on-write SQL UPDATE (one oracle, two write paths)
    "lake_sql_update_mor" ->
      """SELECT doc_id,
        |  CASE WHEN n2 > 1500 THEN 'xl' ELSE lang END AS lang,
        |  source, n2 AS n_chars
        |FROM (
        |  SELECT doc_id, lang, source,
        |    CASE WHEN lang = 'en' THEN n_chars + 1000 ELSE n_chars END AS n2
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,
    // partition pruning through pure SQL must change nothing but the
    // files opened; the reinjected column must equal the declared one
    "lake_sql_partitioned" ->
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents WHERE lang IN ('en', 'fr')
        |ORDER BY doc_id""".stripMargin,
    // the partition rebuild must replace EXACTLY the 'en' partition:
    // everything else untouched, the replacement rows verbatim
    "lake_sql_insert_overwrite" ->
      """SELECT * FROM (
        |  SELECT doc_id, text, lang, source, n_chars
        |  FROM documents WHERE lang <> 'en'
        |  UNION ALL
        |  SELECT doc_id + 2000000, text, 'en' AS lang, source,
        |    n_chars + 5 AS n_chars
        |  FROM documents WHERE lang = 'en' AND doc_id % 2 = 0)
        |ORDER BY doc_id""".stripMargin,
    // VERSION AS OF 2 = both inserts, before the DELETE: full corpus
    "lake_sql_time_travel" ->
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the catalog-resolved stream must equal the batch aggregate over
    // the whole corpus, same contract as stream_lake_source
    "stream_lake_catalog" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // columnar merge-on-read must equal the plain box filter minus the
    // tombstoned residue class
    "lake_v2_batch_dv" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        |FROM orders
        |WHERE o_custkey BETWEEN 50 AND 250
        |  AND CAST(round(o_totalprice * 100) AS BIGINT)
        |    BETWEEN 1500000 AND 4000000
        |  AND o_orderkey % 10 <> 3
        |ORDER BY o_orderkey""".stripMargin,
    // string-band pruning must change nothing but the files opened:
    // the oracle is the plain text-range filter
    "lake_string_stats" ->
      """SELECT doc_id, lang, source, n_chars
        |FROM documents WHERE lang >= 'fr'
        |ORDER BY doc_id""".stripMargin,
    // the native MERGE must land the same CDC result as the procedure
    // and the programmatic apply (three surfaces, one contract)
    "lake_sql_merge" ->
      """SELECT * FROM (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN 'xx' ELSE lang END AS lang,
        |    source, n_chars
        |  FROM documents WHERE doc_id % 5 <> 4
        |  UNION ALL
        |  SELECT doc_id + 1000000, 'new', source, n_chars
        |  FROM documents WHERE doc_id % 13 = 0)
        |ORDER BY doc_id""".stripMargin,
    // the CALL journey must land the CDC merge exactly and keep content
    // byte-identical through checkpoint + compact + vacuum
    "lake_sql_call" ->
      """SELECT * FROM (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN 'xx' ELSE lang END AS lang,
        |    source, n_chars
        |  FROM documents WHERE doc_id % 5 <> 4
        |  UNION ALL
        |  SELECT doc_id + 1000000, 'new', source, n_chars
        |  FROM documents WHERE doc_id % 13 = 0)
        |ORDER BY doc_id""".stripMargin,
    // SQL deletes must remove EXACTLY the matching rows: oracle = the
    // double anti-filter
    "lake_sql_delete" ->
      """SELECT doc_id, lang, source, n_chars
        |FROM documents
        |WHERE lang <> 'de' AND NOT (lang = 'en' AND n_chars > 900)
        |ORDER BY doc_id""".stripMargin,
    // the SQL catalog journey: two parity inserts union to the corpus
    // (quality null-backfilled by the ALTER), plus the post-evolution
    // insert carrying it — a lost insert or bad backfill hash-mismatches
    "lake_sql_ddl" ->
      """SELECT doc_id, lang, source, n_chars, CAST(NULL AS BIGINT) AS quality
        |FROM documents
        |UNION ALL
        |SELECT doc_id + 1000000 AS doc_id, lang, source, n_chars,
        |  n_chars % 7 AS quality
        |FROM documents WHERE doc_id % 13 = 0
        |ORDER BY doc_id""".stripMargin,
    // the poisoned batch must never land: final content is exactly the
    // two conforming appends (the whole corpus)
    "lake_txn_constraint" ->
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    // partition pruning must change nothing but the files opened; the
    // reinjected column must equal the one partitionBy removed
    "lake_txn_partition" ->
      """SELECT doc_id, text, source, n_chars, lang
        |FROM documents WHERE lang IN ('en', 'fr')
        |ORDER BY doc_id""".stripMargin,
    // the optimized layout must change nothing but the files opened:
    // same box-filter oracle shape as lake_txn_zorder, different box
    "lake_optimize_zorder" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        |FROM orders
        |WHERE o_custkey BETWEEN 500 AND 900
        |  AND CAST(round(o_totalprice * 100) AS BIGINT)
        |    BETWEEN 2000000 AND 5000000
        |ORDER BY o_orderkey""".stripMargin,
    // exactly-once through the full replay: one copy of every non-'de'
    // row, transformed — a double-landed epoch would duplicate rows
    "stream_lake_pipeline" ->
      """SELECT doc_id, text, lang, source, n_chars,
        |  sha256(text) AS text_sha
        |FROM documents WHERE lang <> 'de' ORDER BY doc_id""".stripMargin,
    // bloom pruning is exact after the pushed-down IN filter: the
    // oracle is the plain key-set lookup (keys = multiples of 97
    // below 40*97)
    "lake_txn_bloom" ->
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents
        |WHERE doc_id % 97 = 0 AND doc_id BETWEEN 0 AND 3783
        |ORDER BY doc_id""".stripMargin,
    // log-stat pruning must change nothing but the files opened: the
    // oracle is the plain band filter (same band as lake_sorted_write)
    "lake_txn_skipping" ->
      """SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
        |  o_orderstatus
        |FROM orders
        |WHERE CAST(round(o_totalprice * 100) AS BIGINT) BETWEEN 1000000 AND 3000000
        |ORDER BY o_orderkey""".stripMargin,
    // MERGE result: updates (lang→'xx' on %7, minus the deleted class),
    // inserts (+1000000 ids, lang 'new'), deletes (%5=4)
    "lake_txn_cdc" ->
      """SELECT * FROM (
        |  SELECT doc_id, text,
        |    CASE WHEN doc_id % 7 = 0 THEN 'xx' ELSE lang END AS lang,
        |    source, n_chars
        |  FROM documents WHERE doc_id % 5 <> 4
        |  UNION ALL
        |  SELECT doc_id + 1000000, text, 'new', source, n_chars
        |  FROM documents WHERE doc_id % 13 = 0)
        |ORDER BY doc_id""".stripMargin,
    // the merge-on-read CDC apply must land the SAME final content as
    // the copy-on-write one (one oracle, two write engines)
    "lake_txn_cdc_mor" ->
      """SELECT * FROM (
        |  SELECT doc_id, text,
        |    CASE WHEN doc_id % 7 = 0 THEN 'xx' ELSE lang END AS lang,
        |    source, n_chars
        |  FROM documents WHERE doc_id % 5 <> 4
        |  UNION ALL
        |  SELECT doc_id + 1000000, text, 'new', source, n_chars
        |  FROM documents WHERE doc_id % 13 = 0)
        |ORDER BY doc_id""".stripMargin,
    "pipeline_domain_cap" ->
      """SELECT doc_id, source, n_chars, rank_in_domain FROM (
        |  SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY n_chars DESC, doc_id) AS rank_in_domain
        |  FROM documents)
        |WHERE rank_in_domain <= 40 ORDER BY doc_id""".stripMargin,
    "q_heavy_hitters" ->
      s"""WITH tok AS ($tokSql),
         |c AS (SELECT word, count(*) AS cnt FROM tok GROUP BY word),
         |t AS (SELECT count(*) AS total FROM tok)
         |SELECT word, cnt FROM c, t
         |WHERE cnt * 1000 >= total * 5 ORDER BY cnt DESC, word""".stripMargin,
    "q_winsorize" ->
      """WITH b AS (
        |  SELECT c_mktsegment,
        |    CAST(ceil(quantile_cont(CAST(round(c_acctbal*100) AS BIGINT), 0.05)) AS BIGINT) AS lo,
        |    CAST(floor(quantile_cont(CAST(round(c_acctbal*100) AS BIGINT), 0.95)) AS BIGINT) AS hi
        |  FROM customer GROUP BY c_mktsegment)
        |SELECT c.c_mktsegment, count(*) AS n_customers,
        |  min(b.lo) AS lo_cents, min(b.hi) AS hi_cents,
        |  sum(least(greatest(CAST(round(c_acctbal*100) AS BIGINT), b.lo), b.hi))::DOUBLE
        |    / count(*) AS win_avg_cents
        |FROM customer c JOIN b USING (c_mktsegment)
        |GROUP BY c.c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "sim_radius" -> OracleSql.simRadius(8, 0.35),
    "dedup_containment" -> OracleSql.containment(100L, 0.6),
    "q_outliers" ->
      """WITH x AS (SELECT o_orderkey, o_orderpriority,
        |    CAST(round(o_totalprice*100) AS BIGINT) AS c FROM orders),
        |s AS (SELECT o_orderpriority, count(*) AS n, sum(c) AS s1,
        |    sum(c::HUGEINT * c::HUGEINT) AS s2 FROM x GROUP BY o_orderpriority),
        |st AS (SELECT o_orderpriority, s1::DOUBLE / n::DOUBLE AS mean,
        |    sqrt((s2::DOUBLE - s1::DOUBLE * s1::DOUBLE / n::DOUBLE) / n::DOUBLE) AS std
        |  FROM s)
        |SELECT x.o_orderkey, x.o_orderpriority, x.c AS price_cents,
        |  (x.c::DOUBLE - mean) / std AS zscore
        |FROM x JOIN st USING (o_orderpriority)
        |WHERE std > 0 AND (x.c::DOUBLE - mean) / std > 3.0
        |ORDER BY o_orderkey""".stripMargin,
    "pipeline_interleave" ->
      OracleSql.interleave(Seq("src0" -> 3, "src1" -> 2), 1, "graft"),
    "q_percent_rank" ->
      """WITH g AS (
        |  SELECT l_returnflag, CAST(round(l_quantity) AS BIGINT) AS qty,
        |    count(*) AS n
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT l_returnflag, qty, n,
        |  percent_rank() OVER (PARTITION BY l_returnflag ORDER BY qty) AS pct_rank,
        |  cume_dist() OVER (PARTITION BY l_returnflag ORDER BY qty) AS cume
        |FROM g ORDER BY l_returnflag, qty""".stripMargin,
    "pipeline_diff" ->
      """WITH oldv AS (SELECT doc_id, text FROM documents),
        |newv AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, 'new ' || doc_id FROM documents
        |  WHERE doc_id % 13 = 0)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN sha256(o.text) <> sha256(n.text) THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM oldv o FULL OUTER JOIN newv n ON o.doc_id = n.doc_id
        |ORDER BY doc_id""".stripMargin,
    "pipeline_cdc_apply" -> OracleSql.cdcApply,
    "lake_incr_agg" -> OracleSql.cdcAggMaintain,
    // the streamed per-batch maintenance must land the same view
    "stream_incr_agg" -> OracleSql.cdcAggMaintain,
    // the as-of oracle is the DIRECT v2 snapshot — not a replay of the
    // history chain — so reconstruction is checked against an
    // independent derivation
    "pipeline_scd2_asof" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
        |FROM documents ORDER BY doc_id""".stripMargin,
    "pipeline_scd2" -> OracleSql.scd2FullRecompute,
    // the streamed per-batch fold must land exactly the full recompute
    "stream_scd2" -> OracleSql.scd2FullRecompute,
    // the incremental extension is graded against the SAME full
    // recompute: fold-the-change-log must be indistinguishable from
    // replaying every snapshot
    "pipeline_scd2_extend" -> OracleSql.scd2FullRecompute,
    "q_dq_checks" ->
      """SELECT
        |  (SELECT count(*) FROM orders) AS n_orders,
        |  (SELECT count(*) FROM orders WHERE o_custkey IS NULL) AS n_null_custkey,
        |  (SELECT count(*) FROM orders WHERE o_totalprice < 0) AS n_negative_price,
        |  (SELECT count(*) FROM orders
        |     WHERE o_orderstatus NOT IN ('O', 'F', 'P')) AS n_bad_status,
        |  (SELECT count(*) FROM orders o WHERE NOT EXISTS
        |     (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        |    AS n_orphan_orders""".stripMargin,
    "dedup_cross_corpus" -> OracleSql.crossNearDups(0.3),
    "text_nb" -> OracleSql.naiveBayes,
    "text_nb_confusion" -> OracleSql.nbConfusion,
    "text_nb_roc" -> OracleSql.nbRoc("en"),
    "text_nb_auc" -> OracleSql.nbAuc("en"),
    "text_nb_lift" -> OracleSql.nbLift("en", 10),
    "text_unigram_vocab" -> OracleSql.unigramVocab,
    "text_unigram_encode" -> OracleSql.unigramEncode,
    "text_unigram_fertility" -> OracleSql.unigramFertility,
    "text_wordpiece_vocab" -> OracleSql.wordpieceVocab,
    "text_wordpiece_encode" -> OracleSql.wordpieceEncode,
    "text_wordpiece_fertility" -> OracleSql.wordpieceFertility,
    // brute force every-position substring compare == the automaton's
    // overlapping-match semantics, including matches inside matches
    "text_blocklist" ->
      s"""WITH pats(pattern) AS (VALUES ${
        ext.AhoCorasick.FixturePatterns.map(p => s"('$p')").mkString(", ")}),
        |m AS (
        |  SELECT d.doc_id, p.pattern, u.i
        |  FROM documents d, pats p,
        |    unnest(range(1, length(d.text) - length(p.pattern) + 2)) AS u(i)
        |  WHERE substr(lower(d.text), i::INT, length(p.pattern)::INT) = p.pattern)
        |SELECT doc_id, pattern, count(*)::BIGINT AS n_matches,
        |  min(i)::BIGINT AS first_pos
        |FROM m GROUP BY 1, 2 ORDER BY doc_id, pattern""".stripMargin,
    "text_nb_kappa" -> OracleSql.nbKappa,
    "sim_knn_calibration" -> OracleSql.knnCalibration(500, 5),
    "graph_pagerank" -> OracleSql.pageRank(5),
    "graph_hierarchy" ->
      """WITH RECURSIVE nodes AS (
        |  SELECT doc_id AS id,
        |    CASE WHEN doc_id < 3 THEN NULL ELSE doc_id // 2 END AS parent
        |  FROM documents),
        |walk(id, root_id, depth) AS (
        |  SELECT id, id, 0 FROM nodes WHERE parent IS NULL
        |  UNION ALL
        |  SELECT n.id, w.root_id, w.depth + 1
        |  FROM nodes n JOIN walk w ON w.id = n.parent)
        |SELECT id, root_id, depth::BIGINT AS depth FROM walk ORDER BY id""".stripMargin,
    "graph_labelprop" -> OracleSql.labelProp(4),
    "pipeline_weighted_sample" -> OracleSql.weightedSample(100, "graft"),
    "pipeline_group_sample" -> OracleSql.weightedSamplePerGroup(20, "graft"),
    // FILTER mirrors Spark collect_set's NULL-skipping (DuckDB list() would
    // otherwise keep NULL as an element); coalesce covers the all-NULL group
    "q_string_agg" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  coalesce(array_to_string(list_sort(
        |    list(DISTINCT o_orderpriority) FILTER (o_orderpriority IS NOT NULL)), ','), '')
        |    AS priorities
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "text_bm25" -> OracleSql.bm25(Seq("spark", "query", "vector"), 25),
    "text_hybrid_rrf" -> OracleSql.hybridRrf(Seq("spark", "query", "vector"), 0L, 25, 50),
    "pipeline_token_budget" -> OracleSql.tokenBudget(15000L),
    "pipeline_datacard" -> OracleSql.dataCard,
    "sim_quantize" -> OracleSql.quantizeInt8,
    "sim_random_projection" -> OracleSql.randomProjection(64, 8),
    "sketch_hll" -> OracleSql.hllDistinct("lineitem", "l_returnflag", "l_partkey"),
    "sketch_hll_merge" -> OracleSql.hllMerged("lineitem", "l_returnflag", "l_partkey"),
    "sketch_hll_intersect" -> OracleSql.hllIntersect("lineitem", "l_orderkey",
      "l_shipdate < TIMESTAMP '1997-01-01'",
      "l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'"),
    "sketch_bloom" -> OracleSql.bloomScreen("lineitem", "l_orderkey",
      "l_shipdate < TIMESTAMP '1997-01-01'",
      "l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'"),
    "sketch_bloom_merge" -> OracleSql.bloomMerged("lineitem", "l_orderkey",
      "l_linestatus", "l_shipdate < TIMESTAMP '1997-01-01'"),
    "sketch_theta" -> OracleSql.thetaDistinct("lineitem", "l_returnflag", "l_partkey"),
    "sketch_theta_merge" -> OracleSql.thetaMerged("lineitem", "l_returnflag",
      "l_linestatus", "l_partkey"),
    "sketch_theta_ops" -> OracleSql.thetaOps("lineitem", "l_orderkey",
      "l_shipdate < TIMESTAMP '1997-01-01'",
      "l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'"),
    "sketch_cms" -> OracleSql.cmsTokenCounts(20),
    "sketch_quantile" -> OracleSql.quantileSketch(
      "lineitem", "l_extendedprice", "l_orderkey * 8 + l_linenumber"),
    "sketch_quantile_merge" -> OracleSql.quantileSketchMerged(
      "lineitem", "l_extendedprice", "l_orderkey * 8 + l_linenumber"),
    "sketch_quantile_grouped" -> OracleSql.quantileSketchGrouped(
      "lineitem", "l_returnflag", "l_extendedprice", "l_orderkey * 8 + l_linenumber"),
    // the maintained-across-micro-batches sketch must equal the
    // single-pass sketch of the whole table — same replay, zero slack
    "stream_quantile" -> OracleSql.quantileSketch("events", "user_id", "event_id"),
    "stream_theta" -> OracleSql.thetaDistinct("events", "event_type", "event_id"),
    "stream_bloom" -> OracleSql.bloomGroupedState("events", "event_type", "event_id"),
    "stream_cms" -> OracleSql.cmsKeyCounts("events", "user_id"),
    "stream_hll" -> OracleSql.hllDistinct("events", "event_type", "event_id"),
    // snapped-integer k-means: exact arithmetic end-to-end, so the
    // unrolled Lloyd replay hash-matches (nlist and iters must mirror
    // the queries entry)
    "sim_kmeans" -> OracleSql.kmeansSnapped(16, 5),
    // snapped-index ANN: candidate sets from exact integer recipes, raw
    // double-cosine rescoring with the engine's fold order — exact-match
    // gradeable (params must mirror the queries entries)
    "sim_ivf" -> OracleSql.ivfSnapped(16, 4, 2, 8L, 5),
    "sim_pq" -> OracleSql.pqSnapped(4, 16, 3, 16, 8L, 5),
    "sim_ann_lsh" -> OracleSql.lshTopK(8, 64, 8L, 5),
    "sim_recall_lsh" -> OracleSql.recallLshVsExact(8, 64, 8L, 5),
    "sim_recall_ivf" -> OracleSql.recallVsExact(
      OracleSql.ivfSnapped(16, 4, 2, 8L, 5), OracleSql.simTopK(8L, 5)),
    "sim_recall_pq" -> OracleSql.recallVsExact(
      OracleSql.pqSnapped(4, 16, 3, 16, 8L, 5), OracleSql.simTopK(8L, 5)),
    "sim_matryoshka" -> OracleSql.matryoshka(8L, 5, 16, 25),
    "sim_hamming" -> OracleSql.simHamming(8L, 5, 25),
    "sim_hard_negatives" -> OracleSql.hardNegatives(500L, 8L, 5, 0.4),
    "sim_recall_mrl" -> OracleSql.recallVsExact(
      OracleSql.matryoshka(8L, 5, 16, 25), OracleSql.simTopK(8L, 5)),
    "sim_recall_ham" -> OracleSql.recallVsExact(
      OracleSql.simHamming(8L, 5, 25), OracleSql.simTopK(8L, 5)),
    "sim_mrr_ham" -> OracleSql.mrrVsExact(
      OracleSql.simHamming(8L, 5, 25), OracleSql.simTopK(8L, 5)),
    "pipeline_diversity" -> OracleSql.diversityCap(16, 5, 24),
    "graph_degrees" -> OracleSql.degreeStats,
    "graph_jaccard" -> OracleSql.wordJaccard(30, 2, 50),
    "graph_triangles" ->
      s"""WITH ${OracleSql.toksCte},
         |grams AS (
         |  SELECT g FROM toks, unnest(CASE WHEN len(toks) >= 2
         |    THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
         |    ELSE [] END) AS u(g)),
         |ed AS (SELECT string_split(g, ' ')[1] AS src, string_split(g, ' ')[2] AS dst
         |       FROM grams),
         |e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |      FROM ed WHERE src <> dst),
         |tri AS (
         |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM e e1
         |  JOIN e e2 ON e2.a = e1.b
         |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
         |corners AS (
         |  SELECT x AS node FROM tri
         |  UNION ALL SELECT y FROM tri
         |  UNION ALL SELECT z FROM tri)
         |SELECT node, count(*)::BIGINT AS n_triangles
         |FROM corners GROUP BY node
         |ORDER BY n_triangles DESC, node LIMIT 20""".stripMargin,
    "pipeline_examples" -> OracleSql.nextEventExamples(3),
    "pipeline_negatives" -> OracleSql.negativeSamples(4, "graft"),
    "pipeline_dsir" -> OracleSql.dsir(256, 1000000007L, 200, "en"),
    // 1-based i maps to the engine's 0-based j = i-1; string_agg skips
    // NULL pieces exactly like the engine's filtered array_join; docs
    // whose token stream is empty survive via the LEFT JOIN
    "pipeline_span_corruption" ->
      s"""WITH ${OracleSql.toksCte},
        |t2 AS (SELECT doc_id, list_filter(toks, t -> t <> '') AS toks FROM toks),
        |p AS (SELECT doc_id, i, toks[i] AS tok
        |      FROM t2, unnest(range(1, len(toks) + 1)) AS r(i)),
        |c AS (SELECT doc_id, i,
        |        CASE WHEN (i-1) % 10 = 3 THEN '<extra_id_' || ((i-1) // 10) || '>'
        |             WHEN (i-1) % 10 IN (4, 5) THEN NULL ELSE tok END AS in_piece,
        |        CASE WHEN (i-1) % 10 = 3 THEN '<extra_id_' || ((i-1) // 10) || '> ' || tok
        |             WHEN (i-1) % 10 IN (4, 5) THEN tok ELSE NULL END AS tgt_piece
        |      FROM p),
        |g AS (SELECT doc_id,
        |        string_agg(in_piece, ' ' ORDER BY i) AS input_text,
        |        string_agg(tgt_piece, ' ' ORDER BY i) AS target_text,
        |        sum(CASE WHEN (i-1) % 10 = 3 THEN 1 ELSE 0 END)::BIGINT AS n_spans,
        |        sum(CASE WHEN (i-1) % 10 IN (3, 4, 5) THEN 1 ELSE 0 END)::BIGINT AS n_masked
        |      FROM c GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(g.input_text, '') AS input_text,
        |  coalesce(g.target_text, '') AS target_text,
        |  coalesce(g.n_spans, 0)::BIGINT AS n_spans,
        |  coalesce(g.n_masked, 0)::BIGINT AS n_masked
        |FROM documents d LEFT JOIN g USING (doc_id) ORDER BY doc_id""".stripMargin,
    // every group must sum to exactly max-group-size; the within-group
    // rank (id order) decides who carries the remainder copy
    "pipeline_oversample" ->
      """WITH g AS (SELECT doc_id, lang FROM documents),
        |c AS (SELECT lang, count(*) AS n FROM g GROUP BY 1),
        |m AS (SELECT max(n) AS m FROM c),
        |r AS (SELECT doc_id, lang, CAST(row_number() OVER
        |        (PARTITION BY lang ORDER BY doc_id) AS BIGINT) AS grp_rank FROM g)
        |SELECT r.doc_id, r.lang, r.grp_rank,
        |  (m.m // c.n + CASE WHEN r.grp_rank <= m.m % c.n THEN 1 ELSE 0 END)::BIGINT
        |    AS n_copies
        |FROM r JOIN c USING (lang) CROSS JOIN m ORDER BY doc_id""".stripMargin,
    // chr(31) is the same U+001F sentinel the engine plants; the piece
    // index survives empty-piece filtering on both sides
    "text_sentences" ->
      """WITH d AS (
        |  SELECT doc_id, replace(replace(text, ' a ', '! '), ' the ', '. ') AS text
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, string_split(
        |    regexp_replace(text, '([.!?]+)[ \t\n\x0B\f\r]+', '\1' || chr(31), 'g'),
        |    chr(31)) AS ss
        |  FROM d)
        |SELECT doc_id, i AS sent_idx, ss[i] AS sentence, length(ss[i]) AS n_chars
        |FROM m, unnest(range(1, len(ss) + 1)) AS r(i)
        |WHERE ss[i] <> ''
        |ORDER BY doc_id, sent_idx""".stripMargin,
    // DuckDB's levenshtein implements the same unit-cost edit distance;
    // cross-engine agreement on every distance and threshold decision
    "dedup_fuzzy" ->
      """WITH n AS (
        |  SELECT doc_id,
        |    CASE doc_id % 3
        |      WHEN 0 THEN 'user-' || (doc_id % 50) || '-record'
        |      WHEN 1 THEN 'usr-' || (doc_id % 50) || '-record'
        |      ELSE 'user-' || (doc_id % 50) || '-recrod'
        |    END AS name
        |  FROM documents),
        |b AS (SELECT doc_id, name, regexp_extract(name, '[0-9]+', 0) AS block FROM n)
        |SELECT l.doc_id AS a_id, r.doc_id AS b_id,
        |  l.name AS a_name, r.name AS b_name,
        |  levenshtein(l.name, r.name)::BIGINT AS dist
        |FROM b l JOIN b r ON l.block = r.block AND l.doc_id < r.doc_id
        |WHERE levenshtein(l.name, r.name) <= 2
        |ORDER BY a_id, b_id""".stripMargin,
    "dedup_golden" ->
      """WITH RECURSIVE n AS (
        |  SELECT doc_id,
        |    CASE doc_id % 3
        |      WHEN 0 THEN 'user-' || (doc_id % 50) || '-record'
        |      WHEN 1 THEN 'usr-' || (doc_id % 50) || '-record'
        |      ELSE 'user-' || (doc_id % 50) || '-recrod'
        |    END AS name
        |  FROM documents),
        |bl AS (SELECT doc_id, name, regexp_extract(name, '[0-9]+', 0) AS block FROM n),
        |p AS (
        |  SELECT l.doc_id AS a, r.doc_id AS b
        |  FROM bl l JOIN bl r ON l.block = r.block AND l.doc_id < r.doc_id
        |  WHERE levenshtein(l.name, r.name) <= 2),
        |edges AS (SELECT a AS src, b AS dst FROM p UNION SELECT b, a FROM p),
        |reach(id, r) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, rc.r FROM edges e JOIN reach rc ON rc.id = e.dst),
        |labels AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
        |cl AS (SELECT n.doc_id, n.name, coalesce(l.cluster_id, n.doc_id) AS cluster_id
        |  FROM n LEFT JOIN labels l ON l.id = n.doc_id),
        |cnts AS (SELECT cluster_id, name, count(*) AS cnt FROM cl GROUP BY 1, 2),
        |modal AS (SELECT cluster_id, name,
        |    row_number() OVER (PARTITION BY cluster_id
        |                       ORDER BY cnt DESC, name) AS rn
        |  FROM cnts)
        |SELECT c.cluster_id, c.n_members, m.name AS canonical_name
        |FROM (SELECT cluster_id, CAST(sum(cnt) AS BIGINT) AS n_members
        |      FROM cnts GROUP BY 1) c
        |JOIN modal m ON m.cluster_id = c.cluster_id AND m.rn = 1
        |ORDER BY c.cluster_id""".stripMargin,
    // the canonicalization chain re-expressed in DuckDB's regex/list
    // dialect; rule-by-rule agreement (incl. the pass-through for
    // non-URLs and empty-query collapse) is the graded claim
    "dedup_urls" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE doc_id % 4
        |      WHEN 0 THEN 'https://example.com/art/' || (doc_id % 7)
        |                  || '/item/' || (doc_id % 10)
        |      WHEN 1 THEN 'HTTPS://WWW.Example.COM/art/' || (doc_id % 7)
        |                  || '/item/' || (doc_id % 10)
        |      WHEN 2 THEN 'https://example.com:443/art/' || (doc_id % 7)
        |                  || '/item/' || (doc_id % 10) || '/'
        |      ELSE 'http://example.org/art/' || (doc_id % 7) || '?id=' || (doc_id % 10)
        |           || '&utm_source=feed&utm_campaign=x#top'
        |    END AS url
        |  FROM documents),
        |parts AS (
        |  SELECT doc_id, url,
        |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS host0,
        |    regexp_replace(regexp_extract(url,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$', 1), '#.*$', '') AS nofrag
        |  FROM u),
        |p2 AS (
        |  SELECT doc_id, url, scheme,
        |    CASE WHEN scheme = 'https'
        |           THEN regexp_replace(regexp_replace(host0, '^www\.', ''), ':443$', '')
        |         WHEN scheme = 'http'
        |           THEN regexp_replace(regexp_replace(host0, '^www\.', ''), ':80$', '')
        |         ELSE regexp_replace(host0, '^www\.', '') END AS host,
        |    regexp_replace(regexp_extract(nofrag, '^([^?]*)', 1), '/+$', '') AS path,
        |    list_filter(string_split(regexp_extract(nofrag, '\?(.*)$', 1), '&'),
        |      p -> substr(p, 1, 4) <> 'utm_' AND p <> '') AS kept
        |  FROM parts),
        |c AS (
        |  SELECT doc_id, url,
        |    CASE WHEN scheme = '' THEN url
        |         ELSE scheme || '://' || host || path ||
        |           CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&')
        |                ELSE '' END END AS canonical_url
        |  FROM p2),
        |g AS (SELECT canonical_url, count(*)::BIGINT AS n_dupes,
        |        min(doc_id) AS keep_id
        |      FROM c GROUP BY 1)
        |SELECT c.doc_id, c.url, c.canonical_url, g.n_dupes,
        |  (c.doc_id = g.keep_id) AS keep
        |FROM c JOIN g USING (canonical_url) ORDER BY c.doc_id""".stripMargin,
    "text_boilerplate" -> OracleSql.boilerplate(2, 50),
    "text_strip_boilerplate" -> OracleSql.stripBoilerplate(2),
    // chr(769)/chr(776) are the combining acute/diaeresis the engine
    // plants; DuckDB's nfc_normalize (utf8proc) must agree with the
    // engine's JDK Normalizer on every composed sequence and count
    "text_normalize" ->
      """WITH d AS (
        |  SELECT doc_id, length(text) AS n_orig,
        |    replace(replace(text, 'e', 'e' || chr(769)), 'a', 'a' || chr(776)) AS dt
        |  FROM documents)
        |SELECT doc_id, nfc_normalize(dt) AS norm_text, n_orig,
        |  length(dt) AS n_decomposed, length(nfc_normalize(dt)) AS n_norm,
        |  length(nfc_normalize(dt)) < length(dt) AS composed
        |FROM d ORDER BY doc_id""".stripMargin,
    // DuckDB has no NFKC; the planted compatibility salt's image is a
    // known constant (ﬁ→fi, fullwidth→ASCII, Ⅻ→XII, ㎞→km, e+́→é), and
    // the ASCII corpus text is NFKC-invariant — so the normalized text
    // is literally text || the image. Salt = 19 code points, image 22.
    "text_nfkc" ->
      """SELECT doc_id,
        |  text || ' file?3 XII km Hello é' AS norm_text,
        |  (length(text) + 19)::BIGINT AS n_in,
        |  (length(text) + 22)::BIGINT AS n_out
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_html_extract" -> OracleSql.htmlExtract,
    "text_html_blocks" -> OracleSql.htmlBlocks,
    // closed-form resolution ground truth per anchor class
    "text_html_links" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    'https://' || source || '.example/docs/d' || (doc_id % 20)
        |      || '/page.html' AS base,
        |    'https://' || source || '.example' AS origin,
        |    'https://' || source || '.example/docs/d' || (doc_id % 20)
        |      || '/' AS basedir,
        |    source || '.example' AS bhost
        |  FROM documents)
        |SELECT doc_id, link_id, href, url, host, is_internal, anchor_text FROM (
        |  SELECT doc_id, 1::BIGINT AS link_id,
        |    'https://ext' || (doc_id % 7) || '.example/a' AS href,
        |    'https://ext' || (doc_id % 7) || '.example/a' AS url,
        |    'ext' || (doc_id % 7) || '.example' AS host,
        |    FALSE AS is_internal, 'out bound' AS anchor_text FROM b
        |  UNION ALL SELECT doc_id, 2, '/p/' || (doc_id % 50),
        |    origin || '/p/' || (doc_id % 50), bhost, TRUE, 'root' FROM b
        |  UNION ALL SELECT doc_id, 3, 'sub/' || (doc_id % 10) || '.html#sec',
        |    basedir || 'sub/' || (doc_id % 10) || '.html', bhost, TRUE, 'rel' FROM b
        |  UNION ALL SELECT doc_id, 4, '//cdn.example/r' || (doc_id % 3),
        |    'https://cdn.example/r' || (doc_id % 3), 'cdn.example', FALSE, 'proto' FROM b
        |  UNION ALL SELECT doc_id, 5, '#top', base, bhost, TRUE, 'frag' FROM b)
        |ORDER BY doc_id, link_id""".stripMargin,
    // closed-form head-metadata ground truth (entities decoded, every
    // 9th doc's description absent = empty string)
    "text_html_meta" ->
      """SELECT doc_id,
        |  'T&' || (doc_id % 100) || ' docs' AS title,
        |  CASE WHEN doc_id % 9 = 0 THEN ''
        |       ELSE 'Desc "' || (doc_id % 40) || '" here' END AS description,
        |  'OG ' || (doc_id % 25) AS og_title,
        |  'https://' || source || '.example/c/' || (doc_id % 20) AS canonical
        |FROM documents ORDER BY doc_id""".stripMargin,
  )
}
