package graft.streaming

import graft.rel.Relational
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Checkpoints.Pinnable
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming surface of the engine.
  *
  * The batch transforms in [[Relational]] are plain DataFrame functions, so
  * they run unchanged on a `readStream` source; this module adds the
  * streaming-only pieces: watermarks for state cleanup, and a stateful
  * sessionizer via `flatMapGroupsWithState` (the custom-state path for
  * semantics window functions can't express incrementally).
  *
  * At scale: state is partitioned by the grouping key across executors;
  * the watermark bounds state size; `maxFilesPerTrigger`-style source
  * options bound per-batch work.
  */
object EventsStream {

  /** Streaming source over the events parquet of one sf directory. The
    * streaming file source requires a directory of files; the test data
    * ships one file per table, so stage a symlink-only directory.
    *
    * The stream schema is DERIVED from a batch footer read — never pinned
    * to one physical parquet type. events.ts has shipped as
    * TIMESTAMP(NANOS), naive TIMESTAMP(MICROS), and UTC micros across
    * testdata generations; [[graft.Tables.rawEventsWithNanosFlag]]
    * surfaces whichever the footer holds (setting the nanos-as-long legacy
    * flag only when actually needed) and [[graft.Tables.normalizeTs]]
    * converts the stream to the same session-zoned micro-precision
    * TimestampType contract the batch loader guarantees, so every
    * downstream transform sees one ts type regardless of who wrote the
    * file. */
  def readEvents(spark: SparkSession, sfDir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val src = Paths.get(s"$sfDir/events.parquet")
    val stageDir = Paths.get(
      s"/tmp/graft_stream_${src.toAbsolutePath.toString.replaceAll("[^A-Za-z0-9]", "_")}")
    Files.createDirectories(stageDir)
    // drop dangling links left by an earlier GENERATION of a rewritten
    // table (Files.exists follows the link; delete removes the link);
    // listings materialize via Dirs so the directory handle is closed
    // BEFORE any delete runs (and never leaks per stream start)
    graft.Dirs.children(stageDir)
      .foreach(l => if (!Files.exists(l)) Files.delete(l))
    if (Files.isDirectory(src)) {
      // a directory-shaped table (Spark-written): the file stream source
      // does NOT recurse into a symlinked subdirectory — a dir symlink
      // silently yields an EMPTY stream. Stage each data file flat.
      graft.Dirs.children(src)
        .filter(f => f.getFileName.toString.endsWith(".parquet"))
        .foreach { f =>
          val link = stageDir.resolve(f.getFileName)
          if (!Files.exists(link)) Files.createSymbolicLink(link, f.toAbsolutePath)
        }
    } else {
      val link = stageDir.resolve("events.parquet")
      if (!Files.exists(link)) Files.createSymbolicLink(link, src.toAbsolutePath)
    }
    val (raw, nanos) = graft.Tables.rawEventsWithNanosFlag(spark, sfDir)
    graft.Tables.normalizeTs(
      spark.readStream.schema(raw.schema).parquet(stageDir.toString),
      nanosAsLong = nanos)
  }

  /** Watermarked hourly windowed aggregation — the streaming form of
    * Relational.hourlyEventStats. Late events beyond 2 hours are dropped
    * and window state is reclaimed. */
  def hourlyStats(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(Relational.cents(col("value"))).cast("double") / 100.0).as("sum_value"))
      .select(unix_timestamp(col("window.start")).as("hour_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** Stream-stream interval join: purchases within 30 minutes after an
    * error by the same user. Both sides watermarked so join state is
    * bounded; the time band makes the state horizon explicit. */
  def purchasesAfterErrors(events: DataFrame, bandMinutes: Int = 30): DataFrame = {
    val errors = events.filter(col("event_type") === "error")
      .select(col("user_id").as("err_user"), col("ts").as("err_ts"))
      .withWatermark("err_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .withWatermark("ts", "1 hour")
    purchases.join(errors,
      expr(s"""user_id = err_user AND
              |ts >= err_ts AND ts <= err_ts + interval $bandMinutes minutes""".stripMargin))
      .select(col("user_id"), col("event_id"), col("ts"), col("err_ts"), col("value"))
  }

  /** Native session-window aggregation: Spark's built-in `session_window`
    * (merging-window state, gap-based) — the declarative counterpart of
    * the custom [[sessionizeStream]] state machine. Prefer this form when
    * per-session outputs are plain aggregates; drop to
    * flatMapGroupsWithState only for semantics the merging windows can't
    * express (e.g. emitting mid-session deltas). Works identically over a
    * batch DataFrame (the watermark is a no-op there), which is what the
    * parity test exploits. */
  def sessionWindowStats(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapMinutes minutes"))
      .agg(count(lit(1)).as("n_events"),
        sum(Relational.cents(col("value"))).as("session_value_cents"))
      .select(col("user_id"),
        unix_millis(col("session_window.start")).as("session_start_ms"),
        col("n_events"), col("session_value_cents"))

  /** Streaming exact dedup: first event per (user_id, event_type) within
    * the watermark horizon — `dropDuplicates` with bounded state, the
    * streaming face of the batch dedup suite. */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicates("user_id", "event_type")

  private val runSeq = new java.util.concurrent.atomic.AtomicInteger(0)
  private val lastView = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Drain a finite streaming DataFrame through the REAL streaming engine
    * (micro-batch runner, state store, watermark machinery) into a memory
    * sink and return the landed table. This is what lets streaming
    * transforms be driver-graded against the batch SQL oracle instead of
    * only spec-asserted: the rows the oracle sees went through
    * `writeStream`, not a batch shortcut.
    *
    * Scale contract: the memory sink is for BOUNDED aggregate outputs
    * (hours × event-types, distinct key sets) — corpus-sized streams land
    * via the `foreachBatch` parquet sink (StreamingSpec covers it); this
    * helper is the grading harness, not the production sink. Query names
    * are uniquified so repeated invocations (bench passes) never collide
    * with a registered temp view from an earlier run. */
  /** State partitions for the graded drains. A stateful streaming query
    * pays a state-store COMMIT (delta file create + fsync + rename) per
    * store per partition per micro-batch — a stream-stream join carries
    * FOUR stores per partition, so at the batch session's 32 shuffle
    * partitions an AvailableNow drain spends seconds on 128 commits of
    * ~1k rows each (measured: stream_join 6.2s at 32 parts, 2.0s at 4).
    * State width must track STATE SIZE, not the batch shuffle width:
    * these graded queries hold bounded state (tens of thousands of
    * rows), so a handful of partitions is right; a corpus-scale
    * deployment sizes it as state rows / ~1M-rows-per-partition via the
    * parameter instead. */
  val DefaultDrainStateParts = 4

  /** Run `body` with the session's shuffle-partition conf pinned to
    * `stateParts` (streaming queries capture it at plan time), restoring
    * the batch setting after. Graded drains run sequentially; a session
    * running concurrent drains should set the conf per-cluster instead. */
  private[graft] def withStateParts[T](spark: SparkSession, stateParts: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, stateParts.toString)
    try body finally spark.conf.set(key, prev)
  }

  def drainToTable(spark: SparkSession, stream: DataFrame,
                   name: String, mode: String,
                   stateParts: Int = DefaultDrainStateParts): DataFrame = {
    val qn = s"graft_stream_${name}_${runSeq.incrementAndGet()}"
    // drop the previous drain's view for this query so repeated bench
    // passes don't accumulate memory-sink row sets for the session's
    // lifetime (an already-returned DataFrame keeps its own resolved
    // plan, so dropping the catalog entry never breaks a prior consumer).
    // compute() makes the swap-and-drop atomic PER NAME: two concurrent
    // drains of the same logical name can no longer drop a view the
    // other just registered out from under an in-flight grading read.
    lastView.compute(name, (_, prev) => {
      if (prev != null) spark.catalog.dropTempView(prev)
      qn
    })
    withStateParts(spark, stateParts) {
      val q = stream.writeStream.outputMode(mode).format("memory").queryName(qn)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.table(qn)
  }

  /** The PRODUCTION sink path: drain a streaming frame through
    * `foreachBatch` into append-mode parquet at `path` and return the
    * landed frame READ BACK FROM DISK — callers grade what the files
    * hold, not the in-flight rows. This is the lake-landing form for
    * corpus-sized stream outputs (the memory sink above is only for
    * bounded grading aggregates); at scale each micro-batch writes its
    * partitions in parallel and the files accumulate as the table. */
  def drainToParquet(spark: SparkSession, stream: DataFrame, path: String,
                     stateParts: Int = DefaultDrainStateParts): DataFrame = {
    withStateParts(spark, stateParts) {
      val q = stream.writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("append").parquet(path)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // An empty source drains zero batches and writes NO files; read back
    // with the stream's own schema (and the dir materialized) so the
    // empty landing is an empty frame, not a schema-inference error.
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
    spark.read.schema(stream.schema).parquet(path)
  }

  /** Graded query: the streaming exact-dedup key set landed via the
    * production `foreachBatch` parquet sink ([[drainToParquet]]) and
    * read back — the same batch oracle as the memory-sink form, so the
    * disk round-trip itself is under grade. The landing dir is STABLE
    * per (session, source) and wiped before each drain: repeated bench
    * passes neither append onto an earlier run's files nor leak one temp
    * dir per invocation (disk stays bounded at one copy per source), and
    * the applicationId component keeps two concurrent sessions grading
    * the same sfDir from deleting each other's landing mid-run. */
  def dedupKeysSunk(spark: SparkSession, sfDir: String): DataFrame = {
    import java.nio.file.{Files, Path, Paths}
    val out = Paths.get(
      s"/tmp/graft_stream_sink_${spark.sparkContext.applicationId}_" +
        s"${sfDir.replaceAll("[^A-Za-z0-9]", "_")}/dedup")
    graft.Dirs.deleteRecursively(out) // wipe the PREVIOUS drain's landing
    drainToParquet(spark,
      readEvents(spark, sfDir).dropDuplicates("user_id", "event_type")
        .select(col("user_id"), col("event_type")), out.toString)
      .orderBy("user_id", "event_type")
  }

  /** Graded query: hourly windowed aggregation through the streaming
    * engine, complete mode (a finite source drains fully, so the landed
    * table holds every window — exactly the batch result). */
  def hourlyStatsLanded(spark: SparkSession, sfDir: String): DataFrame =
    drainToTable(spark, hourlyStats(readEvents(spark, sfDir)),
      "hourly", "complete")
      .orderBy("hour_start", "event_type")

  // -------------------------------------------------------------------
  // Late-data drop accounting (graded): a two-batch fixture plants rows
  // BEYOND the watermark and the landed output proves they were dropped.
  // -------------------------------------------------------------------

  /** Epoch seconds of the fixture origin (2024-01-01T00:00:00Z). */
  val LateT0: Long = 1704067200L

  /** Schema of the late-data fixture batches (engine-written micros). */
  val lateSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("event_type", StringType),
    StructField("ts", TimestampType)))

  /** Stage the three-micro-batch late-data fixture, derived
    * deterministically from the events table so a SQL oracle can
    * recompute the ground truth:
    *
    *  - batch1 (on-time, ids with id mod 10 < 8): ts = T0 + (id mod 48)
    *    hours — spans 48 h, so the 1 h watermark derived from its stats
    *    is T0+46 h.
    *  - batch2 (watermark carrier, id mod 20 = 9): ts = T0+47 h — its
    *    window end (T0+48 h) is past any watermark the engine can hold
    *    at that point, so the rows are kept under every lag reading.
    *  - batch3 late rows (id mod 10 = 8): ts = T0 + (id mod 20) hours —
    *    at least 26 h BELOW the batch1-derived watermark; the streaming
    *    aggregation must drop every one (their windows are long
    *    finalized).
    *  - batch3 advancer rows (id mod 20 = 19): ts ≥ T0+50 h — they push
    *    the final watermark to T0+50 h, which finalizes (= emits, in
    *    append mode) every kept window while their own windows stay
    *    in-flight and unemitted.
    *
    * The middle batch exists because the micro-batch engine applies a
    * freshly derived watermark with up to one extra batch of lag
    * (measured on Spark 4.1: a single AvailableNow backlog run filters
    * batch N with the event-time stats of batch N-2). The fixture is
    * correct under ANY lag in {0, 1, 2}: by batch3 the filtering
    * watermark is T0+46 h under every reading, and batch2's carrier rows
    * survive every reading.
    *
    * The landed result is therefore EXACTLY the kept set's hourly counts
    * — any failure to drop inflates windows 0-19, any over-drop deflates
    * them, and any premature emission adds the in-flight windows: all
    * hash mismatches. Batch order is forced by maxFilesPerTrigger=1 +
    * file modification times (the file source processes oldest first). */
  def lateFixtureDir(spark: SparkSession, sfDir: String): String = {
    import java.nio.file.{Files, Paths}
    val dir = Paths.get(s"/tmp/graft_stream_late_${spark.sparkContext.applicationId}_" +
      sfDir.replaceAll("[^A-Za-z0-9]", "_"))
    val b1 = dir.resolve("batch1.parquet")
    val b2 = dir.resolve("batch2.parquet")
    val b3 = dir.resolve("batch3.parquet")
    if (Files.exists(b1) && Files.exists(b2) && Files.exists(b3)) return dir.toString
    Files.createDirectories(dir)
    val ev = graft.Tables.events(spark, sfDir).select(col("event_id"), col("event_type"))
    def ts(secs: Column): Column = timestamp_seconds(secs)
    val onTime = ev.filter(col("event_id") % 10 < 8)
      .withColumn("ts", ts(lit(LateT0) + (col("event_id") % 48) * 3600L))
    val carriers = ev.filter(col("event_id") % 20 === 9)
      .withColumn("ts", ts(lit(LateT0) + 47L * 3600L))
    val late = ev.filter(col("event_id") % 10 === 8)
      .withColumn("ts", ts(lit(LateT0) + (col("event_id") % 20) * 3600L))
    val advancers = ev.filter(col("event_id") % 20 === 19)
      .withColumn("ts", ts(lit(LateT0) + 50L * 3600L + (col("event_id") % 2) * 3600L))
    def writeOne(df: DataFrame, target: java.nio.file.Path, mtimeMs: Long): Unit =
      stageSingleFile(df.select("event_id", "event_type", "ts"), dir, target, mtimeMs)
    val now = System.currentTimeMillis()
    writeOne(onTime, b1, now - 120000L)
    writeOne(carriers, b2, now - 60000L)
    writeOne(late.unionByName(advancers), b3, now)
    dir.toString
  }

  /** Write `df` (already projected) as exactly ONE parquet file at
    * `target` with a forced modification time — the unit of micro-batch
    * staging: the streaming file source processes oldest-mtime first, so
    * fixture batch order is deterministic. */
  private def stageSingleFile(df: DataFrame, dir: java.nio.file.Path,
                              target: java.nio.file.Path, mtimeMs: Long): Unit = {
    import java.nio.file.Files
    val tmp = dir.resolve(s"_stage_${target.getFileName}")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = graft.Dirs.children(tmp)
      .find(p => p.getFileName.toString.startsWith("part-"))
      .getOrElse(throw new IllegalStateException(s"no part file in $tmp"))
    Files.move(part, target, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    graft.Dirs.deleteRecursively(tmp)
    Files.setLastModifiedTime(target, java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
  }

  /** The late-data fixture as a two-batch stream (one file per
    * micro-batch, oldest first). */
  def lateStream(spark: SparkSession, sfDir: String): DataFrame =
    spark.readStream.schema(lateSchema).option("maxFilesPerTrigger", "1")
      .parquet(lateFixtureDir(spark, sfDir))

  /** The watermarked hourly aggregation under grade. */
  def lateWindowAgg(stream: DataFrame): DataFrame =
    stream
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("window.start")).as("hour_start"),
        col("event_type"), col("n"))

  /** Graded query: late rows planted beyond the watermark must be
    * DROPPED, and only watermark-finalized windows may land (append
    * mode). The oracle recomputes the kept set — batch1's hourly counts —
    * from the events table with the same closed-form timestamps. */
  def lateWindowCountsLanded(spark: SparkSession, sfDir: String): DataFrame =
    drainToTable(spark, lateWindowAgg(lateStream(spark, sfDir)), "late", "append")
      .orderBy("hour_start", "event_type")

  // -------------------------------------------------------------------
  // Stream-stream LEFT OUTER join (graded): unmatched rows must emit
  // with nulls — and only once the watermark PROVES no match can still
  // arrive. A two-batch fixture finalizes every graded row.
  // -------------------------------------------------------------------

  /** Schema of the outer-join fixture batches. `kind` splits the one
    * staged stream into the join's two sides. */
  val outerSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("kind", StringType),
    StructField("user_id", LongType),
    StructField("ts", TimestampType)))

  /** Stage the two-batch outer-join fixture, closed-form in event_id so
    * a SQL oracle recomputes the exact match/no-match ground truth:
    *
    *  - batch1 purchases (id mod 10 = 0): user = (id div 10) mod 100,
    *    ts = T0 + (id mod 29)·10 min; errors (id mod 10 = 1): user =
    *    (id div 10) mod 100, ts = T0 + (id mod 31)·10 min. The user key
    *    derives from id div 10 — NOT id mod 100, which would partition
    *    purchase and error users into disjoint residue classes and make
    *    every row vacuously unmatched. The co-prime 29/31 grids plus the
    *    30-min band give every purchase a deterministic mix of 0..n
    *    matches.
    *  - batch2 advancers: one purchase-kind and one error-kind row at
    *    T0 + 30 days under users -1/-2 (matchable by nothing). They push
    *    the final watermark past every batch1 row's match horizon, so
    *    the engine must EVICT-AND-EMIT every unmatched batch1 purchase
    *    with null error columns. The advancer purchase itself stays
    *    unemitted — its own horizon never closes — which is itself under
    *    grade: an engine that flushes state at stream end (instead of by
    *    watermark proof) lands an extra row and hash-mismatches. */
  def outerFixtureDir(spark: SparkSession, sfDir: String): String = {
    import java.nio.file.{Files, Paths}
    val dir = Paths.get(s"/tmp/graft_stream_outer_${spark.sparkContext.applicationId}_" +
      sfDir.replaceAll("[^A-Za-z0-9]", "_"))
    val b1 = dir.resolve("batch1.parquet")
    val b2 = dir.resolve("batch2.parquet")
    if (Files.exists(b1) && Files.exists(b2)) return dir.toString
    Files.createDirectories(dir)
    val ev = graft.Tables.events(spark, sfDir).select(col("event_id"))
    def ts(secs: Column): Column = timestamp_seconds(secs)
    val purchases = ev.filter(col("event_id") % 10 === 0)
      .select(col("event_id"), lit("purchase").as("kind"),
        expr("(event_id div 10) % 100").as("user_id"),
        ts(lit(LateT0) + (col("event_id") % 29) * 600L).as("ts"))
    val errors = ev.filter(col("event_id") % 10 === 1)
      .select(col("event_id"), lit("error").as("kind"),
        expr("(event_id div 10) % 100").as("user_id"),
        ts(lit(LateT0) + (col("event_id") % 31) * 600L).as("ts"))
    val spark2 = spark
    import spark2.implicits._
    val advancers = Seq(
      (-1L, "purchase", -1L), (-2L, "error", -2L)
    ).toDF("event_id", "kind", "user_id")
      .select(col("event_id"), col("kind"), col("user_id"),
        ts(lit(LateT0) + 30L * 86400L).as("ts"))
    val now = System.currentTimeMillis()
    stageSingleFile(purchases.unionByName(errors), dir, b1, now - 60000L)
    stageSingleFile(advancers, dir, b2, now)
    dir.toString
  }

  /** The outer-join fixture as a two-batch stream (oldest file first). */
  def outerStream(spark: SparkSession, sfDir: String): DataFrame =
    spark.readStream.schema(outerSchema).option("maxFilesPerTrigger", "1")
      .parquet(outerFixtureDir(spark, sfDir))

  /** Stream-stream LEFT OUTER interval join: every purchase, with the
    * errors by the same user in the 30 minutes before it — or nulls if
    * the watermark proves there were none. Both sides watermarked (join
    * state is bounded by the band + delay); the time constraint in the
    * join condition is what lets the engine evict matched state AND
    * decide when an unmatched left row is safe to emit. */
  def purchasesWithErrorContext(stream: DataFrame, bandMinutes: Int = 30): DataFrame = {
    val purchases = stream.filter(col("kind") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
      .withWatermark("ts", "1 hour")
    val errors = stream.filter(col("kind") === "error")
      .select(col("user_id").as("err_user"), col("ts").as("err_ts"))
      .withWatermark("err_ts", "1 hour")
    purchases.join(errors,
      expr(s"""user_id = err_user AND
              |ts >= err_ts AND ts <= err_ts + interval $bandMinutes minutes""".stripMargin),
      "left_outer")
      .select(col("event_id"), col("user_id"),
        unix_timestamp(col("ts")).as("ts_sec"),
        unix_timestamp(col("err_ts")).as("err_sec"))
  }

  /** Graded query: the landed outer-join rows. The oracle is the plain
    * batch LEFT JOIN over the same closed-form fixture — matched
    * multiplicity, null emission, and no-flush-at-stop all under grade. */
  def outerJoinLanded(spark: SparkSession, sfDir: String): DataFrame =
    drainToTable(spark, purchasesWithErrorContext(outerStream(spark, sfDir)),
      "outer", "append")
      .orderBy("event_id", "err_sec")

  /** Graded query: streaming exact dedup — the distinct (user, event_type)
    * key set via `dropDuplicates` state. Keys are projected AFTER the
    * dedup so the output is the deterministic key set (which concrete row
    * wins the first-seen race varies with partition order; the key set
    * does not). Plain `dropDuplicates` (not WithinWatermark): state is one
    * row per DISTINCT key — bounded by key cardinality, not stream length
    * — and global exactness is the point of the query; use
    * dropDuplicatesWithinWatermark only when a bounded re-emit horizon is
    * acceptable. */
  def dedupKeysLanded(spark: SparkSession, sfDir: String): DataFrame =
    drainToTable(spark,
      readEvents(spark, sfDir).dropDuplicates("user_id", "event_type")
        .select(col("user_id"), col("event_type")),
      "dedup", "append")
      .orderBy("user_id", "event_type")

  /** Graded query: the stream-stream interval join, drained. Append mode
    * emits each match exactly once; with the 1h watermark comfortably
    * covering the 30min band, no match is evicted before its partner
    * arrives on a drained finite source, so the landed rows equal the
    * batch range join exactly (StreamingSpec asserts set equality). */
  def purchasesAfterErrorsLanded(spark: SparkSession, sfDir: String): DataFrame =
    drainToTable(spark,
      purchasesAfterErrors(readEvents(spark, sfDir), bandMinutes = 30)
        .select(col("user_id"), col("event_id"),
          unix_millis(col("ts")).as("ts_ms"),
          unix_millis(col("err_ts")).as("err_ts_ms")),
      "join", "append")
      .orderBy("user_id", "event_id", "err_ts_ms")

  /** Graded query: gap-based sessionization through the streaming
    * engine's merging session-window state, drained in complete mode so
    * the landed table holds every session (append would withhold the
    * trailing ones the final watermark never passes). */
  def sessionWindowLanded(spark: SparkSession, sfDir: String): DataFrame =
    drainToTable(spark, sessionWindowStats(readEvents(spark, sfDir)),
      "sessions", "complete")
      .orderBy("user_id", "session_start_ms")

  /** One closed user session emitted by the stateful sessionizer. */
  final case class Session(user_id: Long, session_start_ms: Long, session_end_ms: Long,
                           n_events: Long, session_value_cents: Long)

  /** Open-session state. MUST be public: `state.update` serializes it
    * through generated code that needs public access to the constructor —
    * as `private`, every pipeline that carries an open session across
    * micro-batches dies with a Janino compile error (only surfaced by the
    * multi-batch out-of-order test; single-batch flushOpen runs never
    * call update). */
  final case class SessionState(startMs: Long, lastMs: Long, n: Long, cents: Long)

  /** Event-time sessionization with a gap timeout, as incremental state:
    * the streaming analogue of Relational.sessionize. Each user's open
    * session lives in GroupState; an event past the gap closes and emits
    * the previous session. `flush` (tests) also emits the open session. */
  def sessionizeStream(spark: SparkSession, events: DataFrame,
                       gapMinutes: Int = 30, flushOpen: Boolean = false) = {
    import spark.implicits._
    val gapMs = gapMinutes * 60000L
    events
      .select(col("user_id"), unix_millis(col("ts")).as("ms"), Relational.cents(col("value")).as("cents"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (userId, rows, state: GroupState[SessionState]) =>
          // events within one micro-batch arrive unordered: sort by time
          val sorted = rows.toSeq.sortBy(_._2)
          var st = state.getOption.orNull
          val closed = Seq.newBuilder[Session]
          sorted.foreach { case (_, ms, cents) =>
            st match {
              case null =>
                st = SessionState(ms, ms, 1, cents)
              case s if ms - s.lastMs > gapMs =>
                closed += Session(userId, s.startMs, s.lastMs, s.n, s.cents)
                st = SessionState(ms, ms, 1, cents)
              case s =>
                // min/max, not overwrite: an out-of-order event from a
                // later micro-batch must neither move the session end
                // backwards (the next in-order event could spuriously
                // split the session measured from the regressed end) nor
                // leave the start after the earliest merged event.
                st = SessionState(math.min(s.startMs, ms), math.max(s.lastMs, ms),
                  s.n + 1, s.cents + cents)
            }
          }
          if (st != null) {
            if (flushOpen) { closed += Session(userId, st.startMs, st.lastMs, st.n, st.cents); state.remove() }
            else state.update(st)
          }
          closed.result().iterator
      }
  }

  // -------------------------------------------------------------------
  // Streaming CDC -> SCD2: the lakehouse maintenance loop run through
  // the real micro-batch engine. Each micro-batch is one version's CDC
  // delta; foreachBatch folds it into the dimension history with
  // Incremental.extendHistory (|history| + |changes| per batch, no
  // snapshot replay). The graded claim: the streamed fold is
  // indistinguishable from the batch full recompute over the whole
  // snapshot stack — the same oracle pipeline_scd2 uses.
  // -------------------------------------------------------------------

  /** CDC delta batches equivalent to the scd2Snapshots stack, one file
    * per version (oldest mtime first so micro-batch order is the
    * version order):
    *  v1: upsert every v1 document (id % 7 != 0, original text);
    *  v2: insert the id % 7 == 0 docs, edit the id % 5 == 0 survivors
    *      (" v2" suffix) — v1 ⊂ v2, so no deletes;
    *  v3: delete id % 11 == 0, edit id % 3 == 0 survivors (" v3"
    *      suffix), plus hash-equal NO-OP upserts of the id % 13 == 0
    *      untouched docs (the unchanged-content carry under grade). */
  def scd2CdcFixtureDir(spark: SparkSession, sfDir: String): String = {
    import java.nio.file.{Files, Paths}
    val dir = Paths.get(s"/tmp/graft_stream_scd2_${spark.sparkContext.applicationId}_" +
      sfDir.replaceAll("[^A-Za-z0-9]", "_"))
    val b1 = dir.resolve("v1.parquet")
    val b2 = dir.resolve("v2.parquet")
    val b3 = dir.resolve("v3.parquet")
    if (Files.exists(b1) && Files.exists(b2) && Files.exists(b3)) return dir.toString
    Files.createDirectories(dir)
    val d = graft.Tables.documents(spark, sfDir).select("doc_id", "text")
    val t2 = when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
      .otherwise(col("text"))
    val sNull = lit(null).cast("string")
    def change(df: DataFrame, op: String, text: Column, v: Long): DataFrame =
      df.select(col("doc_id"), lit(1L).as("seq"), lit(op).as("op"),
        text.as("text"), lit(v).as("version"))
    val c1 = change(d.filter(col("doc_id") % 7 =!= 0), "upsert", col("text"), 1L)
    val c2 = change(d.filter(col("doc_id") % 7 === 0), "upsert", t2, 2L)
      .unionByName(change(d.filter(col("doc_id") % 7 =!= 0 && col("doc_id") % 5 === 0),
        "upsert", t2, 2L))
    val c3 = change(d.filter(col("doc_id") % 11 === 0), "delete", sNull, 3L)
      .unionByName(change(d.filter(col("doc_id") % 11 =!= 0 && col("doc_id") % 3 === 0),
        "upsert", concat(t2, lit(" v3")), 3L))
      .unionByName(change(d.filter(col("doc_id") % 11 =!= 0 && col("doc_id") % 3 =!= 0 &&
        col("doc_id") % 13 === 0), "upsert", t2, 3L))
    val now = System.currentTimeMillis()
    stageSingleFile(c1, dir, b1, now - 120000L)
    stageSingleFile(c2, dir, b2, now - 60000L)
    stageSingleFile(c3, dir, b3, now)
    dir.toString
  }

  private val scd2ChangeSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "doc_id BIGINT, seq BIGINT, op STRING, text STRING, version BIGINT")

  /** Graded query: the CDC stream folded into an SCD2 dimension history
    * one micro-batch at a time. `foreachBatch` applies
    * [[graft.ext.Incremental.extendHistory]] to the running history
    * (eagerly checkpointed, so each fold completes before the next
    * batch's — and dead intermediate checkpoints are freed); the landed
    * result must be byte-identical to the batch THREE-SNAPSHOT full
    * recompute, which is exactly the pipeline_scd2 oracle. This is the
    * production shape of dimension maintenance: the change feed streams
    * in, the history table is patched in place, no snapshot is ever
    * re-derived. */
  def scd2StreamLanded(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scd2CdcFixtureDir(spark, sfDir)
    var history = spark.range(0).select(
      col("id").as("doc_id"), lit(0L).as("valid_from"), lit(0L).as("valid_to"),
      lit(true).as("is_current"), lit(0L).as("content_hash"), lit(0L).as("content_len"))
    var dead: DataFrame = null
    withStateParts(spark, DefaultDrainStateParts) {
      val q = spark.readStream.schema(scd2ChangeSchema)
        .option("maxFilesPerTrigger", "1").parquet(dir)
        .writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          if (batch.isEmpty) () else {
          // one file per micro-batch -> version is constant in the batch
          val v = batch.agg(max(col("version"))).head().getLong(0)
          val next = graft.ext.Incremental
            .extendHistory(history, batch.drop("version"), v)
            .pinCheckpoint() // eager: the fold is SEQUENCED per batch
          if (dead != null) dead.unpersist()
          dead = history
          history = next
          }
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    history.drop("content_hash", "content_len").orderBy("doc_id", "valid_from")
  }

  /** CDC fixture for the streaming aggregate maintenance: the SAME
    * change log pipeline_cdc_apply / lake_incr_agg use, split into its
    * two sequence batches (one file per micro-batch, seq order =
    * arrival order).
    *
    * The staged dir is keyed on a CONTENT hash of the change rows (an
    * order-insensitive SUM + XOR of per-row xxhash64, plus the count),
    * not just the session — two callers in one JVM with different
    * change-sets must each stream their own data, never silently reuse
    * the first caller's fixture. XOR alone self-cancels duplicated row
    * pairs; the sum component perturbs the key for those too. */
  def cdcBatchFixtureDir(spark: SparkSession, sfDir: String,
                         changes: DataFrame): String = {
    import java.nio.file.{Files, Paths}
    val keyRow = changes
      .select(xxhash64(changes.columns.sorted.map(col): _*).as("h"))
      .agg(xxhash64(
        coalesce(expr("bit_xor(h)"), lit(0L)),
        // decimal sum: order-insensitive and overflow-proof under ANSI
        // (a long sum of xxhash64 values overflows almost immediately)
        coalesce(sum(col("h").cast("decimal(30,0)")), lit(0)).cast("string"),
        count(lit(1))), count(lit(1))).head()
    val dir = Paths.get(s"/tmp/graft_stream_cdc_${spark.sparkContext.applicationId}_" +
      sfDir.replaceAll("[^A-Za-z0-9]", "_") + "_" +
      java.lang.Long.toHexString(keyRow.getLong(0)) + "_" + keyRow.getLong(1))
    val b1 = dir.resolve("seq1.parquet")
    val b2 = dir.resolve("seq2.parquet")
    if (Files.exists(b1) && Files.exists(b2)) return dir.toString
    Files.createDirectories(dir)
    val now = System.currentTimeMillis()
    stageSingleFile(changes.filter(col("seq") === 1L), dir, b1, now - 60000L)
    stageSingleFile(changes.filter(col("seq") === 2L), dir, b2, now)
    dir.toString
  }

  private val cdcChangeSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "doc_id BIGINT, seq BIGINT, op STRING, text STRING, source STRING")

  /** Graded query: incrementally-maintained per-source aggregate view,
    * fed by the CDC stream — each micro-batch patches the materialized
    * view with [[graft.ext.Incremental.maintainAggregate]] (Δ against
    * the PRE-batch base) and then folds the batch into the base with
    * `applyChanges`; both frames eagerly checkpointed so the fold
    * sequences and dead intermediates are freed. The landed view must
    * equal the FULL RECOMPUTE over the final merged table — the same
    * oracle lake_incr_agg faces, now reached through the real
    * micro-batch engine: the lakehouse serving pattern where the
    * aggregate view is always fresh and the base is never rescanned. */
  def incrAggStreamLanded(spark: SparkSession, sfDir: String,
                          base0: DataFrame, changes: DataFrame): DataFrame = {
    val dir = cdcBatchFixtureDir(spark, sfDir, changes)
    var base = base0.pinCheckpoint()
    var agg = graft.ext.Incremental.charAggregate(base).pinCheckpoint()
    var dead: Seq[DataFrame] = Nil
    withStateParts(spark, DefaultDrainStateParts) {
      val q = spark.readStream.schema(cdcChangeSchema)
        .option("maxFilesPerTrigger", "1").parquet(dir)
        .writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          if (!batch.isEmpty) {
            // within one batch every id appears at most once (the change
            // rules are if/else-exclusive per seq), so the winner
            // resolution inside maintainAggregate is trivially per-row
            val nextAgg = graft.ext.Incremental
              .maintainAggregate(base, agg, batch)
              .pinCheckpoint()
            val nextBase = graft.ext.Incremental
              .applyChanges(base, batch, Seq("text", "source"))
              .pinCheckpoint()
            dead.foreach(_.unpersist())
            dead = Seq(base, agg)
            base = nextBase
            agg = nextAgg
          }
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    agg.orderBy("source")
  }

  /** Watermarked per-hour per-user activity counts — the streaming half
    * of the windowed top-k. State is one count per (window, user); the
    * 2-hour watermark reclaims closed windows. */
  def hourlyUserCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("window.start")).as("hour_start"),
        col("user_id"), col("n"))

  /** Graded query: windowed top-k heavy hitters through the streaming
    * engine — the "trending now" shape. The stream maintains the
    * per-(window, user) counts; the rank runs read-side over the landed
    * counts table, partitioned BY WINDOW (each rank group is one
    * window's users — bounded, never a corpus-wide sort). At scale the
    * landed counts are the compacted stream output and the per-window
    * top-k is the cheap serving query over them. */
  def topUsersPerHourLanded(spark: SparkSession, sfDir: String, k: Int = 5): DataFrame = {
    val landed = drainToTable(spark,
      hourlyUserCounts(readEvents(spark, sfDir)), "topk", "complete")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("hour_start")).orderBy(col("n").desc, col("user_id").asc)
    landed.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .orderBy("hour_start", "rnk")
  }

  // -------------------------------------------------------------------
  // Crash recovery through the production sink (graded)
  // -------------------------------------------------------------------

  val recoverySchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType)))

  /** The events table staged as THREE single-file micro-batches
    * (event_id mod 3, oldest-mtime first — the same forced-order staging
    * as the late fixture), so an injected crash after batch 1 is a
    * genuine mid-stream kill with committed work behind it and
    * unprocessed work ahead. */
  def recoveryFixtureDir(spark: SparkSession, sfDir: String): String = {
    import java.nio.file.{Files, Paths}
    val dir = Paths.get(s"/tmp/graft_stream_recofix_${spark.sparkContext.applicationId}_" +
      sfDir.replaceAll("[^A-Za-z0-9]", "_"))
    val parts = (0 until 3).map(k => dir.resolve(s"batch$k.parquet"))
    if (parts.forall(Files.exists(_))) return dir.toString
    Files.createDirectories(dir)
    val ev = graft.Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"))
    val now = System.currentTimeMillis()
    parts.zipWithIndex.foreach { case (p, k) =>
      stageSingleFile(ev.filter(pmod(col("event_id"), lit(3)) === k.toLong),
        dir, p, now - (2 - k) * 60000L)
    }
    dir.toString
  }

  /** Graded query: EXACTLY-ONCE through a kill and restart of the
    * production sink. The streaming exact-dedup runs over the three-batch
    * fixture with a checkpoint; the first attempt's `foreachBatch` writes
    * batch 1's data files and THEN throws — the torn-write window where
    * data landed but the offset commit did not, the worst case for a
    * naive append sink (replay would double batch 1's rows). The second
    * attempt restarts from the SAME checkpoint: the engine replays the
    * uncommitted batch (its dedup state restored to the pre-batch-1
    * snapshot, so the replay emits byte-identical rows), the
    * idempotent per-batch-id landing (`bid=<id>` dir, overwrite) heals
    * the torn write, and the drain completes through batch 2.
    *
    * The graded claim is the landed parquet AFTER recovery == the batch
    * distinct-key oracle: duplicated rows (lost state or non-idempotent
    * sink), missing rows (lost offsets), or re-emitted keys all
    * hash-mismatch. This is the lakehouse landing discipline at 100 TB —
    * checkpointed offsets + state, batch-id-keyed idempotent writes —
    * graded end to end, not asserted in prose. */
  def recoveredDedupLanded(spark: SparkSession, sfDir: String): DataFrame = {
    import java.nio.file.{Files, Path, Paths}
    val base = Paths.get(
      s"/tmp/graft_stream_recover_${spark.sparkContext.applicationId}_" +
        sfDir.replaceAll("[^A-Za-z0-9]", "_"))
    graft.Dirs.deleteRecursively(base) // wipe the previous drain's checkpoint+landing
    val ckpt = base.resolve("ckpt").toString
    val out = base.resolve("data").toString
    val stream = spark.readStream.schema(recoverySchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(recoveryFixtureDir(spark, sfDir))
      .dropDuplicates("user_id", "event_type")
      .select(col("user_id"), col("event_type"))
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    def drain(crashAtBatch: Long): Unit = withStateParts(spark, DefaultDrainStateParts) {
      val q = stream.writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, bid: Long) =>
          batch.write.mode("overwrite").parquet(s"$out/bid=$bid")
          if (bid == crashAtBatch && !crashed.getAndSet(true))
            throw new RuntimeException(
              "graft: injected crash after the data write, before the offset commit")
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination()
      catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => () }
    }
    drain(crashAtBatch = 1L) // first attempt dies mid-stream
    require(crashed.get(),
      "recovery fixture must stage enough batches for the injected crash to fire")
    drain(crashAtBatch = -1L) // restart from the checkpoint, run to completion
    spark.read.parquet(out)
      .select(col("user_id"), col("event_type"))
      .orderBy("user_id", "event_type")
  }

  // -------------------------------------------------------------------
  // Checkpoint schema evolution (spec-pinned contract)
  // -------------------------------------------------------------------

  private val evolveSchemaV1 = org.apache.spark.sql.types.StructType.fromDDL(
    "user_id BIGINT, event_type STRING")
  private[graft] val evolveSchemaV2 = org.apache.spark.sql.types.StructType.fromDDL(
    "user_id BIGINT, event_type STRING, value DOUBLE")

  private[graft] def evolveBase(spark: SparkSession, sfDir: String,
                                wipe: Boolean): java.nio.file.Path = {
    import java.nio.file.{Files, Path, Paths}
    val base = Paths.get(
      s"/tmp/graft_stream_evolve_${spark.sparkContext.applicationId}_" +
        sfDir.replaceAll("[^A-Za-z0-9]", "_"))
    if (wipe) graft.Dirs.deleteRecursively(base)
    Files.createDirectories(base.resolve("src"))
    base
  }

  /** One checkpointed dedup drain over the evolution fixture dir, read
    * under the given (possibly widened) schema, keyed on `keys`. */
  private[graft] def evolveDrain(spark: SparkSession, base: java.nio.file.Path,
                                 schema: org.apache.spark.sql.types.StructType,
                                 keys: Seq[String]): Unit =
    withStateParts(spark, DefaultDrainStateParts) {
      val out = base.resolve("data").toString
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(base.resolve("src").toString)
        .select(keys.map(col): _*)
        .dropDuplicates(keys)
        .writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, bid: Long) =>
          batch.write.mode("overwrite").parquet(s"$out/bid=$bid")
        }
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

  /** Checkpoint SCHEMA EVOLUTION — the other restart failure mode a
    * long-lived drain meets (the sibling of the crash/restart above):
    * the SOURCE grew a column between runs. The contract, spec-pinned
    * by StreamingSpec:
    *
    *  - ADDITIVE source evolution with the dedup key set UNCHANGED
    *    RECOVERS: generation 1 (user_id, event_type) drains under the
    *    v1 read schema; the fixture then lands a generation-2 file
    *    carrying a new `value` column; the restarted drain reads under
    *    the WIDENED schema against the SAME checkpoint — offsets are
    *    file-positional so nothing replays, and the dedup state row
    *    (the projected key columns) is unchanged, so keys already seen
    *    in generation 1 never re-land;
    *  - a restart that changes the STATE row (the spec's loud sibling:
    *    dedup keys now include `value`) must FAIL with the engine's
    *    state-schema incompatibility error — never silently mix states.
    *
    * Scale shape: identical to the production drain — per-batch-id
    * idempotent landings, state bounded by the distinct key set. */
  def schemaEvolvedDedupLanded(spark: SparkSession, sfDir: String): DataFrame = {
    val base = evolveBase(spark, sfDir, wipe = true)
    val src = base.resolve("src")
    val ev = graft.Tables.events(spark, sfDir)
    val now = System.currentTimeMillis()
    stageSingleFile(
      ev.filter(pmod(col("event_id"), lit(2)) === 0L)
        .select(col("user_id"), col("event_type")),
      src, src.resolve("gen1.parquet"), now - 60000L)
    evolveDrain(spark, base, evolveSchemaV1, Seq("user_id", "event_type"))
    stageSingleFile(
      ev.filter(pmod(col("event_id"), lit(2)) === 1L)
        .select(col("user_id"), col("event_type"), col("value")),
      src, src.resolve("gen2.parquet"), now)
    evolveDrain(spark, base, evolveSchemaV2, Seq("user_id", "event_type"))
    spark.read.parquet(base.resolve("data").toString)
      .select(col("user_id"), col("event_type"))
      .orderBy("user_id", "event_type")
  }

  // -------------------------------------------------------------------
  // Incrementally maintained crawl frontier (graded)
  // -------------------------------------------------------------------

  /** Graded query: the crawl FRONTIER maintained across micro-batches —
    * how a live crawler actually runs: pages arrive in waves, each
    * wave's extracted links + sitemap entries are canonicalized and
    * robots-gated (the identical per-row derivation as the batch
    * `pipeline_crawl_frontier` — [[graft.ext.Frontier.candidates]] is
    * pure projection, so it runs UNCHANGED over the streaming frame),
    * and only NEVER-SEEN canonical URLs land — `dropDuplicates` state
    * keyed on the canonical URL is the frontier's seen-set. A URL
    * announced by wave 1 and re-announced by wave 2 (planted: the two
    * doc-parity waves share ext-host, /p, /q targets) must not re-land.
    *
    * The landed union across batch-id dirs must equal the BATCH
    * frontier's distinct (canonical_url, path, matched_rule) set — the
    * same oracle CTEs, minus the per-referrer aggregates (a streaming
    * seen-set keeps no counts; the batch query grades those). State is
    * one row per distinct canonical URL — the minimum any crawler must
    * remember. */
  def frontierStreamLanded(spark: SparkSession, sfDir: String): DataFrame = {
    import java.nio.file.{Files, Path, Paths}
    val base = Paths.get(
      s"/tmp/graft_stream_frontier_${spark.sparkContext.applicationId}_" +
        sfDir.replaceAll("[^A-Za-z0-9]", "_"))
    graft.Dirs.deleteRecursively(base)
    val src = base.resolve("src")
    Files.createDirectories(src)
    val docs = graft.Tables.documents(spark, sfDir).select("doc_id", "source")
    val now = System.currentTimeMillis()
    stageSingleFile(docs.filter(pmod(col("doc_id"), lit(2)) === 0L),
      src, src.resolve("wave0.parquet"), now - 60000L)
    stageSingleFile(docs.filter(pmod(col("doc_id"), lit(2)) === 1L),
      src, src.resolve("wave1.parquet"), now)
    val out = base.resolve("data").toString
    withStateParts(spark, DefaultDrainStateParts) {
      val stream = spark.readStream
        .schema(org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id BIGINT, source STRING"))
        .option("maxFilesPerTrigger", "1").parquet(src.toString)
      // the robots gate runs AFTER the dropDuplicates state (allow is
      // constant per canonical URL, so the landed set is identical):
      // a pre-state filter gets pushed below the projection and the
      // pushed predicate re-inlines the whole canonicalize + robots
      // regex chain per row (the same optimizer mechanics as the batch
      // crawlFrontier — see Frontier.crawlFrontier); the trade is
      // seen-set state for the blocked URLs too, rows the state would
      // otherwise never hold
      val q = graft.ext.Frontier.candidates(stream)
        .select(col("canonical_url"), col("path"),
          col("__rule.prefix").as("matched_rule"),
          col("__rule.allow").as("__allow"))
        .dropDuplicates("canonical_url")
        .filter(col("__allow") === 1)
        .drop("__allow")
        .writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, bid: Long) =>
          batch.write.mode("overwrite").parquet(s"$out/bid=$bid")
        }
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.read.parquet(out)
      .select(col("canonical_url"), col("path"), col("matched_rule"))
      .orderBy("canonical_url")
  }

  // -------------------------------------------------------------------
  // Incrementally maintained quantile sketch (graded)
  // -------------------------------------------------------------------

  /** Graded query: the level-sampling quantile sketch MAINTAINED across
    * micro-batches — sketch-at-ingest, the way a lakehouse keeps
    * statistics current without rescanning. Per batch: stage the raw
    * rows (a level-0 sketch), union with the kept state, re-cut at the
    * smallest fitting level ≥ the current one. The merge-losslessness
    * proof ([[graft.ext.Sketches.quantileSketchMerged]]) applies per
    * batch, so the final state IS the single-pass sketch of the full
    * stream — graded by the SAME closed-form oracle as the batch query
    * (`user_id` quantiles keyed by `event_id` over the events table):
    * any drift in the maintained state hash-mismatches.
    *
    * State is ≤ capacity rows + one level integer per fold; the level
    * histogram the re-cut collects is ≤ 32 rows. */
  def quantileSketchStreamLanded(spark: SparkSession, sfDir: String,
                                 capacity: Long = graft.ext.Sketches.QsCapacity): DataFrame = {
    val dir = recoveryFixtureDir(spark, sfDir) // 3 single-file micro-batches
    var kept: DataFrame = spark.range(0)
      .select(col("id").as("__v"), col("id").as("__i"), col("id").as("__lvl"))
    var level = 0L
    var total = 0L
    var dead: Seq[DataFrame] = Nil
    withStateParts(spark, DefaultDrainStateParts) {
      val q = spark.readStream.schema(recoverySchema)
        .option("maxFilesPerTrigger", "1").parquet(dir)
        .writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          if (!batch.isEmpty) {
            total += batch.count()
            val staged = graft.ext.Sketches
              .stageLeveled(batch, "user_id", col("event_id"))
            val (next, nextLevel) = graft.ext.Sketches
              .recut(kept.unionByName(staged), level, capacity)
            val pinned = next.pinCheckpoint()
            dead.foreach(_.unpersist())
            dead = Seq(kept)
            kept = pinned
            level = nextLevel
          }
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    graft.ext.Sketches.quantileReportFromState(kept, level, total,
      graft.Tables.events(spark, sfDir).select(col("user_id").as("__cv")))
  }

  /** Sketch-at-ingest, theta flavor: the per-event-type KMV distinct
    * sketch maintained ACROSS micro-batches. Each batch folds to its own
    * ≤ |groups|·k-long state in the engine (the same bounded aggregation
    * [[graft.ext.Sketches.thetaState]] the batch query runs), collects
    * driver-side (k=32 longs per event type — codebook-sized, never the
    * rows), and merges into the running state through literally the same
    * `BottomKDistinctAggregator.insert` the in-engine partial aggregate
    * uses. KMV merge is lossless (the k smallest distinct of a union
    * live inside the per-side k-smallest sets), so the final state IS
    * the single-pass sketch of the full stream — graded by the SAME
    * closed-form oracle as the batch `sketch_theta` formula over the
    * events table: any drift in the maintained state hash-mismatches. */
  def thetaSketchStreamLanded(spark: SparkSession, sfDir: String,
                              k: Int = graft.ext.Sketches.ThetaK): DataFrame = {
    val dir = recoveryFixtureDir(spark, sfDir) // 3 single-file micro-batches
    var state = Map.empty[String, Vector[Long]]
    withStateParts(spark, DefaultDrainStateParts) {
      val q = spark.readStream.schema(recoverySchema)
        .option("maxFilesPerTrigger", "1").parquet(dir)
        .writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          if (!batch.isEmpty) {
            val rows = graft.ext.Sketches
              .thetaState(batch, "event_type", "event_id", k).collect()
            rows.foreach { r =>
              val g = r.getString(0)
              val mins = r.getSeq[Long](1).toVector
              state = state.updated(g,
                graft.core.BottomKDistinctAggregator.merge(k)(
                  state.getOrElse(g, Vector.empty), mins))
            }
          }
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    import spark.implicits._
    val stateDf = state.toSeq.sortBy(_._1).toDF("event_type", "mins")
    graft.ext.Sketches.thetaReportFromState(stateDf,
      graft.Tables.events(spark, sfDir), "event_type", "event_id", k)
  }

  /** Sketch-at-ingest, HLL flavor — the third member of the maintained-
    * sketch trio (quantile, theta, HLL): per micro-batch the engine
    * folds the batch to its bounded per-group register maxima (the same
    * aggregation the batch query runs, ≤ m rows per event type); the
    * state collects driver-side and merges by register-wise max — the
    * identical lossless merge the in-engine partial aggregate performs —
    * so the final state IS the single-pass sketch of the full stream,
    * graded by the same closed-form oracle as the batch formula. */
  def hllStreamLanded(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = recoveryFixtureDir(spark, sfDir) // 3 single-file micro-batches
    var state = Map.empty[(String, Long), Long] // (group, register) -> max rank
    withStateParts(spark, DefaultDrainStateParts) {
      val q = spark.readStream.schema(recoverySchema)
        .option("maxFilesPerTrigger", "1").parquet(dir)
        .writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          if (!batch.isEmpty) {
            val rows = graft.ext.Sketches
              .hllRegisterMax(batch, "event_type", "event_id").collect()
            rows.foreach { r =>
              val key = (r.getString(0), r.getLong(1))
              val rank = r.getLong(2)
              state = state.updated(key, math.max(state.getOrElse(key, 0L), rank))
            }
          }
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    import spark.implicits._
    val stateDf = state.toSeq.map { case ((g, reg), r) => (g, reg, r) }
      .toDF("event_type", "register", "max_rank")
    graft.ext.Sketches.hllReportFromState(stateDf,
      graft.Tables.events(spark, sfDir), "event_type", "event_id")
  }

  /** Sketch-at-ingest, Bloom flavor — completing the maintained-sketch
    * quartet (quantile, theta, HLL, Bloom): per micro-batch the engine
    * folds the batch to its DISTINCT per-group bit positions (bounded
    * by groups × m whatever the batch size); the state set-unions
    * driver-side — the bitwise OR that IS the bloom merge, provably
    * lossless — so the final state equals the single-pass filter of the
    * full stream, graded by the same closed-form oracle as the batch
    * formula over the events table. */
  def bloomStreamLanded(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = recoveryFixtureDir(spark, sfDir) // 3 single-file micro-batches
    var state = Set.empty[(String, Long)] // (group, bit)
    withStateParts(spark, DefaultDrainStateParts) {
      val q = spark.readStream.schema(recoverySchema)
        .option("maxFilesPerTrigger", "1").parquet(dir)
        .writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          if (!batch.isEmpty) {
            graft.ext.Sketches.bloomBitsState(batch, "event_type", "event_id")
              .collect()
              .foreach(r => state += ((r.getString(0), r.getLong(1))))
          }
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    import spark.implicits._
    val stateDf = state.toSeq.sorted.toDF("event_type", "bit")
    graft.ext.Sketches.bloomReportFromState(stateDf,
      graft.Tables.events(spark, sfDir), "event_type", "event_id")
  }

  /** Sketch-at-ingest, CMS flavor — the maintained-sketch QUINTET's
    * fifth member, and the one with the simplest merge of all: counter
    * tables ADD (per-cell sum — count sketches are linear), so per-batch
    * (row, cell, n) states folded with + equal the single-pass table.
    * State is bounded d × w whatever the stream length; the report
    * probes the top-K hottest keys with exact counts beside the
    * estimates (never-undercount visible per row). */
  def cmsStreamLanded(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = recoveryFixtureDir(spark, sfDir) // 3 single-file micro-batches
    var state = Map.empty[(Int, Long), Long] // (row, cell) -> count
    withStateParts(spark, DefaultDrainStateParts) {
      val q = spark.readStream.schema(recoverySchema)
        .option("maxFilesPerTrigger", "1").parquet(dir)
        .writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          if (!batch.isEmpty) {
            graft.ext.Sketches.cmsState(batch, "user_id").collect()
              .foreach { r =>
                val key = (r.getInt(0), r.getLong(1))
                state = state.updated(key, state.getOrElse(key, 0L) + r.getLong(2))
              }
          }
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    import spark.implicits._
    val stateDf = state.toSeq.map { case ((row, cell), n) => (row, cell, n) }
      .toDF("row", "cell", "n")
    graft.ext.Sketches.cmsReportFromState(stateDf,
      graft.Tables.events(spark, sfDir), "user_id")
  }
}
