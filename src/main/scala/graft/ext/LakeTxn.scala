package graft.ext

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{LakeDv, ShippedConf}

/** Transactional lake table: a mini commit log over plain parquet files.
  *
  * The reference has no persistent table format at all (its chunk store
  * is transient pickle blobs, `KeyValueStore.py:22-25`); this is the
  * missing piece between "a directory of parquet" and what a 100-TB
  * pipeline actually runs: ATOMIC multi-file commits, snapshot
  * isolation, and time travel — the Delta/Iceberg shape, reduced to its
  * load-bearing core.
  *
  * Layout (all under one table root):
  * {{{
  *   data/<batch>-<i>.parquet       immutable data files (never edited)
  *   _graft_log/<v 020d>.json       commit v: one action per line
  * }}}
  *
  * A commit file is JSON lines, `{"a":"add","f":"data/x.parquet",
  * "rows":N}` / `{"a":"remove","f":"data/x.parquet"}`. The table state
  * at version v is the fold of actions of commits 0..v: adds insert
  * into the live set, removes delete from it. Data files are immutable
  * and never deleted by a commit — a remove only unpins, so EVERY past
  * snapshot keeps reading (time travel); physical deletion is a
  * separate vacuum concern, deliberately out of scope.
  *
  * Atomicity: a commit becomes visible in ONE filesystem rename — the
  * body is fully written to a dot-temp name (readers ignore dot files)
  * and renamed to its final `%020d.json` name. A compaction or CDC
  * rewrite stages all its data files FIRST (staged files are invisible:
  * readers only open files the log pins), then publishes the
  * remove+add pair as one commit file — a reader either sees the whole
  * rewrite or none of it (LakeTxnSpec stages a compaction and proves
  * the old snapshot still reads). Version claims are the REAL
  * multi-writer protocol: put-if-absent commit files (a POSIX hard
  * link locally — atomic EEXIST, no check-then-act window;
  * rename-no-overwrite on HDFS-contract stores), the loser re-reads
  * the log, re-validates its base (a copy-on-write rewrite whose base
  * files an interleaved commit removed ABORTS rather than resurrecting
  * deleted data; appends always retry), and claims the new head — the
  * Delta LogStore + WriteSerializable conflict contract.
  *
  * Scale shape: the log is driver-scale metadata (one small file per
  * commit, folded on the driver — Θ(commits) with tiny bodies); data
  * reads stay fully distributed parquet scans with pushdown/pruning
  * intact because `read` hands Spark a plain file list. The CDC apply
  * is file-pruned copy-on-write: only files that actually CONTAIN a
  * changed key are rewritten (found via `input_file_name` + a broadcast
  * semi-join against the change keys), so a small change batch against
  * a 100-TB table rewrites a handful of files, not the table.
  */
object LakeTxn {

  /** One commit-log action. An add may carry per-file MIN/MAX of one
    * declared clustering column (`statsCol`/`lo`/`hi`) — the log-level
    * data-skipping stats a lakehouse records at write time so a
    * selective read prunes the file list from METADATA alone, zero
    * parquet footer opens (Delta's `stats` field, reduced to the
    * load-bearing 1-D core). `statsCol == null` means no stats.
    * `dv = true` marks a DELETION-VECTOR add: the file is a parquet of
    * (file basename, row position) pairs under `dv/` that a
    * merge-on-read scan anti-joins away — Delta DVs / Iceberg
    * positional deletes, reduced to a commit-level vector.
    * `schema = true` marks a SCHEMA add: the file (under `meta/`) holds
    * the table schema as StructType JSON; the LATEST one governs reads
    * (schema-on-log, the Delta metaData action — readers never merge
    * footers to discover columns). */
  final case class Action(add: Boolean, file: String, rows: Long,
                          statsCol: String = null, lo: Long = 0L, hi: Long = 0L,
                          dv: Boolean = false, schema: Boolean = false,
                          statsCol2: String = null, lo2: Long = 0L, hi2: Long = 0L,
                          bloomCol: String = null, bloom: String = null,
                          pvCol: String = null, pvValue: String = null,
                          sx: String = null, bytes: Long = -1L,
                          refs: String = null,
                          bkCol: String = null, bkN: Long = 0L, bkId: Long = -1L)

  /** A pinned snapshot: the live DATA add actions (file + rows +
    * optional skipping stats), the live deletion vectors, the
    * governing schema file (None = pre-evolution table, schema comes
    * from the parquet files themselves), the live CHECK constraints
    * and the protocol gate at one version. */
  final case class Snapshot(version: Long, adds: Seq[Action],
                            dvs: Seq[Action] = Nil,
                            schemaFile: Option[String] = None,
                            constraints: Map[String, String] = Map.empty,
                            protocol: (Int, Int) = (1, 1)) {
    def files: Seq[String] = adds.map(_.file)
  }

  /** The protocol versions this engine implements. A table whose gate
    * exceeds them is refused loudly (reads at snapshot time, writes at
    * commit time) — the Delta protocol-versioning contract that stops
    * an old engine from silently misreading a table written with
    * features it does not know. */
  val SupportedReaderVersion = 1
  val SupportedWriterVersion = 1

  /** The TOMBSTONE BUDGET: the most live deletion-vector positions a
    * table may carry. Vectors are read and written in the driver
    * process ([[LakeDv]]), so the budget bounds the driver memory of
    * every DV'd scan plan and MoR write. It is enforced three times:
    * a merge-on-read WRITER collects at most `budget − live + 1`
    * positions and refuses before writing any file; [[commitAt]]
    * re-checks at a head that moved; a READER checks the log's
    * recorded vector sizes before opening one. Failing the write loudly
    * beats wedging every later scan until a compaction. Compaction and
    * copy-on-write rewrites purge vectors and free the budget. */
  private[graft] val MaxDvPositions = 10_000_000L

  /** The tombstone positions a MoR write adds: the `(__dv_file,
    * __dv_pos)` columns of `matched`, collected to the driver by ONE
    * Spark job (basename -> positions; empty when nothing matched). At
    * most `room + 1` positions come back, where `room` is what the
    * budget leaves over `snap`'s live vectors, so a write past it is
    * refused here — before any file is written — with the recovery
    * paths named. (`Dataset.limit` would cap the same way but scan the
    * partitions in growing waves, one job each.) */
  private def dvPositions(table: String, snap: Snapshot, matched: DataFrame,
                          maxPositions: Long): Map[String, Array[Long]] = {
    require(maxPositions < Int.MaxValue,
      s"tombstone budget $maxPositions exceeds a driver collect")
    val live = snap.dvs.map(_.rows).sum
    val room = math.max(0L, maxPositions - live)
    val cap = (room + 1).toInt
    val got = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    matched.sparkSession.sparkContext.runJob(
      matched.select(col("__dv_file"), col("__dv_pos")).rdd,
      (it: Iterator[org.apache.spark.sql.Row]) =>
        it.take(cap).map(r => (r.getString(0), r.getLong(1))).toArray,
      (_: Int, part: Array[(String, Long)]) => got ++= part.take(cap - got.size))
    if (got.size > room) throw new IllegalArgumentException(
      s"merge-on-read write refused: $table would carry more than " +
        s"$maxPositions live deletion-vector positions ($live live + at " +
        s"least ${got.size} new) — every later scan would pay (and the " +
        s"V2 reader refuse) that tombstone list; compact the table (purges " +
        s"vectors) or use the copy-on-write path for deletes/updates this large")
    got.groupBy(_._1).map { case (f, ps) => f -> ps.map(_._2).toArray }
  }

  private val LogDirName = "_graft_log"

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  private def logDir(table: String) = new Path(table, LogDirName)

  private def commitFile(table: String, v: Long) =
    new Path(logDir(table), f"$v%020d.json")

  // ------------------------------------------------------------------
  // log read side
  // ------------------------------------------------------------------

  private val VersionName = """^(\d{20})\.json$""".r
  private val CheckpointName = """^(\d{20})\.checkpoint\.json$""".r

  /** Committed versions, ascending. Dot-temp (staged) files are never
    * versions — only a published rename makes a commit exist; checkpoint
    * summaries and the vacuum-horizon marker are not versions either
    * (only exact `%020d.json` names count). */
  def listVersions(spark: SparkSession, table: String): Seq[Long] = {
    val dir = logDir(table)
    val fs = fsOf(spark, dir)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).iterator
      .map(_.getPath.getName)
      .collect { case VersionName(v) => v.toLong }
      .toSeq.sorted
  }

  /** Anchored to the END of the first line: [[tryPublish]] always
    * stamps `,"tsMs":N` as the LAST field before the closing brace, so
    * a foreign advisory object that happens to contain a `tsMs` key
    * (which the widened unknown-field tolerance legitimizes) can never
    * be mistaken for the publish stamp — an embedded object's digits
    * are followed by `}}`, never by a lone line-final `}`. */
  private val InCommitTsRe = ""","tsMs":(\d+)\}$""".r

  /** The LAST `keep` bytes of a file's first line. The stamp closes
    * line one by wire contract, so the tail carries it however long the
    * line grows (a large DV `dr` list, bloom or `sx` blob), and
    * resolution never reads past line one of a many-thousand-action
    * commit body. */
  private def firstLineTail(fs: FileSystem, p: Path, keep: Int = 64): String = {
    val in = new java.io.BufferedInputStream(fs.open(p))
    try {
      val ring = new Array[Byte](keep)
      var n = 0L
      var b = in.read()
      while (b >= 0 && b != '\n') { ring((n % keep).toInt) = b.toByte; n += 1; b = in.read() }
      val k = math.min(n, keep.toLong).toInt
      val tail = Array.tabulate(k)(i => ring(((n - k + i) % keep).toInt))
      new String(tail, UTF_8)
    } finally in.close()
  }

  /** The IN-COMMIT publish timestamp of one commit, when its writer
    * stamped one (`"tsMs"` closing the first action line —
    * [[tryPublish]]); None for pre-stamp logs. */
  def commitTimestamp(spark: SparkSession, table: String,
                      v: Long): Option[Long] = {
    val p = commitFile(table, v)
    InCommitTsRe.findFirstMatchIn(firstLineTail(fsOf(spark, p), p))
      .map(_.group(1).toLong)
  }

  /** The newest version PUBLISHED at or before `tsMillis` —
    * `TIMESTAMP AS OF` resolution. Each commit's publish time is its
    * IN-COMMIT stamp when present (travel answers then survive a log
    * copy/rsync/restore, which rewrites every mtime), falling back to
    * the commit file's mtime for pre-stamp commits — CAPPED by the
    * earliest stamp of any LATER commit, so a restored pre-stamp
    * prefix (whose mtimes jump to copy time) cannot poison the stamped
    * suffix's answers. The sequence then clamps monotonically
    * non-decreasing (a wall-clock step backwards between two writers
    * must not make a LATER version resolve before an earlier one —
    * Delta's ICT monotonicity rule, applied at read time). Refused
    * when the table's first commit is later than the asked time —
    * there was no table to read then. Driver-scale: one first-line
    * read per commit. */
  def versionAtTimestamp(spark: SparkSession, table: String,
                         tsMillis: Long): Long = {
    val vs = listVersions(spark, table)
    require(vs.nonEmpty, s"no committed snapshot in $table")
    val fs = fsOf(spark, logDir(table))
    val raw = vs.map(v => (v, commitTimestamp(spark, table, v)))
    // suffix-min of the stamps: each mtime-derived entry caps at one
    // tick BEFORE the earliest later stamp, so a restored pre-stamp
    // prefix collapses to "just before the stamped suffix" instead of
    // poisoning it (valid mtimes sit below the cap and stay exact)
    val capAfter = raw.scanRight(Long.MaxValue) {
      case ((_, st), acc) => math.min(st.getOrElse(Long.MaxValue), acc)
    }.tail
    var prev = Long.MinValue
    val eff = raw.zip(capAfter).map { case ((v, st), cap) =>
      val bound = if (cap == Long.MaxValue) cap else cap - 1
      val t = st.getOrElse(math.min(bound,
        fs.getFileStatus(commitFile(table, v)).getModificationTime))
      prev = math.max(prev, t)
      (v, prev)
    }
    val at = eff.filter(_._2 <= tsMillis)
    require(at.nonEmpty,
      s"$table has no commit at or before timestamp $tsMillis " +
        s"(the table's first commit is younger than the asked time)")
    at.last._1
  }

  /** Checkpointed versions, ascending (see [[checkpointLog]]). */
  def listCheckpoints(spark: SparkSession, table: String): Seq[Long] = {
    val dir = logDir(table)
    val fs = fsOf(spark, dir)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).iterator
      .map(_.getPath.getName)
      .collect { case CheckpointName(v) => v.toLong }
      .toSeq.sorted
  }

  /** Wire-format evolution contract: NEW fields are appended AFTER the
    * existing ones in [[actionJson]], and the trailing
    * unknown-field-tolerant tail below lets an engine of THIS build or
    * later skip fields it does not know (instead of dying with a
    * generic 'corrupt commit'). Tolerance is for ADVISORY fields only
    * (stats, sizes — ignoring them is merely less efficient); a field a
    * reader MUST understand to read correctly ships with a reader
    * protocol bump, which gates old engines with the purpose-built
    * message ([[SupportedReaderVersion]]). Unknown action KINDS stay
    * fatal — an unrecognized line could be a remove-like action whose
    * loss silently double-counts. Tolerated value shapes: strings WITH
    * escapes (a future advisory note containing `\"` must not brick
    * the parse), numbers (incl. fractions), booleans, null, and FLAT
    * objects/arrays (advisory structures nest at most one level by
    * wire-format contract — a deeper advisory payload must be
    * base64-wrapped the way `sx`/`pv64`/`dr` are). */
  private val UnknownFieldTail =
    """(?:,"[A-Za-z0-9_]+":(?:"(?:[^"\\]|\\.)*"|-?\d+(?:\.\d+)?|true|false|null|\{[^{}]*\}|\[[^\[\]]*\]))*"""
  private val ActionRe =
    ("""\{"a":"(add|remove|dv|schema)","f":"([^"]+)"(?:,"rows":(\d+))?(?:,"b":(\d+))?""" +
      """(?:,"c":"([^"]+)","min":(-?\d+),"max":(-?\d+))?""" +
      """(?:,"c2":"([^"]+)","min2":(-?\d+),"max2":(-?\d+))?""" +
      """(?:,"bc":"([^"]+)","bloom":"([A-Za-z0-9+/=]+)")?""" +
      """(?:,"sx":"([A-Za-z0-9+/=]+)")?""" +
      """(?:,"pc":"([^"]+)","pv(64)?":"([^"]*)")?""" +
      """(?:,"dr":"([A-Za-z0-9+/=]*)")?""" +
      """(?:,"bkc":"([^"]+)","bkn":(\d+),"bki":(\d+))?""" +
      UnknownFieldTail + """\}""").r
  private val TxnRe =
    ("""\{"a":"txn","app":"([^"]+)","id":(\d+)""" + UnknownFieldTail + """\}""").r

  private def actionJson(a: Action): String =
    if (a.add) {
      val stats =
        if (a.statsCol != null) s""","c":"${a.statsCol}","min":${a.lo},"max":${a.hi}"""
        else ""
      val stats2 =
        if (a.statsCol2 != null) s""","c2":"${a.statsCol2}","min2":${a.lo2},"max2":${a.hi2}"""
        else ""
      val bl =
        if (a.bloomCol != null) s""","bc":"${a.bloomCol}","bloom":"${a.bloom}""""
        else ""
      val sxs = if (a.sx != null) s""","sx":"${a.sx}"""" else ""
      // the VALUE is arbitrary user data (spark's hive-path unescape can
      // restore '"' or '\n') — base64-wrap it like expr64 does for
      // constraint exprs, so a hostile value can never break the line
      // format and brick every later parseActions; the COLUMN name comes
      // from a DataFrame schema, but validate it anyway
      val pv =
        if (a.pvCol == null) ""
        else {
          require(!a.pvCol.exists(ch => ch == '"' || ch == '\\' || ch < ' '),
            s"partition column name '${a.pvCol}' contains JSON-breaking characters")
          val b64 = java.util.Base64.getEncoder
            .encodeToString(a.pvValue.getBytes(UTF_8))
          s""","pc":"${a.pvCol}","pv64":"$b64""""
        }
      val kind = if (a.dv) "dv" else if (a.schema) "schema" else "add"
      val by = if (a.bytes >= 0) s""","b":${a.bytes}""" else ""
      val dr = if (a.refs != null) s""","dr":"${a.refs}"""" else ""
      val bk =
        if (a.bkCol == null) ""
        else {
          require(!a.bkCol.exists(ch => ch == '"' || ch == '\\' || ch < ' '),
            s"bucket column name '${a.bkCol}' contains JSON-breaking characters")
          s""","bkc":"${a.bkCol}","bkn":${a.bkN},"bki":${a.bkId}"""
        }
      s"""{"a":"$kind","f":"${a.file}","rows":${a.rows}$by$stats$stats2$bl$sxs$pv$dr$bk}"""
    } else s"""{"a":"remove","f":"${a.file}"}"""

  private def readFileText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      new String(out.toByteArray, UTF_8)
    } finally in.close()
  }

  /** Table-governance actions riding in commit bodies next to the file
    * actions: CHECK constraints (expr base64-wrapped — SQL text may
    * contain quotes) and the reader/writer PROTOCOL gate. */
  sealed trait Gov
  final case class GovConstraint(name: String, expr: String) extends Gov
  final case class GovUnconstraint(name: String) extends Gov
  final case class GovProtocol(reader: Int, writer: Int) extends Gov

  private val ConstraintRe =
    ("""\{"a":"constraint","name":"([^"]+)","expr64":"([A-Za-z0-9+/=]+)"""" +
      UnknownFieldTail + """\}""").r
  private val UnconstraintRe =
    ("""\{"a":"unconstraint","name":"([^"]+)"""" + UnknownFieldTail + """\}""").r
  private val ProtocolRe =
    ("""\{"a":"protocol","r":(\d+),"w":(\d+)""" + UnknownFieldTail + """\}""").r

  private[graft] def constraintLine(name: String, expr: String): String = {
    require(name.matches("[A-Za-z0-9_]+"), s"constraint name '$name' must be [A-Za-z0-9_]+")
    val b64 = java.util.Base64.getEncoder.encodeToString(expr.getBytes(UTF_8))
    s"""{"a":"constraint","name":"$name","expr64":"$b64"}"""
  }

  private def parseActions(table: String, what: String,
                           body: String): (Seq[Action], Seq[(String, Long)], Seq[Gov]) = {
    val acts = Seq.newBuilder[Action]
    val txns = Seq.newBuilder[(String, Long)]
    val govs = Seq.newBuilder[Gov]
    body.split("\n").iterator.filter(_.nonEmpty).foreach {
      case ActionRe(a, f, rows, by, c, mn, mx, c2, mn2, mx2, bc, bl, sxs, pc, pv64, pvv,
                    dr, bkc, bkn, bki) =>
        acts += Action(a != "remove", f, if (rows == null) 0L else rows.toLong,
          statsCol = c,
          lo = if (mn == null) 0L else mn.toLong,
          hi = if (mx == null) 0L else mx.toLong,
          dv = a == "dv", schema = a == "schema",
          statsCol2 = c2,
          lo2 = if (mn2 == null) 0L else mn2.toLong,
          hi2 = if (mx2 == null) 0L else mx2.toLong,
          bloomCol = bc, bloom = bl, pvCol = pc,
          // "pv64" is the current base64-wrapped form; bare "pv" survives
          // for logs written before the wrapping (values were then
          // restricted to JSON-safe characters by construction)
          pvValue =
            if (pvv == null) null
            else if (pv64 != null)
              new String(java.util.Base64.getDecoder.decode(pvv), UTF_8)
            else pvv,
          sx = sxs, bytes = if (by == null) -1L else by.toLong,
          refs = dr, bkCol = bkc,
          bkN = if (bkn == null) 0L else bkn.toLong,
          bkId = if (bki == null) -1L else bki.toLong)
      case TxnRe(app, id) => txns += ((app, id.toLong))
      case ConstraintRe(name, b64) => govs += GovConstraint(name,
        new String(java.util.Base64.getDecoder.decode(b64), UTF_8))
      case UnconstraintRe(name) => govs += GovUnconstraint(name)
      case ProtocolRe(r, w) => govs += GovProtocol(r.toInt, w.toInt)
      case bad => throw new IllegalArgumentException(
        s"corrupt $what of $table: unparseable action line '$bad'")
    }
    (acts.result(), txns.result(), govs.result())
  }

  /** Parse one commit's action lines (idempotence markers skipped).
    * Malformed lines fail loudly — a corrupt log must never silently
    * drop a remove (double-count). */
  def readCommit(spark: SparkSession, table: String, v: Long): Seq[Action] = {
    val p = commitFile(table, v)
    parseActions(table, s"commit $v", readFileText(fsOf(spark, p), p))._1
  }

  /** The (app, batchId) idempotence markers of one commit. */
  def readTxnMarkers(spark: SparkSession, table: String,
                     v: Long): Seq[(String, Long)] = {
    val p = commitFile(table, v)
    parseActions(table, s"commit $v", readFileText(fsOf(spark, p), p))._2
  }

  /** The live file set at `asOf` (default: latest). The fold starts
    * from the newest CHECKPOINT ≤ asOf when one exists (see
    * [[checkpointLog]]) and replays only the commits after it —
    * Θ(commits since checkpoint), not Θ(table lifetime). Driver-scale
    * either way. */
  def snapshot(spark: SparkSession, table: String,
               asOf: Option[Long] = None): Snapshot = {
    val all = listVersions(spark, table)
    val vs = asOf.fold(all)(a => all.filter(_ <= a))
    require(vs.nonEmpty,
      s"no committed snapshot in $table" + asOf.fold("")(a => s" at version <= $a"))
    // plan-time retention gate: a version below the vacuum horizon may
    // have lost files — refuse HERE, loudly, never mid-scan FileNotFound
    vacuumHorizon(spark, table).foreach(h => require(vs.last >= h,
      s"version ${vs.last} of $table predates the vacuum retention " +
        s"horizon $h: its files may have been deleted (time travel " +
        s"older than the last vacuum's retained window is gone by design)"))
    val cp = listCheckpoints(spark, table).filter(_ <= vs.last).lastOption
    val live = new scala.collection.mutable.LinkedHashMap[String, Action]
    val liveDv = new scala.collection.mutable.LinkedHashMap[String, Action]
    var schemaFile: Option[String] = None
    val constraints = new scala.collection.mutable.LinkedHashMap[String, String]
    var protocol = (1, 1)
    def fold(a: Action): Unit =
      if (a.add) {
        if (a.dv) liveDv += a.file -> a
        else if (a.schema) schemaFile = Some(a.file) // latest governs
        else live += a.file -> a
      }
      else { live -= a.file; liveDv -= a.file } // paths disjoint (data/ vs dv/)
    def foldGov(g: Gov): Unit = g match {
      case GovConstraint(n, e) => constraints += n -> e
      case GovUnconstraint(n) => constraints -= n
      case GovProtocol(r, w) => protocol = (r, w)
    }
    cp.foreach { cv =>
      val p = new Path(logDir(table), f"$cv%020d.checkpoint.json")
      val (acts, _, govs) =
        parseActions(table, s"checkpoint $cv", readFileText(fsOf(spark, p), p))
      acts.foreach(a => if (a.add) fold(a))
      govs.foreach(foldGov)
    }
    for (v <- vs if cp.forall(v > _)) {
      val p = commitFile(table, v)
      val (acts, _, govs) =
        parseActions(table, s"commit $v", readFileText(fsOf(spark, p), p))
      acts.foreach(fold)
      govs.foreach(foldGov)
    }
    require(protocol._1 <= SupportedReaderVersion,
      s"$table requires reader protocol version ${protocol._1}; this engine " +
        s"implements $SupportedReaderVersion — refusing rather than misreading")
    Snapshot(vs.last, live.values.toSeq, liveDv.values.toSeq, schemaFile,
      constraints.toMap, protocol)
  }

  /** Write a checkpoint summarizing the CURRENT snapshot: the full live
    * file set at the latest version, atomically published as
    * `<v>.checkpoint.json`. Readers then fold only the commits AFTER it
    * — the Delta checkpoint-parquet idea reduced to its load-bearing
    * core, keeping snapshot() O(Δ) as the log grows into the thousands
    * of commits a streaming ingest produces. Returns the checkpointed
    * version. */
  def checkpointLog(spark: SparkSession, table: String): Long = {
    val snap = snapshot(spark, table)
    val dest = new Path(logDir(table), f"${snap.version}%020d.checkpoint.json")
    val fs = fsOf(spark, dest)
    // full actions, not bare file names: row counts, skipping stats,
    // deletion vectors, the governing schema AND the governance state
    // (constraints, protocol) must survive a checkpointed fold
    val govLines =
      snap.constraints.map { case (n, e) => constraintLine(n, e) }.toSeq ++
        (if (snap.protocol != (1, 1))
          Seq(s"""{"a":"protocol","r":${snap.protocol._1},"w":${snap.protocol._2}}""")
        else Nil)
    val body = ((snap.adds ++ snap.dvs ++
      snap.schemaFile.map(f => Action(add = true, f, 0L, schema = true)).toSeq)
      .map(actionJson) ++ govLines).mkString("\n")
    val tmp = new Path(dest.getParent,
      s".tmp-${java.util.UUID.randomUUID.toString.take(8)}")
    val out = fs.create(tmp, false)
    try out.write(body.getBytes(UTF_8)) finally out.close()
    require(fs.rename(tmp, dest), s"atomic checkpoint publish failed at $dest")
    snap.version
  }

  /** The MERGE-ON-READ scan of a snapshot's pinned files: a plain
    * distributed parquet scan when no deletion vector is live;
    * otherwise the scan (with `_metadata` file/position columns) anti-
    * joins the broadcast-scale union of live DVs on (file basename,
    * row position) — deleted rows melt away at read time without any
    * data file having been rewritten. User predicates still push down
    * to the data scan; the DV side is small by the MoR contract (big
    * deletes should compact, which purges DVs). */
  /** The file scan under the snapshot's GOVERNING schema: when a schema
    * action is pinned, the read declares it (files lacking a column
    * null-fill it — evolution without rewrites, zero footer merging);
    * otherwise the plain parquet-inferred schema rules. PARTITION-AWARE:
    * files whose add action carries a partition value scan WITHOUT that
    * column (it physically isn't in them) and get it reinjected as a
    * per-group literal, so EVERY reader — plain reads, compaction,
    * CDC merges, optimize, deletes — sees the full logical schema, not
    * just [[readPartitions]]. `withMeta` attaches the (__dv_file,
    * __dv_pos) key columns INSIDE each group scan (hidden `_metadata`
    * does not survive a union). */
  private def baseScan(spark: SparkSession, table: String,
                       snap: Snapshot, files: Seq[String],
                       withMeta: Boolean = false): DataFrame = {
    val byFile = snap.adds.map(a => a.file -> a).toMap
    val acts = files.map(f => byFile.getOrElse(f, Action(add = true, f, 0L)))
    val declared = tableSchema(spark, table, snap)
    val groups = acts.groupBy(a => (Option(a.pvCol), Option(a.pvValue)))
      .toSeq.sortBy(_._1)
    val scans = groups.map { case ((pcO, pvO), as) =>
      val paths = as.map(a => s"$table/${a.file}")
      val schemaForScan = declared.map(st => pcO.fold(st)(pc =>
        org.apache.spark.sql.types.StructType(st.fields.filterNot(_.name == pc))))
      val plain = schemaForScan match {
        case Some(st) => spark.read.schema(st).parquet(paths: _*)
        case None => spark.read.parquet(paths: _*)
      }
      val withM =
        if (!withMeta) plain
        else plain
          .withColumn("__dv_file",
            substring_index(col("_metadata.file_path"), "/", -1))
          .withColumn("__dv_pos", col("_metadata.row_index"))
      pcO.fold(withM)(pc => withM.withColumn(pc, lit(pvO.get)))
    }
    scans.reduce(_ unionByName _)
  }

  private def scanWithDvs(spark: SparkSession, table: String,
                          snap: Snapshot, files: Seq[String]): DataFrame =
    if (snap.dvs.isEmpty) baseScan(spark, table, snap, files)
    else scanWithDvsMeta(spark, table, snap, files)
      .drop("__dv_file", "__dv_pos")

  /** Snapshot read — latest by default, or time travel to `asOf`. The
    * result is a distributed parquet scan over the pinned file list
    * (pushdown/pruning untouched), merge-on-read filtered through any
    * live deletion vectors. */
  def read(spark: SparkSession, table: String,
           asOf: Option[Long] = None): DataFrame = {
    val snap = snapshot(spark, table, asOf)
    require(snap.files.nonEmpty, s"snapshot ${snap.version} of $table is empty")
    scanWithDvs(spark, table, snap, snap.files)
  }

  // ------------------------------------------------------------------
  // write side
  // ------------------------------------------------------------------

  /** Row count — and, when `statsCol` is non-null, its INT64 min/max —
    * from one staged file's parquet FOOTER (never a data scan): the
    * write-time skipping stats recorded into the add action. Blocks
    * with absent/empty/all-null stats contribute nothing; a file whose
    * every block lacks stats fails loudly rather than recording a lie. */
  private[graft] def footerAction(spark: SparkSession, root: Path, rel: String,
                           statsCol: String, statsCol2: String = null): Action =
    footerActionConf(spark.sessionState.newHadoopConf(), root.toString, rel,
      statsCol, statsCol2)

  private def footerActionConf(conf: org.apache.hadoop.conf.Configuration,
                               root: String, rel: String,
                               statsCol: String, statsCol2: String): Action = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new Path(root, rel), conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val rows = r.getRecordCount
      val bytes = in.getLength // file size: the log-level stats planners read
      if (statsCol == null) Action(add = true, rel, rows, bytes = bytes)
      else {
        val want = Seq(statsCol) ++ Option(statsCol2).toSeq
        val lo = Array.fill(want.size)(Long.MaxValue)
        val hi = Array.fill(want.size)(Long.MinValue)
        // every non-empty block must contribute its min/max: a block
        // with rows but absent stats silently excluded from the band
        // would let pruning skip a file that holds matching rows —
        // fail loudly instead of recording a narrowed (lying) band
        val complete = Array.fill(want.size)(true)
        r.getFooter.getBlocks.forEach { b =>
          b.getColumns.forEach { c =>
            val k = want.indexOf(c.getPath.toDotString)
            if (k >= 0) {
              val s = c.getStatistics
              if (s == null || s.isEmpty) {
                if (b.getRowCount > 0) complete(k) = false
              } else if (s.hasNonNullValue) {
                (s.genericGetMin, s.genericGetMax) match {
                  case (mn: java.lang.Long, mx: java.lang.Long) =>
                    lo(k) = math.min(lo(k), mn); hi(k) = math.max(hi(k), mx)
                  case (mn, _) => throw new IllegalArgumentException(
                    s"log stats support INT64 columns only; '${want(k)}' " +
                      s"footer stats are ${mn.getClass.getName} in $rel")
                }
              } else if (b.getRowCount > 0 &&
                (!s.isNumNullsSet || s.getNumNulls != b.getRowCount)) {
                complete(k) = false // not provably all-null: unknown values
              }
            }
          }
        }
        want.indices.foreach(k => require(
          rows == 0 || (complete(k) && lo(k) <= hi(k)),
          s"no usable footer stats for '${want(k)}' in $rel"))
        val one = Action(add = true, rel, rows, statsCol = statsCol,
          lo = lo(0), hi = hi(0), bytes = bytes)
        if (statsCol2 == null) one
        else one.copy(statsCol2 = statsCol2, lo2 = lo(1), hi2 = hi(1))
      }
    } finally r.close()
  }

  /** Small batches read footers on the driver (a Spark job has fixed
    * overhead); above this, the reads distribute. */
  private val DriverFooterCap = 16

  /** Footer actions for MANY files in one distributed pass. A driver
    * loop serializes N object-store footer reads — at 10k staged files
    * × ~50 ms per round trip that is minutes of driver stall; executors
    * fetch them in parallel instead (order preserved: `parallelize`
    * keeps element order through collect). Each read is metadata-only
    * (the footer, not the data). */
  private def footerActions(spark: SparkSession, root: Path, rels: Seq[String],
                            statsCol: String = null,
                            statsCol2: String = null): Seq[Action] =
    if (rels.size <= DriverFooterCap)
      rels.map(footerAction(spark, root, _, statsCol, statsCol2))
    else {
      val conf = ShippedConf(spark)
      val rootStr = root.toString
      spark.sparkContext
        .parallelize(rels, math.min(rels.size, 64))
        .map(rel => footerActionConf(conf.value.value, rootStr, rel, statsCol, statsCol2))
        .collect().toSeq
    }

  /** Stage `df` as immutable data files under `data/` and return their
    * add actions (relative path + footer row count; per-file min/max of
    * `statsCol` when given — the log-level data-skipping record).
    * Staged files are INVISIBLE until some commit pins them. */
  /** A write whose rows violate a live CHECK constraint. Thrown BEFORE
    * any file is written — a violating batch leaves no trace. */
  final class ConstraintViolationException(msg: String) extends RuntimeException(msg)

  /** Enforce the snapshot's CHECK constraints on a batch about to stage
    * (SQL CHECK semantics: a row violates only when the expression is
    * FALSE — NULL passes). One filter-count job per constraint; the
    * Delta invariant-check shape. */
  private def enforceConstraints(spark: SparkSession, df: DataFrame,
                                 table: String): Unit = {
    if (listVersions(spark, table).isEmpty) return
    snapshot(spark, table).constraints.foreach { case (name, e) =>
      val bad = df.filter(not(coalesce(expr(e).cast("boolean"), lit(true))))
      if (!bad.isEmpty) throw new ConstraintViolationException(
        s"CHECK constraint '$name' ($e) violated by the batch being " +
          s"written to $table — nothing was staged or committed")
    }
  }

  private[graft] def stage(spark: SparkSession, df: DataFrame,
                           table: String,
                           statsCol: String = null,
                           statsCol2: String = null): Seq[Action] = {
    enforceConstraints(spark, df, table)
    val root = new Path(table)
    val fs = fsOf(spark, root)
    val batch = java.util.UUID.randomUUID.toString.replace("-", "").take(12)
    val tmp = new Path(root, s".stage-$batch")
    df.write.parquet(tmp.toString)
    fs.mkdirs(new Path(root, "data"))
    val parts = fs.listStatus(tmp)
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
      .sortBy(_.getPath.getName)
    val rels = parts.zipWithIndex.map { case (s, i) =>
      val rel = s"data/$batch-$i.parquet"
      require(fs.rename(s.getPath, new Path(root, rel)),
        s"failed to stage ${s.getPath} as $rel")
      rel
    }.toSeq
    fs.delete(tmp, true)
    footerActions(spark, root, rels, statsCol, statsCol2)
  }

  /** Wire form of a deletion vector's REFERENCED data-file basenames
    * (`"dr"`, base64 of the newline-joined sorted list): the log-only
    * record of which files a vector's positions point into. Two uses,
    * both metadata-only: [[commitAt]] conflicts two concurrent DV
    * commits that touch a shared file (a lost delete / double tombstone
    * otherwise), and the COUNT(*) pushdown verifies from the log alone
    * that no live vector carries STALE positions (a partially-covered
    * vector surviving a rewrite references removed files — subtracting
    * its raw cardinality would undercount). Advisory field: an engine
    * without it still reads correctly (the content path keys positions
    * by live basename), it just refuses the metadata fast paths. */
  private[graft] def encodeDvRefs(basenames: Seq[String]): String =
    java.util.Base64.getEncoder.encodeToString(
      basenames.distinct.sorted.mkString("\n").getBytes(UTF_8))

  /** The referenced basenames of a DV add, when recorded (None for
    * vectors written before the `"dr"` field or by foreign engines —
    * callers must treat unknown refs conservatively). */
  private[graft] def decodeDvRefs(a: Action): Option[Seq[String]] =
    Option(a.refs).map(r =>
      new String(java.util.Base64.getDecoder.decode(r), UTF_8)
        .split("\n").toSeq.filter(_.nonEmpty))

  /** Publish files a V2 writer staged, as ONE atomic commit: CHECK
    * constraints are enforced against the staged content first (a
    * violating write deletes its staged files and aborts — nothing
    * pins), then the files rename into `data/` with footer row counts
    * recorded. The V2 connector's write-side commit.
    *
    * `marker` makes the commit an EXACTLY-ONCE streaming epoch: the
    * commit carries the `(app, batchId)` txn line, a replayed epoch
    * finds its marker already committed and skips (staged files
    * deleted, -1 returned), and two replays racing the same id resolve
    * through the put-if-absent claim — exactly
    * [[appendBatchCommit]]'s contract, driven by the native V2
    * streaming sink instead of foreachBatch. */
  private[graft] def commitStagedV2(spark: SparkSession, table: String,
                                    staged: Seq[String],
                                    marker: Option[(String, Long)] = None,
                                    pvCol: String = null,
                                    pvByFile: Map[String, String] = Map.empty): Long = {
    require(staged.nonEmpty, "empty V2 write: no staged files")
    val root = new Path(table)
    val fs = fsOf(spark, root)
    def dropStaged(): Unit =
      staged.foreach(s => fs.delete(new Path(root, s), false))
    if (marker.exists(m => committedBatchIds(spark, table).contains(m))) {
      dropStaged() // replayed epoch: already landed, nothing to do
      return -1L
    }
    checkWriterProtocol(spark, table)
    if (listVersions(spark, table).nonEmpty) {
      val cs = snapshot(spark, table).constraints
      if (cs.nonEmpty) {
        val df = spark.read.parquet(staged.map(s => new Path(root, s).toString): _*)
        cs.foreach { case (name, e) =>
          val bad = df.filter(not(coalesce(expr(e).cast("boolean"), lit(true))))
          if (!bad.isEmpty) {
            dropStaged()
            throw new ConstraintViolationException(
              s"CHECK constraint '$name' ($e) violated by the V2 write to " +
                s"$table — staged files deleted, nothing committed")
          }
        }
      }
    }
    val batch = java.util.UUID.randomUUID.toString.replace("-", "").take(12)
    fs.mkdirs(new Path(root, "data"))
    val rels = staged.zipWithIndex.map { case (s, i) =>
      val rel = s"data/$batch-$i.parquet"
      require(fs.rename(new Path(root, s), new Path(root, rel)),
        s"failed to publish staged $s as $rel")
      rel
    }
    // partitioned-table writes stamp each add action with the file's
    // partition value (the column is physically absent from the file) —
    // positional: rels(i) came from staged(i)
    val adds = footerActions(spark, root, rels).zip(staged).map {
      case (act, orig) =>
        if (pvCol == null) act
        else act.copy(pvCol = pvCol,
          pvValue = pvByFile.getOrElse(orig,
            throw new IllegalStateException(
              s"staged file $orig of partitioned $table carries no " +
                s"partition value")))
    }
    marker match {
      case None => commit(spark, table, adds, Nil)
      case Some((app, id)) =>
        // the marker re-check runs on EVERY claim attempt: a racing
        // replay that won leaves its marker, this one skips (its
        // published-but-unpinned files are invisible, vacuumed later)
        var attempt = 0
        while (attempt < 100) {
          if (committedBatchIds(spark, table).contains((app, id))) return -1L
          val latest = listVersions(spark, table).lastOption.getOrElse(-1L)
          if (tryPublish(spark, table, latest + 1, adds, Nil,
            Seq(s"""{"a":"txn","app":"$app","id":$id}""")))
            return latest + 1
          attempt += 1
        }
        throw new CommitConflictException(
          s"gave up claiming a version in $table for ($app, $id)")
    }
  }

  /** REPLACE-DATA commit for SQL row-level operations (UPDATE/MERGE/
    * rewrite-DELETE): the staged rewritten rows publish as ONE atomic
    * commit removing exactly `removes` — the files the rewrite scan
    * planned at `readVersion`. Conflict contract is [[commitAt]]'s
    * WriteSerializable: an interleaved rewrite of any replaced file
    * aborts (never a silent lost update), interleaved appends commute.
    * CHECK constraints validate the staged content first; a
    * delete-everything rewrite may stage nothing (pure remove). */
  /** Deletion-vector bookkeeping for a commit removing `removedBase`:
    * a vector referencing ONLY removed files unpins (the rewrite
    * materialized its tombstones — keeping it would demote aggregate
    * pushdown and inflate every later scan forever), and a PARTIALLY-
    * covered vector SHRINKS — its surviving positions restage as a
    * fresh vector (refs updated) and the stale original unpins — so NO
    * live vector ever references a removed file. That keeps the
    * log-only exactness invariant (`LakeDv.rawRowsExact`) alive across
    * copy-on-write rewrites: the pushed COUNT(*) stays on the raw-sum
    * fast path and no reader ever carries stale positions. Refs come
    * from the log when recorded (`"dr"`), else from the vector itself;
    * vectors are read and shrunk on the driver ([[LakeDv]]). Returns
    * (shrunk vector adds, vector removes) for the SAME atomic commit. */
  private def rewriteDvs(spark: SparkSession, table: String,
                         dvs: Seq[Action],
                         removedBase: Set[String]): (Seq[Action], Seq[String]) =
    if (dvs.isEmpty || removedBase.isEmpty) (Nil, Nil)
    else {
      val conf = spark.sessionState.newHadoopConf()
      val adds = Seq.newBuilder[Action]
      val removes = Seq.newBuilder[String]
      dvs.foreach { a =>
        lazy val positions = LakeDv.read(conf, table, a.file)
        val refs = decodeDvRefs(a).getOrElse(positions.keys.toSeq)
        if (refs.exists(removedBase)) {
          removes += a.file
          val surviving = positions.filter { case (f, _) => !removedBase(f) }
          if (surviving.nonEmpty) adds += LakeDv.write(spark, table, surviving)
        }
      }
      (adds.result(), removes.result())
    }

  private[graft] def baseName(rel: String): String =
    rel.substring(rel.lastIndexOf('/') + 1)

  /** `pvCol`/`pvByFile`: on PARTITIONED tables the rewrite's staged
    * files come per partition value with the column physically absent —
    * each published add stamps its value, keeping the hive invariant
    * through UPDATE/MERGE. */
  private[graft] def replaceFilesCommit(spark: SparkSession, table: String,
                                        staged: Seq[String], readVersion: Long,
                                        removes: Seq[String],
                                        pvCol: String = null,
                                        pvByFile: Map[String, String] = Map.empty): Long = {
    require(staged.nonEmpty || removes.nonEmpty, "empty replace-data commit")
    val root = new Path(table)
    val fs = fsOf(spark, root)
    var shrunk: Seq[Action] = Nil // tracked for cleanup on ANY failure
    def dropStaged(): Unit = {
      staged.foreach(s => fs.delete(new Path(root, s), false))
      dropAdds(spark, table, shrunk)
    }
    try {
      checkWriterProtocol(spark, table)
      val snap = snapshot(spark, table)
      if (staged.nonEmpty && snap.constraints.nonEmpty) {
        val df = spark.read.parquet(staged.map(s => new Path(root, s).toString): _*)
        snap.constraints.foreach { case (name, e) =>
          val bad = df.filter(not(coalesce(expr(e).cast("boolean"), lit(true))))
          if (!bad.isEmpty) throw new ConstraintViolationException(
            s"CHECK constraint '$name' ($e) violated by the rewrite of " +
              s"$table — staged files deleted, nothing committed")
        }
      }
      // a rewrite MATERIALIZES the deletion vectors its scan applied:
      // fully-covered vectors unpin, partially-covered ones shrink —
      // after this commit no live vector references a removed file
      val (dvAdds, dvRemoves) = rewriteDvs(spark, table, snap.dvs,
        removes.map(baseName).toSet)
      shrunk = dvAdds
      val batch = java.util.UUID.randomUUID.toString.replace("-", "").take(12)
      fs.mkdirs(new Path(root, "data"))
      val rels = staged.zipWithIndex.map { case (s, i) =>
        val rel = s"data/$batch-$i.parquet"
        require(fs.rename(new Path(root, s), new Path(root, rel)),
          s"failed to publish staged $s as $rel")
        rel
      }
      val adds = footerActions(spark, root, rels).zip(staged).map {
        case (act, orig) =>
          if (pvCol == null) act
          else act.copy(pvCol = pvCol,
            pvValue = pvByFile.getOrElse(orig,
              throw new IllegalStateException(
                s"staged rewrite file $orig of partitioned $table carries " +
                  s"no partition value")))
      }
      commitAt(spark, table, readVersion, adds ++ dvAdds,
        removes ++ dvRemoves)
    } catch {
      case t: Throwable => dropStaged(); throw t
    }
  }

  /** OVERWRITE through the V2 connector: ONE atomic commit that removes
    * the doomed file set and adds the staged replacement. Two scopes:
    *  - `scope = None`: truncate-and-append (`mode("overwrite")`) —
    *    every live data file AND deletion vector unpins; the governing
    *    schema and constraints survive (they are not data).
    *  - `scope = Some((col, values))`: partition-scoped replaceWhere —
    *    only files whose LOG-recorded partition value of `col` is in
    *    `values` unpin. Every live file must carry a partition value
    *    for `col` (file-level replacement is only exact on a
    *    partitioned table), and the staged rows must all fall inside
    *    the scope (Delta's replaceWhere validation). Single-value
    *    scopes stamp the replacement files with that partition value,
    *    preserving the partitioned-table invariant.
    *
    * Conflict contract is STRICT for overwrites: any commit interleaved
    * after `readVersion` (even a pure append — its rows would be
    * silently erased by the blind remove-all) aborts with
    * [[CommitConflictException]]; staged files are deleted on abort. */
  /** `pvByFile` (staged rel → partition value) arrives from the
    * partition-splitting writer on PARTITIONED tables: the staged files
    * physically lack the scope column, so scope validation checks the
    * writer-recorded values and each published add action stamps its
    * own value — the hive `INSERT OVERWRITE ... PARTITION (pc='v')`
    * shape on the commit log. */
  private[graft] def overwriteStagedV2(spark: SparkSession, table: String,
                                       staged: Seq[String], readVersion: Long,
                                       scope: Option[(String, Seq[String])],
                                       pvByFile: Map[String, String] = Map.empty): Long = {
    require(staged.nonEmpty, "empty V2 overwrite: no staged files")
    val root = new Path(table)
    val fs = fsOf(spark, root)
    var shrunkTracked: Seq[Action] = Nil // cleanup on ANY failure
    def dropStaged(): Unit = {
      staged.foreach(s => fs.delete(new Path(root, s), false))
      dropAdds(spark, table, shrunkTracked)
    }
    try {
      if (listVersions(spark, table).isEmpty) {
        // overwriting a table that does not exist yet IS the bootstrap
        require(scope.isEmpty, "scoped overwrite of a nonexistent table")
        return commitStagedV2(spark, table, staged)
      }
      checkWriterProtocol(spark, table)
      val snap = snapshot(spark, table, Some(readVersion).filter(_ >= 0))
      val stagedDf =
        spark.read.parquet(staged.map(s => new Path(root, s).toString): _*)
      snap.constraints.foreach { case (name, e) =>
        val bad = stagedDf.filter(not(coalesce(expr(e).cast("boolean"), lit(true))))
        if (!bad.isEmpty) throw new ConstraintViolationException(
          s"CHECK constraint '$name' ($e) violated by the overwrite of " +
            s"$table — staged files deleted, nothing committed")
      }
      val (removes, shrunkDvs, stampPv) = scope match {
        case None =>
          (snap.files ++ snap.dvs.map(_.file), Seq.empty[Action], None)
        case Some((pc, values)) =>
          val unpartitioned = snap.adds.filter(_.pvCol != pc)
          require(unpartitioned.isEmpty,
            s"scoped overwrite of $table needs every live file partitioned " +
              s"by '$pc'; ${unpartitioned.size} file(s) are not — file-level " +
              s"replacement would be inexact")
          if (pvByFile.nonEmpty) {
            // partition-split staged files: the writer recorded each
            // file's value; rows outside the scope cannot exist in a
            // file whose value is in it
            val missing = staged.filterNot(pvByFile.contains)
            require(missing.isEmpty,
              s"staged file(s) ${missing.mkString(", ")} carry no partition value")
            val outside = staged.filterNot(s => values.contains(pvByFile(s)))
            if (outside.nonEmpty) throw new ConstraintViolationException(
              s"overwrite scope $pc IN (${values.mkString(", ")}) of $table: " +
                s"replacement rows land in partition(s) " +
                s"${outside.map(pvByFile).distinct.mkString(", ")} outside the " +
                s"scope — nothing committed")
          } else {
            val outside = stagedDf.filter(col(pc).isNull || !col(pc).isin(values: _*))
            if (!outside.isEmpty) throw new ConstraintViolationException(
              s"overwrite scope $pc IN (${values.mkString(", ")}) of $table: " +
                s"the replacement rows reach outside the scope — nothing committed")
          }
          val doomed = snap.adds.filter(a => values.contains(a.pvValue)).map(_.file)
          // fully-covered vectors unpin, partially-covered ones shrink
          val (dvAdds, dvRemoves) = rewriteDvs(spark, table, snap.dvs,
            doomed.map(baseName).toSet)
          (doomed ++ dvRemoves, dvAdds,
            if (values.size == 1) Some((pc, values.head)) else None)
      }
      shrunkTracked = shrunkDvs
      val batch = java.util.UUID.randomUUID.toString.replace("-", "").take(12)
      fs.mkdirs(new Path(root, "data"))
      val rels = staged.zipWithIndex.map { case (s, i) =>
        val rel = s"data/$batch-$i.parquet"
        require(fs.rename(new Path(root, s), new Path(root, rel)),
          s"failed to publish staged $s as $rel")
        rel
      }
      val adds = footerActions(spark, root, rels).zip(staged).map {
        case (act, orig) =>
          if (pvByFile.nonEmpty)
            act.copy(pvCol = scope.get._1, pvValue = pvByFile(orig))
          else stampPv.fold(act) { case (pc, v) =>
            act.copy(pvCol = pc, pvValue = v) }
      }
      val latest = listVersions(spark, table).lastOption.getOrElse(-1L)
      if (latest != readVersion || !tryPublish(spark, table, readVersion + 1,
        adds ++ shrunkDvs, removes)) {
        // the replacement files are published-but-unpinned: delete them
        // here (they are known and invisible) rather than leak to vacuum
        (adds ++ shrunkDvs).foreach(a => fs.delete(new Path(root, a.file), false))
        throw new CommitConflictException(
          s"overwrite conflict in $table: the table advanced past read " +
            s"version $readVersion while the overwrite ran — a blind " +
            s"remove-all would erase the interleaved commit's rows; recompute")
      }
      readVersion + 1
    } catch {
      case t: Throwable => dropStaged(); throw t
    }
  }

  /** A losing optimistic commit whose base was invalidated: an
    * interleaved commit already removed files this rewrite unpins, so a
    * blind re-publish would resurrect deleted data. The caller must
    * recompute against the new snapshot. */
  final class CommitConflictException(msg: String) extends RuntimeException(msg)

  /** PUT-IF-ABSENT of one commit file — the real multi-writer log-store
    * primitive (the Delta LogStore contract). The body is fully written
    * to a dot-temp name first; the claim itself is:
    *  - local filesystems: a POSIX hard link (`link(2)` fails atomically
    *    with EEXIST — no check-then-act window, unlike HDFS-style
    *    `rename` which plain `File.renameTo` maps to an OVERWRITING
    *    `rename(2)` locally);
    *  - everything else: rename-no-overwrite, the documented contract of
    *    HDFS (namenode-atomic) and conditional-put object stores.
    * Returns false iff version `v` was already claimed — the loser
    * re-reads the log, re-validates, and retries at the new head. */
  private[graft] def tryPublish(spark: SparkSession, table: String, v: Long,
                                adds: Seq[Action],
                                removes: Seq[String],
                                extraLines: Seq[String] = Nil): Boolean = {
    val dest = commitFile(table, v)
    val fs = fsOf(spark, dest)
    fs.mkdirs(dest.getParent)
    // IN-COMMIT publish timestamp (Delta's in-commit-timestamp shape):
    // stamped as an ADVISORY field on the first action line — inside
    // the tolerated unknown-field tail, so engines without it parse the
    // commit unchanged — making TIMESTAMP AS OF survive a log
    // copy/rsync/restore, which silently rewrites every file mtime.
    // Resolution falls back to mtime for pre-stamp logs.
    val lines = adds.map(actionJson) ++
      removes.map(f => s"""{"a":"remove","f":"$f"}""") ++ extraLines
    val stamped = lines match {
      case head +: tail if head.endsWith("}") =>
        (head.dropRight(1) +
          s""","tsMs":${System.currentTimeMillis()}}""") +: tail
      case other => other
    }
    val body = stamped.mkString("\n")
    val tmp = new Path(dest.getParent,
      s".tmp-${java.util.UUID.randomUUID.toString.take(8)}")
    val out = fs.create(tmp, false)
    try out.write(body.getBytes(UTF_8)) finally out.close()
    if (dest.toUri.getScheme == null || dest.toUri.getScheme == "file") {
      val nioTmp = java.nio.file.Paths.get(tmp.toUri.getPath)
      val claimed =
        try { java.nio.file.Files.createLink(
          java.nio.file.Paths.get(dest.toUri.getPath), nioTmp); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      fs.delete(tmp, false)
      claimed
    } else {
      val claimed = !fs.exists(dest) && fs.rename(tmp, dest)
      if (!claimed) fs.delete(tmp, false)
      claimed
    }
  }

  /** tryPublish-or-throw (exposed for LakeTxnSpec's staged half-commit
    * and collision-injection tests). */
  private[graft] def publish(spark: SparkSession, table: String, v: Long,
                             adds: Seq[Action],
                             removes: Seq[String],
                             extraLines: Seq[String] = Nil): Unit =
    require(tryPublish(spark, table, v, adds, removes, extraLines),
      s"commit conflict: version $v already exists")

  /** OPTIMISTIC multi-writer commit against the snapshot the caller
    * computed at `readVersion`: claim head+1 via [[tryPublish]]; a loser
    * re-reads the log and re-validates before retrying. Validation is
    * the Delta WriteSerializable contract:
    *  - pure appends (`removes` empty, no metadata) commute with
    *    everything — always safe to retry at the new head;
    *  - a copy-on-write rewrite (`removes` non-empty) aborts with
    *    [[CommitConflictException]] if any interleaved commit already
    *    removed one of its base files (re-publishing would resurrect
    *    data a concurrent compaction/merge deleted), OR added a
    *    deletion vector (the rewrite's content was computed without the
    *    new tombstones — publishing would resurrect them); interleaved
    *    plain APPENDS pass — they touch no file this rewrite read;
    *  - `readDeps` names files whose CONTENT this commit depends on
    *    without removing them (a merge-on-read tombstone references row
    *    positions of the file it read): an interleaved removal of any
    *    aborts — the positions would point into a file a rewrite
    *    already replaced;
    *  - a DELETION-VECTOR commit aborts if an interleaved commit added
    *    a vector referencing ANY of the same data files (refs from the
    *    `"dr"` field; unknown refs on either side abort conservatively):
    *    two MoR writers from one snapshot would otherwise both land —
    *    overlapping predicates double-tombstone a row (undercounting
    *    the log-answered COUNT(*)) and an update racing a delete
    *    re-appends a row the delete tombstoned (a lost delete). The
    *    loser recomputes from the fresh head, where the MoR scan
    *    already excludes the winner's tombstones — naturally
    *    duplicate-free. Vectors on DISJOINT files commute;
    *  - a DV commit landing at a head that moved also re-checks the
    *    TOMBSTONE BUDGET (`dvBudget`) against the head's live vectors:
    *    without this, two concurrent MoR writers each under budget at
    *    their own read version jointly push the table past it and wedge
    *    every later scan at the read-side guard. The head's vectors are
    *    the live vectors at `readVersion` (one log fold per call) plus
    *    the interleaved commits the loop already parsed;
    *  - a METADATA commit (schema action, constraint, protocol) aborts
    *    if any interleaved metadata commit landed: two concurrent ALTER
    *    TABLEs both compute from the same base, and last-writer-wins
    *    would silently drop the other's change (the lost-update the
    *    file-level check cannot see). Callers retry by recomputing —
    *    [[addColumn]] et al. do.
    * Never an unbounded spin: each loop either claims the next version
    * or observes a strictly newer head written by someone else. */
  def commitAt(spark: SparkSession, table: String, readVersion: Long,
               adds: Seq[Action], removes: Seq[String],
               extraLines: Seq[String] = Nil,
               maxAttempts: Int = 100,
               readDeps: Seq[String] = Nil,
               dvBudget: Long = MaxDvPositions): Long = {
    require(adds.nonEmpty || removes.nonEmpty || extraLines.nonEmpty, "empty commit")
    checkWriterProtocol(spark, table)
    val removeSet = removes.toSet
    val readDepSet = readDeps.toSet
    val ourDvs = adds.filter(a => a.add && a.dv)
    // the live vectors at readVersion, which the budget re-check folds
    // forward through the interleaved commits: one log fold, not one per retry
    lazy val readDvs =
      if (readVersion < 0) Nil else snapshot(spark, table, Some(readVersion)).dvs
    val metaCommit = adds.exists(_.schema) || extraLines.exists(l =>
      l.startsWith("""{"a":"constraint"""") ||
        l.startsWith("""{"a":"unconstraint"""") ||
        l.startsWith("""{"a":"protocol""""))
    var attempt = 0
    while (attempt < maxAttempts) {
      val latest = listVersions(spark, table).lastOption.getOrElse(-1L)
      if (latest > readVersion &&
        (removeSet.nonEmpty || readDepSet.nonEmpty || metaCommit ||
          ourDvs.nonEmpty)) {
        val parsed = (readVersion + 1 to latest).map { v =>
          val p = commitFile(table, v)
          parseActions(table, s"commit $v", readFileText(fsOf(spark, p), p))
        }
        val interActs = parsed.flatMap(_._1)
        val interRemoves = interActs.filter(!_.add).map(_.file).toSet
        if (removeSet.nonEmpty) {
          val clashed = interRemoves.intersect(removeSet)
          if (clashed.nonEmpty) throw new CommitConflictException(
            s"copy-on-write conflict in $table: base file(s) " +
              s"${clashed.mkString(", ")} were removed by a commit " +
              s"after read version $readVersion — recompute against version $latest")
          if (interActs.exists(a => a.add && a.dv))
            throw new CommitConflictException(
              s"rewrite conflict in $table: a deletion vector committed " +
                s"after read version $readVersion — this rewrite was computed " +
                s"without its tombstones and would resurrect them; recompute")
        }
        if (readDepSet.nonEmpty) {
          val gone = interRemoves.intersect(readDepSet)
          if (gone.nonEmpty) throw new CommitConflictException(
            s"merge-on-read conflict in $table: file(s) ${gone.mkString(", ")} " +
              s"this commit's tombstone positions reference were removed by a " +
              s"commit after read version $readVersion — recompute")
        }
        if (ourDvs.nonEmpty) {
          val interDvs = interActs.filter(a => a.add && a.dv)
          if (interDvs.nonEmpty) {
            val ours = ourDvs.map(decodeDvRefs)
            val theirs = interDvs.map(decodeDvRefs)
            val shared = (ours.exists(_.isEmpty) || theirs.exists(_.isEmpty)) ||
              { val mine = ours.flatten.flatten.toSet
                theirs.flatten.flatten.exists(mine) }
            if (shared) throw new CommitConflictException(
              s"deletion-vector conflict in $table: a vector committed after " +
                s"read version $readVersion references the same data file(s) " +
                s"this commit tombstones — both were computed from snapshots " +
                s"without the other's tombstones (double tombstone / lost " +
                s"delete); recompute against version $latest")
          }
          // budget re-check at the MOVED head: the writer's guard ran
          // against its own read version, but interleaved MoR commits
          // may already have spent the tombstone budget. The head's
          // live vectors are the read version's folded through the
          // interleaved commits parsed above. Vectors THIS commit
          // unpins (a rewrite's shrink/purge) do not count.
          val headDvs = scala.collection.mutable.LinkedHashMap
            .from(readDvs.map(a => a.file -> a.rows))
          interActs.foreach { a =>
            if (!a.add) headDvs -= a.file
            else if (a.dv) headDvs += a.file -> a.rows
          }
          val headDvRows = headDvs.collect {
            case (f, rows) if !removeSet.contains(f) => rows }.sum
          val total = headDvRows + ourDvs.map(_.rows).sum
          if (total > dvBudget) throw new IllegalArgumentException(
            s"merge-on-read write refused at commit time: $table would carry " +
              s"$total live deletion-vector positions (> $dvBudget) after " +
              s"commits that interleaved past read version $readVersion — " +
              s"compact the table (purges vectors) or use the copy-on-write " +
              s"path for deletes/updates this large")
        }
        if (metaCommit &&
          (interActs.exists(_.schema) || parsed.exists(_._3.nonEmpty)))
          throw new CommitConflictException(
            s"metadata conflict in $table: a schema/governance commit landed " +
              s"after read version $readVersion — recompute this metadata " +
              s"change against version $latest")
      }
      if (tryPublish(spark, table, latest + 1, adds, removes, extraLines))
        return latest + 1
      attempt += 1
    }
    throw new CommitConflictException(
      s"gave up claiming a version in $table after $maxAttempts attempts")
  }

  /** Retry a metadata change whose [[commitAt]] hit a metadata conflict:
    * the body recomputes from a fresh snapshot each attempt (the
    * lost-update-free way to race two ALTER TABLEs). */
  private def retryOnConflict[T](what: String, attempts: Int = 5)(body: => T): T = {
    var left = attempts
    while (true) {
      try return body
      catch {
        case e: CommitConflictException =>
          left -= 1
          if (left == 0) throw new CommitConflictException(
            s"$what kept conflicting after $attempts recomputes: ${e.getMessage}")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Refuse writes against a table whose writer protocol exceeds this
    * engine's ([[SupportedWriterVersion]]) — the half of the gate that
    * protects FUTURE readers from commits authored without knowledge of
    * the table's required features. */
  private def checkWriterProtocol(spark: SparkSession, table: String): Unit =
    if (listVersions(spark, table).nonEmpty) {
      val w = snapshot(spark, table).protocol._2
      require(w <= SupportedWriterVersion,
        s"$table requires writer protocol version $w; this engine " +
          s"implements $SupportedWriterVersion — refusing to commit")
    }

  /** Register a CHECK constraint: the EXISTING table must already
    * satisfy it (a constraint that is born violated is a lie), then the
    * constraint line commits and every later write enforces it. */
  def addConstraint(spark: SparkSession, table: String,
                    name: String, sqlExpr: String): Long =
    retryOnConflict(s"ADD CONSTRAINT $name on $table") {
      val vs = listVersions(spark, table)
      // an EMPTY table (schema-only, catalog-created) satisfies any
      // constraint trivially — only data-bearing snapshots validate
      if (vs.nonEmpty && snapshot(spark, table).files.nonEmpty) {
        val bad = read(spark, table)
          .filter(not(coalesce(expr(sqlExpr).cast("boolean"), lit(true))))
        if (!bad.isEmpty) throw new ConstraintViolationException(
          s"cannot add CHECK constraint '$name' ($sqlExpr) to $table: " +
            s"existing rows violate it")
      }
      commitAt(spark, table, vs.lastOption.getOrElse(-1L), Nil, Nil,
        Seq(constraintLine(name, sqlExpr)))
    }

  /** Drop a CHECK constraint by name (validated like [[constraintLine]]
    * — an unvalidated name would inject into the JSON log line). */
  def dropConstraint(spark: SparkSession, table: String, name: String): Long = {
    require(name.matches("[A-Za-z0-9_]+"),
      s"constraint name '$name' must be [A-Za-z0-9_]+")
    retryOnConflict(s"DROP CONSTRAINT $name on $table") {
      commitAt(spark, table,
        listVersions(spark, table).lastOption.getOrElse(-1L), Nil, Nil,
        Seq(s"""{"a":"unconstraint","name":"$name"}"""))
    }
  }

  /** Raise the table's protocol gate. Downgrades are refused (a gate
    * exists to be monotone); raising PAST this engine's own writer
    * version is allowed — that is precisely how a table gets fenced
    * off from engines too old for it (including this one). */
  def setProtocol(spark: SparkSession, table: String,
                  reader: Int, writer: Int): Long =
    retryOnConflict(s"SET PROTOCOL ($reader, $writer) on $table") {
      val snap = snapshot(spark, table)
      require(reader >= snap.protocol._1 && writer >= snap.protocol._2,
        s"protocol downgrade refused: table at ${snap.protocol}, asked ($reader, $writer)")
      commitAt(spark, table, snap.version, Nil, Nil,
        Seq(s"""{"a":"protocol","r":$reader,"w":$writer}"""))
    }

  /** Append-shaped commit at the current head (removes allowed when the
    * caller holds the latest snapshot — [[commitAt]] is the form that
    * carries the read version for real conflict detection). */
  def commit(spark: SparkSession, table: String,
             adds: Seq[Action], removes: Seq[String]): Long =
    commitAt(spark, table,
      listVersions(spark, table).lastOption.getOrElse(-1L), adds, removes)

  /** Append `df` to the table as one commit (the ingest primitive). */
  def appendCommit(spark: SparkSession, df: DataFrame, table: String): Long =
    commit(spark, table, stage(spark, df, table), Nil)

  /** Append with per-file min/max of `statsCol` recorded IN the add
    * actions (from the staged files' footers, one metadata read per
    * file at write time) — what lets [[readPruned]] skip files from the
    * log alone. */
  def appendCommitStats(spark: SparkSession, df: DataFrame, table: String,
                        statsCol: String): Long =
    commit(spark, table, stage(spark, df, table, statsCol), Nil)

  // ------------------------------------------------------------------
  // n-column stats map: per-file min/max + nullCount in the log
  // ------------------------------------------------------------------

  /** One column's log-recorded skipping stats: an INT64 [lo, hi] band,
    * a truncated-UTF-8 STRING band, or no band (sentinel) — each with a
    * nullCount (-1 = unknown). */
  private[graft] sealed trait SxBand { def nn: Long }
  private[graft] final case class SxInt(lo: Long, hi: Long, nn: Long) extends SxBand
  private[graft] final case class SxStr(lo: String, hi: String, nn: Long) extends SxBand

  /** The no-band form (column neither INT64 nor string, all-null, or
    * incomplete block stats): `lo > hi`, nullCount still rides. */
  private[graft] def sxNoBand(nn: Long): SxBand = SxInt(1L, 0L, nn)

  /** Compact wire form of the n-column stats map, base64-wrapped into
    * the add action's `"sx"` field: `{"col":[lo,hi,nullCount],...}` for
    * INT64 bands, `{"col":["b64lo","b64hi",nullCount],...}` for
    * truncated string bands (values base64-wrapped — arbitrary user
    * text must never break the line format). `lo > hi` is the no-band
    * sentinel; `nullCount = -1` means unknown (a block without null
    * accounting). Real engines record exactly this per column (Delta's
    * stats JSON, incl. its 32-char string truncation convention); it is
    * what IsNull/IsNotNull pruning and multi-column band pruning read —
    * still pure driver-scale log metadata. Old engines parse string
    * entries as no-band (the numeric regex skips them) and admit
    * conservatively — no protocol bump needed. */
  private[graft] def encodeSx(m: Seq[(String, (Long, Long, Long))]): String =
    encodeSxBands(m.map { case (c, (lo, hi, nn)) => c -> SxInt(lo, hi, nn) })

  private[graft] def encodeSxBands(m: Seq[(String, SxBand)]): String =
    java.util.Base64.getEncoder.encodeToString(
      m.map { case (c, band) =>
        require(!c.exists(ch => ch == '"' || ch == '\\' || ch < ' '),
          s"stats column name '$c' contains JSON-breaking characters")
        band match {
          case SxInt(lo, hi, nn) => s""""$c":[$lo,$hi,$nn]"""
          case SxStr(lo, hi, nn) =>
            val e = java.util.Base64.getEncoder
            s""""$c":["${e.encodeToString(lo.getBytes(UTF_8))}",""" +
              s""""${e.encodeToString(hi.getBytes(UTF_8))}",$nn]"""
        }
      }.mkString("{", ",", "}").getBytes(UTF_8))

  private val SxEntryRe = """"([^"]+)":\[(-?\d+),(-?\d+),(-?\d+)\]""".r
  private val SxStrEntryRe =
    """"([^"]+)":\["([A-Za-z0-9+/=]*)","([A-Za-z0-9+/=]*)",(-?\d+)\]""".r

  /** The INT64 view: string-band entries surface as no-band sentinels
    * carrying their real nullCount (so IS (NOT) NULL pruning still
    * works on text columns through this view). */
  private[graft] def decodeSx(sx: String): Map[String, (Long, Long, Long)] =
    if (sx == null) Map.empty
    else {
      val body = new String(java.util.Base64.getDecoder.decode(sx), UTF_8)
      val ints = SxEntryRe.findAllMatchIn(body)
        .map(m => m.group(1) -> ((m.group(2).toLong, m.group(3).toLong,
          m.group(4).toLong)))
      val strs = SxStrEntryRe.findAllMatchIn(body)
        .map(m => m.group(1) -> ((1L, 0L, m.group(4).toLong)))
      (strs ++ ints).toMap
    }

  /** The STRING-band view: col -> (minPrefix, maxBound) where minPrefix
    * is a lower bound and maxBound an upper bound under binary UTF-8
    * order (truncation-safe by construction, see [[footerSx]]). */
  private[graft] def decodeSxStr(sx: String): Map[String, (String, String)] =
    if (sx == null) Map.empty
    else {
      val d = java.util.Base64.getDecoder
      SxStrEntryRe.findAllMatchIn(
        new String(d.decode(sx), UTF_8))
        .map(m => m.group(1) -> ((new String(d.decode(m.group(2)), UTF_8),
          new String(d.decode(m.group(3)), UTF_8)))).toMap
    }

  /** Spark/parquet string order is binary UTF-8 (= code-point order) —
    * NOT Java String's UTF-16 code-unit order, which sorts supplementary
    * characters differently. All string-band comparisons go through
    * this. */
  private[graft] def utf8Cmp(a: String, b: String): Int =
    org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))

  /** Delta's 32-char truncation convention, code-point-safe. */
  private val SxStrPrefixCp = 32

  private def cpPrefix(s: String, n: Int): String = {
    var i = 0
    var cps = 0
    while (i < s.length && cps < n) {
      i = s.offsetByCodePoints(i, 1)
      cps += 1
    }
    s.substring(0, i)
  }

  /** A ≤-bound of `s`: its 32-code-point prefix (a prefix sorts ≤ the
    * full string in binary UTF-8 order). */
  private[graft] def sxStrLower(s: String): String = cpPrefix(s, SxStrPrefixCp)

  /** A ≥-bound of `s`: `s` itself when short enough (exact), else the
    * 32-cp prefix with its last code point incremented (skipping the
    * surrogate gap) — every string extending the prefix sorts below it.
    * None when no such bound exists (prefix all U+10FFFF). */
  private[graft] def sxStrUpper(s: String): Option[String] = {
    if (s.codePointCount(0, s.length) <= SxStrPrefixCp) return Some(s)
    val p = cpPrefix(s, SxStrPrefixCp)
    val cps = p.codePoints().toArray
    var k = cps.length - 1
    while (k >= 0 && cps(k) >= Character.MAX_CODE_POINT) k -= 1
    if (k < 0) None
    else {
      val next = if (cps(k) == Character.MIN_SURROGATE - 1)
        Character.MIN_SUPPLEMENTARY_CODE_POINT // skip the surrogate gap
      else cps(k) + 1
      Some(new String(cps.take(k), 0, k) + new String(Character.toChars(next)))
    }
  }

  /** One footer read → the stats map of `cols` for one staged file:
    * INT64 columns get an exact [min, max] band, STRING columns a
    * truncated band (lower = 32-cp prefix of the min, upper = the exact
    * max or its incremented 32-cp prefix); every atomic column gets its
    * nullCount (summed across blocks; -1 if any block lacks null
    * accounting — unknown admits conservatively on the read side).
    * COMPLETENESS: a band is recorded only when EVERY non-empty block
    * contributed its min/max (a block with rows but absent/empty stats
    * would silently fall out of the band and pruning could skip a file
    * that holds matching rows — emit the no-band sentinel instead);
    * provably all-null blocks contribute nothing by design. */
  private def footerSx(conf: org.apache.hadoop.conf.Configuration,
                       root: String, rel: String,
                       cols: Seq[String]): Seq[(String, SxBand)] = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new Path(root, rel), conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val lo = collection.mutable.Map(cols.map(_ -> Long.MaxValue): _*)
      val hi = collection.mutable.Map(cols.map(_ -> Long.MinValue): _*)
      val slo = collection.mutable.Map[String, String]()
      val shi = collection.mutable.Map[String, String]()
      val nn = collection.mutable.Map(cols.map(_ -> 0L): _*)
      val complete = collection.mutable.Map(cols.map(_ -> true): _*)
      // string bands only for string-annotated BINARY columns (raw
      // binary ordering is not the stats contract)
      val schema = r.getFooter.getFileMetaData.getSchema
      val isStr = cols.map(c => c -> (schema.containsField(c) && {
        val t = schema.getType(schema.getFieldIndex(c))
        t.isPrimitive &&
          t.asPrimitiveType().getPrimitiveTypeName ==
            org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.BINARY &&
          t.getLogicalTypeAnnotation ==
            org.apache.parquet.schema.LogicalTypeAnnotation.stringType()
      })).toMap
      r.getFooter.getBlocks.forEach { b =>
        b.getColumns.forEach { c =>
          val name = c.getPath.toDotString
          if (lo.contains(name)) {
            val s = c.getStatistics
            if (s == null || !s.isNumNullsSet) nn(name) = -1L
            else if (nn(name) >= 0) nn(name) += s.getNumNulls
            if (s == null || s.isEmpty) {
              // rows present but values unaccounted: the band would lie
              if (b.getRowCount > 0) complete(name) = false
            } else if (s.hasNonNullValue) {
              (s.genericGetMin, s.genericGetMax) match {
                case (mn: java.lang.Long, mx: java.lang.Long) =>
                  lo(name) = math.min(lo(name), mn)
                  hi(name) = math.max(hi(name), mx)
                case (mn: org.apache.parquet.io.api.Binary,
                      mx: org.apache.parquet.io.api.Binary) if isStr(name) =>
                  val mns = new String(mn.getBytes, UTF_8)
                  val mxs = new String(mx.getBytes, UTF_8)
                  if (!slo.contains(name) || utf8Cmp(mns, slo(name)) < 0)
                    slo(name) = mns
                  if (!shi.contains(name) || utf8Cmp(mxs, shi(name)) > 0)
                    shi(name) = mxs
                case _ =>
                  // non-INT64, non-string: nullCount only, no band
                  complete(name) = false
              }
            } else if (!s.isNumNullsSet || s.getNumNulls != b.getRowCount) {
              // no non-null value AND not provably all-null: unknown
              if (b.getRowCount > 0) complete(name) = false
            } // else: provably all-null block, contributes nothing
          }
        }
      }
      cols.map { c =>
        c -> (if (!complete(c)) sxNoBand(nn(c))
        else if (lo(c) <= hi(c)) SxInt(lo(c), hi(c), nn(c))
        else if (slo.contains(c))
          sxStrUpper(shi(c)) match {
            case Some(up) => SxStr(sxStrLower(slo(c)), up, nn(c))
            case None => sxNoBand(nn(c))
          }
        else sxNoBand(nn(c))) // all-null or typeless: no band
      }
    } finally r.close()
  }

  /** Append with an N-COLUMN stats map recorded in each add action:
    * per-file [min, max] for every INT64 column in `cols` plus a
    * nullCount for each — the general form of [[appendCommitStats]]
    * that lets the V2 connector prune on ANY of the columns, including
    * `IS NULL` / `IS NOT NULL` predicates, from the log alone. */
  def appendCommitStatsMulti(spark: SparkSession, df: DataFrame, table: String,
                             cols: Seq[String]): Long = {
    require(cols.nonEmpty, "need at least one stats column")
    cols.foreach(c => require(df.columns.contains(c), s"no column '$c'"))
    val staged = stage(spark, df, table)
    // like footerActions: driver loop for small batches, one distributed
    // metadata pass above the cap (order preserved through collect)
    val sxs: Seq[String] =
      if (staged.size <= DriverFooterCap) {
        val conf = spark.sessionState.newHadoopConf()
        staged.map(a => encodeSxBands(footerSx(conf, table, a.file, cols)))
      } else {
        val conf = ShippedConf(spark)
        spark.sparkContext
          .parallelize(staged.map(_.file), math.min(staged.size, 64))
          .map(rel => encodeSxBands(footerSx(conf.value.value, table, rel, cols)))
          .collect().toSeq
      }
    commit(spark, table, staged.lazyZip(sxs).map((a, s) => a.copy(sx = s)), Nil)
  }

  /** Data-skipping read: prune the snapshot's file list to those whose
    * LOG-recorded [lo, hi] of `statsCol` overlaps [bandLo, bandHi] —
    * ZERO parquet footer opens for the decision (a skipped file is
    * never touched at all; at 100 TB the planning cost is the driver
    * folding small JSON, not N object-store reads). Files with no
    * recorded stats for `statsCol` are kept conservatively. The
    * residual band filter still runs (file ranges overlap the band's
    * edges) and pushes down into the kept scans. Returns (frame,
    * files scanned, files total) so specs can assert the skip. */
  def readPruned(spark: SparkSession, table: String, statsCol: String,
                 bandLo: Long, bandHi: Long,
                 asOf: Option[Long] = None): (DataFrame, Int, Int) = {
    val snap = snapshot(spark, table, asOf)
    val hit = snap.adds.filter(a =>
      a.statsCol != statsCol || (a.hi >= bandLo && a.lo <= bandHi))
    require(hit.nonEmpty, s"no file of $table overlaps [$bandLo, $bandHi]")
    val df = scanWithDvs(spark, table, snap, hit.map(_.file))
      .filter(col(statsCol) >= bandLo && col(statsCol) <= bandHi)
    (df, hit.size, snap.adds.size)
  }

  // ------------------------------------------------------------------
  // multi-dimensional skipping: z-order clustering recorded in the log
  // ------------------------------------------------------------------

  /** Z-ORDER clustered append: rows are range-partitioned and sorted on
    * the Morton interleave of (`xCol`, `yCol`) ([[Zorder.zInterleave]]),
    * and the add actions record per-file min/max of BOTH natural
    * columns. Because the curve keeps both dimensions locally tight,
    * a band predicate on EITHER column prunes the file list from the
    * log alone — the property a linear sort only gives its one sort key
    * (LakeSkipSpec pins exactly that separation). This is Delta/
    * Iceberg's `OPTIMIZE ZORDER BY`, expressed as a clustered write
    * into the commit log. `files` bounds the layout (range exchange —
    * never a single-partition sort). */
  private def zCluster(df: DataFrame, xCol: String, yCol: String,
                       files: Int, bits: Int): DataFrame =
    Zorder.zValues(df, col(xCol), col(yCol), bits)
      .repartitionByRange(files, col("zvalue"))
      .sortWithinPartitions("zvalue")
      .drop("zvalue")

  def appendCommitZorder(spark: SparkSession, df: DataFrame, table: String,
                         xCol: String, yCol: String,
                         files: Int, bits: Int = 16): Long =
    commit(spark, table, stage(spark, zCluster(df, xCol, yCol, files, bits),
      table, statsCol = xCol, statsCol2 = yCol), Nil)

  /** OPTIMIZE ZORDER: copy-on-write re-cluster of the CURRENT snapshot
    * on the Morton curve of (`xCol`, `yCol`) — the layout maintenance
    * command that turns an accreted pile of unclustered appends into a
    * 2-D-prunable table (Delta's `OPTIMIZE … ZORDER BY`). Any live
    * deletion vectors are MATERIALIZED by the rewrite and purged by the
    * same commit (like [[compactCommit]]); the caller's read version
    * rides into the commit, so a conflicting interleaved rewrite aborts
    * instead of resurrecting removed files; time travel keeps the old
    * layout readable. */
  def optimizeZorder(spark: SparkSession, table: String,
                     xCol: String, yCol: String,
                     files: Int, bits: Int = 16): Long = {
    val snap = snapshot(spark, table)
    val z = zCluster(scanWithDvs(spark, table, snap, snap.files),
      xCol, yCol, files, bits)
    commitAt(spark, table, snap.version,
      stage(spark, z, table, statsCol = xCol, statsCol2 = yCol),
      snap.files ++ snap.dvs.map(_.file))
  }

  /** 2-D data-skipping read: keep only files whose log-recorded ranges
    * overlap BOTH bands (either band may be unbounded via Long.Min/Max).
    * Zero footer opens; files without recorded stats for a column are
    * kept conservatively; the residual filter pushes down into the kept
    * scans. Returns (frame, files scanned, files total). */
  def readPruned2(spark: SparkSession, table: String,
                  c1: String, lo1: Long, hi1: Long,
                  c2: String, lo2: Long, hi2: Long,
                  asOf: Option[Long] = None): (DataFrame, Int, Int) = {
    def overlaps(a: Action): Boolean = {
      val ok1 = if (a.statsCol == c1) a.hi >= lo1 && a.lo <= hi1
                else if (a.statsCol2 == c1) a.hi2 >= lo1 && a.lo2 <= hi1
                else true
      val ok2 = if (a.statsCol == c2) a.hi >= lo2 && a.lo <= hi2
                else if (a.statsCol2 == c2) a.hi2 >= lo2 && a.lo2 <= hi2
                else true
      ok1 && ok2
    }
    val snap = snapshot(spark, table, asOf)
    val hit = snap.adds.filter(overlaps)
    // nothing overlaps: keep one file anyway (schema carrier; the box
    // filter returns nothing) — an empty box is a result, not an error
    val keep = if (hit.nonEmpty) hit else snap.adds.take(1)
    val df = scanWithDvs(spark, table, snap, keep.map(_.file))
      .filter(col(c1) >= lo1 && col(c1) <= hi1 &&
        col(c2) >= lo2 && col(c2) <= hi2)
    (df, keep.size, snap.adds.size)
  }

  // ------------------------------------------------------------------
  // point-lookup skipping: per-file bloom filters recorded in the log
  // ------------------------------------------------------------------

  /** Bloom geometry: m bits (power of two) and k probes per key. 8192
    * bits / 6 probes holds ~600 keys per file at <1% false positives —
    * and the whole filter is 1 KiB of base64 in the add action, still
    * driver-scale metadata at millions of files. */
  private val BloomBits = 8192
  private val BloomK = 6

  /** The k probe positions of one 64-bit key hash (double hashing:
    * h2 derived by the golden-ratio mix, both halves already avalanched
    * by xxhash64). Positions are identical on the write side (executor
    * aggregation) and the read side (driver membership test). */
  private[graft] def bloomBits(h: Long): Array[Int] = {
    val h2 = h * 0x9E3779B97F4A7C15L + 0x165667B19E3779F9L
    Array.tabulate(BloomK)(i =>
      (((h + i * h2) >>> 13) & (BloomBits - 1)).toInt)
  }

  /** Spark's xxhash64 of one long, evaluated driver-side — bit-for-bit
    * the executor expression, so read-side membership tests agree with
    * the write-side aggregation by construction. */
  private[graft] def xx64(v: Long): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64(
      Seq(org.apache.spark.sql.catalyst.expressions.Literal(v)), 42L)
      .eval(null).asInstanceOf[Long]

  /** Append with a per-file BLOOM FILTER of `keyCol` (INT64) recorded in
    * the add actions: one distributed pass over the staged files folds
    * each file's key hashes into an 8192-bit filter (partial aggregation
    * — the merge is a bitwise OR), and the filters travel as ~1 KiB of
    * base64 in the log. [[readBloomKeys]] then answers point lookups
    * opening only files whose filter MIGHT contain a probe key — the
    * log-level analogue of parquet's column bloom filters, but decided
    * without touching the files at all. */
  /** Typed bloom-fold aggregator: zero = empty bitset, reduce = set the
    * key's probe bits, merge = bitwise OR. Being an Aggregator (not
    * mapGroups) buys MAP-SIDE partial aggregation — the shuffle carries
    * one ~1 KiB bitset per (partition, file), not one row per key. */
  private class BloomFold extends org.apache.spark.sql.expressions.Aggregator[
      Long, Array[Long], Array[Byte]] {
    def zero: Array[Long] = new Array[Long](BloomBits / 64)
    def reduce(b: Array[Long], h: Long): Array[Long] = {
      bloomBits(h).foreach(p => b(p >> 6) |= 1L << (p & 63)); b
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0; while (i < a.length) { a(i) |= b(i); i += 1 }; a
    }
    def finish(b: Array[Long]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(b.length * 8)
      b.foreach(bb.putLong)
      bb.array()
    }
    def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    def outputEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
      org.apache.spark.sql.Encoders.BINARY
  }

  def appendCommitBloom(spark: SparkSession, df: DataFrame, table: String,
                        keyCol: String): Long = {
    // INT64 only, enforced loudly: for a narrower integer column the
    // write side would hash 4-byte values while the read side hashes a
    // Long literal — disagreeing hashes make the bloom FALSE-NEGATIVE,
    // which silently prunes files that contain matching rows
    require(df.schema(keyCol).dataType == org.apache.spark.sql.types.LongType,
      s"bloom key column '$keyCol' must be BIGINT (is " +
        s"${df.schema(keyCol).dataType.simpleString}): xxhash64 of a " +
        s"narrower type disagrees with the Long-keyed membership test")
    val adds = stage(spark, df, table)
    val paths = adds.map(a => s"$table/${a.file}")
    val words = BloomBits / 64
    val fold = udaf(new BloomFold,
      org.apache.spark.sql.Encoders.scalaLong)
    val perFile = spark.read.parquet(paths: _*)
      .select(substring_index(col("_metadata.file_path"), "/", -1).as("__f"),
        xxhash64(col(keyCol)).as("__h"))
      .groupBy("__f") // partial agg: bitsets OR map-side, files-scale shuffle
      .agg(fold(col("__h")).as("__bloom"))
      .collect() // ≤ one ~1 KiB row per staged file — driver-scale
      .map(r => r.getString(0) ->
        java.util.Base64.getEncoder.encodeToString(r.getAs[Array[Byte]](1)))
      .toMap
    val withBloom = adds.map { a =>
      val base = a.file.substring(a.file.lastIndexOf('/') + 1)
      a.copy(bloomCol = keyCol,
        bloom = perFile.getOrElse(base,
          java.util.Base64.getEncoder.encodeToString(new Array[Byte](words * 8))))
    }
    commit(spark, table, withBloom, Nil)
  }

  /** Key-level bloom membership (hashes with the write-side xxhash64) —
    * exposed for the V2 connector's pushed-filter pruning. */
  private[graft] def bloomMightContainKey(b64: String, key: Long): Boolean =
    bloomMightContain(b64, xx64(key))

  private def bloomMightContain(b64: String, h: Long): Boolean = {
    val bytes = java.util.Base64.getDecoder.decode(b64)
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val bits = Array.fill(bytes.length / 8)(bb.getLong)
    bloomBits(h).forall(p => (bits(p >> 6) & (1L << (p & 63))) != 0)
  }

  /** Point-lookup read: open only files whose log-recorded bloom filter
    * might contain SOME probe key (no filter for `keyCol` → kept
    * conservatively; a bloom can false-positive but never false-negative,
    * so the result is exact once the pushed-down IN filter runs).
    * Returns (frame, files scanned, files total). */
  def readBloomKeys(spark: SparkSession, table: String, keyCol: String,
                    keys: Seq[Long],
                    asOf: Option[Long] = None): (DataFrame, Int, Int) = {
    require(keys.nonEmpty, "need at least one probe key")
    val hashes = keys.map(xx64)
    val snap = snapshot(spark, table, asOf)
    val hit = snap.adds.filter(a =>
      a.bloomCol != keyCol || hashes.exists(bloomMightContain(a.bloom, _)))
    // all filters reject: keep one file anyway (schema carrier; the IN
    // filter returns nothing) — still a 1-of-N prune, never a special case
    val keep = if (hit.nonEmpty) hit else snap.adds.take(1)
    val df = scanWithDvs(spark, table, snap, keep.map(_.file))
      .filter(col(keyCol).isin(keys: _*))
    (df, keep.size, snap.adds.size)
  }

  // ------------------------------------------------------------------
  // bucket layout recorded in the log (storage-partitioned joins)
  // ------------------------------------------------------------------

  /** The engine's bucket function over BIGINT keys: Spark's Murmur3
    * (seed 42 — exactly `hash(col)` for a LongType) floor-modded by n.
    * Evaluated bit-identically on the WRITE side (the staging
    * expression below), by the catalog's V2 FUNCTION (storage-
    * partitioned-join resolution), and in specs — the identity of this
    * function across writers IS the co-location contract. */
  private[graft] def bucketId(key: Long, n: Int): Int = {
    val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(key, 42)
    ((h % n) + n) % n
  }

  /** BUCKETED append: rows hash-route to `nBuckets` buckets by
    * `pmod(hash(key), n)` and stage one file per non-empty bucket with
    * the bucket id stamped on its add action (`"bkc"/"bkn"/"bki"`,
    * advisory fields — non-bucket-aware engines read the table
    * unchanged, they just shuffle when joining). The V2 scan of a
    * uniformly bucketed table then reports
    * `KeyGroupedPartitioning(bucket(n, key))`, and two lake tables
    * bucketed the same way JOIN WITH ZERO EXCHANGE (Spark's
    * storage-partitioned join aligns equal bucket ids) — at 100 TB the
    * fact-fact join's shuffle is paid ONCE at write time and amortized
    * over every later join on the key. BIGINT NOT NULL keys only,
    * enforced loudly: a narrower type or a NULL would hash differently
    * than the join-time bucket function and silently mis-collocate. */
  def appendCommitBucketed(spark: SparkSession, df: DataFrame, table: String,
                           keyCol: String, nBuckets: Int): Long = {
    val staged = stageBucketedData(spark, df, table, keyCol, nBuckets)
    require(staged.nonEmpty, "empty bucketed append")
    commit(spark, table, staged, Nil)
  }

  /** Stage `df` bucket-split with stamped add actions — the staging
    * half of [[appendCommitBucketed]], shared with the MoR writers so
    * UPDATE/CDC on a bucketed table keeps the layout (and its
    * zero-Exchange joins) instead of silently demoting it. NULL keys
    * fail INSIDE the write expression (one pass, race-free even for
    * non-deterministic inputs — a driver pre-scan could pass while the
    * write's own evaluation still produces a NULL). */
  private def stageBucketedData(spark: SparkSession, df: DataFrame,
                                table: String, keyCol: String,
                                nBuckets: Int): Seq[Action] = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    require(df.schema(keyCol).dataType == org.apache.spark.sql.types.LongType,
      s"bucket key '$keyCol' must be BIGINT (is " +
        s"${df.schema(keyCol).dataType.simpleString}): the write-side hash " +
        s"and the join-time bucket function must agree bit-for-bit")
    enforceConstraints(spark, df, table) // custom staging path: enforce here
    val root = new Path(table)
    val fs = fsOf(spark, root)
    val batch = java.util.UUID.randomUUID.toString.replace("-", "").take(12)
    val tmp = new Path(root, s".stage-$batch")
    // repartition BY the bucket value: every bucket's rows land in one
    // task, so the hive staging writes exactly one file per non-empty
    // bucket; the synthetic __bucket column physically leaves the files
    df.withColumn("__bucket",
        when(col(keyCol).isNull,
          raise_error(lit(s"bucket key '$keyCol' must not contain NULLs " +
            s"(a null row has no bucket)")).cast("int"))
          .otherwise(pmod(hash(col(keyCol)), lit(nBuckets))))
      .repartition(col("__bucket"))
      .write.partitionBy("__bucket").parquet(tmp.toString)
    fs.mkdirs(new Path(root, "data"))
    val BucketDir = """__bucket=(\d+)""".r
    var i = 0
    val adds = Seq.newBuilder[Action]
    fs.listStatus(tmp).filter(_.isDirectory).sortBy(_.getPath.getName).foreach { d =>
      val id = d.getPath.getName match {
        case BucketDir(v) => v.toInt
        case other => throw new IllegalStateException(
          s"unexpected staging entry '$other' (wanted __bucket=<id>)")
      }
      fs.listStatus(d.getPath)
        .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
        .sortBy(_.getPath.getName).foreach { s =>
          val rel = s"data/$batch-$i.parquet"
          require(fs.rename(s.getPath, new Path(root, rel)),
            s"failed to stage ${s.getPath} as $rel")
          adds += footerAction(spark, root, rel, null)
            .copy(bkCol = keyCol, bkN = nBuckets.toLong, bkId = id.toLong)
          i += 1
        }
    }
    fs.delete(tmp, true)
    adds.result()
  }

  /** The single (key, n) bucket layout governing EVERY live data file,
    * when the table is uniformly bucketed; None for unbucketed or
    * mixed tables. */
  private def uniformBucket(snap: Snapshot): Option[(String, Int)] =
    snap.adds.map(a => (Option(a.bkCol), a.bkN)).distinct match {
      case Seq((Some(c), n)) if snap.adds.forall(_.bkId >= 0) =>
        Some((c, n.toInt))
      case _ => None
    }

  // ------------------------------------------------------------------
  // partition values recorded in the log (hive-style, listing-free)
  // ------------------------------------------------------------------

  /** PARTITIONED append: `df` is written `partitionBy(partCol)` — the
    * partition column physically LEAVES the data files (hive layout) and
    * lives only in the add actions (`"pc"/"pv"`), exactly Delta's
    * partitionValues field. Reads reconstruct the column from the log
    * as a per-file literal, and [[readPartitions]] prunes the file list
    * from the log alone — no directory listing, no footer opens, which
    * is THE most common skipping form on a partitioned 100-TB table.
    * String partition columns only (the hive-path value is a string;
    * re-typing it would invite silent coercion bugs). */
  def appendCommitPartitioned(spark: SparkSession, df: DataFrame, table: String,
                              partCol: String): Long = {
    val staged = stagePartitionedData(spark, df, table, partCol)
    require(staged.nonEmpty, "empty partitioned append")
    commit(spark, table, staged, Nil)
  }

  /** Stage `df` hive-split per partition value (the column physically
    * leaves the files; each add action stamps its value) — the staging
    * half of [[appendCommitPartitioned]], shared with the MoR writers
    * so UPDATE/CDC on a partitioned table keeps the invariant. */
  private def stagePartitionedData(spark: SparkSession, df: DataFrame,
                                   table: String, partCol: String): Seq[Action] = {
    require(df.schema(partCol).dataType == org.apache.spark.sql.types.StringType,
      s"partition column '$partCol' must be STRING (hive path values are strings)")
    // NULL and '' both land in the __HIVE_DEFAULT_PARTITION__ directory:
    // the log would record that sentinel as the value and reads would
    // reinject it — silent corruption, so both are refused up front
    require(df.filter(col(partCol).isNull || col(partCol) === "").isEmpty,
      s"partition column '$partCol' must not contain NULLs or empty " +
        s"strings (hive maps both to the __HIVE_DEFAULT_PARTITION__ sentinel)")
    enforceConstraints(spark, df, table) // custom staging path: enforce here
    val root = new Path(table)
    val fs = fsOf(spark, root)
    val batch = java.util.UUID.randomUUID.toString.replace("-", "").take(12)
    val tmp = new Path(root, s".stage-$batch")
    df.write.partitionBy(partCol).parquet(tmp.toString)
    fs.mkdirs(new Path(root, "data"))
    val PartDir = (java.util.regex.Pattern.quote(partCol) + "=(.*)").r
    var i = 0
    val adds = Seq.newBuilder[Action]
    fs.listStatus(tmp).filter(_.isDirectory).sortBy(_.getPath.getName).foreach { d =>
      // undo Spark's hive-path escaping (%XX per escaped char; plain
      // URLDecoder would also eat '+', which hive paths do NOT escape)
      def unescape(s: String): String =
        "%([0-9A-Fa-f]{2})".r.replaceAllIn(s, m =>
          java.util.regex.Matcher.quoteReplacement(
            Integer.parseInt(m.group(1), 16).toChar.toString))
      val value = d.getPath.getName match {
        case PartDir(v) => unescape(v)
        case other => throw new IllegalStateException(
          s"unexpected staging entry '$other' (wanted $partCol=<value>)")
      }
      fs.listStatus(d.getPath)
        .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
        .sortBy(_.getPath.getName).foreach { s =>
          val rel = s"data/$batch-$i.parquet"
          require(fs.rename(s.getPath, new Path(root, rel)),
            s"failed to stage ${s.getPath} as $rel")
          adds += footerAction(spark, root, rel, null)
            .copy(pvCol = partCol, pvValue = value)
          i += 1
        }
    }
    fs.delete(tmp, true)
    adds.result()
  }

  /** The single partition column governing EVERY live data file, when
    * the table is uniformly hive-partitioned (the invariant
    * `INSERT OVERWRITE ... PARTITION` relies on); None for
    * unpartitioned or mixed tables. */
  private def uniformPvCol(snap: Snapshot): Option[String] =
    snap.adds.map(a => Option(a.pvCol)).distinct match {
      case Seq(Some(pc)) => Some(pc)
      case _ => None
    }

  /** Stage data rows the way the TABLE is laid out: hive-split with
    * stamped partition values on a uniformly partitioned table,
    * bucket-split with stamped ids on a uniformly bucketed one, plain
    * staging otherwise — what keeps the MoR writers' appended files
    * from silently breaking either layout invariant (a partitioned
    * table would lose log pruning and refuse later scoped overwrites;
    * a bucketed table would silently demote every later join back to
    * a full shuffle). */
  private def stageDataLike(spark: SparkSession, df: DataFrame, table: String,
                            snap: Snapshot): Seq[Action] =
    uniformPvCol(snap) match {
      case Some(pc) if df.columns.contains(pc) =>
        stagePartitionedData(spark, df, table, pc)
      case _ => uniformBucket(snap) match {
        case Some((key, n)) if df.columns.contains(key) =>
          stageBucketedData(spark, df, table, key, n)
        case _ => stage(spark, df, table)
      }
    }

  /** Partition-pruned read: keep only files whose log-recorded partition
    * value is in `values` (files without a recorded value for `partCol`
    * are kept conservatively) and REINJECT the partition column from the
    * log as a per-file literal — the files themselves do not contain it.
    * Column order follows the file schema with `partCol` appended, the
    * hive convention. Returns (frame, files scanned, files total). */
  def readPartitions(spark: SparkSession, table: String, partCol: String,
                     values: Seq[String],
                     asOf: Option[Long] = None): (DataFrame, Int, Int) = {
    val snap = snapshot(spark, table, asOf)
    val hit = snap.adds.filter(a =>
      a.pvCol != partCol || values.contains(a.pvValue))
    val keep = if (hit.nonEmpty) hit else snap.adds.take(1)
    // the base scan is partition-aware (reinjects recorded values) and
    // merge-on-read; this function only contributes the log-side prune
    val df = scanWithDvs(spark, table, snap, keep.map(_.file))
      .filter(col(partCol).isin(values: _*))
    (df, keep.size, snap.adds.size)
  }

  // ------------------------------------------------------------------
  // schema evolution (schema-on-log)
  // ------------------------------------------------------------------

  /** The governing schema of a snapshot, read from its pinned schema
    * file (None = pre-evolution table: the parquet files' own schema
    * rules, the original behavior). */
  def tableSchema(spark: SparkSession, table: String,
                  snap: Snapshot): Option[org.apache.spark.sql.types.StructType] =
    snap.schemaFile.map { f =>
      val p = new Path(table, f)
      org.apache.spark.sql.types.DataType.fromJson(readFileText(fsOf(spark, p), p))
        .asInstanceOf[org.apache.spark.sql.types.StructType]
    }

  /** CREATE an empty table: commit 0 carries ONLY the governing schema
    * action — the catalog's DDL shape (a table exists the moment its
    * schema is committed; data arrives through later appends). */
  def createTable(spark: SparkSession, table: String,
                  schema: org.apache.spark.sql.types.StructType): Long = {
    require(listVersions(spark, table).isEmpty,
      s"$table already has a commit log — createTable is for NEW tables")
    require(schema.nonEmpty, s"cannot create $table with an empty schema")
    commitAt(spark, table, -1L, Seq(stageSchema(spark, table, schema)), Nil)
  }

  /** Evolve the governing schema WITHOUT data (ALTER TABLE ADD COLUMN):
    * the new nullable tail column joins the schema-on-log; every
    * existing file null-fills it at read time. */
  def addColumn(spark: SparkSession, table: String,
                name: String, dt: org.apache.spark.sql.types.DataType): Long =
    retryOnConflict(s"ADD COLUMN $name on $table") {
      val snap = snapshot(spark, table)
      val base = tableSchema(spark, table, snap).getOrElse(
        scanWithDvs(spark, table, snap, snap.files).schema)
      require(!base.fieldNames.contains(name),
        s"column '$name' already exists in $table")
      val unified = base.add(name, dt, nullable = true)
      commitAt(spark, table, snap.version,
        Seq(stageSchema(spark, table, unified)), Nil)
    }

  /** Atomically land a schema JSON under `meta/` and return its schema
    * add action (pinned by the caller's commit). */
  private[graft] def stageSchema(spark: SparkSession, table: String,
                          st: org.apache.spark.sql.types.StructType): Action = {
    val rel = s"meta/${java.util.UUID.randomUUID.toString.replace("-", "").take(12)}.json"
    val dest = new Path(table, rel)
    val fs = fsOf(spark, dest)
    fs.mkdirs(dest.getParent)
    val tmp = new Path(dest.getParent,
      s".tmp-${java.util.UUID.randomUUID.toString.take(8)}")
    val out = fs.create(tmp, false)
    try out.write(st.json.getBytes(UTF_8)) finally out.close()
    require(fs.rename(tmp, dest), s"atomic schema stage failed at $dest")
    Action(add = true, rel, 0L, schema = true)
  }

  /** SCHEMA-EVOLVING append: `df` may carry columns the table has never
    * seen — they join the table schema as nullable tail columns, and
    * every OLD file's rows read them back as NULL (the parquet reader
    * null-fills requested columns a file lacks, so no rewrite happens;
    * Delta's mergeSchema). `df` may also OMIT existing columns (they
    * land as NULL). A column whose TYPE disagrees with the table fails
    * loudly — silent coercion corrupts a lake. The new schema file and
    * the data files pin in ONE atomic commit; reads of OLD versions
    * keep their own governing schema (time travel shows the table as it
    * was). */
  def appendCommitEvolve(spark: SparkSession, df: DataFrame, table: String): Long = {
    import org.apache.spark.sql.types.StructField
    val vs = listVersions(spark, table)
    val base: Seq[StructField] =
      if (vs.isEmpty) Nil
      else {
        val snap = snapshot(spark, table)
        tableSchema(spark, table, snap)
          .map(_.fields.toSeq)
          .getOrElse(scanWithDvs(spark, table, snap, snap.files).schema.fields.toSeq)
      }
    val byName = base.map(f => f.name -> f).toMap
    df.schema.fields.foreach { f =>
      byName.get(f.name).foreach { b =>
        require(b.dataType == f.dataType,
          s"schema evolution cannot change column '${f.name}' from " +
            s"${b.dataType.simpleString} to ${f.dataType.simpleString} — " +
            s"rewrite the table instead")
      }
    }
    val newTail = df.schema.fields.filterNot(f => byName.contains(f.name))
      .map(_.copy(nullable = true))
    val unified = org.apache.spark.sql.types.StructType(base ++ newTail)
    val aligned = df.select(unified.fields.map(f =>
      if (df.columns.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)): _*)
    val adds = stage(spark, aligned, table)
    val schemaAct = stageSchema(spark, table, unified)
    commitAt(spark, table, vs.lastOption.getOrElse(-1L), adds :+ schemaAct, Nil)
  }

  /** MERGE-ON-READ DELETE: rows matching `cond` are tombstoned by a
    * deletion vector — a parquet of (file basename, row position) pairs
    * under `dv/` pinned by ONE atomic commit — with ZERO data files
    * rewritten (LakeTxnSpec pins the unchanged file set). One Spark job
    * collects the matched positions (plus one to broadcast the live
    * vectors when there are any); the vector is written on the driver
    * ([[LakeDv.write]]). A delete that would push the table past the
    * tombstone budget (`maxDvPositions`) is refused before any file is
    * written.
    * This is the write-cheap half of the delete trade-off the
    * copy-on-write [[applyChanges]] path prices the other way: DV
    * deletes cost Θ(matched rows) at write and one small anti-join per
    * read; CoW costs a rewrite at write and nothing at read. A
    * compaction purges live DVs by materializing the merge (remove
    * data + DV files, add the packed rewrite). Positions come from the
    * scan's `_metadata.row_index`, the stable within-file row ordinal.
    * Already-deleted rows never re-enter a vector (the candidate scan
    * is itself merge-on-read). A [[CommitConflictException]] (an
    * interleaved rewrite, or a concurrent DV on a shared file) RETRIES
    * by recomputing from the fresh snapshot — whose MoR scan already
    * excludes the winner's tombstones, so the retry is duplicate-free
    * by construction. Returns the committed version, or -1 if nothing
    * matched. */
  def deleteWhereMor(spark: SparkSession, table: String,
                     cond: org.apache.spark.sql.Column,
                     maxDvPositions: Long = MaxDvPositions): Long =
    retryOnConflict(s"merge-on-read DELETE on $table") {
      val snap = snapshot(spark, table)
      if (snap.files.isEmpty) -1L // empty table: nothing to tombstone
      else {
        val doomed = dvPositions(table, snap,
          scanWithDvsMeta(spark, table, snap, snap.files).filter(cond),
          maxDvPositions)
        if (doomed.isEmpty) -1L
        else {
          val dvAdds = Seq(LakeDv.write(spark, table, doomed))
          // readDeps = the files the positions reference: a compaction
          // that interleaved would have replaced them, and these
          // tombstones would point into files no reader opens — a
          // silently lost delete
          try commitAt(spark, table, snap.version, dvAdds, Nil,
            readDeps = snap.files, dvBudget = maxDvPositions)
          catch { case t: Throwable => dropAdds(spark, table, dvAdds); throw t }
        }
      }
    }

  /** Delete published-but-unpinned files after a failed commit attempt
    * (a conflict retry restages from scratch; nothing should leak to
    * vacuum when the paths are known). Idempotent. */
  private def dropAdds(spark: SparkSession, table: String,
                       adds: Seq[Action]): Unit = {
    val root = new Path(table)
    val fs = fsOf(spark, root)
    adds.foreach(a => fs.delete(new Path(root, a.file), false))
  }

  /** MERGE-ON-READ UPDATE: rows matching `cond` are tombstoned by a
    * deletion vector AND their rewritten versions append — in ONE
    * atomic commit with ZERO data files removed (adds + DV only). This
    * is the write-cheap half of the update trade-off the copy-on-write
    * SQL UPDATE path prices the other way: a point update against a
    * 100-TB table costs Θ(matched rows), not a rewrite of every file
    * holding a match; reads pay the DV anti-join until a compaction
    * materializes the debt. `sets` assigns columns left to right
    * (later assignments see earlier ones, the SQL SET contract).
    * Conflict contract: an interleaved removal of any file the
    * tombstone positions reference, or a concurrent vector on a shared
    * file, RETRIES by recomputing from the fresh snapshot ([[commitAt]]
    * readDeps + DV-vs-DV rules). On a hive-PARTITIONED table the
    * rewritten rows stage split per partition value with their add
    * actions stamped — the partitioned-table invariant survives MoR
    * updates just as it does copy-on-write rewrites. Returns the
    * committed version, or -1 if nothing matched. */
  def updateMorWhere(spark: SparkSession, table: String,
                     cond: org.apache.spark.sql.Column,
                     sets: Seq[(String, org.apache.spark.sql.Column)],
                     maxDvPositions: Long = MaxDvPositions): Long = {
    require(sets.nonEmpty, "UPDATE needs at least one SET assignment")
    retryOnConflict(s"merge-on-read UPDATE on $table") {
      val snap = snapshot(spark, table)
      if (snap.files.isEmpty) -1L
      else {
        val base = scanWithDvsMeta(spark, table, snap, snap.files)
        sets.foreach { case (c, _) =>
          require(base.columns.contains(c), s"no column '$c' in $table") }
        val matched = base.filter(cond)
        // one scan feeds both halves: cache avoids re-reading the table
        // (matched is small by the point-update contract)
        matched.cache()
        try {
          val positions = dvPositions(table, snap, matched, maxDvPositions)
          if (positions.isEmpty) -1L
          else {
            val rewritten = sets.foldLeft(matched) { case (df, (c, v)) =>
              df.withColumn(c, v)
            }.drop("__dv_file", "__dv_pos")
            val dvAdds = Seq(LakeDv.write(spark, table, positions))
            try {
              val dataAdds = stageDataLike(spark, rewritten, table, snap)
              try commitAt(spark, table, snap.version, dvAdds ++ dataAdds, Nil,
                readDeps = snap.files, dvBudget = maxDvPositions)
              catch { case t: Throwable =>
                dropAdds(spark, table, dataAdds); throw t }
            } catch { case t: Throwable =>
              dropAdds(spark, table, dvAdds); throw t }
          }
        } finally matched.unpersist()
      }
    }
  }

  /** TRUNCATE: one atomic commit unpinning every live data file and
    * deletion vector. Governance (schema, constraints, protocol) is not
    * data and survives; time travel keeps the pre-truncate snapshots;
    * an append interleaved after the snapshot read survives (it was
    * never in the truncated set — the WriteSerializable append rule).
    * Returns the committed version, or the current one if already
    * empty. */
  def truncateTable(spark: SparkSession, table: String): Long = {
    val snap = snapshot(spark, table)
    if (snap.files.isEmpty && snap.dvs.isEmpty) return snap.version
    commitAt(spark, table, snap.version, Nil,
      snap.files ++ snap.dvs.map(_.file))
  }

  /** The merge-on-read scan KEEPING the (__dv_file, __dv_pos) metadata
    * columns — what [[deleteWhereMor]] reads positions from. */
  private def scanWithDvsMeta(spark: SparkSession, table: String,
                              snap: Snapshot, files: Seq[String]): DataFrame = {
    val base = baseScan(spark, table, snap, files, withMeta = true)
    if (snap.dvs.isEmpty) base
    else {
      // explicit schema: no inference job over the vector files
      val vectors = snap.dvs.map(a => s"$table/${a.file}")
      val dv = spark.read.schema(LakeDv.DvSchema).parquet(vectors: _*)
      base.join(broadcast(dv), Seq("__dv_file", "__dv_pos"), "left_anti")
    }
  }

  /** All (app, batchId) idempotence markers committed so far. */
  def committedBatchIds(spark: SparkSession, table: String): Set[(String, Long)] =
    listVersions(spark, table)
      .flatMap(v => readTxnMarkers(spark, table, v)).toSet

  /** EXACTLY-ONCE micro-batch append: the commit carries an
    * `{"a":"txn","app":…,"id":batchId}` marker, and a REPLAYED epoch
    * (failure/restart re-delivery from a streaming checkpoint) finds
    * its id already committed and skips — the commit log doubles as
    * the sink's transaction log, which is precisely how a lakehouse
    * streaming sink gets exactly-once on top of its commit protocol.
    * Staging runs before the claim (it is the expensive part); the
    * marker re-check happens on EVERY claim attempt, so two replayed
    * epochs racing the same id resolve through put-if-absent: whoever
    * claims the version wins, the loser re-reads the log, sees the
    * marker, and skips. A crash (or lost race) between stage and
    * publish leaks only unpinned files — invisible to readers,
    * reclaimed by [[vacuum]] after its grace window. Returns the
    * version, or -1 if the batch was already committed. */
  def appendBatchCommit(spark: SparkSession, df: DataFrame, table: String,
                        app: String, batchId: Long): Long = {
    if (committedBatchIds(spark, table).contains((app, batchId))) return -1L
    checkWriterProtocol(spark, table)
    val adds = stage(spark, df, table)
    val marker = s"""{"a":"txn","app":"$app","id":$batchId}"""
    var attempt = 0
    while (attempt < 100) {
      if (committedBatchIds(spark, table).contains((app, batchId))) return -1L
      val latest = listVersions(spark, table).lastOption.getOrElse(-1L)
      if (tryPublish(spark, table, latest + 1, adds, Nil, Seq(marker)))
        return latest + 1
      attempt += 1
    }
    throw new CommitConflictException(
      s"gave up claiming a version in $table for ($app, $batchId)")
  }

  /** What one vacuum pass did. `orphansSkipped` counts unpublished
    * files left alone because they were younger than the grace period
    * (possibly mid-stage by a live writer). */
  final case class VacuumStats(examined: Int, deleted: Int, orphansSkipped: Int)

  private def horizonFile(table: String) = new Path(logDir(table), "_vacuum.json")
  private val HorizonRe = """\{"horizon":(\d+)\}""".r

  /** The vacuum retention horizon: the OLDEST version whose files are
    * guaranteed present (None before the first vacuum — all history
    * reads). Published atomically by [[vacuum]]; [[snapshot]] refuses
    * time travel below it at PLAN time, so a too-old read fails loudly
    * up front instead of mid-scan on a FileNotFound. */
  def vacuumHorizon(spark: SparkSession, table: String): Option[Long] = {
    val p = horizonFile(table)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) None
    else readFileText(fs, p).trim match {
      case HorizonRe(h) => Some(h.toLong)
      case bad => throw new IllegalArgumentException(
        s"corrupt vacuum horizon marker of $table: '$bad'")
    }
  }

  /** Physically delete data files referenced by NO retained snapshot
    * (the newest `retainLast` versions). This is the one operation that
    * trades history for storage: time travel OLDER than the retention
    * horizon stops working, BY CONTRACT — the horizon is published to
    * the log FIRST (atomic rename), so readers below it are refused at
    * plan time rather than crashing mid-scan; commits themselves stay,
    * so the log remains an audit trail. Live data is untouched because
    * the latest snapshot is always retained.
    *
    * Two safety classes of deletable file:
    *  - PUBLISHED then unpinned (appears in some commit's adds, no
    *    retained snapshot holds it): delete immediately — no writer can
    *    still be mid-flight on it, the log already owns its life cycle.
    *  - ORPHAN (never appears in any commit — a crashed stage, or a
    *    LIVE writer between stage and publish, which deliberately runs
    *    outside the commit path): delete only when older than
    *    `orphanGraceMs`, the Delta-style modification-time retention
    *    window that keeps vacuum from corrupting an in-flight commit. */
  def vacuum(spark: SparkSession, table: String, retainLast: Int,
             orphanGraceMs: Long = 15 * 60 * 1000L): VacuumStats = {
    require(retainLast >= 1, "must retain at least the latest snapshot")
    val vs = listVersions(spark, table)
    // a retainLast LARGER than a previous vacuum's cannot resurrect
    // history: versions below the standing horizon may already have
    // lost files, so only horizon-readable retained versions pin
    val priorHorizon = vacuumHorizon(spark, table).getOrElse(Long.MinValue)
    val retained = vs.takeRight(retainLast).filter(_ >= priorHorizon)
    require(retained.nonEmpty, s"no retained version of $table is readable " +
      s"above the standing vacuum horizon $priorHorizon")
    val referenced = retained.flatMap { v =>
      val s = snapshot(spark, table, Some(v))
      // deletion vectors and schema files are pinned files too
      s.files ++ s.dvs.map(_.file) ++ s.schemaFile.toSeq
    }.toSet
    val everPublished = vs
      .flatMap(v => readCommit(spark, table, v)).filter(_.add).map(_.file).toSet
    val dataDir = new Path(table, "data")
    val fs = fsOf(spark, dataDir)
    if (!fs.exists(dataDir)) return VacuumStats(0, 0, 0)
    // publish the new horizon BEFORE any delete: a crash in between
    // leaves a stricter gate over intact files — safe in that order only
    val newHorizon = retained.head // >= priorHorizon by the filter above
    val dest = horizonFile(table)
    val tmp = new Path(dest.getParent,
      s".tmp-${java.util.UUID.randomUUID.toString.take(8)}")
    val out = fs.create(tmp, false)
    try out.write(s"""{"horizon":$newHorizon}""".getBytes(UTF_8)) finally out.close()
    fs.delete(dest, false)
    require(fs.rename(tmp, dest), s"atomic horizon publish failed at $dest")
    val now = System.currentTimeMillis()
    def dirFiles(name: String): Array[(String, org.apache.hadoop.fs.FileStatus)] = {
      val d = new Path(table, name)
      if (fs.exists(d)) fs.listStatus(d).filter(_.isFile).map((name, _))
      else Array.empty
    }
    val statuses =
      fs.listStatus(dataDir).filter(_.isFile).map(("data", _)) ++
        dirFiles("dv") ++ dirFiles("meta")
    var deleted = 0
    var skipped = 0
    statuses.foreach { case (dir, st) =>
      val rel = s"$dir/${st.getPath.getName}"
      if (!referenced(rel)) {
        if (everPublished(rel) || now - st.getModificationTime > orphanGraceMs) {
          fs.delete(st.getPath, false)
          deleted += 1
        } else skipped += 1
      }
    }
    // crashed staging DIRECTORIES (.stage-*): invisible to readers but a
    // storage leak forever — reclaim past the same grace window a live
    // writer gets for its unpublished files
    fs.listStatus(new Path(table))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(".stage-"))
      .foreach { s =>
        if (now - s.getModificationTime > orphanGraceMs) {
          fs.delete(s.getPath, true)
          deleted += 1
        } else skipped += 1
      }
    VacuumStats(statuses.length, deleted, skipped)
  }

  /** Compaction THROUGH the log: stage the bin-packed rewrite of every
    * live file, then publish remove(old)+add(new) as one atomic commit.
    * A concurrent reader sees either the old file set or the new one —
    * never both, never neither (content is identical either way). Old
    * snapshots keep reading the old files. */
  def compactCommit(spark: SparkSession, table: String,
                    targetBytes: Long): Long = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val snap = snapshot(spark, table)
    val root = new Path(table)
    val fs = fsOf(spark, root)
    val bytes = snap.files.map(f => fs.getFileStatus(new Path(root, f)).getLen).sum
    val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    // merge-on-read applied at the pack: the rewrite MATERIALIZES any
    // live deletion vectors, so the commit also removes (purges) them —
    // compaction is how DV debt gets paid down
    val packed = scanWithDvs(spark, table, snap, snap.files)
      // coalesce, not repartition: each output task concatenates whole
      // input files, so no byte of the table crosses a shuffle
      .coalesce(nOut)
    // the read version rides into the commit: an interleaved rewrite of
    // any packed file aborts this compaction instead of resurrecting it
    commitAt(spark, table, snap.version, stage(spark, packed, table),
      snap.files ++ snap.dvs.map(_.file))
  }

  /** File-pruned copy-on-write MERGE through the log — the CDC apply.
    *
    * `changes` carries the table's columns plus `__op` ∈
    * {upsert, delete}; `keyCol` is the merge key. Only live files that
    * actually CONTAIN a changed key are rewritten: surviving rows of
    * those files (anti-join on the key) union the upsert rows (which
    * covers updates AND brand-new keys) become the staged replacement,
    * and remove(affected)+add(new) publishes as one commit. Files
    * without a changed key are untouched — at 100 TB a small change
    * batch rewrites a handful of files, not the table. The change-key
    * frame is broadcast (a CDC batch is small next to the table); the
    * affected-file list is driver-scale (file names). */
  def applyChanges(spark: SparkSession, table: String, changes: DataFrame,
                   keyCol: String, opCol: String = "__op"): Long = {
    val snap = snapshot(spark, table)
    // the base scan is merge-on-read (live deletion vectors applied) and
    // carries the file basename from _metadata — input_file_name() would
    // be undefined after the DV anti-join
    val base = scanWithDvsMeta(spark, table, snap, snap.files)
    val cols = base.columns.filterNot(c => c == "__dv_file" || c == "__dv_pos").toSeq
    val keys = changes.select(col(keyCol)).distinct()
    val affectedNames = base
      .join(broadcast(keys), Seq(keyCol), "left_semi")
      .select(col("__dv_file")).distinct()
      .collect().map(_.getString(0)).toSet
    val affected = snap.files.filter(f =>
      affectedNames.contains(f.substring(f.lastIndexOf('/') + 1)))
    val survivors =
      if (affected.isEmpty)
        scanWithDvs(spark, table, snap, snap.files).limit(0)
      else scanWithDvs(spark, table, snap, affected)
        .join(broadcast(keys), Seq(keyCol), "left_anti")
    val upserts = changes.filter(col(opCol) === "upsert").drop(opCol)
    val replacement = survivors.select(cols.map(col): _*)
      .unionByName(upserts.select(cols.map(col): _*))
    // optimistic CoW: carries the snapshot version it was computed from;
    // a conflicting interleaved rewrite of an affected file ABORTS the
    // merge (CommitConflictException) — never a silent lost update.
    // Fully-covered deletion vectors unpin and partially-covered ones
    // shrink in the same commit (the rewrite materialized their
    // tombstones for the replaced files; a stale vector would demote
    // pushdown and undercount the log-answered COUNT(*))
    val (dvAdds, dvRemoves) = rewriteDvs(spark, table, snap.dvs,
      affected.map(baseName).toSet)
    try {
      val dataAdds = stage(spark, replacement, table)
      try commitAt(spark, table, snap.version, dataAdds ++ dvAdds,
        affected ++ dvRemoves)
      catch { case t: Throwable => dropAdds(spark, table, dataAdds); throw t }
    } catch { case t: Throwable => dropAdds(spark, table, dvAdds); throw t }
  }

  /** MERGE-ON-READ CDC apply — the write-cheap twin of [[applyChanges]]
    * (Delta's low-shuffle merge shape): matched keys TOMBSTONE via a
    * deletion vector and the upsert rows (updates AND brand-new keys)
    * APPEND, in ONE atomic commit with ZERO data files removed — a
    * small change batch against a 100-TB table costs Θ(matched rows),
    * not a rewrite of every file holding a match; reads pay the DV mask
    * until a compaction materializes the debt. Same semantics as the
    * copy-on-write path: `changes` carries the table's columns plus
    * `__op` ∈ {upsert, delete}, keyed by `keyCol`. Conflict contract:
    * an interleaved removal of ANY read file, or a concurrent vector on
    * a shared file, RETRIES by recomputing from the fresh snapshot
    * (readDeps + DV-vs-DV rules — the retry's MoR scan excludes the
    * winner's tombstones, so it is duplicate-free). On a hive-
    * PARTITIONED table the upsert rows stage split per partition value
    * with stamped add actions, keeping the partitioned-table invariant.
    * Returns the committed version, or -1 if the batch changes
    * nothing. */
  def applyChangesMor(spark: SparkSession, table: String, changes: DataFrame,
                      keyCol: String, opCol: String = "__op",
                      maxDvPositions: Long = MaxDvPositions): Long =
    retryOnConflict(s"merge-on-read CDC apply on $table") {
      val snap = snapshot(spark, table)
      if (snap.files.isEmpty) -1L
      else {
        val base = scanWithDvsMeta(spark, table, snap, snap.files)
        val cols = base.columns.filterNot(c => c == "__dv_file" || c == "__dv_pos").toSeq
        val keys = changes.select(col(keyCol)).distinct()
        val positions = dvPositions(table, snap,
          base.join(broadcast(keys), Seq(keyCol), "left_semi"), maxDvPositions)
        val upserts = changes.filter(col(opCol) === "upsert").drop(opCol)
          .select(cols.map(col): _*)
        val dvAdds =
          if (positions.isEmpty) Nil
          else Seq(LakeDv.write(spark, table, positions))
        try {
          val dataAdds =
            if (upserts.isEmpty) Nil
            else stageDataLike(spark, upserts, table, snap)
          if (dvAdds.isEmpty && dataAdds.isEmpty) -1L
          else {
            try commitAt(spark, table, snap.version, dvAdds ++ dataAdds, Nil,
              readDeps = snap.files, dvBudget = maxDvPositions)
            catch { case t: Throwable =>
              dropAdds(spark, table, dataAdds); throw t }
          }
        } catch { case t: Throwable =>
          dropAdds(spark, table, dvAdds); throw t }
      }
    }

  // ------------------------------------------------------------------
  // graded queries
  // ------------------------------------------------------------------

  private[graft] def freshTable(spark: SparkSession, sfDir: String,
                                name: String): String = {
    val p = new Path(s"/tmp/graft_txn_${spark.sparkContext.applicationId}_" +
      sfDir.replaceAll("[^A-Za-z0-9]", "_") + s"_$name")
    val fs = fsOf(spark, p)
    if (fs.exists(p)) fs.delete(p, true)
    fs.mkdirs(p)
    p.toString
  }

  private def docCols(docs: DataFrame): DataFrame =
    docs.select("doc_id", "text", "lang", "source", "n_chars")

  /** lake_txn: the full transactional life cycle — two appends
    * (partitioned by lang so the later delete prunes files), a
    * file-pruned copy-on-write DELETE of lang='de', then a compaction —
    * every state change an atomic commit. Graded on the final snapshot
    * content: a reader that ignores removes double-counts through the
    * compaction; one that misses the delete resurrects 'de'. */
  def txnQuery(spark: SparkSession, docs: DataFrame, sfDir: String): DataFrame = {
    val t = freshTable(spark, sfDir, "txn")
    val d = docCols(docs)
    appendCommit(spark, d.filter(col("doc_id") % 2 === 0).repartition(2, col("lang")), t)
    appendCommit(spark, d.filter(col("doc_id") % 2 === 1).repartition(2, col("lang")), t)
    val dels = d.filter(col("lang") === "de").withColumn("__op", lit("delete"))
    applyChanges(spark, t, dels, "doc_id")
    compactCommit(spark, t, Long.MaxValue / 4)
    read(spark, t).orderBy("doc_id")
  }

  /** lake_time_travel: same life cycle, read AT VERSION 1 (after both
    * appends, before the delete and the compaction) — the full corpus.
    * Proves removes only unpin: the rewrites at v2/v3 must not corrupt
    * the v1 file set. */
  def timeTravelQuery(spark: SparkSession, docs: DataFrame, sfDir: String): DataFrame = {
    val t = freshTable(spark, sfDir, "tt")
    val d = docCols(docs)
    appendCommit(spark, d.filter(col("doc_id") % 2 === 0).repartition(2, col("lang")), t)
    appendCommit(spark, d.filter(col("doc_id") % 2 === 1).repartition(2, col("lang")), t)
    val dels = d.filter(col("lang") === "de").withColumn("__op", lit("delete"))
    applyChanges(spark, t, dels, "doc_id")
    compactCommit(spark, t, Long.MaxValue / 4)
    read(spark, t, asOf = Some(1L)).orderBy("doc_id")
  }

  /** lake_txn_log: the commit log ITSELF as a frame — per version the
    * add/remove counts and rows added, against a closed-form oracle
    * (deterministic file counts: round-robin repartition(2) appends,
    * coalesce-to-1 compaction). Grades the log structure the readers
    * trust. */
  def logQuery(spark: SparkSession, docs: DataFrame, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = freshTable(spark, sfDir, "log")
    val d = docCols(docs)
    appendCommit(spark, d.filter(col("doc_id") % 2 === 0).repartition(2), t)
    appendCommit(spark, d.filter(col("doc_id") % 2 === 1).repartition(2), t)
    compactCommit(spark, t, Long.MaxValue / 4)
    listVersions(spark, t).map { v =>
      val acts = readCommit(spark, t, v)
      (v, acts.count(_.add).toLong, acts.count(!_.add).toLong,
        acts.filter(_.add).map(_.rows).sum)
    }.toDF("version", "n_adds", "n_removes", "rows_added").orderBy("version")
  }

  /** lake_vacuum: the full transactional life cycle, then vacuum
    * retaining ONLY the latest snapshot — live content must be
    * untouched (the one thing vacuum must never change; the history
    * trade-off is spec-pinned). */
  def vacuumQuery(spark: SparkSession, docs: DataFrame, sfDir: String): DataFrame = {
    val t = freshTable(spark, sfDir, "vac")
    val d = docCols(docs)
    appendCommit(spark, d.filter(col("doc_id") % 2 === 0).repartition(2, col("lang")), t)
    appendCommit(spark, d.filter(col("doc_id") % 2 === 1).repartition(2, col("lang")), t)
    val dels = d.filter(col("lang") === "de").withColumn("__op", lit("delete"))
    applyChanges(spark, t, dels, "doc_id")
    compactCommit(spark, t, Long.MaxValue / 4)
    vacuum(spark, t, retainLast = 1)
    read(spark, t).orderBy("doc_id")
  }

  /** lake_txn_checkpoint: appends → CHECKPOINT → more commits → the
    * read folds from the checkpoint plus only the commits after it
    * (LakeTxnSpec pins the equality with the full fold); graded on the
    * final content like every lake query. */
  def checkpointQuery(spark: SparkSession, docs: DataFrame, sfDir: String): DataFrame = {
    val t = freshTable(spark, sfDir, "ckpt")
    val d = docCols(docs)
    appendCommit(spark, d.filter(col("doc_id") % 2 === 0).repartition(2, col("lang")), t)
    appendCommit(spark, d.filter(col("doc_id") % 2 === 1).repartition(2, col("lang")), t)
    checkpointLog(spark, t)
    val dels = d.filter(col("lang") === "de").withColumn("__op", lit("delete"))
    applyChanges(spark, t, dels, "doc_id")
    compactCommit(spark, t, Long.MaxValue / 4)
    read(spark, t).orderBy("doc_id")
  }

  /** stream_lake_txn: Structured Streaming micro-batches committing
    * into the txn log through [[appendBatchCommit]] — every epoch one
    * atomic commit with an idempotence marker (exactly-once under
    * replay, spec-pinned), the landed table read back THROUGH the log.
    * The lakehouse streaming-sink shape end to end. */
  def streamIngestQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val t = freshTable(spark, sfDir, "stream")
    val events = graft.streaming.EventsStream.readEvents(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"))
    val q = events.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        appendBatchCommit(spark, batch, t, app = "stream_lake_txn",
          batchId = epochId): Unit
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    read(spark, t).orderBy("event_id")
  }

  /** lake_txn_cdf: the CHANGE DATA FEED read OUT of the lake — the
    * row-level diff between two committed versions, computed by time
    * travel + content-hash full-outer diff ([[Incremental.snapshotDiff]]
    * composed over the txn log). v1's MERGE edits text (so the hash
    * diff sees 'changed'), inserts new keys, deletes a residue class;
    * the feed reports added/changed/removed/unchanged per key. */
  def cdfQuery(spark: SparkSession, docs: DataFrame, sfDir: String): DataFrame = {
    val t = freshTable(spark, sfDir, "cdf")
    val d = docCols(docs)
    appendCommit(spark, d.repartition(4), t)
    val updates = d.filter(col("doc_id") % 7 === 0 && col("doc_id") % 5 =!= 4)
      .withColumn("text", concat(col("text"), lit(" v2")))
      .withColumn("__op", lit("upsert"))
    val inserts = d.filter(col("doc_id") % 13 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000L)
      .withColumn("__op", lit("upsert"))
    val deletes = d.filter(col("doc_id") % 5 === 4)
      .withColumn("__op", lit("delete"))
    applyChanges(spark, t, updates.unionByName(inserts).unionByName(deletes), "doc_id")
    Incremental.snapshotDiff(read(spark, t, Some(0L)), read(spark, t))
  }

  /** lake_txn_concurrent: TWO writer threads interleaving append
    * commits through the put-if-absent protocol — no lock anywhere; a
    * loser's claim fails atomically (hard-link EEXIST), it re-reads the
    * log head and retries. Three batches race over two threads from a
    * shared base, then a compaction commits through the same optimistic
    * path. Graded on the final content: a lost update (two writers
    * claiming one version, one body silently overwritten) drops a
    * batch; the oracle is the full corpus. */
  def concurrentQuery(spark: SparkSession, docs: DataFrame, sfDir: String): DataFrame = {
    val t = freshTable(spark, sfDir, "conc")
    val d = docCols(docs)
    appendCommit(spark, d.filter(col("doc_id") % 4 === 0).repartition(2), t)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      (1L to 3L).map { r =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long =
            appendCommit(spark, d.filter(col("doc_id") % 4 === r), t)
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    compactCommit(spark, t, Long.MaxValue / 4)
    read(spark, t).orderBy("doc_id")
  }

  /** lake_txn_skipping: per-file min/max recorded in the commit log at
    * write time (range-partitioned sorted appends → tight disjoint
    * ranges), then a selective band read that prunes the file list from
    * the LOG alone — zero footer opens; LakeTxnSpec corrupts the
    * skipped files on disk and the read still succeeds, the proof they
    * are never touched. Graded on content: pruning must change nothing
    * but the files opened. */
  def skippingQuery(spark: SparkSession, orders: DataFrame, sfDir: String,
                    name: String): DataFrame = {
    val t = freshTable(spark, sfDir, name)
    val priced = orders.select(col("o_orderkey"),
      round(col("o_totalprice") * 100).cast("long").as("price_cents"),
      col("o_orderstatus"))
    appendCommitStats(spark,
      priced.repartitionByRange(8, col("price_cents"))
        .sortWithinPartitions("price_cents"), t, "price_cents")
    val (df, _, _) = readPruned(spark, t, "price_cents", 1000000L, 3000000L)
    df.orderBy("o_orderkey")
  }

  /** lake_txn_dv: the SAME delete as lake_txn, merge-on-read — two
    * appends, then lang='de' tombstoned by a deletion vector (ONE
    * commit, ZERO data files rewritten — LakeTxnSpec pins the unchanged
    * file set), then a second DV delete (doc_id % 31 = 7) stacking on
    * the first, read back through the DV anti-join. Same content
    * contract as the CoW path minus the extra residue class: a reader
    * that drops the vectors resurrects 'de'; one that misapplies
    * positions deletes the wrong rows — both hash-mismatch. */
  def dvQuery(spark: SparkSession, docs: DataFrame, sfDir: String): DataFrame = {
    val t = freshTable(spark, sfDir, "dv")
    val d = docCols(docs)
    appendCommit(spark, d.filter(col("doc_id") % 2 === 0).repartition(2, col("lang")), t)
    appendCommit(spark, d.filter(col("doc_id") % 2 === 1).repartition(2, col("lang")), t)
    deleteWhereMor(spark, t, col("lang") === "de")
    deleteWhereMor(spark, t, col("doc_id") % 31 === 7)
    read(spark, t).orderBy("doc_id")
  }

  /** lake_txn_evolve: SCHEMA EVOLUTION through the log — the first
    * append sets the base schema, the second arrives with a brand-new
    * `quality` column (schema-on-log: the new StructType pins in the
    * SAME commit as the data, and every pre-evolution file null-fills
    * the column at read time — zero rewrites, zero footer merging).
    * Graded on the unified read: wrong column order, a dropped null
    * backfill, or a silently coerced type all hash-mismatch. */
  def evolveQuery(spark: SparkSession, docs: DataFrame, sfDir: String): DataFrame = {
    val t = freshTable(spark, sfDir, "evolve")
    val d = docCols(docs)
    appendCommit(spark, d.filter(col("doc_id") % 2 === 0).repartition(2), t)
    appendCommitEvolve(spark,
      d.filter(col("doc_id") % 2 === 1)
        .withColumn("quality", col("n_chars") % 7), t)
    read(spark, t).orderBy("doc_id")
  }

  /** lake_txn_cdc: one MERGE commit carrying all three change kinds —
    * updates (lang → 'xx' for doc_id % 7 = 0), inserts (new keys
    * doc_id + 1000000 for doc_id % 13 = 0, lang 'new'), deletes
    * (doc_id % 5 = 4) — applied file-pruned copy-on-write through the
    * log. Change sets are key-disjoint (updates exclude the deleted
    * residue class) so the merge is order-free. */
  def cdcQuery(spark: SparkSession, docs: DataFrame, sfDir: String): DataFrame = {
    val t = freshTable(spark, sfDir, "cdc")
    val d = docCols(docs)
    appendCommit(spark, d.repartition(4), t)
    val updates = d.filter(col("doc_id") % 7 === 0 && col("doc_id") % 5 =!= 4)
      .withColumn("lang", lit("xx")).withColumn("__op", lit("upsert"))
    val inserts = d.filter(col("doc_id") % 13 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000L)
      .withColumn("lang", lit("new")).withColumn("__op", lit("upsert"))
    val deletes = d.filter(col("doc_id") % 5 === 4)
      .withColumn("__op", lit("delete"))
    applyChanges(spark, t, updates.unionByName(inserts).unionByName(deletes), "doc_id")
    read(spark, t).orderBy("doc_id")
  }

  /** lake_txn_cdc_mor: the SAME one-commit CDC batch as lake_txn_cdc
    * (updates + inserts + deletes, one oracle, two write engines),
    * applied MERGE-ON-READ through [[applyChangesMor]]: matched keys
    * tombstone via a deletion vector, upserts append, ZERO data files
    * removed (asserted in-query on the commit). The read pays the DV
    * mask — a wrong position, a resurrected match, or a dropped upsert
    * all hash-mismatch. */
  def cdcMorQuery(spark: SparkSession, docs: DataFrame, sfDir: String): DataFrame = {
    val t = freshTable(spark, sfDir, "cdcmor")
    val d = docCols(docs)
    appendCommit(spark, d.repartition(4), t)
    val updates = d.filter(col("doc_id") % 7 === 0 && col("doc_id") % 5 =!= 4)
      .withColumn("lang", lit("xx")).withColumn("__op", lit("upsert"))
    val inserts = d.filter(col("doc_id") % 13 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000L)
      .withColumn("lang", lit("new")).withColumn("__op", lit("upsert"))
    val deletes = d.filter(col("doc_id") % 5 === 4)
      .withColumn("__op", lit("delete"))
    val v = applyChangesMor(spark, t,
      updates.unionByName(inserts).unionByName(deletes), "doc_id")
    val acts = readCommit(spark, t, v)
    require(acts.forall(_.add) && acts.exists(_.dv) &&
      acts.exists(a => a.add && !a.dv && !a.schema),
      s"merge-on-read CDC commit $v must be adds + deletion vector with " +
        s"zero removed data files")
    read(spark, t).orderBy("doc_id")
  }

  /** lake_txn_zorder: a Z-ORDER clustered append — per-file min/max of
    * BOTH curve dimensions recorded in the log — answering a 2-D box
    * predicate through [[readPruned2]] with zero footer opens. Graded
    * on the box content (pruning that dropped a matching file would
    * lose rows; LakeSkipSpec pins that BOTH single-dimension bands
    * actually prune, the property a linear sort cannot give). */
  def zorderQuery(spark: SparkSession, orders: DataFrame, sfDir: String): DataFrame = {
    val t = freshTable(spark, sfDir, "zorder")
    val o = orders.select(col("o_orderkey"), col("o_custkey"),
      graft.rel.Relational.cents(col("o_totalprice")).as("price_cents"))
    appendCommitZorder(spark, o, t, "o_custkey", "price_cents", files = 16)
    val (df, _, _) = readPruned2(spark, t,
      "o_custkey", 1L, 300L, "price_cents", 1000000L, 3000000L)
    df.orderBy("o_orderkey")
  }

  /** lake_optimize_zorder: three UNCLUSTERED stat-less appends (the
    * accreted-ingest shape), then OPTIMIZE ZORDER re-clusters the whole
    * table copy-on-write — the box read afterwards prunes from the
    * log-recorded 2-D stats (LakeSkipSpec pins the before/after file
    * counts and that time travel keeps the pre-optimize layout). Graded
    * on the box content. */
  def optimizeZorderQuery(spark: SparkSession, orders: DataFrame,
                          sfDir: String): DataFrame = {
    val t = freshTable(spark, sfDir, "optz")
    val o = orders.select(col("o_orderkey"), col("o_custkey"),
      graft.rel.Relational.cents(col("o_totalprice")).as("price_cents"))
    for (r <- 0 until 3)
      appendCommit(spark, o.filter(col("o_orderkey") % 3 === r).repartition(4), t)
    optimizeZorder(spark, t, "o_custkey", "price_cents", files = 16)
    val (df, _, _) = readPruned2(spark, t,
      "o_custkey", 500L, 900L, "price_cents", 2000000L, 5000000L)
    df.orderBy("o_orderkey")
  }

  /** lake_txn_partition: hive-partitioned appends whose partition VALUES
    * live only in the log (the data files physically lack the lang
    * column); a two-partition read prunes the file list from the log
    * alone and reinjects the column as per-file literals (LakePartSpec
    * corrupts the other partitions' files to prove they are never
    * opened). Graded on the content of the `langs` partitions. */
  def partitionQuery(spark: SparkSession, docs: DataFrame, sfDir: String,
                     langs: Seq[String], name: String): DataFrame = {
    val t = freshTable(spark, sfDir, name)
    val d = docCols(docs)
    appendCommitPartitioned(spark, d.filter(col("doc_id") % 2 === 0), t, "lang")
    appendCommitPartitioned(spark, d.filter(col("doc_id") % 2 === 1), t, "lang")
    val (df, _, _) = readPartitions(spark, t, "lang", langs)
    df.orderBy("doc_id")
  }

  /** lake_compact: the documents fragmented into 64 small files in one
    * append (a stand-in for per-trigger ingest landings), then one
    * compaction commit to ~1 MiB targets. Graded on the compacted
    * snapshot's content — the one thing bin-packing must never change. */
  def compactQuery(spark: SparkSession, docs: DataFrame, sfDir: String): DataFrame = {
    val t = freshTable(spark, sfDir, "compact")
    appendCommit(spark, docCols(docs).repartition(64), t)
    compactCommit(spark, t, 1L << 20)
    docCols(read(spark, t)).orderBy("doc_id")
  }

  /** lake_txn_constraint: a CHECK constraint registered on a live table
    * (existing data validated first), a conforming append landing, and
    * a VIOLATING append aborting before anything stages — graded on the
    * final content: broken enforcement would land the poisoned batch
    * (negative n_chars) and hash-mismatch. Only the specific
    * ConstraintViolationException is absorbed; anything else fails the
    * query. */
  def constraintQuery(spark: SparkSession, docs: DataFrame, sfDir: String): DataFrame = {
    val t = freshTable(spark, sfDir, "constraint")
    val d = docCols(docs)
    appendCommit(spark, d.filter(col("doc_id") % 2 === 0).repartition(2), t)
    addConstraint(spark, t, "chars_nonneg", "n_chars >= 0 AND lang IS NOT NULL")
    appendCommit(spark, d.filter(col("doc_id") % 2 === 1).repartition(2), t)
    val poisoned = d.filter(col("doc_id") % 97 === 3)
      .withColumn("n_chars", lit(-1L))
    try {
      appendCommit(spark, poisoned, t)
      throw new IllegalStateException(
        "constraint enforcement is broken: the poisoned batch landed")
    } catch { case _: ConstraintViolationException => () }
    read(spark, t).orderBy("doc_id")
  }

  /** lake_txn_bloom: appends carrying per-file BLOOM FILTERS of doc_id
    * in their add actions; a 40-key point-lookup batch reads only files
    * whose filter might hold some probe (LakeSkipSpec corrupts the
    * skipped files to prove they are never opened and exhaustively
    * checks the no-false-negative contract). Graded on the lookup
    * content — a filter that false-negatived would drop a row. */
  def bloomQuery(spark: SparkSession, docs: DataFrame, sfDir: String): DataFrame = {
    val t = freshTable(spark, sfDir, "bloom")
    val d = docCols(docs)
    for (r <- 0 until 3)
      appendCommitBloom(spark, d.filter(col("doc_id") % 3 === r).repartition(4), t,
        keyCol = "doc_id")
    val keys = (0L until 40L).map(_ * 97L)
    val (df, _, _) = readBloomKeys(spark, t, "doc_id", keys)
    df.orderBy("doc_id")
  }
}
