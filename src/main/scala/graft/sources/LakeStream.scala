package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.{MessageType, MessageTypeParser, PrimitiveType}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.ext.LakeTxn

/** The transactional lake as a STREAMING SOURCE — a real DataSource V2
  * `MicroBatchStream` that tails the commit log, the Delta-source shape
  * the reference cannot express at all (its jobs are one-shot batch,
  * `interface.py`; there is no notion of a table that keeps growing).
  *
  * Contract:
  *  - OFFSETS ARE LOG VERSIONS. `{"version":v}` means "every commit
  *    ≤ v has been delivered". A micro-batch (start, end] plans exactly
  *    the data files ADDED by commits start+1..end — file lists come
  *    from the driver-scale log fold, never a directory listing, so
  *    planning a batch against a 100-TB table reads a handful of small
  *    JSON bodies.
  *  - EXACTLY-ONCE BY CONSTRUCTION. Version ranges are immutable once
  *    committed (data files are immutable and a commit file is never
  *    edited), so a replayed epoch re-plans byte-identical input; with
  *    an idempotent sink (e.g. [[LakeTxn.appendBatchCommit]]) the whole
  *    lake→lake pipeline is exactly-once end to end.
  *  - APPEND-ONLY RANGES. A commit that REMOVES files is not
  *    streamable: a rewrite (compaction/CoW merge — removes AND adds in
  *    one commit) re-adds rows the stream already delivered, so it
  *    always fails loudly. A delete-only commit (pure removes, or a
  *    deletion-vector add) fails unless `ignoreDeletes=true`, which
  *    skips the tombstones and keeps the already-delivered rows — the
  *    Delta `ignoreDeletes` contract. Schema commits pass through: the
  *    stream's schema is pinned at start; later files' new columns are
  *    projected away and files missing a pinned column null-fill it.
  *  - VACUUM SAFETY AT PLAN TIME. A batch whose range begins below the
  *    table's vacuum horizon fails loudly when planned (the files may
  *    be physically gone) — never a mid-scan FileNotFound.
  *
  * Options: `maxVersionsPerBatch` (at most that many commits per
  * micro-batch), `maxRowsPerBatch`/`maxFilesPerBatch` (Spark
  * `ReadMaxRows`/`ReadMaxFiles` admission control, decided from the
  * log-recorded per-file row counts — commits never split, at least
  * one commit always admits), `startingVersion` (first version to
  * deliver; default 0 = the whole table), `ignoreDeletes` (see above).
  *
  * Executor side: each input partition is ONE pinned parquet file read
  * through a projected parquet-column reader — `setRequestedSchema`
  * restricts the row-group fetch to the requested columns, so a
  * narrow stream over a wide table moves only the projected bytes
  * (the reader is handed the scan's pruned schema; pass
  * `.schema(subset)` or select downstream — both arrive here).
  * Supported column shapes are the lake's atomic types (bool, int8/16/
  * 32/64, float/double, date, string, binary, INT64-micros timestamps);
  * anything else fails loudly rather than decoding garbage.
  */
class LakeStreamSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-lake"
  override def supportsExternalMetadata(): Boolean = true

  private def path(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty, "graft-lake needs a table path: .load(<table root>)")
    p
  }

  /** Schema from the LOG when evolution governs, else from ONE live
    * footer (the parquet contract — never a directory-wide schema
    * merge), with partition columns that live only in the log appended
    * as nullable strings. */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    LakeStreamSource.tableSchemaOf(SparkSession.active, path(options),
      Option(options.get("versionAsOf")).map(_.toLong))

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new LakeStreamTable(path(opts), schema)
  }
}

object LakeStreamSource {
  /** The logical schema of a lake table: the governing schema-on-log
    * when one is pinned (which is how a just-created EMPTY catalog
    * table has a schema at all), else one live footer, plus any
    * log-only partition columns appended as nullable strings. */
  private[sources] def tableSchemaOf(spark: SparkSession, t: String,
                                     versionAsOf: Option[Long] = None): StructType = {
    val snap = LakeTxn.snapshot(spark, t, versionAsOf)
    val base = LakeTxn.tableSchema(spark, t, snap).getOrElse {
      require(snap.adds.nonEmpty,
        s"snapshot ${snap.version} of $t is empty and carries no schema")
      spark.read.parquet(s"$t/${snap.adds.head.file}").schema
    }
    val pvCols = snap.adds.flatMap(a => Option(a.pvCol)).distinct
      .filterNot(base.fieldNames.contains)
    pvCols.foldLeft(base)((st, pc) => st.add(pc, StringType, nullable = true))
  }
}

object LakeStreamTable {
  /** StructField-metadata marker of the table's partition column. Riding
    * the governing schema JSON keeps the log wire format UNCHANGED (old
    * engines read partitioned tables fine — they just write files that
    * carry the column physically, which the readers also handle), the
    * reason this needs no protocol bump. */
  val PvMetaKey = "graft.pv"

  /** The schema-declared partition column, if any (single identity
    * transform — the one shape file-level operations can honor exactly). */
  def pvColOf(schema: StructType): Option[String] =
    schema.fields.find(f => f.metadata.contains(PvMetaKey) &&
      f.metadata.getBoolean(PvMetaKey)).map(_.name)
}

/** `pinnedVersion` (catalog `VERSION AS OF` time travel) pins every
  * batch scan of this Table handle to that log version; writes against
  * a pinned handle are refused — history is read-only. */
/** Pushed source filters → a Spark `Column` predicate (exact, not
  * conservative — a DELETE must remove precisely the matching rows).
  * `None` = not translatable, the caller must refuse. */
private[sources] object LakeFilterColumn {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.sources._

  def apply(f: Filter): Option[Column] = f match {
    case _: AlwaysTrue => Some(lit(true))
    case _: AlwaysFalse => Some(lit(false))
    case EqualTo(c, v) => Some(col(c) === lit(v))
    case EqualNullSafe(c, v) => Some(col(c) <=> lit(v))
    case GreaterThan(c, v) => Some(col(c) > lit(v))
    case GreaterThanOrEqual(c, v) => Some(col(c) >= lit(v))
    case LessThan(c, v) => Some(col(c) < lit(v))
    case LessThanOrEqual(c, v) => Some(col(c) <= lit(v))
    case In(c, vs) => Some(col(c).isin(vs.toIndexedSeq: _*))
    case IsNull(c) => Some(col(c).isNull)
    case IsNotNull(c) => Some(col(c).isNotNull)
    case StringStartsWith(c, v) => Some(col(c).startsWith(v))
    case StringEndsWith(c, v) => Some(col(c).endsWith(v))
    case StringContains(c, v) => Some(col(c).contains(v))
    case And(l, r) => for (a <- apply(l); b <- apply(r)) yield a && b
    case Or(l, r) => for (a <- apply(l); b <- apply(r)) yield a || b
    case Not(x) => apply(x).map(!_)
    case _ => None
  }
}

final class LakeStreamTable(tablePath: String, tableSchema: StructType,
                            pinnedVersion: Option[Long] = None)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {
  override def name(): String = s"graft-lake `$tablePath`" +
    pinnedVersion.fold("")(v => s" @v$v")

  /** `_file` — the table-relative path of the row's file, injected by
    * the readers as a per-partition constant: the group identity
    * row-level operations (UPDATE/MERGE) coordinate on, and a plain
    * `SELECT _file, ...` debugging surface. Not preserved into writes
    * (a rewritten row gets a NEW file). */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = "_file"
      override def dataType(): DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String =
        "table-relative path of the file the row lives in"
      override def metadataInJSON(): String =
        """{"__preserve_on_delete": false, "__preserve_on_update": false, "__preserve_on_reinsert": false}"""
    })

  /** SQL `UPDATE` / `MERGE INTO` (and untranslatable `DELETE`s) as
    * GROUP-BASED copy-on-write: Spark plans the rewrite, this operation
    * supplies (a) a scan that serves full rows plus `_file` and accepts
    * the runtime group filter — only files that might hold a match are
    * read — and (b) a write that atomically replaces EXACTLY the
    * scanned files with the rewritten rows, conflict-checked against
    * the scan's read version. Translatable DELETEs still collapse to
    * the metadata deletion-vector path (Spark's
    * OptimizeMetadataOnlyDeleteFromTable + [[canDeleteWhere]]). */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo):
      org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(pinnedVersion.isEmpty,
      s"cannot ${info.command} $name: a VERSION AS OF handle is read-only history")
    () => new LakeRowLevelOperation(tablePath, tableSchema, info.command)
  }

  /** SQL `DELETE FROM ... WHERE <translatable predicate>` — a
    * merge-on-read deletion-vector commit ([[LakeTxn.deleteWhereMor]]):
    * zero data files rewritten, one atomic commit, read-side anti-join.
    * An untranslatable condition is refused at analysis
    * (`canDeleteWhere`) — Spark reports it rather than half-deleting.
    * `DELETE WHERE true` and SQL `TRUNCATE TABLE` unpin everything in
    * one commit instead of tombstoning every row. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    pinnedVersion.isEmpty && filters.forall(LakeFilterColumn(_).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(pinnedVersion.isEmpty,
      s"cannot DELETE from $name: a VERSION AS OF handle is read-only history")
    val spark = SparkSession.active
    if (filters.forall(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]))
      LakeTxn.truncateTable(spark, tablePath): Unit
    else {
      val cond = filters.map(f => LakeFilterColumn(f).getOrElse(
        throw new UnsupportedOperationException(
          s"DELETE condition not translatable to a source filter: $f")))
        .reduce(_ && _)
      LakeTxn.deleteWhereMor(spark, tablePath, cond): Unit
    }
  }

  override def truncateTable(): Boolean = {
    require(pinnedVersion.isEmpty,
      s"cannot TRUNCATE $name: a VERSION AS OF handle is read-only history")
    LakeTxn.truncateTable(SparkSession.active, tablePath)
    true
  }
  override def schema(): StructType = tableSchema

  /** Identity partitioning on the schema-declared partition column: the
    * SQL surface (`SHOW CREATE`, the writer distribution hints) sees
    * the table as partitioned; the files physically lack the column
    * (its values live only in the log's add actions). */
  override def partitioning(): Array[Transform] =
    LakeStreamTable.pvColOf(tableSchema)
      .map(pc => org.apache.spark.sql.connector.expressions.Expressions
        .identity(pc): Transform)
      .toArray

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER)

  /** APPEND writes through the connector: executors stage parquet under
    * a dot-dir (invisible to readers), the driver publishes ONE atomic
    * log commit of exactly the task-committed files (speculative losers
    * never publish — the commit coordinator admits one attempt per
    * partition, and stragglers die with the stage dir). Writes append
    * to EXISTING tables — bootstrap the first commit through
    * LakeTxn.appendCommit, which pins the schema reads validate
    * against. CHECK constraints and the writer protocol gate apply. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(pinnedVersion.isEmpty,
      s"cannot write to $name: a VERSION AS OF handle is read-only history")
    new WriteBuilder with org.apache.spark.sql.connector.write.SupportsOverwrite {
      // None = append; Some(None) = truncate-all; Some(Some(scope)) =
      // partition-scoped replace
      private var replace: Option[Option[(String, Seq[String])]] = None

      /** `mode("overwrite")` arrives as overwrite([AlwaysTrue]) via the
        * default truncate(); a `replaceWhere`/`replaceWhereValues`
        * option pair narrows it to a partition scope (the Delta
        * replaceWhere shape on the path API). A real filter array
        * (catalog `writeTo(...).overwrite(cond)`) must be equality/IN
        * on ONE column — the only shape file-level replacement can
        * honor exactly. */
      override def overwrite(filters: Array[Filter]): WriteBuilder = {
        import org.apache.spark.sql.sources.{AlwaysTrue, EqualNullSafe, EqualTo, In, IsNotNull, Or}
        val material = filters.filterNot(f =>
          f.isInstanceOf[AlwaysTrue] || f.isInstanceOf[IsNotNull])
        def flat(f: Filter): Seq[(String, String)] = f match {
          case EqualTo(c, v: String) => Seq((c, v))
          // static INSERT OVERWRITE ... PARTITION (c='v') arrives
          // null-safe; partition values are never null by contract,
          // so the scope is the same equality
          case EqualNullSafe(c, v: String) => Seq((c, v))
          case In(c, vs) if vs.forall(_.isInstanceOf[String]) =>
            vs.map(v => (c, v.asInstanceOf[String])).toSeq
          case Or(l, r) => flat(l) ++ flat(r)
          case other => throw new IllegalArgumentException(
            s"graft-lake overwrite supports equality/IN scopes on one " +
              s"string partition column (got $other)")
        }
        replace = Some {
          if (material.isEmpty) {
            val rwCol = info.options.get("replaceWhere")
            val rwVals = info.options.get("replaceWhereValues")
            require((rwCol == null) == (rwVals == null),
              "replaceWhere and replaceWhereValues come together")
            if (rwCol == null) None
            else Some((rwCol, rwVals.split(",").map(_.trim).toSeq))
          } else {
            val pairs = material.toSeq.flatMap(flat)
            val cols = pairs.map(_._1).distinct
            require(cols.size == 1,
              s"overwrite scope must target ONE column (got ${cols.mkString(", ")})")
            Some((cols.head, pairs.map(_._2).distinct))
          }
        }
        this
      }

      override def build(): Write = new Write {
        // the partition column from THIS handle's schema metadata, or —
        // path-API writes construct the Table from the QUERY's schema
        // (no metadata) — from the log's governing schema, so a
        // writeStream/df.write into a partitioned table still splits
        private val pvc = LakeStreamTable.pvColOf(tableSchema).orElse {
          val spark = SparkSession.active
          if (LakeTxn.listVersions(spark, tablePath).isEmpty) None
          else LakeTxn.tableSchema(spark, tablePath,
            LakeTxn.snapshot(spark, tablePath))
            .flatMap(LakeStreamTable.pvColOf)
        }
        pvc.foreach(pc => require(info.schema().fieldNames.contains(pc),
          s"a write into the PARTITIONED table $name must carry its " +
            s"partition column '$pc'"))
        override def toBatch(): BatchWrite = replace match {
          case None =>
            new LakeBatchWrite(tablePath, info.schema(), info.queryId(), pvc)
          case Some(scope) => pvc match {
            case None =>
              new LakeOverwriteBatchWrite(tablePath, info.schema(),
                info.queryId(), scope)
            case Some(pc) =>
              // partitioned tables overwrite PARTITIONS, exactly —
              // `INSERT OVERWRITE ... PARTITION (pc='v')` arrives as an
              // equality scope on pc; a blind truncate-and-append (plain
              // INSERT OVERWRITE / mode("overwrite")) is refused: it
              // would erase partitions the replacement never names
              val sc = scope.getOrElse(throw new IllegalArgumentException(
                s"overwrite of the PARTITIONED table $name must target " +
                  s"the partition column '$pc' (INSERT OVERWRITE ... " +
                  s"PARTITION ($pc='v'), or writeTo.overwrite($pc = 'v')); " +
                  s"a blind truncate-and-append would erase every other " +
                  s"partition"))
              require(sc._1 == pc,
                s"overwrite scope of $name must be on its partition " +
                  s"column '$pc' (got '${sc._1}'): file-level replacement " +
                  s"is only exact along the partitioning")
              new LakeOverwriteBatchWrite(tablePath, info.schema(),
                info.queryId(), Some(sc), Some(pc))
          }
        }
        /** The EXACTLY-ONCE streaming sink: each epoch publishes as one
          * atomic commit carrying an `(app, epochId)` idempotence
          * marker, so replayed epochs (failure recovery, or a full
          * re-run from a fresh checkpoint under the same `txnAppId`)
          * skip instead of doubling rows. `app` defaults to the
          * streaming query id (per-checkpoint exactly-once, the
          * standard sink contract); set `txnAppId` for a stable
          * cross-checkpoint identity — the Delta txnAppId shape. */
        override def toStreaming(): StreamingWrite = {
          require(replace.isEmpty,
            "graft-lake streams append-only (no complete/truncate mode): " +
              "an overwriting stream would erase delivered history per epoch")
          new LakeStreamingWrite(tablePath, info.schema(),
            Option(info.options.get("txnAppId")).getOrElse(info.queryId()),
            info.queryId(), pvc)
        }
      }
    }
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
        with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
        with org.apache.spark.sql.connector.read.SupportsPushDownLimit {
      private var required: StructType = tableSchema
      private var pushed: Array[Filter] = Array.empty
      private var limitRows: Option[Int] = None

      /** PARTIAL limit pushdown (Spark keeps its own limit — always
        * safe): the batch plans only a file-list PREFIX covering the
        * limit from log row counts, so `LIMIT 10` on a million-file
        * table reads one file. File pruning applies only when nothing
        * else filters rows (no residual filters, no deletion vectors —
        * checked at plan time). */
      override def pushLimit(limit: Int): Boolean = {
        limitRows = Some(limit); true
      }
      private def effectiveVersion: Option[Long] =
        pinnedVersion.orElse(Option(options.get("versionAsOf")).map(_.toLong))

      override def pruneColumns(s: StructType): Unit = required = s

      /** ALL filters stay in the plan as residuals (the return value):
        * the connector uses them ADVISORILY, to prune the file list
        * from the log — the parquet-stats contract. `pushedFilters()`
        * reports the ones the prune consults, which the plan shows. */
      override def pushFilters(fs: Array[Filter]): Array[Filter] = {
        pushed = fs; fs
      }
      override def pushedFilters(): Array[Filter] = pushed

      /** Global COUNT/MIN/MAX answered from the LOG alone — zero data
        * file opens (the metadata-only aggregate every lakehouse
        * serves): COUNT(*) = Σ add rows − tombstones; COUNT(col) =
        * Σ rows − Σ nullCount when every file records one; MIN/MAX(col)
        * fold the exact per-file INT64 footer bands (all-null files
        * contribute nothing — provably all-null only). The tombstone
        * term is Σ raw DV cardinalities ONLY when the log can prove it
        * exact — every live vector records its referenced basenames
        * (`"dr"`), all of them live, pairwise disjoint (stacked or
        * stale vectors could double-count or count positions into
        * removed files); otherwise the vectors load through the guarded
        * [[LakeDv]] driver loader, which dedups stacked positions and
        * drops stale basenames — still zero DATA file opens. Refused
        * (→ the normal distributed plan) whenever anything could lie:
        * group-bys, residual filters, distinct, any file without the
        * needed stat — and, for everything EXCEPT COUNT(*), live
        * deletion vectors (a vector may tombstone the extreme row or
        * an unknown mix of nulls). Complete pushdown: the scan emits
        * the ONE final row. */
      private var aggAnswer: Option[(StructType, Array[Any], String)] = None

      private def tryAnswer(agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation):
          Option[(StructType, Array[Any], String)] = {
        import org.apache.spark.sql.connector.expressions.NamedReference
        import org.apache.spark.sql.connector.expressions.aggregate._
        if (agg.groupByExpressions.nonEmpty || pushed.nonEmpty) return None
        val spark = SparkSession.active
        val snap = LakeTxn.snapshot(spark, tablePath, effectiveVersion)
        // tombstones make every per-file stat a potential lie EXCEPT the
        // global row count, which the log knows exactly
        if (snap.dvs.nonEmpty &&
          !agg.aggregateExpressions.forall(_.isInstanceOf[CountStar])) return None
        val dvRows = LakeDv.exactTombstones(spark, tablePath, snap)
        val sxs = snap.adds.map(a => a -> LakeTxn.decodeSx(a.sx)).toMap
        def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
          e match {
            case nr: NamedReference if nr.fieldNames.length == 1 =>
              Some(nr.fieldNames.head)
            case _ => None
          }
        /** (lo, hi) of one file for col, or None-contributing (empty /
          * provably all-null), or unanswerable. */
        def fileBand(a: LakeTxn.Action, c: String): Either[Unit, Option[(Long, Long)]] =
          if (a.rows == 0L) Right(None)
          else if (a.statsCol == c) Right(Some((a.lo, a.hi)))
          else if (a.statsCol2 == c) Right(Some((a.lo2, a.hi2)))
          else sxs(a).get(c) match {
            case Some((lo, hi, _)) if lo <= hi => Right(Some((lo, hi)))
            case Some((_, _, nn)) if nn == a.rows => Right(None) // all-null
            case _ => Left(())
          }
        def extremum(c: String, wantMin: Boolean): Option[Any] = {
          val bands = snap.adds.map(fileBand(_, c))
          if (bands.exists(_.isLeft)) None
          else {
            val bs = bands.collect { case Right(Some(b)) => b }
            Some(if (bs.isEmpty) null
            else if (wantMin) Long.box(bs.map(_._1).min)
            else Long.box(bs.map(_._2).max))
          }
        }
        val rowsTotal = snap.adds.map(_.rows).sum
        val answered = agg.aggregateExpressions.toSeq.map {
          case _: CountStar =>
            Some(("count(*)", LongType, false, Long.box(rowsTotal - dvRows)))
          case cnt: Count if !cnt.isDistinct =>
            colOf(cnt.column).flatMap { c =>
              val nns = snap.adds.map(a =>
                if (a.rows == 0L) Some(0L)
                else sxs(a).get(c).collect { case (_, _, nn) if nn >= 0 => nn })
              if (nns.exists(_.isEmpty)) None
              else Some((s"count($c)", LongType, false,
                Long.box(rowsTotal - nns.flatten.sum)))
            }
          case m: Min => colOf(m.column).flatMap(c =>
            extremum(c, wantMin = true).map(v => (s"min($c)", LongType, true, v)))
          case m: Max => colOf(m.column).flatMap(c =>
            extremum(c, wantMin = false).map(v => (s"max($c)", LongType, true, v)))
          case _ => None
        }
        if (answered.exists(_.isEmpty)) None
        else {
          val flat = answered.flatten
          Some((StructType(flat.map(f => StructField(f._1, f._2, f._3))),
            flat.map(_._4).toArray,
            flat.map(_._1).mkString(", ")))
        }
      }

      override def pushAggregation(
          agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
        aggAnswer = tryAnswer(agg)
        aggAnswer.isDefined
      }

      override def supportCompletePushDown(
          agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
        if (aggAnswer.isEmpty) aggAnswer = tryAnswer(agg)
        aggAnswer.isDefined
      }

      override def build(): Scan = aggAnswer match {
        case Some((aggSchema, values, desc)) =>
          new LakeAggScan(tablePath, aggSchema, values, desc)
        case None => buildFileScan()
      }

      private def buildFileScan(): Scan = new Scan
          with org.apache.spark.sql.connector.read.SupportsReportStatistics
          with org.apache.spark.sql.connector.read.SupportsReportPartitioning {
        override def readSchema(): StructType = required
        override def description(): String =
          s"graft-lake `$tablePath` pushed=[${pushed.mkString(", ")}]"

        /** ONE batch per scan: `outputPartitioning` and
          * `planInputPartitions` must describe the same plan. */
        private lazy val batch =
          new LakeBatch(tablePath, required, pushed, effectiveVersion, limitRows)

        override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning =
          batch.reportedPartitioning

        /** Table statistics from the LOG (post-prune): row counts and
          * file bytes fold from the add actions Catalyst's pushed
          * filters admit — so a small lake table AUTO-BROADCASTS in
          * joins without a hint, and a selective scan advertises its
          * pruned size, not the table's. Files from pre-bytes logs
          * estimate as rows × schema width (conservative). Tombstones
          * subtract only when the log PROVES the raw sum exact against
          * the kept files ([[LakeDv.rawRowsExact]] — refs recorded,
          * live, disjoint); a stacked/stale/refs-less vector set
          * subtracts nothing, over-estimating, which only errs on the
          * safe side of a broadcast decision. */
        override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
          val spark = SparkSession.active
          val snap = LakeTxn.snapshot(spark, tablePath, effectiveVersion)
          val kept = snap.adds.filter(a => LakePrune.allowsAll(a, pushed))
          val keptBase = kept.map(a => LakeTxn.baseName(a.file)).toSet
          val dvRows =
            if (LakeDv.rawRowsExact(snap, keptBase)) snap.dvs.map(_.rows).sum
            else 0L
          val rows = math.max(0L, kept.map(_.rows).sum - dvRows)
          val rowWidth = math.max(1L, required.defaultSize.toLong)
          val bytes = kept.map(a =>
            if (a.bytes >= 0) a.bytes else a.rows * rowWidth).sum
          new org.apache.spark.sql.connector.read.Statistics {
            override def sizeInBytes(): java.util.OptionalLong =
              java.util.OptionalLong.of(math.max(1L, bytes))
            override def numRows(): java.util.OptionalLong =
              java.util.OptionalLong.of(rows)
          }
        }
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
          require(pinnedVersion.isEmpty,
            s"cannot stream from $name: a VERSION AS OF handle is static " +
              s"history (use startingVersion to begin a tail mid-log)")
          new LakeMicroBatchStream(tablePath, required,
            maxVersionsPerBatch =
              Option(options.get("maxVersionsPerBatch")).map(_.toLong),
            startingVersion =
              Option(options.get("startingVersion")).map(_.toLong).getOrElse(0L),
            ignoreDeletes = options.getBoolean("ignoreDeletes", false),
            maxRowsPerBatch =
              Option(options.get("maxRowsPerBatch")).map(_.toLong),
            maxFilesPerBatch =
              Option(options.get("maxFilesPerBatch")).map(_.toInt))
        }
        override def toBatch(): Batch = batch
      }
    }
}

/** A fully log-answered aggregate: ONE partition whose reader emits the
  * single final row computed at plan time from commit metadata — the
  * scan never opens a data file (LakeAggPushdownSpec corrupts every
  * file and the answer still stands). */
final class LakeAggScan(table: String, aggSchema: StructType,
                        values: Array[Any], desc: String)
    extends Scan with Batch {
  override def readSchema(): StructType = aggSchema
  override def description(): String =
    s"graft-lake `$table` aggregates answered from log: [$desc]"
  override def toBatch(): Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    Array(LakeAggPartition(values))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private var emitted = false
          override def next(): Boolean = if (emitted) false else { emitted = true; true }
          override def get(): InternalRow = new GenericInternalRow(
            p.asInstanceOf[LakeAggPartition].values.clone())
          override def close(): Unit = ()
        }
    }
}

final case class LakeAggPartition(values: Array[Any]) extends InputPartition

/** Conservative per-file admission of Catalyst-pushed filters against
  * the LOG-recorded metadata of one add action: INT64 min/max bands
  * (the z-order dimensions AND every column of the n-column stats
  * map), nullCount for IS (NOT) NULL, bloom membership for
  * equality/IN, and partition values. Unknown filter shapes or columns
  * admit the file — pruning may only ever SKIP files that provably
  * hold no matching row. */
private[graft] object LakePrune {
  import org.apache.spark.sql.sources._
  import graft.ext.LakeTxn.Action

  /** col -> (lo, hi, nullCount); see [[LakeTxn.encodeSx]]. */
  private type Sx = Map[String, (Long, Long, Long)]
  /** col -> (minPrefix, maxBound) truncated UTF-8 string band. */
  private type SxS = Map[String, (String, String)]

  /** Parse the stats map ONCE per file, then check every filter. */
  def allowsAll(a: Action, fs: Array[Filter]): Boolean = {
    val sx: Sx = graft.ext.LakeTxn.decodeSx(a.sx)
    val sxs: SxS = graft.ext.LakeTxn.decodeSxStr(a.sx)
    fs.forall(allows(a, sx, sxs, _))
  }

  private def asLong(v: Any): Option[Long] = v match {
    case n: Long => Some(n)
    case n: Int => Some(n.toLong)
    case n: Short => Some(n.toLong)
    case n: Byte => Some(n.toLong)
    case _ => None
  }

  private def asLongs(vs: Array[Any]): Option[Seq[Long]] = {
    val ls = vs.flatMap(asLong)
    if (ls.length == vs.length) Some(ls.toSeq) else None
  }

  /** The [lo, hi] band the log records for `col` on this file, if any
    * (1-D/2-D stats columns, else the stats map; `lo > hi` = no band). */
  private def band(a: Action, sx: Sx, col: String): Option[(Long, Long)] =
    if (a.statsCol == col) Some((a.lo, a.hi))
    else if (a.statsCol2 == col) Some((a.lo2, a.hi2))
    else sx.get(col).collect { case (lo, hi, _) if lo <= hi => (lo, hi) }

  /** Bloom filters are written over BIGINT keys only (xxhash64 of the
    * Long); a filter value of any OTHER runtime type would have hashed
    * differently on the write side, so widening it here could false-
    * negative — admit instead. */
  private def bloomHit(a: Action, col: String, v: Any): Boolean =
    if (a.bloomCol != col) true
    else v match {
      case l: Long => LakeTxn.bloomMightContainKey(a.bloom, l)
      case _ => true
    }

  private def pvHit(a: Action, col: String, v: Any): Boolean =
    if (a.pvCol != col) true
    else v match { case s: String => a.pvValue == s; case _ => true }

  /** String-band admission under binary UTF-8 order. The recorded band
    * is (lower bound ≤ real min, upper bound ≥ real max) — truncation-
    * safe by construction, so every check below only ever SKIPS files
    * provably outside the predicate. Non-string filter values admit. */
  private def strOk(sxs: SxS, c: String, v: Any, op: String): Boolean =
    (sxs.get(c), v) match {
      case (Some((lo, hi)), s: String) =>
        import graft.ext.LakeTxn.utf8Cmp
        op match {
          case "eq" => utf8Cmp(s, lo) >= 0 && utf8Cmp(s, hi) <= 0
          case "gt" => utf8Cmp(hi, s) > 0
          case "gtEq" => utf8Cmp(hi, s) >= 0
          case "lt" => utf8Cmp(lo, s) < 0
          case "ltEq" => utf8Cmp(lo, s) <= 0
          case _ => true
        }
      case _ => true
    }

  private def allows(a: Action, sx: Sx, sxs: SxS, f: Filter): Boolean = f match {
    case And(l, r) => allows(a, sx, sxs, l) && allows(a, sx, sxs, r)
    case Or(l, r) => allows(a, sx, sxs, l) || allows(a, sx, sxs, r)
    case EqualTo(c, v) =>
      band(a, sx, c).forall(b => asLong(v).forall(l => l >= b._1 && l <= b._2)) &&
        strOk(sxs, c, v, "eq") && bloomHit(a, c, v) && pvHit(a, c, v)
    case In(c, vs) =>
      band(a, sx, c).forall(b => asLongs(vs).forall(_.exists(l =>
        l >= b._1 && l <= b._2))) &&
        (!sxs.contains(c) || vs.exists(strOk(sxs, c, _, "eq"))) &&
        (a.bloomCol != c || vs.exists {
          case l: Long => LakeTxn.bloomMightContainKey(a.bloom, l)
          case _ => true // non-Long value: hashed differently at write, admit
        }) &&
        (a.pvCol != c || vs.exists {
          case s: String => a.pvValue == s
          case _ => true
        })
    case GreaterThan(c, v) =>
      band(a, sx, c).forall(b => asLong(v).forall(l => b._2 > l)) &&
        strOk(sxs, c, v, "gt")
    case GreaterThanOrEqual(c, v) =>
      band(a, sx, c).forall(b => asLong(v).forall(l => b._2 >= l)) &&
        strOk(sxs, c, v, "gtEq")
    case LessThan(c, v) =>
      band(a, sx, c).forall(b => asLong(v).forall(l => b._1 < l)) &&
        strOk(sxs, c, v, "lt")
    case LessThanOrEqual(c, v) =>
      band(a, sx, c).forall(b => asLong(v).forall(l => b._1 <= l)) &&
        strOk(sxs, c, v, "ltEq")
    case StringStartsWith(c, v) =>
      // rows matching `v*` sort in [v, upper(v)): the band must reach v
      strOk(sxs, c, v, "gtEq")
    // nullCount pruning from the stats map: a file with zero nulls in c
    // holds no IS NULL row; one that is ALL nulls holds no IS NOT NULL
    // row. -1 (unknown) admits both ways.
    case IsNull(c) =>
      sx.get(c).forall { case (_, _, nn) => nn != 0L }
    case IsNotNull(c) =>
      sx.get(c).forall { case (_, _, nn) => nn == -1L || nn < a.rows }
    case _ => true
  }
}

/** Spark pushed filters → a parquet `FilterPredicate` for ROW-GROUP
  * pruning inside the V2 reader — the parquet-native second skipping
  * tier under the log-level file pruning: a file the log admits may
  * still skip most of its row groups from footer min/max + dictionary
  * pages. Typing comes from the SPARK schema (the lake's write contract
  * fixes the physical parquet type per Spark type for both the V2
  * writer and staged Spark writes). Unconvertible shapes → None —
  * conservative by construction: Spark always re-applies the full
  * filter as a residual, so pruning may only SKIP provably-empty
  * groups, never decide membership. */
private[sources] object LakeParquetFilters {
  import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
  import org.apache.parquet.io.api.Binary
  import org.apache.spark.sql.sources._

  def predicate(schema: StructType, fs: Array[Filter]): Option[FilterPredicate] =
    fs.flatMap(convert(schema, _)) match {
      case Array() => None
      case ps => Some(ps.reduce(FilterApi.and))
    }

  private def dtOf(schema: StructType, name: String): Option[DataType] =
    schema.fields.find(_.name == name).map(_.dataType)

  private type Cmp = Option[FilterPredicate]

  /** One comparison, dispatched on (spark type, op). INT32-backed types
    * (int/short/byte/date) compare through intColumn; timestamps and
    * binary are skipped (rebase/ordering subtleties are not worth a
    * prune). */
  private def cmp(dt: DataType, c: String, v: Any, op: String): Cmp = {
    def intVal: Option[java.lang.Integer] = v match {
      case i: java.lang.Integer => Some(i)
      case s: java.lang.Short => Some(s.intValue)
      case b: java.lang.Byte => Some(b.intValue)
      case _ => None
    }
    (dt, op) match {
      case (LongType, _) => v match {
        case l: java.lang.Long => Some(op match {
          case "eq" => FilterApi.eq(FilterApi.longColumn(c), l)
          case "gt" => FilterApi.gt(FilterApi.longColumn(c), l)
          case "gtEq" => FilterApi.gtEq(FilterApi.longColumn(c), l)
          case "lt" => FilterApi.lt(FilterApi.longColumn(c), l)
          case "ltEq" => FilterApi.ltEq(FilterApi.longColumn(c), l)
        })
        case _ => None
      }
      case (IntegerType | ShortType | ByteType, _) => intVal.map(i => op match {
        case "eq" => FilterApi.eq(FilterApi.intColumn(c), i)
        case "gt" => FilterApi.gt(FilterApi.intColumn(c), i)
        case "gtEq" => FilterApi.gtEq(FilterApi.intColumn(c), i)
        case "lt" => FilterApi.lt(FilterApi.intColumn(c), i)
        case "ltEq" => FilterApi.ltEq(FilterApi.intColumn(c), i)
      })
      case (DoubleType, _) => v match {
        case d: java.lang.Double => Some(op match {
          case "eq" => FilterApi.eq(FilterApi.doubleColumn(c), d)
          case "gt" => FilterApi.gt(FilterApi.doubleColumn(c), d)
          case "gtEq" => FilterApi.gtEq(FilterApi.doubleColumn(c), d)
          case "lt" => FilterApi.lt(FilterApi.doubleColumn(c), d)
          case "ltEq" => FilterApi.ltEq(FilterApi.doubleColumn(c), d)
        })
        case _ => None
      }
      case (FloatType, _) => v match {
        case f: java.lang.Float => Some(op match {
          case "eq" => FilterApi.eq(FilterApi.floatColumn(c), f)
          case "gt" => FilterApi.gt(FilterApi.floatColumn(c), f)
          case "gtEq" => FilterApi.gtEq(FilterApi.floatColumn(c), f)
          case "lt" => FilterApi.lt(FilterApi.floatColumn(c), f)
          case "ltEq" => FilterApi.ltEq(FilterApi.floatColumn(c), f)
        })
        case _ => None
      }
      case (StringType, _) => v match {
        case s: String =>
          val b = Binary.fromString(s)
          Some(op match {
            case "eq" => FilterApi.eq(FilterApi.binaryColumn(c), b)
            case "gt" => FilterApi.gt(FilterApi.binaryColumn(c), b)
            case "gtEq" => FilterApi.gtEq(FilterApi.binaryColumn(c), b)
            case "lt" => FilterApi.lt(FilterApi.binaryColumn(c), b)
            case "ltEq" => FilterApi.ltEq(FilterApi.binaryColumn(c), b)
          })
        case _ => None
      }
      case (BooleanType, "eq") => v match {
        case b: java.lang.Boolean => Some(FilterApi.eq(FilterApi.booleanColumn(c), b))
        case _ => None
      }
      case _ => None
    }
  }

  /** Typed IS (NOT) NULL: eq/notEq against a typed null. */
  private def nullCmp(dt: DataType, c: String, isNull: Boolean): Cmp = dt match {
    case LongType =>
      Some(if (isNull) FilterApi.eq(FilterApi.longColumn(c), null: java.lang.Long)
      else FilterApi.notEq(FilterApi.longColumn(c), null: java.lang.Long))
    case IntegerType | ShortType | ByteType | DateType =>
      Some(if (isNull) FilterApi.eq(FilterApi.intColumn(c), null: java.lang.Integer)
      else FilterApi.notEq(FilterApi.intColumn(c), null: java.lang.Integer))
    case DoubleType =>
      Some(if (isNull) FilterApi.eq(FilterApi.doubleColumn(c), null: java.lang.Double)
      else FilterApi.notEq(FilterApi.doubleColumn(c), null: java.lang.Double))
    case StringType =>
      Some(if (isNull) FilterApi.eq(FilterApi.binaryColumn(c), null: Binary)
      else FilterApi.notEq(FilterApi.binaryColumn(c), null: Binary))
    case _ => None
  }

  private val InChainCap = 20

  private[sources] def convert(schema: StructType, f: Filter): Cmp = f match {
    // And may conservatively keep EITHER side: a surviving group must
    // satisfy both, so pruning on one alone only admits extra groups
    case And(l, r) => (convert(schema, l), convert(schema, r)) match {
      case (Some(a), Some(b)) => Some(FilterApi.and(a, b))
      case (a, b) => a.orElse(b)
    }
    // Or needs BOTH sides — dropping one would prune groups the other
    // side might match
    case Or(l, r) => for (a <- convert(schema, l); b <- convert(schema, r))
      yield FilterApi.or(a, b)
    case EqualTo(c, v) => dtOf(schema, c).flatMap(cmp(_, c, v, "eq"))
    case GreaterThan(c, v) => dtOf(schema, c).flatMap(cmp(_, c, v, "gt"))
    case GreaterThanOrEqual(c, v) => dtOf(schema, c).flatMap(cmp(_, c, v, "gtEq"))
    case LessThan(c, v) => dtOf(schema, c).flatMap(cmp(_, c, v, "lt"))
    case LessThanOrEqual(c, v) => dtOf(schema, c).flatMap(cmp(_, c, v, "ltEq"))
    case IsNull(c) => dtOf(schema, c).flatMap(nullCmp(_, c, isNull = true))
    case IsNotNull(c) => dtOf(schema, c).flatMap(nullCmp(_, c, isNull = false))
    // null elements of an IN can never match a row — skipping them is
    // exact, not just conservative
    case In(c, vs) if vs.nonEmpty && vs.length <= InChainCap =>
      dtOf(schema, c).flatMap { dt =>
        val parts = vs.filter(_ != null).flatMap(cmp(dt, c, _, "eq"))
        if (parts.isEmpty || parts.length != vs.count(_ != null)) None
        else Some(parts.reduce(FilterApi.or))
      }
    case _ => None
  }
}

/** Deletion vectors: the ONE codec every vector read and write goes
  * through, on the driver. A vector is a parquet file under `dv/` of
  * `(__dv_file STRING, __dv_pos INT64)` pairs ([[DvSchema]]) — a data
  * file's basename and a tombstoned row ordinal in it. Vectors are
  * bounded metadata ([[MaxDvPositions]]), so they are read with
  * parquet-hadoop's `ParquetReader` and written with its
  * `ExampleParquetWriter` in the driver process: no Spark job, no
  * query planning, no schema inference. The one Spark reader of vector
  * files left is the merge-on-read WRITE scan's broadcast anti-join
  * (`LakeTxn`), and it reads with the explicit [[DvSchema]].
  *
  * Loading is guarded: a vector set past [[MaxDvPositions]] is no
  * longer "small metadata" — the table owes a compaction, so the load
  * refuses loudly rather than ship an unbounded tombstone list into
  * every task (or OOM the driver mid-UPDATE). The log decides: the
  * recorded row counts are checked before any vector file opens. */
private[graft] object LakeDv {
  /** One shared budget with the write side ([[LakeTxn.MaxDvPositions]]):
    * the MoR writers refuse to push a table past it, so this read-side
    * guard is the backstop for tables written by other means. */
  val MaxDvPositions = LakeTxn.MaxDvPositions

  /** A vector's columns as Spark reads them. Vectors this engine writes
    * store both as `required`; vectors written by a Spark
    * `df.write.parquet` store them as `optional` and read the same. */
  val DvSchema: StructType = StructType(Seq(
    StructField("__dv_file", StringType), StructField("__dv_pos", LongType)))

  private val DvMessage: MessageType = MessageTypeParser.parseMessageType(
    "message spark_schema { required binary __dv_file (STRING); " +
      "required int64 __dv_pos; }")

  private def overBudget(table: String, n: Long, maxPositions: Long): String =
    s"$table carries $n deletion-vector positions (> $maxPositions): " +
      s"compact the table (purges vectors) before scanning"

  /** file basename -> sorted tombstoned row positions of the snapshot's
    * live deletion vectors (empty map when none). The budget check reads
    * the log's recorded counts before any vector opens; the running
    * count re-checks it against a log that undercounts. Positions are
    * distinct: stacked vectors may tombstone one row twice, and the
    * array-cursor readers consume exactly one entry per ordinal.
    * `maxPositions` is parameterized only so specs can prove the guard
    * without staging ten million tombstones. */
  def load(spark: SparkSession, table: String, snap: LakeTxn.Snapshot,
           maxPositions: Long = MaxDvPositions): Map[String, Array[Long]] =
    if (snap.dvs.isEmpty) Map.empty
    else {
      val logged = snap.dvs.map(_.rows).sum
      require(logged <= maxPositions, overBudget(table, logged, maxPositions))
      val conf = spark.sessionState.newHadoopConf()
      val byFile = scala.collection.mutable.HashMap
        .empty[String, scala.collection.mutable.ArrayBuilder.ofLong]
      var n = 0L
      snap.dvs.foreach { a =>
        read(conf, table, a.file).foreach { case (f, ps) =>
          n += ps.length
          require(n <= maxPositions, overBudget(table, n, maxPositions))
          byFile.getOrElseUpdate(f, new scala.collection.mutable.ArrayBuilder.ofLong) ++= ps
        }
      }
      byFile.map { case (f, b) =>
        val ps = b.result()
        java.util.Arrays.sort(ps)
        f -> ps.distinct
      }.toMap
    }

  /** One vector file's positions, grouped by data-file basename (file
    * order within a basename). A null entry is a corrupt vector and
    * fails loudly — dropping it would resurrect a deleted row. */
  def read(conf: Configuration, table: String,
           rel: String): Map[String, Array[Long]] = {
    val reader = ParquetReader
      .builder(new GroupReadSupport(), new Path(table, rel))
      .withConf(conf).build()
    val byFile = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.ArrayBuilder.ofLong]
    try {
      var g = reader.read()
      if (g != null) {
        val fi = g.getType.getFieldIndex("__dv_file")
        val pi = g.getType.getFieldIndex("__dv_pos")
        while (g != null) {
          if (g.getFieldRepetitionCount(fi) == 0 || g.getFieldRepetitionCount(pi) == 0)
            throw new IllegalStateException(
              s"deletion vector $table/$rel holds a null entry")
          byFile.getOrElseUpdate(g.getString(fi, 0),
            new scala.collection.mutable.ArrayBuilder.ofLong) += g.getLong(pi, 0)
          g = reader.read()
        }
      }
    } finally reader.close()
    byFile.map { case (f, b) => f -> b.result() }.toMap
  }

  /** Write `positions` (basename -> row ordinals, non-empty) as ONE
    * vector: the file is written under a `.stage-*` dot-temp directory
    * (readers never list it; [[LakeTxn.vacuum]] reclaims a crashed
    * one) and renamed into `dv/`. Returns its unpinned DV add action:
    * rows and bytes from the written footer, refs (`"dr"`) from the
    * basenames in hand. */
  def write(spark: SparkSession, table: String,
            positions: Map[String, Array[Long]]): LakeTxn.Action = {
    require(positions.values.exists(_.nonEmpty), "empty deletion vector")
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(table)
    val fs = root.getFileSystem(conf)
    val batch = java.util.UUID.randomUUID.toString.replace("-", "").take(12)
    val tmpDir = new Path(root, s".stage-$batch")
    val tmp = new Path(tmpDir, "dv.parquet")
    val rel = s"dv/$batch-0.parquet"
    try {
      val w = ExampleParquetWriter
        .builder(HadoopOutputFile.fromPath(tmp, conf))
        .withConf(conf).withType(DvMessage).build()
      val gf = new SimpleGroupFactory(DvMessage)
      try positions.toSeq.sortBy(_._1).foreach { case (f, ps) =>
        ps.sorted.foreach(p =>
          w.write(gf.newGroup().append("__dv_file", f).append("__dv_pos", p)))
      } finally w.close()
      fs.mkdirs(new Path(root, "dv"))
      require(fs.rename(tmp, new Path(root, rel)),
        s"failed to publish deletion vector $tmp as $rel")
    } finally fs.delete(tmpDir, true)
    LakeTxn.footerAction(spark, root, rel, null).copy(dv = true,
      refs = LakeTxn.encodeDvRefs(positions.filter(_._2.nonEmpty).keys.toSeq))
  }

  /** True when Σ raw DV cardinalities provably equals the live
    * tombstone count from the LOG alone: every live vector records its
    * referenced basenames (`"dr"`), every referenced basename is a
    * live data file, and no basename is referenced by two vectors.
    * Without this, a stacked pair of vectors could tombstone one
    * (file, position) twice, and a partially-covered vector surviving a
    * rewrite carries STALE positions into removed files — either way
    * Σ rows over-counts and a pushed COUNT(*) would silently
    * undercount. Our own writers always qualify after sequential
    * single-file deletes; stacked/stale shapes take the load path. */
  def rawRowsExact(snap: LakeTxn.Snapshot, liveBase: Set[String]): Boolean = {
    val refs = snap.dvs.map(LakeTxn.decodeDvRefs)
    refs.forall(_.isDefined) && {
      val all = refs.flatten.flatten
      all.forall(liveBase) && all.size == all.distinct.size
    }
  }

  /** The EXACT number of live tombstoned rows of `snap`: the raw log
    * sum when [[rawRowsExact]] proves it; otherwise ONE guarded
    * driver-scale vector load (dedups stacked positions, drops stale
    * basenames) — still zero DATA-file opens either way. */
  def exactTombstones(spark: SparkSession, table: String,
                      snap: LakeTxn.Snapshot): Long =
    if (snap.dvs.isEmpty) 0L
    else {
      val liveBase = snap.adds.map(a => LakeTxn.baseName(a.file)).toSet
      if (rawRowsExact(snap, liveBase)) snap.dvs.map(_.rows).sum
      else load(spark, table, snap)
        .filter { case (b, _) => liveBase(b) }
        .map(_._2.length.toLong).sum
    }
}

/** Batch read of the lake through the V2 connector: ONE driver-side
  * snapshot fold plans the file list, pushed filters prune it from the
  * log metadata alone (stats bands, bloom filters, partition values —
  * zero data-file opens for the decision), and the same projected
  * column reader serves the rows with partition values injected and
  * any live DELETION VECTORS applied merge-on-read: the vectors (small
  * by the MoR contract — big deletes should compact) load once on the
  * driver through the guarded [[LakeDv]] loader and each reader skips
  * its file's tombstoned row positions. `versionAsOf` time-travels,
  * vectors included. */
final class LakeBatch(table: String, schema: StructType,
                      pushed: Array[Filter],
                      versionAsOf: Option[Long],
                      limitRows: Option[Int] = None) extends Batch {
  /** ONE pinned plan per Batch instance (lazy val): repeated
    * planInputPartitions/createReaderFactory calls must agree on the
    * file list AND on the row-vs-columnar decision. */
  private lazy val planned: (Array[LakeInputPartition], Option[(String, Int)]) = {
    val spark = SparkSession.active
    val snap = LakeTxn.snapshot(spark, table, versionAsOf)
    val deletedByFile = LakeDv.load(spark, table, snap)
    val kept0 = snap.adds.filter(a => LakePrune.allowsAll(a, pushed))
    val kept1 =
      if (kept0.nonEmpty || snap.adds.isEmpty) kept0
      else snap.adds.take(1) // schema carrier
    // pushed LIMIT: a file-list prefix covering the limit suffices —
    // but only when every planned row survives to the limit operator
    // (no residual filters, no tombstones); Spark re-applies the limit
    // either way (partial pushdown), so this is pure pruning
    val kept = limitRows match {
      case Some(n) if pushed.isEmpty && deletedByFile.isEmpty =>
        val cumBefore = kept1.scanLeft(0L)(_ + _.rows)
        kept1.zip(cumBefore).takeWhile(_._2 < n).map(_._1)
      case _ => kept1
    }
    // UNIFORM bucket layout over the kept files (every file stamped
    // with the same (key, n) and a bucket id, the key still in the
    // scan schema, no pushed limit — a bucket prefix is not a row
    // prefix): the scan can then report KeyGroupedPartitioning and a
    // same-bucketed join plans with zero Exchange
    val spec: Option[(String, Int)] =
      kept.map(a => Option(a.bkCol)).distinct match {
        case Seq(Some(c))
          if kept.forall(a => a.bkId >= 0) &&
            kept.map(_.bkN).distinct.sizeIs == 1 &&
            schema.fieldNames.contains(c) && limitRows.isEmpty =>
          Some((c, kept.head.bkN.toInt))
        case _ => None
      }
    (kept.map { a =>
      val base = LakeTxn.baseName(a.file)
      LakeInputPartition(s"$table/${a.file}", a.rows, a.pvCol, a.pvValue,
        deletedByFile.getOrElse(base, Array.emptyLongArray), relFile = a.file,
        bkId = a.bkId)
    }.toArray, spec)
  }

  private lazy val parts: Array[LakeInputPartition] = planned._1

  /** Bucket-id-grouped partitions when the kept layout is uniformly
    * bucketed (one InputPartition per bucket, `HasPartitionKey` = the
    * id); None → per-file partitions. */
  private lazy val grouped: Option[Array[LakeBucketPartition]] =
    planned._2.map { _ =>
      parts.groupBy(_.bkId).toSeq.sortBy(_._1)
        .map { case (id, fs) => LakeBucketPartition(fs, id.toInt) }.toArray
    }

  /** What the scan advertises through `SupportsReportPartitioning`:
    * `KeyGroupedPartitioning(bucket(n, key))` over the bucket groups
    * when uniformly bucketed (the storage-partitioned-join handshake),
    * else unknown. */
  private[sources] def reportedPartitioning: org.apache.spark.sql.connector.read.partitioning.Partitioning =
    planned._2 match {
      case Some((c, n)) =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          Array(org.apache.spark.sql.connector.expressions.Expressions.bucket(n, c)),
          grouped.get.length)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(parts.length)
    }

  override def planInputPartitions(): Array[InputPartition] =
    grouped.map(_.toArray[InputPartition])
      .getOrElse(parts.toArray[InputPartition])

  /** COLUMNAR when every planned partition can emit the scan schema as
    * vectorized batches: atomic types — INCLUDING files with live
    * deletion vectors, whose sorted tombstone positions the columnar
    * reader masks out of each decoded batch (vectorized parquet decode
    * kept; one compaction copy per DV'd batch). Injected partition
    * values at any schema position are fine — the reader reorders its
    * vector pointers. Spark refuses mixed row/columnar partitions in
    * one scan, so the decision is scan-level. */
  override def createReaderFactory(): PartitionReaderFactory = {
    val columnar = schema.fields.forall(f =>
      LakeColumnarReader.atomicOk(f.dataType))
    new LakeReaderFactory(schema.json,
      ShippedConf(SparkSession.active),
      columnar, pushed)
  }
}

/** Offset = highest delivered log version. */
final case class LakeOffset(version: Long) extends Offset {
  override def json(): String = s"""{"version":$version}"""
}

object LakeOffset {
  private val Re = """\{"version":(-?\d+)\}""".r
  def fromJson(s: String): LakeOffset = s.trim match {
    case Re(v) => LakeOffset(v.toLong)
    case bad => throw new IllegalArgumentException(s"corrupt lake offset '$bad'")
  }
}

final class LakeMicroBatchStream(table: String, schema: StructType,
                                 maxVersionsPerBatch: Option[Long],
                                 startingVersion: Long,
                                 ignoreDeletes: Boolean,
                                 maxRowsPerBatch: Option[Long] = None,
                                 maxFilesPerBatch: Option[Int] = None)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  private def spark = SparkSession.active

  /** Trigger.AvailableNow pins the head AT PREPARE TIME: the run drains
    * commits ≤ this and stops, even while writers keep committing. */
  private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap =
      Some(LakeTxn.listVersions(spark, table).lastOption.getOrElse(startingVersion - 1))

  override def initialOffset(): Offset = LakeOffset(startingVersion - 1)

  override def deserializeOffset(json: String): Offset = LakeOffset.fromJson(json)

  /** Plain latest (called only when admission control is bypassed). */
  override def latestOffset(): Offset =
    LakeOffset(LakeTxn.listVersions(spark, table).lastOption.getOrElse(startingVersion - 1))

  override def getDefaultReadLimit: ReadLimit = {
    val limits = maxRowsPerBatch.map(ReadLimit.maxRows).toSeq ++
      maxFilesPerBatch.map(ReadLimit.maxFiles).toSeq
    limits match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  /** The (maxRows, maxFiles) caps a ReadLimit encodes. */
  private def caps(l: ReadLimit): (Long, Long) = l match {
    case r: org.apache.spark.sql.connector.read.streaming.ReadMaxRows =>
      (r.maxRows(), Long.MaxValue)
    case f: org.apache.spark.sql.connector.read.streaming.ReadMaxFiles =>
      (Long.MaxValue, f.maxFiles().toLong)
    case c: org.apache.spark.sql.connector.read.streaming.CompositeReadLimit =>
      c.getReadLimits.map(caps).reduce((a, b) =>
        (math.min(a._1, b._1), math.min(a._2, b._2)))
    case _ => (Long.MaxValue, Long.MaxValue)
  }

  /** Admission-controlled latest. Commits are the unit — a commit is
    * atomic, so it is never split across batches. Three caps compose:
    * at most `maxVersionsPerBatch` commits beyond `start`, at most
    * maxRows/maxFiles of log-recorded data volume (walked from the
    * driver-scale commit bodies — at least ONE commit always admits,
    * the standard at-least-one-unit contract), and the AvailableNow
    * pin when one is set. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val startV = start.asInstanceOf[LakeOffset].version
    val live = LakeTxn.listVersions(spark, table).lastOption.getOrElse(startV)
    val head0 = availableNowCap.fold(live)(math.min(live, _))
    val headV = maxVersionsPerBatch.fold(head0)(m => math.min(head0, startV + m))
    val (mr, mf) = caps(limit)
    if (mr == Long.MaxValue && mf == Long.MaxValue) LakeOffset(headV)
    else {
      var v = startV
      var rows = 0L
      var files = 0L
      var full = false
      while (!full && v < headV) {
        val acts = LakeTxn.readCommit(spark, table, v + 1)
          .filter(a => a.add && !a.dv && !a.schema)
        val r = acts.map(_.rows).sum
        if (v > startV && (rows + r > mr || files + acts.size > mf)) full = true
        else { rows += r; files += acts.size; v += 1 }
      }
      LakeOffset(v)
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val startV = start.asInstanceOf[LakeOffset].version
    val endV = end.asInstanceOf[LakeOffset].version
    // plan-time retention gate, mirroring LakeTxn.snapshot: a range that
    // reaches below the vacuum horizon may point at deleted files
    LakeTxn.vacuumHorizon(spark, table).foreach(h => require(startV + 1 >= h,
      s"stream over $table would read version ${startV + 1}, below the " +
        s"vacuum retention horizon $h: its files may have been deleted " +
        s"(restart the stream from a fresh checkpoint at a retained version)"))
    val parts = Array.newBuilder[InputPartition]
    for (v <- startV + 1 to endV) {
      val acts = LakeTxn.readCommit(spark, table, v)
      val removes = acts.filter(!_.add)
      val dataAdds = acts.filter(a => a.add && !a.dv && !a.schema)
      val dvAdds = acts.filter(a => a.add && a.dv)
      if (removes.nonEmpty && dataAdds.nonEmpty)
        throw new IllegalStateException(
          s"commit $v of $table is a REWRITE (removes and re-adds rows the " +
            s"stream already delivered — compaction or copy-on-write merge); " +
            s"rewritten tables cannot be tailed as an append stream")
      if ((removes.nonEmpty || dvAdds.nonEmpty) && !ignoreDeletes)
        throw new IllegalStateException(
          s"commit $v of $table deletes rows; set ignoreDeletes=true to " +
            s"skip tombstones (already-delivered rows stay delivered)")
      dataAdds.foreach(a => parts += LakeInputPartition(s"$table/${a.file}", a.rows,
        a.pvCol, a.pvValue, relFile = a.file))
    }
    parts.result()
  }

  /** Streamed micro-batches decode COLUMNAR too (atomic schemas only):
    * stream partitions never carry deletion vectors (delete commits are
    * refused or skipped at plan time), and injected partition values at
    * any position are handled by the reader's vector reordering. */
  override def createReaderFactory(): PartitionReaderFactory =
    new LakeReaderFactory(schema.json,
      ShippedConf(spark),
      columnar = schema.fields.forall(f => LakeColumnarReader.atomicOk(f.dataType)))

  override def commit(end: Offset): Unit = () // log retention is vacuum's concern
  override def stop(): Unit = ()
}

/** One pinned file; `pvCol`/`pvValue` carry the log-recorded partition
  * value when the file was written `partitionBy` (the column is
  * physically absent from it — the reader must INJECT the value, not
  * null-fill); `deleted` is the file's sorted tombstoned row positions
  * from the live deletion vectors (empty = none); `relFile` is the
  * file's table-relative path, injected as the `_file` METADATA column
  * when the scan requests it (the group identity row-level operations
  * coordinate on). */
final case class LakeInputPartition(absPath: String, rows: Long,
                                    pvCol: String = null,
                                    pvValue: String = null,
                                    deleted: Array[Long] = Array.emptyLongArray,
                                    relFile: String = null,
                                    bkId: Long = -1L)
    extends InputPartition {
  /** The constant columns this partition's reader must inject for a
    * given scan schema: the partition value and/or `_file`. */
  def injectedFor(schema: StructType): Seq[(String, String)] =
    (if (pvCol != null && pvValue != null && schema.fieldNames.contains(pvCol))
      Seq(pvCol -> pvValue) else Nil) ++
      (if (relFile != null && schema.fieldNames.contains("_file"))
        Seq("_file" -> relFile) else Nil)
}

/** ONE BUCKET of a bucketed lake table: all the bucket's files as one
  * input partition, keyed by the bucket id — the `HasPartitionKey`
  * contract `KeyGroupedPartitioning` grouping requires. Spark's
  * storage-partitioned join aligns two scans' partitions by these key
  * rows, which is what lets two same-bucketed tables join with zero
  * Exchange. */
final case class LakeBucketPartition(files: Array[LakeInputPartition],
                                     bucketId: Int)
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucketId))
}

/** `conf` is the DRIVER's session Hadoop configuration, shipped to the
  * executors as the [[ShippedConf]] broadcast (one per context and conf
  * content, freed by Spark's `ContextCleaner` once no factory holds it):
  * the task binary carries only the handle, each executor fetches the
  * value once. A bare `new Configuration()` would drop `spark.hadoop.*`
  * settings and filesystem credentials, which works on local FS and
  * breaks on any configured object store. The value is shared across
  * tasks: the columnar reader copies it before its own `set`s, the row
  * reader only reads it. `columnar` routes every partition through the
  * vectorized batch reader (the caller guarantees all partitions
  * qualify — Spark refuses mixed modes); `pushed` feeds row-group
  * pruning inside the columnar reader. */
final class LakeReaderFactory(schemaJson: String,
                              private[graft] val conf: Broadcast[SerializableConfiguration],
                              columnar: Boolean = false,
                              pushed: Array[Filter] = Array.empty)
    extends PartitionReaderFactory {
  override def supportColumnarReads(partition: InputPartition): Boolean = columnar

  /** Sequential concatenation of per-file readers — a bucket partition
    * is its files read back to back (readers open lazily: one file's
    * resources live at a time). */
  private final class ConcatReader[T](files: Array[LakeInputPartition],
                                      mk: LakeInputPartition => PartitionReader[T])
      extends PartitionReader[T] {
    private var i = -1
    private var cur: PartitionReader[T] = null
    override def next(): Boolean = {
      while (true) {
        if (cur != null) {
          if (cur.next()) return true
          cur.close(); cur = null
        }
        i += 1
        if (i >= files.length) return false
        cur = mk(files(i))
      }
      false // unreachable
    }
    override def get(): T = cur.get()
    override def close(): Unit = if (cur != null) { cur.close(); cur = null }
  }

  override def createColumnarReader(
      partition: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    partition match {
      case b: LakeBucketPartition =>
        new ConcatReader(b.files, createColumnarReader)
      case _ =>
        val p = partition.asInstanceOf[LakeInputPartition]
        val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
        new LakeColumnarReader(p.absPath, schema, p.injectedFor(schema),
          pushed, conf.value.value, p.deleted)
    }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case b: LakeBucketPartition =>
        new ConcatReader(b.files, createReader)
      case _ =>
        val p = partition.asInstanceOf[LakeInputPartition]
        val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
        new LakeFileReader(p.absPath, schema, p.injectedFor(schema),
          p.deleted, conf.value.value)
    }
}

object LakeColumnarReader {
  /** The lake's atomic-type surface — exactly what both the row reader
    * and the vectorized reader decode. */
  def atomicOk(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | DateType | TimestampType |
         StringType | BinaryType => true
    case _ => false
  }
}

/** One pinned parquet file → `ColumnarBatch`es through Spark's own
  * `VectorizedParquetRecordReader` — the whole-stage-codegen-friendly
  * read path (the scan feeds batches straight into codegen via a
  * ColumnarToRow transition instead of materializing one object row
  * per record). Pushed filters become a parquet `FilterPredicate`
  * ([[LakeParquetFilters]]), so surviving files still skip row groups
  * from footer min/max, dictionary pages, and column indexes — the
  * second pruning tier under the log-level file skipping. A
  * log-recorded partition value is injected by `initBatch` as a
  * constant vector (the file physically lacks the column); a column an
  * old file lacks under an evolved schema null-fills inside the
  * vectorized reader.
  *
  * MERGE-ON-READ, columnar: when the partition carries live deletion-
  * vector positions (`deleted`, sorted within-file row ordinals), each
  * decoded batch is COMPACTED into fresh on-heap vectors with the
  * tombstoned ordinals dropped — parquet decode stays vectorized and
  * the scan stays columnar end to end (one copy per DV'd batch, the
  * price of not demoting the whole scan to row readers). Row-group
  * pruning is disabled for DV'd files ONLY: a skipped group would
  * desync the sequential row ordinals the positions are keyed on. */
final class LakeColumnarReader(absPath: String, schema: StructType,
                               injected: Seq[(String, String)],
                               pushed: Array[Filter],
                               hadoopConf: Configuration,
                               deleted: Array[Long] = Array.emptyLongArray)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader
  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
  import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}

  // a private copy for the `set`s below: `hadoopConf` is the broadcast
  // value every task of the query shares
  private val conf = new Configuration(hadoopConf)
  private val injNames = injected.map(_._1)
  // the requested spark schema: everything except the injected constant
  // columns (partition value, `_file`) — the file physically lacks them
  // and initBatch appends them LAST
  private val requested =
    StructType(schema.fields.filterNot(f => injNames.contains(f.name)))
  conf.set("parquet.read.support.class",
    "org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport")
  conf.set("org.apache.spark.sql.parquet.row.requested_schema", requested.json)
  conf.setBoolean("spark.sql.parquet.binaryAsString", false)
  conf.setBoolean("spark.sql.parquet.int96AsTimestamp", true)
  conf.setBoolean("spark.sql.caseSensitive", false)
  conf.setBoolean("spark.sql.parquet.inferTimestampNTZ.enabled", true)
  conf.setBoolean("spark.sql.legacy.parquet.nanosAsLong", false)
  if (deleted.isEmpty)
    LakeParquetFilters.predicate(requested, pushed).foreach(p =>
      org.apache.parquet.hadoop.ParquetInputFormat.setFilterPredicate(conf, p))

  // the lake writes CORRECTED-mode dates and TIMESTAMP_MICROS only
  // (no legacy-rebase files, no INT96), so no rebase ever applies
  private val reader =
    new VectorizedParquetRecordReader(null, "CORRECTED", "UTC", "CORRECTED", "UTC",
      false, 4096)
  private val p = new Path(absPath)
  private val len = p.getFileSystem(conf).getFileStatus(p).getLen
  reader.initialize(
    new org.apache.hadoop.mapred.FileSplit(p, 0, len, Array.empty[String]),
    new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(conf,
      new org.apache.hadoop.mapreduce.TaskAttemptID()))
  reader.initBatch(
    StructType(injected.map { case (n, _) =>
      StructField(n, StringType, nullable = true) }),
    new GenericInternalRow(
      injected.map(kv => UTF8String.fromString(kv._2): Any).toArray))
  reader.enableReturningBatches()

  // `initBatch` appends the injected constant columns LAST; when the
  // scan schema wants them elsewhere, REORDER the column-vector
  // pointers once (no data copies — a ColumnarBatch is just an array
  // of vector references) so the emitted batch matches the scan schema
  private lazy val reordered: org.apache.spark.sql.vectorized.ColumnarBatch = {
    val base = reader.resultBatch()
    val cols = Array.tabulate(schema.length) { i =>
      val n = schema.fields(i).name
      val k = injNames.indexOf(n)
      if (k >= 0) base.column(requested.length + k) // an appended constant
      else base.column(requested.fieldNames.indexOf(n))
    }
    new org.apache.spark.sql.vectorized.ColumnarBatch(cols, 0)
  }
  private val needReorder = injected.nonEmpty &&
    !schema.fieldNames.endsWith(injNames)

  private def decoded: ColumnarBatch =
    if (!needReorder) reader.resultBatch()
    else {
      reordered.setNumRows(reader.resultBatch().numRows())
      reordered
    }

  // -- merge-on-read masking state (used only when `deleted` nonEmpty) --
  // survivors append into reusable on-heap vectors; the within-file row
  // ordinal advances sequentially because row-group pruning is off
  private lazy val maskedCols: Array[OnHeapColumnVector] =
    OnHeapColumnVector.allocateColumns(4096, schema)
  private lazy val masked: ColumnarBatch =
    new ColumnarBatch(maskedCols.asInstanceOf[Array[ColumnVector]], 0)
  private var rowOrdinal = 0L
  private var delPtr = 0

  /** Compact `src` into [[masked]], dropping tombstoned ordinals. */
  private def maskBatch(src: ColumnarBatch): ColumnarBatch = {
    maskedCols.foreach(_.reset())
    val n = src.numRows()
    var kept = 0
    var i = 0
    while (i < n) {
      if (delPtr < deleted.length && deleted(delPtr) == rowOrdinal) delPtr += 1
      else {
        var c = 0
        while (c < maskedCols.length) {
          val sv = src.column(c)
          val dv = maskedCols(c)
          if (sv.isNullAt(i)) dv.appendNull()
          else schema.fields(c).dataType match {
            case BooleanType => dv.appendBoolean(sv.getBoolean(i))
            case ByteType => dv.appendByte(sv.getByte(i))
            case ShortType => dv.appendShort(sv.getShort(i))
            case IntegerType | DateType => dv.appendInt(sv.getInt(i))
            case LongType | TimestampType => dv.appendLong(sv.getLong(i))
            case FloatType => dv.appendFloat(sv.getFloat(i))
            case DoubleType => dv.appendDouble(sv.getDouble(i))
            case StringType =>
              val b = sv.getUTF8String(i).getBytes
              dv.appendByteArray(b, 0, b.length)
            case BinaryType =>
              val b = sv.getBinary(i)
              dv.appendByteArray(b, 0, b.length)
            case other => throw new IllegalStateException(
              s"unmaskable column type ${other.simpleString}")
          }
          c += 1
        }
        kept += 1
      }
      rowOrdinal += 1
      i += 1
    }
    masked.setNumRows(kept)
    masked
  }

  private var current: ColumnarBatch = _

  override def next(): Boolean =
    if (deleted.isEmpty) reader.nextBatch()
    else if (!reader.nextBatch()) false
    else { current = maskBatch(decoded); true }

  override def get(): ColumnarBatch =
    if (deleted.isEmpty) decoded else current

  override def close(): Unit = reader.close()
}

/** One pinned parquet file → InternalRows of the stream schema, with
  * true column pruning: only the requested columns' chunks are fetched
  * (`setRequestedSchema`). A column the file lacks (pre-evolution file
  * under an evolved stream schema) null-fills; a column the file has
  * but the schema doesn't (post-evolution file under a pinned older
  * stream schema) is never read at all. `hadoopConf` is the shipped
  * session conf, read only — no default: a bare `new Configuration()`
  * would silently drop `spark.hadoop.*` settings and credentials. */
final class LakeFileReader(absPath: String, schema: StructType,
                           injected: Seq[(String, String)],
                           deleted: Array[Long],
                           hadoopConf: Configuration)
    extends PartitionReader[InternalRow] {

  private val reader = ParquetFileReader.open(
    HadoopInputFile.fromPath(new Path(absPath), hadoopConf))
  private val fileSchema = reader.getFooter.getFileMetaData.getSchema
  private val kept = schema.fields.filter(f => fileSchema.containsField(f.name))
  // the injected constants (log-recorded partition value, `_file`): the
  // file physically lacks these columns; null-filling them would be
  // silent data corruption — both are STRING by contract
  private val injConst: Map[String, UTF8String] =
    injected.map { case (n, v) => n -> UTF8String.fromString(v) }.toMap
  private val projection = new MessageType(fileSchema.getName,
    kept.map(f => fileSchema.getType(fileSchema.getFieldIndex(f.name)))
      .toList.asJava: java.util.List[org.apache.parquet.schema.Type])
  if (kept.nonEmpty) reader.setRequestedSchema(projection)

  // schema field i -> (index in projection, extractor) or null-fill
  private val extract: Array[(Group, Int) => Any] =
    schema.fields.map { f =>
      if (!fileSchema.containsField(f.name)) null
      else {
        val prim = projection.getType(projection.getFieldIndex(f.name))
          .asPrimitiveType()
        (f.dataType, prim.getPrimitiveTypeName) match {
          case (LongType, PrimitiveType.PrimitiveTypeName.INT64) =>
            (g: Group, j: Int) => g.getLong(j, 0)
          case (IntegerType, PrimitiveType.PrimitiveTypeName.INT32) =>
            (g: Group, j: Int) => g.getInteger(j, 0)
          case (ShortType, PrimitiveType.PrimitiveTypeName.INT32) =>
            (g: Group, j: Int) => g.getInteger(j, 0).toShort
          case (ByteType, PrimitiveType.PrimitiveTypeName.INT32) =>
            (g: Group, j: Int) => g.getInteger(j, 0).toByte
          case (DoubleType, PrimitiveType.PrimitiveTypeName.DOUBLE) =>
            (g: Group, j: Int) => g.getDouble(j, 0)
          case (FloatType, PrimitiveType.PrimitiveTypeName.FLOAT) =>
            (g: Group, j: Int) => g.getFloat(j, 0)
          case (BooleanType, PrimitiveType.PrimitiveTypeName.BOOLEAN) =>
            (g: Group, j: Int) => g.getBoolean(j, 0)
          case (StringType, PrimitiveType.PrimitiveTypeName.BINARY) =>
            (g: Group, j: Int) => UTF8String.fromBytes(g.getBinary(j, 0).getBytes)
          case (BinaryType, PrimitiveType.PrimitiveTypeName.BINARY) =>
            (g: Group, j: Int) => g.getBinary(j, 0).getBytes
          case (DateType, PrimitiveType.PrimitiveTypeName.INT32) =>
            (g: Group, j: Int) => g.getInteger(j, 0)
          case (TimestampType, PrimitiveType.PrimitiveTypeName.INT64) =>
            (g: Group, j: Int) => g.getLong(j, 0) // INT64 micros
          case _ => throw new IllegalArgumentException(
            s"graft-lake streams atomic columns only; '${f.name}' is " +
              s"${f.dataType.simpleString} over parquet " +
              s"${prim.getPrimitiveTypeName} in $absPath (INT96 timestamps: " +
              s"write with outputTimestampType=TIMESTAMP_MICROS)")
        }
      }
    }
  private val projIdx: Array[Int] = schema.fields.map(f =>
    if (fileSchema.containsField(f.name)) projection.getFieldIndex(f.name) else -1)

  private var rowsLeftInGroup = 0L
  private var recordReader: org.apache.parquet.io.RecordReader[Group] = _
  private var current: InternalRow = _

  private def nextRowGroup(): Boolean = {
    val pages = reader.readNextRowGroup()
    if (pages == null) false
    else {
      rowsLeftInGroup = pages.getRowCount
      if (kept.nonEmpty)
        recordReader = new ColumnIOFactory().getColumnIO(projection)
          .getRecordReader(pages, new GroupRecordConverter(projection))
      if (rowsLeftInGroup == 0) nextRowGroup() else true
    }
  }

  // within-file ordinal of the last consumed row + cursor into the
  // sorted tombstone list (merge-on-read: deleted ordinals melt away)
  private var rowOrdinal = -1L
  private var delPtr = 0

  override def next(): Boolean = {
    while (true) {
      if (rowsLeftInGroup == 0 && !nextRowGroup()) return false
      rowsLeftInGroup -= 1
      rowOrdinal += 1
      // a projection-empty read (e.g. count(*) over pre-evolution files)
      // still yields the row-group's row count of all-null rows
      val g = if (kept.nonEmpty) recordReader.read() else null
      if (delPtr < deleted.length && deleted(delPtr) == rowOrdinal) {
        delPtr += 1 // tombstoned: consume and skip
      } else {
        val row = new GenericInternalRow(schema.length)
        var i = 0
        while (i < schema.length) {
          val fn = extract(i)
          if (fn == null)
            row.update(i, injConst.getOrElse(schema.fields(i).name, null))
          else {
            val j = projIdx(i)
            if (g.getFieldRepetitionCount(j) == 0) row.update(i, null)
            else row.update(i, fn(g, j))
          }
          i += 1
        }
        current = row
        return true
      }
    }
    false // unreachable
  }

  override def get(): InternalRow = current
  override def close(): Unit = reader.close()
}

/** One SQL row-level command (UPDATE / MERGE / rewrite-DELETE) as a
  * copy-on-write group operation. The INSTANCE is the coordination
  * channel Spark's contract provides: the scan records which files it
  * planned (post runtime-group-filter) and at which log version; the
  * write replaces exactly those files in one conflict-checked atomic
  * commit. */
final class LakeRowLevelOperation(table: String, tableSchema: StructType,
                                  cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command)
    extends org.apache.spark.sql.connector.write.RowLevelOperation {
  import org.apache.spark.sql.connector.expressions.Expressions

  @volatile private[sources] var scannedFiles: Seq[String] = Nil
  @volatile private[sources] var readVersion: Long = -1L

  override def command(): org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd
  override def description(): String = s"graft-lake $cmd (copy-on-write)"

  override def requiredMetadataAttributes():
      Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(Expressions.column("_file"))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required: StructType =
        tableSchema.add("_file", StringType, nullable = false)
      override def pruneColumns(s: StructType): Unit = required = s
      override def build(): Scan =
        new LakeRowLevelScan(LakeRowLevelOperation.this, table, required)
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch(): BatchWrite =
          new LakeReplaceDataWrite(table, info.schema(), info.queryId(),
            LakeRowLevelOperation.this,
            // rewritten rows of a PARTITIONED table keep the hive shape:
            // per-value staged files, the column only in the add actions
            LakeStreamTable.pvColOf(tableSchema))
      }
    }
}

/** The rewrite-side scan: full rows + the `_file` group column, runtime
  * group filtering on `_file` (the subquery Spark runs with the command
  * condition prunes the files the rewrite must touch), deletion vectors
  * applied in the readers (a rewrite must not resurrect tombstoned
  * rows). Planning records (files, version) into the operation for the
  * write's atomic replace. */
final class LakeRowLevelScan(op: LakeRowLevelOperation, table: String,
                             schema: StructType)
    extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {
  import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
  import org.apache.spark.sql.connector.expressions.filter.Predicate

  @volatile private var runtimeKeep: Option[Set[String]] = None

  override def readSchema(): StructType = schema
  override def description(): String =
    s"graft-lake `$table` row-level ${op.command} scan"
  override def toBatch(): Batch = this

  override def filterAttributes(): Array[NamedReference] =
    Array(Expressions.column("_file"))

  /** Accepts `_file IN (...)` / `_file = ...` from Spark's group-filter
    * subquery; anything else is ignored (keeping every file is always
    * correct — unmatched rows are rewritten unchanged). */
  override def filter(predicates: Array[Predicate]): Unit = {
    val sets = predicates.flatMap { p =>
      val refs = p.references()
      if (refs.length == 1 && refs(0).fieldNames().sameElements(Array("_file")) &&
        (p.name() == "IN" || p.name() == "=")) {
        val vals = p.children().collect {
          case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
            String.valueOf(l.value)
        }
        if (vals.nonEmpty) Some(vals.toSet) else None
      } else None
    }
    if (sets.nonEmpty) runtimeKeep = Some(sets.reduce(_ intersect _))
  }

  /** The SNAPSHOT pins once (all plannings and the write agree on one
    * version); the partition list recomputes per call because Spark
    * re-plans AFTER delivering the runtime filter — a cached pre-filter
    * list would silently rewrite the whole table. */
  private lazy val base: (LakeTxn.Snapshot, Map[String, Array[Long]]) = {
    val spark = SparkSession.active
    val snap = LakeTxn.snapshot(spark, table)
    // the guarded loader (shared with LakeBatch): a heavily-tombstoned
    // table fails loudly with the compact-first message instead of
    // OOMing the driver mid-UPDATE/MERGE
    (snap, LakeDv.load(spark, table, snap))
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val (snap, deletedByFile) = base
    val kept = runtimeKeep.fold(snap.adds)(fs =>
      snap.adds.filter(a => fs.contains(a.file)))
    op.scannedFiles = kept.map(_.file)
    op.readVersion = snap.version
    kept.map { a =>
      val b = LakeTxn.baseName(a.file)
      LakeInputPartition(s"$table/${a.file}", a.rows, a.pvCol, a.pvValue,
        deletedByFile.getOrElse(b, Array.emptyLongArray),
        relFile = a.file): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val columnar = schema.fields.forall(f =>
      LakeColumnarReader.atomicOk(f.dataType))
    new LakeReaderFactory(schema.json,
      ShippedConf(SparkSession.active), columnar)
  }
}

/** The replace-data write: staged rewritten rows publish as ONE atomic
  * commit that removes exactly the files the operation's scan planned —
  * [[graft.ext.LakeTxn.replaceFilesCommit]] aborts on conflicting
  * interleaved rewrites of those files (appends commute). */
final class LakeReplaceDataWrite(table: String, schema: StructType,
                                 queryId: String, op: LakeRowLevelOperation,
                                 pvCol: Option[String] = None)
    extends BatchWrite {
  private val stageDir = s".stage-v2r-${queryId.replaceAll("[^A-Za-z0-9]", "")}"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new LakeWriterFactory(table, stageDir, schema.json,
      ShippedConf(SparkSession.active), pvCol)

  private def dropStage(): Unit = {
    val p = new Path(table, stageDir)
    val fs = p.getFileSystem(SparkSession.active.sessionState.newHadoopConf())
    fs.delete(p, true): Unit
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val ms = messages.collect { case m: LakeWriteCommit => m }
    val staged = ms.flatMap(_.files).toSeq
    val pvByFile = ms.flatMap(m => m.files.zip(m.pvs)).toMap
    try LakeTxn.replaceFilesCommit(SparkSession.active, table, staged,
      op.readVersion, op.scannedFiles,
      pvCol = pvCol.orNull, pvByFile = pvByFile): Unit
    finally dropStage()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = dropStage()
}

/** `pvs` aligns with `files`: the log-recorded partition value of each
  * staged file when the table is partitioned (empty otherwise). */
final case class LakeWriteCommit(files: Seq[String], pvs: Seq[String] = Nil)
    extends WriterCommitMessage

/** The driver half of the V2 write: collect the task-committed staged
  * files and publish them through [[LakeTxn]] as one atomic commit
  * (constraints enforced, writer protocol gate applied); abort deletes
  * the stage dir wholesale. On a PARTITIONED table each staged file
  * holds one partition value's rows (the column physically absent) and
  * the commit stamps `pvCol`/`pvValue` per add action — pure-SQL
  * `INSERT INTO` lands hive-shaped partitioned data with log-based
  * pruning, no directory listing anywhere. */
final class LakeBatchWrite(table: String, schema: StructType, queryId: String,
                           pvCol: Option[String] = None)
    extends BatchWrite {
  private val stageDir = s".stage-v2w-${queryId.replaceAll("[^A-Za-z0-9]", "")}"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new LakeWriterFactory(table, stageDir, schema.json,
      ShippedConf(SparkSession.active), pvCol)

  private def dropStage(): Unit = {
    val p = new Path(table, stageDir)
    val fs = p.getFileSystem(SparkSession.active.sessionState.newHadoopConf())
    fs.delete(p, true): Unit
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val ms = messages.collect { case m: LakeWriteCommit => m }
    val staged = ms.flatMap(_.files).toSeq
    val pvByFile = ms.flatMap(m => m.files.zip(m.pvs)).toMap
    try LakeTxn.commitStagedV2(SparkSession.active, table, staged,
      pvCol = pvCol.orNull, pvByFile = pvByFile)
    finally dropStage() // losers' and stragglers' leftovers die with it
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = dropStage()
}

/** The executor half's factory. `conf` is the [[ShippedConf]] broadcast
  * of the driver's session Hadoop configuration: cached per context and
  * conf content, dropped from the cache when the content changes, freed
  * by Spark's `ContextCleaner` once no factory holds it. The task binary
  * carries only the handle; each writer only reads the shared value. */
final class LakeWriterFactory(table: String, stageDir: String, schemaJson: String,
                              private[graft] val conf: Broadcast[SerializableConfiguration],
                              pvCol: Option[String] = None)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new LakeDataWriter(table, stageDir,
      DataType.fromJson(schemaJson).asInstanceOf[StructType], partitionId, taskId,
      conf.value.value, pvCol = pvCol)
}

/** The driver half of an OVERWRITE: the read version pins at JOB START
  * (construction — the base state the replacement was computed
  * against); [[LakeTxn.overwriteStagedV2]] publishes remove+add as one
  * atomic commit and aborts on ANY interleaved commit — an append that
  * raced in would otherwise be silently erased by the remove-all. */
final class LakeOverwriteBatchWrite(table: String, schema: StructType,
                                    queryId: String,
                                    scope: Option[(String, Seq[String])],
                                    pvCol: Option[String] = None)
    extends BatchWrite {
  private val readVersion =
    LakeTxn.listVersions(SparkSession.active, table).lastOption.getOrElse(-1L)
  private val stageDir = s".stage-v2o-${queryId.replaceAll("[^A-Za-z0-9]", "")}"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new LakeWriterFactory(table, stageDir, schema.json,
      ShippedConf(SparkSession.active), pvCol)

  private def dropStage(): Unit = {
    val p = new Path(table, stageDir)
    val fs = p.getFileSystem(SparkSession.active.sessionState.newHadoopConf())
    fs.delete(p, true): Unit
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val ms = messages.collect { case m: LakeWriteCommit => m }
    val staged = ms.flatMap(_.files).toSeq
    val pvByFile = ms.flatMap(m => m.files.zip(m.pvs)).toMap
    try LakeTxn.overwriteStagedV2(SparkSession.active, table, staged,
      readVersion, scope, pvByFile): Unit
    finally dropStage()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = dropStage()
}

/** The driver half of the STREAMING sink: one stage dir per query
  * (files suffixed by epoch), each epoch's task-committed files
  * published through [[LakeTxn.commitStagedV2]] with the
  * `(app, epochId)` marker — replays skip, so the sink is exactly-once
  * on top of the commit protocol. An epoch that produced no rows
  * commits nothing (re-delivery of nothing needs no marker). */
final class LakeStreamingWrite(table: String, schema: StructType,
                               appId: String, queryId: String,
                               pvCol: Option[String] = None)
    extends StreamingWrite {
  private val stageDir = s".stage-v2s-${queryId.replaceAll("[^A-Za-z0-9]", "")}"

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new LakeStreamingWriterFactory(table, stageDir, schema.json,
      ShippedConf(SparkSession.active), pvCol)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val ms = messages.collect { case m: LakeWriteCommit => m }
    val staged = ms.flatMap(_.files).toSeq
    val pvByFile = ms.flatMap(m => m.files.zip(m.pvs)).toMap
    if (staged.nonEmpty)
      LakeTxn.commitStagedV2(SparkSession.active, table, staged,
        marker = Some((appId, epochId)),
        pvCol = pvCol.orNull, pvByFile = pvByFile): Unit
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val fs = new Path(table).getFileSystem(spark.sessionState.newHadoopConf())
    messages.collect { case m: LakeWriteCommit => m.files }.flatten
      .foreach(f => fs.delete(new Path(table, f), false))
  }
}

/** [[LakeWriterFactory]] for the streaming sink, one staged file set per
  * epoch. `conf` is the same [[ShippedConf]] broadcast (cached per
  * context and conf content, freed by Spark's `ContextCleaner` once no
  * factory holds it); each writer only reads the shared value. */
final class LakeStreamingWriterFactory(table: String, stageDir: String,
                                       schemaJson: String,
                                       private[graft] val conf: Broadcast[SerializableConfiguration],
                                       pvCol: Option[String] = None)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new LakeDataWriter(table, stageDir,
      DataType.fromJson(schemaJson).asInstanceOf[StructType], partitionId, taskId,
      conf.value.value, suffix = s"-e$epochId", pvCol = pvCol)
}

/** The executor half: rows of one partition → one staged parquet file
  * (example Group API over a MessageType derived from the write schema
  * — the same atomic-type contract the read side enforces). On a
  * PARTITIONED table (`pvCol` set) rows split into one staged file per
  * partition VALUE seen by this task, the column physically absent from
  * the files (hive layout; values ride the commit's add actions) —
  * NULL/empty values are refused up front, the
  * `__HIVE_DEFAULT_PARTITION__` corruption guard. `hadoopConf` is the
  * shipped session conf, read only, with no default (see
  * [[LakeFileReader]]). */
final class LakeDataWriter(table: String, stageDir: String, schema: StructType,
                           partitionId: Int, taskId: Long,
                           hadoopConf: Configuration,
                           suffix: String = "",
                           pvCol: Option[String] = None)
    extends DataWriter[InternalRow] {
  import org.apache.parquet.schema.{LogicalTypeAnnotation => LTA, Types => PTypes}
  import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

  private val pcIdx = pvCol.fold(-1)(pc => schema.fieldIndex(pc))
  pvCol.foreach(pc => require(schema(pc).dataType == StringType,
    s"partition column '$pc' must be STRING (is " +
      s"${schema(pc).dataType.simpleString})"))
  /** What the files physically carry: everything but the partition col. */
  private val writeSchema =
    pvCol.fold(schema)(pc => StructType(schema.fields.filterNot(_.name == pc)))
  /** writeSchema ordinal -> incoming row ordinal. */
  private val srcIdx: Array[Int] = writeSchema.fields.map(f => schema.fieldIndex(f.name))

  private val messageType: MessageType = {
    val b = PTypes.buildMessage()
    writeSchema.fields.foreach { f =>
      f.dataType match {
        case LongType => b.addField(PTypes.optional(INT64).named(f.name))
        case IntegerType => b.addField(PTypes.optional(INT32).named(f.name))
        case ShortType => b.addField(PTypes.optional(INT32)
          .as(LTA.intType(16, true)).named(f.name))
        case ByteType => b.addField(PTypes.optional(INT32)
          .as(LTA.intType(8, true)).named(f.name))
        case DoubleType => b.addField(PTypes.optional(DOUBLE).named(f.name))
        case FloatType => b.addField(PTypes.optional(FLOAT).named(f.name))
        case BooleanType => b.addField(PTypes.optional(BOOLEAN).named(f.name))
        case StringType => b.addField(PTypes.optional(BINARY)
          .as(LTA.stringType()).named(f.name))
        case BinaryType => b.addField(PTypes.optional(BINARY).named(f.name))
        case DateType => b.addField(PTypes.optional(INT32)
          .as(LTA.dateType()).named(f.name))
        case TimestampType => b.addField(PTypes.optional(INT64)
          .as(LTA.timestampType(true, LTA.TimeUnit.MICROS)).named(f.name))
        case dt => throw new IllegalArgumentException(
          s"graft-lake writes atomic columns only; '${f.name}' is ${dt.simpleString}")
      }
    }
    b.named("graft")
  }

  private val factory =
    new org.apache.parquet.example.data.simple.SimpleGroupFactory(messageType)
  private var closed = false

  /** One open staged file per partition value ("" = unpartitioned, where
    * the single file opens eagerly so an empty task still commits its
    * 0-row file — the pre-partitioning behavior). */
  private val open = scala.collection.mutable.LinkedHashMap[
    String, (org.apache.parquet.hadoop.ParquetWriter[Group], String)]()

  private def writerFor(pv: String): org.apache.parquet.hadoop.ParquetWriter[Group] =
    open.getOrElseUpdate(pv, {
      val rel = s"$stageDir/part-$partitionId-$taskId$suffix-${open.size}.parquet"
      (org.apache.parquet.hadoop.example.ExampleParquetWriter
        .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
          new Path(table, rel), hadoopConf))
        .withType(messageType)
        .build(), rel)
    })._1

  if (pcIdx < 0) writerFor("")

  override def write(row: InternalRow): Unit = {
    val pv =
      if (pcIdx < 0) ""
      else {
        require(!row.isNullAt(pcIdx) && row.getUTF8String(pcIdx).numChars() > 0,
          s"partition column '${pvCol.get}' must not be NULL or empty " +
            s"(hive maps both to the __HIVE_DEFAULT_PARTITION__ sentinel)")
        row.getUTF8String(pcIdx).toString
      }
    val g = factory.newGroup()
    var j = 0
    while (j < writeSchema.length) {
      val i = srcIdx(j)
      if (!row.isNullAt(i)) writeSchema.fields(j).dataType match {
        case LongType | TimestampType => g.add(j, row.getLong(i))
        case IntegerType | DateType => g.add(j, row.getInt(i))
        case ShortType => g.add(j, row.getShort(i).toInt)
        case ByteType => g.add(j, row.getByte(i).toInt)
        case DoubleType => g.add(j, row.getDouble(i))
        case FloatType => g.add(j, row.getFloat(i))
        case BooleanType => g.add(j, row.getBoolean(i))
        case StringType => g.add(j,
          org.apache.parquet.io.api.Binary.fromConstantByteArray(
            row.getUTF8String(i).getBytes))
        case BinaryType => g.add(j,
          org.apache.parquet.io.api.Binary.fromConstantByteArray(row.getBinary(i)))
        case dt => throw new IllegalArgumentException(dt.simpleString)
      }
      j += 1
    }
    writerFor(pv).write(g)
  }

  override def commit(): WriterCommitMessage = {
    close()
    LakeWriteCommit(open.values.map(_._2).toSeq,
      if (pcIdx < 0) Nil else open.keys.toSeq)
  }

  override def abort(): Unit = {
    close()
    val fs = new Path(table).getFileSystem(hadoopConf)
    open.values.foreach { case (_, rel) =>
      fs.delete(new Path(table, rel), false): Unit }
  }

  override def close(): Unit =
    if (!closed) { closed = true; open.values.foreach(_._1.close()) }
}

/** The graded query + helpers. */
object LakeStream {

  /** stream_lake_source: the lake tailed AS A STREAM through the V2
    * source — three append commits land, an AvailableNow pass (one
    * commit per micro-batch) aggregates them into a complete-mode
    * state; a FOURTH commit lands after the stream has stopped, and a
    * second pass over the SAME checkpoint resumes from the recorded
    * offset, delivering only the new commit (incremental tailing +
    * restart, inside the graded query itself). Final state = the whole
    * corpus aggregate, which is exactly what a lost or double-delivered
    * commit would corrupt. */
  def streamSourceQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val t = LakeTxn.freshTable(spark, sfDir, "vsrc")
    val d = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    for (r <- 0 to 2)
      LakeTxn.appendCommit(spark, d.filter(col("doc_id") % 4 === r).repartition(2), t)

    val ckpt = s"$t/_ckpt"
    val mem = "lake_stream_src_" +
      spark.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_")
    // drain at the graded-drain state width (state = |langs| rows): at
    // the batch session's shuffle width every micro-batch pays one
    // state-store commit per partition for near-empty stores — see
    // EventsStream.DefaultDrainStateParts
    def runPass(): Unit = graft.streaming.EventsStream.withStateParts(
      spark, graft.streaming.EventsStream.DefaultDrainStateParts) {
      val q = spark.readStream.format("graft-lake")
        .option("maxVersionsPerBatch", 1)
        .load(t)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
          sum("doc_id").as("sum_ids"))
        .writeStream.outputMode("complete")
        .format("memory").queryName(mem)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runPass()
    LakeTxn.appendCommit(spark, d.filter(col("doc_id") % 4 === 3).repartition(2), t)
    runPass()
    spark.table(mem).orderBy("lang")
  }

  /** stream_lake_pipeline: the whole lakehouse streaming story in one
    * graded query — the V2 source tails table A per-commit, a transform
    * runs per micro-batch, and [[LakeTxn.appendBatchCommit]] lands each
    * epoch in table B as ONE atomic commit carrying an idempotence
    * marker. The stream then runs AGAIN from a FRESH checkpoint (full
    * re-delivery of every epoch — the harshest replay there is): the
    * markers skip all of them, so table B holds each row exactly once.
    * A sink without the marker protocol would double every row; graded
    * on B's content. */
  def streamPipelineQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val src = LakeTxn.freshTable(spark, sfDir, "pipesrc")
    val dst = LakeTxn.freshTable(spark, sfDir, "pipedst")
    val d = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
    for (r <- 0 to 2)
      LakeTxn.appendCommit(spark, d.filter(col("doc_id") % 3 === r).repartition(2), src)
    def run(ckpt: String): Unit = {
      val q = spark.readStream.format("graft-lake")
        .option("maxVersionsPerBatch", 1)
        .load(src)
        .filter(col("lang") =!= "de")
        .withColumn("text_sha", sha2(col("text"), 256))
        .writeStream.outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, epochId: Long) =>
          LakeTxn.appendBatchCommit(spark, batch, dst,
            app = "stream_lake_pipeline", batchId = epochId): Unit
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    run(s"$src/_ckpt1")
    run(s"$src/_ckpt2") // fresh checkpoint: every epoch re-delivers; markers skip
    LakeTxn.read(spark, dst).orderBy("doc_id")
  }

  /** stream_lake_sink: the NATIVE streaming sink — `writeStream
    * .format("graft-lake")` lands each epoch as one atomic commit
    * through [[LakeStreamingWrite]], marker-keyed by the stable
    * `txnAppId`. The stream runs once (three commits tailed per-epoch
    * into the destination), then AGAIN from a FRESH checkpoint — full
    * re-delivery of every epoch, the harshest replay there is: the
    * markers skip all of them, so the destination holds each row
    * exactly once. A sink without the marker protocol would double
    * every row; graded on the destination's content. The destination
    * is born via [[LakeTxn.createTable]] (schema-first DDL), so the
    * whole journey is catalog-shaped: CREATE, stream-in, read. */
  def streamSinkQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val src = LakeTxn.freshTable(spark, sfDir, "sinksrc")
    val dst = LakeTxn.freshTable(spark, sfDir, "sinkdst")
    val d = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    for (r <- 0 to 2)
      LakeTxn.appendCommit(spark, d.filter(col("doc_id") % 3 === r).repartition(2), src)
    LakeTxn.createTable(spark, dst, d.schema)
    def run(ckpt: String): Unit = {
      val q = spark.readStream.format("graft-lake")
        .option("maxVersionsPerBatch", 1)
        .load(src)
        .filter(col("lang") =!= "fr")
        .writeStream.outputMode("append")
        .format("graft-lake")
        .option("txnAppId", "stream_lake_sink")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(dst)
      q.awaitTermination()
    }
    run(s"$src/_ckpt1")
    run(s"$src/_ckpt2") // fresh checkpoint: every epoch re-delivers; markers skip
    LakeTxn.read(spark, dst).orderBy("doc_id")
  }

  /** lake_v2_write: the WRITE half of the connector —
    * `df.write.format("graft-lake").mode("append")` staging per task
    * and publishing ONE atomic log commit per write; a bootstrap
    * append pins the schema, two connector writes land the rest, and
    * the graded read goes through the reference reader (a lost task
    * commit, a double-published speculative attempt, or a dropped
    * column would all corrupt the content). */
  def v2WriteQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val t = LakeTxn.freshTable(spark, sfDir, "v2write")
    val d = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
    LakeTxn.appendCommit(spark, d.filter(col("doc_id") % 3 === 0).repartition(2), t)
    d.filter(col("doc_id") % 3 === 1).repartition(2)
      .write.format("graft-lake").mode("append").save(t)
    d.filter(col("doc_id") % 3 === 2).repartition(2)
      .write.format("graft-lake").mode("append").save(t)
    LakeTxn.read(spark, t).orderBy("doc_id")
  }

  /** lake_v2_overwrite: `mode("overwrite")` through the connector —
    * ONE atomic remove-all+add commit replaces the table content (the
    * bootstrap corpus shrinks to the non-'de' corpus), then a plain
    * append lands on top; graded on the final content. A reader that
    * saw the overwrite half-applied (old+new mixed), or an overwrite
    * that missed a remove, double-counts and hash-mismatches; time
    * travel to the pre-overwrite version still reads (spec-pinned). */
  def v2OverwriteQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val t = LakeTxn.freshTable(spark, sfDir, "v2ow")
    val d = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
    LakeTxn.appendCommit(spark, d.repartition(2), t)
    d.filter(col("lang") =!= "de").repartition(2)
      .write.format("graft-lake").mode("overwrite").save(t)
    d.filter(col("lang") === "de" && col("doc_id") % 13 === 0).repartition(1)
      .write.format("graft-lake").mode("append").save(t)
    LakeTxn.read(spark, t).orderBy("doc_id")
  }

  /** lake_multi_stats: the N-COLUMN stats map — one append records
    * per-file [min,max] AND nullCount for three columns; the batch read
    * pushes `promo_cents IS NOT NULL AND price_cents <= band` and the
    * connector prunes the file list from the log alone: the all-null
    * promo files (nulls range-cluster to the front) drop on nullCount,
    * the rest on the price band (LakeMultiStatsSpec corrupts pruned
    * files to prove they are never opened). Graded on the surviving
    * content — pruning that dropped a matching file would lose rows. */
  def multiStatsQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val t = LakeTxn.freshTable(spark, sfDir, "mstats")
    val o = graft.Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"),
        graft.rel.Relational.cents(col("o_totalprice")).as("price_cents"))
      .withColumn("promo_cents",
        when(col("o_custkey") % 4 === 0, col("price_cents")))
    LakeTxn.appendCommitStatsMulti(spark,
      o.repartitionByRange(8, col("promo_cents"), col("o_orderkey")),
      t, Seq("o_custkey", "price_cents", "promo_cents"))
    spark.read.format("graft-lake").load(t)
      .filter(col("promo_cents").isNotNull && col("price_cents") <= 3000000L)
      .orderBy("o_orderkey")
  }

  /** lake_stats_join: LOG-REPORTED statistics driving join planning —
    * the customer dim lives in the lake, the connector's
    * `SupportsReportStatistics` advertises its true (small) size from
    * add-action bytes, and Catalyst AUTO-broadcasts it against the
    * orders fact with NO hint anywhere (LakeStatsReportSpec pins the
    * BroadcastHashJoin). Without reported stats a V2 table defaults to
    * "unknown = huge" and the join would shuffle both sides — at 100 TB
    * the difference between moving 100 TB and moving 10 MB. Graded on
    * the join content. */
  def statsJoinQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val t = LakeTxn.freshTable(spark, sfDir, "statsjoin")
    val c = graft.Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_mktsegment"))
    LakeTxn.appendCommit(spark, c.repartition(2), t)
    graft.Tables.orders(spark, sfDir)
      .select(col("o_custkey"),
        graft.rel.Relational.cents(col("o_totalprice")).as("price_cents"))
      .join(spark.read.format("graft-lake").load(t),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"), sum("price_cents").as("sum_cents"))
      .orderBy("c_mktsegment")
  }

  /** lake_agg_pushdown: global COUNT(*)/COUNT(col)/MIN/MAX answered
    * from the LOG alone — complete aggregate pushdown into the V2 scan
    * (the plan is a one-row metadata scan, `answered from log` in its
    * description; LakeAggPushdownSpec corrupts every data file and the
    * answer still stands). At 100 TB this is the difference between a
    * full-table scan and a driver-side log fold. Graded on the values:
    * a miscounted null, a band folded wrong, or a missed file all
    * mismatch. */
  def aggPushdownQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val t = LakeTxn.freshTable(spark, sfDir, "aggpd")
    val o = graft.Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"),
        graft.rel.Relational.cents(col("o_totalprice")).as("price_cents"))
      .withColumn("promo_cents",
        when(col("o_custkey") % 4 === 0, col("price_cents")))
    for (r <- 0 to 1)
      LakeTxn.appendCommitStatsMulti(spark,
        o.filter(col("o_orderkey") % 2 === r).repartition(3), t,
        Seq("o_orderkey", "o_custkey", "price_cents", "promo_cents"))
    spark.read.format("graft-lake").load(t)
      .agg(count(lit(1)).as("n_rows"), count(col("promo_cents")).as("n_promo"),
        min("o_custkey").as("min_cust"), max("o_custkey").as("max_cust"),
        min("price_cents").as("min_price"), max("price_cents").as("max_price"))
  }

  /** lake_v2_batch: the BATCH half of the connector — a z-clustered
    * table read through `spark.read.format("graft-lake")` with a 2-D
    * box predicate; Catalyst pushes the filters into the scan builder
    * and the connector prunes the file list from the LOG's recorded
    * stats (LakeV2BatchSpec proves skipped files are never opened by
    * corrupting them). Graded on the box content — pruning that
    * dropped a matching file would lose rows. */
  def v2BatchQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val t = LakeTxn.freshTable(spark, sfDir, "v2batch")
    val o = graft.Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"),
        graft.rel.Relational.cents(col("o_totalprice")).as("price_cents"))
    LakeTxn.appendCommitZorder(spark, o, t, "o_custkey", "price_cents", files = 16)
    spark.read.format("graft-lake").load(t)
      .filter(col("o_custkey").between(50, 250) &&
        col("price_cents").between(1500000L, 4000000L))
      .orderBy("o_orderkey")
  }

  /** lake_v2_batch_dv: the MERGE-ON-READ columnar read — the same
    * z-clustered box scan as lake_v2_batch with a deletion vector live
    * on every file (doc-ordinal tombstones from a MoR DELETE): the scan
    * stays COLUMNAR (LakeV2BatchSpec pins ColumnarToRow in the plan),
    * each decoded batch compacted in place of a row-reader demotion.
    * Graded on the box-minus-deleted content: a masked wrong ordinal, a
    * resurrected tombstone, or a dropped survivor all hash-mismatch. */
  def v2BatchDvQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val t = LakeTxn.freshTable(spark, sfDir, "v2dv")
    val o = graft.Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"),
        graft.rel.Relational.cents(col("o_totalprice")).as("price_cents"))
    LakeTxn.appendCommitZorder(spark, o, t, "o_custkey", "price_cents", files = 16)
    LakeTxn.deleteWhereMor(spark, t, col("o_orderkey") % 10 === 3)
    spark.read.format("graft-lake").load(t)
      .filter(col("o_custkey").between(50, 250) &&
        col("price_cents").between(1500000L, 4000000L))
      .orderBy("o_orderkey")
  }

  /** lake_string_stats: TRUNCATED STRING BANDS in the log's stats map —
    * the dominant filters of a crawl corpus are text (lang, source,
    * url), and INT64-only stats never prune them. A range-clustered
    * append records per-file UTF-8 [min, max] bands (32-code-point
    * truncation, upper bound incremented — Delta's convention); the V2
    * read pushes `lang >= 'fr'` and the connector prunes the de/en/es
    * files from the LOG alone (LakeStringStatsSpec corrupts them to
    * prove zero footer opens, checkpoint round-trip included). Graded
    * on the surviving content. */
  def stringStatsQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val t = LakeTxn.freshTable(spark, sfDir, "sstats")
    val d = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    LakeTxn.appendCommitStatsMulti(spark,
      d.repartitionByRange(8, col("lang"), col("doc_id")), t,
      Seq("lang", "source", "doc_id"))
    spark.read.format("graft-lake").load(t)
      .filter(col("lang") >= "fr")
      .orderBy("doc_id")
  }
}
