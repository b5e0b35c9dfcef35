package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, ProcedureCatalog, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.Scan
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.ext.LakeTxn

/** The transactional lake as a V2 `TableCatalog` — the SQL DDL surface
  * the path-only connector lacks: `CREATE / DROP / ALTER TABLE ...
  * USING graft-lake`, `INSERT INTO`, `SELECT`, DataFrame writes to a
  * named table, `spark.table`, all resolving through the commit log.
  * The reference has no notion of a named persistent table at all (jobs
  * read ad-hoc upload directories, `interface.py:9-24`); this is the
  * missing metastore layer, reduced to its load-bearing core.
  *
  * Register: `spark.sql.catalog.<name> = graft.sources.GraftLakeCatalog`
  * and `spark.sql.catalog.<name>.warehouse = <dir>`.
  *
  * Model — METADATA IS THE LOG, the catalog adds only naming:
  *  - a table `cat.ns.t` IS the lake table at `<warehouse>/ns/t`; its
  *    existence is "the directory has a commit log", so there is no
  *    separate metastore state to drift out of sync (the Delta-on-path
  *    catalog shape);
  *  - `CREATE TABLE` publishes commit 0 carrying ONLY the governing
  *    schema action — a table exists (and is queryable, empty) the
  *    moment its schema commits; CTAS lands the data as ordinary
  *    follow-up appends through the V2 writer;
  *  - `ALTER TABLE ADD COLUMN` is schema-on-log evolution: one commit
  *    pins the widened schema, every existing file null-fills at read
  *    time, zero rewrites;
  *  - namespaces are single-level directories under the warehouse
  *    (the `db` convention); CHECK constraints and the protocol gate
  *    ride the same commit path as everywhere else, so SQL `INSERT`
  *    into a constrained or fenced table is enforced identically.
  *
  * At 100 TB the catalog costs what the log costs: resolution is one
  * directory existence check; planning stays the driver-scale snapshot
  * fold. `CREATE TABLE ... PARTITIONED BY (col)` takes one identity-
  * transform STRING column, marked in the governing schema's field
  * metadata: INSERTs split per value with the column physically absent
  * from the files (hive layout, values in the add actions), and reads
  * prune partitions from the log alone. Not supported (loudly): custom
  * `LOCATION` (a managed catalog has no metastore to remember external
  * paths in), column drops/renames/retypes (a lake rewrite, not a
  * metadata edit).
  */
object GraftLakeCatalog {

  /** Register a nonce-named catalog over `wh`, run `body`, then UNSET
    * the two conf keys — repeated bench/verify runs in one session must
    * not accrete session conf entries (the nonce name itself sidesteps
    * Spark's per-name catalog-instance cache, which would otherwise pin
    * the first run's warehouse). Unsetting after `body` is safe: the
    * returned frame's plan holds resolved Table instances, not catalog
    * lookups. */
  private def withNonceCatalog(spark: SparkSession, wh: String, prefix: String)
      (body: String => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val cat = s"$prefix${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try body(cat)
    finally {
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      spark.conf.unset(s"spark.sql.catalog.$cat")
    }
  }

  /** lake_sql_ddl: the catalog journey in PURE SQL — CREATE NAMESPACE,
    * CREATE TABLE (commit 0 = schema only), two INSERT INTO commits,
    * ALTER TABLE ADD COLUMN (schema-on-log evolution), a third INSERT
    * carrying the new column, and a SELECT through `spark.sql` over the
    * V2 connector scan. Graded on the full row-level content: a catalog
    * that lost an insert, misordered evolution, or null-filled wrongly
    * all hash-mismatch. A nonce catalog name per run sidesteps Spark's
    * per-name catalog-instance cache (the warehouse moves per run). */
  def sqlDdlQuery(spark: SparkSession, sfDir: String): org.apache.spark.sql.DataFrame = {
    val wh = LakeTxn.freshTable(spark, sfDir, "sqlddl")
    withNonceCatalog(spark, wh, "glake") { cat =>
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.docs (doc_id BIGINT, lang STRING, " +
      s"source STRING, n_chars BIGINT) USING `graft-lake`")
    graft.Tables.documents(spark, sfDir)
      .select("doc_id", "lang", "source", "n_chars")
      .createOrReplaceTempView("sqlddl_docs")
    spark.sql(s"INSERT INTO $cat.db.docs SELECT doc_id, lang, source, " +
      s"n_chars FROM sqlddl_docs WHERE doc_id % 2 = 0")
    spark.sql(s"INSERT INTO $cat.db.docs SELECT doc_id, lang, source, " +
      s"n_chars FROM sqlddl_docs WHERE doc_id % 2 = 1")
    spark.sql(s"ALTER TABLE $cat.db.docs ADD COLUMN quality BIGINT")
    spark.sql(s"INSERT INTO $cat.db.docs SELECT doc_id + 1000000, lang, " +
      s"source, n_chars, n_chars % 7 FROM sqlddl_docs WHERE doc_id % 13 = 0")
    spark.sql(s"SELECT doc_id, lang, source, n_chars, quality " +
      s"FROM $cat.db.docs ORDER BY doc_id")
    }
  }

  /** lake_sql_delete: SQL `DELETE FROM` through the catalog — two
    * deletes land as merge-on-read deletion-vector commits (zero data
    * files rewritten; the V2 read anti-joins the tombstones), then the
    * SELECT sees exactly the survivors. A delete that dropped the wrong
    * rows, resurrected tombstoned ones, or rewrote files out from under
    * the log all hash-mismatch. */
  def sqlDeleteQuery(spark: SparkSession, sfDir: String): org.apache.spark.sql.DataFrame = {
    val wh = LakeTxn.freshTable(spark, sfDir, "sqldel")
    withNonceCatalog(spark, wh, "glaked") { cat =>
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.docs (doc_id BIGINT, lang STRING, " +
      s"source STRING, n_chars BIGINT) USING `graft-lake`")
    graft.Tables.documents(spark, sfDir)
      .select("doc_id", "lang", "source", "n_chars")
      .createOrReplaceTempView("sqldel_docs")
    spark.sql(s"INSERT INTO $cat.db.docs SELECT * FROM sqldel_docs")
    spark.sql(s"DELETE FROM $cat.db.docs WHERE lang = 'de'")
    spark.sql(s"DELETE FROM $cat.db.docs WHERE lang = 'en' AND n_chars > 900")
    spark.sql(s"SELECT doc_id, lang, source, n_chars " +
      s"FROM $cat.db.docs ORDER BY doc_id")
    }
  }

  /** lake_sql_update: SQL `UPDATE` as a group-based copy-on-write
    * row-level operation — the runtime group filter rewrites only files
    * holding a match (LakeRowLevelSpec pins the surviving file set),
    * and two sequential updates COMPOUND (the second reads the first's
    * commit). Graded on the final content: a lost update, a
    * half-applied rewrite, or a resurrected pre-update row all
    * hash-mismatch. */
  def sqlUpdateQuery(spark: SparkSession, sfDir: String): org.apache.spark.sql.DataFrame = {
    val wh = LakeTxn.freshTable(spark, sfDir, "sqlupd")
    withNonceCatalog(spark, wh, "glakeu") { cat =>
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.docs (doc_id BIGINT, lang STRING, " +
      s"source STRING, n_chars BIGINT) USING `graft-lake`")
    graft.Tables.documents(spark, sfDir)
      .select("doc_id", "lang", "source", "n_chars")
      .createOrReplaceTempView("sqlupd_docs")
    spark.sql(s"INSERT INTO $cat.db.docs SELECT * FROM sqlupd_docs")
    spark.sql(s"UPDATE $cat.db.docs SET n_chars = n_chars + 1000 WHERE lang = 'en'")
    spark.sql(s"UPDATE $cat.db.docs SET lang = 'xl' WHERE n_chars > 1500")
    spark.sql(s"SELECT doc_id, lang, source, n_chars " +
      s"FROM $cat.db.docs ORDER BY doc_id")
    }
  }

  /** lake_sql_merge: native SQL `MERGE INTO` — matched-delete,
    * matched-update and not-matched-insert in ONE atomic copy-on-write
    * commit through the row-level operation (the same CDC shape the
    * `merge` procedure and `applyChanges` serve, graded through the
    * third surface: the MERGE keyword itself). */
  def sqlMergeQuery(spark: SparkSession, sfDir: String): org.apache.spark.sql.DataFrame = {
    val wh = LakeTxn.freshTable(spark, sfDir, "sqlmrg")
    withNonceCatalog(spark, wh, "glakem") { cat =>
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.docs (doc_id BIGINT, lang STRING, " +
      s"source STRING, n_chars BIGINT) USING `graft-lake`")
    graft.Tables.documents(spark, sfDir)
      .select("doc_id", "lang", "source", "n_chars")
      .createOrReplaceTempView("sqlmrg_docs")
    spark.sql(s"INSERT INTO $cat.db.docs SELECT * FROM sqlmrg_docs")
    spark.sql(
      """SELECT doc_id, 'xx' AS lang, source, n_chars, 'u' AS op
        |FROM sqlmrg_docs WHERE doc_id % 7 = 0 AND doc_id % 5 <> 4
        |UNION ALL
        |SELECT doc_id + 1000000, 'new', source, n_chars, 'u'
        |FROM sqlmrg_docs WHERE doc_id % 13 = 0
        |UNION ALL
        |SELECT doc_id, lang, source, n_chars, 'd'
        |FROM sqlmrg_docs WHERE doc_id % 5 = 4""".stripMargin)
      .createOrReplaceTempView("sqlmrg_changes")
    spark.sql(
      s"""MERGE INTO $cat.db.docs t USING sqlmrg_changes s ON t.doc_id = s.doc_id
         |WHEN MATCHED AND s.op = 'd' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET lang = s.lang
         |WHEN NOT MATCHED THEN INSERT (doc_id, lang, source, n_chars)
         |  VALUES (s.doc_id, s.lang, s.source, s.n_chars)""".stripMargin)
    spark.sql(s"SELECT doc_id, lang, source, n_chars " +
      s"FROM $cat.db.docs ORDER BY doc_id")
    }
  }

  /** lake_sql_call: the MAINTENANCE surface in pure SQL — `CALL
    * cat.system.merge` applies a CDC view copy-on-write (updates +
    * inserts + deletes in one commit), then `checkpoint`, `compact`
    * and `vacuum` run as CALLs; the SELECT reads the final snapshot.
    * Graded on the content: a merge that lost a change kind, a
    * compaction that dropped rows, or a vacuum that deleted live files
    * all hash-mismatch. */
  def sqlCallQuery(spark: SparkSession, sfDir: String): org.apache.spark.sql.DataFrame = {
    val wh = LakeTxn.freshTable(spark, sfDir, "sqlcall")
    withNonceCatalog(spark, wh, "glakec") { cat =>
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.docs (doc_id BIGINT, lang STRING, " +
      s"source STRING, n_chars BIGINT) USING `graft-lake`")
    graft.Tables.documents(spark, sfDir)
      .select("doc_id", "lang", "source", "n_chars")
      .createOrReplaceTempView("sqlcall_docs")
    spark.sql(s"INSERT INTO $cat.db.docs SELECT * FROM sqlcall_docs WHERE doc_id % 2 = 0")
    spark.sql(s"INSERT INTO $cat.db.docs SELECT * FROM sqlcall_docs WHERE doc_id % 2 = 1")
    spark.sql(
      """SELECT doc_id, 'xx' AS lang, source, n_chars, 'upsert' AS __op
        |FROM sqlcall_docs WHERE doc_id % 7 = 0 AND doc_id % 5 <> 4
        |UNION ALL
        |SELECT doc_id + 1000000, 'new', source, n_chars, 'upsert'
        |FROM sqlcall_docs WHERE doc_id % 13 = 0
        |UNION ALL
        |SELECT doc_id, lang, source, n_chars, 'delete'
        |FROM sqlcall_docs WHERE doc_id % 5 = 4""".stripMargin)
      .createOrReplaceTempView("sqlcall_changes")
    spark.sql(s"CALL $cat.system.merge('db.docs', 'sqlcall_changes', 'doc_id')")
    spark.sql(s"CALL $cat.system.checkpoint('db.docs')")
    spark.sql(s"CALL $cat.system.compact('db.docs')")
    spark.sql(s"CALL $cat.system.vacuum('db.docs')")
    spark.sql(s"SELECT doc_id, lang, source, n_chars " +
      s"FROM $cat.db.docs ORDER BY doc_id")
    }
  }

  /** lake_sql_update_mor: the MERGE-ON-READ update — the same two
    * compounding updates as `lake_sql_update` (one oracle, two engines'
    * worth of write paths), applied via `CALL cat.system.update_where`:
    * each commit tombstones the matched rows with a deletion vector and
    * appends their rewritten versions, ZERO data files removed (the
    * query itself asserts the commit shape — adds + DV only). The
    * write-cheap half of the update trade-off: a point update against a
    * 100-TB table costs Θ(matched rows), not a file rewrite; the graded
    * read pays the DV mask until a compaction materializes the debt. */
  def sqlUpdateMorQuery(spark: SparkSession, sfDir: String): org.apache.spark.sql.DataFrame = {
    val wh = LakeTxn.freshTable(spark, sfDir, "sqlupdmor")
    withNonceCatalog(spark, wh, "glakeum") { cat =>
      spark.sql(s"CREATE NAMESPACE $cat.db")
      spark.sql(s"CREATE TABLE $cat.db.docs (doc_id BIGINT, lang STRING, " +
        s"source STRING, n_chars BIGINT) USING `graft-lake`")
      graft.Tables.documents(spark, sfDir)
        .select("doc_id", "lang", "source", "n_chars")
        .createOrReplaceTempView("sqlupdmor_docs")
      spark.sql(s"INSERT INTO $cat.db.docs SELECT * FROM sqlupdmor_docs")
      val v1 = spark.sql(s"CALL $cat.system.update_where('db.docs', " +
        s"'lang = ''en''', 'n_chars', 'n_chars + 1000')").head.getLong(0)
      val v2 = spark.sql(s"CALL $cat.system.update_where('db.docs', " +
        s"'n_chars > 1500', 'lang', '''xl''')").head.getLong(0)
      val t = s"$wh/db/docs"
      Seq(v1, v2).foreach { v =>
        val acts = LakeTxn.readCommit(spark, t, v)
        require(acts.forall(_.add) && acts.exists(_.dv) &&
          acts.exists(a => a.add && !a.dv && !a.schema),
          s"merge-on-read UPDATE commit $v of $t must be adds + deletion " +
            s"vector with zero removed data files")
      }
      spark.sql(s"SELECT doc_id, lang, source, n_chars " +
        s"FROM $cat.db.docs ORDER BY doc_id")
    }
  }

  /** lake_sql_partitioned: hive-shaped partitioning in PURE SQL —
    * `CREATE TABLE ... PARTITIONED BY (lang)`, two INSERTs whose files
    * physically LACK the lang column (one staged file per value, the
    * value riding the add action), and a SELECT whose `lang IN (...)`
    * prunes the file list from the log alone (LakeSqlPartSpec corrupts
    * the other partitions' files to prove they are never opened).
    * Graded on the two-partition content: a dropped partition value, a
    * misrouted row, or a bad reinjection all hash-mismatch. */
  def sqlPartitionedQuery(spark: SparkSession, sfDir: String): org.apache.spark.sql.DataFrame = {
    val wh = LakeTxn.freshTable(spark, sfDir, "sqlpart")
    withNonceCatalog(spark, wh, "glakep") { cat =>
      spark.sql(s"CREATE NAMESPACE $cat.db")
      spark.sql(s"CREATE TABLE $cat.db.docs (doc_id BIGINT, text STRING, " +
        s"lang STRING, source STRING, n_chars BIGINT) USING `graft-lake` " +
        s"PARTITIONED BY (lang)")
      graft.Tables.documents(spark, sfDir)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .createOrReplaceTempView("sqlpart_docs")
      spark.sql(s"INSERT INTO $cat.db.docs SELECT doc_id, text, lang, " +
        s"source, n_chars FROM sqlpart_docs WHERE doc_id % 2 = 0")
      spark.sql(s"INSERT INTO $cat.db.docs SELECT doc_id, text, lang, " +
        s"source, n_chars FROM sqlpart_docs WHERE doc_id % 2 = 1")
      spark.sql(s"SELECT doc_id, text, lang, source, n_chars " +
        s"FROM $cat.db.docs WHERE lang IN ('en', 'fr') ORDER BY doc_id")
    }
  }

  /** lake_sql_insert_overwrite: the hive partition-rebuild shape in
    * pure SQL — `INSERT OVERWRITE ... PARTITION (lang = 'en')` replaces
    * EXACTLY the 'en' partition's files (one atomic remove+add commit,
    * scope-validated against the writer-recorded partition values,
    * conflict-checked at the read version) while every other partition
    * is untouched. Graded on the full content: an overwrite that leaked
    * outside its partition, missed a doomed file, or dropped the
    * replacement all hash-mismatch. */
  def sqlInsertOverwriteQuery(spark: SparkSession, sfDir: String): org.apache.spark.sql.DataFrame = {
    val wh = LakeTxn.freshTable(spark, sfDir, "sqlio")
    withNonceCatalog(spark, wh, "glakeio") { cat =>
      spark.sql(s"CREATE NAMESPACE $cat.db")
      spark.sql(s"CREATE TABLE $cat.db.docs (doc_id BIGINT, text STRING, " +
        s"lang STRING, source STRING, n_chars BIGINT) USING `graft-lake` " +
        s"PARTITIONED BY (lang)")
      graft.Tables.documents(spark, sfDir)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .createOrReplaceTempView("sqlio_docs")
      spark.sql(s"INSERT INTO $cat.db.docs SELECT doc_id, text, lang, " +
        s"source, n_chars FROM sqlio_docs")
      spark.sql(s"INSERT OVERWRITE $cat.db.docs PARTITION (lang = 'en') " +
        s"SELECT doc_id + 2000000, text, source, n_chars + 5 " +
        s"FROM sqlio_docs WHERE lang = 'en' AND doc_id % 2 = 0")
      spark.sql(s"SELECT doc_id, text, lang, source, n_chars " +
        s"FROM $cat.db.docs ORDER BY doc_id")
    }
  }

  /** lake_sql_time_travel: `SELECT ... VERSION AS OF k` through the SQL
    * parser — the graded read pins version 2 (both inserts, before the
    * DELETE), under that version's governing schema; a sacrificial twin
    * table proves the OTHER half of the contract through SQL too:
    * time travel below the vacuum retention horizon is refused at plan
    * time with the purpose-built message, never a mid-scan
    * FileNotFound. */
  def sqlTimeTravelQuery(spark: SparkSession, sfDir: String): org.apache.spark.sql.DataFrame = {
    val wh = LakeTxn.freshTable(spark, sfDir, "sqltt")
    withNonceCatalog(spark, wh, "glaket") { cat =>
      spark.sql(s"CREATE NAMESPACE $cat.db")
      spark.sql(s"CREATE TABLE $cat.db.docs (doc_id BIGINT, text STRING, " +
        s"lang STRING, source STRING, n_chars BIGINT) USING `graft-lake`")
      graft.Tables.documents(spark, sfDir)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .createOrReplaceTempView("sqltt_docs")
      spark.sql(s"INSERT INTO $cat.db.docs SELECT * FROM sqltt_docs WHERE doc_id % 2 = 0")
      spark.sql(s"INSERT INTO $cat.db.docs SELECT * FROM sqltt_docs WHERE doc_id % 2 = 1")
      spark.sql(s"DELETE FROM $cat.db.docs WHERE lang = 'de'")
      // the sacrificial twin: vacuum publishes a horizon at its latest
      // version, then SQL time travel below it must refuse loudly
      spark.sql(s"CREATE TABLE $cat.db.docs2 (doc_id BIGINT) USING `graft-lake`")
      spark.sql(s"INSERT INTO $cat.db.docs2 SELECT doc_id FROM sqltt_docs WHERE doc_id % 2 = 0")
      spark.sql(s"INSERT INTO $cat.db.docs2 SELECT doc_id FROM sqltt_docs WHERE doc_id % 2 = 1")
      spark.sql(s"CALL $cat.system.vacuum('db.docs2', 1, 0)").collect()
      val refused =
        try { spark.sql(s"SELECT * FROM $cat.db.docs2 VERSION AS OF 1").collect(); false }
        catch { case e: Throwable =>
          Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null).take(8)
            .exists(t => String.valueOf(t.getMessage)
              .contains("vacuum retention horizon"))
        }
      require(refused,
        "SQL time travel below the vacuum horizon must refuse at plan time")
      spark.sql(s"SELECT doc_id, text, lang, source, n_chars " +
        s"FROM $cat.db.docs VERSION AS OF 2 ORDER BY doc_id")
    }
  }

  /** stream_lake_catalog: the lake tailed as a stream THROUGH THE
    * CATALOG — `spark.readStream.table("cat.db.t")` resolves the same
    * V2 table and plans the same micro-batch stream the path API
    * serves. Three INSERT commits drain one-per-batch into a
    * complete-mode aggregate; a FOURTH insert lands after the stream
    * stopped and a second pass over the SAME checkpoint resumes from
    * the recorded offset (restart-resume through catalog resolution).
    * Final state = the whole-corpus aggregate — a lost or re-delivered
    * commit corrupts some group. */
  def streamCatalogQuery(spark: SparkSession, sfDir: String): org.apache.spark.sql.DataFrame = {
    val wh = LakeTxn.freshTable(spark, sfDir, "streamcat")
    withNonceCatalog(spark, wh, "glakesc") { cat =>
      spark.sql(s"CREATE NAMESPACE $cat.db")
      spark.sql(s"CREATE TABLE $cat.db.docs (doc_id BIGINT, lang STRING, " +
        s"source STRING, n_chars BIGINT) USING `graft-lake`")
      graft.Tables.documents(spark, sfDir)
        .select("doc_id", "lang", "source", "n_chars")
        .createOrReplaceTempView("streamcat_docs")
      for (r <- 0 to 2)
        spark.sql(s"INSERT INTO $cat.db.docs SELECT * FROM streamcat_docs " +
          s"WHERE doc_id % 4 = $r")
      val ckpt = s"$wh/_ckpt"
      val mem = "lake_stream_cat_" +
        spark.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_")
      // graded-drain state width (state = |langs| rows) — see
      // EventsStream.DefaultDrainStateParts
      def runPass(): Unit = graft.streaming.EventsStream.withStateParts(
        spark, graft.streaming.EventsStream.DefaultDrainStateParts) {
        import org.apache.spark.sql.functions.{count, lit, sum}
        val q = spark.readStream
          .option("maxVersionsPerBatch", 1)
          .table(s"$cat.db.docs")
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
      spark.sql(s"INSERT INTO $cat.db.docs SELECT * FROM streamcat_docs " +
        s"WHERE doc_id % 4 = 3")
      runPass()
      spark.table(mem).orderBy("lang")
    }
  }

  /** lake_sql_cdf: the CHANGE DATA FEED in PURE SQL — the same change
    * batch as lake_txn_cdf (edits + inserts + deletes in one MERGE
    * commit via `CALL merge`), then `CALL cat.system.table_changes(
    * 'db.docs', 1, 2)` returns the row-level diff between the
    * post-insert and post-merge versions straight through the
    * procedure surface. Same ground truth as the programmatic feed
    * (keys aliased to the procedure's generic `key` column): a lost
    * change kind, a misclassified edit, or a phantom row all
    * hash-mismatch. */
  def sqlCdfQuery(spark: SparkSession, sfDir: String): org.apache.spark.sql.DataFrame = {
    val wh = LakeTxn.freshTable(spark, sfDir, "sqlcdf")
    withNonceCatalog(spark, wh, "glakecdf") { cat =>
      spark.sql(s"CREATE NAMESPACE $cat.db")
      spark.sql(s"CREATE TABLE $cat.db.docs (doc_id BIGINT, text STRING, " +
        s"lang STRING, source STRING, n_chars BIGINT) USING `graft-lake`")
      graft.Tables.documents(spark, sfDir)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .createOrReplaceTempView("sqlcdf_docs")
      spark.sql(s"INSERT INTO $cat.db.docs SELECT * FROM sqlcdf_docs")
      spark.sql(
        """SELECT doc_id, concat(text, ' v2') AS text, lang, source,
          |  n_chars, 'upsert' AS __op
          |FROM sqlcdf_docs WHERE doc_id % 7 = 0 AND doc_id % 5 <> 4
          |UNION ALL
          |SELECT doc_id + 1000000, text, lang, source, n_chars, 'upsert'
          |FROM sqlcdf_docs WHERE doc_id % 13 = 0
          |UNION ALL
          |SELECT doc_id, text, lang, source, n_chars, 'delete'
          |FROM sqlcdf_docs WHERE doc_id % 5 = 4""".stripMargin)
        .createOrReplaceTempView("sqlcdf_changes")
      spark.sql(s"CALL $cat.system.merge('db.docs', 'sqlcdf_changes', 'doc_id')")
      // version 1 = after the INSERT, version 2 = after the MERGE
      // (version 0 is the CREATE TABLE schema commit)
      spark.sql(s"CALL $cat.system.table_changes('db.docs', 1, 2)")
    }
  }

  /** lake_txn_bucket_join: the co-located fact join THROUGH the
    * transactional connector — both tables land bucket-stamped in the
    * commit log (`appendCommitBucketed`: one file per bucket,
    * `pmod(hash(key), 8)`), the catalog's V2 `bucket` function
    * completes the storage-partitioned-join handshake, and the two
    * scans join with NO join-key Exchange (asserted in-query: a
    * shuffle on either key means the write-once bucketing bought
    * nothing — at 100 TB that shuffle is the dominant cost this layout
    * exists to delete). Also serves `lake_bucket_join`; `name` keeps
    * the two registry entries' warehouses apart. */
  def sqlBucketJoinQuery(spark: SparkSession, sfDir: String,
                         name: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val wh = LakeTxn.freshTable(spark, sfDir, name)
    withNonceCatalog(spark, wh, "glakebj") { cat =>
      val confs = Seq(
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true")
      val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        spark.sql(s"CREATE NAMESPACE $cat.db")
        spark.sql(s"CREATE TABLE $cat.db.bo (o_orderkey BIGINT, " +
          s"o_custkey BIGINT, o_totalprice DOUBLE) USING `graft-lake`")
        spark.sql(s"CREATE TABLE $cat.db.bc (c_custkey BIGINT, " +
          s"c_mktsegment STRING) USING `graft-lake`")
        LakeTxn.appendCommitBucketed(spark,
          graft.Tables.orders(spark, sfDir)
            .select("o_orderkey", "o_custkey", "o_totalprice"),
          s"$wh/db/bo", "o_custkey", nBuckets = 8)
        LakeTxn.appendCommitBucketed(spark,
          graft.Tables.customer(spark, sfDir)
            .select("c_custkey", "c_mktsegment"),
          s"$wh/db/bc", "c_custkey", nBuckets = 8)
        val joined = spark.table(s"$cat.db.bo").hint("merge")
          .join(spark.table(s"$cat.db.bc"),
            col("o_custkey") === col("c_custkey"))
        val plan = joined.queryExecution.executedPlan.toString
        require(!plan.contains("hashpartitioning(o_custkey") &&
          !plan.contains("hashpartitioning(c_custkey"),
          s"bucketed lake join planned a join-key exchange:\n${plan.take(2000)}")
        joined.groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_orders"),
            sum(graft.rel.Relational.cents(col("o_totalprice"))).as("revenue_cents"))
          .orderBy("c_mktsegment")
      } finally saved.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
  }
}

/** The catalog's ONE V2 function: `bucket(n, key)` — the bound form of
  * the bucket transform a bucketed lake scan reports. Spark's
  * storage-partitioned join resolves the transform through the table's
  * FunctionCatalog and matches the two sides by `canonicalName`, so
  * exposing this is what turns two same-bucketed lake scans into a
  * zero-Exchange join. Evaluation is bit-identical to the write side
  * ([[LakeTxn.bucketId]]). */
private[sources] object GraftBucketFunction
    extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "graft-lake bucket(n, key): pmod(murmur3(key), n) over BIGINT keys"
  override def bind(inputType: StructType):
      org.apache.spark.sql.connector.catalog.functions.BoundFunction = {
    require(inputType.fields.length == 2 &&
      inputType.fields(1).dataType == LongType,
      s"bucket binds (INT n, BIGINT key); got ${inputType.simpleString}")
    new org.apache.spark.sql.connector.catalog.functions.ScalarFunction[Integer] {
      override def inputTypes(): Array[org.apache.spark.sql.types.DataType] =
        Array(org.apache.spark.sql.types.IntegerType, LongType)
      override def resultType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.IntegerType
      override def name(): String = "bucket"
      override def canonicalName(): String = "graft-lake.bucket"
      override def isResultNullable: Boolean = false
      override def produceResult(input: InternalRow): Integer =
        Integer.valueOf(LakeTxn.bucketId(input.getLong(1), input.getInt(0)))
    }
  }
}

class GraftLakeCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  /** The SPJ handshake ([[GraftBucketFunction]]): Spark resolves a
    * reported bucket transform via `loadFunction(Identifier([], name))`
    * against the scan's owning catalog. */
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      Array(Identifier.of(Array.empty[String], "bucket"))
    else Array.empty

  override def loadFunction(ident: Identifier):
      org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name == "bucket") GraftBucketFunction
    else throw new IllegalArgumentException(
      s"no function '${ident.name}' (graft-lake exposes: bucket)")

  private var catalogName: String = _
  private var warehouse: String = _

  private def spark = SparkSession.active

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = options.get("warehouse")
    require(warehouse != null && warehouse.nonEmpty,
      s"catalog '$name' needs spark.sql.catalog.$name.warehouse=<dir>")
  }

  override def name(): String = catalogName

  private def fs = new Path(warehouse).getFileSystem(
    spark.sessionState.newHadoopConf())

  private def nsPath(ns: Array[String]): Path = {
    require(ns.length == 1,
      s"graft-lake namespaces are single-level (got ${ns.mkString(".")})")
    require(ns(0).matches("[A-Za-z0-9_]+"),
      s"namespace '${ns(0)}' must be [A-Za-z0-9_]+")
    new Path(warehouse, ns(0))
  }

  private def tablePath(ident: Identifier): Path = {
    require(ident.name.matches("[A-Za-z0-9_]+"),
      s"table name '${ident.name}' must be [A-Za-z0-9_]+")
    new Path(nsPath(ident.namespace), ident.name)
  }

  private def isTable(p: Path): Boolean =
    fs.exists(new Path(p, "_graft_log"))

  // ------------------------------------------------------------------
  // tables
  // ------------------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = nsPath(namespace)
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(dir).filter(s => s.isDirectory && isTable(s.getPath))
      .map(s => Identifier.of(namespace, s.getPath.getName))
      .sortBy(_.name)
  }

  override def tableExists(ident: Identifier): Boolean =
    isTable(tablePath(ident))

  override def loadTable(ident: Identifier): Table = {
    val p = tablePath(ident)
    if (!isTable(p)) throw new NoSuchTableException(ident)
    new LakeStreamTable(p.toString,
      LakeStreamSource.tableSchemaOf(spark, p.toString))
  }

  /** SQL time travel: `SELECT ... FROM cat.db.t VERSION AS OF v` — a
    * read-only handle pinned to log version v, under THAT version's
    * governing schema (pre-evolution history shows its own columns). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val p = tablePath(ident)
    if (!isTable(p)) throw new NoSuchTableException(ident)
    val v = try version.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"graft-lake versions are log version numbers (got '$version')")
    }
    new LakeStreamTable(p.toString,
      LakeStreamSource.tableSchemaOf(spark, p.toString, Some(v)), Some(v))
  }

  /** SQL `TIMESTAMP AS OF ts` — resolved against commit PUBLISH times
    * (the atomic rename's mtime) to the newest version at or before
    * `micros`, then served exactly like `VERSION AS OF` (read-only
    * pinned handle under that version's governing schema). */
  override def loadTable(ident: Identifier, micros: Long): Table = {
    val p = tablePath(ident)
    if (!isTable(p)) throw new NoSuchTableException(ident)
    val v = LakeTxn.versionAtTimestamp(spark, p.toString, micros / 1000L)
    new LakeStreamTable(p.toString,
      LakeStreamSource.tableSchemaOf(spark, p.toString, Some(v)), Some(v))
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: JMap[String, String]): Table = {
    // PARTITIONED BY (col): one identity transform on a declared STRING
    // column. The partition column is marked in the governing schema's
    // field METADATA (no log-format change — old engines read these
    // tables untouched); writes split per value and stamp each add
    // action, reads prune from the log and reinject the value.
    require(partitions.length <= 1,
      "graft-lake tables take at most ONE partition column " +
        s"(got ${partitions.length})")
    val pvc = partitions.headOption.map { t =>
      require(t.name == "identity" && t.references.length == 1 &&
        t.references()(0).fieldNames().length == 1,
        s"graft-lake partitioning is a single identity transform on a " +
          s"top-level column (got $t)")
      val c = t.references()(0).fieldNames()(0)
      require(schema.fieldNames.contains(c),
        s"partition column '$c' is not in the table schema")
      require(schema(c).dataType == org.apache.spark.sql.types.StringType,
        s"partition column '$c' must be STRING (hive path values are " +
          s"strings; is ${schema(c).dataType.simpleString})")
      c
    }
    val unsupported = properties.keySet.asScala
      .filterNot(k => k == TableCatalog.PROP_PROVIDER ||
        k == TableCatalog.PROP_COMMENT || k == TableCatalog.PROP_OWNER ||
        k == "transient_lastDdlTime" || k.startsWith(TableCatalog.OPTION_PREFIX))
    require(unsupported.isEmpty,
      s"unsupported CREATE TABLE properties: ${unsupported.mkString(", ")} " +
        s"(a managed graft-lake table has no metastore to remember them in)")
    schema.fields.foreach(f => require(LakeColumnarReader.atomicOk(f.dataType),
      s"column '${f.name}' is ${f.dataType.simpleString}: graft-lake " +
        s"tables carry atomic columns only"))
    val p = tablePath(ident)
    if (isTable(p)) throw new TableAlreadyExistsException(ident)
    if (!fs.exists(nsPath(ident.namespace)))
      throw new NoSuchNamespaceException(ident.namespace)
    val stamped = pvc.fold(schema)(pc => StructType(schema.fields.map(f =>
      if (f.name == pc) f.copy(metadata =
        new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .putBoolean(LakeStreamTable.PvMetaKey, true).build())
      else f)))
    LakeTxn.createTable(spark, p.toString, stamped)
    new LakeStreamTable(p.toString, stamped)
  }

  /** ADD COLUMN only — everything else on a lake is a rewrite, not a
    * metadata edit, and pretending otherwise silently corrupts. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val p = tablePath(ident)
    if (!isTable(p)) throw new NoSuchTableException(ident)
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1,
          s"graft-lake columns are top-level (got ${add.fieldNames.mkString(".")})")
        require(add.isNullable,
          "an added column must be nullable: existing rows null-fill it")
        require(LakeColumnarReader.atomicOk(add.dataType),
          s"column '${add.fieldNames.head}' is ${add.dataType.simpleString}: " +
            s"graft-lake tables carry atomic columns only")
        LakeTxn.addColumn(spark, p.toString, add.fieldNames.head, add.dataType)
      case other => throw new UnsupportedOperationException(
        s"graft-lake supports ALTER TABLE ADD COLUMN only (got $other): " +
          s"drops/renames/retypes are table rewrites on a lake")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val p = tablePath(ident)
    if (!isTable(p)) false
    else fs.delete(p, true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = tablePath(oldIdent)
    val to = tablePath(newIdent)
    if (!isTable(from)) throw new NoSuchTableException(oldIdent)
    if (isTable(to)) throw new TableAlreadyExistsException(newIdent)
    if (!fs.exists(nsPath(newIdent.namespace)))
      throw new NoSuchNamespaceException(newIdent.namespace)
    require(fs.rename(from, to), s"rename $from -> $to failed")
  }

  // ------------------------------------------------------------------
  // stored procedures: the SQL maintenance surface (CALL cat.system.*)
  // ------------------------------------------------------------------

  /** 'db.table' → the table's path under this warehouse (must exist). */
  private[sources] def resolveTable(dbDotTable: String): String = {
    val parts = dbDotTable.split("\\.")
    require(parts.length == 2,
      s"procedures take a 'db.table' name (got '$dbDotTable')")
    val p = tablePath(Identifier.of(Array(parts(0)), parts(1)))
    require(isTable(p), s"no graft-lake table at $p")
    p.toString
  }

  /** One IN parameter. */
  private def in(n: String, dt: org.apache.spark.sql.types.DataType,
                 default: String = null): ProcedureParameter = {
    val b = ProcedureParameter.in(n, dt)
    if (default != null) b.defaultValue(default)
    b.build()
  }

  /** A procedure whose side effect (if any) runs in `rows` and whose
    * result is a driver-local row set (served as a `LocalScan`, the one
    * shape the CALL command accepts — usually one summary row, the
    * commit log for `history`). CALL-site contract: args arrive in
    * declared parameter order, defaults filled by Spark. */
  private abstract class LakeProc(procName: String,
                                  ps: Array[ProcedureParameter],
                                  out: StructType)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def description(): String = s"graft-lake $procName"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = ps
    override def isDeterministic: Boolean = false
    protected def run(args: InternalRow): Array[Any]
    protected def rows(args: InternalRow): Seq[Array[Any]] = Seq(run(args))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val rs = rows(input).map(vs =>
        new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(vs): InternalRow).toArray
      java.util.List.of[Scan](new org.apache.spark.sql.connector.read.LocalScan {
        override def readSchema(): StructType = out
        override def rows(): Array[InternalRow] = rs
        override def description(): String = s"graft-lake $procName result"
      }).iterator()
    }
  }

  private def vOut = StructType(Seq(StructField("version", LongType, nullable = false)))
  private def str(r: InternalRow, i: Int): String = r.getUTF8String(i).toString

  /** The maintenance/state-change commands a lakehouse exposes as SQL
    * (`CALL cat.system.<proc>(...)`): every one is the corresponding
    * [[LakeTxn]] commit, returning the committed version (or counts).
    * `merge` takes its change set from a VIEW name — the SQL spelling
    * of the file-pruned copy-on-write CDC apply. */
  private val procedures: Map[String, LakeProc] = Seq[LakeProc](
    new LakeProc("checkpoint", Array(in("table", StringType)), vOut) {
      def run(a: InternalRow) =
        Array(Long.box(LakeTxn.checkpointLog(spark, resolveTable(str(a, 0)))))
    },
    new LakeProc("compact",
      Array(in("table", StringType),
        in("target_bytes", LongType, (Long.MaxValue / 4).toString)), vOut) {
      def run(a: InternalRow) = Array(Long.box(
        LakeTxn.compactCommit(spark, resolveTable(str(a, 0)), a.getLong(1))))
    },
    new LakeProc("vacuum",
      Array(in("table", StringType),
        in("retain_last", LongType, "1"),
        in("grace_ms", LongType, (15 * 60 * 1000L).toString)),
      StructType(Seq(StructField("examined", LongType, nullable = false),
        StructField("deleted", LongType, nullable = false),
        StructField("orphans_skipped", LongType, nullable = false)))) {
      def run(a: InternalRow) = {
        val s = LakeTxn.vacuum(spark, resolveTable(str(a, 0)),
          a.getLong(1).toInt, a.getLong(2))
        Array(Long.box(s.examined.toLong), Long.box(s.deleted.toLong),
          Long.box(s.orphansSkipped.toLong))
      }
    },
    new LakeProc("optimize_zorder",
      Array(in("table", StringType), in("col1", StringType),
        in("col2", StringType), in("files", LongType, "16")), vOut) {
      def run(a: InternalRow) = Array(Long.box(LakeTxn.optimizeZorder(spark,
        resolveTable(str(a, 0)), str(a, 1), str(a, 2), a.getLong(3).toInt)))
    },
    new LakeProc("merge",
      Array(in("table", StringType), in("source_view", StringType),
        in("key_col", StringType)), vOut) {
      def run(a: InternalRow) = Array(Long.box(LakeTxn.applyChanges(spark,
        resolveTable(str(a, 0)), spark.table(str(a, 1)), str(a, 2))))
    },
    // the MERGE-ON-READ delete for predicates `DELETE FROM` cannot
    // translate to source filters (modulo, UDF-ish conditions route to
    // the CoW rewrite): arbitrary-Column tombstoning, zero rewrites
    new LakeProc("delete_where",
      Array(in("table", StringType), in("condition", StringType)), vOut) {
      def run(a: InternalRow) = Array(Long.box(LakeTxn.deleteWhereMor(spark,
        resolveTable(str(a, 0)),
        org.apache.spark.sql.functions.expr(str(a, 1)))))
    },
    // the MERGE-ON-READ CDC apply: matched keys tombstone via a
    // deletion vector, upserts append — one commit, zero data files
    // removed (Delta's low-shuffle-merge shape; `merge` stays CoW)
    new LakeProc("merge_mor",
      Array(in("table", StringType), in("source_view", StringType),
        in("key_col", StringType)), vOut) {
      def run(a: InternalRow) = Array(Long.box(LakeTxn.applyChangesMor(spark,
        resolveTable(str(a, 0)), spark.table(str(a, 1)), str(a, 2))))
    },
    // the MERGE-ON-READ update: tombstone matched rows via a deletion
    // vector + append their rewritten versions, ONE commit, ZERO data
    // files removed — the write-cheap UPDATE a 100-TB table with point
    // updates needs (the SQL UPDATE keyword stays copy-on-write)
    new LakeProc("update_where",
      Array(in("table", StringType), in("condition", StringType),
        in("set_col", StringType), in("set_expr", StringType)), vOut) {
      def run(a: InternalRow) = Array(Long.box(LakeTxn.updateMorWhere(spark,
        resolveTable(str(a, 0)),
        org.apache.spark.sql.functions.expr(str(a, 1)),
        Seq(str(a, 2) -> org.apache.spark.sql.functions.expr(str(a, 3))))))
    },
    new LakeProc("add_constraint",
      Array(in("table", StringType), in("name", StringType),
        in("expr", StringType)), vOut) {
      def run(a: InternalRow) = Array(Long.box(LakeTxn.addConstraint(spark,
        resolveTable(str(a, 0)), str(a, 1), str(a, 2))))
    },
    new LakeProc("drop_constraint",
      Array(in("table", StringType), in("name", StringType)), vOut) {
      def run(a: InternalRow) = Array(Long.box(LakeTxn.dropConstraint(spark,
        resolveTable(str(a, 0)), str(a, 1))))
    },
    new LakeProc("set_protocol",
      Array(in("table", StringType), in("reader", LongType),
        in("writer", LongType)), vOut) {
      def run(a: InternalRow) = Array(Long.box(LakeTxn.setProtocol(spark,
        resolveTable(str(a, 0)), a.getLong(1).toInt, a.getLong(2).toInt)))
    },
    // the snapshot audit surface: one row of table detail straight off
    // the driver-scale log fold (the DESCRIBE DETAIL shape) — what an
    // operator checks before deciding to compact/vacuum/checkpoint
    new LakeProc("describe_detail", Array(in("table", StringType)),
      StructType(Seq(
        StructField("version", LongType, nullable = false),
        StructField("n_files", LongType, nullable = false),
        StructField("n_rows", LongType, nullable = false),
        StructField("n_bytes", LongType, nullable = false),
        StructField("n_dvs", LongType, nullable = false),
        StructField("n_constraints", LongType, nullable = false),
        StructField("reader_version", LongType, nullable = false),
        StructField("writer_version", LongType, nullable = false),
        StructField("partition_col", StringType, nullable = true)))) {
      def run(a: InternalRow) = {
        val t = resolveTable(str(a, 0))
        val snap = LakeTxn.snapshot(spark, t)
        val pvc = LakeTxn.layoutOf(spark, t, snap) match {
          case LakeTxn.Partitioned(pc) => Some(pc)
          case _ => None
        }
        Array(Long.box(snap.version),
          Long.box(snap.adds.size.toLong),
          Long.box(snap.adds.map(_.rows).sum),
          Long.box(snap.adds.map(x => math.max(0L, x.bytes)).sum),
          Long.box(snap.dvs.size.toLong),
          Long.box(snap.constraints.size.toLong),
          Long.box(snap.protocol._1.toLong),
          Long.box(snap.protocol._2.toLong),
          pvc.map(org.apache.spark.unsafe.types.UTF8String.fromString).orNull)
      }
    },
    // the audit surface: the commit log ITSELF as rows — per version
    // the add/remove/DV/schema/marker counts and rows added (the
    // DESCRIBE HISTORY shape, straight off the driver-scale log fold)
    new LakeProc("history", Array(in("table", StringType)),
      StructType(Seq(
        StructField("version", LongType, nullable = false),
        StructField("n_adds", LongType, nullable = false),
        StructField("n_removes", LongType, nullable = false),
        StructField("n_dvs", LongType, nullable = false),
        StructField("n_schema", LongType, nullable = false),
        StructField("n_markers", LongType, nullable = false),
        StructField("rows_added", LongType, nullable = false)))) {
      def run(a: InternalRow) =
        throw new IllegalStateException("history serves rows(), not run()")
      override def rows(a: InternalRow): Seq[Array[Any]] = {
        val t = resolveTable(str(a, 0))
        LakeTxn.listVersions(spark, t).map { v =>
          val acts = LakeTxn.readCommit(spark, t, v)
          val markers = LakeTxn.readTxnMarkers(spark, t, v)
          Array[Any](Long.box(v),
            Long.box(acts.count(x => x.add && !x.dv && !x.schema).toLong),
            Long.box(acts.count(!_.add).toLong),
            Long.box(acts.count(x => x.add && x.dv).toLong),
            Long.box(acts.count(x => x.add && x.schema).toLong),
            Long.box(markers.size.toLong),
            Long.box(acts.filter(x => x.add && !x.dv && !x.schema)
              .map(_.rows).sum))
        }
      }
    },
    // the CHANGE DATA FEED read in pure SQL: the row-level diff between
    // two committed versions (added/changed/removed/unchanged per key),
    // computed by time travel + content-hash full-outer diff — the SQL
    // spelling of the programmatic cdf path. CALL results serve through
    // a LocalScan (driver-local rows by the command's contract), so
    // this surface is for OPERATOR-scale diffs — the distributed path
    // for a 100-TB feed remains Incremental.snapshotDiff over two
    // version reads, or the streaming lake source's per-commit tail.
    new LakeProc("table_changes",
      Array(in("table", StringType), in("from_version", LongType),
        in("to_version", LongType),
        in("key_col", StringType, "'doc_id'"),
        in("hash_col", StringType, "'text'")),
      StructType(Seq(
        StructField("key", LongType, nullable = true),
        StructField("status", StringType, nullable = false)))) {
      def run(a: InternalRow) =
        throw new IllegalStateException("table_changes serves rows(), not run()")
      override def rows(a: InternalRow): Seq[Array[Any]] = {
        val t = resolveTable(str(a, 0))
        val kc = str(a, 3)
        val hc = str(a, 4)
        val diff = graft.ext.Incremental.snapshotDiff(
          LakeTxn.read(spark, t, Some(a.getLong(1))),
          LakeTxn.read(spark, t, Some(a.getLong(2))),
          textCol = hc, idCol = kc)
        require(diff.schema(kc).dataType == LongType,
          s"table_changes keys on a BIGINT column (got '$kc': " +
            s"${diff.schema(kc).dataType.simpleString})")
        diff.collect().toSeq.map(r => Array[Any](
          if (r.isNullAt(0)) null else Long.box(r.getLong(0)),
          org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(1))))
      }
    }).map(p => p.name() -> p).toMap

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      procedures.keys.toArray.sorted.map(Identifier.of(Array("system"), _))
    else Array.empty

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    require(ident.namespace.sameElements(Array("system")),
      s"graft-lake procedures live in the 'system' namespace (got $ident)")
    procedures.getOrElse(ident.name,
      throw new IllegalArgumentException(
        s"no procedure '${ident.name}' (have: ${procedures.keys.toSeq.sorted.mkString(", ")})"))
  }

  // ------------------------------------------------------------------
  // namespaces (single-level directories under the warehouse)
  // ------------------------------------------------------------------

  override def listNamespaces(): Array[Array[String]] = {
    val root = new Path(warehouse)
    if (!fs.exists(root)) Array.empty
    else fs.listStatus(root).filter(_.isDirectory)
      .map(s => Array(s.getPath.getName)).sortBy(_.head)
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty // single-level: no children
    else throw new NoSuchNamespaceException(namespace)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length == 1 && fs.exists(nsPath(namespace))

  override def loadNamespaceMetadata(namespace: Array[String]): JMap[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    java.util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
                               metadata: JMap[String, String]): Unit = {
    if (namespaceExists(namespace))
      throw new NamespaceAlreadyExistsException(namespace)
    fs.mkdirs(nsPath(namespace)): Unit
  }

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft-lake namespaces carry no metadata to alter")

  override def dropNamespace(namespace: Array[String],
                             cascade: Boolean): Boolean = {
    val p = nsPath(namespace)
    if (!fs.exists(p)) false
    else {
      if (!cascade) require(fs.listStatus(p).isEmpty,
        s"namespace ${namespace.mkString(".")} is not empty (use CASCADE)")
      fs.delete(p, true)
    }
  }
}
