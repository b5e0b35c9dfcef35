package graft

import org.apache.spark.sql.functions._

import graft.ext.LakeTxn
import graft.sources.LakeDv

/** Round-19 lake hardening: the guarded deletion-vector loader shared
  * by every scan path, merge-on-read COLUMNAR reads (DV'd files stay on
  * the vectorized reader), the merge-on-read UPDATE, dangling-DV
  * cleanup on rewrites, metadata-commit conflict detection, and the
  * log parser's unknown-trailing-field tolerance. */
class LakeMorColumnarSpec extends SparkSpec {

  private def freshDir(name: String): String =
    s"/tmp/graft_lmc_${name}_${System.nanoTime()}"

  import spark.implicits._

  test("the DV loader is GUARDED: an over-limit vector set fails loudly with compact-first") {
    val t = freshDir("guard")
    val d = (0L until 200L).map(i => (i, s"t$i")).toDF("k", "v")
    LakeTxn.appendCommit(spark, d.repartition(2), t)
    LakeTxn.deleteWhereMor(spark, t, col("k") % 2 === 0L) // 100 tombstones
    val snap = LakeTxn.snapshot(spark, t)
    val e = intercept[IllegalArgumentException](
      LakeDv.load(spark, t, snap, maxPositions = 10L))
    assert(e.getMessage.contains("compact the table"))
    // under the limit it loads, deduped and sorted per file
    val m = LakeDv.load(spark, t, snap, maxPositions = 1000L)
    assert(m.values.map(_.length).sum === 100)
    assert(m.values.forall(a => a.sameElements(a.distinct.sorted)))
  }

  test("DV'd files stay COLUMNAR even with pushed filters (row-group pruning disabled per file)") {
    val t = freshDir("dvpush")
    // many row groups would invite row-group pruning; the DV'd file must
    // skip the predicate so sequential ordinals stay aligned
    val d = (0L until 2000L).map(i => (i, i * 3, s"text $i"))
      .toDF("k", "v", "text")
      .repartitionByRange(2, col("k")).sortWithinPartitions("k")
    LakeTxn.appendCommitStatsMulti(spark, d, t, Seq("k", "v"))
    LakeTxn.deleteWhereMor(spark, t, col("k") % 7 === 3L)
    val df = spark.read.format("graft-lake").load(t)
      .filter(col("k") >= 100L && col("k") < 1500L)
    df.collect(): Unit
    assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "a DV'd filtered scan must stay on the vectorized reader")
    val got = df.orderBy("k").collect().map(_.getLong(0)).toSeq
    val want = (100L until 1500L).filterNot(_ % 7 == 3)
    assert(got === want)
  }

  test("updateMorWhere: adds + DV in ONE commit, zero removes; updates compound; no match = -1") {
    val t = freshDir("upd")
    val d = (0L until 100L).map(i => (i, Seq("en", "de")(i.toInt % 2), 10L + i))
      .toDF("k", "lang", "n")
    LakeTxn.appendCommit(spark, d.repartition(2), t)
    val v1 = LakeTxn.updateMorWhere(spark, t, col("lang") === "en",
      Seq("n" -> (col("n") + 1000L)))
    val acts = LakeTxn.readCommit(spark, t, v1)
    assert(acts.forall(_.add), "a MoR update removes no files")
    assert(acts.exists(_.dv) && acts.exists(a => a.add && !a.dv && !a.schema))
    // compounding: the second update reads the first's commit
    val v2 = LakeTxn.updateMorWhere(spark, t, col("n") > 1050L,
      Seq("lang" -> lit("xl")))
    assert(v2 === v1 + 1)
    val got = LakeTxn.read(spark, t).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val want = (0L until 100L).map { i =>
      val en = i % 2 == 0
      val n = if (en) 10L + i + 1000L else 10L + i
      (i, if (n > 1050L) "xl" else if (en) "en" else "de", n)
    }
    assert(got === want)
    // row count is stable through both updates (tombstone + re-add)
    assert(LakeTxn.read(spark, t).count() === 100L)
    // nothing matches: no commit at all
    assert(LakeTxn.updateMorWhere(spark, t, col("k") === -1L,
      Seq("n" -> lit(0L))) === -1L)
  }

  test("MoR writers refuse to push a table past the tombstone budget; nothing commits") {
    val t = freshDir("budget")
    val d = (0L until 200L).map(i => (i, s"t$i")).toDF("k", "v")
    LakeTxn.appendCommit(spark, d.repartition(2), t)
    LakeTxn.deleteWhereMor(spark, t, col("k") < 8L) // 8 live tombstones
    val v = LakeTxn.listVersions(spark, t).last
    // a refused write leaves no file behind: not in dv/, not in data/
    def files(): Set[String] = Seq("dv", "data").flatMap(d =>
      Option(new java.io.File(s"$t/$d").list()).toSeq.flatten.map(f => s"$d/$f")).toSet
    val before = files()
    assert(before.exists(_.startsWith("dv/")))
    // the next delete would carry 8 + 96 tombstones > the (test) budget
    val e = intercept[IllegalArgumentException](
      LakeTxn.deleteWhereMor(spark, t, col("k") % 2 === 0L, maxDvPositions = 100L))
    assert(e.getMessage.contains("compact the table"))
    assert(LakeTxn.listVersions(spark, t).last === v, "nothing may commit")
    assert(files() === before, "a refused delete wrote files")
    // same budget on the MoR update and CDC apply
    intercept[IllegalArgumentException](LakeTxn.updateMorWhere(spark, t,
      col("k") >= 0L, Seq("v" -> lit("x")), maxDvPositions = 100L))
    assert(files() === before, "a refused update wrote files")
    intercept[IllegalArgumentException](LakeTxn.applyChangesMor(spark, t,
      d.withColumn("__op", lit("delete")), "k", maxDvPositions = 100L))
    assert(files() === before, "a refused CDC apply wrote files")
    assert(LakeTxn.listVersions(spark, t).last === v)
    // content intact, and a compaction frees the budget
    assert(LakeTxn.read(spark, t).count() === 192L)
    LakeTxn.compactCommit(spark, t, Long.MaxValue / 4)
    assert(LakeTxn.deleteWhereMor(spark, t, col("k") % 2 === 0L,
      maxDvPositions = 100L) > 0L)
    assert(LakeTxn.read(spark, t).count() === 96L)
  }

  test("applyChangesMor lands the CoW merge's exact content as adds + DV, zero removes") {
    val base = (0L until 80L).map(i => (i, Seq("a", "b")(i.toInt % 2), i * 2))
      .toDF("k", "tag", "n")
    val changes = (0L until 80L by 9L).map(i => (i, "upd", -1L, "upsert"))
      .toDF("k", "tag", "n", "__op")
      .union(Seq((500L, "new", 7L, "upsert")).toDF("k", "tag", "n", "__op"))
      .union((0L until 80L by 13L).map(i => (i, "", 0L, "delete"))
        .toDF("k", "tag", "n", "__op"))
    // the copy-on-write reference result
    val tCow = freshDir("morcow")
    LakeTxn.appendCommit(spark, base.repartition(3), tCow)
    LakeTxn.applyChanges(spark, tCow, changes, "k")
    val want = LakeTxn.read(spark, tCow).orderBy("k")
      .collect().map(_.mkString("|")).toSeq
    // the merge-on-read twin
    val tMor = freshDir("mormor")
    LakeTxn.appendCommit(spark, base.repartition(3), tMor)
    val v = LakeTxn.applyChangesMor(spark, tMor, changes, "k")
    val acts = LakeTxn.readCommit(spark, tMor, v)
    assert(acts.forall(_.add) && acts.exists(_.dv) &&
      acts.exists(a => a.add && !a.dv && !a.schema))
    assert(LakeTxn.read(spark, tMor).orderBy("k")
      .collect().map(_.mkString("|")).toSeq === want)
    // a second MoR batch compounds (stacked vectors, appended upserts)
    val v2 = LakeTxn.applyChangesMor(spark, tMor,
      Seq((500L, "new2", 8L, "upsert"), (2L, "", 0L, "delete"))
        .toDF("k", "tag", "n", "__op"), "k")
    assert(v2 === v + 1)
    val after = LakeTxn.read(spark, tMor)
    assert(after.filter(col("k") === 500L).collect()
      .map(_.getString(1)).toSeq === Seq("new2"))
    assert(after.filter(col("k") === 2L).isEmpty)
    // a no-op batch commits nothing
    assert(LakeTxn.applyChangesMor(spark, tMor,
      Seq((-1L, "", 0L, "delete")).toDF("k", "tag", "n", "__op"), "k") === -1L)
  }

  test("MoR commits abort when an interleaved rewrite removed a referenced file (readDeps)") {
    val t = freshDir("dep")
    val d = (0L until 50L).map(i => (i, s"t$i")).toDF("k", "v")
    LakeTxn.appendCommit(spark, d.repartition(2), t)
    val snap = LakeTxn.snapshot(spark, t)
    // an interleaved compaction replaces every file the snapshot read
    LakeTxn.compactCommit(spark, t, Long.MaxValue / 4)
    val dvAdds = Seq(LakeDv.write(spark, t, Map("x.parquet" -> Array(0L))))
    intercept[LakeTxn.CommitConflictException](
      LakeTxn.commitAt(spark, t, snap.version, dvAdds, Nil,
        readDeps = snap.files))
  }

  test("a copy-on-write rewrite aborts when a deletion vector interleaved (no resurrection)") {
    val t = freshDir("dvconf")
    val d = (0L until 50L).map(i => (i, s"t$i")).toDF("k", "v")
    LakeTxn.appendCommit(spark, d.repartition(2), t)
    val snap = LakeTxn.snapshot(spark, t)
    val staged = LakeTxn.stage(spark, d.limit(10), t)
    // a MoR delete lands between the rewrite's read and its commit
    LakeTxn.deleteWhereMor(spark, t, col("k") === 5L)
    intercept[LakeTxn.CommitConflictException](
      LakeTxn.commitAt(spark, t, snap.version, staged, snap.files))
  }

  test("rewrites purge deletion vectors that reference only replaced files") {
    val t = freshDir("dangling")
    val d = (0L until 60L).map(i => (i, s"t$i")).toDF("k", "v")
    LakeTxn.appendCommit(spark, d.repartition(2), t)
    LakeTxn.deleteWhereMor(spark, t, col("k") % 5 === 0L)
    assert(LakeTxn.snapshot(spark, t).dvs.nonEmpty)
    // a CDC merge touching every file replaces them all — the vector is
    // dead weight and must unpin in the same commit
    val changes = (0L until 60L by 7L).map(i => (i, s"u$i", "upsert"))
      .toDF("k", "v", "__op")
    LakeTxn.applyChanges(spark, t, changes, "k")
    val snap = LakeTxn.snapshot(spark, t)
    assert(snap.dvs.isEmpty,
      "a vector referencing only replaced files must unpin with the rewrite")
    // content: deletes applied, upserts applied on the survivors
    val got = LakeTxn.read(spark, t).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val want = (0L until 60L).filterNot(_ % 5 == 0)
      .map(i => (i, if (i % 7 == 0) s"u$i" else s"t$i")) ++
      (0L until 60L by 7L).filter(_ % 5 == 0).map(i => (i, s"u$i"))
    assert(got === want.sortBy(_._1))
  }

  test("SQL UPDATE (copy-on-write) purges vectors covering only its rewritten files") {
    val wh = freshDir("sqlpurge")
    val cat = s"glakemc${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try {
      spark.sql(s"CREATE NAMESPACE $cat.db")
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v STRING) USING `graft-lake`")
      (0L until 40L).map(i => (i, s"t$i")).toDF("k", "v")
        .createOrReplaceTempView("sqlpurge_src")
      spark.sql(s"INSERT INTO $cat.db.t SELECT * FROM sqlpurge_src")
      // a TRANSLATABLE predicate takes the metadata deletion-vector
      // path; k < 5 tombstones only PART of any file, so every DV'd
      // file keeps live rows and the UPDATE below must scan it
      spark.sql(s"DELETE FROM $cat.db.t WHERE k < 5")
      val tp = s"$wh/db/t"
      assert(LakeTxn.snapshot(spark, tp).dvs.nonEmpty)
      // the UPDATE matches every live row → rewrites every file the
      // vector references → the vector is dangling and must unpin
      spark.sql(s"UPDATE $cat.db.t SET v = concat(v, '!') WHERE k >= 0")
      assert(LakeTxn.snapshot(spark, tp).dvs.isEmpty,
        "the copy-on-write UPDATE must purge the now-dangling vector")
      val got = spark.sql(s"SELECT k, v FROM $cat.db.t ORDER BY k")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(got === (5L until 40L).map(i => (i, s"t$i!")))
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      spark.conf.unset(s"spark.sql.catalog.$cat")
    }
  }

  test("METADATA commits conflict: a stale schema commit aborts instead of dropping the other's column") {
    val t = freshDir("meta")
    LakeTxn.createTable(spark, t, new org.apache.spark.sql.types.StructType()
      .add("k", org.apache.spark.sql.types.LongType))
    val snap = LakeTxn.snapshot(spark, t)
    // writer A lands its column
    LakeTxn.addColumn(spark, t, "a", org.apache.spark.sql.types.LongType)
    // writer B computed its schema from the OLD base: blind commit loses A
    val staleSchema = LakeTxn.stageSchema(spark, t,
      new org.apache.spark.sql.types.StructType()
        .add("k", org.apache.spark.sql.types.LongType)
        .add("b", org.apache.spark.sql.types.LongType))
    intercept[LakeTxn.CommitConflictException](
      LakeTxn.commitAt(spark, t, snap.version, Seq(staleSchema), Nil))
    // the supported path recomputes: B's column joins A's, nothing lost
    LakeTxn.addColumn(spark, t, "b", org.apache.spark.sql.types.LongType)
    val schema = LakeTxn.tableSchema(spark, t, LakeTxn.snapshot(spark, t)).get
    assert(schema.fieldNames.toSeq === Seq("k", "a", "b"))
    // plain appends interleave with metadata commits without conflict
    LakeTxn.appendCommit(spark, Seq((1L, 2L, 3L)).toDF("k", "a", "b"), t)
    assert(LakeTxn.read(spark, t).count() === 1L)
  }

  test("the log parser tolerates unknown TRAILING fields (forward compat); unknown kinds stay fatal") {
    val t = freshDir("tol")
    val d = (0L until 10L).map(i => (i, s"t$i")).toDF("k", "v")
    val staged = LakeTxn.stage(spark, d.repartition(1), t)
    // a future engine appended advisory fields to known action kinds
    LakeTxn.publish(spark, t, 0L, Nil, Nil, extraLines = Seq(
      s"""{"a":"add","f":"${staged.head.file}","rows":10,"future_field":"x","n2":-7}""",
      """{"a":"txn","app":"later","id":3,"extra":true}"""))
    val acts = LakeTxn.readCommit(spark, t, 0L)
    assert(acts.size === 1 && acts.head.add && acts.head.rows === 10L)
    assert(LakeTxn.readTxnMarkers(spark, t, 0L) === Seq(("later", 3L)))
    assert(LakeTxn.read(spark, t).count() === 10L)
    // an unknown action KIND is still a loud corrupt-commit failure
    val t2 = freshDir("tol2")
    LakeTxn.publish(spark, t2, 0L, Nil, Nil, extraLines = Seq(
      """{"a":"mystery","f":"data/x.parquet"}"""))
    val e = intercept[IllegalArgumentException](LakeTxn.readCommit(spark, t2, 0L))
    assert(e.getMessage.contains("unparseable action"))
  }
}
