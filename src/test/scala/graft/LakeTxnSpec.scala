package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.LakeTxn

/** The transactional commit log's contracts: snapshot isolation (a
  * staged-but-unpublished compaction is invisible), atomic cut-over,
  * time travel across destructive rewrites, file-pruned copy-on-write,
  * and optimistic version-claim conflicts. */
class LakeTxnSpec extends SparkSpec {

  private def freshDir(name: String): String = {
    val p = java.nio.file.Paths.get(
      s"/tmp/graft_txnspec_${name}_${System.nanoTime()}")
    p.toString
  }

  private def mkDocs(ids: Range, lang: String): DataFrame = {
    import spark.implicits._
    ids.map(i => (i.toLong, s"text $i", lang, s"src${i % 3}", (10 + i).toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  private def contents(df: DataFrame): Seq[String] =
    df.orderBy("doc_id").collect().map(_.mkString("|")).toSeq

  test("append commits accumulate; snapshot content equals the union") {
    val t = freshDir("append")
    val a = mkDocs(0 until 40, "en")
    val b = mkDocs(40 until 70, "fr")
    val v0 = LakeTxn.appendCommit(spark, a.repartition(2), t)
    val v1 = LakeTxn.appendCommit(spark, b.repartition(2), t)
    assert(v0 == 0L && v1 == 1L)
    assert(contents(LakeTxn.read(spark, t)) === contents(a.unionByName(b)))
    // time travel to v0 sees only the first batch
    assert(contents(LakeTxn.read(spark, t, Some(0L))) === contents(a))
  }

  test("a staged, unpublished compaction is invisible; the publish is atomic") {
    val t = freshDir("halfcommit")
    LakeTxn.appendCommit(spark, mkDocs(0 until 50, "en").repartition(2), t)
    LakeTxn.appendCommit(spark, mkDocs(50 until 80, "de").repartition(2), t)
    val before = contents(LakeTxn.read(spark, t))
    val oldSnap = LakeTxn.snapshot(spark, t)
    assert(oldSnap.files.size == 4)

    // stage the compaction's data files WITHOUT publishing the commit —
    // the half-committed state a crashed compactor leaves behind
    val packed = LakeTxn.read(spark, t).coalesce(1)
    val staged = LakeTxn.stage(spark, packed, t)
    assert(staged.size == 1)
    // reader still sees the OLD snapshot: staged files are unpinned
    assert(LakeTxn.snapshot(spark, t).files === oldSnap.files)
    assert(contents(LakeTxn.read(spark, t)) === before)

    // now publish remove(old)+add(new) as ONE commit: content identical,
    // file set cut over atomically
    LakeTxn.publish(spark, t, oldSnap.version + 1, staged, oldSnap.files)
    val after = LakeTxn.snapshot(spark, t)
    assert(after.files === staged.map(_.file))
    assert(contents(LakeTxn.read(spark, t)) === before)
    // and the OLD snapshot still reads — removes only unpin
    assert(LakeTxn.snapshot(spark, t, Some(oldSnap.version)).files === oldSnap.files)
    assert(contents(LakeTxn.read(spark, t, Some(oldSnap.version))) === before)
  }

  test("copy-on-write merge rewrites ONLY files containing changed keys") {
    val t = freshDir("prune")
    // two commits with disjoint key ranges -> disjoint file sets
    LakeTxn.appendCommit(spark, mkDocs(0 until 50, "en").coalesce(1), t)
    LakeTxn.appendCommit(spark, mkDocs(100 until 150, "fr").coalesce(1), t)
    val snap = LakeTxn.snapshot(spark, t)
    assert(snap.files.size == 2)
    val untouched = snap.files.head // the 0..49 file

    // change batch touches only the second file's keys
    val changes = mkDocs(120 until 125, "xx")
      .withColumn("__op", lit("upsert"))
      .unionByName(mkDocs(140 until 142, "fr").withColumn("__op", lit("delete")))
    val v = LakeTxn.applyChanges(spark, t, changes, "doc_id")

    val acts = LakeTxn.readCommit(spark, t, v)
    val removed = acts.filterNot(_.add).map(_.file)
    assert(removed === Seq(snap.files(1)), s"pruning failed: removed $removed")
    assert(LakeTxn.snapshot(spark, t).files.contains(untouched))

    val expect = mkDocs(0 until 50, "en")
      .unionByName(mkDocs(100 until 120, "fr"))
      .unionByName(mkDocs(120 until 125, "xx"))
      .unionByName(mkDocs(125 until 140, "fr"))
      .unionByName(mkDocs(142 until 150, "fr"))
    assert(contents(LakeTxn.read(spark, t)) === contents(expect))
  }

  test("pure-insert merge touches no existing file") {
    val t = freshDir("insert")
    LakeTxn.appendCommit(spark, mkDocs(0 until 30, "en").coalesce(1), t)
    val base = LakeTxn.snapshot(spark, t)
    val inserts = mkDocs(1000 until 1010, "new").withColumn("__op", lit("upsert"))
    val v = LakeTxn.applyChanges(spark, t, inserts, "doc_id")
    val acts = LakeTxn.readCommit(spark, t, v)
    assert(acts.forall(_.add), "a pure insert must remove nothing")
    assert(LakeTxn.snapshot(spark, t).files.toSet.intersect(base.files.toSet)
      === base.files.toSet)
    assert(contents(LakeTxn.read(spark, t)) ===
      contents(mkDocs(0 until 30, "en").unionByName(mkDocs(1000 until 1010, "new"))))
  }

  test("version claims conflict: same version cannot publish twice") {
    val t = freshDir("conflict")
    LakeTxn.appendCommit(spark, mkDocs(0 until 10, "en").coalesce(1), t)
    val staged = LakeTxn.stage(spark, mkDocs(10 until 20, "fr").coalesce(1), t)
    LakeTxn.publish(spark, t, 1L, staged, Nil)
    val again = LakeTxn.stage(spark, mkDocs(20 until 30, "de").coalesce(1), t)
    intercept[IllegalArgumentException] {
      LakeTxn.publish(spark, t, 1L, again, Nil)
    }
    // the loser retries through commit() and lands at the next version
    val v = LakeTxn.commit(spark, t, again, Nil)
    assert(v == 2L)
  }

  test("concurrent committers serialize to distinct consecutive versions") {
    val t = freshDir("concurrent")
    LakeTxn.appendCommit(spark, mkDocs(0 until 10, "en").coalesce(1), t)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futs = (0 until 4).map { i =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = LakeTxn.appendCommit(
            spark, mkDocs(100 * (i + 1) until 100 * (i + 1) + 5, "xx").coalesce(1), t)
        })
      }
      val versions = futs.map(_.get()).sorted
      assert(versions === Seq(1L, 2L, 3L, 4L))
    } finally pool.shutdown()
    assert(LakeTxn.read(spark, t).count() == 30)
  }

  test("snapshot reads keep parquet pushdown intact") {
    val t = freshDir("pushdown")
    LakeTxn.appendCommit(spark, mkDocs(0 until 100, "en").repartition(2), t)
    val plan = LakeTxn.read(spark, t).filter(col("doc_id") === 7L)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PushedFilters") &&
      plan.contains("IsNotNull(doc_id)"), plan.takeRight(800))
  }

  test("vacuum deletes only unretained files; live reads survive, old versions fail") {
    val t = freshDir("vacuum")
    LakeTxn.appendCommit(spark, mkDocs(0 until 40, "en").repartition(2), t)
    LakeTxn.appendCommit(spark, mkDocs(40 until 60, "fr").repartition(2), t)
    val before = contents(LakeTxn.read(spark, t))
    LakeTxn.compactCommit(spark, t, Long.MaxValue / 4) // v2: removes 4, adds 1
    val stats = LakeTxn.vacuum(spark, t, retainLast = 1)
    // the four pre-compaction files die; the compacted file survives
    assert(stats.examined == 5 && stats.deleted == 4, stats.toString)
    assert(contents(LakeTxn.read(spark, t)) === before)
    // time travel behind the retention horizon now fails (files gone)
    intercept[Exception] {
      LakeTxn.read(spark, t, Some(0L)).collect()
    }
    // the log itself remains an audit trail
    assert(LakeTxn.listVersions(spark, t) === Seq(0L, 1L, 2L))
  }

  test("vacuum with retainLast=2 keeps both retained snapshots readable") {
    val t = freshDir("vacuum2")
    LakeTxn.appendCommit(spark, mkDocs(0 until 30, "en").coalesce(1), t)
    LakeTxn.appendCommit(spark, mkDocs(30 until 50, "fr").coalesce(1), t)
    LakeTxn.compactCommit(spark, t, Long.MaxValue / 4)
    LakeTxn.vacuum(spark, t, retainLast = 2)
    // v1 (pre-compaction) and v2 both read; v1's files were referenced
    assert(contents(LakeTxn.read(spark, t, Some(1L))) ===
      contents(LakeTxn.read(spark, t)))
  }

  test("log checkpoint: the checkpointed fold equals the full fold") {
    val t = freshDir("ckpt")
    LakeTxn.appendCommit(spark, mkDocs(0 until 30, "en").repartition(2), t)
    LakeTxn.appendCommit(spark, mkDocs(30 until 50, "fr").repartition(2), t)
    val cv = LakeTxn.checkpointLog(spark, t)
    assert(cv == 1L)
    // commits after the checkpoint still apply through it
    val changes = mkDocs(10 until 12, "xx").withColumn("__op", lit("upsert"))
    LakeTxn.applyChanges(spark, t, changes, "doc_id")
    LakeTxn.compactCommit(spark, t, Long.MaxValue / 4)
    val expect = mkDocs(0 until 10, "en")
      .unionByName(mkDocs(10 until 12, "xx"))
      .unionByName(mkDocs(12 until 30, "en"))
      .unionByName(mkDocs(30 until 50, "fr"))
    assert(contents(LakeTxn.read(spark, t)) === contents(expect))
    // snapshot at the checkpoint version itself and BEFORE it both work
    assert(LakeTxn.snapshot(spark, t, Some(1L)).files.size == 4)
    assert(contents(LakeTxn.read(spark, t, Some(0L))) ===
      contents(mkDocs(0 until 30, "en")))
    // a second checkpoint at the head supersedes the first for new reads
    val cv2 = LakeTxn.checkpointLog(spark, t)
    assert(cv2 == 3L)
    assert(contents(LakeTxn.read(spark, t)) === contents(expect))
    assert(LakeTxn.listCheckpoints(spark, t) === Seq(1L, 3L))
  }

  test("exactly-once batch append: a replayed epoch is skipped") {
    val t = freshDir("xonce")
    val v0 = LakeTxn.appendBatchCommit(spark,
      mkDocs(0 until 20, "en").coalesce(1), t, "ingest", 0L)
    val v1 = LakeTxn.appendBatchCommit(spark,
      mkDocs(20 until 30, "fr").coalesce(1), t, "ingest", 1L)
    assert(v0 == 0L && v1 == 1L)
    val before = contents(LakeTxn.read(spark, t))
    // replay epoch 0 (a restart re-delivering from its checkpoint):
    // skipped — no new version, content unchanged
    val replay = LakeTxn.appendBatchCommit(spark,
      mkDocs(0 until 20, "en").coalesce(1), t, "ingest", 0L)
    assert(replay == -1L)
    assert(LakeTxn.listVersions(spark, t) === Seq(0L, 1L))
    assert(contents(LakeTxn.read(spark, t)) === before)
    // a DIFFERENT app's epoch 0 is its own transaction
    val other = LakeTxn.appendBatchCommit(spark,
      mkDocs(100 until 105, "de").coalesce(1), t, "other", 0L)
    assert(other == 2L)
    assert(LakeTxn.committedBatchIds(spark, t) ===
      Set(("ingest", 0L), ("ingest", 1L), ("other", 0L)))
  }

  test("sorted write: manifest prunes files; content survives exactly") {
    import spark.implicits._
    val t = freshDir("sorted")
    val df = (0 until 4000).map(i => ((i * 2654435761L) % 100000L, i.toLong))
      .toDF("k", "v")
    LakeTxn.appendCommitStats(spark,
      df.repartitionByRange(8, col("k")).sortWithinPartitions("k"), t, "k")
    // the manifest is the per-file min/max the log recorded at write time
    val manifest = LakeTxn.snapshot(spark, t).adds.sortBy(_.lo)
    assert(manifest.size == 8 && manifest.forall(_.statsCol == "k"))
    // range bands are disjoint across files
    manifest.sliding(2).foreach {
      case Seq(a, b) => assert(a.hi <= b.lo, s"$a overlaps $b")
      case _ =>
    }
    assert(manifest.map(_.rows).sum == 4000L)
    // a narrow band scans strictly fewer files than the table holds
    val (pruned, scanned, total) = LakeTxn.readPruned(spark, t, "k", 10000L, 20000L)
    assert(total == 8 && scanned < 8, s"no pruning: scanned $scanned of $total")
    val want = df.filter(col("k") >= 10000L && col("k") <= 20000L)
      .orderBy("k", "v").collect().toSeq
    assert(pruned.orderBy("k", "v").collect().toSeq === want)
  }

  test("q_global_sort plans RangePartitioning, never a single-partition sort") {
    val df = SparkEntry.queries("q_global_sort")(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("rangepartitioning"), plan.takeRight(1200))
    assert(!plan.contains("SinglePartition"), plan.takeRight(1200))
  }


  test("vacuum grace: a freshly staged (unpublished) file survives; old orphans die") {
    val t = freshDir("grace")
    LakeTxn.appendCommit(spark, mkDocs(0 until 10, "en").coalesce(1), t)
    // simulate an in-flight writer: staged data files, NOT yet committed
    val staged = LakeTxn.stage(spark, mkDocs(10 until 20, "en").coalesce(1), t)
    assert(staged.nonEmpty)
    val s1 = LakeTxn.vacuum(spark, t, retainLast = 1) // default grace
    assert(s1.deleted == 0 && s1.orphansSkipped == staged.size, s1.toString)
    // the delayed publish still lands intact — no lost update
    val v = LakeTxn.commit(spark, t, staged, Nil)
    assert(contents(LakeTxn.read(spark, t, Some(v))) ===
      contents(mkDocs(0 until 20, "en")))
    // a crashed stage (never published) IS reclaimed once past the grace
    val leaked = LakeTxn.stage(spark, mkDocs(90 until 95, "en").coalesce(1), t)
    val s2 = LakeTxn.vacuum(spark, t, retainLast = 1, orphanGraceMs = -1L)
    assert(s2.deleted == leaked.size && s2.orphansSkipped == 0, s2.toString)
    assert(contents(LakeTxn.read(spark, t)) === contents(mkDocs(0 until 20, "en")))
  }

  test("vacuum horizon: below-horizon time travel fails at PLAN time, boundary reads fully") {
    val t = freshDir("horizon")
    LakeTxn.appendCommit(spark, mkDocs(0 until 10, "en").coalesce(1), t) // v0
    LakeTxn.appendCommit(spark, mkDocs(10 until 20, "fr").coalesce(1), t) // v1
    LakeTxn.compactCommit(spark, t, Long.MaxValue / 4) // v2
    LakeTxn.vacuum(spark, t, retainLast = 2)
    assert(LakeTxn.vacuumHorizon(spark, t) === Some(1L))
    // the horizon boundary version reads FULLY (v1 files all retained)
    assert(contents(LakeTxn.read(spark, t, Some(1L))) ===
      contents(mkDocs(0 until 20, "en").limit(0)
        .unionByName(mkDocs(0 until 10, "en")).unionByName(mkDocs(10 until 20, "fr"))))
    // below it: refused while BUILDING the plan, never a mid-scan error
    val e = intercept[IllegalArgumentException] {
      LakeTxn.read(spark, t, Some(0L))
    }
    assert(e.getMessage.contains("vacuum retention horizon"), e.getMessage)
    // a LARGER retainLast later cannot resurrect vacuumed history
    LakeTxn.appendCommit(spark, mkDocs(20 until 25, "de").coalesce(1), t) // v3
    LakeTxn.vacuum(spark, t, retainLast = 10)
    assert(LakeTxn.vacuumHorizon(spark, t) === Some(1L)) // still gated at 1
    assert(intercept[IllegalArgumentException] {
      LakeTxn.read(spark, t, Some(0L))
    }.getMessage.contains("horizon"))
  }


  test("put-if-absent: a claimed version rejects the loser atomically; retry lands next") {
    val t = freshDir("pia")
    LakeTxn.appendCommit(spark, mkDocs(0 until 10, "en").coalesce(1), t) // v0
    val mine = LakeTxn.stage(spark, mkDocs(10 until 20, "fr").coalesce(1), t)
    // interloper wins version 1 between my head read and my claim
    val theirs = LakeTxn.stage(spark, mkDocs(20 until 30, "de").coalesce(1), t)
    assert(LakeTxn.tryPublish(spark, t, 1L, theirs, Nil))
    // my claim at the same version FAILS (hard-link EEXIST), body intact
    assert(!LakeTxn.tryPublish(spark, t, 1L, mine, Nil))
    assert(LakeTxn.readCommit(spark, t, 1L).map(_.file) === theirs.map(_.file))
    // the optimistic retry lands at the new head — NO lost update
    val v = LakeTxn.commit(spark, t, mine, Nil)
    assert(v == 2L)
    assert(contents(LakeTxn.read(spark, t)) === contents(mkDocs(0 until 30, "en")
      .limit(0).unionByName(mkDocs(0 until 10, "en"))
      .unionByName(mkDocs(20 until 30, "de")).unionByName(mkDocs(10 until 20, "fr"))))
  }

  test("conflicting CoW rewrite aborts instead of resurrecting removed files") {
    val t = freshDir("cowabort")
    LakeTxn.appendCommit(spark, mkDocs(0 until 20, "en").coalesce(1), t) // v0
    // writer A computes a rewrite against v0 (slow path: stage first)
    val snapA = LakeTxn.snapshot(spark, t)
    val replacementA = LakeTxn.stage(spark,
      mkDocs(0 until 20, "en").filter(col("doc_id") =!= 3L).coalesce(1), t)
    // writer B lands a compaction FIRST — it removes A's base file
    LakeTxn.compactCommit(spark, t, Long.MaxValue / 4) // v1
    // A's commit must ABORT: its removes were already removed at v1
    val e = intercept[LakeTxn.CommitConflictException] {
      LakeTxn.commitAt(spark, t, snapA.version, replacementA, snapA.files)
    }
    assert(e.getMessage.contains("copy-on-write conflict"), e.getMessage)
    // table state is B's — nothing resurrected, nothing lost
    assert(contents(LakeTxn.read(spark, t)) === contents(mkDocs(0 until 20, "en")))
    assert(LakeTxn.listVersions(spark, t) === Seq(0L, 1L))
  }

  test("interleaved APPENDS commute with a CoW rewrite: retry succeeds") {
    val t = freshDir("cowok")
    LakeTxn.appendCommit(spark, mkDocs(0 until 20, "en").coalesce(1), t) // v0
    val snapA = LakeTxn.snapshot(spark, t)
    val replacementA = LakeTxn.stage(spark,
      mkDocs(0 until 20, "en").filter(col("doc_id") =!= 3L).coalesce(1), t)
    // an interleaved APPEND takes v1 — touches none of A's base files
    LakeTxn.appendCommit(spark, mkDocs(50 until 55, "fr").coalesce(1), t)
    val v = LakeTxn.commitAt(spark, t, snapA.version, replacementA, snapA.files)
    assert(v == 2L)
    assert(contents(LakeTxn.read(spark, t)) ===
      contents(mkDocs(0 until 20, "en").filter(col("doc_id") =!= 3L)
        .unionByName(mkDocs(50 until 55, "fr"))))
  }

  test("log-stats skipping: pruned files are NEVER opened (corruption-proof)") {
    import org.apache.spark.sql.functions.col
    val t = freshDir("skip")
    import spark.implicits._
    val df = (0L until 4000L).map(i => (i, i * 17L % 9973L)).toDF("k", "v")
    LakeTxn.appendCommitStats(spark,
      df.repartitionByRange(8, col("k")).sortWithinPartitions("k"), t, "k")
    val snap = LakeTxn.snapshot(spark, t)
    assert(snap.adds.forall(a => a.statsCol == "k" && a.lo <= a.hi))
    val (pruned, scanned, total) = LakeTxn.readPruned(spark, t, "k", 500L, 999L)
    assert(total == 8 && scanned < total, s"$scanned of $total")
    // smoking gun: corrupt every SKIPPED file on disk — the read still
    // succeeds because pruning decided from the log alone
    val keep = LakeTxn.readPruned(spark, t, "k", 500L, 999L)._1 // fresh plan
    val kept = snap.adds.filter(a => a.hi >= 500L && a.lo <= 999L).map(_.file).toSet
    snap.adds.filterNot(a => kept(a.file)).foreach { a =>
      java.nio.file.Files.write(java.nio.file.Paths.get(t, a.file),
        "garbage".getBytes("UTF-8"))
    }
    val got = keep.orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === (500L to 999L).map(i => (i, i * 17L % 9973L)))
    assert(pruned != null)
  }

  test("skipping stats survive a log checkpoint") {
    val t = freshDir("skipckpt")
    import spark.implicits._
    val df = (0L until 1000L).map(i => (i, s"r$i")).toDF("k", "s")
    LakeTxn.appendCommitStats(spark,
      df.repartitionByRange(4, col("k")).sortWithinPartitions("k"), t, "k")
    LakeTxn.appendCommitStats(spark,
      (1000L until 2000L).map(i => (i, s"r$i")).toDF("k", "s")
        .repartitionByRange(4, col("k")).sortWithinPartitions("k"), t, "k")
    LakeTxn.checkpointLog(spark, t)
    LakeTxn.appendCommitStats(spark,
      (2000L until 2500L).map(i => (i, s"r$i")).toDF("k", "s").coalesce(1), t, "k")
    val (df2, scanned, total) = LakeTxn.readPruned(spark, t, "k", 100L, 199L)
    assert(total == 9 && scanned == 1, s"$scanned of $total")
    assert(df2.count() == 100L)
  }


  test("DV delete: zero data files rewritten; read applies the vector; time travel ignores it") {
    val t = freshDir("dv")
    LakeTxn.appendCommit(spark, mkDocs(0 until 40, "en").repartition(2), t)
    LakeTxn.appendCommit(spark, mkDocs(40 until 60, "de").repartition(2), t)
    val before = LakeTxn.snapshot(spark, t)
    val v = LakeTxn.deleteWhereMor(spark, t, col("lang") === "de")
    val after = LakeTxn.snapshot(spark, t)
    // merge-on-read: the data file set is UNCHANGED — only a vector landed
    assert(after.files === before.files)
    assert(after.dvs.size == 1 && after.dvs.head.file.startsWith("dv/"))
    assert(after.dvs.head.rows == 20L)
    assert(contents(LakeTxn.read(spark, t)) === contents(mkDocs(0 until 40, "en")))
    // time travel BEFORE the vector still sees the full corpus
    assert(contents(LakeTxn.read(spark, t, Some(v - 1))) ===
      contents(mkDocs(0 until 40, "en").unionByName(mkDocs(40 until 60, "de"))))
    // an empty delete commits nothing
    assert(LakeTxn.deleteWhereMor(spark, t, col("lang") === "zz") == -1L)
    assert(LakeTxn.listVersions(spark, t).size == 3)
  }

  test("stacked DVs never re-tombstone: the second vector counts only live rows") {
    val t = freshDir("dvstack")
    LakeTxn.appendCommit(spark, mkDocs(0 until 30, "en").coalesce(1), t)
    LakeTxn.deleteWhereMor(spark, t, col("doc_id") < 10)
    // overlap: doc_id < 20 includes the 10 already-deleted rows
    LakeTxn.deleteWhereMor(spark, t, col("doc_id") < 20)
    val snap = LakeTxn.snapshot(spark, t)
    assert(snap.dvs.map(_.rows) === Seq(10L, 10L), snap.dvs.toString)
    assert(contents(LakeTxn.read(spark, t)) === contents(mkDocs(20 until 30, "en")))
  }

  test("compaction materializes and PURGES deletion vectors; vacuum reclaims them") {
    val t = freshDir("dvcompact")
    LakeTxn.appendCommit(spark, mkDocs(0 until 30, "en").repartition(2), t)
    LakeTxn.deleteWhereMor(spark, t, col("doc_id") % 3 === 0)
    val want = contents(LakeTxn.read(spark, t))
    LakeTxn.compactCommit(spark, t, Long.MaxValue / 4)
    val snap = LakeTxn.snapshot(spark, t)
    assert(snap.dvs.isEmpty, "compaction must purge the vectors")
    assert(contents(LakeTxn.read(spark, t)) === want)
    // the unpinned vector file is vacuumable once no retained snapshot holds it
    val stats = LakeTxn.vacuum(spark, t, retainLast = 1)
    val fs = java.nio.file.Paths.get(t, "dv")
    assert(!java.nio.file.Files.exists(fs) ||
      graft.Dirs.children(fs).isEmpty, "vacuum must reclaim purged vectors")
    assert(stats.deleted >= 1)
    assert(contents(LakeTxn.read(spark, t)) === want)
  }

  test("CoW merge over a DV'd table applies vectors first and keeps them for untouched files") {
    val t = freshDir("dvcow")
    LakeTxn.appendCommit(spark, mkDocs(0 until 20, "en").coalesce(1), t)
    LakeTxn.appendCommit(spark, mkDocs(20 until 40, "fr").coalesce(1), t)
    LakeTxn.deleteWhereMor(spark, t, col("doc_id") === 5L || col("doc_id") === 25L)
    // upsert touches ONLY the fr file; the en file's vector must survive
    val ch = mkDocs(30 until 32, "xx").withColumn("__op", lit("upsert"))
    LakeTxn.applyChanges(spark, t, ch, "doc_id")
    val expect = mkDocs(0 until 20, "en").filter(col("doc_id") =!= 5L)
      .unionByName(mkDocs(20 until 40, "fr")
        .filter(col("doc_id") =!= 25L && (col("doc_id") < 30 || col("doc_id") >= 32)))
      .unionByName(mkDocs(30 until 32, "xx"))
    assert(contents(LakeTxn.read(spark, t)) === contents(expect))
    // the vector is still live (it guards the untouched en file)
    assert(LakeTxn.snapshot(spark, t).dvs.nonEmpty)
  }

  test("deletion vectors survive a log checkpoint") {
    val t = freshDir("dvckpt")
    LakeTxn.appendCommit(spark, mkDocs(0 until 25, "en").coalesce(1), t)
    LakeTxn.deleteWhereMor(spark, t, col("doc_id") % 5 === 0)
    LakeTxn.checkpointLog(spark, t)
    LakeTxn.appendCommit(spark, mkDocs(100 until 105, "fr").coalesce(1), t)
    assert(contents(LakeTxn.read(spark, t)) ===
      contents(mkDocs(0 until 25, "en").filter(col("doc_id") % 5 =!= 0)
        .unionByName(mkDocs(100 until 105, "fr"))))
  }

  test("DV read keeps pushdown on the data scan and broadcasts the vector") {
    val t = freshDir("dvplan")
    LakeTxn.appendCommit(spark, mkDocs(0 until 50, "en").repartition(2), t)
    LakeTxn.deleteWhereMor(spark, t, col("doc_id") % 7 === 0)
    val plan = LakeTxn.read(spark, t).filter(col("doc_id") > 25L)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(doc_id,25)"),
      plan.takeRight(900))
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      plan.takeRight(900))
  }


  test("schema evolution: null backfill, old-version schema, loud type conflict") {
    val t = freshDir("evolve")
    LakeTxn.appendCommit(spark, mkDocs(0 until 10, "en").coalesce(1), t) // v0
    LakeTxn.appendCommitEvolve(spark,
      mkDocs(10 until 20, "fr").withColumn("quality", col("doc_id") * 2), t) // v1
    val now = LakeTxn.read(spark, t)
    assert(now.columns.toSeq ===
      Seq("doc_id", "text", "lang", "source", "n_chars", "quality"))
    val rows = now.orderBy("doc_id").collect()
    assert(rows.take(10).forall(_.isNullAt(5)), "old rows must null-fill")
    assert(rows.drop(10).forall(r => r.getLong(5) == r.getLong(0) * 2))
    // time travel BEFORE the evolution shows the table as it was
    assert(LakeTxn.read(spark, t, Some(0L)).columns.toSeq ===
      Seq("doc_id", "text", "lang", "source", "n_chars"))
    // a type change is refused loudly, never coerced
    val e = intercept[IllegalArgumentException] {
      LakeTxn.appendCommitEvolve(spark,
        mkDocs(20 until 25, "de").withColumn("quality", lit("high")), t)
    }
    assert(e.getMessage.contains("cannot change column 'quality'"), e.getMessage)
    // the failed attempt staged files but committed nothing
    assert(LakeTxn.listVersions(spark, t) === Seq(0L, 1L))
  }

  test("schema evolution: omitted columns null-fill, second evolution stacks, checkpoint survives") {
    val t = freshDir("evolve2")
    LakeTxn.appendCommitEvolve(spark, mkDocs(0 until 5, "en"), t) // v0 sets base
    // second batch OMITS lang/source/n_chars and ADDS score
    import spark.implicits._
    val partial = Seq((100L, "tail text", 9L)).toDF("doc_id", "text", "score")
    LakeTxn.appendCommitEvolve(spark, partial, t) // v1
    LakeTxn.checkpointLog(spark, t)
    LakeTxn.appendCommit(spark, // plain append through the evolved schema
      mkDocs(200 until 202, "fr").withColumn("score", lit(1L)), t) // v2
    val got = LakeTxn.read(spark, t).orderBy("doc_id")
    assert(got.columns.toSeq ===
      Seq("doc_id", "text", "lang", "source", "n_chars", "score"))
    val r100 = got.filter(col("doc_id") === 100L).collect().head
    assert(r100.isNullAt(2) && r100.isNullAt(3) && r100.isNullAt(4))
    assert(r100.getLong(5) == 9L)
    assert(got.filter(col("doc_id") < 100).collect().forall(_.isNullAt(5)))
    assert(got.count() == 8L)
  }

  test("corrupt action lines fail loudly, never silently drop a remove") {
    val t = freshDir("corrupt")
    LakeTxn.appendCommit(spark, mkDocs(0 until 10, "en").coalesce(1), t)
    val log = java.nio.file.Paths.get(t, "_graft_log",
      f"${1L}%020d.json")
    java.nio.file.Files.write(log,
      """{"a":"remove","f":"data/x.parquet"""".getBytes("UTF-8")) // truncated
    intercept[IllegalArgumentException] {
      LakeTxn.snapshot(spark, t)
    }
  }
}
