package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.LakeTxn
import graft.sources.LakeDv

/** The deletion-vector CONCURRENCY contract: two MoR writers racing
  * from one snapshot can never double-tombstone a row (DV-vs-DV
  * commits on shared files conflict; the loser recomputes against the
  * winner's head, whose MoR scan already excludes the winner's
  * tombstones), can never jointly blow past the tombstone budget (the
  * budget re-checks at commit time against the moved head), and the
  * log-answered COUNT(*) stays exact even when a partially-covered
  * vector carries STALE positions into files a copy-on-write rewrite
  * replaced (the pushdown proves exactness from the recorded refs or
  * dedups through the guarded driver loader). */
class LakeDvConcurrencySpec extends SparkSpec {

  private def freshDir(name: String): String =
    s"/tmp/graft_dvc_${name}_${System.nanoTime()}"

  /** Two files with disjoint known key ranges: A = k in [0, 50),
    * B = k in [50, 100). */
  private def build2(t: String): Unit = {
    import spark.implicits._
    def rows(r: Range): DataFrame =
      r.map(i => (i.toLong, i * 10L)).toDF("k", "v")
    LakeTxn.appendCommit(spark, rows(0 until 50).repartition(1), t)
    LakeTxn.appendCommit(spark, rows(50 until 100).repartition(1), t)
  }

  private def pushedCount(t: String): (Long, String) = {
    val df = spark.read.format("graft-lake").load(t).agg(count(lit(1)).as("n"))
    (df.collect().head.getLong(0), df.queryExecution.executedPlan.toString)
  }

  /** A vector of the `(__dv_file, __dv_pos)` rows of `doomed`, written
    * (unpinned) by the driver codec; its refs name the files it hits. */
  private def vectorOf(t: String, doomed: DataFrame): Seq[LakeTxn.Action] =
    Seq(LakeDv.write(spark, t, doomed.collect()
      .groupBy(_.getString(0)).map { case (f, rs) => f -> rs.map(_.getLong(1)) }))

  /** All live (basename, position) tombstone pairs, duplicates KEPT. */
  private def rawPairs(t: String): Seq[(String, Long)] = {
    val snap = LakeTxn.snapshot(spark, t)
    if (snap.dvs.isEmpty) Nil
    else spark.read.parquet(snap.dvs.map(a => s"$t/${a.file}"): _*)
      .select(col("__dv_file"), col("__dv_pos"))
      .collect().toSeq.map(r => (r.getString(0), r.getLong(1)))
  }

  test("racing overlapping MoR deletes never double-tombstone a row") {
    val t = freshDir("race")
    build2(t)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      Seq(col("k") % 2 === 0, col("k") % 3 === 0).map { cond =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = LakeTxn.deleteWhereMor(spark, t, cond)
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    // deleted = |k%2=0 ∪ k%3=0| = 50 + 34 - 17 = 67; survivors = 33
    assert(LakeTxn.read(spark, t).count() === 33L)
    // tombstones are disjoint even though the predicates overlap: the
    // loser recomputed against the winner's head
    val pairs = rawPairs(t)
    assert(pairs.size === pairs.distinct.size,
      "a (file, position) pair was tombstoned twice")
    assert(pairs.size === 67)
    // and the log-answered count agrees with the content
    val (n, plan) = pushedCount(t)
    assert(plan.contains("answered from log"), plan.take(400))
    assert(n === 33L)
  }

  test("a prepared DV commit conflicts with an interleaved DV on a shared file") {
    val t = freshDir("conflict")
    build2(t)
    val snap0 = LakeTxn.snapshot(spark, t)
    // winner: a real MoR delete on file A's keys
    LakeTxn.deleteWhereMor(spark, t, col("k") === 7L)
    // loser: a DV prepared from snap0 referencing the SAME file, pushed
    // straight at commitAt with the stale read version
    val doomed = spark.read.parquet(s"$t/${snap0.files.head}")
      .withColumn("__dv_file",
        substring_index(col("_metadata.file_path"), "/", -1))
      .withColumn("__dv_pos", col("_metadata.row_index"))
      .filter(col("k") === 8L)
      .select(col("__dv_file"), col("__dv_pos"))
    val dvAdds = vectorOf(t, doomed)
    assert(LakeTxn.decodeDvRefs(dvAdds.head) ===
      Some(Seq(LakeTxn.baseName(snap0.files.head))))
    val e = intercept[LakeTxn.CommitConflictException] {
      LakeTxn.commitAt(spark, t, snap0.version, dvAdds, Nil,
        readDeps = snap0.files)
    }
    assert(e.getMessage.contains("deletion-vector conflict"))
  }

  test("DV commits on DISJOINT files commute, but re-check the budget at the moved head") {
    val t = freshDir("budget")
    build2(t)
    val snap0 = LakeTxn.snapshot(spark, t)
    val Seq(fileA, fileB) = snap0.files.toSeq
    def dvFor(file: String, lo: Long, hi: Long): Seq[LakeTxn.Action] = {
      val doomed = spark.read.parquet(s"$t/$file")
        .withColumn("__dv_file",
          substring_index(col("_metadata.file_path"), "/", -1))
        .withColumn("__dv_pos", col("_metadata.row_index"))
        .filter(col("k") >= lo && col("k") < hi)
        .select(col("__dv_file"), col("__dv_pos"))
      vectorOf(t, doomed)
    }
    // 50 tombstones on A land first (within the 60 budget on their own)
    val dvA = dvFor(fileA, 0L, 50L)
    LakeTxn.commitAt(spark, t, snap0.version, dvA, Nil,
      readDeps = snap0.files, dvBudget = 60L)
    // 50 tombstones on B, prepared from the SAME snapshot: disjoint
    // files — no DV-vs-DV conflict — but 100 joint positions exceed the
    // budget, so the commit-time re-check must refuse loudly
    val dvB = dvFor(fileB, 50L, 100L)
    val e = intercept[IllegalArgumentException] {
      LakeTxn.commitAt(spark, t, snap0.version, dvB, Nil,
        readDeps = snap0.files, dvBudget = 60L)
    }
    assert(e.getMessage.contains("refused at commit time"))
    // the table stays scannable: only the first vector is live
    assert(LakeTxn.read(spark, t).count() === 50L)
  }

  test("racing budget-edge deletes leave the table scannable (one lands, one refuses)") {
    val t = freshDir("edge")
    build2(t)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val results = try {
      Seq(col("k") < 50L, col("k") >= 50L).map { cond =>
        pool.submit(new java.util.concurrent.Callable[Either[String, Long]] {
          def call(): Either[String, Long] =
            try Right(LakeTxn.deleteWhereMor(spark, t, cond,
              maxDvPositions = 60L))
            catch { case e: IllegalArgumentException => Left(e.getMessage) }
        })
      }.map(_.get())
    } finally pool.shutdown()
    val (refused, landed) = (results.collect { case Left(m) => m },
      results.collect { case Right(v) => v })
    assert(landed.size === 1 && refused.size === 1, results.toString)
    assert(refused.head.contains("deletion-vector positions"))
    // scannable, and exactly one delete's worth of rows is gone
    assert(LakeTxn.read(spark, t).count() === 50L)
    val snap = LakeTxn.snapshot(spark, t)
    assert(snap.dvs.map(_.rows).sum === 50L)
  }

  test("a rewrite SHRINKS a partially-covered vector (COUNT(*) stays on the fast path)") {
    val t = freshDir("shrink")
    build2(t)
    // one vector spanning BOTH files (repartition(1) in the writer):
    // k = 3,13,...,93 — 5 positions in each file
    LakeTxn.deleteWhereMor(spark, t, col("k") % 10 === 3L)
    assert(LakeTxn.snapshot(spark, t).dvs.size === 1)
    // copy-on-write upsert touching ONLY file A (k = 5 lives there):
    // A is replaced, so the vector's A positions are stale — the same
    // commit must shrink it down to its surviving B positions
    import spark.implicits._
    val changes = Seq((5L, 99999L, "upsert")).toDF("k", "v", "__op")
    LakeTxn.applyChanges(spark, t, changes, "k")
    val snap = LakeTxn.snapshot(spark, t)
    assert(snap.dvs.size === 1 && snap.dvs.head.rows === 5L,
      "the partially-covered vector must shrink to its surviving positions")
    val liveBase = snap.adds.map(a => LakeTxn.baseName(a.file)).toSet
    assert(LakeTxn.decodeDvRefs(snap.dvs.head).exists(_.forall(liveBase)),
      "no live vector may reference a removed file after the rewrite")
    assert(LakeDv.rawRowsExact(snap, liveBase),
      "shrinking must restore the raw-sum fast path")
    val expected = LakeTxn.read(spark, t).count()
    assert(expected === 90L)
    val (n, plan) = pushedCount(t)
    assert(plan.contains("answered from log"), plan.take(400))
    assert(n === expected)
  }

  test("COUNT(*) stays exact over a FOREIGN log whose rewrite stranded stale positions") {
    val t = freshDir("stale")
    build2(t)
    LakeTxn.deleteWhereMor(spark, t, col("k") % 10 === 3L)
    val snap0 = LakeTxn.snapshot(spark, t)
    assert(snap0.dvs.size === 1)
    // simulate an engine WITHOUT the shrink discipline: replace file A
    // (its 5 tombstoned rows materialized away, k=5 rewritten) but
    // leave the vector whole — its A positions are now stale
    val fileA = snap0.files.head
    import spark.implicits._
    val rewrittenA = spark.read.parquet(s"$t/$fileA")
      .withColumn("v", when(col("k") === 5L, 99999L).otherwise(col("v")))
      .filter(col("k") % 10 =!= 3L)
    val staged = LakeTxn.stage(spark, rewrittenA.repartition(1), t)
    LakeTxn.publish(spark, t, snap0.version + 1, staged, Seq(fileA))
    val snap = LakeTxn.snapshot(spark, t)
    assert(snap.dvs.size === 1 && snap.dvs.head.rows === 10L,
      "the foreign rewrite leaves the whole vector live")
    // raw sums would lie: Σ adds = 95, Σ dv rows = 10, but only B's 5
    // tombstones reference live files → the true count is 90
    val expected = LakeTxn.read(spark, t).count()
    assert(expected === 90L)
    val (n, plan) = pushedCount(t)
    assert(plan.contains("answered from log"), plan.take(400))
    assert(n === expected,
      "the pushed COUNT(*) must drop stale positions, not subtract raw " +
        "DV cardinalities")
    assert(LakeDv.exactTombstones(spark, t, snap) === 5L)
    assert(!LakeDv.rawRowsExact(snap,
      snap.adds.map(a => LakeTxn.baseName(a.file)).toSet))
  }

  test("DV refs survive the wire format and the checkpoint fold") {
    val t = freshDir("refs")
    build2(t)
    val v = LakeTxn.deleteWhereMor(spark, t, col("k") === 11L)
    val live = LakeTxn.snapshot(spark, t).adds.map(a => LakeTxn.baseName(a.file))
    val written = LakeTxn.readCommit(spark, t, v).filter(_.dv)
    assert(written.size === 1)
    val refs = LakeTxn.decodeDvRefs(written.head)
    assert(refs.isDefined && refs.get === Seq(live.head),
      s"refs $refs should name exactly the file holding k=11")
    // a checkpointed fold must preserve the refs (they ride the action)
    LakeTxn.checkpointLog(spark, t)
    LakeTxn.appendCommit(spark, spark.range(1)
      .select(col("id").as("k"), col("id").as("v")), t)
    val folded = LakeTxn.snapshot(spark, t).dvs
    assert(folded.size === 1 && LakeTxn.decodeDvRefs(folded.head) === refs)
  }
}
