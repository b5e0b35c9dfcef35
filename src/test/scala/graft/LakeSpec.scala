package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.execution.ExplainMode

import graft.ext.LakeTxn

/** The lake's layout operators on the transactional path: the declared
  * bucketed join must plan without a join-key Exchange (the property that
  * makes the write-once bucketing pay for itself at 100 TB), and
  * `LakeTxn.compactCommit` must bin-pack to the byte-derived file count
  * without a shuffle and without changing content. */
class LakeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def freshDir(name: String): String =
    s"/tmp/graft_lakespec_${name}_${System.nanoTime()}"

  private def liveBytes(t: String): Long = {
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sessionState.newHadoopConf())
    LakeTxn.snapshot(spark, t).files
      .map(f => fs.getFileStatus(new org.apache.hadoop.fs.Path(t, f)).getLen).sum
  }

  test("declared lake_bucket_join never exchanges on the join key") {
    // the declared query may shuffle AFTER the join (the |segments|-row
    // aggregation), but a fact-table exchange on the join key would mean
    // the bucketing bought nothing
    val df = SparkEntry.queries("lake_bucket_join")(spark, sf)
    val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("SortMergeJoin"), plan.takeRight(1200))
    assert(!plan.contains("hashpartitioning(o_custkey"), plan.takeRight(1200))
  }

  // ---- small-file compaction ----

  test("compact bin-packs files to the byte-derived count and preserves content exactly") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val t = freshDir("compact")
    LakeTxn.appendCommit(spark, docs.repartition(32), t)
    assert(LakeTxn.snapshot(spark, t).files.size == 32)
    val bytes = liveBytes(t)
    // target = half the total bytes -> exactly 2 output files
    LakeTxn.compactCommit(spark, t, (bytes + 1) / 2)
    assert(LakeTxn.snapshot(spark, t).files.size == 2)
    val got = LakeTxn.read(spark, t).as[(Long, String)].collect().toSeq.sortBy(_._1)
    val want = docs.as[(Long, String)].collect().toSeq.sortBy(_._1)
    assert(got == want)
  }

  test("compact plans without a shuffle: coalesce, not repartition") {
    val t = freshDir("compact_noshuffle")
    LakeTxn.appendCommit(spark, Tables.documents(spark, sf).repartition(16), t)
    val sc = spark.sparkContext
    val shuffleBytes = new AtomicLong
    val tasks = new AtomicLong
    @volatile var drain: (Int, CountDownLatch) = (-1, new CountDownLatch(1))
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) {
          tasks.incrementAndGet()
          shuffleBytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
        }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") ==
            "lakespec-drain")) drain = (e.jobId, drain._2)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == drain._1) drain._2.countDown()
    }
    // listener events arrive asynchronously but in order: once a marker
    // job's end is seen, every event posted before it has been delivered
    def drained(): Unit = {
      drain = (-1, new CountDownLatch(1))
      sc.setJobDescription("lakespec-drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(drain._2.await(60, TimeUnit.SECONDS), "listener bus never drained")
    }
    sc.addSparkListener(listener)
    try {
      drained()
      shuffleBytes.set(0L); tasks.set(0L)
      LakeTxn.compactCommit(spark, t, (liveBytes(t) + 1) / 2)
      drained()
      // the marker job's own task is one of them
      assert(tasks.get > 1, s"compaction ran no tasks (${tasks.get})")
      assert(shuffleBytes.get == 0L, s"compaction shuffled ${shuffleBytes.get} bytes")
    } finally sc.removeSparkListener(listener)
    assert(LakeTxn.snapshot(spark, t).files.size == 2)
  }

  test("compact of a tiny table still emits at least one file") {
    import spark.implicits._
    val t = freshDir("compact_one")
    LakeTxn.appendCommit(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v").repartition(8), t)
    LakeTxn.compactCommit(spark, t, 1L << 30)
    assert(LakeTxn.snapshot(spark, t).files.size == 1)
    assert(LakeTxn.read(spark, t).count() == 2)
  }
}
