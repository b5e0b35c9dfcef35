package graft

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ListenerBusDrain

import graft.ext.LakeTxn
import graft.sources.LakeDv

/** Deletion vectors move on the driver: a read of a DV'd table plans
  * without a Spark job, a merge-on-read DELETE runs only the scan that
  * finds its positions (plus the broadcast of the live vectors), and
  * compaction never infers a vector's schema. The log's recorded counts
  * decide the tombstone budget before any vector opens, and vectors
  * written the old way (a Spark parquet write, nullable columns, no
  * `"dr"` refs) read and shrink exactly like the driver-written ones. */
class LakeDvCodecSpec extends SparkSpec {

  private def freshDir(name: String): String =
    s"/tmp/graft_dvcodec_${name}_${System.nanoTime()}"

  private lazy val wh = {
    val dir = freshDir("wh")
    spark.conf.set("spark.sql.catalog.gdvc", classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.gdvc.warehouse", dir)
    spark.sql("CREATE NAMESPACE gdvc.db")
    dir
  }

  /** A catalog table of 120 rows in three files (k in [0, 120)), with
    * one live vector tombstoning k in [10, 15]. Returns its path. */
  private def dvTable(name: String): String = {
    wh: Unit
    spark.sql(s"CREATE TABLE gdvc.db.$name (k BIGINT, v STRING) USING `graft-lake`")
    for (b <- 0 until 3)
      spark.sql(s"INSERT INTO gdvc.db.$name SELECT /*+ REPARTITION(1) */ " +
        s"id AS k, concat('v', id) AS v FROM range(${b * 40}, ${b * 40 + 40})")
    spark.sql(s"DELETE FROM gdvc.db.$name WHERE k BETWEEN 10 AND 15")
    val t = s"$wh/db/$name"
    assert(LakeTxn.snapshot(spark, t).dvs.size === 1)
    t
  }

  /** The Spark jobs `body` starts: one entry per job, its stages' call
    * sites and RDD names. */
  private def jobsOf(body: => Unit): Seq[(Seq[String], Seq[String])] = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Seq[String], Seq[String])]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add((e.stageInfos.map(_.name), e.stageInfos.flatMap(_.rddInfos.map(_.name))))
    }
    ListenerBusDrain(spark)
    spark.sparkContext.addSparkListener(listener)
    try { body; ListenerBusDrain(spark) }
    finally spark.sparkContext.removeSparkListener(listener)
    jobs.asScala.toSeq
  }

  test("a catalog SELECT over a DV'd table plans with zero Spark jobs") {
    dvTable("sel")
    val df = spark.sql("SELECT k, v FROM gdvc.db.sel WHERE k BETWEEN 5 AND 20")
    val jobs = jobsOf(df.queryExecution.executedPlan: Unit)
    assert(jobs.isEmpty, s"planning ran ${jobs.size} job(s): $jobs")
    assert(df.collect().map(_.getLong(0)).sorted.toSeq ===
      ((5L to 9L) ++ (16L to 20L)))
  }

  test("SQL DELETE FROM on the merge-on-read path runs at most two Spark jobs") {
    val t = dvTable("del")
    val jobs = jobsOf(spark.sql("DELETE FROM gdvc.db.del WHERE k BETWEEN 50 AND 55"): Unit)
    assert(jobs.size <= 2, s"DELETE ran ${jobs.size} jobs: $jobs")
    val snap = LakeTxn.snapshot(spark, t)
    assert(snap.dvs.size === 2)
    assert(LakeTxn.read(spark, t).count() === 120L - 12L)
  }

  test("CALL compact on a DV'd table runs no schema-inference job") {
    val t = dvTable("cmp")
    val jobs = jobsOf(spark.sql("CALL gdvc.system.compact('db.cmp')").collect(): Unit)
    // parquet schema inference lists footers through a parallelized
    // collection; the scan and the write read files
    val inference = jobs.filter { case (stages, rdds) =>
      stages.exists(_.startsWith("parquet at")) && rdds.contains("ParallelCollectionRDD")
    }
    assert(inference.isEmpty, s"compact inferred a schema: $inference (all jobs: $jobs)")
    val snap = LakeTxn.snapshot(spark, t)
    assert(snap.dvs.isEmpty && snap.files.size === 1)
    assert(spark.table("gdvc.db.cmp").count() === 114L)
  }

  test("the log decides the budget: a truncated vector past it is refused before any open") {
    val t = freshDir("trunc")
    LakeTxn.appendCommit(spark, spark.range(100).select(col("id").as("k")).repartition(1), t)
    LakeTxn.deleteWhereMor(spark, t, col("k") < 20L)
    val snap = LakeTxn.snapshot(spark, t)
    assert(snap.dvs.map(_.rows).sum === 20L)
    val f = new File(s"$t/${snap.dvs.head.file}")
    val head = java.util.Arrays.copyOf(java.nio.file.Files.readAllBytes(f.toPath), 10)
    java.nio.file.Files.write(f.toPath, head)
    new File(f.getParent, s".${f.getName}.crc").delete()
    val e = intercept[IllegalArgumentException](
      LakeDv.load(spark, t, snap, maxPositions = 10L))
    assert(e.getMessage.contains("compact the table"), e.getMessage)
  }

  /** Stage `pairs` as a vector the way a Spark `df.write.parquet` wrote
    * them (nullable columns), renamed into `dv/`, committed WITHOUT
    * `"dr"` refs. */
  private def commitOldVector(t: String, pairs: Seq[(String, Long)]): LakeTxn.Action = {
    import spark.implicits._
    val df: DataFrame = pairs.map { case (f, p) => (f, java.lang.Long.valueOf(p)) }
      .toDF("__dv_file", "__dv_pos").repartition(1)
    assert(df.schema.fields.forall(_.nullable))
    val tmp = s"$t/.stage-old-${System.nanoTime()}"
    df.write.parquet(tmp)
    val Seq(part) = new File(tmp).listFiles().toSeq.filter(_.getName.startsWith("part-"))
    val rel = s"dv/old-${System.nanoTime()}.parquet"
    new File(s"$t/dv").mkdirs()
    assert(part.renameTo(new File(s"$t/$rel")))
    val dv = LakeTxn.footerAction(spark, new org.apache.hadoop.fs.Path(t), rel, null)
      .copy(dv = true)
    assert(dv.rows === pairs.size.toLong && dv.refs == null)
    LakeTxn.commitAt(spark, t, LakeTxn.listVersions(spark, t).last, Seq(dv), Nil)
    dv
  }

  /** Two files: A = k in [0, 50), B = k in [50, 100); row ordinal = k - base. */
  private def build2(t: String): (String, String) = {
    LakeTxn.appendCommit(spark, spark.range(0, 50).select(col("id").as("k")).repartition(1), t)
    LakeTxn.appendCommit(spark, spark.range(50, 100).select(col("id").as("k")).repartition(1), t)
    val Seq(a, b) = LakeTxn.snapshot(spark, t).files.map(LakeTxn.baseName)
    (a, b)
  }

  test("a vector written by a Spark parquet write loads with identical positions") {
    val t = freshDir("oldread")
    val (a, b) = build2(t)
    val pairs = Seq((a, 7L), (b, 3L), (a, 2L), (b, 40L), (a, 49L))
    val dv = commitOldVector(t, pairs)
    val sparkSide = spark.read.parquet(s"$t/${dv.file}").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(sparkSide.sorted === pairs.sorted)
    val conf = spark.sessionState.newHadoopConf()
    assert(LakeDv.read(conf, t, dv.file).toSeq
      .flatMap { case (f, ps) => ps.map(f -> _) }.sorted === pairs.sorted)
    val loaded = LakeDv.load(spark, t, LakeTxn.snapshot(spark, t))
    assert(loaded.keySet === Set(a, b))
    assert(loaded(a).toSeq === Seq(2L, 7L, 49L) && loaded(b).toSeq === Seq(3L, 40L))
    val want = (0L until 100L).filterNot(Set(2L, 7L, 49L, 53L, 90L))
    assert(spark.read.format("graft-lake").load(t).collect().map(_.getLong(0)).sorted.toSeq === want)
    assert(LakeTxn.read(spark, t).collect().map(_.getLong(0)).sorted.toSeq === want)
  }

  test("a vector without refs still shrinks correctly through a copy-on-write rewrite") {
    val t = freshDir("oldshrink")
    val (a, b) = build2(t)
    commitOldVector(t, Seq((a, 3L), (a, 13L), (b, 3L), (b, 13L)))
    // upsert k = 5 (file A): A is rewritten, the vector shrinks to B
    import spark.implicits._
    LakeTxn.applyChanges(spark, t,
      Seq((5L, "upsert")).toDF("k", "__op"), "k")
    val snap = LakeTxn.snapshot(spark, t)
    assert(snap.dvs.size === 1 && snap.dvs.head.rows === 2L)
    assert(LakeTxn.decodeDvRefs(snap.dvs.head) === Some(Seq(b)),
      "the shrunk vector is driver-written and records its refs")
    assert(LakeDv.load(spark, t, snap)(b).toSeq === Seq(3L, 13L))
    val want = (0L until 100L).filterNot(Set(3L, 13L, 53L, 63L))
    assert(LakeTxn.read(spark, t).collect().map(_.getLong(0)).sorted.toSeq === want)
  }

  test("a driver-written vector reads back through DvSchema and the columnar MoR reader") {
    val t = freshDir("newread")
    val (a, b) = build2(t)
    LakeTxn.deleteWhereMor(spark, t, col("k") % 10 === 4L)
    val snap = LakeTxn.snapshot(spark, t)
    val Seq(dv) = snap.dvs
    assert(dv.rows === 10L && LakeTxn.decodeDvRefs(dv) === Some(Seq(a, b).sorted))
    val viaSpark = spark.read.schema(LakeDv.DvSchema).parquet(s"$t/${dv.file}")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val want = (0L until 100L).filter(_ % 10 == 4L)
      .map(k => if (k < 50L) (a, k) else (b, k - 50L))
    assert(viaSpark.sorted === want.sorted)
    val df = spark.read.format("graft-lake").load(t)
    val got = df.collect().map(_.getLong(0)).sorted.toSeq
    assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "a DV'd scan stays on the vectorized reader")
    assert(got === (0L until 100L).filterNot(_ % 10 == 4L))
  }
}
