package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

import graft.ext.LakeTxn

/** The table's layout survives every writer. One decision
  * (`LakeTxn.layoutOf`) and one publish step serve the DataFrame and V2
  * writers alike, so a partitioned or bucketed table stays stamped
  * through SQL INSERT, path-API appends, the streaming sink, SQL UPDATE,
  * the CDC apply and compaction — and a CHECK constraint on the
  * partition column sees the column the staged files physically lack. */
class LakeLayoutSpec extends SparkSpec {

  private lazy val (cat, wh) = {
    val dir = s"/tmp/graft_layout_${System.nanoTime()}"
    val c = s"glayout${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$c",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$c.warehouse", dir)
    spark.sql(s"CREATE NAMESPACE $c.db")
    (c, dir)
  }

  import spark.implicits._

  private def causes(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq

  private def stageDirs(t: String): Seq[String] =
    new java.io.File(t).list().toSeq.filter(_.startsWith(".stage-"))

  /** A violating write throws ConstraintViolationException (somewhere in
    * the cause chain) and leaves no version and no stage dir behind. */
  private def refused(t: String)(write: => Unit): Unit = {
    val before = LakeTxn.listVersions(spark, t)
    val e = intercept[Throwable](write)
    assert(causes(e).exists(_.isInstanceOf[LakeTxn.ConstraintViolationException]),
      causes(e).mkString(" <- "))
    assert(LakeTxn.listVersions(spark, t) === before)
    assert(stageDirs(t).isEmpty, stageDirs(t))
  }

  private def partitionedWithLangCheck(name: String): String = {
    spark.sql(s"CREATE TABLE $cat.db.$name (k BIGINT, lang STRING) " +
      s"USING `graft-lake` PARTITIONED BY (lang)")
    spark.sql(s"INSERT INTO $cat.db.$name VALUES (1, 'en'), (2, 'de')")
    val t = s"$wh/db/$name"
    LakeTxn.addConstraint(spark, t, "known_lang", "lang IN ('en', 'de', 'fr')")
    t
  }

  test("a CHECK on the partition column: a valid INSERT commits, a violating one aborts cleanly") {
    val t = partitionedWithLangCheck("ck_ins")
    spark.sql(s"INSERT INTO $cat.db.ck_ins VALUES (3, 'fr')")
    assert(spark.table(s"$cat.db.ck_ins").orderBy("k").as[(Long, String)]
      .collect().toSeq === Seq((1L, "en"), (2L, "de"), (3L, "fr")))
    refused(t)(spark.sql(s"INSERT INTO $cat.db.ck_ins VALUES (4, 'xx')"))
    assert(spark.table(s"$cat.db.ck_ins").count() === 3L)
    assert(LakeTxn.snapshot(spark, t).adds.forall(_.pvCol == "lang"))
  }

  test("a CHECK on the partition column: INSERT OVERWRITE PARTITION commits or aborts cleanly") {
    val t = partitionedWithLangCheck("ck_ow")
    spark.sql(s"INSERT INTO $cat.db.ck_ow VALUES (3, 'fr')")
    spark.sql(s"INSERT OVERWRITE $cat.db.ck_ow PARTITION (lang = 'fr') VALUES (30)")
    assert(spark.table(s"$cat.db.ck_ow").orderBy("k").as[(Long, String)]
      .collect().toSeq === Seq((1L, "en"), (2L, "de"), (30L, "fr")))
    // the named partition value itself violates the constraint
    refused(t)(spark.sql(
      s"INSERT OVERWRITE $cat.db.ck_ow PARTITION (lang = 'xx') VALUES (300)"))
    assert(spark.table(s"$cat.db.ck_ow").orderBy("k").as[(Long, String)]
      .collect().toSeq === Seq((1L, "en"), (2L, "de"), (30L, "fr")))
  }

  private def assertBucketed(t: String, step: String): Unit = {
    val snap = LakeTxn.snapshot(spark, t)
    assert(snap.adds.nonEmpty)
    assert(snap.adds.forall(a => a.bkCol == "k" && a.bkN == 4L && a.bkId >= 0),
      s"after $step: unstamped " +
        snap.adds.filter(a => a.bkId < 0).map(_.file).mkString(", "))
    snap.adds.foreach { a =>
      val ks = spark.read.parquet(s"$t/${a.file}").select("k").as[Long].collect()
      assert(ks.forall(k => LakeTxn.bucketId(k, 4) == a.bkId.toInt),
        s"after $step: misrouted rows in ${a.file}")
    }
  }

  private def withSpj[T](body: => T): T = {
    val keys = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, "true"))
    try body
    finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  private def kv(ids: Range, mul: Long): DataFrame =
    ids.map(i => (i.toLong, i * mul)).toDF("k", "v")

  /** Append `df`'s rows as ONE streamed epoch through the native sink. */
  private def streamEpoch(df: DataFrame, dest: String, name: String): Unit = {
    val src = s"$wh/_src_$name"
    LakeTxn.appendCommit(spark, df.repartition(2), src)
    spark.readStream.format("graft-lake").load(src)
      .writeStream.outputMode("append").format("graft-lake")
      .option("checkpointLocation", s"$wh/_ck_$name")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(dest).awaitTermination()
  }

  test("bucketed layout survives INSERT, a streamed epoch, UPDATE, CDC and compact; the join stays exchange-free") {
    spark.sql(s"CREATE TABLE $cat.db.bk (k BIGINT, v BIGINT) USING `graft-lake`")
    spark.sql(s"CREATE TABLE $cat.db.bk2 (k BIGINT, v BIGINT) USING `graft-lake`")
    val t = s"$wh/db/bk"
    LakeTxn.appendCommitBucketed(spark, kv(0 until 100, 2L), t, "k", 4)
    LakeTxn.appendCommitBucketed(spark, kv(0 until 200, 3L), s"$wh/db/bk2", "k", 4)
    def check(step: String): Unit = {
      assertBucketed(t, step)
      withSpj {
        val joined = spark.table(s"$cat.db.bk").hint("merge")
          .join(spark.table(s"$cat.db.bk2"), "k")
        val plan = joined.queryExecution.explainString(ExplainMode.fromString("formatted"))
        assert(plan.contains("SortMergeJoin") && !plan.contains("Exchange"),
          s"after $step: " + plan.takeRight(1500))
      }
    }
    spark.sql(s"INSERT INTO $cat.db.bk SELECT id, id * 2 FROM range(100, 130)")
    check("SQL INSERT")
    streamEpoch(kv(130 until 150, 2L), t, "bk")
    check("streamed epoch")
    spark.sql(s"UPDATE $cat.db.bk SET v = v + 100000 WHERE k % 5 = 0")
    check("SQL UPDATE")
    val changes = Seq((7L, -7L, "upsert"), (500L, 5L, "upsert"), (9L, 0L, "delete"))
      .toDF("k", "v", "__op")
    LakeTxn.applyChanges(spark, t, changes, "k")
    check("applyChanges")
    spark.sql(s"CALL $cat.system.compact('db.bk')").collect(): Unit
    check("CALL compact")
    assert(LakeTxn.snapshot(spark, t).adds.size <= 4)
    val want = ((0L until 150L).filterNot(_ == 9L).map { k =>
      val v = if (k == 7L) -7L else k * 2 + (if (k % 5 == 0) 100000L else 0L)
      (k, v)
    } :+ ((500L, 5L))).sorted
    assert(spark.table(s"$cat.db.bk").as[(Long, Long)].collect().toSeq.sorted === want)
  }

  private def assertPartitioned(t: String, step: String): Unit = {
    val snap = LakeTxn.snapshot(spark, t)
    assert(snap.adds.nonEmpty)
    assert(snap.adds.forall(a => a.pvCol == "lang" && a.pvValue != null),
      s"after $step: unstamped " +
        snap.adds.filter(_.pvCol == null).map(_.file).mkString(", "))
    snap.adds.foreach(a => assert(
      !spark.read.parquet(s"$t/${a.file}").columns.contains("lang"),
      s"after $step: ${a.file} carries the partition column"))
  }

  private def docs(ids: Range): DataFrame =
    ids.map(i => (i.toLong, Seq("en", "fr", "de")(i % 3), i * 10L))
      .toDF("k", "lang", "v")

  test("partitioned layout survives INSERT, path-API append, a streamed epoch, UPDATE, CDC and compact") {
    spark.sql(s"CREATE TABLE $cat.db.pt (k BIGINT, lang STRING, v BIGINT) USING `graft-lake`")
    val t = s"$wh/db/pt"
    LakeTxn.appendCommitPartitioned(spark, docs(0 until 60), t, "lang")
    spark.sql(s"INSERT INTO $cat.db.pt VALUES (60, 'en', 600), (61, 'pt', 610)")
    assertPartitioned(t, "SQL INSERT")
    docs(62 until 80).write.format("graft-lake").mode("append").save(t)
    assertPartitioned(t, "path-API append")
    streamEpoch(docs(80 until 90), t, "pt")
    assertPartitioned(t, "streamed epoch")
    spark.sql(s"UPDATE $cat.db.pt SET v = -1 WHERE k % 7 = 0")
    assertPartitioned(t, "SQL UPDATE")
    val changes = Seq((3L, "de", 33L, "upsert"), (95L, "it", 950L, "upsert"),
      (4L, "fr", 0L, "delete")).toDF("k", "lang", "v", "__op")
    LakeTxn.applyChanges(spark, t, changes, "k")
    assertPartitioned(t, "applyChanges")
    spark.sql(s"CALL $cat.system.compact('db.pt')").collect(): Unit
    assertPartitioned(t, "CALL compact")
    // the upsert moves key 3 from 'en' into 'de'
    val langOf = (k: Long) =>
      if (k == 61L) "pt" else if (k == 3L) "de" else Seq("en", "fr", "de")((k % 3).toInt)
    val want = ((0L until 90L).filterNot(_ == 4L).map { k =>
      val v = if (k == 3L) 33L else if (k % 7 == 0) -1L else k * 10L
      (k, langOf(k), v)
    } :+ ((95L, "it", 950L))).sorted
    assert(spark.table(s"$cat.db.pt").select("k", "lang", "v")
      .as[(Long, String, Long)].collect().toSeq.sorted === want)
    assert(LakeTxn.snapshot(spark, t).adds.map(_.pvValue).toSet ===
      Set("en", "fr", "de", "pt", "it"))
  }
}
