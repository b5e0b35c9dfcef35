package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.LakeTxn

/** OVERWRITE semantics through the V2 connector: one atomic
  * remove-all+add commit, strict conflict abort against interleaved
  * writers, partition-scoped replaceWhere, history intact. */
class LakeV2OverwriteSpec extends SparkSpec {

  private def freshDir(name: String): String =
    s"/tmp/graft_lvow_${name}_${System.nanoTime()}"

  private def mkDocs(ids: Range, langOf: Int => String = i => "en"): DataFrame = {
    import spark.implicits._
    ids.map(i => (i.toLong, s"text $i", langOf(i), (10 + i).toLong))
      .toDF("doc_id", "text", "lang", "n_chars")
  }

  test("mode(overwrite) is one atomic remove+add; history time-travels; gov survives") {
    val t = freshDir("basic")
    LakeTxn.appendCommit(spark, mkDocs(0 until 40).repartition(2), t)
    LakeTxn.addConstraint(spark, t, "pos", "n_chars >= 0")
    mkDocs(100 until 120).repartition(2)
      .write.format("graft-lake").mode("overwrite").save(t)
    // the live snapshot is EXACTLY the replacement
    assert(LakeTxn.read(spark, t).select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq === (100L until 120L))
    // ONE commit: remove(all old) + add(new)
    val v = LakeTxn.listVersions(spark, t).last
    val acts = LakeTxn.readCommit(spark, t, v)
    assert(acts.count(!_.add) > 0 && acts.count(_.add) > 0)
    // time travel still reads the pre-overwrite corpus
    assert(LakeTxn.read(spark, t, asOf = Some(0L)).count() === 40L)
    // governance survived the truncation: the constraint still bites
    intercept[LakeTxn.ConstraintViolationException](
      LakeTxn.appendCommit(spark,
        mkDocs(0 until 5).withColumn("n_chars", lit(-1L)).repartition(1), t))
    // and a constraint-violating OVERWRITE aborts with nothing changed
    intercept[LakeTxn.ConstraintViolationException](
      mkDocs(0 until 5).withColumn("n_chars", lit(-1L)).repartition(1)
        .write.format("graft-lake").mode("overwrite").save(t))
    assert(LakeTxn.read(spark, t).count() === 20L)
    // overwrite of a FRESH path bootstraps like a create
    val t2 = freshDir("boot")
    mkDocs(0 until 10).repartition(1)
      .write.format("graft-lake").mode("overwrite").save(t2)
    assert(LakeTxn.read(spark, t2).count() === 10L)
  }

  test("an interleaved append ABORTS the stale overwrite (no silent erase)") {
    val t = freshDir("conflict")
    LakeTxn.appendCommit(spark, mkDocs(0 until 20).repartition(1), t)
    val readVersion = LakeTxn.listVersions(spark, t).last
    // the overwrite stages its replacement against readVersion...
    val staged = LakeTxn.stage(spark, mkDocs(100 until 110).repartition(1), t)
    // ...an append interleaves...
    LakeTxn.appendCommit(spark, mkDocs(20 until 30).repartition(1), t)
    // ...and the stale overwrite must abort: its blind remove-all would
    // erase the interleaved rows
    intercept[LakeTxn.CommitConflictException](
      LakeTxn.overwriteStagedV2(spark, t, staged.map(a => (a.file, null: String)),
        mkDocs(0 until 1).schema, readVersion, None))
    assert(LakeTxn.read(spark, t).count() === 30L)
  }

  test("replaceWhere: partition-scoped overwrite replaces ONE partition exactly") {
    val t = freshDir("scoped")
    val d = mkDocs(0 until 60, i => Seq("en", "fr", "de")(i % 3))
    LakeTxn.appendCommitPartitioned(spark, d, t, "lang")
    // replace the 'en' partition with new content (all rows in scope)
    mkDocs(1000 until 1010, _ => "en").repartition(1)
      .write.format("graft-lake").mode("overwrite")
      .option("replaceWhere", "lang").option("replaceWhereValues", "en")
      .save(t)
    val got = LakeTxn.read(spark, t)
    assert(got.filter(col("lang") === "en").select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq === (1000L until 1010L))
    assert(got.filter(col("lang") =!= "en").count() === 40L) // untouched
    // single-value scopes stamp the replacement with the partition value:
    // a later scoped overwrite of the same partition still works
    mkDocs(2000 until 2005, _ => "en").repartition(1)
      .write.format("graft-lake").mode("overwrite")
      .option("replaceWhere", "lang").option("replaceWhereValues", "en")
      .save(t)
    assert(LakeTxn.read(spark, t).filter(col("lang") === "en").count() === 5L)
    // out-of-scope replacement rows are refused, nothing changes
    intercept[Exception](
      mkDocs(0 until 5, _ => "fr").repartition(1)
        .write.format("graft-lake").mode("overwrite")
        .option("replaceWhere", "lang").option("replaceWhereValues", "en")
        .save(t))
    assert(LakeTxn.read(spark, t).count() === 45L)
    // a scoped overwrite of an UNPARTITIONED table is refused loudly
    val t2 = freshDir("unpart")
    LakeTxn.appendCommit(spark, mkDocs(0 until 10).repartition(1), t2)
    intercept[Exception](
      mkDocs(0 until 5).repartition(1)
        .write.format("graft-lake").mode("overwrite")
        .option("replaceWhere", "lang").option("replaceWhereValues", "en")
        .save(t2))
    assert(LakeTxn.read(spark, t2).count() === 10L)
  }

  test("an overwriting STREAM is refused (append-only sink)") {
    val src = freshDir("ssrc")
    val dst = freshDir("sdst")
    LakeTxn.appendCommit(spark, mkDocs(0 until 10).repartition(1), src)
    LakeTxn.createTable(spark, dst, mkDocs(0 until 1).schema)
    val e = intercept[Exception] {
      val q = spark.readStream.format("graft-lake").load(src)
        .groupBy("lang").count()
        .writeStream.outputMode("complete")
        .format("graft-lake")
        .option("checkpointLocation", s"$src/_ck")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(dst)
      q.awaitTermination()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(x => x.getMessage != null &&
      (x.getMessage.contains("append-only") ||
        x.getMessage.contains("Table does not support truncate") ||
        x.getMessage.contains("truncate"))), s"got $e")
  }
}
