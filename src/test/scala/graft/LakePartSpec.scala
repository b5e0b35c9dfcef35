package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.LakeTxn

/** Hive-style partition values recorded in the commit log: the data
  * files physically LACK the partition column (it lives in the add
  * actions), reads reconstruct it as per-file literals and prune the
  * file list from the log alone — no directory listing, no footer
  * opens. */
class LakePartSpec extends SparkSpec {

  private def freshDir(name: String): String =
    s"/tmp/graft_lpart_${name}_${System.nanoTime()}"

  private def mkDocs(ids: Range, langOf: Int => String): DataFrame = {
    import spark.implicits._
    ids.map(i => (i.toLong, s"text $i", langOf(i), s"src${i % 3}", (10 + i).toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  test("partition values live in the log; files lack the column; reads reconstruct it") {
    val t = freshDir("basic")
    val d = mkDocs(0 until 90, i => Seq("en", "fr", "de")(i % 3))
    LakeTxn.appendCommitPartitioned(spark, d, t, "lang")
    val snap = LakeTxn.snapshot(spark, t)
    assert(snap.adds.forall(a => a.pvCol == "lang" && a.pvValue != null))
    assert(snap.adds.map(_.pvValue).distinct.sorted === Seq("de", "en", "fr"))
    // the physical files do NOT contain lang
    val raw = spark.read.parquet(s"$t/${snap.adds.head.file}")
    assert(!raw.columns.contains("lang"))
    // the partitioned read reconstructs it exactly
    val (got, scanned, total) = LakeTxn.readPartitions(spark, t, "lang", Seq("en", "fr"))
    val want = d.filter(col("lang").isin("en", "fr"))
      .select("doc_id", "text", "source", "n_chars", "lang")
      .orderBy("doc_id").collect().map(_.mkString("|"))
    assert(got.orderBy("doc_id").collect().map(_.mkString("|")) === want)
    assert(scanned < total, s"partition pruning must drop 'de' files ($scanned/$total)")
  }

  test("pruned partitions are never opened (corruption-proof)") {
    val t = freshDir("corrupt")
    LakeTxn.appendCommitPartitioned(spark,
      mkDocs(0 until 60, i => Seq("en", "fr", "de")(i % 3)), t, "lang")
    val snap = LakeTxn.snapshot(spark, t)
    val doomed = snap.adds.filter(_.pvValue == "de").map(_.file)
    assert(doomed.nonEmpty)
    doomed.foreach { f =>
      java.nio.file.Files.write(java.nio.file.Paths.get(t, f),
        Array.fill[Byte](64)(0x5A))
    }
    val (got, _, _) = LakeTxn.readPartitions(spark, t, "lang", Seq("en", "fr"))
    assert(got.count() === 40L)
  }

  test("a mixed table: pre-partitioning files keep their inline column") {
    val t = freshDir("mixed")
    val d = mkDocs(0 until 30, i => if (i % 2 == 0) "en" else "fr")
    // a plain append first: lang is INSIDE these files
    LakeTxn.appendCommit(spark, d.filter(col("doc_id") < 10).repartition(1), t)
    LakeTxn.appendCommitPartitioned(spark, d.filter(col("doc_id") >= 10), t, "lang")
    val (got, scanned, total) = LakeTxn.readPartitions(spark, t, "lang", Seq("en"))
    // the stat-less pre-partitioning file is kept conservatively
    assert(scanned < total && scanned >= 1)
    assert(got.count() === 15L)
    assert(got.columns.sorted === Array("doc_id", "lang", "n_chars", "source", "text"))
  }

  test("partition values survive a log checkpoint; escaping round-trips") {
    val t = freshDir("ckpt")
    LakeTxn.appendCommitPartitioned(spark,
      mkDocs(0 until 20, i => if (i % 2 == 0) "en us" else "fr:ca"), t, "lang")
    LakeTxn.checkpointLog(spark, t)
    LakeTxn.appendCommitPartitioned(spark,
      mkDocs(20 until 30, _ => "en us"), t, "lang")
    val snap = LakeTxn.snapshot(spark, t)
    assert(snap.adds.map(_.pvValue).distinct.sorted === Seq("en us", "fr:ca"))
    val (got, _, _) = LakeTxn.readPartitions(spark, t, "lang", Seq("en us"))
    assert(got.count() === 20L)
    assert(got.select("lang").distinct().collect().map(_.getString(0)).toSeq ===
      Seq("en us"))
  }

  test("every reader is partition-aware: plain read, DV delete, compaction keep the column") {
    val t = freshDir("compose")
    val d = mkDocs(0 until 60, i => Seq("en", "fr", "de")(i % 3))
    LakeTxn.appendCommitPartitioned(spark, d, t, "lang")
    // a PLAIN read reconstructs the column the files physically lack
    val r0 = LakeTxn.read(spark, t)
    assert(r0.columns.contains("lang"))
    assert(r0.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("en" -> 20L, "fr" -> 20L, "de" -> 20L))
    // a merge-on-read DELETE can key on the partition column itself
    LakeTxn.deleteWhereMor(spark, t, col("lang") === "de")
    assert(LakeTxn.read(spark, t).count() === 40L)
    // compaction materializes both the vectors AND the partition values
    LakeTxn.compactCommit(spark, t, Long.MaxValue / 4)
    val r1 = LakeTxn.read(spark, t)
    assert(r1.count() === 40L)
    assert(r1.select("lang").distinct().collect().map(_.getString(0)).sorted
      === Array("en", "fr"))
    // post-compaction files keep the partition layout: a partition read
    // prunes them from the log and still answers exactly
    val (en, _, _) = LakeTxn.readPartitions(spark, t, "lang", Seq("en"))
    assert(en.count() === 20L)
    // the partitioned append path enforces CHECK constraints too
    LakeTxn.addConstraint(spark, t, "pos", "n_chars >= 0")
    intercept[LakeTxn.ConstraintViolationException](
      LakeTxn.appendCommitPartitioned(spark,
        mkDocs(60 until 70, _ => "en").withColumn("n_chars", lit(-1L)), t, "lang"))
  }

  test("JSON-hostile partition values ('\"', newline, backslash) round-trip") {
    // spark's hive-path escaping turns '"' and '\n' into %22/%0A; the
    // unescape restores them, and the log line must survive that —
    // an unescaped value would brick every later parseActions
    val t = freshDir("hostile")
    val langs = Vector("a\"b", "c\nd", "e\\f")
    LakeTxn.appendCommitPartitioned(spark,
      mkDocs(0 until 30, i => langs(i % 3)), t, "lang")
    val snap = LakeTxn.snapshot(spark, t) // parseActions must not throw
    assert(snap.adds.map(_.pvValue).distinct.sorted === langs.sorted)
    LakeTxn.checkpointLog(spark, t) // and survive a checkpoint round-trip
    val (got, _, _) = LakeTxn.readPartitions(spark, t, "lang", Seq("a\"b"))
    assert(got.count() === 10L)
    assert(got.select("lang").distinct().collect().map(_.getString(0)).toSeq
      === Seq("a\"b"))
  }

  test("empty-string partition values are refused (hive default-partition sentinel)") {
    val t = freshDir("empty")
    assertThrows[IllegalArgumentException](
      LakeTxn.appendCommitPartitioned(spark,
        mkDocs(0 until 10, i => if (i % 2 == 0) "en" else ""), t, "lang"))
  }

  test("non-string and NULL partition columns fail loudly") {
    val t = freshDir("bad")
    import spark.implicits._
    val longs = Seq((1L, 2L)).toDF("doc_id", "lang")
    assertThrows[IllegalArgumentException](
      LakeTxn.appendCommitPartitioned(spark, longs, t, "lang"))
    val withNull = Seq((1L, "en"), (2L, null)).toDF("doc_id", "lang")
    assertThrows[IllegalArgumentException](
      LakeTxn.appendCommitPartitioned(spark, withNull, t, "lang"))
  }
}
