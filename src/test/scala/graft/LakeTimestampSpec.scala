package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.functions._

import graft.ext.LakeTxn

/** IN-COMMIT timestamps: `TIMESTAMP AS OF` resolves from the publish
  * time stamped INSIDE each commit (an advisory field old engines
  * skip), so a log copy/rsync/restore — which rewrites every file
  * mtime — cannot shift time-travel answers; clock steps between
  * writers clamp monotonically. Plus the widened advisory-field
  * tolerance: escaped strings, null, and flat objects/arrays in an
  * unknown trailing field parse instead of dying as 'corrupt commit'. */
class LakeTimestampSpec extends SparkSpec {

  private def freshDir(name: String): String =
    s"/tmp/graft_ts_${name}_${System.nanoTime()}"

  private def build3(t: String): Unit = {
    import spark.implicits._
    for (r <- 0 until 3) {
      LakeTxn.appendCommit(spark,
        (0 until 10).map(i => (r * 10L + i, i.toLong)).toDF("k", "v")
          .repartition(1), t)
      Thread.sleep(5) // distinct millisecond stamps
    }
  }

  test("every published commit carries an in-commit timestamp") {
    val t = freshDir("stamp")
    build3(t)
    val stamps = LakeTxn.listVersions(spark, t)
      .map(LakeTxn.commitTimestamp(spark, t, _))
    assert(stamps.forall(_.isDefined))
    assert(stamps.flatten === stamps.flatten.sorted)
    assert(stamps.flatten.distinct.size === 3)
  }

  test("TIMESTAMP AS OF survives a log copy that rewrites every mtime") {
    val t = freshDir("copy")
    build3(t)
    val ts1 = LakeTxn.commitTimestamp(spark, t, 1L).get
    assert(LakeTxn.versionAtTimestamp(spark, t, ts1) === 1L)
    assert(LakeTxn.versionAtTimestamp(spark, t, ts1 - 1) === 0L)
    // restore the table elsewhere: fresh mtimes on every file (the
    // default Files.copy does NOT preserve attributes)
    Thread.sleep(10)
    val t2 = freshDir("copy_restored")
    val src = java.nio.file.Paths.get(t)
    val dst = java.nio.file.Paths.get(t2)
    java.nio.file.Files.walk(src).forEach { p =>
      val q = dst.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(q)
      else java.nio.file.Files.copy(p, q): Unit
    }
    // mtime-based resolution would now send every version to "just
    // copied"; the in-commit stamps keep the original answers
    assert(LakeTxn.versionAtTimestamp(spark, t2, ts1) === 1L)
    assert(LakeTxn.versionAtTimestamp(spark, t2, ts1 - 1) === 0L)
    assert(LakeTxn.read(spark, t2,
      Some(LakeTxn.versionAtTimestamp(spark, t2, ts1))).count() === 20L)
  }

  test("a restored PRE-STAMP prefix cannot poison the stamped suffix's answers") {
    val t = freshDir("mixed")
    build3(t)
    // strip the stamp from commit 0 — simulating a log whose prefix was
    // written before in-commit timestamps existed
    val v0 = java.nio.file.Paths.get(t, "_graft_log", f"${0L}%020d.json")
    val body = new String(java.nio.file.Files.readAllBytes(v0), UTF_8)
    java.nio.file.Files.write(v0,
      body.replaceAll(""","tsMs":\d+\}""", "}").getBytes(UTF_8))
    assert(LakeTxn.commitTimestamp(spark, t, 0L).isEmpty)
    val ts1 = LakeTxn.commitTimestamp(spark, t, 1L).get
    val ts2 = LakeTxn.commitTimestamp(spark, t, 2L).get
    // "restore" the log: commit 0's mtime jumps far PAST the suffix's
    // stamps (the copy). Without the suffix-stamp cap, the monotonic
    // clamp would push versions 1-2 up to that mtime and every original
    // ask would refuse.
    Thread.sleep(10)
    java.nio.file.Files.setLastModifiedTime(v0,
      java.nio.file.attribute.FileTime.fromMillis(ts2 + 1000000L))
    assert(LakeTxn.versionAtTimestamp(spark, t, ts1) === 1L)
    assert(LakeTxn.versionAtTimestamp(spark, t, ts2) === 2L)
    assert(LakeTxn.versionAtTimestamp(spark, t, ts1 - 1) === 0L,
      "the un-stamped prefix resolves at (or before) the suffix's first stamp")
  }

  test("a first action line past 64 KB keeps its in-commit timestamp") {
    import spark.implicits._
    val t = freshDir("wide")
    build3(t)
    // an append whose add carries a ~96 KB advisory bloom blob: the
    // stamp closes a first line far past 64 KB
    val staged = LakeTxn.stage(spark,
      (100L until 110L).map(k => (k, k)).toDF("k", "v").repartition(1), t)
    val blob = java.util.Base64.getEncoder.encodeToString(new Array[Byte](72 * 1024))
    val v = LakeTxn.commit(spark, t,
      staged.map(_.copy(bloomCol = "k", bloom = blob)), Nil)
    val log = java.nio.file.Paths.get(t, "_graft_log", f"$v%020d.json")
    val body = new String(java.nio.file.Files.readAllBytes(log), UTF_8)
    assert(body.takeWhile(_ != '\n').length > (1 << 16))
    val ts = LakeTxn.commitTimestamp(spark, t, v)
    assert(ts.isDefined, "the stamp past 64 KB was dropped")
    // move the commit file's mtime far past the stamp: resolution must
    // still answer from the stamp
    java.nio.file.Files.setLastModifiedTime(log,
      java.nio.file.attribute.FileTime.fromMillis(ts.get + 1000000L))
    assert(LakeTxn.versionAtTimestamp(spark, t, ts.get) === v)
    assert(LakeTxn.read(spark, t).count() === 40L)
  }

  test("a wall-clock step backwards clamps monotonically at resolution") {
    val t = freshDir("clock")
    build3(t)
    val ts2 = LakeTxn.commitTimestamp(spark, t, 2L).get
    // a commit whose writer's clock had stepped back to the epoch: a
    // harmless remove line, hand-stamped with tsMs=1
    val log = java.nio.file.Paths.get(t, "_graft_log", f"${3L}%020d.json")
    java.nio.file.Files.write(log,
      """{"a":"remove","f":"data/nonexistent.parquet","tsMs":1}"""
        .getBytes(UTF_8))
    // the later version must never resolve BEFORE an earlier one: v3
    // surfaces at v2's clamped time, not at the epoch
    intercept[IllegalArgumentException](
      LakeTxn.versionAtTimestamp(spark, t, 2L))
    assert(LakeTxn.versionAtTimestamp(spark, t, ts2 - 1) === 1L)
    assert(LakeTxn.versionAtTimestamp(spark, t, ts2) === 3L)
    // resolution is monotone in the asked time
    val asked = Seq(ts2 - 1, ts2, ts2 + 1000)
    val got = asked.map(LakeTxn.versionAtTimestamp(spark, t, _))
    assert(got === got.sorted)
  }

  test("unknown advisory fields with escapes, null, objects and arrays parse") {
    val t = freshDir("tail")
    build3(t)
    val v3 = java.nio.file.Paths.get(t, "_graft_log", f"${3L}%020d.json")
    java.nio.file.Files.write(v3,
      ("""{"a":"remove","f":"data/none.parquet","note":"he said \"hi\\\"","x":null,""" +
        """"frac":-1.25,"meta":{"k":1,"s":"v"},"tags":[1,2,"three"]}""").getBytes(UTF_8))
    val acts = LakeTxn.readCommit(spark, t, 3L)
    assert(acts.size === 1 && !acts.head.add)
    // an unknown action KIND stays fatal (could be remove-like)
    val v4 = java.nio.file.Paths.get(t, "_graft_log", f"${4L}%020d.json")
    java.nio.file.Files.write(v4,
      """{"a":"obliterate","f":"data/none.parquet"}""".getBytes(UTF_8))
    val e = intercept[IllegalArgumentException](LakeTxn.readCommit(spark, t, 4L))
    assert(e.getMessage.contains("unparseable action line"))
  }
}
