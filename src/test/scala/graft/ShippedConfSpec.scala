package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkEnv
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ext.LakeTxn
import graft.sources.{LakeBatchWrite, LakeOverwriteBatchWrite, LakeReaderFactory, LakeStreamingWrite, ShippedConf}

/** What a lake task carries: every lake reader and writer factory ships
  * the session Hadoop conf as the cached [[ShippedConf]] broadcast
  * handle, never the conf itself (a `SerializableConfiguration` in the
  * factory put ~110 KB into every task binary). The handle is reused
  * while the conf content is unchanged, a changed session conf is seen
  * by the next factory, and no reader writes into the shared value. */
class ShippedConfSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def freshDir(name: String): String =
    s"/tmp/graft_shipconf_${name}_${System.nanoTime()}"

  private lazy val table: String = {
    import spark.implicits._
    val t = freshDir("t")
    LakeTxn.appendCommit(spark,
      (0L until 200L).map(i => (i, s"v$i")).toDF("k", "s").repartition(2), t)
    t
  }

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("s", StringType)))

  private def select(): DataFrame =
    spark.read.format("graft-lake").load(table).filter(col("k") > 150L)

  private def readerFactory(df: DataFrame): LakeReaderFactory =
    collectFirst(df.queryExecution.executedPlan) {
      case b: BatchScanExec => b.readerFactory
    }.get.asInstanceOf[LakeReaderFactory]

  private def closureBytes(o: AnyRef): Int =
    SparkEnv.get.closureSerializer.newInstance().serialize(o).limit()

  test("reader and writer factories serialize under 8 KB") {
    val factories = Seq(
      "LakeReaderFactory" -> readerFactory(select()),
      "LakeWriterFactory" ->
        new LakeBatchWrite(table, schema, "q1").createBatchWriterFactory(null),
      "LakeWriterFactory (overwrite)" ->
        new LakeOverwriteBatchWrite(table, schema, "q2", None)
          .createBatchWriterFactory(null),
      "LakeStreamingWriterFactory" ->
        new LakeStreamingWrite(table, schema, "app", "q3")
          .createStreamingWriterFactory(null))
    val sizes = factories.map { case (name, f) => name -> closureBytes(f) }
    info(s"serialized bytes: $sizes")
    assert(sizes.forall(_._2 < 8 * 1024), s"serialized bytes: $sizes")
  }

  test("two SELECTs on an unchanged session ship the same broadcast") {
    val a = readerFactory(select())
    val b = readerFactory(select())
    assert(a.conf.id === b.conf.id)
    assert(select().collect().length === 49)
  }

  test("a session conf change reaches the next factory's conf") {
    try {
      spark.conf.set("fs.graft.probe", "v1")
      val planned = select()
      val before = readerFactory(planned)
      assert(before.conf.value.value.get("fs.graft.probe") === "v1")
      spark.conf.set("fs.graft.probe", "v2")
      val after = readerFactory(select())
      assert(after.conf.value.value.get("fs.graft.probe") === "v2")
      assert(after.conf.id !== before.conf.id)
      assert(ShippedConf(spark).id === after.conf.id)
      // the replaced broadcast is not destroyed: the query planned on it
      // still runs
      System.gc()
      assert(planned.collect().length === 49)
    } finally spark.conf.unset("fs.graft.probe")
  }

  test("a columnar read with pushed filters leaves the shared value untouched") {
    val df = select()
    val f = readerFactory(df)
    assert(f.supportColumnarReads(null), "the scan must take the columnar reader")
    assert(df.queryExecution.executedPlan.toString.contains("GreaterThan(k,150)"),
      df.queryExecution.executedPlan.toString.take(600))
    assert(df.collect().map(_.getLong(0)).sorted.toSeq === (151L until 200L))
    val bad = f.conf.value.value.iterator().asScala.map(_.getKey).filter(k =>
      k == "parquet.read.support.class" ||
        k.startsWith("parquet.private.read.filter.predicate") ||
        k == "org.apache.spark.sql.parquet.row.requested_schema").toList
    assert(bad.isEmpty, s"reader-local keys leaked into the shared conf: $bad")
  }
}
