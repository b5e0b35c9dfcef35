package graft

import java.lang.management.ManagementFactory
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.ext.LakeTxn
import graft.sources.{LakeReaderFactory, ShippedConf}

/** The [[ShippedConf]] cache across the life of its contexts: a stopped
  * context's broadcast is never handed out (a rebuilt session reads the
  * lake again), and replacing the cached broadcast never breaks a query
  * still running on the one it replaced. */
class ShippedConfLifecycleSpec extends SparkSpec {

  private def freshDir(name: String): String =
    s"/tmp/graft_shipconf_life_${name}_${System.nanoTime()}"

  test("a session rebuilt after stop reads the lake on its own context") {
    // stopping a context would end the suite's shared session, so the
    // stop/rebuild cycle runs in a child JVM on this JVM's classpath
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val opens = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(a => a.startsWith("--add-opens") || a.startsWith("-Dspark."))
    val cmd = Seq(javaBin, "-Xmx1g") ++ opens ++ Seq(
      "-cp", System.getProperty("java.class.path"),
      "graft.ShippedConfLifecycleMain", freshDir("restart"))
    val log = java.io.File.createTempFile("graft_shipconf_life", ".log")
    log.deleteOnExit()
    val proc = new ProcessBuilder(cmd.asJava).redirectErrorStream(true)
      .redirectOutput(log).start()
    val done = proc.waitFor(5, TimeUnit.MINUTES)
    if (!done) proc.destroyForcibly()
    val out = new String(java.nio.file.Files.readAllBytes(log.toPath))
    assert(done && proc.exitValue() === 0, out.takeRight(3000))
    assert(out.contains("shipped-conf lifecycle ok"), out.takeRight(3000))
  }

  test("replacing the cached broadcast never fails a concurrent query") {
    import spark.implicits._
    val t = freshDir("concurrent")
    LakeTxn.appendCommit(spark,
      (0L until 400L).map(i => (i, i * 3L)).toDF("k", "v").repartition(4), t)
    def select(): DataFrame = spark.read.format("graft-lake").load(t)
    def shipped(df: DataFrame): Long =
      df.queryExecution.executedPlan.collectFirst {
        case b: BatchScanExec => b.readerFactory
      }.get.asInstanceOf[LakeReaderFactory].conf.id
    def sum(df: DataFrame): Long = df.collect().map(_.getLong(1)).sum
    val want = (0L until 400L).map(_ * 3L).sum
    val pool = Executors.newFixedThreadPool(2)
    try (1 to 3).foreach { round =>
      val planned = new CountDownLatch(1)
      val replaced = new CountDownLatch(1)
      // thread 1 plans its query on the cached broadcast, then runs it
      // only after thread 2's query has replaced that broadcast
      val held = pool.submit(new Callable[(Long, Long)] {
        def call(): (Long, Long) = {
          val df = select()
          val id = shipped(df)
          planned.countDown()
          replaced.await()
          System.gc()
          (id, sum(df))
        }
      })
      val replacing = pool.submit(new Callable[(Long, Long)] {
        def call(): (Long, Long) = {
          planned.await()
          spark.conf.set("fs.graft.lifecycle.probe", round.toString)
          val df = select()
          try (shipped(df), sum(df)) finally replaced.countDown()
        }
      })
      val (heldId, heldSum) = held.get(2, TimeUnit.MINUTES)
      val (newId, newSum) = replacing.get(2, TimeUnit.MINUTES)
      assert(heldId !== newId, s"round $round: the cache was not replaced")
      assert(heldSum === want && newSum === want)
    } finally {
      pool.shutdown()
      spark.conf.unset("fs.graft.lifecycle.probe")
    }
  }
}

/** The child-JVM half of the lifecycle spec: read a lake table, stop the
  * session, build a fresh one with [[GraftSession.build]], read again.
  * Prints the ok line only when both reads agree and the cache holds the
  * live context; any failure exits non-zero. */
object ShippedConfLifecycleMain {
  def main(args: Array[String]): Unit = {
    // exit explicitly either way: a failed run's live context would keep
    // the JVM up
    try run(args(0))
    catch { case e: Throwable => e.printStackTrace(); sys.exit(1) }
    sys.exit(0)
  }

  private def run(t: String): Unit = {
    def read(s: SparkSession): Seq[Long] =
      s.read.format("graft-lake").load(t).collect().map(_.getLong(0)).sorted.toSeq

    val first = GraftSession.build("local[2]", 2)
    first.sparkContext.setLogLevel("WARN")
    LakeTxn.appendCommit(first, first.range(0, 100).toDF("k").repartition(2), t)
    val before = read(first)
    val stopped = first.sparkContext
    require(ShippedConf.cachedContext.exists(_ eq stopped))
    first.stop()

    val second = GraftSession.build("local[2]", 2)
    require(!second.sparkContext.isStopped && (second.sparkContext ne stopped),
      "GraftSession.build returned the stopped context")
    val after = read(second)
    require(after == before && after == (0L until 100L),
      s"read after rebuild: ${after.take(5)} of ${after.size}")
    val cached = ShippedConf.cachedContext
    require(cached.exists(_ eq second.sparkContext),
      s"cache holds $cached, not the live context")
    require(!cached.exists(_ eq stopped), "cache still references the stopped context")
    second.stop()
    println("shipped-conf lifecycle ok")
  }
}
