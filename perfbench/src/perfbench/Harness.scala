package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.io.Source
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, MapType, StringType, StructField, StructType}

import graft.{GraftSession, JobRunner}
import graft.apps.InvertedIndex
import graft.core.MapReduce
import graft.ext.{Dedup, LakeTxn, TrainingPipeline}
import graft.sources.{GraftLakeCatalog, TextCorpus}
import graft.text.Tokenize

/** The benchmark's client: one process, one client thread, the session
  * `GraftSession.build` gives users, on the inputs `gen.py` wrote.
  *
  *   perfbench.Harness <workload> <input_dir> <out_dir> <seconds> <trace 0|1>
  *
  * It runs the first iteration cold and prints `SETUP_DONE` when it ends,
  * so the caller's set-up time covers the JVM, `GraftSession.build`, the
  * workload's own set-up and that cold iteration. The workload's untimed
  * warm-up iterations come next (`Workload.warmups`), then timed
  * iterations until `seconds` have passed and at least `minIterations`
  * have run, closed loop. Before each timed iteration, outside its timing, a full GC
  * gives every iteration the same starting heap. Outputs are left under
  * `out_dir` for the checks in `checks.py`; timings, spans and Spark
  * counters go to `out_dir/results.json` and `out_dir/spans.jsonl`.
  *
  * With trace 1, iterations alternate untraced and traced, so one run
  * also gives the tracing overhead. */
object Harness {

  /** Timed iterations a run makes at least, so that the median always has
    * two samples, also when one iteration outlasts `seconds`. A traced run
    * makes three, so its traced iteration has an untraced one on each side. */
  def minIterations(trace: Boolean): Int = if (trace) 3 else 2

  private val collectors = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans

  /** Collector time of the whole JVM so far, in seconds. */
  def gcSeconds(): Double = collectors.asScala.map(c => math.max(0L, c.getCollectionTime)).sum / 1e3

  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val Array(workload, in, out, seconds, trace) = args
    val spark = GraftSession.build(master = "local[4]", appName = s"perfbench-$workload")
    try {
      val tracer = new Tracer(spark.sparkContext, workload)
      spark.sparkContext.addSparkListener(tracer.listener)
      val w: Workload = workload match {
        case "mapreduce" => new MapReduceWorkload(spark, tracer, in)
        case "dedup" => new DedupWorkload(spark, tracer, in)
        case "lake" => new LakeWorkload(spark, tracer, in, out)
        case other => sys.error(s"unknown workload $other")
      }
      w.iteration(s"$out/cold")
      println("SETUP_DONE")
      Console.out.flush()
      for (k <- 0 until w.warmups) w.iteration(s"$out/warm-$k")
      run(spark, tracer, w, seconds.toDouble, trace == "1", out)
    } finally spark.stop()
    println("HARNESS_DONE")
  }

  private def run(spark: SparkSession, tracer: Tracer, w: Workload,
                  seconds: Double, trace: Boolean, out: String): Unit = {
    val iters = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    var k = 0
    while (k < minIterations(trace) || (System.nanoTime() - t0) / 1e9 < seconds) {
      val traced = trace && k % 2 == 1
      val gc0 = gcSeconds()
      System.gc()
      tracer.on = traced
      tracer.iter = k
      val s = System.nanoTime()
      val (info, error) =
        try { (tracer.span("iter")(w.iteration(s"$out/iter-$k")), None) }
        catch { case e: Exception => (Map.empty[String, Any], Some(e.toString)) }
      val wall = (System.nanoTime() - s) / 1e9
      tracer.on = false
      val counters =
        if (traced) { org.apache.spark.perfbench.Bus.drain(spark.sparkContext); tracer.listener.take() }
        else Map.empty[String, Map[String, Any]]
      iters += Map("index" -> k, "traced" -> traced, "wall_s" -> wall,
        "gc_s" -> (gcSeconds() - gc0), "counters" -> counters, "error" -> error) ++ info
      k += 1
    }
    val extra = w.finish(out) ++ (if (trace) Map("tokens_probe" -> tokensProbe(w)) else Map.empty)
    val rss = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    val result = Map(
      "peak_rss_kb" -> rss,
      "iterations" -> iters.toSeq,
      "plans" -> tracer.plans.toSeq) ++ extra
    write(new File(out, "results.json"), json.writeValueAsString(result))
    val spans = tracer.spans.map(s => json.writeValueAsString(Map("id" -> s.id,
      "parent" -> s.parent, "name" -> s.name, "iter" -> s.iter, "start_ns" -> s.start,
      "end_ns" -> s.end)))
    write(new File(out, "spans.jsonl"), spans.mkString("", "\n", "\n"))
  }

  def write(f: File, text: String): Unit = {
    f.getParentFile.mkdirs()
    Files.write(f.toPath, text.getBytes(UTF_8))
  }

  def writeLines(f: File, lines: Iterable[String]): Unit =
    write(f, lines.map(_ + "\n").mkString)

  /** Standalone tokenizer throughput: a count of the workload's tokens,
    * median of three. */
  private def tokensProbe(w: Workload): Map[String, Any] = {
    val runs = (1 to 3).map { _ =>
      val s = System.nanoTime()
      val n = w.tokens().count()
      ((System.nanoTime() - s) / 1e9, n)
    }.sorted
    Map("tokens" -> runs(1)._2, "seconds" -> runs(1)._1)
  }
}

/** A workload: iterations that write their outputs under `dest` and
  * return what the checks need beyond the wall time, how many untimed
  * iterations follow the cold one, the one-row-per-token frame of its
  * text (`Tokenize.tokenize`), and what it leaves for the checks when the
  * run ends. */
trait Workload {
  def iteration(dest: String): Map[String, Any]
  def warmups: Int = 0
  def tokens(): DataFrame
  def finish(out: String): Map[String, Any] = Map.empty
}

/** The reference's user journey: `JobRunner.run` word count, then
  * inverted index, over the generated corpus, each to a fresh output dir.
  * Traced, the same calls `JobRunner.run` makes are made one by one so the
  * read, the MapReduce plan build, planning and the sink write separate. */
final class MapReduceWorkload(spark: SparkSession, t: Tracer, in: String)
    extends Workload {
  private val files = new File(in, "corpus").listFiles().map(_.getPath).sorted.toSeq

  private def job(dir: String, name: String, mapFn: String, reduceFn: String): Unit = {
    val dest = s"$dir/$name"
    if (!t.on) JobRunner.run(spark, files, 0, 0, mapFn, reduceFn, dest)
    else t.step(name) {
      val docs = t.span("sources.TextCorpus.read")(TextCorpus.read(spark, files))
      val result = t.span("core.MapReduce.run")(MapReduce.run(docs, mapFn, reduceFn))
      // the rendering JobRunner.run applies before its sink
      result.schema.fields.foldLeft(result) { (df, f) =>
        f.dataType match {
          case _: MapType => df.withColumn(f.name, InvertedIndex.postingsToJson(col(f.name)))
          case _ => df
        }
      }
    } { df => t.span("sources.TextCorpus.writeFormatted")(TextCorpus.writeFormatted(df, dest)) }
  }

  def iteration(dest: String): Map[String, Any] = {
    job(dest, "wc", "map_wc", "reduce_wc")
    job(dest, "id", "map_id", "reduce_id")
    Map.empty
  }

  def tokens(): DataFrame = Tokenize.tokenize(TextCorpus.read(spark, files))
}

/** The corpus-cleaning pipeline over a docs table with planted copies:
  * `TrainingPipeline.cleanCorpus` (threshold 0.7, `Dedup.polyHash`). Its
  * many small driver-side jobs keep speeding up for a few iterations after
  * the cold one, so one untimed iteration comes before the timed ones. */
final class DedupWorkload(spark: SparkSession, t: Tracer, in: String)
    extends Workload {
  override def warmups: Int = 1

  private val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))

  private def docs(): DataFrame = t.span("sources.TextCorpus.read")(
    TextCorpus.readJsonl(spark, Seq(s"$in/docs.jsonl"), schema = Some(schema)))

  def iteration(dest: String): Map[String, Any] = {
    val kept = t.step("clean") {
      val cleaned = t.span("ext.TrainingPipeline.cleanCorpus")(
        TrainingPipeline.cleanCorpus(docs(), 0.7, baseHash = Dedup.polyHash))
      cleaned.select("doc_id")
    }(_.collect().map(_.getLong(0)))
    Harness.writeLines(new File(dest, "kept.txt"), kept.map(_.toString))
    Map.empty
  }

  def tokens(): DataFrame = Tokenize.tokenize(docs(), docCol = "doc_id")
}

/** SQL through `GraftLakeCatalog` on a fresh warehouse: each iteration is
  * the next cycle of `script.tsv` -- small INSERT batches, a MERGE INTO,
  * a DELETE, CALL compact and checkpoint, with point and range SELECTs
  * between the writes. After every write the client takes
  * `LakeTxn.snapshot` of the table. Each select's rows go to
  * `reads.tsv` under the iteration's dir; when the run ends the table's
  * content goes to `final.tsv`. */
final class LakeWorkload(spark: SparkSession, t: Tracer, in: String, out: String)
    extends Workload {
  private case class Stmt(cycle: Int, op: Int, kind: String, sql: String, batch: String)

  private val cat = "bench"
  private val name = "db.docs"
  private val warehouse = new File(out, "warehouse").getAbsolutePath
  private val tablePath = s"$warehouse/db/docs"
  private val batchSchema =
    StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
  private val script = {
    val src = Source.fromFile(new File(in, "script.tsv"), "UTF-8")
    try src.getLines().map { l =>
      val Array(c, op, kind, sql, batch) = l.split("\t", -1)
      Stmt(c.toInt, op.toInt, kind, sql, batch)
    }.toVector
    finally src.close()
  }
  private var cycle = 0

  spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftLakeCatalog].getName)
  spark.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
  script.filter(_.cycle < 0).foreach(s => spark.sql(sqlOf(s)).collect())

  private def sqlOf(s: Stmt): String =
    s.sql.replace("{t}", s"$cat.$name").replace("{cat}", cat).replace("{name}", name)

  /** The module a statement calls into: the catalog's row-level write, scan
    * or procedure. */
  private def module(kind: String): String =
    "sources.LakeCatalog." + (if (kind.startsWith("select")) "select" else kind)

  def iteration(dest: String): Map[String, Any] = {
    val stmts = script.filter(_.cycle == cycle)
    require(stmts.nonEmpty, s"the script has no cycle $cycle")
    val reads = mutable.ArrayBuffer.empty[String]
    val ops = stmts.map { s =>
      val start = System.nanoTime()
      if (s.batch.nonEmpty)
        t.span("sources.TextCorpus.read")(TextCorpus.readJsonl(
          spark, Seq(s"$in/batches/${s.batch}"), schema = Some(batchSchema)))
          .createOrReplaceTempView("batch")
      val rows = t.span(module(s.kind))(t.step(s.kind)(spark.sql(sqlOf(s)))(_.collect()))
      val wall = (System.nanoTime() - start) / 1e9
      val op = mutable.Map[String, Any]("op" -> s.op, "kind" -> s.kind, "wall_s" -> wall)
      if (s.kind.startsWith("select")) {
        reads += s"#${s.op}\t${rows.length}"
        rows.foreach(r => reads += s"${r.getLong(0)}\t${r.getLong(1)}\t${r.getString(2)}")
        op("rows") = rows.length
      } else {
        val snap = t.span("ext.LakeTxn.snapshot")(LakeTxn.snapshot(spark, tablePath))
        op("version") = snap.version
        op("live_files") = snap.adds.size
      }
      op.toMap
    }
    Harness.writeLines(new File(dest, "reads.tsv"), reads)
    cycle += 1
    Map("cycle" -> (cycle - 1), "ops" -> ops)
  }

  def tokens(): DataFrame = Tokenize.tokenize(TextCorpus.readJsonl(
    spark, Seq(s"$in/batches"), schema = Some(batchSchema)), docCol = "doc_id")

  override def finish(out: String): Map[String, Any] = {
    val rows = spark.sql(s"SELECT doc_id, n_tokens, text FROM $cat.$name ORDER BY doc_id").collect()
    Harness.writeLines(new File(out, "final.tsv"),
      rows.map(r => s"${r.getLong(0)}\t${r.getLong(1)}\t${r.getString(2)}"))
    val bytes = Files.walk(Paths.get(tablePath)).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size(_)).sum
    Map("cycles_run" -> cycle, "table_bytes" -> bytes)
  }
}
