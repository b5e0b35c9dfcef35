package graft

import graft.core.MapReduce
import graft.sources.TextCorpus
import java.nio.file.Files
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** End-to-end reference pipeline: raw text files in, `word - [n]` lines
  * out, matching hand-computed counts; plus the parallelism knobs. */
class TextCorpusSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  test("wordCountJob: files -> formatted final output") {
    val dir = Files.createTempDirectory("graft_corpus")
    Files.writeString(dir.resolve("a.txt"), "the cat sat\non the mat\n")
    Files.writeString(dir.resolve("b.txt"), "The DOG!\n")
    val out = dir.resolve("out").toString
    TextCorpus.wordCountJob(spark, Seq(s"$dir/a.txt", s"$dir/b.txt"), out)
    val lines = spark.read.textFile(out).collect().toSeq
    assert(lines.contains("the - [3]"))
    assert(lines.contains("dog - [1]"))
    assert(lines.size == 6) // the cat sat on mat dog
  }

  test("read tags rows with originating file name") {
    val dir = Files.createTempDirectory("graft_corpus2")
    Files.writeString(dir.resolve("x.txt"), "alpha beta\n")
    val rows = TextCorpus.read(spark, Seq(s"$dir/x.txt"))
      .as[(String, String)].collect()
    assert(rows.forall(_._2 == "x.txt"))
  }

  test("registry parallelism knobs do not change results") {
    val corpus = Seq(("a.txt", "x y z x"), ("b.txt", "y z"))
      .toDF("source", "text")
    val base = MapReduce.run(corpus, "map_wc", "reduce_wc")
      .as[(String, Long)].collect().toSeq
    val knobbed = MapReduce.run(corpus, "map_wc", "reduce_wc",
      mapParallelism = 5, reduceParallelism = 3)
      .as[(String, Long)].collect().toSeq
    assert(knobbed == base)
    val idBase = MapReduce.run(corpus, "map_id", "reduce_id")
      .as[(String, Map[String, Long])].collect().toSeq
    val idKnobbedDf = MapReduce.run(corpus, "map_id", "reduce_id",
      mapParallelism = 5, reduceParallelism = 3)
    assert(idKnobbedDf.as[(String, Map[String, Long])].collect().toSeq == idBase)
    // hashpartitioning(key) from the reduce knob satisfies both the
    // (key, doc) and the key grouping: no exchange between the two
    val plan = MapReduceSpec.finalPlan(idKnobbedDf)
    def grouping(keys: String*): BaseAggregateExec = collectFirst(plan) {
      case a: BaseAggregateExec if a.groupingExpressions.map(_.name) == keys => a
    }.getOrElse(fail(s"no aggregate on ${keys.mkString(", ")}\n$plan"))
    def exchangesUnder(p: SparkPlan): Int = collect(p) { case e: ShuffleExchangeExec => e }.size
    assert(exchangesUnder(grouping("key")) == exchangesUnder(grouping("key", "doc")), plan.toString)
  }

  test("read names each row by its file's real name, not the URL-encoded path") {
    val dir = Files.createTempDirectory("graft_names")
    val names = Seq("a b%c.txt", "a+b.txt", "é.txt")
    names.foreach(n => Files.writeString(dir.resolve(n), "word\n"))
    val got = TextCorpus.read(spark, names.map(n => s"$dir/$n"))
      .select("source").as[String].collect().toSet
    assert(got == names.toSet)
  }

  test("partitioned parquet sink prunes at read time") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val out = Files.createTempDirectory("graft_part").resolve("docs").toString
    TextCorpus.writePartitioned(docs, out, Seq("lang"))
    val langs = new java.io.File(out).listFiles().map(_.getName).filter(_.startsWith("lang="))
    assert(langs.length == 5, langs.mkString(","))
    val back = spark.read.parquet(out)
    assert(back.count() == docs.count())
    // partition filter prunes to one directory
    val one = back.filter(org.apache.spark.sql.functions.col("lang") === "de")
    val scanned = one.queryExecution.executedPlan.toString
    // the predicate must reach the scan as a PARTITION filter (directory
    // pruning), not a post-scan data filter
    assert(scanned.contains("PartitionFilters") && scanned.contains("(lang"), scanned.take(2000))
    assert(one.count() == docs.filter(org.apache.spark.sql.functions.col("lang") === "de").count())
  }

  test("GraftSession builds with injected SQL functions") {
    withGraftSession("local[2]", 2) { s =>
      assert(s.sql("SELECT poly_hash('x')").head().getLong(0) == 'x'.toLong)
    }
  }

  test("invertedIndexJob writes canonical postings lines") {
    val dir = Files.createTempDirectory("graft_corpus3")
    Files.writeString(dir.resolve("a.txt"), "x y\n")
    Files.writeString(dir.resolve("b.txt"), "y\n")
    val out = dir.resolve("out").toString
    TextCorpus.invertedIndexJob(spark, Seq(s"$dir/a.txt", s"$dir/b.txt"), out)
    val lines = spark.read.textFile(out).collect().toSet
    assert(lines == Set("x - [a.txt:1]", "y - [a.txt:1,b.txt:1]"))
  }

  test("jsonl and csv corpora round-trip through the document shape") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val dir = Files.createTempDirectory("graft_fmt")
    TextCorpus.writeJsonl(docs, s"$dir/j")
    val backJ = TextCorpus.readJsonl(spark, Seq(s"$dir/j"))
    assert(backJ.count() == docs.count())
    assert(backJ.exceptAll(docs).isEmpty && docs.exceptAll(backJ).isEmpty)
    docs.write.option("header", "true").option("escape", "\"").csv(s"$dir/c")
    val backC = TextCorpus.readCsv(spark, Seq(s"$dir/c"))
    assert(backC.count() == docs.count())
    assert(backC.exceptAll(docs).isEmpty && docs.exceptAll(backC).isEmpty)
    // embedded newlines/quotes must survive the round-trip as one record
    val tricky = Seq((1L, "line one\nline \"two\", quoted")).toDF("doc_id", "text")
    tricky.write.option("header", "true").option("escape", "\"").csv(s"$dir/t")
    val backT = TextCorpus.readCsv(spark, Seq(s"$dir/t"))
    assert(backT.as[(Long, String)].collect().toSeq ==
      Seq((1L, "line one\nline \"two\", quoted")))
  }

  test("JobRunner: the reference's interface.py journey end-to-end") {
    // test_config-style invocation: files, map_num, reduce_num, fns, output
    val dir = Files.createTempDirectory("graft_cli")
    Files.writeString(dir.resolve("a.txt"), "the cat sat\non the mat\n")
    Files.writeString(dir.resolve("b.txt"), "the dog\n")
    val wcOut = dir.resolve("wc").toString
    JobRunner.run(spark, Seq(s"$dir/a.txt", s"$dir/b.txt"),
      mapNum = 5, reduceNum = 3, "map_wc", "reduce_wc", wcOut)
    val wc = spark.read.textFile(wcOut).collect().toSet
    assert(wc.contains("the - [3]") && wc.contains("dog - [1]") && wc.size == 6)
    val idOut = dir.resolve("id").toString
    JobRunner.run(spark, Seq(s"$dir/a.txt", s"$dir/b.txt"),
      mapNum = 0, reduceNum = 0, "map_id", "reduce_id", idOut)
    val id = spark.read.textFile(idOut).collect().toSet
    assert(id.contains("""the - [{"a.txt":2,"b.txt":1}]"""), id.mkString("; "))
    assert(id.contains("""dog - [{"b.txt":1}]"""))
  }

  test("streaming dedup emits one row per key") {
    val stream = graft.streaming.EventsStream.dedupStream(
      graft.streaming.EventsStream.readEvents(spark, "/root/testdata/sf0.001"))
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("dedup_out")
        .groupBy("user_id", "event_type").count()
        .filter(org.apache.spark.sql.functions.col("count") > 1).count()
      assert(got == 0, "duplicate (user_id, event_type) emitted")
      assert(spark.table("dedup_out").count() > 0)
    } finally q.stop()
  }
}
