package graft

import graft.sources.TextCorpus
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, ShuffleQueryStageExec}
import org.apache.spark.sql.functions.max
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import scala.util.Random

/** The session [[GraftSession.build]] returns.
  *
  * Guard: building inside a JVM that already has a live session leaves
  * that session's SQL conf as it was (a child session carries the confs).
  *
  * Floors: a single jsonl of a few MB spreads its scan over every core,
  * a MB-size shuffle keeps its cores after AQE coalescing, and KB-size
  * inputs and shuffles still plan one partition. With Spark's defaults
  * (4 MB open cost, 1 MB coalesce floor) the 4.2 MB file plans two splits
  * of 4 MB and 24 KB, and its ~2 MB shuffle folds into 2 tasks. */
class GraftSessionSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  test("GraftSession.build leaves the live session's SQL conf unchanged") {
    val before = spark.conf.getAll
    withGraftSession("local[2]", 2) { s =>
      assert(spark.conf.getAll == before)
      assert((s ne spark) && (s.sparkContext eq spark.sparkContext))
      assert(s.conf.get("spark.sql.shuffle.partitions") == "2")
      assert(SparkSession.active eq s)
      assert(s.sql("SELECT poly_hash('x')").head().getLong(0) == 'x'.toLong)
    }
  }

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  /** One jsonl file of `docs` documents, ~520 bytes each, words drawn
    * skewed from a 1000-word vocabulary (so the text compresses about as
    * much as a real corpus in the shuffle). */
  private def jsonl(name: String, docs: Int): Path = {
    val rnd = new Random(804)
    val vocab = Array.tabulate(1000)(i => Iterator.continually(
      ('a' + rnd.nextInt(26)).toChar).take(3 + i % 9).mkString)
    val dir = Files.createTempDirectory(name)
    val lines = (0 until docs).map { id =>
      val words = Seq.fill(65)(vocab((math.pow(rnd.nextDouble(), 2) * vocab.length).toInt))
      s"""{"doc_id":$id,"text":"${words.mkString(" ")}"}"""
    }
    Files.writeString(dir.resolve("docs.jsonl"), lines.mkString("", "\n", "\n"))
  }

  private lazy val fourMb = jsonl("graft_floor_4mb", 8000)
  private lazy val fourKb = jsonl("graft_floor_4kb", 8)

  private def read(s: SparkSession, p: Path): DataFrame =
    TextCorpus.readJsonl(s, Seq(p.toString), schema = Some(schema))

  /** Rows in each scan partition. */
  private def scanRows(s: SparkSession, p: Path): Seq[Int] =
    read(s, p).queryExecution.toRdd.mapPartitions(it => Iterator(it.size)).collect().toSeq

  /** (shuffle bytes, post-coalesce partitions) of a `groupBy(doc_id)`
    * over the file's text: an ENSURE_REQUIREMENTS exchange AQE may
    * coalesce. */
  private def groupedShuffle(s: SparkSession, p: Path): (Long, Int) = {
    val grouped = read(s, p).groupBy("doc_id").agg(max("text"))
    val parts = grouped.queryExecution.toRdd.getNumPartitions
    val bytes = collect(grouped.queryExecution.executedPlan) {
      case q: ShuffleQueryStageExec => q.mapStats.get.bytesByPartitionId.sum
    }
    assert(bytes.size == 1, grouped.queryExecution.executedPlan)
    (bytes.head, parts)
  }

  test("a single 4.2 MB jsonl file plans a scan partition per core") {
    // just past 4 MiB, as perfbench's dedup input (4,218,639 bytes at seed 804)
    assert(Files.size(fourMb) > 4194304L && Files.size(fourMb) < 4400000L, Files.size(fourMb))
    withGraftSession("local[4]", 4) { s =>
      val rows = scanRows(s, fourMb)
      assert(rows.sum == 8000)
      assert(rows.size == 4, rows)
      assert(rows.max <= 0.35 * rows.sum, rows)
    }
  }

  test("a MB-size text shuffle keeps every core after AQE coalescing") {
    withGraftSession("local[4]", 4) { s =>
      val (bytes, parts) = groupedShuffle(s, fourMb)
      assert(bytes >= 1500000L && bytes <= 3000000L, s"shuffle of $bytes bytes")
      assert(parts == 4, s"$parts post-shuffle partitions for $bytes bytes")
    }
  }

  test("a 4 KB file still plans one scan partition") {
    assert(Files.size(fourKb) < 8192L, Files.size(fourKb))
    withGraftSession("local[4]", 4) { s =>
      assert(scanRows(s, fourKb) == Seq(8))
    }
  }

  test("a KB-size shuffle still coalesces to one partition") {
    withGraftSession("local[4]", 4) { s =>
      val (bytes, parts) = groupedShuffle(s, fourKb)
      assert(bytes < 65536L, s"shuffle of $bytes bytes")
      assert(parts == 1, s"$parts post-shuffle partitions for $bytes bytes")
    }
  }
}
