package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Front-end matching the reference's user-facing I/O: read raw UTF-8 text
  * files into the engine's document shape (reference `master.py:54-64`), and
  * write the `word - [value]` text sink (reference `KeyValueStore.py:27-32`,
  * `MapReduce.py:161-162`). The colon-separated-file-list + whole-file-read protocol of
  * the reference becomes multi-path `spark.read.text` with per-line rows
  * (equivalent under whitespace tokenization) and provenance from the
  * file-source `_metadata.file_name` column. */
object TextCorpus {

  /** Read text files (any mix of paths/globs) as (text, source) rows;
    * `source` is the originating file name (the reference's doc id).
    * `_metadata.file_name` is URL-encoded (`a b.txt` reads `a%20b.txt`),
    * so it is decoded; a literal `+` is left unencoded by the path and is
    * escaped first so the decode keeps it. */
  def read(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.text(paths: _*)
      .select(col("value").as("text"),
        url_decode(regexp_replace(col("_metadata.file_name"), "\\+", "%2B")).as("source"))

  /** Write the reference's final.txt shape: `word - [value]` lines,
    * totally ordered (the canonical fix of its nondeterministic append
    * order and final-flush bug). */
  def writeFormatted(df: DataFrame, path: String): Unit =
    df.select(format_string("%s - [%s]", col(df.columns.head),
        col(df.columns(1))).as("value"))
      .coalesce(1)
      .write.mode("overwrite").text(path)

  /** The whole reference pipeline in one call: files → word count →
    * formatted sink. */
  def wordCountJob(spark: SparkSession, inputs: Seq[String], output: String): Unit =
    writeFormatted(graft.apps.WordCount.wordCount(read(spark, inputs)), output)

  /** files → inverted index → `word - [{doc: cnt, …}]` formatted sink
    * (canonical doc-sorted rendering of the reference's id output). */
  def invertedIndexJob(spark: SparkSession, inputs: Seq[String], output: String): Unit = {
    val postings = graft.apps.InvertedIndex.postingsString(read(spark, inputs))
    writeFormatted(postings, output)
  }

  /** Read a JSONL corpus (one document object per line) into the document
    * shape. Without `schema`, `spark.read.json` runs a distributed
    * schema-inference pass over every file first — pass an explicit
    * schema for huge corpora to skip it. */
  def readJsonl(spark: SparkSession, paths: Seq[String],
                textField: String = "text", idField: String = "doc_id",
                schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val reader = schema.fold(spark.read)(s => spark.read.schema(s))
    reader.json(paths: _*)
      .select(col(idField).cast("long").as("doc_id"), col(textField).cast("string").as("text"))
  }

  /** Read a CSV corpus (header row) into the document shape. multiLine +
    * quote-escape so text containing embedded newlines/quotes (any real
    * corpus) parses as one record instead of silently splitting. */
  def readCsv(spark: SparkSession, paths: Seq[String],
              textField: String = "text", idField: String = "doc_id"): DataFrame =
    spark.read.option("header", "true")
      .option("multiLine", "true").option("escape", "\"")
      .csv(paths: _*)
      .select(col(idField).cast("long").as("doc_id"), col(textField).cast("string").as("text"))

  /** JSONL sink (one JSON object per line) — the interchange format most
    * training-data pipelines emit. */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Partitioned parquet sink: the lake-layout write (one directory per
    * partition value, pruned at read time by partition filters). */
  def writePartitioned(df: org.apache.spark.sql.DataFrame, path: String,
                       partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)
}
