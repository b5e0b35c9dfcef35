package graft.apps

import graft.text.Tokenize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Inverted index — the reference's second application (`map_id`/`reduce_id`,
  * reference `MapReduce.py:25-41`):
  * word -> {doc: count}.
  *
  * Two forms:
  *  - `flat`: (word, doc, cnt) — the oracle-checkable relational form;
  *  - `postings`: word -> MAP<doc, cnt> with postings canonically sorted by
  *    doc (the reference printed dict insertion order, which is
  *    nondeterministic; we canonicalize).
  *
  * The two-level groupBy means the wide shuffle happens on (word, doc) with
  * map-side partial counts; the second groupBy(word) only moves one row per
  * (word, doc) pair — at corpus scale this is the cheap step because
  * postings lists, not raw tokens, cross the wire.
  */
object InvertedIndex {

  /** (word, doc, cnt): per-document term frequencies, totally ordered. */
  def flat(docs: DataFrame, textCol: String = "text", docCol: String = "source"): DataFrame =
    Tokenize.tokenize(docs, textCol, docCol)
      .groupBy("word", "doc")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("word", "doc")

  /** Canonical string form of the postings map ("doc:cnt,doc:cnt" sorted
    * by doc) — the oracle-checkable rendering of the map-valued result. */
  def postingsString(docs: DataFrame, textCol: String = "text", docCol: String = "source"): DataFrame =
    Tokenize.tokenize(docs, textCol, docCol)
      .groupBy("word", "doc")
      .agg(count(lit(1)).as("cnt"))
      .groupBy("word")
      .agg(concat_ws(",",
        transform(array_sort(collect_list(struct(col("doc"), col("cnt")))),
          e => concat(e.getField("doc"), lit(":"), e.getField("cnt"))))
        .as("postings"))
      .orderBy("word")

  /** word -> MAP<doc, cnt>, postings sorted by doc name. */
  def postings(docs: DataFrame, textCol: String = "text", docCol: String = "source"): DataFrame =
    Tokenize.tokenize(docs, textCol, docCol)
      .groupBy("word", "doc")
      .agg(count(lit(1)).as("cnt"))
      .groupBy("word")
      .agg(postingsAgg(col("doc"), col("cnt")).as("postings"))
      .orderBy("word")

  /** Aggregate of one group's (doc, cnt) rows into a MAP<doc, cnt> whose
    * entries are sorted by doc. Docs must already be distinct per group. */
  def postingsAgg(doc: Column, cnt: Column): Column =
    map_from_entries(array_sort(collect_list(struct(doc, cnt))))

  /** Canonical JSON rendering of a MAP<doc, cnt> postings column:
    * entries re-sorted by doc so the string is deterministic regardless of
    * the map's internal entry order. */
  def postingsToJson(postings: Column): Column =
    to_json(map_from_entries(array_sort(map_entries(postings))))

  /** [[postings]] with the map rendered as canonical JSON (`{"doc":cnt,…}`
    * in doc order) — the hashable form of the map-valued result that any
    * engine can reproduce as a string. */
  def postingsJson(docs: DataFrame, textCol: String = "text", docCol: String = "source"): DataFrame =
    postings(docs, textCol, docCol)
      .select(col("word"), postingsToJson(col("postings")).as("postings_json"))
}
