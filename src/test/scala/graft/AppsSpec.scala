package graft

import graft.apps.{InvertedIndex, WordCount}
import graft.core.MapReduce
import org.apache.spark.sql.DataFrame

/** Mini-corpus goldens (FIXTURES.md §3.2): hand-computed word-count and
  * inverted-index expectations over 3 tiny docs, plus proof that the
  * pluggable registry reproduces the direct implementations. */
class AppsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val corpus: DataFrame = Seq(
    ("a.txt", "the cat sat on the mat"),
    ("b.txt", "the dog. The DOG!"),
    ("c.txt", "cat-alog entry_1")
  ).toDF("source", "text")

  test("word count matches hand-computed golden") {
    val got = WordCount.wordCount(corpus).as[(String, Long)].collect().toSeq
    val want = Seq("catalog" -> 1L, "cat" -> 1L, "dog" -> 2L, "entry1" -> 1L,
      "mat" -> 1L, "on" -> 1L, "sat" -> 1L, "the" -> 4L).sortBy(_._1)
    assert(got == want)
  }

  test("inverted index flat matches golden") {
    val got = InvertedIndex.flat(corpus).as[(String, String, Long)].collect().toSet
    assert(got.contains(("the", "a.txt", 2L)))
    assert(got.contains(("the", "b.txt", 2L)))
    assert(got.contains(("dog", "b.txt", 2L)))
    assert(got.contains(("catalog", "c.txt", 1L)))
    assert(got.size == 9)
  }

  test("postings map is doc-sorted and complete") {
    val got = InvertedIndex.postings(corpus)
      .as[(String, Map[String, Long])].collect().toMap
    assert(got("the") == Map("a.txt" -> 2L, "b.txt" -> 2L))
    assert(got("the").keys.toSeq == got("the").keys.toSeq.sorted)
  }

  test("registry word count == direct word count") {
    val direct = WordCount.wordCount(corpus).as[(String, Long)].collect().toSeq
    val viaReg = MapReduce.run(corpus, "map_wc", "reduce_wc")
      .as[(String, Long)].collect().toSeq
    assert(viaReg == direct)
  }

  test("registry inverted index (two native aggregates) == postings") {
    val direct = InvertedIndex.postings(corpus)
      .as[(String, Map[String, Long])].collect().toMap
    val viaReg = MapReduce.run(corpus, "map_id", "reduce_id")
      .as[(String, Map[String, Long])].collect().toMap
    assert(viaReg == direct)
  }

  test("formatted sink lines") {
    val lines = WordCount.formatted(corpus).as[String].collect().toSeq
    assert(lines.head == "cat - [1]")
    assert(lines.contains("the - [4]"))
  }

  test("word-count total equals token count (invariant)") {
    val total = WordCount.wordCount(corpus).agg(org.apache.spark.sql.functions.sum("cnt"))
      .as[Long].head()
    val tokens = graft.text.Tokenize.tokenize(corpus).count()
    assert(total == tokens)
  }
}
