package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.concurrent.TrieMap

/** Generalized map/shuffle/reduce combinator — the idiomatic Spark analogue
  * of the reference's string-keyed `MAPPER_FUNCTIONS` / `REDUCER_FUNCTIONS`
  * registries (survey of `MapReduce.py:51-52`).
  *
  * A *mapper* turns an input DataFrame into `(key: string, value columns…)`
  * rows (the reference's `map_fn(k, v) -> [word, [doc, 1]]`). A *reducer*
  * turns those rows into one row per `key` (the reference's streaming
  * `reduce_fn` over a sorted run — Catalyst picks hash aggregation with a
  * map-side partial; semantics identical, and the shuffle is a distributed
  * hash exchange rather than the reference's single-node centralized
  * partition step).
  *
  * Because both sides are declarative DataFrame transforms, jobs composed
  * through the registry still get whole-stage codegen, partial aggregation
  * and AQE — there is no opaque lambda in the hot path.
  */
object MapReduce {

  /** Emits (key, …value columns) rows from the input. */
  final case class Mapper(apply: DataFrame => DataFrame)

  /** Reduces the mapper's (key, …value columns) frame to one row per `key`.
    * It may group more than once (e.g. on (key, doc) first, then on key),
    * so each level keeps its own map-side partial aggregate. */
  final case class Reducer(apply: DataFrame => DataFrame)

  private val mappers  = TrieMap.empty[String, Mapper]
  private val reducers = TrieMap.empty[String, Reducer]

  def registerMapper(name: String, m: Mapper): Unit  = mappers.put(name, m)
  def registerReducer(name: String, r: Reducer): Unit = reducers.put(name, r)
  def mapperNames: Set[String]  = mappers.keySet.toSet
  def reducerNames: Set[String] = reducers.keySet.toSet

  /** Run a registered (mapper, reducer) pair — the analogue of
    * `GET /run_mapred/<files>/<map_num>/<reducers>/<map_fn>/<reduce_fn>`.
    * Key column must be named `key` in the mapper output.
    *
    * `mapParallelism`/`reduceParallelism` mirror the reference's
    * map_num/reduce_num knobs: map-side input splits and reduce-side
    * shuffle partitions (a hash repartition on `key` before the reducer,
    * which every grouping that includes `key` reuses). 0 (default) leaves
    * both to Catalyst/AQE, which is the right call except in benchmarking
    * experiments. */
  def run(input: DataFrame, mapFn: String, reduceFn: String,
          mapParallelism: Int = 0, reduceParallelism: Int = 0): DataFrame = {
    val m = mappers.getOrElse(mapFn, sys.error(s"unknown mapper: $mapFn"))
    val r = reducers.getOrElse(reduceFn, sys.error(s"unknown reducer: $reduceFn"))
    val in = if (mapParallelism > 0) input.repartition(mapParallelism) else input
    val mapped = m.apply(in)
    val shuffled =
      if (reduceParallelism > 0) mapped.repartition(reduceParallelism, col("key"))
      else mapped
    r.apply(shuffled).orderBy("key")
  }

  // ---- the reference's two shipped applications, expressed on the registry

  import graft.apps.InvertedIndex
  import graft.text.Tokenize

  /** map_wc / map_id: tokenize, tag with provenance, constant 1. */
  private val tokenizeMapper = Mapper { docs =>
    Tokenize.tokenize(docs)
      .select(col("word").as("key"), col("doc"), lit(1L).as("cnt"))
  }

  registerMapper("map_wc", tokenizeMapper)
  registerMapper("map_id", tokenizeMapper)

  /** reduce_wc: total count per word (doc ignored). */
  registerReducer("reduce_wc", Reducer(
    _.groupBy("key").agg(sum(col("cnt")).as("cnt"))))

  /** reduce_id: {doc: count} postings map per word, canonically doc-sorted.
    * Two native aggregates: summing `cnt` per (key, doc) is a codegen'd hash
    * aggregate over the token rows, so only one row per (word, doc) pair
    * reaches the postings collect on `key`. */
  registerReducer("reduce_id", Reducer(
    _.groupBy("key", "doc").agg(sum(col("cnt")).as("cnt"))
      .groupBy("key").agg(InvertedIndex.postingsAgg(col("doc"), col("cnt")).as("postings"))))

  /** reduce_id_flat: (key, doc, cnt) — oracle-checkable flattened postings.
    * It returns one row per (key, doc), not per key, so it is not a
    * [[Reducer]]: use `runFlat`. */
  def runFlat(input: DataFrame, mapFn: String): DataFrame = {
    val m = mappers.getOrElse(mapFn, sys.error(s"unknown mapper: $mapFn"))
    m.apply(input)
      .groupBy("key", "doc").agg(sum(col("cnt")).as("cnt"))
      .orderBy("key", "doc")
  }
}
