package graft

import org.apache.spark.sql.types._

/** Registry-wide guards over EVERY `SparkEntry.queries` entry,
  * constructed (not executed) at sf0.001: output schemas, and no
  * persistent table left behind in the session catalog.
  *
  * The load-bearing one: no query may OUTPUT a precision-38 decimal
  * column. Round 11/12 proved the correctness harness cannot
  * canonicalize parquet decimal128(38,0) against DuckDB's HUGEINT
  * rendering — `text_nb_auc`/`text_nb_kappa` stayed hash-red for two
  * rounds with bit-identical values in replica. DECIMAL(38,0) interior
  * math is fine (and needed: wide-integer products overflow longs at
  * 100-TB counts); the rule is render-as-string at the output boundary.
  */
class RegistryGuardSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def decimals(dt: DataType): Seq[DecimalType] = dt match {
    case d: DecimalType => Seq(d)
    case s: StructType => s.fields.toSeq.flatMap(f => decimals(f.dataType))
    case a: ArrayType => decimals(a.elementType)
    case m: MapType => decimals(m.keyType) ++ decimals(m.valueType)
    case _ => Nil
  }

  private def persistentTables(): Set[String] =
    spark.catalog.listTables("default").collect()
      .filterNot(_.isTemporary).map(_.name).toSet

  /** Every entry constructed once, in name order: (persistent tables
    * before, output schemas, persistent tables after). */
  private lazy val built = {
    val before = persistentTables()
    val schemas = SparkEntry.queries.toSeq.sortBy(_._1)
      .map { case (name, fn) => name -> fn(spark, sf).schema }
    (before, schemas, persistentTables())
  }

  test("no query outputs a precision-38 decimal column") {
    val bad = built._2.flatMap { case (name, schema) =>
      schema.fields
        .flatMap(f => decimals(f.dataType).filter(_.precision >= 38)
          .map(d => s"$name.${f.name}: $d"))
    }
    assert(bad.isEmpty, s"precision-38 decimal output columns: $bad")
  }

  test("constructing every query registers no persistent catalog table") {
    // a query's side tables belong in its own lake warehouse; one left in
    // the session catalog outlives the query and piles up per call
    val (before, _, after) = built
    assert(after -- before == Set.empty[String],
      s"persistent tables left in the session catalog: ${after -- before}")
  }

  test("every query has an oracle or is a documented rows-only sketch") {
    // the only queries allowed to skip the DuckDB oracle are Spark's
    // built-in approximate sketches (each has a hash-graded contract twin)
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(rowsOnly == Set("q_approx_distinct", "q_approx_quantile",
      "text_cms_counts"), s"unexpected rows-only queries: $rowsOnly")
    // and no orphan oracle entries
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }
}
