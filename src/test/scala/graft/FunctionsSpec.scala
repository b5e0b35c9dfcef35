package graft

import graft.functions.{dot_product, poly_hash}
import org.apache.spark.sql.functions._

/** The codegen'd custom expressions must be bit-identical to the
  * declarative higher-order-function folds they replace (which are in turn
  * mirrored by the DuckDB oracle's list_reduce). */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("poly_hash == interpreted char fold (ascii + unicode + empty)") {
    val df = Seq("hello world", "protégé", "", "a", "430zip 202", "x".repeat(500))
      .toDF("s")
    val got = df.select(
        poly_hash(col("s")).as("fast"),
        aggregate(split(col("s"), ""), lit(0L),
          (h, c) => (h * 31 + ascii(c)) % 1000000007L).as("slow"))
      .as[(Long, Long)].collect()
    got.foreach { case (fast, slow) => assert(fast == slow) }
  }

  test("poly_hash registered for SQL") {
    graft.functions.registerSql(spark)
    val r = spark.sql("SELECT poly_hash('hi') AS h").as[Long].head()
    assert(r == (('h'.toLong * 31 + 'i') % 1000000007L))
  }

  test("GraftExtensions injects all five functions") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.GraftExtensions().apply(ext)
    org.apache.spark.sql.graft.bridge.applyFunctionExtensions(ext, spark)
    val r = spark.sql(
      """SELECT poly_hash('hi') AS h, dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
        |size(tokenize_text('a b')) AS t, size(token_shingles('a b c d', 3)) AS s,
        |length(nfc_normalize('e\u0301')) AS n
        |""".stripMargin).as[(Long, Double, Int, Int, Int)].head()
    assert(r == ((('h'.toLong * 31 + 'i') % 1000000007L, 11.0, 2, 2, 1)))
  }

  test("nfc_normalize: composes combining sequences; identity fast path; SQL-registered") {
    import org.apache.spark.unsafe.types.UTF8String
    // composition: e + U+0301 -> \u00e9 (one codepoint), idempotent
    val dec = UTF8String.fromString("cafe\u0301 re\u0301sume\u0301")
    val composed = graft.functions.TextKernels.nfc(dec)
    assert(composed.toString == "caf\u00e9 r\u00e9sum\u00e9")
    assert(composed.numChars() == dec.numChars() - 3)
    assert(graft.functions.TextKernels.nfc(composed) eq composed,
      "already-NFC input must return the SAME object (no allocation)")
    // plain ASCII takes the identity fast path
    val ascii = UTF8String.fromString("plain ascii")
    assert(graft.functions.TextKernels.nfc(ascii) eq ascii)
    // a lone leading combining mark has nothing to compose with
    assert(graft.functions.TextKernels.nfc(UTF8String.fromString("\u0301x")).toString
      == "\u0301x")
    // column API through a real (codegen) plan, null-safe
    val df = Seq(Some("abc\u0327"), Some("xyz"), None).toDF("s")
    val out = df.select(graft.functions.nfc_normalize(col("s")).as("n"))
      .as[Option[String]].collect().toSeq
    assert(out == Seq(Some("ab\u00e7"), Some("xyz"), None))
    // SQL registration (temp-function path)
    graft.functions.registerSql(spark)
    assert(spark.sql("SELECT nfc_normalize('e\u0301') AS n").as[String].head()
      == "\u00e9")
  }

  test("nfkc_normalize: compatibility folds NFC leaves alone; identity fast path") {
    import org.apache.spark.unsafe.types.UTF8String
    def k(s: String): String =
      graft.functions.TextKernels.nfkc(UTF8String.fromString(s)).toString
    assert(k("\ufb01le") == "file")          // ligature \ufb01
    assert(k("\uff13\uff1f") == "3?")        // fullwidth digit + punctuation
    assert(k("\u216b") == "XII")             // roman numeral
    assert(k("\u339e") == "km")              // unit sign
    assert(k("\uff28\uff45\uff4c\uff4c\uff4f") == "Hello") // fullwidth letters
    assert(k("e\u0301") == "\u00e9") // canonical composition still applies
    // NFC must leave all of those ALONE \u2014 the two forms are different ops
    def c(s: String): String =
      graft.functions.TextKernels.nfc(UTF8String.fromString(s)).toString
    assert(c("\ufb01le") == "\ufb01le" && c("\uff13") == "\uff13" &&
      c("\u339e") == "\u339e")
    // already-NFKC input returns the SAME object (no allocation)
    val ascii = UTF8String.fromString("plain ascii 123")
    assert(graft.functions.TextKernels.nfkc(ascii) eq ascii)
    // SQL + extension registration
    graft.functions.registerSql(spark)
    assert(spark.sql("SELECT nfkc_normalize('\uff13\ufb01') AS n").as[String].head()
      == "3fi")
    // null-safe through a real codegen plan
    val out = Seq(Some("\uff41bc"), None).toDF("s")
      .select(graft.functions.nfkc_normalize(col("s")).as("n"))
      .as[Option[String]].collect().toSeq
    assert(out == Seq(Some("abc"), None))
  }

  test("dot_product == sequential zip_with/aggregate fold, bit-identical") {
    val df = Seq((Array(0.1, 0.2, 0.3, 1e-17), Array(3.0, 2.0, 1.0, 1.0)))
      .toDF("a", "b")
    val got = df.select(
        dot_product(col("a"), col("b")).as("fast"),
        aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0.0d),
          (acc, x) => acc + x).as("slow"))
      .as[(Double, Double)].head()
    assert(java.lang.Double.doubleToLongBits(got._1) ==
      java.lang.Double.doubleToLongBits(got._2))
  }

  test("tokenize_text kernel == declarative tokenizer spec") {
    val texts = Seq("Hello, World!", "foo — bar", "protégé.", "430zip 202",
      "foo_bar", "  a\t\tb\nc  ", "", "x", "the quick brown fox",
      "MIXED CaseAnd\fControls")
    val df = texts.toDF("text")
    val got = df.select(
        graft.functions.tokenize_text(col("text")).as("fast"),
        graft.text.Tokenize.tokensArraySpec(col("text")).as("slow"))
      .as[(Seq[String], Seq[String])].collect()
    got.zip(texts).foreach { case ((fast, slow), t) =>
      assert(fast == slow, s"mismatch on '$t'") }
  }

  test("token_shingles kernel == declarative shingle spec") {
    val texts = Seq("a b c d e", "one two", "", "x y z x y z x y z",
      "The. QUICK! brown-fox jumps")
    val df = texts.toDF("text")
    val got = df.select(
        graft.functions.token_shingles(col("text"), 3).as("fast"),
        graft.ext.Dedup.shinglesSpec(
          graft.text.Tokenize.tokensArraySpec(col("text")), 3).as("slow"))
      .as[(Seq[String], Seq[String])].collect()
    got.zip(texts).foreach { case ((fast, slow), t) =>
      assert(fast == slow, s"mismatch on '$t'") }
  }

  test("token_ngrams kernel == declarative non-distinct n-gram spec") {
    val texts = Seq("a b c d e", "x y", "", "w w w w", "One! two THREE four")
    val df = texts.toDF("text")
    val spec = {
      val toks = graft.text.Tokenize.tokensArraySpec(col("text"))
      when(size(toks) >= 2,
        transform(sequence(lit(0), size(toks) - 2),
          i => concat_ws(" ", slice(toks, i + 1, lit(2)))))
        .otherwise(array().cast("array<string>"))
    }
    val got = df.select(
        graft.functions.token_ngrams(col("text"), 2).as("fast"), spec.as("slow"))
      .as[(Seq[String], Seq[String])].collect()
    got.zip(texts).foreach { case ((fast, slow), t) =>
      assert(fast == slow, s"mismatch on '$t'") }
  }

  test("minhash_signature: codegen'd == interpreted == exploded-aggregate reference") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    import graft.ext.Dedup.P
    val rnd = new scala.util.Random(17)
    val inputs: Seq[(Long, Array[Long])] = Seq(
      0L -> Array(5L), // one element
      1L -> Array(0L),
      2L -> Array(7L, 7L, 7L, 3L, 3L), // repeated values
      3L -> Array(P - 1, P - 2, P - 1, P - 3), // values near P
      4L -> Array(P - 1),
      5L -> Array.fill(300)((rnd.nextDouble() * P).toLong))
    val ref = graft.functions.MinHashSignature(
      BoundReference(0, ArrayType(LongType, containsNull = false), nullable = true), 1)
    for (n <- Seq(1, 2, 8, 64)) {
      val expr = ref.copy(numHashes = n)
      val codegen = GenerateUnsafeProjection.generate(Seq(expr))
      val want = MinHashReference.fromBaseHashRows(
          inputs.flatMap { case (id, xs) => xs.map(x => (id, x)) }.toDF("doc_id", "bh"), n)
        .as[(Long, Seq[Long])].collect().toMap
      val viaPlan = inputs.toDF("doc_id", "bh")
        .select(col("doc_id"), graft.functions.minhash_signature(col("bh"), n))
        .as[(Long, Seq[Long])].collect().toMap
      for ((id, xs) <- inputs) {
        val row = InternalRow(ArrayData.toArrayData(xs))
        val interpreted = expr.eval(row).asInstanceOf[ArrayData].toLongArray().toSeq
        val generated = codegen(row).getArray(0).toLongArray().toSeq
        assert(interpreted.size == n)
        assert(generated == interpreted, s"codegen != interpreted for doc $id, n=$n")
        assert(interpreted == want(id), s"kernel != reference aggregate for doc $id, n=$n")
        assert(viaPlan(id) == want(id), s"whole-stage plan != reference for doc $id, n=$n")
      }
    }
    // empty array: every slot is min's identity; null input stays null
    val empty = InternalRow(ArrayData.toArrayData(Array.empty[Long]))
    assert(ref.copy(numHashes = 3).eval(empty).asInstanceOf[ArrayData].toLongArray().toSeq ==
      Seq.fill(3)(Long.MaxValue))
    assert(ref.eval(InternalRow(null)) == null)
    // SQL: registered, and rejects a non-bigint array
    graft.functions.registerSql(spark)
    assert(spark.sql("SELECT minhash_signature(array(CAST(5 AS BIGINT)), 2) AS s")
      .as[Seq[Long]].head() ==
      graft.ext.Dedup.seedFamily(2).map { case (_, a, b) => (a * 5L + b) % graft.ext.Dedup.P2 })
    intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT minhash_signature(array('x'), 2)").collect())
  }

  test("every function GraftExtensions injects resolves through registerSql on a plain session") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    def names(s: org.apache.spark.sql.SparkSession): Set[String] =
      s.sessionState.functionRegistry.listFunction().map(_.funcName).toSet
    val plain = names(spark.newSession())
    val extended = spark.newSession()
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.GraftExtensions().apply(ext)
    org.apache.spark.sql.graft.bridge.applyFunctionExtensions(ext, extended)
    val injected = names(extended) -- plain
    assert(injected.contains("minhash_signature") && injected.size >= 7, s"injected: $injected")
    val viaSql = spark.newSession()
    graft.functions.registerSql(viaSql)
    val missing = injected.filterNot(n =>
      viaSql.sessionState.functionRegistry.functionExists(FunctionIdentifier(n)))
    assert(missing.isEmpty, s"injected by GraftExtensions but not by registerSql: $missing")
  }

  test("registry rejects unknown mapper/reducer names") {
    val df = Seq(("s", "t")).toDF("source", "text")
    intercept[RuntimeException](graft.core.MapReduce.run(df, "nope", "reduce_wc"))
    intercept[RuntimeException](graft.core.MapReduce.run(df, "map_wc", "nope"))
  }

  test("expressions survive codegen in a grouped plan") {
    val df = Seq(("k1", "abc"), ("k1", "def"), ("k2", "abc")).toDF("k", "s")
    val out = df.groupBy("k").agg(min(poly_hash(col("s"))).as("m"))
      .orderBy("k").as[(String, Long)].collect().toSeq
    val h = (s: String) => s.foldLeft(0L)((a, c) => (a * 31 + c) % 1000000007L)
    assert(out == Seq(("k1", math.min(h("abc"), h("def"))), ("k2", h("abc"))))
  }
}
