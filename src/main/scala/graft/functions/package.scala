package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.graft.{bridge => ExpressionUtils}

/** Column-API entry points for the engine's custom Catalyst expressions,
  * plus SQL registration for `spark.sql(...)` users. */
package object functions {

  /** Codegen'd rolling hash (see [[PolyHash]]). */
  def poly_hash(c: Column): Column =
    ExpressionUtils.column(PolyHash(ExpressionUtils.expression(c)))

  /** [[poly_hash]] with an explicit modulus. */
  def poly_hash(c: Column, modulus: Long): Column =
    ExpressionUtils.column(PolyHash(ExpressionUtils.expression(c), modulus))

  /** Codegen'd double-array dot product (see [[DotProduct]]). */
  def dot_product(a: Column, b: Column): Column =
    ExpressionUtils.column(DotProduct(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Codegen'd tokenizer (see [[TokenizeText]]). */
  def tokenize_text(c: Column): Column =
    ExpressionUtils.column(TokenizeText(ExpressionUtils.expression(c)))

  /** Codegen'd distinct k-shingles from raw text (see [[TokenShingles]]). */
  def token_shingles(c: Column, k: Int): Column =
    ExpressionUtils.column(TokenShingles(ExpressionUtils.expression(c), k))

  /** Codegen'd MinHash signature of a base-hash array (see
    * [[MinHashSignature]]). */
  def minhash_signature(baseHashes: Column, numHashes: Int): Column =
    ExpressionUtils.column(MinHashSignature(ExpressionUtils.expression(baseHashes), numHashes))

  /** Codegen'd non-distinct k-grams from raw text (see [[TokenNgrams]]). */
  def token_ngrams(c: Column, k: Int): Column =
    ExpressionUtils.column(TokenNgrams(ExpressionUtils.expression(c), k))

  /** Codegen'd Unicode NFC normalization (see [[NfcNormalize]]). */
  def nfc_normalize(c: Column): Column =
    ExpressionUtils.column(NfcNormalize(ExpressionUtils.expression(c)))

  /** Codegen'd Unicode NFKC compatibility normalization (see
    * [[NfkcNormalize]]). */
  def nfkc_normalize(c: Column): Column =
    ExpressionUtils.column(NfkcNormalize(ExpressionUtils.expression(c)))

  /** O(1) membership of a string column in a literal key set (see
    * [[InLiteralSet]]). */
  def in_literal_set(c: Column, keys: Seq[String]): Column =
    ExpressionUtils.column(InLiteralSet(ExpressionUtils.expression(c), keys))

  /** Register ALL custom functions on a session (idempotent) — must stay
    * in sync with GraftExtensions' injections. */
  def registerSql(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction(
      "poly_hash", exprs => PolyHash(exprs.head), "built-in")
    reg.createOrReplaceTempFunction(
      "dot_product", exprs => DotProduct(exprs.head, exprs(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "tokenize_text", exprs => TokenizeText(exprs.head), "built-in")
    reg.createOrReplaceTempFunction(
      "token_shingles", exprs => TokenShingles(exprs.head,
        exprs(1).eval().asInstanceOf[Number].intValue()), "built-in")
    reg.createOrReplaceTempFunction(
      "token_ngrams", exprs => TokenNgrams(exprs.head,
        exprs(1).eval().asInstanceOf[Number].intValue()), "built-in")
    reg.createOrReplaceTempFunction(
      "minhash_signature", exprs => MinHashSignature(exprs.head,
        exprs(1).eval().asInstanceOf[Number].intValue()), "built-in")
    reg.createOrReplaceTempFunction(
      "nfc_normalize", exprs => NfcNormalize(exprs.head), "built-in")
    reg.createOrReplaceTempFunction(
      "nfkc_normalize", exprs => NfkcNormalize(exprs.head), "built-in")
  }
}
