package graft

import graft.functions.{DotProduct, MinHashSignature, NfcNormalize, NfkcNormalize, PolyHash, TokenShingles, TokenizeText}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Production registration point for the engine's custom Catalyst
  * expressions:
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * // or
  * SparkSession.builder().withExtensions(new GraftExtensions) ...
  * }}}
  *
  * After which `poly_hash`, `dot_product`, `tokenize_text`,
  * `token_shingles(text, k)`, `minhash_signature(hashes, n)`,
  * `nfc_normalize` and `nfkc_normalize` resolve in SQL on every session
  * of the application (the per-session alternative is
  * [[graft.functions.registerSql]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def fn(name: String, clazz: Class[_], builder: Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(clazz.getName, name), builder)

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction(fn("poly_hash", classOf[PolyHash], exprs => PolyHash(exprs.head)))
    e.injectFunction(fn("dot_product", classOf[DotProduct],
      exprs => DotProduct(exprs.head, exprs(1))))
    e.injectFunction(fn("tokenize_text", classOf[TokenizeText],
      exprs => TokenizeText(exprs.head)))
    e.injectFunction(fn("token_shingles", classOf[TokenShingles], exprs =>
      TokenShingles(exprs.head,
        exprs(1).eval().asInstanceOf[Number].intValue())))
    e.injectFunction(fn("minhash_signature", classOf[MinHashSignature], exprs =>
      MinHashSignature(exprs.head,
        exprs(1).eval().asInstanceOf[Number].intValue())))
    e.injectFunction(fn("nfc_normalize", classOf[NfcNormalize],
      exprs => NfcNormalize(exprs.head)))
    e.injectFunction(fn("nfkc_normalize", classOf[NfkcNormalize],
      exprs => NfkcNormalize(exprs.head)))
  }
}
