package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass text kernels, shared by interpreted eval and generated code
  * (Scala object methods are static-callable from Janino codegen).
  *
  * Semantics are EXACTLY the engine's declarative tokenizer (see
  * graft.text.Tokenize): split on Java-regex `\s+` whitespace, drop
  * split-empties, lowercase, delete every non-letter/digit codepoint
  * (`[^\p{L}\p{N}]+`), KEEP tokens that normalize to "". The equivalence
  * is pinned by FunctionsSpec against the higher-order-function
  * formulation, which in turn is what the DuckDB oracle mirrors.
  */
object TextKernels {

  /** Java regex \s — the 6 ASCII whitespace chars. */
  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** \p{N}: Nd, Nl, No. */
  @inline private def isNumberCat(cp: Int): Boolean = {
    val t = Character.getType(cp)
    t == Character.DECIMAL_DIGIT_NUMBER || t == Character.LETTER_NUMBER ||
      t == Character.OTHER_NUMBER
  }

  /** Normalize one raw token: lowercase (same String-level mapping Spark's
    * `lower` uses), then keep only \p{L}\p{N} codepoints. */
  private def normalize(tok: String): String = {
    val lower = tok.toLowerCase
    val sb = new java.lang.StringBuilder(lower.length)
    var i = 0
    while (i < lower.length) {
      val cp = lower.codePointAt(i)
      if (Character.isLetter(cp) || isNumberCat(cp)) sb.appendCodePoint(cp)
      i += Character.charCount(cp)
    }
    sb.toString
  }

  private def tokenListGeneric(s: String): java.util.ArrayList[String] = {
    val out = new java.util.ArrayList[String]()
    val n = s.length
    var i = 0
    var start = -1
    while (i <= n) {
      val ws = i == n || isWs(s.charAt(i))
      if (ws) {
        if (start >= 0) { out.add(normalize(s.substring(start, i))); start = -1 }
      } else if (start < 0) start = i
      i += 1
    }
    out
  }

  /** ASCII fast path: tokenize straight off the UTF-8 bytes — no String
    * decode, no codepoint walk. Applicable iff every byte is ASCII
    * (0x00-0x7F), where lowercase is +32 on A-Z and the keep-set is
    * [a-z0-9]; semantics identical to the generic path (pinned by
    * FunctionsSpec on mixed corpora). */
  private def tokenListAscii(bytes: Array[Byte]): java.util.ArrayList[String] = {
    val out = new java.util.ArrayList[String]()
    val n = bytes.length
    val buf = new Array[Byte](n)
    var bl = 0
    var inTok = false
    var i = 0
    while (i <= n) {
      val c: Int = if (i == n) ' ' else bytes(i) & 0xFF
      val ws = c == ' ' || c == '\t' || c == '\n' || c == 0x0B || c == '\f' || c == '\r'
      if (ws) {
        if (inTok) {
          out.add(new String(buf, 0, bl, java.nio.charset.StandardCharsets.US_ASCII))
          bl = 0; inTok = false
        }
      } else {
        inTok = true
        val lc = if (c >= 'A' && c <= 'Z') c + 32 else c
        if ((lc >= 'a' && lc <= 'z') || (lc >= '0' && lc <= '9')) {
          buf(bl) = lc.toByte; bl += 1
        }
      }
      i += 1
    }
    out
  }

  private def isAllAscii(bytes: Array[Byte]): Boolean = {
    var i = 0
    while (i < bytes.length) { if (bytes(i) < 0) return false; i += 1 }
    true
  }

  private def tokenListU(u: UTF8String): java.util.ArrayList[String] = {
    val bytes = u.getBytes
    if (isAllAscii(bytes)) tokenListAscii(bytes) else tokenListGeneric(u.toString)
  }

  /** text -> array<string> of normalized tokens. */
  def tokenize(u: UTF8String): ArrayData = {
    val toks = tokenListU(u)
    val arr = new Array[Any](toks.size)
    var i = 0
    while (i < toks.size) { arr(i) = UTF8String.fromString(toks.get(i)); i += 1 }
    new GenericArrayData(arr)
  }

  /** text -> ALL k-token n-grams in order (non-distinct — frequency
    * counting wants every occurrence; dedup shingling wants [[shingles]]).
    * Documents shorter than k yield no n-grams. */
  def ngrams(u: UTF8String, k: Int): ArrayData = {
    val toks = tokenListU(u)
    if (toks.size < k) return new GenericArrayData(new Array[Any](0))
    val arr = new Array[Any](toks.size - k + 1)
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i + k <= toks.size) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks.get(i + j))
        j += 1
      }
      arr(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(arr)
  }

  /** NFC canonical normalization; identity (no allocation, input
    * returned as-is) when already normalized. */
  def nfc(u: UTF8String): UTF8String = {
    val s = u.toString
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) u
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }

  /** NFKC compatibility normalization; same identity fast path. */
  def nfkc(u: UTF8String): UTF8String = {
    val s = u.toString
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFKC)) u
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFKC))
  }

  /** text -> distinct k-token shingles (first-occurrence order); documents
    * shorter than k collapse to one whole-text shingle. */
  def shingles(u: UTF8String, k: Int): ArrayData = {
    val toks = tokenListU(u)
    val seen = new java.util.LinkedHashSet[String]()
    if (toks.size < k) {
      seen.add(String.join(" ", toks))
    } else {
      val sb = new java.lang.StringBuilder()
      var i = 0
      while (i + k <= toks.size) {
        sb.setLength(0)
        var j = 0
        while (j < k) {
          if (j > 0) sb.append(' ')
          sb.append(toks.get(i + j))
          j += 1
        }
        seen.add(sb.toString)
        i += 1
      }
    }
    val arr = new Array[Any](seen.size)
    val it = seen.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = UTF8String.fromString(it.next()); i += 1 }
    new GenericArrayData(arr)
  }

  /** Signature-hash modulus of the MinHash seed family (prime, < 2^31). */
  val MinHashP2: Long = 2038074743L

  /** Multiplier a_i and offset b_i of the i-th MinHash seed:
    * h_i(x) = (a_i·x + b_i) mod P2, a_i = 2i+1, b_i = 314159·(i+1) mod P2. */
  def minhashA(i: Int): Long = 2L * i + 1
  def minhashB(i: Int): Long = (314159L * (i + 1)) % MinHashP2

  /** base hashes -> MinHash signature: slot i holds the min over the
    * array's non-null x of h_i(x), in one pass over the array. Defined for
    * x in [0, 2^31) (callers pass `pmod(hash, P)`), where a_i·x + b_i
    * cannot overflow for any plausible numHashes; a slot nothing reached
    * (empty array) holds Long.MaxValue, the identity of min. */
  def minhashSignature(xs: ArrayData, numHashes: Int): ArrayData = {
    val a = new Array[Long](numHashes)
    val b = new Array[Long](numHashes)
    val mins = new Array[Long](numHashes)
    var i = 0
    while (i < numHashes) {
      a(i) = minhashA(i); b(i) = minhashB(i); mins(i) = Long.MaxValue
      i += 1
    }
    val n = xs.numElements()
    var j = 0
    while (j < n) {
      if (!xs.isNullAt(j)) {
        val x = xs.getLong(j)
        i = 0
        while (i < numHashes) {
          val h = (a(i) * x + b(i)) % MinHashP2
          if (h < mins(i)) mins(i) = h
          i += 1
        }
      }
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }
}

/** Column expression: Unicode NFC canonical normalization of a string.
  * Combining sequences compose to their precomposed forms (e +
  * U+0301 -> é); already-normalized text — the overwhelming bulk of a
  * real crawl — takes the allocation-free `isNormalized` fast path and
  * returns the INPUT UTF8String unchanged. Canonical (NFC), not
  * compatibility (NFKC): ligatures and width variants pass through.
  * Needed because differently-encoded but canonically-equal strings
  * break exact dedup, token counts and equi-joins; there is no Spark
  * built-in for it. */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.nfc(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.nfc($c)")
  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

/** Column expression: Unicode NFKC COMPATIBILITY normalization — what
  * NFC deliberately leaves alone: ligatures decompose (U+FB01 -> "fi"),
  * fullwidth/halfwidth forms fold to ASCII (the CJK-adjacent web's
  * punctuation and digits), roman numerals and unit signs expand
  * (U+216B -> "XII", U+339E -> "km"), and canonical composition still
  * applies. THE text-cleanup pass of multilingual training pipelines —
  * fullwidth "３" and ASCII "3" must be one token. Same allocation-free
  * fast path as NFC for already-normalized (ASCII-dominant) text. */
case class NfkcNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.nfkc(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.nfkc($c)")
  override protected def withNewChildInternal(newChild: Expression): NfkcNormalize =
    copy(child = newChild)
}

/** Column expression: tokenize(text) — the codegen fast path of
  * graft.text.Tokenize.tokensArray. */
case class TokenizeText(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.tokenize(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.tokenize($c)")
  override protected def withNewChildInternal(newChild: Expression): TokenizeText =
    copy(child = newChild)
}

/** Column expression: all k-token n-grams (non-distinct) from text. */
case class TokenNgrams(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.ngrams(input.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.ngrams($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): TokenNgrams =
    copy(child = newChild)
}

/** Column expression: the MinHash signature of one document's base-hash
  * array (see [[TextKernels.minhashSignature]]) — the H-slot min that an
  * aggregate over one row per shingle would compute, folded in one loop
  * over the row's own array, so shingles never become rows. */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression {
  require(numHashes > 0, s"numHashes must be positive, got $numHashes")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash_signature expects array<bigint>, got ${t.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.minhashSignature(input.asInstanceOf[ArrayData], numHashes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextKernels.minhashSignature($c, $numHashes)")
  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/** Column expression: distinct k-token shingles straight from text (one
  * pass, no intermediate token array churn). */
case class TokenShingles(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.shingles(input.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.shingles($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): TokenShingles =
    copy(child = newChild)
}
