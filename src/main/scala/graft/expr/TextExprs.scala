package graft.expr

import org.apache.spark.sql.{Column, GraftSql}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** A fixed word list matched byte-exactly against slices of UTF-8 text,
  * without decoding them: the words are bucketed by byte length, so a slice
  * is compared only with the words of its own length. */
final class WordSet(words: Seq[String]) extends Serializable {
  private val byLen: Array[Array[Array[Byte]]] = {
    val bytes = words.distinct.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val maxLen = if (bytes.isEmpty) -1 else bytes.map(_.length).max
    Array.tabulate(maxLen + 1)(len => bytes.filter(_.length == len).toArray)
  }

  /** Whether the `len` bytes at `base`+`at` spell one of the words. */
  def contains(base: AnyRef, at: Long, len: Int): Boolean = {
    if (len >= byLen.length) return false
    val cands = byLen(len)
    var c = 0
    while (c < cands.length) {
      val w = cands(c)
      var i = 0
      while (i < len && w(i) == Platform.getByte(base, at + i)) i += 1
      if (i == len) return true
      c += 1
    }
    false
  }
}

/** Native text/token primitives: the whitespace tokenizer that DERIVES the
  * canonical token table, stopword hit counting (language ID / quality), the
  * rolling fingerprint, and piece counting. Their HOF formulations
  * (`transform`/`filter`/`aggregate` over `split`) are CodegenFallback; one
  * of them in a projection forces the whole operator into interpreted eval.
  * Semantics match the DuckDB oracle SQL (split on single space keeps empty
  * tokens, ascii = first CODE POINT, length = code-point count, long
  * arithmetic wraps, sums left-to-right). The code-point choice is the
  * load-bearing semantic: it matches DuckDB's `ascii()`, and Spark 4.1.2's
  * `ascii()` empirically agrees (first code point, not first UTF-8 byte) —
  * the three-way agreement on non-ASCII text is pinned by NonAsciiTokenSpec
  * so any Spark behavior change surfaces as a test failure, not a silent
  * oracle divergence. */
object TextUtil {
  /** token(word) = ascii(word)·32 + min(len(word), 31) over ' '-split text. */
  def asciiTokens(text: UTF8String): ArrayData = {
    val words = text.toString.split(" ", -1)
    val out = new Array[Any](words.length)
    var i = 0
    while (i < words.length) {
      val w = words(i)
      val cp = if (w.isEmpty) 0 else w.codePointAt(0)
      val len = w.codePointCount(0, w.length)
      out(i) = cp * 32 + math.min(len, 31)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Count of ' '-split words contained in `words`; one pass over the
    * UTF-8 bytes, nothing allocated. */
  def stopwordHits(text: UTF8String, words: WordSet): Int = {
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val n = text.numBytes
    var hits = 0
    var word = 0
    var i = 0
    while (i < n) {
      if (Platform.getByte(base, off + i) == ' ') {
        if (words.contains(base, off + word, i - word)) hits += 1
        word = i + 1
      }
      i += 1
    }
    if (words.contains(base, off + word, n - word)) hits += 1
    hits
  }

  /** The Gopher rule counts of one text in one pass over its UTF-8 bytes,
    * nothing allocated but the result row: (n_words, n_chars, stop_hits,
    * symbol_hits), each equal to its Column formulation —
    * `size(split(t, " "))` (spaces + 1, empty pieces kept), `length(t)`
    * (code points, stepped exactly like `UTF8String.numChars`),
    * [[stopwordHits]], and `size(regexp_extract_all(t, "[#…]|\.\.\.", 0))`
    * (non-overlapping leftmost matches; `…` is U+2026, bytes E2 80 A6). */
  def gopherCounts(text: UTF8String, stops: WordSet): InternalRow = {
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val n = text.numBytes
    var spaces = 0
    var chars = 0
    var hits = 0
    var symbols = 0
    var word = 0     // first byte of the current ' '-delimited word
    var nextChar = 0 // first byte of the next code point
    var nextSym = 0  // first byte a symbol match may start at
    var i = 0
    while (i < n) {
      val b = Platform.getByte(base, off + i)
      if (i == nextChar) { chars += 1; nextChar = i + UTF8String.numBytesForFirstByte(b) }
      if (b == ' ') {
        spaces += 1
        if (stops.contains(base, off + word, i - word)) hits += 1
        word = i + 1
      }
      if (i >= nextSym) {
        val len =
          if (b == '#') 1
          else if (i + 2 < n && ((b == '.' && Platform.getByte(base, off + i + 1) == '.' &&
                                   Platform.getByte(base, off + i + 2) == '.') ||
                                 (b == 0xE2.toByte &&
                                   Platform.getByte(base, off + i + 1) == 0x80.toByte &&
                                   Platform.getByte(base, off + i + 2) == 0xA6.toByte))) 3
          else 0
        if (len > 0) { symbols += 1; nextSym = i + len }
      }
      i += 1
    }
    if (stops.contains(base, off + word, n - word)) hits += 1
    new GenericInternalRow(Array[Any](spaces + 1, chars, hits, symbols))
  }

  /** True when the text holds an ASCII digit `[0-9]` (what `\d` matches
    * in Java regex). */
  def hasAsciiDigit(text: UTF8String): Boolean = {
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val n = text.numBytes
    var i = 0
    while (i < n) {
      val b = Platform.getByte(base, off + i)
      if (b >= '0' && b <= '9') return true
      i += 1
    }
    false
  }

  /** k-word chunks of ' '-split text, each chunk re-joined with ' '. */
  def wordChunks(text: UTF8String, k: Int): ArrayData = {
    val words = text.toString.split(" ", -1)
    val n = (words.length + k - 1) / k
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      val from = i * k
      val until = math.min(from + k, words.length)
      val sb = new java.lang.StringBuilder()
      var j = from
      while (j < until) {
        if (j > from) sb.append(' ')
        sb.append(words(j))
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Clamp out-of-vocab token ids to `unk`; null element → null result. */
  def sanitizeTokens(tokens: ArrayData, vocab: Int, unk: Int): ArrayData = {
    val n = tokens.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (tokens.isNullAt(i)) return null
      val t = tokens.getInt(i)
      out(i) = if (t < 0 || t >= vocab) unk else t
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Count of ids outside [0, vocab); null element → null result. */
  def oovCount(tokens: ArrayData, vocab: Int): java.lang.Integer = {
    val n = tokens.numElements()
    var c = 0
    var i = 0
    while (i < n) {
      if (tokens.isNullAt(i)) return null
      val t = tokens.getInt(i)
      if (t < 0 || t >= vocab) c += 1
      i += 1
    }
    c
  }

  /** Keep-first within-array dedup of elements with ≥ minLen code points;
    * shorter (and null) elements always kept; order preserved. */
  def dedupLines(arr: ArrayData, minLen: Int): ArrayData = {
    val n = arr.numElements()
    val seen = new java.util.HashSet[String]()
    val out = new scala.collection.mutable.ArrayBuffer[Any](n)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) out += null
      else {
        val u = arr.getUTF8String(i)
        val s = u.toString
        if (s.codePointCount(0, s.length) < minLen || seen.add(s)) out += u.clone()
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  private val fpPow: Array[Long] = Array.tabulate(8)(i => math.pow(31.0, i).toLong)

  /** Σ t_i·31^(i mod 8) mod (2^31−1), long arithmetic wrapping like the
    * Column fold; null elements poison the sum to null (zip_with parity). */
  def fingerprint(tokens: ArrayData): java.lang.Long = {
    val pow = fpPow
    var acc = 0L
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (tokens.isNullAt(i)) return null
      acc += tokens.getInt(i).toLong * pow(i % 8)
      i += 1
    }
    val p = 2147483647L
    ((acc % p) + p) % p
  }

  /** xxhash64(longValue, intSalt, longSeed) exactly as Spark's XxHash64
    * expression computes it: fold from 42, hashInt for the INT literal. */
  private def sparkXxhash64(x: Long, salt: Int, seed: Long): Long = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    var h = XXH64.hashLong(x, 42L)
    h = XXH64.hashInt(salt, h)
    XXH64.hashLong(seed, h)
  }

  /** Deterministic synthetic token array for row `id` (TokenSeqs generator). */
  def synthTokens(id: Long, seed: Long, vocab: Int): ArrayData = {
    val lenHash = sparkXxhash64(id, 5, seed) & Long.MaxValue
    val len = (lenHash % 512).toInt + 1
    val out = new Array[Any](len)
    var k = 1
    while (k <= len) {
      val h = sparkXxhash64(id * 2048L + k, 6, seed) & Long.MaxValue
      out(k - 1) = (h % vocab).toInt
      k += 1
    }
    new GenericArrayData(out)
  }

  /** Count of non-empty segments after a regex split (keep-empties split,
    * then length filter — parity with size(filter(split(...), len > 0))). */
  def nonEmptySplitCount(text: UTF8String, p: java.util.regex.Pattern): Int = {
    val parts = p.split(text.toString, -1)
    var n = 0
    var i = 0
    while (i < parts.length) { if (parts(i).nonEmpty) n += 1; i += 1 }
    n
  }

  /** Fraction of bigram occurrences that are repeats: 1 − distinct/total over
    * g_i = t_i·4096 + t_{i+1} (0.0 for < 2 tokens). Grams with a null
    * endpoint are skipped (canonical token arrays are non-null). */
  def dupBigramFraction(tokens: ArrayData): Double = {
    val n = tokens.numElements()
    if (n < 2) return 0.0
    val seen = new java.util.HashSet[Long]()
    var total = 0
    var i = 0
    while (i < n - 1) {
      if (!tokens.isNullAt(i) && !tokens.isNullAt(i + 1)) {
        seen.add(tokens.getInt(i).toLong * 4096L + tokens.getInt(i + 1).toLong)
        total += 1
      }
      i += 1
    }
    if (total == 0) 0.0 else 1.0 - seen.size.toDouble / total
  }

  /** Exact bigram stats packed in one long: total gram count in the high 32
    * bits, distinct gram count in the low 32 (both fit — n_tok < 2^31). The
    * same pass as [[dupBigramFraction]] but integer-exact, so cross-engine
    * comparison needs no floating-point rounding; the ratio
    * 1 − distinct/total stays derivable downstream. */
  def dupBigramStats(tokens: ArrayData): Long = {
    val n = tokens.numElements()
    if (n < 2) return 0L
    val seen = new java.util.HashSet[Long]()
    var total = 0L
    var i = 0
    while (i < n - 1) {
      if (!tokens.isNullAt(i) && !tokens.isNullAt(i + 1)) {
        seen.add(tokens.getInt(i).toLong * 4096L + tokens.getInt(i + 1).toLong)
        total += 1
      }
      i += 1
    }
    (total << 32) | seen.size.toLong
  }

  /** Unicode NFC normalization (java.text.Normalizer). Spark has no built-in
    * normalizer function; DuckDB's is `nfc_normalize`. */
  def nfcNormalize(text: UTF8String): UTF8String = {
    val s = text.toString
    // fast path: pure-ASCII strings are NFC by definition — skip the
    // Normalizer machinery (the overwhelmingly common case in web corpora)
    var ascii = true
    var i = 0
    while (ascii && i < s.length) { if (s.charAt(i) >= 0x80) ascii = false; i += 1 }
    if (ascii) text
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }
}

/** `bigint` row id → `array<int>` synthetic token array (codegen'd) — the
  * native form of TokenSeqs.synthesize's token generator. Bit-identical to
  * the Column formulation
  * `transform(sequence(1, len), k => pmod(xxhash64(id·2048+k, 6, seed), vocab))`
  * with `len = pmod(xxhash64(id, 5, seed) & Long.Max, 512) + 1`:
  * Spark's xxhash64 folds its arguments left-to-right from seed 42, hashing
  * INT literals via hashInt and LONG values via hashLong — replicated here
  * exactly (verified by a parity test). The HOF form evaluated one
  * interpreted xxhash64 expression tree PER TOKEN (~2.5B calls per 10M-row
  * bench materialization). */
case class SynthTokens(child: Expression, seed: Long, vocab: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(v: Any): Any =
    TextUtil.synthTokens(v.asInstanceOf[Long], seed, vocab)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.TextUtil.synthTokens($c, ${seed}L, $vocab)")
  override protected def withNewChildInternal(c: Expression): SynthTokens = copy(child = c)
}

/** `string` → `array<int>` canonical ascii tokens (codegen'd). */
case class AsciiTokens(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(v: Any): Any =
    TextUtil.asciiTokens(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.TextUtil.asciiTokens($c)")
  override protected def withNewChildInternal(c: Expression): AsciiTokens = copy(child = c)
}

/** `string → array<string>` fixed-size word chunking: split on single
  * spaces, group every `k` consecutive words back into a space-joined chunk
  * (the 4-word "paragraph" segmentation the para/line dedup queries use).
  * One codegen'd pass; the HOF form (`transform(sequence, slice(split),
  * array_join)`) re-splits the text per chunk INTERPRETED — the dominant
  * cost of q_para_dedup before this expression existed. Semantics match
  * DuckDB `list_transform(range((len(words)+k-1)//k),
  * i -> array_to_string(words[i*k+1:i*k+k], ' '))`. */
case class WordChunks(child: Expression, k: Int) extends UnaryExpression {
  require(k > 0, "chunk size must be positive")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(v: Any): Any =
    TextUtil.wordChunks(v.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.TextUtil.wordChunks($c, $k)")
  override protected def withNewChildInternal(c: Expression): WordChunks = copy(child = c)
}

/** `array<int> → array<int>` token sanitization: every id outside
  * [0, vocab) becomes `unk` — the guard a pre-tokenized pipeline runs before
  * training when upstream tokenizers disagree on vocab bounds (a single
  * out-of-range id crashes an embedding lookup at step N of a 10^5-step
  * run). One codegen'd pass; null elements poison to null (a null token is a
  * schema violation, not an OOV). */
case class SanitizeTokens(child: Expression, vocab: Int, unk: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true // null elements poison to null
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(v: Any): Any =
    TextUtil.sanitizeTokens(v.asInstanceOf[ArrayData], vocab, unk)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("sanRes")
      s"""org.apache.spark.sql.catalyst.util.ArrayData $tmp =
         |  graft.expr.TextUtil.sanitizeTokens($c, $vocab, $unk);
         |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp; }
         |""".stripMargin
    })
  override protected def withNewChildInternal(c: Expression): SanitizeTokens =
    copy(child = c)
}

/** `array<int> → int` count of out-of-vocab ids (see SanitizeTokens). */
case class OovCount(child: Expression, vocab: Int) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true // null elements poison to null
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(v: Any): Any =
    TextUtil.oovCount(v.asInstanceOf[ArrayData], vocab)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("oovRes")
      s"""java.lang.Integer $tmp = graft.expr.TextUtil.oovCount($c, $vocab);
         |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp; }
         |""".stripMargin
    })
  override protected def withNewChildInternal(c: Expression): OovCount = copy(child = c)
}

/** `array<string> → array<string>` within-document line/paragraph dedup
  * (the C4 rule of Raffel et al. 2020 §2.2 at line granularity): keep the
  * FIRST occurrence of each element of at least `minLen` code points; keep
  * every shorter element unconditionally (short separators/bullets are not
  * boilerplate evidence). Order is preserved. Codegen'd one-pass hash-set
  * scan per document — the HOF formulation (`filter` with `array_position`)
  * is both interpreted and O(n²). Null elements are kept as-is (they carry
  * no dedup evidence); semantics match the DuckDB indexed `list_filter`
  * oracle. */
case class DedupLines(child: Expression, minLen: Int) extends UnaryExpression {
  override def dataType: DataType = child.dataType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(v: Any): Any =
    TextUtil.dedupLines(v.asInstanceOf[ArrayData], minLen)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.TextUtil.dedupLines($c, $minLen)")
  override protected def withNewChildInternal(c: Expression): DedupLines = copy(child = c)
}

/** `string` → `int` stopword hit count (codegen'd); the word set rides along
  * as a reference object. */
case class StopwordHits(child: Expression, words: Seq[String]) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  @transient private lazy val set = new WordSet(words)
  override protected def nullSafeEval(v: Any): Any =
    TextUtil.stopwordHits(v.asInstanceOf[UTF8String], set)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stopwordSet", set, "graft.expr.WordSet")
    defineCodeGen(ctx, ev, c => s"graft.expr.TextUtil.stopwordHits($c, $ref)")
  }
  override protected def withNewChildInternal(c: Expression): StopwordHits = copy(child = c)
}

/** `string` → `struct<n_words, n_chars, stop_hits, symbol_hits: int>`, the
  * Gopher quality rule counts in one codegen'd byte scan
  * ([[TextUtil.gopherCounts]]). A null text gives what the Column
  * formulation gives: n_words and symbol_hits are `size(null)` (-1 under
  * `legacySizeOfNull`, else null), n_chars and stop_hits are null; the
  * struct itself is never null. */
case class GopherCounts(child: Expression, stops: Seq[String], legacySizeOfNull: Boolean)
    extends UnaryExpression {
  def this(child: Expression, stops: Seq[String]) =
    this(child, stops, SQLConf.get.legacySizeOfNull)
  override def dataType: DataType = {
    val sizeNullable = !legacySizeOfNull && child.nullable
    StructType(Seq(
      StructField("n_words", IntegerType, sizeNullable),
      StructField("n_chars", IntegerType, child.nullable),
      StructField("stop_hits", IntegerType, child.nullable),
      StructField("symbol_hits", IntegerType, sizeNullable)))
  }
  override def nullable: Boolean = false
  @transient private lazy val set = new WordSet(stops)
  @transient private lazy val onNull: InternalRow = {
    val size = if (legacySizeOfNull) -1 else null
    new GenericInternalRow(Array[Any](size, null, null, size))
  }
  override def eval(input: InternalRow): Any = child.eval(input) match {
    case null => onNull
    case v => TextUtil.gopherCounts(v.asInstanceOf[UTF8String], set)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val setRef = ctx.addReferenceObj("gopherStops", set, "graft.expr.WordSet")
    val nullRef = ctx.addReferenceObj("gopherOnNull", onNull,
      "org.apache.spark.sql.catalyst.InternalRow")
    ev.copy(code = code"""
      |${c.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} = ${c.isNull} ? $nullRef
      |  : graft.expr.TextUtil.gopherCounts(${c.value}, $setRef);
      |""".stripMargin, isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(c: Expression): GopherCounts = copy(child = c)
}

/** `string` → `boolean`: does the text hold an ASCII digit (codegen'd). */
case class HasAsciiDigit(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(v: Any): Any =
    TextUtil.hasAsciiDigit(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.TextUtil.hasAsciiDigit($c)")
  override protected def withNewChildInternal(c: Expression): HasAsciiDigit = copy(child = c)
}

/** `array<int>` → `bigint` rolling-hash fingerprint (codegen'd). */
case class RollingFingerprint(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(v: Any): Any =
    TextUtil.fingerprint(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("fpRes")
      s"""java.lang.Long $tmp = graft.expr.TextUtil.fingerprint($c);
         |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp; }
         |""".stripMargin
    })
  override protected def withNewChildInternal(c: Expression): RollingFingerprint =
    copy(child = c)
}

/** `string` → `int` count of non-empty regex-split segments (codegen'd). */
case class NonEmptySplitCount(child: Expression, regex: String) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  @transient private lazy val pattern = java.util.regex.Pattern.compile(regex)
  override protected def nullSafeEval(v: Any): Any =
    TextUtil.nonEmptySplitCount(v.asInstanceOf[UTF8String], pattern)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("splitPattern", pattern, "java.util.regex.Pattern")
    defineCodeGen(ctx, ev, c => s"graft.expr.TextUtil.nonEmptySplitCount($c, $ref)")
  }
  override protected def withNewChildInternal(c: Expression): NonEmptySplitCount =
    copy(child = c)
}

/** `array<int>` → `double` duplicate-bigram fraction (codegen'd) — the
  * Gopher-style within-document repetition signal (fraction of duplicate
  * word n-grams; Rae et al. 2021 use it as a quality filter). */
case class DupBigramFraction(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(v: Any): Any =
    TextUtil.dupBigramFraction(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.TextUtil.dupBigramFraction($c)")
  override protected def withNewChildInternal(c: Expression): DupBigramFraction =
    copy(child = c)
}

/** `array<int>` → packed long: (total bigrams << 32) | distinct bigrams.
  * Integer-exact companion of [[DupBigramFraction]] for oracle comparison. */
case class DupBigramStats(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(v: Any): Any =
    TextUtil.dupBigramStats(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.TextUtil.dupBigramStats($c)")
  override protected def withNewChildInternal(c: Expression): DupBigramStats =
    copy(child = c)
}

/** `string` → `string` Unicode NFC normalization (codegen'd). */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(v: Any): Any =
    TextUtil.nfcNormalize(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.TextUtil.nfcNormalize($c)")
  override protected def withNewChildInternal(c: Expression): NfcNormalize =
    copy(child = c)
}

object TextExprs {
  def asciiTokens(text: Column): Column =
    GraftSql.toColumn(AsciiTokens(GraftSql.toExpression(text)))
  def stopwordHits(text: Column, words: Seq[String]): Column =
    GraftSql.toColumn(StopwordHits(GraftSql.toExpression(text), words))
  def gopherCounts(text: Column, stops: Seq[String]): Column =
    GraftSql.toColumn(new GopherCounts(GraftSql.toExpression(text), stops))
  def hasAsciiDigit(text: Column): Column =
    GraftSql.toColumn(HasAsciiDigit(GraftSql.toExpression(text)))
  def fingerprint(tokens: Column): Column =
    GraftSql.toColumn(RollingFingerprint(GraftSql.toExpression(tokens.cast("array<int>"))))
  def nonEmptySplitCount(text: Column, regex: String): Column =
    GraftSql.toColumn(NonEmptySplitCount(GraftSql.toExpression(text), regex))
  def synthTokens(id: Column, seed: Long, vocab: Int): Column =
    GraftSql.toColumn(SynthTokens(GraftSql.toExpression(id.cast("long")), seed, vocab))
  def dupBigramFraction(tokens: Column): Column =
    GraftSql.toColumn(DupBigramFraction(GraftSql.toExpression(tokens.cast("array<int>"))))
  def dupBigramStats(tokens: Column): Column =
    GraftSql.toColumn(DupBigramStats(GraftSql.toExpression(tokens.cast("array<int>"))))
  def nfcNormalize(text: Column): Column =
    GraftSql.toColumn(NfcNormalize(GraftSql.toExpression(text)))
  def dedupLines(paras: Column, minLen: Int): Column =
    GraftSql.toColumn(DedupLines(GraftSql.toExpression(paras.cast("array<string>")), minLen))
  def wordChunks(text: Column, k: Int): Column =
    GraftSql.toColumn(WordChunks(GraftSql.toExpression(text), k))
  def sanitizeTokens(tokens: Column, vocab: Int, unk: Int): Column =
    GraftSql.toColumn(SanitizeTokens(GraftSql.toExpression(tokens.cast("array<int>")), vocab, unk))
  def oovCount(tokens: Column, vocab: Int): Column =
    GraftSql.toColumn(OovCount(GraftSql.toExpression(tokens.cast("array<int>")), vocab))
}
