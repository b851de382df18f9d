package graft.sql

import graft.expr._
import graft.table.{Dedup, Similarity}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types._

/** SQL front door: registers graft's native Catalyst expressions as SQL
  * functions, via `SparkSessionExtensions` (the engine-extension tier the
  * design brief names) or directly onto a live session.
  *
  * {{{
  *   // spark-submit --conf spark.sql.extensions=graft.sql.GraftExtensions
  *   SELECT graft_minhash(graft_shingles3(tokens), 16, 42) FROM docs
  *   // or, on an existing session:
  *   GraftFunctions.register(spark)
  * }}}
  *
  * Everything here is a thin literal-argument adapter over the expressions in
  * `graft.expr` — SQL users get the same codegen'd hot path as the Scala API.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
}

object GraftFunctions {

  private def longArg(e: Expression, what: String): Long = e match {
    case Literal(v: Long, _) => v
    case Literal(v: Int, _) => v.toLong
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def arity(name: String, args: Seq[Expression], lo: Int, hi: Int): Unit =
    if (args.size < lo || args.size > hi)
      throw new IllegalArgumentException(
        s"$name expects $lo${if (hi > lo) s"..$hi" else ""} arguments, got ${args.size}")

  // The inner expressions read array slots by exact physical type (getInt /
  // getDouble); an uncoerced DECIMAL or BIGINT array would be silently
  // reinterpreted. Every SQL entry point casts to the expected type first —
  // the same coercion the Scala wrappers apply.
  private def asIntArray(e: Expression) = Cast(e, ArrayType(IntegerType))
  private def asLongArray(e: Expression) = Cast(e, ArrayType(LongType))
  private def asDoubleArray(e: Expression) = Cast(e, ArrayType(DoubleType))
  private def asString(e: Expression) = Cast(e, StringType)

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo("graft", name, usage)

  /** (name, info, builder) for every exposed function. */
  val all: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("graft_shingles3",
      info("graft_shingles3", "graft_shingles3(tokens) - distinct 3-gram shingles of an int-token array"),
      (args: Seq[Expression]) => {
        arity("graft_shingles3", args, 1, 1)
        Shingles3(asIntArray(args.head))
      }),

    ("graft_minhash",
      info("graft_minhash", "graft_minhash(shingles, k, seed) - k-wide MinHash signature"),
      (args: Seq[Expression]) => {
        arity("graft_minhash", args, 2, 3)
        val k = longArg(args(1), "k").toInt
        val seed = if (args.size > 2) longArg(args(2), "seed") else 42L
        val coeffs = Dedup.minhashCoeffs(k, seed)
        MinHashSignature(asLongArray(args.head),
          coeffs.map(_._1).toArray, coeffs.map(_._2).toArray)
      }),

    ("graft_simhash32",
      info("graft_simhash32", "graft_simhash32(tokens, seed) - 32-bit SimHash signature"),
      (args: Seq[Expression]) => {
        arity("graft_simhash32", args, 1, 2)
        val seed = if (args.size > 1) longArg(args(1), "seed") else 42L
        val Seq((a, b)) = Dedup.minhashCoeffs(1, seed)
        SimHash32(asIntArray(args.head), a, b)
      }),

    ("graft_dot",
      info("graft_dot", "graft_dot(a, b) - dot product of two numeric arrays"),
      (args: Seq[Expression]) => {
        arity("graft_dot", args, 2, 2)
        DotProduct(asDoubleArray(args(0)), asDoubleArray(args(1)))
      }),

    ("graft_lsh_bucket",
      info("graft_lsh_bucket",
        "graft_lsh_bucket(vec, dim, numPlanes, seed) - sign-LSH bucket id"),
      (args: Seq[Expression]) => {
        arity("graft_lsh_bucket", args, 3, 4)
        val dim = longArg(args(1), "dim").toInt
        val numPlanes = longArg(args(2), "numPlanes").toInt
        val seed = if (args.size > 3) longArg(args(3), "seed") else 42L
        SignLshBucket(asDoubleArray(args.head),
          Similarity.hyperplaneSigns(numPlanes, dim, seed).flatten, numPlanes)
      }),

    ("graft_ascii_tokens",
      info("graft_ascii_tokens", "graft_ascii_tokens(text) - canonical whitespace ascii tokens"),
      (args: Seq[Expression]) => {
        arity("graft_ascii_tokens", args, 1, 1)
        AsciiTokens(asString(args.head))
      }),

    ("graft_fingerprint",
      info("graft_fingerprint", "graft_fingerprint(tokens) - rolling polynomial fingerprint"),
      (args: Seq[Expression]) => {
        arity("graft_fingerprint", args, 1, 1)
        RollingFingerprint(asIntArray(args.head))
      }),

    ("graft_bigram_buckets",
      info("graft_bigram_buckets",
        "graft_bigram_buckets(tokens, buckets) - hashed token-bigram feature buckets (DSIR featurization)"),
      (args: Seq[Expression]) => {
        arity("graft_bigram_buckets", args, 1, 2)
        val b = if (args.size > 1) longArg(args(1), "buckets").toInt else 4096
        BigramBuckets(asIntArray(args.head), b)
      }),

    ("graft_quantize",
      info("graft_quantize",
        "graft_quantize(vec, scale) - integer-grid vector quantization round(x*scale)"),
      (args: Seq[Expression]) => {
        arity("graft_quantize", args, 1, 2)
        val s = if (args.size > 1) longArg(args(1), "scale").toDouble else 1000.0
        QuantizeVec(asDoubleArray(args.head), s)
      }),

    ("graft_pii_redact",
      info("graft_pii_redact",
        "graft_pii_redact(text) - replace email/card/ssn/phone/ipv4 matches with <CATEGORY> placeholders"),
      (args: Seq[Expression]) => {
        arity("graft_pii_redact", args, 1, 1)
        graft.table.TextAnalysis.piiRedact(asString(args.head))
      }))

  /** Register onto a live session (no spark.sql.extensions conf needed). */
  def register(spark: SparkSession): Unit = {
    val registry: FunctionRegistry = spark.sessionState.functionRegistry
    all.foreach { case (name, inf, builder) =>
      registry.registerFunction(FunctionIdentifier(name), inf, builder)
    }
  }
}
