package perfbench

import graft.expr.TextExprs
import graft.table.{Curation, Decontamination, Dedup, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.util.SplittableRandom

final case class GenDoc(doc_id: Long, text: String, lang: String, kind: String)

/** Seeded corpus for `curate`, with designed fractions of the rows each
  * curation stage removes.
  *
  * Kinds: `original` (kept), `foreign` (de/fr, dropped by the language
  * stage), `exact` (verbatim copy of an earlier original, dropped by exact
  * dedup), `near` (an earlier original with words swapped for other words
  * of the same first letter and length; the texts differ but the token
  * sequences, and so all shingles, are equal, so MinHash-LSH finds the pair
  * for certain and fuzzy dedup drops it) and `leak` (contains a 12-word
  * passage of a benchmark doc, dropped by decontamination). Every doc passes
  * the quality rules: 60-120 words of 3-10 letters, a stopword, no symbols.
  *
  * Corpus words start with a-p (plus "the"); benchmark words start with u-z.
  * A token is (first letter, length), so a doc shares shingles with the
  * benchmark only if it carries a passage of it. Word frequencies follow a
  * Zipf law over an 8192-word vocabulary. */
final class DocsGen(seed: Long) extends Serializable {
  private val Letters = 'a' to 'p'
  private val Lengths = 3 to 10
  private val PerBucket = 64
  private val BenchWords = 40
  private val Passage = 12
  val BenchDocs = 200

  private def rng(salt: Long, i: Long) =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt * 0xBF58476D1CE4E5B9L + i)

  private def word(r: SplittableRandom, first: Char, len: Int): String =
    first.toString + Iterator.fill(len - 1)(('a' + r.nextInt(26)).toChar).mkString

  /** buckets(b) holds PerBucket distinct words of one (letter, length). */
  private val buckets: Array[Array[String]] = {
    val r = rng(1, 0)
    (for (l <- Letters; n <- Lengths) yield {
      val ws = scala.collection.mutable.LinkedHashSet.empty[String]
      while (ws.size < PerBucket) ws += word(r, l, n)
      ws.toArray
    }).toArray
  }
  /** Vocabulary order for the Zipf ranks: word v = buckets(v % B)(v / B). */
  private val zipfCdf: Array[Double] = {
    val w = (1 to buckets.length * PerBucket).map(k => 1.0 / k)
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  private def zipfWord(r: SplittableRandom): (Int, Int) = {
    val v = java.util.Arrays.binarySearch(zipfCdf, r.nextDouble()) match {
      case k if k >= 0 => k
      case k => math.min(-k - 1, zipfCdf.length - 1)
    }
    (v % buckets.length, v / buckets.length)
  }

  /** Kind decided by a doc's first draw; copies resolve their source below. */
  private def firstKind(i: Long): String = {
    val u = rng(2, i).nextDouble()
    if (u < 0.10) "foreign" else if (u < 0.18) "exact" else if (u < 0.26) "near"
    else if (u < 0.30) "leak" else "original"
  }

  /** Word slots of doc i: (bucket, index) pairs, or (-1, 0) for "the". */
  private def slots(i: Long): Array[(Int, Int)] = {
    val r = rng(3, i)
    val n = 60 + r.nextInt(61)
    Array.tabulate(n) { k =>
      if (k == 0 || (k > 1 && r.nextDouble() < 0.06)) (-1, 0) else zipfWord(r)
    }
  }
  private def render(s: Array[(Int, Int)]): Seq[String] =
    s.toSeq.map { case (b, k) => if (b < 0) "the" else buckets(b)(k) }

  def benchText(b: Int): Seq[String] = {
    val r = rng(4, b)
    (0 until BenchWords).map { k =>
      word(r, ('u' + (k + b) % 6).toChar, 3 + (k / 6 + b) % 8)
    }
  }

  def doc(i: Long): GenDoc = {
    val r = rng(5, i)
    val lang = if (r.nextDouble() < 0.7) "en" else "es"
    // copies take the nearest earlier original within 50 ids as their source
    def source: Option[Long] = {
      var j = i - 1 - r.nextInt(50)
      while (j >= 0 && firstKind(j) != "original") j -= 1
      if (j >= 0) Some(j) else None
    }
    firstKind(i) match {
      case "foreign" =>
        GenDoc(i, render(slots(i)).mkString(" "), if (r.nextBoolean()) "de" else "fr", "foreign")
      case "exact" => source match {
        case Some(j) => doc(j).copy(doc_id = i, kind = "exact")
        case None => GenDoc(i, render(slots(i)).mkString(" "), lang, "original")
      }
      case "near" => source match {
        case Some(j) =>
          val s = slots(j)
          val swap = s.indices.filter(k => s(k)._1 >= 0 && (k == 1 || r.nextDouble() < 0.3))
          swap.foreach { k => val (b, w) = s(k); s(k) = (b, (w + 1 + r.nextInt(PerBucket - 1)) % PerBucket) }
          doc(j).copy(doc_id = i, text = render(s).mkString(" "), kind = "near")
        case None => GenDoc(i, render(slots(i)).mkString(" "), lang, "original")
      }
      case "leak" =>
        val words = render(slots(i))
        val bench = benchText(r.nextInt(BenchDocs))
        val from = r.nextInt(BenchWords - Passage + 1)
        val at = 1 + r.nextInt(words.size - 1)
        val text = (words.take(at) ++ bench.slice(from, from + Passage) ++ words.drop(at)).mkString(" ")
        GenDoc(i, text, lang, "leak")
      case _ => GenDoc(i, render(slots(i)).mkString(" "), lang, "original")
    }
  }
}

/** `curate`: one `Curation.curate` per op over a seeded corpus, plus writes
  * of the curated table and its attrition report. */
final class CurateWorkload(spark: SparkSession, seed: Long, dir: String)
    extends Workload(spark, seed, dir) {
  private val Docs = 10000L
  private val gen = new DocsGen(seed)
  private val in = s"$dir/input"
  /** Expected rows after each stage of the report, from the designed kinds. */
  private var expected = Map.empty[String, Long]

  def rowsPerOp: Long = Docs
  /** The third op of a fresh JVM is still measurably slower than the
    * fourth: planning dominates this op, and its JIT warms slowly. */
  override def warmupOps: Int = 3
  private def out(i: Int) = s"$dir/out-$i"
  private def docs() = read(s"$in/docs").drop("kind")
  private def bench() = read(s"$in/bench")

  def setup(): Unit = {
    import spark.implicits._
    val g = gen
    spark.range(0, Docs, 1, 8).as[Long].map(i => g.doc(i)).write.parquet(s"$in/docs")
    (0 until g.BenchDocs).map(b => (b.toLong, g.benchText(b).mkString(" "))).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$in/bench")
  }

  def prepareChecks(): Unit = {
    val byKind = read(s"$in/docs").groupBy("kind").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap.withDefaultValue(0L)
    val afterLang = Docs - byKind("foreign")
    val afterExact = afterLang - byKind("exact")
    val afterFuzzy = afterExact - byKind("near")
    expected = Map("input" -> Docs, "lang_filter" -> afterLang, "quality_filter" -> afterLang,
      "exact_dedup" -> afterExact, "fuzzy_dedup" -> afterFuzzy,
      "decontaminate" -> (afterFuzzy - byKind("leak")))
  }

  private def curate() = Curation.curate(docs(), "doc_id", "text", "lang", bench())

  def op(i: Int, t: Tracer): Unit =
    if (!t.enabled) {
      val (curated, report) = curate()
      curated.write.parquet(s"${out(i)}/curated")
      report.write.parquet(s"${out(i)}/report")
    } else t.op("op") {
      val (curated, report) = t.span("run.build")(curate())
      t.span("compile.plan")(curated.queryExecution.executedPlan)
      t.span("run.exec") {
        curated.write.parquet(s"${out(i)}/curated")
        report.write.parquet(s"${out(i)}/report")
      }
    }

  def written(i: Int): (Long, Long) = Stats.usage(out(i))

  def check(i: Int): Seq[String] = {
    val report = read(s"${out(i)}/report").collect()
      .map(r => r.getAs[String]("stage") -> r.getAs[Long]("n_rows")).toMap
    val curated = read(s"${out(i)}/curated").count()
    Recount.diff("attrition report", expected, report) ++
      (if (curated == expected("decontaminate")) Nil
       else Seq(s"curated rows $curated != ${expected("decontaminate")}"))
  }

  def cleanup(i: Int): Unit = Stats.delete(out(i))

  /** Each stage's public function, timed on that stage's own input. */
  def probes(t: Tracer, jobS: Double): Map[String, Double] = {
    val toks = TextExprs.asciiTokens(col("text"))
    val stage = Seq("s2", "s3", "s4").map(s => s -> s"$dir/probe-$s").toMap
    def langQuality(d: DataFrame) =
      TextAnalysis.gopherQualityFlags(d.filter(col("lang").isin("en", "es")), "text",
        minWords = 30, minStopwordHits = 1).filter(col("keep"))
        .select(d.columns.map(col).toSeq: _*)
    def exact(d: DataFrame) = Dedup.dropExactDuplicates(d, "doc_id", "text")
    def fuzzy(d: DataFrame) =
      Dedup.dropFuzzyDuplicates(d.withColumn("_toks", toks), "doc_id", "_toks", 0.5).drop("_toks")
    def decon(d: DataFrame) = Decontamination.decontaminate(d.withColumn("_toks", toks),
      bench().withColumn("_toks", toks), "doc_id", "_toks", minHits = 3)
    langQuality(docs()).write.parquet(stage("s2"))
    exact(read(stage("s2"))).write.parquet(stage("s3"))
    fuzzy(read(stage("s3"))).write.parquet(stage("s4"))
    spark.catalog.clearCache()
    val m = Map(
      "curation.lang_quality_s" -> medianOf(2)(noop(langQuality(docs()))),
      "curation.exact_dedup_s" -> medianOf(2)(noop(exact(read(stage("s2"))))),
      "curation.fuzzy_dedup_s" -> medianOf(2)(noop(fuzzy(read(stage("s3"))))),
      "curation.decontaminate_s" -> medianOf(2)(noop(decon(read(stage("s4"))))))
    stage.values.foreach(Stats.delete)
    spark.catalog.clearCache()
    m
  }
}
