package graft.table

import org.apache.spark.sql.{Column, DataFrame, GraftSql}
import org.apache.spark.sql.catalyst.expressions.{Contains, Expression, If, KnownNotNull, Literal, Not, RegExpReplace, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table: language ID, quality
  * scoring, token counting, fingerprinting. All pure Column arithmetic —
  * codegen'd, engine-portable (DuckDB oracle reproduces them). */
object TextAnalysis {

  private lazy val logger = org.slf4j.LoggerFactory.getLogger("graft.table.TextAnalysis")

  /** Stopword lists for the n-gram/stopword-hit language heuristic. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "it", "that", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es", "se", "no"),
    "de" -> Seq("der", "die", "und", "das", "nicht", "ist", "ich", "ein", "zu", "den"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "une", "est", "que", "pour"))

  /** Count of words in `textCol` that appear in `words` — the scoring
    * primitive for language ID. Native codegen'd expression
    * (graft.expr.StopwordHits); the filter-over-split HOF ran interpreted. */
  def stopwordHits(textCol: Column, words: Seq[String]): Column =
    graft.expr.TextExprs.stopwordHits(textCol, words)

  /** Heuristic language ID: argmax over per-language stopword hit counts;
    * "und" (undetermined) when no list scores ≥ 1. */
  def languageId(textCol: Column): Column = {
    val scored = stopwords.toSeq.sortBy(_._1).map { case (lang, ws) =>
      struct(stopwordHits(textCol, ws).as("score"), lit(lang).as("lang"))
    }
    val best = greatest(scored: _*) // struct comparison: by score, then lang
    when(best.getField("score") >= 1, best.getField("lang")).otherwise(lit("und"))
  }

  /** Quality-scoring feature columns: char/word counts, mean word length,
    * punctuation & digit & stopword ratios, plus a composite [0,1] score. */
  def qualityFeatures(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val words = split(t, " ")
    val nWords = size(words)
    val nChars = length(t)
    val allStop = stopwords.values.flatten.toSeq.distinct
    df.withColumn("n_chars_q", nChars)
      .withColumn("n_words", nWords)
      .withColumn("mean_word_len",
        (nChars - nWords + 1).cast("double") / nWords.cast("double"))
      .withColumn("punct_ratio",
        (nChars - length(regexp_replace(t, "[\\.,;:!\\?]", ""))).cast("double")
          / nChars.cast("double"))
      .withColumn("digit_ratio",
        (nChars - length(regexp_replace(t, "[0-9]", ""))).cast("double")
          / nChars.cast("double"))
      .withColumn("stopword_ratio",
        stopwordHits(t, allStop).cast("double") / nWords.cast("double"))
      .withColumn("quality_score",
        least(lit(1.0), nWords.cast("double") / lit(16.0)) * (lit(1.0) - col("punct_ratio"))
          * (lit(1.0) - col("digit_ratio")))
  }

  /** Whitespace token count + a BPE-ish subword estimate: ceil(chars/4) is the
    * classic tokens≈chars/4 heuristic; the regex variant counts word pieces
    * (runs of letters, digits, or single punctuation) like a coarse BPE pre-
    * tokenizer. */
  def tokenCounts(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df.withColumn("ws_tokens", size(split(t, " ")))
      .withColumn("bpe_est_tokens", ceil(length(t).cast("double") / 4.0).cast("long"))
      .withColumn("piece_tokens",
        graft.expr.TextExprs.nonEmptySplitCount(t, "[^A-Za-z0-9]+") +
        graft.expr.TextExprs.nonEmptySplitCount(t, "[A-Za-z0-9 ]+"))
  }

  /** Order-sensitive document fingerprint: polynomial rolling hash over
    * tokens, Σ t_i·31^(i mod 8) mod (2^31-1) — deterministic, portable.
    * Native codegen'd expression (graft.expr.RollingFingerprint). */
  def fingerprint(tokens: Column): Column =
    graft.expr.TextExprs.fingerprint(tokens)

  /** Within-document repetition: fraction of duplicate token bigrams
    * (1 − distinct/total) — the Gopher-repetition quality filter (Rae et al.
    * 2021 §A1.1 use duplicate n-gram fraction thresholds). Native codegen'd
    * expression; one pass, no gram array materialized. */
  def dupBigramFraction(tokens: Column): Column =
    graft.expr.TextExprs.dupBigramFraction(tokens)

  /** Integer-exact companion of [[dupBigramFraction]]: one packed long with
    * total bigram count (high 32 bits) and distinct bigram count (low 32).
    * Use for cross-engine verification — no floating-point rounding on the
    * comparison path; the ratio is derivable downstream. */
  def dupBigramStats(tokens: Column): Column =
    graft.expr.TextExprs.dupBigramStats(tokens)

  /** Canonical text normalization for training corpora: whitespace collapse,
    * trim, lowercase, Unicode NFC. Stays inside whole-stage codegen (NFC is
    * a native expression; the rest are built-ins). */
  def normalize(textCol: Column): Column =
    graft.expr.TextExprs.nfcNormalize(
      lower(trim(regexp_replace(textCol, "\\s+", " "))))

  /** PII detection patterns — deliberately RE2-clean (character classes,
    * bounded quantifiers, non-capturing groups, `\b` only), so the same
    * pattern string runs identically under Spark's Java regex and the
    * oracle's RE2, and passes the engine's own [[graft.compile.RegexDialect]]
    * guard. Ordered most-specific-first for redaction (a card number must
    * not be partially consumed by the phone pattern). */
  val piiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "card" -> "\\b\\d{4}[- ]\\d{4}[- ]\\d{4}[- ]\\d{4}\\b",
    "ssn" -> "\\b\\d{3}-\\d{2}-\\d{4}\\b",
    "phone" -> "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b",
    "ipv4" -> "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b")

  /** The guard of a [[piiPatterns]] category: false when the text cannot
    * hold a match, since every email match contains `@` and every other
    * pattern needs an ASCII digit (`\\d` is `[0-9]` in Java regex and RE2).
    * Null for a null text, so a guarded count or redaction keeps its null. */
  private def piiPossible(cat: String, text: Expression): Expression =
    if (cat == "email") Contains(text, Literal("@")) else graft.expr.HasAsciiDigit(text)

  /** Per-document PII hit counts (one column per [[piiPatterns]] category,
    * `<cat>_hits`) plus `pii_total` and `has_pii` — the scan pass a
    * redaction/quarantine pipeline stage gates on. Each category's
    * codegen'd `regexp_extract_all` count runs only on texts holding its
    * literal (`@`, or an ASCII digit); on the rest the count is 0 without a
    * regex pass. No UDF, no shuffle. */
  def piiScan(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    def possible(cat: String) = GraftSql.toColumn(piiPossible(cat, GraftSql.toExpression(t)))
    val withCounts = piiPatterns.foldLeft(df) { case (acc, (cat, pat)) =>
      acc.withColumn(s"${cat}_hits",
        when(!possible(cat), lit(0L))
          .otherwise(size(regexp_extract_all(t, lit(pat), lit(0))).cast("long")))
    }
    val total = piiPatterns.map(p => col(s"${p._1}_hits"))
      .reduce(_ + _)
    withCounts.withColumn("pii_total", total)
      .withColumn("has_pii", total > 0)
  }

  /** PII redaction: every [[piiPatterns]] match replaced by its
    * `<CATEGORY>` placeholder, applied most-specific-first with
    * `regexp_replace` (replaces ALL occurrences) — the transform stage
    * paired with [[piiScan]]. The email pass runs only on texts holding `@`
    * and the four digit passes only on texts holding an ASCII digit; the
    * placeholders hold neither, so the output equals the unguarded chain
    * byte for byte. A nondeterministic text runs the unguarded chain. */
  def piiRedact(textCol: Column): Column =
    GraftSql.toColumn(piiRedact(GraftSql.toExpression(textCol.cast("string"))))

  /** [[piiRedact]] over a Catalyst expression (the SQL `graft_pii_redact`). */
  def piiRedact(text: Expression): Expression = PiiRedact(text)

  private[table] def redactChain(text: Expression): Expression = {
    def redact(acc: Expression, p: (String, String)): Expression =
      RegExpReplace(acc, Literal(p._2), Literal(s"<${p._1.toUpperCase}>"))
    // the email pass, then the digit passes; a group shares one guard
    def guarded(acc: Expression, group: Seq[(String, String)]): Expression =
      If(Not(piiPossible(group.head._1, text)), acc, group.foldLeft(acc)(redact))
    val (email, digits) = piiPatterns.span(_._1 == "email")
    // a guard evaluates the text apart from the chain, so a nondeterministic
    // text could be guarded as one string and redacted as another
    if (text.deterministic) guarded(guarded(text, email), digits)
    else piiPatterns.foldLeft(text)(redact)
  }

  /** Gopher-style (Rae et al. 2021, §A1.1) + C4 (Raffel et al. 2020, §2.2)
    * document-quality rules as one flag projection: word-count bounds, mean
    * word length bounds, minimum stopword evidence, and a symbol-to-word
    * ratio cap, plus the conjunction `keep`. Word splitting matches the
    * corpus convention (single-space tokens, empty pieces kept); mean word
    * length assumes single-space separation, `(n_chars − (n_words − 1)) /
    * n_words`. The four counts come from one native byte scan per row
    * ([[graft.expr.GopherCounts]]), equal to `size(split(t, " "))`,
    * `length(t)`, [[stopwordHits]] and the `[#…]|\.\.\.` match count.
    * Zero-shuffle, fully codegen'd — at 10^12 docs this is a pure map stage
    * that fuses into the scan. */
  def gopherQualityFlags(df: DataFrame, textCol: String,
                         minWords: Int = 50, maxWords: Int = 100000,
                         minMeanWordLen: Double = 3.0,
                         maxMeanWordLen: Double = 10.0,
                         minStopwordHits: Int = 2,
                         maxSymbolRatio: Double = 0.1): DataFrame = {
    // Gopher's stopword rule: ≥2 of a fixed tiny list ("the","be","to","of",
    // "and","that","have","with") — evidence of running prose
    val gopherStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    // the nondeterministic no-op guard (Dedup.jaccardPairs) keeps the scan in
    // one projection: without it a `keep` filter inlines the counts into its
    // condition once per reference. The guard always holds, so KnownNotNull
    // restores the nullability the counts have without it.
    val counts = "_gopher_counts"
    val scan = graft.expr.TextExprs.gopherCounts(col(textCol), gopherStops)
    val guarded = GraftSql.toColumn(KnownNotNull(GraftSql.toExpression(
      when(spark_partition_id() >= 0, scan))))
    val nWords = col(s"$counts.n_words")
    val meanLen = (col(s"$counts.n_chars") - (nWords - 1)).cast("double") / nWords.cast("double")
    df.withColumn(counts, guarded)
      .withColumn("n_words", nWords)
      .withColumn("mean_word_len", meanLen)
      .withColumn("ok_word_count", nWords.between(minWords, maxWords))
      .withColumn("ok_mean_word_len", meanLen.between(minMeanWordLen, maxMeanWordLen))
      .withColumn("ok_stopwords", col(s"$counts.stop_hits") >= minStopwordHits)
      .withColumn("ok_symbol_ratio",
        col(s"$counts.symbol_hits").cast("double") / nWords.cast("double") <= maxSymbolRatio)
      .withColumn("keep",
        col("ok_word_count") && col("ok_mean_word_len") &&
          col("ok_stopwords") && col("ok_symbol_ratio"))
      .drop(counts)
  }

  /** CORPUS-level hot-n-gram coverage: for every document, the fraction of
    * its (distinct 3-gram) shingles that are among the corpus's `topK` most
    * frequent shingles — the cross-document companion to
    * [[dupBigramFraction]] (a doc dominated by corpus-wide boilerplate
    * n-grams is low-value training data even when internally non-repetitive).
    *
    * Scale shape: shingle frequencies are a map-side-combined count
    * aggregation over (shingle, doc) pairs — domain-sized, never payload;
    * the top-K set (deterministic ties: count desc, shingle asc) is tiny and
    * BROADCAST back for the membership probe. The operator is inherently
    * two-pass (the hot set is unknowable before the frequency pass), so the
    * narrow (id, shingles) projection is persisted MEMORY_AND_DISK by
    * default: the shingle construction — the expensive step — runs once, and
    * the frequency pass, the probe pass, and the per-doc denominator all
    * read the cached projection (measured 58 s → 23 s at 10⁶ docs;
    * `persistShingles = false` trades re-computation for zero storage).
    * Returns (id, n_sh, hot_hits, hot_coverage). */
  def hotShingleCoverage(df: DataFrame, idCol: String, tokensCol: String,
                         topK: Int = 100,
                         persistShingles: Boolean = true): DataFrame = {
    val sh0 = df.select(col(idCol).as("id"),
        when(spark_partition_id() >= 0, Dedup.shingles3(col(tokensCol))).as("sh"))
      .withColumn("n_sh", size(col("sh")))
      .filter(col("n_sh") > 0)
    val sh = if (persistShingles)
      sh0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else sh0
    // deterministic top-K: (count desc, shingle asc) — a K-row result, the
    // sort runs on the already-aggregated domain-sized count table. The hot
    // set is COLLECTED (topK longs — an eager action at plan-construction
    // time, like the dedup routing probes) and baked into the membership
    // probe as an array literal: since shingles3 emits DISTINCT shingles,
    // `size(array_intersect(sh, hot))` equals the per-doc hot-hit count, so
    // the probe is one zero-shuffle codegen'd projection over the cached
    // (id, sh) rows — replacing a second explode of the full corpus, a
    // 250M-row semi-join, a groupBy and an outer join (measured 150 s → the
    // frequency pass alone at 10^6 docs × 254 shingles).
    val ex = sh.select(explode(col("sh")).as("s"))
    val hotArr: Seq[Long] = ex.groupBy("s").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("s").asc).limit(topK)
      .select("s").collect().toSeq
      .filterNot(_.isNullAt(0)).map(_.getLong(0)) // a null slot never matched the join either
    sh.select(col("id"), col("n_sh"),
        size(array_intersect(col("sh"), typedlit(hotArr))).cast("long").as("hot_hits"))
      .withColumn("hot_coverage",
        col("hot_hits").cast("double") / col("n_sh").cast("double"))
  }

  /** CCNet-style (Wenzek et al. 2020 §4.4) corpus-LM quality score: a
    * unigram language model is trained ON THE CORPUS ITSELF (token → MLE
    * probability count/total) and every document is scored by its mean
    * negative log-likelihood `avg(-ln p(tok))` — low = typical prose under
    * the corpus distribution, high = rare-token outliers (CCNet buckets its
    * corpus into head/middle/tail by exactly this statistic; here the LM is
    * self-trained instead of Wikipedia-trained, so no external model ships).
    *
    * Scale shape — two passes, matching CCNet's train-then-score split:
    * (1) vocabulary counts are a map-side-combined groupBy collapsing the
    * token stream to |vocab| rows before any wide exchange; (2) scoring
    * joins (id, token) pairs against the vocabulary — AQE picks a broadcast
    * while the vocab fits, shuffle-hash beyond — and re-aggregates per
    * document. The document payload never shuffles: only (id, token) pairs
    * enter the scoring exchange, and the total-token count rides along as a
    * broadcast single-row cross join (no eager action). `nll` is rounded to
    * 6dp: ln(total) − avg(ln(cnt)) keeps the aggregation order-insensitive
    * at that precision. */
  def unigramLmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol),
        explode(split(col(textCol), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val total = vocab.agg(sum("cnt").cast("double").as("tot"))
    toks.join(vocab, "tok")
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(round(log(first(col("tot"))) - avg(log(col("cnt").cast("double"))), 6)
          .as("nll"),
        count(lit(1)).as("n_tok"))
  }

  /** TF-IDF top-k terms per document: tf = in-document term count,
    * idf = ln(n_docs / doc_freq), deterministic tie-break (rounded score
    * desc, then token asc) so the ranking is engine-portable. The per-doc
    * keyword tags a curation pipeline clusters or routes on.
    *
    * Scale shape: (id, token) term frequencies and the |vocab|-row document
    * frequencies are both map-side-combined aggregations; the corpus doc
    * count rides along as a broadcast single-row cross join; the top-k is a
    * window over tf-level rows partitioned by document — raw text never
    * shuffles, and no per-doc buffer exceeds its distinct-token count.
    * Scores are rounded to 6dp BEFORE ranking so cross-engine float noise
    * cannot reorder ties. */
  def tfidfTopK(df: DataFrame, idCol: String, textCol: String,
                k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol),
        explode(split(col(textCol), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
    val tf = toks.groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("tf"))
    val docFreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val nDocs = tf.select(col(idCol)).distinct()
      .agg(count(lit(1)).cast("double").as("n_docs"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("tfidf").desc, col("tok").asc)
    tf.join(docFreq, "tok")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        round(col("tf").cast("double") * log(col("n_docs") / col("df").cast("double")), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col(idCol), col("tok"), col("tf"), col("tfidf"), col("rk"))
  }

  /** Within-document line/paragraph dedup — the C4 rule (Raffel et al. 2020
    * §2.2) at line granularity: later occurrences of a repeated line of at
    * least `minLen` code points are dropped from the document; shorter lines
    * are exempt (separators/bullets). A zero-shuffle codegen'd projection
    * (graft.expr.DedupLines, one hash-set pass per doc) — 100 TB in, 100 TB
    * out, no exchange. Corpus-WIDE repeats are [[graft.table.Dedup.dropRepeatedParagraphs]];
    * this is the in-document complement. */
  def dedupDocLines(paras: Column, minLen: Int = 20): Column =
    graft.expr.TextExprs.dedupLines(paras, minLen)

  // ---------------------------------------------------------------------
  // DSIR importance weighting (Xie et al. 2023): score every raw document by
  // how target-like its hashed-bigram distribution is, for importance
  // resampling of a 100 TB crawl toward a quality target corpus.
  // ---------------------------------------------------------------------

  /** Hashed-bigram bucket counts of a corpus as a driver-side array — the
    * "fit" half of DSIR. One map-side-combined aggregation to ≤`buckets`
    * rows (the 100 TB side reduces to a 4096-long histogram before anything
    * crosses an exchange); the collect is O(buckets). */
  def hashedBigramCounts(df: DataFrame, tokCol: Column, buckets: Int = 4096): Array[Long] = {
    val counts = new Array[Long](buckets)
    df.select(explode(graft.expr.DsirExprs.bigramBuckets(tokCol, buckets)).as("b"))
      .groupBy("b").count().collect()
      .foreach(r => counts(r.getInt(0)) = r.getLong(1))
    counts
  }

  /** Integer-scaled smoothed log-ratio table: ⌊10^6·(ln p̂_target(b) −
    * ln q̂_raw(b)) + 0.5⌋ with add-`alpha` smoothing. Driver-side, O(buckets).
    *
    * Cross-engine determinism caveat: the quantization makes the table
    * integer-exact AFTER the floor, but the floor's input still comes from
    * libm — JVM `Math.log` is required to be ≤1 ulp (and in practice uses
    * fdlibm-exact StrictMath tables for common inputs) while another
    * engine's `ln` may differ by 1 ulp, which at an exact .5 boundary flips
    * a table entry. The oracle comparison therefore holds on platforms
    * where both libms agree on these inputs (verified here); a
    * belt-and-braces deployment would compute the table ONCE on the driver
    * and feed the same integer table to both engines — the downstream
    * scoring is pure integer arithmetic either way. */
  def dsirRatioTable(targetCounts: Array[Long], rawCounts: Array[Long],
                     alpha: Double = 0.5): Array[Long] = {
    require(targetCounts.length == rawCounts.length)
    val b = targetCounts.length
    val tt = targetCounts.sum.toDouble + alpha * b
    val tr = rawCounts.sum.toDouble + alpha * b
    Array.tabulate(b) { i =>
      val d = math.log((targetCounts(i) + alpha) / tt) -
        math.log((rawCounts(i) + alpha) / tr)
      Math.floor(1e6 * d + 0.5).toLong
    }
  }

  /** DSIR log importance weights: per raw document, Σ over its hashed token
    * bigrams of the scaled log-ratio log(p̂_target/q̂_raw). Returns
    * `(idCol, w_scaled: bigint, weight: double)` — `w_scaled` is the exact
    * integer score (10^6-scaled), `weight` its 6dp decimal form. Higher ⇒
    * more target-like; resample/filter on it ([[dsirSelectTopFraction]]).
    *
    * Scale shape: two histogram fits (map-side-combined, O(buckets) driver
    * state) + ONE codegen'd scoring projection with the ratio table riding
    * as a reference object — the raw corpus is read twice and never
    * shuffles. Deterministic end to end: integer bucket hash, integer score
    * sum (see DsirExprs). */
  def dsirLogWeights(raw: DataFrame, target: DataFrame, idCol: String,
                     tokCol: Column, buckets: Int = 4096,
                     alpha: Double = 0.5): DataFrame = {
    val table = dsirRatioTable(
      hashedBigramCounts(target, tokCol, buckets),
      hashedBigramCounts(raw, tokCol, buckets), alpha)
    raw.select(col(idCol),
        graft.expr.DsirExprs.bigramLogSum(tokCol, table, buckets).as("w_scaled"))
      .withColumn("weight", round(col("w_scaled") / 1e6, 6))
  }

  /** Keep the most target-like ~`fraction` of rows by DSIR weight. The
    * threshold comes from the INTEGER-weight histogram (a |distinct weights|-
    * sized map-side-combined aggregation — never a global sort or window),
    * then selection is a zero-shuffle codegen'd filter. All rows TIED at the
    * boundary weight are kept, so the result has ≥ ⌈fraction·n⌉ rows (exact
    * when the boundary has no ties) and is fully deterministic — no
    * per-row ranking state anywhere.
    *
    * Scale routing: the exact histogram collect is O(distinct weights), and
    * scores are 10^6-scaled sums, so heterogeneous corpora can approach one
    * distinct weight per row — a driver OOM at 10^12 rows. The probe is an
    * `approx_count_distinct` aggregate (HLL partial merge — no shuffle of
    * distinct rows, unlike a `distinct().limit()` probe, whose exchange
    * would move nearly the whole dataset exactly in the heterogeneous case
    * the cap exists for; HLL's ~2% error is noise against the cap); above
    * the cap the threshold switches to `approxQuantile(1 - fraction)` —
    * approximate boundary (±`1e-4` relative rank), same zero-shuffle
    * codegen'd selection, nothing driver-sized anywhere. */
  def dsirSelectTopFraction(weights: DataFrame, fraction: Double,
                            exactDistinctCap: Int = 1000000): DataFrame = {
    require(fraction > 0 && fraction <= 1, s"fraction $fraction out of (0,1]")
    val probe = weights
      .agg(approx_count_distinct("w_scaled").as("d")).collect()(0).getLong(0)
    if (probe > exactDistinctCap) {
      // surface the exact→approximate switch (the boundary weight is now an
      // approximate rank, so the kept fraction is ~fraction, not ≥ fraction)
      logger.warn(
        s"dsirSelectTopFraction: > $exactDistinctCap distinct weights; " +
          "routing to approxQuantile threshold (approximate boundary). " +
          "Raise exactDistinctCap only with driver memory to hold the histogram.")
      val t = weights.stat
        .approxQuantile("w_scaled", Array(1.0 - fraction), 1e-4)(0)
      return weights.filter(col("w_scaled") >= t)
    }
    val hist = weights.groupBy("w_scaled").count()
      .orderBy(col("w_scaled").desc).collect()
    val n = hist.map(_.getLong(1)).sum
    val keep = math.ceil(n * fraction).toLong
    var acc = 0L
    var thresh = Long.MinValue
    val it = hist.iterator
    while (it.hasNext && acc < keep) {
      val r = it.next()
      thresh = r.getLong(0)
      acc += r.getLong(1)
    }
    weights.filter(col("w_scaled") >= thresh)
  }
}

/** [[TextAnalysis.piiRedact]] as one expression, replaced by the regex chain
  * once its text is resolved: only then does Catalyst know whether the text
  * is deterministic (a Column's `rand()` is an unresolved function until
  * analysis). */
private[table] case class PiiRedact(child: Expression)
    extends RuntimeReplaceable with UnaryLike[Expression] {
  override lazy val replacement: Expression = TextAnalysis.redactChain(child)
  override protected def withNewChildInternal(c: Expression): PiiRedact = copy(child = c)
}
