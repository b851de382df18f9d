package graft.table

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

/** End-to-end corpus curation — the composite pipeline stage a training-data
  * run actually executes, chaining the individual operators of this package
  * in their canonical order:
  *
  *   input → language keep-set → Gopher/C4 quality rules →
  *   exact dedup (keep-first) → fuzzy dedup (MinHash-LSH → connected
  *   components → representatives) → benchmark decontamination →
  *   PII redaction (projection, no attrition)
  *
  * Returns `(curated, report)` where `report` is one row per stage
  * (stage, ord, n_rows) — the attrition table a data-quality dashboard
  * plots. The reference validates one instance at a time and has no
  * pipeline surface; the composition here is the point: every stage is the
  * already-verified operator, so the composite inherits their oracles.
  *
  * Scale shape: stages 1-2 and the final redaction are zero-shuffle
  * codegen'd projections/filters that fuse into the scan; the dedup stages
  * keep their individual disciplines (payload-free candidate shuffles,
  * capped posting buffers, edge-list-sized clustering); decontamination
  * broadcasts the benchmark shingle set, never shuffling the corpus. The
  * text is tokenized once per row: the internal `_toks` column (ascii tokens
  * of the final, line-deduplicated text) is added before the first persist
  * and rides every cached stage into fuzzy dedup, decontamination and DSIR,
  * and is dropped from the curated output. Each
  * counted stage is persisted before its count so the report costs one
  * materialization per boundary, not a re-execution of the prefix — on a
  * real cluster each boundary would be a checkpointed snapshot table
  * ([[graft.snapshot.AppendSnapshotStore]]) and the report would read manifest row
  * counts instead. */
object Curation {

  /** @param keepLangs   language allow-list for stage 1
    * @param minWords    Gopher word-count lower bound (stage 2)
    * @param minStopwordHits Gopher stopword-evidence minimum (stage 2)
    * @param minJaccard  fuzzy-dedup similarity threshold (stage 4)
    * @param benchMinHits distinct-shingle overlap to count as contaminated
    * @param lineDedupMinLen when set, within-doc repeated-line removal
    *   (the C4 rule, [[TextAnalysis.dedupDocLines]] over "\n"-split lines of
    *   at least this many code points) runs after the quality filter and
    *   BEFORE the dedup stages, so boilerplate inside a page cannot mask or
    *   manufacture cross-document duplicates; a projection — no attrition row
    * @param dsirTarget when set (with dsirKeepFraction < 1), DSIR importance
    *   selection runs LAST: weights fit against this target corpus over the
    *   already-curated tokens, top `dsirKeepFraction` kept
    *   ([[TextAnalysis.dsirSelectTopFraction]]) — the data-selection stage
    *   of a quality-targeted training mix */
  def curate(docs: DataFrame, idCol: String, textCol: String, langCol: String,
             bench: DataFrame,
             keepLangs: Seq[String] = Seq("en", "es"),
             minWords: Int = 30, minStopwordHits: Int = 1,
             minJaccard: Double = 0.5,
             benchMinHits: Int = 3,
             lineDedupMinLen: Option[Int] = None,
             dsirTarget: Option[DataFrame] = None,
             dsirKeepFraction: Double = 1.0): (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    val flagCols = Seq("n_words", "mean_word_len", "ok_word_count",
      "ok_mean_word_len", "ok_stopwords", "ok_symbol_ratio", "keep")

    val s1 = docs.filter(col(langCol).isin(keepLangs: _*))
    val s2pre = TextAnalysis.gopherQualityFlags(s1, textCol,
        minWords = minWords, minStopwordHits = minStopwordHits)
      .filter(col("keep")).drop(flagCols: _*)
    // optional in-doc line cleanup BEFORE dedup: a zero-shuffle projection
    // rewriting textCol, so downstream content hashes see the cleaned page;
    // then `_toks`, once per row, into the cache every later stage reads
    val s2 = lineDedupMinLen.map { ml =>
      s2pre.withColumn(textCol, array_join(
        TextAnalysis.dedupDocLines(split(col(textCol), "\n"), ml), "\n"))
    }.getOrElse(s2pre)
      .withColumn("_toks", graft.expr.TextExprs.asciiTokens(col(textCol)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val s3 = Dedup.dropExactDuplicates(s2, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val s4 = Dedup.dropFuzzyDuplicates(s3, idCol, "_toks", minJaccard)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val s5 = Decontamination.decontaminate(s4,
        bench.withColumn("_toks", graft.expr.TextExprs.asciiTokens(col(textCol))),
        idCol, "_toks", minHits = benchMinHits)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // optional DSIR data-selection stage LAST: fit on the surviving tokens
    // (the _toks column already carried through dedup), keep the top fraction
    val s6 = dsirTarget match {
      case Some(tgt) if dsirKeepFraction < 1.0 =>
        val tgtToks = tgt.withColumn("_toks",
          graft.expr.TextExprs.asciiTokens(col(textCol)))
        val weights = TextAnalysis.dsirLogWeights(s5, tgtToks, idCol, col("_toks"))
        val keptIds = TextAnalysis.dsirSelectTopFraction(weights, dsirKeepFraction)
          .select(col(idCol))
        Some(s5.join(keptIds, Seq(idCol), "left_semi")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      case _ => None
    }
    val last = s6.getOrElse(s5)

    val stages = Seq(
      ("input", docs), ("lang_filter", s1), ("quality_filter", s2),
      ("exact_dedup", s3), ("fuzzy_dedup", s4), ("decontaminate", s5)) ++
      s6.map(df => ("dsir_select", df)).toSeq
    val rows = new java.util.ArrayList[Row](stages.size)
    stages.zipWithIndex.foreach { case ((name, df), i) =>
      rows.add(Row(name, i, df.count()))
    }
    val report = spark.createDataFrame(rows, StructType(Seq(
      StructField("stage", StringType, nullable = false),
      StructField("ord", IntegerType, nullable = false),
      StructField("n_rows", LongType, nullable = false))))

    Seq(s2, s3, s4).foreach(_.unpersist())
    val curated = last.drop("_toks")
      .withColumn(textCol, TextAnalysis.piiRedact(col(textCol)))
    (curated, report)
  }
}
