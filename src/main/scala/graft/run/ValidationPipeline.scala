package graft.run

import graft.functions.CountHistogram
import graft.model.{SchemaDoc, SchemaParser}
import graft.row.RowValidator
import graft.snapshot.ManifestStore
import graft.table.TableChecks
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pipeline configuration — which checks run and their thresholds.
  *
  * @param schemaJson     row-level constraint schema (JSON Schema subset)
  * @param idCol          row identifier column (doc_id)
  * @param partCol        logical partition column driving verdicts + resume
  * @param uniqueKey      column whose values must be globally unique
  * @param riKey          fact column checked against the dimension
  * @param statsCols      columns to compute per-partition statistics for
  * @param quantileCol    numeric column for per-partition quantiles (n_tok)
  * @param driftNumCol    numeric column for the KS drift check vs baseline
  * @param driftCatCol    categorical column for the chi-squared drift check
  * @param ksThreshold    per-partition KS statistic above this fails drift
  * @param chi2PMin       chi-squared p-value below this fails drift
  * @param saltBuckets    salt fan-out for the uniqueness pre-aggregation
  * @param expectations   declarative dataset-scope expectation suite
  *                       ([[graft.table.Expectations]]) evaluated PER
  *                       PARTITION, riding the same stats aggregation (zero
  *                       extra passes): each partition's `metrics` map gains
  *                       `expectations_failed` and the verdict additionally
  *                       requires every expectation to hold.
  *                       [[IncrementalValidation]] folds the same suite
  *                       across appends via sufficient statistics
  *                       (counts/sums/min/max exactly; distinct via HLL
  *                       union, quantiles via t-digest merge) — provided
  *                       every run in the state dir carried the suite.
  * @param persistDigest  cache the narrow scan digest (MEMORY_AND_DISK)
  *                       across the pipeline's check families. The digest is
  *                       scalar columns + flags + (rare) invalid-row payloads
  *                       — a few % of the input bytes — so caching it is safe
  *                       at any input scale and is what makes the fused
  *                       one-scan shape hold: the wide fact table is read
  *                       exactly once regardless of how many check families
  *                       run. Disable only to trade re-computation for zero
  *                       storage-memory use.
  */
final case class PipelineConfig(
    schemaJson: String,
    idCol: String = "doc_id",
    partCol: String = "part",
    uniqueKey: Option[String] = Some("doc_id"),
    riKey: Option[String] = Some("source"),
    statsCols: Seq[String] = Seq("doc_id", "n_tok", "source"),
    quantileCol: Option[String] = Some("n_tok"),
    driftNumCol: Option[String] = Some("n_tok"),
    driftCatCol: Option[String] = Some("source"),
    ksThreshold: Double = 0.1,
    chi2PMin: Double = 0.001,
    saltBuckets: Int = 64,
    expectations: Seq[graft.table.Expectations.Expectation] = Seq.empty,
    persistDigest: Boolean = true)

final case class PipelineResult(violations: DataFrame, manifest: DataFrame)

/** The full constraint-validation job (BASELINE.json north_rule): row-level
  * keyword constraints + dataset-scope checks, emitting violation rows and a
  * per-partition manifest of metrics + pass/fail verdicts, resumable from the
  * manifest checkpoint.
  *
  * Execution shape — designed for 10^12 rows / 1000 executors, verified on
  * local[n]:
  *
  *  1. ONE scan of the wide fact table — the only time the 100 TB payload is
  *     read — produces a narrow DIGEST, fused in that single pass:
  *     the codegen'd row-validity predicate (the reference's
  *     `ValidateSubSchema` recursion, `pkg/types/schema/schema.go:796-819`,
  *     unrolled at compile time into a lambda-free Column DAG), the RI
  *     membership probe (broadcast build side — zero shuffle of facts), the
  *     scan-time partition id for lineage, and the scalar columns every
  *     downstream family needs. Invalid rows — the ~violation-rate fraction
  *     — additionally carry the full original row for phase-2 violation
  *     construction, so the digest is a few % of the input bytes and is
  *     persisted (MEMORY_AND_DISK). Every later step reads the digest, never
  *     the facts: check families are O(digest) re-reads, not O(input).
  *  2. Violation records (HOF-laden construction → CodegenFallback) build in
  *     a separate projection over only the digest's invalid payloads.
  *  3. Per-partition stats are ONE hash aggregation of the digest keyed by
  *     the partition column (partial+final; constant-size sketch state per
  *     group: HLL++ for distinct, t-digest for quantiles).
  *  4. Uniqueness is the only key-shuffle: salted two-phase aggregation —
  *     (key, salt) partial counts, then per-key re-aggregation — so a
  *     pathological hot key splits across `saltBuckets` reducers first.
  *     Offending keys (rare) broadcast back to attribute rows to partitions.
  *  5. Drift rides step 3: each partition's value histograms of the drift
  *     columns ([[graft.functions.CountHistogram]], state bounded by the
  *     value domain) are two more aggregates of the same hash aggregation.
  *     The baseline reduces to the same histograms in one pass and one
  *     `collect()`, and one kernel ([[Drift]]) turns each manifest row's
  *     (partition, baseline) histogram pair into KS, chi² and PSI — no
  *     grid, window or join.
  *  6. Resume: input partitions anti-join completed manifest rows — a driver
  *     metadata operation (partition list is small), so a restarted run
  *     re-reads only pending partitions' files.
  *
  * No RDDs, no driver-side row loops; `collect()` touches only
  * partition-count-sized or domain-sized aggregates.
  */
object ValidationPipeline {

  /** Run all checks over `facts`. `dim` is the allowed-values dimension for
    * the RI check; `baseline` the prior-snapshot table for drift. */
  def run(spark: SparkSession, facts: DataFrame, dim: Option[DataFrame],
          baseline: Option[DataFrame], cfg: PipelineConfig,
          runId: String, manifest: Option[ManifestStore] = None): PipelineResult =
    build(spark, facts, dim, baseline, cfg, runId, manifest)._1

  /** [[run]], plus the digest it may have persisted. */
  private def build(spark: SparkSession, facts: DataFrame, dim: Option[DataFrame],
                    baseline: Option[DataFrame], cfg: PipelineConfig, runId: String,
                    manifest: Option[ManifestStore]): (PipelineResult, DataFrame) = {

    val doc: SchemaDoc = SchemaParser.parse(cfg.schemaJson)
    val part = col(cfg.partCol)

    // ---------------- resume: drop partitions already completed ----------------
    val pending: DataFrame = manifest match {
      case Some(m) =>
        val done = m.completedPartitions(runId)
          .select(col("partition_key").as(cfg.partCol))
        // tiny build side (≤ #partitions rows) → broadcast anti-join: the
        // Iceberg-checkpoint resume semantics of the north rule.
        facts.join(broadcast(done.withColumn(cfg.partCol,
          col(cfg.partCol).cast(facts.schema(cfg.partCol).dataType))),
          Seq(cfg.partCol), "left_anti")
      case None => facts
    }

    // ---------------- 1. the fused scan → narrow digest ----------------
    // Everything downstream reads this digest, never the wide facts: the
    // payload (token arrays = nearly all input bytes) is read exactly once,
    // killing the scan-per-check-family read amplification at cold storage.
    // Scalar columns + flags always ride; only the rare invalid rows carry
    // the full original row (for phase-2 violation construction), so the
    // digest is a few % of the input bytes at production violation rates.
    val digest0 = digestOf(pending, dim, cfg, doc)
    val digest =
      if (cfg.persistDigest)
        digest0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else digest0

    // ---------------- 2-3. row-level and referential violations ----------------
    val rowAndRi = rowAndRiViolations(digest, dim, cfg, doc)

    // ---------------- 4. uniqueness (salted two-phase + broadcast-back) ----------------
    val uniqViol: Option[DataFrame] = cfg.uniqueKey.map { k =>
      val dups = TableChecks.duplicatesSalted(digest.filter(col(k).isNotNull),
        k, cfg.saltBuckets)
      // dup keys are rare (≤ violation rate) → broadcast them back over the
      // digest to attribute every offending row to its partition.
      digest.join(broadcast(dups), Seq(k))
        .select(part, col(k).cast(StringType).as("doc_id"),
          lit("uniqueness").as("keyword"),
          lit(s"#/$$dataset/uniqueness/$k").as("keywordLocation"),
          concat(lit(s"#/$k="), col(k).cast(StringType)).as("instanceLocation"),
          concat(lit("key occurs "), col("cnt").cast(StringType), lit(" times"))
            .as("message"))
    }

    // persisted: the violation set feeds BOTH the returned sink and the
    // per-partition verdict counts — without this the whole constraint-eval
    // DAG runs twice. Violations are ≤ violation-rate × rows (small), so
    // MEMORY_AND_DISK is safe at any input scale.
    val violations = (rowAndRi ++ uniqViol.toSeq)
      .reduce(_ unionByName _)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // ---------------- 5. per-partition column stats (one digest hash agg) ----------------
    val expLowered = cfg.expectations.map(graft.table.Expectations.lowered)
    val statAggs: Seq[Column] = cfg.statsCols.flatMap { c =>
      val isNum = digest.schema(c).dataType.isInstanceOf[NumericType]
      Seq(
        avg(col(c).isNull.cast(DoubleType)).as(s"null_rate_$c"),
        approx_count_distinct(col(c), 0.02).cast(DoubleType).as(s"approx_distinct_$c")) ++
        (if (isNum) Seq(min(col(c)).cast(DoubleType).as(s"min_$c"),
                        max(col(c)).cast(DoubleType).as(s"max_$c"))
         else Seq.empty)
    } ++ cfg.quantileCol.toSeq.map { qc =>
      // t-digest sketch (north star): one mergeable digest per partition group
      graft.functions.TDigestQuantiles(col(qc), Seq(0.5, 0.95, 0.99)).as(s"_tdq_$qc")
    } ++ expLowered.zipWithIndex.map { case ((c, _, _), i) =>
      // expectation observations ride the SAME per-partition aggregation
      c.as(s"_exp$i")
    } ++ baseline.toSeq.flatMap { _ =>
      // so do the drift histograms ([[Drift]]): one per drift column
      cfg.driftNumCol.map(c => CountHistogram(col(c).cast(DoubleType)).as(Drift.NumHist)) ++
        cfg.driftCatCol.map(c => CountHistogram(col(c).cast(StringType)).as(Drift.CatHist))
    }
    val stats0 = digest.groupBy(part)
      .agg(count(lit(1)).as("row_count"), statAggs: _*)
    val stats = cfg.quantileCol.fold(stats0) { qc =>
      stats0
        .withColumn(s"p50_$qc", element_at(col(s"_tdq_$qc"), 1))
        .withColumn(s"p95_$qc", element_at(col(s"_tdq_$qc"), 2))
        .withColumn(s"p99_$qc", element_at(col(s"_tdq_$qc"), 3))
        .drop(s"_tdq_$qc")
    }

    // ---------------- 6. verdicts + manifest ----------------
    val violByPart = violations.groupBy(part)
      .agg(count(lit(1)).as("violation_count"))

    var m = stats.join(violByPart, Seq(cfg.partCol), "left_outer")
      .na.fill(0L, Seq("violation_count"))
    baseline.foreach(b => m = Drift.withMetrics(m, b, cfg))

    // per-partition expectation verdicts from the observations that rode the
    // stats aggregation: failed = observed null or outside [lo, hi]
    if (expLowered.nonEmpty) {
      val failed = expLowered.zipWithIndex.map { case ((_, lo, hi), i) =>
        val obs = col(s"_exp$i").cast(DoubleType)
        when(coalesce(obs >= lo && obs <= hi, lit(false)), 0L).otherwise(1L)
      }.reduce(_ + _)
      m = m.withColumn("expectations_failed", failed)
        .drop(expLowered.indices.map(i => s"_exp$i"): _*)
    }

    val manifestRows = withVerdict(m, cfg.partCol, cfg)
      .withColumn("run_id", lit(runId))
      .withColumn("partition_key", part.cast(StringType))
      .withColumn("input_fingerprint",
        concat(lit("part="), part.cast(StringType), lit("/rows="),
          col("row_count").cast(StringType)))
      .withColumn("status", lit("completed"))
      .withColumn("committed_at", current_timestamp())
      .select("run_id", "partition_key", "input_fingerprint", "row_count",
        "violation_count", "verdict", "metrics", "status", "committed_at")

    (PipelineResult(violations, manifestRows), digest)
  }

  /** Step 1, the fused scan of `rows` into the narrow digest (unpersisted):
    * the scalar columns every check family reads, the scan partition id, the
    * RI membership flag `_ri_ok`, and the full row `_row` of invalid rows
    * only. */
  private[run] def digestOf(rows: DataFrame, dim: Option[DataFrame], cfg: PipelineConfig,
                            doc: SchemaDoc): DataFrame = {
    val scalarCols: Seq[String] =
      (Seq(cfg.partCol, cfg.idCol) ++ cfg.uniqueKey ++ cfg.riKey ++
        cfg.statsCols ++ cfg.quantileCol ++ cfg.driftNumCol ++ cfg.driftCatCol ++
        cfg.expectations.flatMap(graft.table.Expectations.columnOf))
        .distinct.filter(rows.columns.contains)
    val rowStruct = struct(rows.columns.toIndexedSeq.map(col): _*)
    val valid = RowValidator.validity(rows, doc)
    // RI membership probes IN the scan: broadcast left-outer against the
    // (distinct-ed, tiny) dimension key set — null/unknown keys flag false,
    // matching the left-anti formulation of TableChecks.referentialViolations
    val withRi: DataFrame = (cfg.riKey, dim) match {
      case (Some(k), Some(d)) =>
        val keys = d.select(col(d.columns.head).as(k)).distinct()
          .withColumn("_ri_hit", lit(true))
        rows.join(broadcast(keys), Seq(k), "left_outer")
      case _ => rows.withColumn("_ri_hit", lit(true))
    }
    withRi.select(
      scalarCols.map(col) ++ Seq(
        spark_partition_id().as("_pid"),
        coalesce(col("_ri_hit"), lit(false)).as("_ri_ok"),
        when(!valid, rowStruct).as("_row")): _*)
  }

  /** Steps 2 and 3 over a digest: row-level violations, then (with a
    * dimension) referential ones. */
  private[run] def rowAndRiViolations(digest: DataFrame, dim: Option[DataFrame],
                                      cfg: PipelineConfig, doc: SchemaDoc): Seq[DataFrame] = {
    // ---------------- 2. row-level constraint violations ----------------
    // two-phase: the scan evaluated only the codegen'd validity predicate;
    // violation construction (CodegenFallback HOFs) runs here, over only the
    // digest's invalid payloads (RowValidator.violationsFromPayload)
    val part = col(cfg.partCol)
    val rowViol = RowValidator.violationsFromPayload(digest, doc, "_row", "_pid",
        cfg.idCol, extraCols = Seq(cfg.partCol))
      .select(part, col(cfg.idCol).cast(StringType).as("doc_id"),
        col("keyword"), col("keywordLocation"), col("instanceLocation"), col("message"))

    // ---------------- 3. referential integrity (digest flag) ----------------
    val riViol: Option[DataFrame] = for { k <- cfg.riKey; _ <- dim } yield
      digest.filter(!col("_ri_ok"))
        .select(part, col(cfg.idCol).cast(StringType).as("doc_id"),
          lit("referential").as("keyword"),
          lit(s"#/$$dataset/referential/$k").as("keywordLocation"),
          concat(lit(s"#/$k="), coalesce(col(k), lit("null"))).as("instanceLocation"),
          concat(lit(s"value of $k not in dimension: "), coalesce(col(k), lit("null")))
            .as("message"))
    rowViol +: riViol.toSeq
  }

  /** Adds `verdict` and the `metrics` map (every column of `m` but
    * `keyCol`, `row_count` and `violation_count`, with `chi2_p` last and null
    * when not measured) to a per-partition manifest. The verdict: no
    * violations, drift within its thresholds where measured, every
    * expectation held. */
  private[run] def withVerdict(m: DataFrame, keyCol: String, cfg: PipelineConfig): DataFrame = {
    val metricCols = m.columns.filterNot(Set(keyCol, "row_count", "violation_count", "chi2_p"))
      .toIndexedSeq :+ "chi2_p"

    val verdict: Column = {
      var v = col("violation_count") === 0L
      if (m.columns.contains("ks_stat"))
        v = v && coalesce(col("ks_stat") <= cfg.ksThreshold, lit(true))
      if (m.columns.contains("chi2_stat"))
        v = v && coalesce(col("chi2_p") >= cfg.chi2PMin, lit(true))
      if (m.columns.contains("expectations_failed"))
        v = v && col("expectations_failed") === 0L
      v
    }

    (if (m.columns.contains("chi2_p")) m else m.withColumn("chi2_p", lit(null).cast(DoubleType)))
      .withColumn("verdict", verdict)
      .withColumn("metrics", map_from_arrays(array(metricCols.map(lit): _*),
        array(metricCols.map(c => col(c).cast(DoubleType)): _*)))
  }

  /** Run + persist: violations parquet (partitioned by the partition column)
    * and manifest append — the checkpoint commit. The digest and violation
    * caches are released once committed; the returned manifest is the
    * committed batch, read back from its files. */
  def runAndCommit(spark: SparkSession, facts: DataFrame, dim: Option[DataFrame],
                   baseline: Option[DataFrame], cfg: PipelineConfig, runId: String,
                   outDir: String): PipelineResult = {
    val store = new ManifestStore(spark, outDir)
    val (r, digest) = build(spark, facts, dim, baseline, cfg, runId, Some(store))
    // dynamic partition overwrite: a crash between this write and the
    // manifest append makes the resumed run re-validate those partitions —
    // REPLACING their violation files instead of appending duplicates
    // (validation is deterministic, so the replacement is identical).
    r.violations.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(cfg.partCol).parquet(s"$outDir/violations")
    val committed = store.append(r.manifest)
    r.violations.unpersist()
    digest.unpersist()
    r.copy(manifest = committed)
  }
}
