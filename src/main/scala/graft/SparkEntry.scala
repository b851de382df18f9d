package graft

import graft.model.SchemaParser
import graft.row.RowValidator
import graft.table.{Dedup, Sampling, Similarity, TableChecks, TextAnalysis}
import graft.tokens.{Packing, TokenSeqs}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Driver contract — one `queries` entry per implemented operator family
  * (SURVEY.md §2), each with a DuckDB oracle over the same parquet tables.
  *
  * All floating-point outputs are rounded to 6 decimals in BOTH engines, and
  * money sums go through decimal(18,2) so the hash compare is bit-stable.
  * All hashing used by dedup/similarity operators is explicit deterministic
  * arithmetic reproduced verbatim in the oracle SQL (no engine hash functions).
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Derived canonical token_sequences (TokenSeqs.fromDocuments) as SQL —
    * token(w) = ascii(w)·32 + least(length(w),31). */
  private val tokSql =
    "list_transform(string_split(text, ' '), w -> (ascii(w)*32 + least(length(w), 31))::INT)"

  /** Validation schema used by the row-validation queries: bounds tuned so the
    * real `documents` data yields violations of several keyword families. */
  private val docSchemaJson: String =
    """{
      "type": "object",
      "required": ["doc_id", "tokens", "n_tok", "source"],
      "properties": {
        "doc_id": {"type": "string", "pattern": "^[0-9]+$"},
        "tokens": {
          "type": "array",
          "items": {"type": "integer", "minimum": 0, "maximum": 3900},
          "minItems": 1, "maxItems": 8192
        },
        "n_tok": {"type": "integer", "minimum": 1, "maximum": 80},
        "source": {"enum": ["src0","src1","src2","src3","src4","src5","src6","src7",
                            "src8","src9","src10","src11","src12","src13","src14","src15"]}
      }
    }"""

  private def tokenSeqs(s: SparkSession, dir: String): DataFrame =
    TokenSeqs.fromDocuments(t(s, dir, "documents"))

  /** q_incremental_manifest one-time setup (snapshot commits + first delta
    * validation), memoized per input dir: paths to the committed snapshot
    * store and the snapshot-1-validated state dir. */
  private val incrPrepared =
    new scala.collection.concurrent.TrieMap[String, (String, String)]()

  /** q_pruned_read one-time setup (three banded snapshot commits), memoized
    * per input dir: path to the committed read-only store. */
  private val prunePrepared =
    new scala.collection.concurrent.TrieMap[String, String]()

  /** q_stream_dedup one-time setup (seed-corpus commit + signature write),
    * memoized per input dir: (pristine store path, pristine sig path) —
    * copied per invocation because the stream appends. */
  private val sdedupPrepared =
    new scala.collection.concurrent.TrieMap[String, (String, String)]()

  /** Streaming read of a test table: Spark's file streaming source requires
    * a DIRECTORY, and the test tables are single parquet files — expose the
    * file through a temp directory symlink (same bytes, real streaming file
    * source + listing). */
  private def streamTable(s: SparkSession, dir: String, name: String): DataFrame = {
    val schema = t(s, dir, name).schema
    val tmp = java.nio.file.Files.createTempDirectory(s"stream_src_$name")
    tmp.toFile.deleteOnExit()
    val link = tmp.resolve(s"$name.parquet")
    // absolute target: a relative dir would make the link resolve against
    // the TEMP directory and dangle
    java.nio.file.Files.createSymbolicLink(link,
      java.nio.file.Paths.get(s"$dir/$name.parquet").toAbsolutePath)
    link.toFile.deleteOnExit()
    s.readStream.schema(schema).parquet(tmp.toString)
  }

  /** Execute a streaming dataflow to completion (availableNow trigger,
    * in-memory sink) and return the final result table. Used by the
    * q_stream_* queries so the driver's oracle gate exercises REAL
    * Structured Streaming micro-batch execution, not just the batch twin. */
  private def runStream(s: SparkSession, out: DataFrame, mode: String): DataFrame = {
    val name = "stream_sink_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode(mode)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // Detach the result from the sink's temp view so repeated invocations
    // (the Bench and `time` reps) don't pin every run's result set in driver
    // memory for the JVM lifetime: copy the rows out, drop the view.
    val rows = s.table(name).collect()
    val schema = s.table(name).schema
    s.catalog.dropTempView(name)
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Flagship: full row-level constraint validation over the canonical derived
    * table at sf0.001 — violation rows out. */
  def entry(spark: SparkSession): DataFrame =
    RowValidator.violations(tokenSeqs(spark, "/root/testdata/sf0.001"),
      SchemaParser.parse(docSchemaJson), "doc_id")

  // =====================================================================

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- relational core: scan/filter/agg (decimal-exact money sums) ----
    "q1_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
          count(lit(1)).as("cnt"))
    }),

    // ---- broadcast join + agg ----
    "q_join_agg" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"),
          count(lit(1)).as("n_orders"))
    }),

    // ---- window: top-2 orders per customer ----
    "q_window_topk" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders").withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 2).select("o_custkey", "o_orderkey", "rnk")
    }),

    // ---- sort / limit (top-k) ----
    "q_sort_limit" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc)
        .limit(10).select("l_orderkey", "l_linenumber", "l_extendedprice")),

    // ---- anti / semi joins ----
    // anti-join right side filtered so the result is non-empty at every SF
    // (every customer has SOME order in this data; not every customer has a
    // >350k order) — an empty result would make the oracle check vacuous.
    "q_anti_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 350000)
        .select(col("o_custkey").as("c_custkey"))
      c.join(o, Seq("c_custkey"), "left_anti").select("c_custkey")
    }),
    "q_semi_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").select(col("o_custkey").as("c_custkey"))
      c.join(o, Seq("c_custkey"), "left_semi").select("c_custkey")
    }),

    // ---- dataset-scope: uniqueness (plain + salted two-phase) ----
    "q_dup_userid" -> ((s, dir) =>
      TableChecks.duplicates(t(s, dir, "events"), "user_id")),
    "q_dup_salted" -> ((s, dir) =>
      TableChecks.duplicatesSalted(t(s, dir, "events"), "user_id", salt = 16)),

    // ---- dataset-scope: referential integrity (broadcast anti-join) ----
    "q_ri_violations" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val dim = docs.select("source").distinct()
        .filter(!col("source").isin("src16", "src17", "src18", "src19"))
      TableChecks.referentialViolations(docs, dim, "source", "source")
        .select("doc_id", "source")
    }),
    // same RI semantics via the large-dimension path (key-only shuffles +
    // rare-violation broadcast-back; the fact side never shuffles)
    "q_ri_large" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val dim = docs.select("source").distinct()
        .filter(!col("source").isin("src16", "src17", "src18", "src19"))
      TableChecks.referentialViolationsLargeDim(docs, dim, "source", "source")
        .select("doc_id", "source")
    }),

    // ---- snapshot diff: row-for-row token-array equality vs a baseline
    //      (north-star contract) — current = baseline with deterministic
    //      removals (id%97), token edits (id%101) and additions (id%103) ----
    "q_snapshot_diff" -> ((s, dir) => {
      val base = tokenSeqs(s, dir)
      val idNum = col("doc_id").cast("long")
      val cur = base.filter(idNum % 97 =!= 0)
        .withColumn("tokens", when(idNum % 101 === 0,
          transform(col("tokens"), tk => tk + 1)).otherwise(col("tokens")))
        .unionByName(base.filter(idNum % 103 === 0)
          .withColumn("doc_id", concat(lit("new_"), col("doc_id"))))
      // changed_cols is array<string>; the driver harness sorts output with
      // pandas, which cannot sort array cells — project to a deterministic
      // comma-joined scalar (mirrored in the oracle SQL). Semantics intact.
      graft.table.SnapshotDiff.snapshotDiff(cur, base, "doc_id",
        Seq("tokens", "n_tok", "source"))
        .withColumn("changed_cols", array_join(col("changed_cols"), ","))
    }),

    // ---- dataset-scope: column stats (exact subset for the oracle) ----
    "q_stats_lineitem" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val one = (c: String) => li.agg(
        count(lit(1)).as("row_count"),
        sum(col(c).isNull.cast("long")).as("null_count"),
        min(col(c)).cast("double").as("min_v"), max(col(c)).cast("double").as("max_v"),
        countDistinct(col(c)).as("n_distinct"))
        .select(lit(c).as("col_name"), col("row_count"), col("null_count"),
          col("min_v"), col("max_v"), col("n_distinct"))
      one("l_quantity").unionByName(one("l_extendedprice"))
    }),

    // ---- dataset-scope: declarative expectation suite — snapshot health
    //      gate, all expectations lowered into ONE aggregation pass (the
    //      mean_between row fails by design: the report shows verdicts) ----
    "q_expectations" -> ((s, dir) => {
      import graft.table.Expectations._
      graft.table.Expectations.check(t(s, dir, "documents"), Seq(
        RowCountBetween(100L, 100000000L),
        NullRateMax("text", 0.0),
        MinAtLeast("n_chars", 1.0),
        MaxAtMost("n_chars", 1000000.0),
        MeanBetween("n_chars", 0.0, 50.0),
        DistinctCountBetween("source", 1L, 64L),
        ValuesInSet("lang", Seq("en", "de", "fr"), 0.5),
        MatchRegexRate("doc_id", "^[0-9]+$", 1.0),
        QuantileBetween("n_chars", 0.5, 1.0, 100000.0)))
        .select(col("expectation"), round(col("observed"), 6).as("observed"),
          col("lo"), col("hi"), col("passed"))
    }),

    // ---- per-partition expectation verdicts: every source must
    //      individually satisfy the gate (one grouped pass) ----
    "q_expectations_by" -> ((s, dir) => {
      import graft.table.Expectations._
      graft.table.Expectations.checkBy(t(s, dir, "documents"), "source", Seq(
        RowCountBetween(1L, 1000000L),
        MeanBetween("n_chars", 0.0, 300.0),
        NullRateMax("lang", 0.0)))
        .select(col("source"), col("expectation"),
          round(col("observed"), 6).as("observed"),
          col("lo"), col("hi"), col("passed"))
    }),

    // ---- dataset-scope: robust per-group anomaly flags (median/MAD
    //      modified z-score over a grouped metric — "which partition is
    //      broken" applied to per-source mean document length) ----
    "q_group_anomaly" -> ((s, dir) => {
      val g = t(s, dir, "documents").groupBy("source")
        .agg(avg(col("n_chars")).as("m"))
      TableChecks.groupAnomalies(g, "source", "m")
        .select(col("source"), round(col("value"), 6).as("value"),
          round(col("mz"), 6).as("mz"), col("is_anomaly"))
    }),

    // ---- dataset-scope: equi-width histogram + distribution entropy ----
    "q_histogram_nchars" -> ((s, dir) =>
      TableChecks.histogram(t(s, dir, "documents"), "n_chars", buckets = 20)),
    "q_entropy_source" -> ((s, dir) =>
      TableChecks.entropy(t(s, dir, "documents"), "source")),

    // ---- dataset-scope: exact quantiles ----
    "q_quantiles_nchars" -> ((s, dir) =>
      t(s, dir, "documents").agg(
        round(expr("percentile(n_chars, 0.25)"), 4).as("p25"),
        round(expr("percentile(n_chars, 0.5)"), 4).as("p50"),
        round(expr("percentile(n_chars, 0.75)"), 4).as("p75"))),

    // ---- dataset-scope: learned Tukey-fence (IQR) outlier bounds — the
    //      dataset-scope analogue of exclusiveMin/Max with distribution-
    //      derived bounds (exact quartiles here; t-digest at web scale) ----
    "q_outlier_bounds" -> ((s, dir) =>
      TableChecks.iqrOutlierBounds(t(s, dir, "events"), "value")),

    // ---- sessionization: 30-min-gap sessions over the event stream; one
    //      shuffle on user_id shared by the boundary window and the
    //      per-session aggregation ----
    "q_sessions" -> ((s, dir) =>
      graft.table.Sessions.sessionStats(t(s, dir, "events"),
        "user_id", "ts", gapSeconds = 1800, tieCol = "event_id")),

    // ---- drift: two-sample KS statistic (en vs es on n_chars) ----
    "q_ks_lang" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TableChecks.ksStatistic(docs.filter(col("lang") === "en"),
        docs.filter(col("lang") === "es"), "n_chars")
        .select(round(col("ks_stat"), 6).as("ks_stat"))
    }),

    // ---- drift: chi-squared of source frequencies (en docs vs all) ----
    "q_chi2_source" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TableChecks.chiSquaredStatistic(docs.filter(col("lang") === "en"), docs, "source")
        .select(round(col("chi2_stat"), 6).as("chi2_stat"), col("n_categories"))
    }),

    // ---- drift: PSI + Jensen-Shannon divergence of source frequencies ----
    "q_psi_source" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TableChecks.psiDrift(docs.filter(col("lang") === "en"), docs, "source")
        .select(round(col("psi"), 6).as("psi"), round(col("jsd"), 6).as("jsd"),
          col("n_categories"))
    }),

    // ---- drift: TOKEN-level unigram distribution (vocab as the category
    //      domain) — catches tokenizer/encoding drift that n_tok/source
    //      counts cannot; en-docs token mix vs the whole corpus ----
    "q_token_drift" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TableChecks.tokenUnigramDrift(
        TokenSeqs.fromDocuments(docs.filter(col("lang") === "en")),
        tokenSeqs(s, dir), "tokens")
        .select(round(col("psi"), 6).as("psi"), round(col("jsd"), 6).as("jsd"),
          col("n_categories"))
    }),
    // per-source token drift: WHICH source's token mix moved
    "q_token_drift_by" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TableChecks.tokenUnigramDriftBy(
        TokenSeqs.fromDocuments(docs.filter(col("lang") === "en")),
        tokenSeqs(s, dir), "tokens", "source")
        .select(col("source"), round(col("psi"), 6).as("psi"),
          round(col("jsd"), 6).as("jsd"), col("n_tokens"))
    }),

    // ---- decontamination: corpus docs sharing >= 3 distinct 3-gram shingles
    //      with a benchmark split (doc_id % 97 == 0 plays the eval set) ----
    "q_decontaminate" -> ((s, dir) => {
      val ts = tokenSeqs(s, dir).withColumn("doc_id", col("doc_id").cast("long"))
      graft.table.Decontamination.contaminated(
        ts.filter(col("doc_id") % 97 =!= 0), ts.filter(col("doc_id") % 97 === 0),
        "doc_id", "tokens", minHits = 3)
        .select(col("id").as("doc_id"), col("n_hits"))
    }),
    // same semantics through the Bloom pre-probe plan (different split so the
    // two queries exercise independent benchmark sets); deliberately small
    // sketch at this sf — exactness must not depend on the fpp
    "q_bloom_decontaminate" -> ((s, dir) => {
      val ts = tokenSeqs(s, dir).withColumn("doc_id", col("doc_id").cast("long"))
      graft.table.Decontamination.bloomContaminated(
        ts.filter(col("doc_id") % 89 =!= 0), ts.filter(col("doc_id") % 89 === 0),
        "doc_id", "tokens", minHits = 2, expectedItems = 65536L)
        .select(col("id").as("doc_id"), col("n_hits"))
    }),

    // ---- row-level constraint validation over derived token_sequences ----
    "q_row_violations" -> ((s, dir) =>
      RowValidator.violations(tokenSeqs(s, dir), SchemaParser.parse(docSchemaJson), "doc_id")
        .select("doc_id", "keyword").distinct()),
    "q_violation_counts" -> ((s, dir) =>
      RowValidator.violations(tokenSeqs(s, dir), SchemaParser.parse(docSchemaJson), "doc_id")
        .groupBy("keyword").agg(count(lit(1)).as("cnt"))),

    // ---- full pipeline: per-partition pass/fail manifest (the north-rule
    //      artifact end-to-end — fused scan, row constraints, uniqueness,
    //      RI, per-partition verdicts). Drift is off (no baseline) so the
    //      verdict is the deterministic violation_count == 0 gate; sketch
    //      metrics (HLL/t-digest) ride the manifest but are not selected ----
    "q_partition_verdicts" -> ((s, dir) => {
      import s.implicits._
      val dim = (0 to 15).map(i => s"src$i").toDF("source")
      val res = graft.run.ValidationPipeline.run(
        s, tokenSeqs(s, dir), Some(dim), None,
        graft.run.PipelineConfig(schemaJson = docSchemaJson, partCol = "source"),
        runId = "verify")
      res.manifest.select(col("partition_key"), col("row_count"),
        col("violation_count"), col("verdict"))
    }),

    // ---- full pipeline with a per-partition expectation suite riding the
    //      stats aggregation: the mean-n_tok gate fails for some sources ----
    "q_pipeline_expectations" -> ((s, dir) => {
      import s.implicits._
      val dim = (0 to 15).map(i => s"src$i").toDF("source")
      val res = graft.run.ValidationPipeline.run(
        s, tokenSeqs(s, dir), Some(dim), None,
        graft.run.PipelineConfig(schemaJson = docSchemaJson, partCol = "source",
          expectations = Seq(
            graft.table.Expectations.MeanBetween("n_tok", 0.0, 55.0),
            graft.table.Expectations.NullRateMax("source", 0.0))),
        runId = "verify-exp")
      res.manifest.select(col("partition_key"), col("row_count"),
        col("violation_count"),
        element_at(col("metrics"), "expectations_failed").cast("long")
          .as("expectations_failed"),
        col("verdict"))
    }),

    // ---- composite-key uniqueness: (source, lang) tuple counts ----
    "q_dup_composite" -> ((s, dir) =>
      TableChecks.duplicatesComposite(t(s, dir, "documents"), Seq("source", "lang"))
        .select(col("source"), col("lang"), col("cnt"))),

    // ---- functional dependency: does source determine lang? (it doesn't —
    // every source carries several langs; the violating determinants ARE
    // the answer) ----
    "q_fd_violations" -> ((s, dir) =>
      TableChecks.fdViolations(t(s, dir, "documents"), Seq("source"), "lang")),

    // ---- ordering integrity: per-user event-time monotone in event_id
    // order (clean data: every user verdicts monotone, counts vary) ----
    "q_order_integrity" -> ((s, dir) =>
      TableChecks.orderingIntegrity(t(s, dir, "events"),
        "user_id", "event_id", "ts")),

    // ---- trend anomalies: daily event counts per type, median/MAD fences ----
    "q_trend_anomaly" -> ((s, dir) => {
      val series = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("v"))
      TableChecks.trendAnomalies(series, "event_type", "day", "v")
        .select(col("event_type"), col("day"), col("value"),
          round(col("med"), 4).as("med"), round(col("mad"), 4).as("mad"),
          col("is_anomaly"))
    }),

    // ---- multivariate drift: per-event-type corr(value, time) vs global ----
    "q_corr_drift" -> ((s, dir) =>
      TableChecks.corrDrift(t(s, dir, "events"), "event_type", "value", "ts",
          eps = 0.01)
        .select(col("event_type"), col("n"),
          round(col("corr_group"), 6).as("corr_group"),
          round(col("corr_global"), 6).as("corr_global"),
          round(col("corr_diff"), 6).as("corr_diff"), col("drifted"))),

    // ---- skew diagnosis: Misra-Gries candidates + exact second pass ----
    "q_heavy_hitters" -> ((s, dir) =>
      TableChecks.heavyHitters(t(s, dir, "events"), "user_id", minShare = 0.008)
        .withColumn("share", round(col("share"), 6))),

    // ---- incremental snapshot revalidation: two appends validated as
    //      deltas, merged sketch state reproducing the FULL-table manifest
    //      (same oracle formula as q_partition_verdicts — the point: the
    //      second run never rescans the first snapshot's payload).
    //      The snapshot COMMITS (bulk parquet writes of the payload) and the
    //      first delta's validation are one-time setup, memoized per input
    //      dir — what this query times is the OPERATOR: revalidating the
    //      second append against the persisted (manifest-sized) state. Each
    //      invocation copies that small state dir so reps re-run the real
    //      delta validation, never the "nothing new" fast path. ----
    "q_incremental_manifest" -> ((s, dir) => {
      import s.implicits._
      val dim = (0 to 15).map(i => s"src$i").toDF("source")
      val cfg = graft.run.PipelineConfig(schemaJson = docSchemaJson,
        partCol = "source", driftNumCol = None, driftCatCol = None)
      val (storePath, statePath) = incrPrepared.getOrElseUpdate(dir, {
        val ts = tokenSeqs(s, dir)
        val idNum = col("doc_id").cast("long")
        val sp = java.nio.file.Files.createTempDirectory("graft-incr-q").toString
        val st = java.nio.file.Files.createTempDirectory("graft-incr-st").toString
        val store = new graft.snapshot.AppendSnapshotStore(s, sp)
        store.commitAppend("seqs", ts.filter(idNum % 3 =!= 0), "source")
        graft.run.IncrementalValidation.validateDeltaAndCommit(
          s, store, "seqs", Some(dim), None, cfg, st, "incr-1")
        store.commitAppend("seqs", ts.filter(idNum % 3 === 0), "source")
        (sp, st)
      })
      val store = new graft.snapshot.AppendSnapshotStore(s, storePath)
      val freshState = java.nio.file.Files.createTempDirectory("graft-incr-rep").toString
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(statePath), new java.io.File(freshState))
      graft.run.IncrementalValidation.validateDelta(
        s, store, "seqs", Some(dim), None, cfg, freshState, "incr-2")
        .manifest.select(col("partition_key"), col("row_count"),
          col("violation_count"), col("verdict"))
    }),

    // ---- canonical derived table aggregate (derivation correctness) ----
    "q_token_stats" -> ((s, dir) =>
      tokenSeqs(s, dir).groupBy("source").agg(
        count(lit(1)).as("cnt"), sum("n_tok").as("sum_ntok"),
        min("n_tok").as("min_ntok"), max("n_tok").as("max_ntok"))),

    // ---- document fingerprint (order-sensitive rolling hash) ----
    "q_fingerprint" -> ((s, dir) =>
      tokenSeqs(s, dir).select(col("doc_id"),
        TextAnalysis.fingerprint(col("tokens")).as("fp"))),

    // ---- dedup: exact (by normalized content) — the full texts are all
    //      unique in this data, so dedup keys on the leading-5-word prefix
    //      (a standard normalized-content key) to produce real dup groups ----
    "q_exact_dup" -> ((s, dir) =>
      Dedup.exactDuplicates(
        t(s, dir, "documents")
          .withColumn("text_norm", array_join(slice(split(col("text"), " "), 1, 5), " ")),
        "doc_id", "text_norm")
        .select(col("text_norm"), col("dup_count"))),
    "q_dedup_keep_count" -> ((s, dir) =>
      Dedup.dropExactDuplicates(t(s, dir, "documents"), "doc_id", "text")
        .agg(count(lit(1)).as("cnt"))),

    // ---- dedup: corpus-level repeated-paragraph removal (sub-document
    //      granularity). Paragraphs = 4-word segments of the synthetic text;
    //      any segment seen earlier (corpus-wide (doc_id, pos) order) is
    //      dropped from later documents; segments < 10 chars are exempt ----
    "q_para_dedup" -> ((s, dir) => {
      // native one-pass 4-word chunking: the HOF form (transform + slice of
      // split) re-split the text per chunk, interpreted — it dominated this
      // query's cost
      val paras = graft.expr.TextExprs.wordChunks(col("text"), 4)
      Dedup.dropRepeatedParagraphs(
        t(s, dir, "documents").select(col("doc_id"), paras.as("paras")),
        "doc_id", "paras", minChars = 10)
        // array<string> → scalar for the pandas-sorting harness (unit-
        // separator-joined; paragraphs never contain 0x1F). Oracle: chr(31).
        .withColumn("clean_paras", array_join(col("clean_paras"), "\u001f"))
    }),

    // ---- dedup: exact-substring (repeated token-window) removal, Lee et
    //      al. 2022 ExactSubstr semantics at window granularity: every token
    //      covered by an 8-token window whose content occurs earlier in the
    //      corpus ((doc_id, pos) order) is cut; first occurrences survive ----
    "q_span_dedup" -> ((s, dir) =>
      Dedup.dropRepeatedSpans(
        tokenSeqs(s, dir).withColumn("doc_id", col("doc_id").cast("long")),
        "doc_id", "tokens", winLen = 8)
        // array<int> → comma-joined scalar for the pandas-sorting harness
        .withColumn("clean_tokens",
          array_join(col("clean_tokens").cast("array<string>"), ","))),

    // ---- dedup: pair-graph clustering (connected components) — collapses
    //      transitive near-dup chains (A~B, B~C ⇒ {A,B,C}) into one group.
    //      The edge relation is deterministic over doc_id (chains broken at
    //      multiples of 5, long-range merges at multiples of 11) so the
    //      DuckDB recursive-CTE oracle reproduces it exactly ----
    "q_dup_clusters" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val e1 = docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") > 0)
        .select(col("doc_id").as("a"), (col("doc_id") - 1).as("b"))
      val e2 = docs.filter(col("doc_id") % 11 === 0 && col("doc_id") >= 7)
        .select(col("doc_id").as("a"), (col("doc_id") - 7).as("b"))
      val cc = graft.table.Components.connectedComponents(e1.union(e2), "a", "b")
      docs.join(cc, col("doc_id") === col("node"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("component"))
    }),

    // ---- dedup: n-gram (3-shingle) Jaccard pairs ----
    "q_jaccard_pairs" -> ((s, dir) =>
      Dedup.jaccardPairs(tokenSeqs(s, dir).withColumn("doc_id", col("doc_id").cast("long")),
        "doc_id", "tokens", minJaccard = 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))),

    // ---- dedup: MinHash-LSH candidate pairs + exact verify ----
    "q_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLshPairs(tokenSeqs(s, dir).withColumn("doc_id", col("doc_id").cast("long")),
        "doc_id", "tokens", minJaccard = 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))),

    // ---- dedup: sub-document overlap-coefficient pairs (boilerplate /
    //      containment near-dups that Jaccard under-scores) ----
    "q_containment" -> ((s, dir) =>
      Dedup.containmentPairs(tokenSeqs(s, dir).withColumn("doc_id", col("doc_id").cast("long")),
        "doc_id", "tokens", minOverlap = 0.6)
        .select(col("id_a"), col("id_b"), round(col("overlap"), 6).as("overlap"))),

    // ---- dedup: END-TO-END fuzzy dedup (MinHash-LSH pairs → connected
    //      components → cluster label per doc; component = id marks keepers) ----
    "q_fuzzy_dedup" -> ((s, dir) =>
      Dedup.fuzzyDedupClusters(
        tokenSeqs(s, dir).withColumn("doc_id", col("doc_id").cast("long")),
        "doc_id", "tokens", minJaccard = 0.5)
        .select(col("id").as("doc_id"), col("component"))),

    // ---- dedup: QUALITY-AWARE fuzzy dedup — each near-dup cluster keeps its
    //      best row (max n_chars, ties → min id) instead of the min id;
    //      clusters from the same MinHash-LSH pair graph as q_fuzzy_dedup ----
    "q_fuzzy_keep_best" -> ((s, dir) => {
      val seqs = tokenSeqs(s, dir).withColumn("doc_id", col("doc_id").cast("long"))
      val pairs = Dedup.minhashLshPairs(seqs, "doc_id", "tokens", minJaccard = 0.5)
      graft.table.Components.dedupByPairsKeepBest(
        t(s, dir, "documents")
          .select(col("doc_id").cast("long").as("doc_id"), col("n_chars")),
        "doc_id", "n_chars", pairs, "id_a", "id_b")
    }),

    // ---- dedup: INCREMENTAL append-only fuzzy dedup — only pairs involving
    //      at least one fresh doc (fresh = doc_id ≥ 400 stands in for today's
    //      crawl increment); prior candidates come from the persisted
    //      signature table, prior tokens are read only to verify survivors ----
    "q_incr_dedup" -> ((s, dir) => {
      val seqs = tokenSeqs(s, dir).withColumn("doc_id", col("doc_id").cast("long"))
      val prior = seqs.filter(col("doc_id") < 400)
      val fresh = seqs.filter(col("doc_id") >= 400)
      Dedup.incrementalLshPairs(prior, fresh, "doc_id", "tokens", minJaccard = 0.5,
        priorSigs = Some(Dedup.minhashSignatures(prior, "doc_id", "tokens")))
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    }),

    // ---- dedup: END-TO-END semantic dedup over embeddings (cosine pairs →
    //      connected components → cluster label; component = id = keeper) ----
    "q_semantic_dedup" -> ((s, dir) =>
      Dedup.semanticDedupClusters(
        t(s, dir, "embeddings").filter(col("vec_id") < 200),
        "vec_id", "embedding", minCosine = 0.3)
        .select(col("id").as("vec_id"), col("component"))),

    // ---- dedup: SimHash signatures (portable bit arithmetic) ----
    "q_simhash" -> ((s, dir) =>
      tokenSeqs(s, dir).withColumn("doc_id", col("doc_id").cast("long"))
        .filter(col("doc_id") < 50)
        .select(col("doc_id"), Dedup.simhash32(col("tokens")).as("sig"))),

    // ---- dedup: SimHash near-dups within hamming ≤ 3 (banded buckets) ----
    "q_simhash_band" -> ((s, dir) =>
      Dedup.simhashNearDups(
        tokenSeqs(s, dir).withColumn("doc_id", col("doc_id").cast("long")),
        "doc_id", "tokens", maxHamming = 3)),

    // ---- similarity: brute-force cosine top-3 ANN ----
    "q_ann_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10)
          .withColumnRenamed("vec_id", "query_id"),
        "vec_id", "embedding", "query_id", k = 3)
        .select(col("query_id"), col("item_id"), round(col("cosine"), 6).as("cosine"),
          col("rank"))
    }),

    // ---- similarity: embedding near-duplicate pairs (exact baseline; the
    //      synthetic embeddings are near-orthogonal, so 0.3 is the threshold
    //      that yields real pairs — 0.8 returned 0 rows, a vacuous check) ----
    "q_near_dup_cosine" -> ((s, dir) =>
      Dedup.embeddingNearDups(t(s, dir, "embeddings").filter(col("vec_id") < 200),
        "vec_id", "embedding", minCosine = 0.3)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))),

    // ---- similarity: sign-LSH bucketed near-dup pairs (the scale path —
    //      no cartesian anywhere in the plan) ----
    "q_lsh_near_dup" -> ((s, dir) =>
      Dedup.lshNearDups(t(s, dir, "embeddings"), "vec_id", "embedding",
        minCosine = 0.3, numPlanes = 4, numTables = 4)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))),

    // ---- similarity: LSH-bucketed ANN top-k (bucket join + exact re-rank) ----
    "q_ann_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb,
        emb.filter(col("vec_id") < 10).withColumnRenamed("vec_id", "query_id"),
        "vec_id", "embedding", "query_id", k = 3, numPlanes = 4, numTables = 4)
        .select(col("query_id"), col("item_id"), round(col("cosine"), 6).as("cosine"),
          col("rank"))
    }),

    // ---- similarity: IVF-flat ANN top-k (Voronoi cells around deterministic
    //      centroids; probe the nprobe nearest cells, exact re-rank) ----
    "q_ann_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb,
        emb.filter(col("vec_id") < 10).withColumnRenamed("vec_id", "query_id"),
        "vec_id", "embedding", "query_id", k = 3, nlist = 8, nprobe = 2)
        .select(col("query_id"), col("item_id"), round(col("cosine"), 6).as("cosine"),
          col("rank"))
    }),

    // ---- drift: PSI time series — which DAY the event-type mix shifted
    //      (consecutive-bucket drift localization) ----
    "q_drift_series" -> ((s, dir) =>
      TableChecks.driftSeries(t(s, dir, "events"), "ts", "event_type", "day")
        .select(date_format(col("bkt"), "yyyy-MM-dd").as("day"),
          col("psi"), col("n_categories"))),

    // ---- row engine: deterministic violation TRIAGE sample (k distinct
    //      offending docs per keyword, md5-ranked — the bounded artifact a
    //      dashboard attaches instead of 10^12 violation rows) ----
    "q_violation_sample" -> ((s, dir) =>
      graft.row.RowValidator.sampleViolations(tokenSeqs(s, dir),
        graft.model.SchemaParser.parse(docSchemaJson), "doc_id", k = 5)),

    // ---- row engine: schema-driven REPAIR (clamp/truncate/quarantine per
    //      the keyword IR; the write-side complement of violations()) ----
    "q_repair" -> ((s, dir) => {
      val (rep, _) = graft.row.Repair.repair(tokenSeqs(s, dir),
        graft.model.SchemaParser.parse(docSchemaJson))
      rep.select(col("doc_id"),
        coalesce(col("source"), lit("__quarantined")).as("source_r"),
        col("n_tok").as("n_tok_r"),
        TextAnalysis.fingerprint(col("tokens")).as("fp_r"))
    }),

    // ---- tokens: sanitization guard (OOV ids clamped to UNK, per-row OOV
    //      count; zero-shuffle codegen'd projection) ----
    "q_sanitize" -> ((s, dir) => {
      val san = TokenSeqs.sanitize(tokenSeqs(s, dir), vocab = 4096, unkId = 0)
      san.select(col("doc_id"), col("n_oov"),
        TextAnalysis.fingerprint(col("tokens")).as("fp_clean"))
    }),

    // ---- tokens: packing-efficiency report (per-stream tail waste at a
    //      given seqLen; one |streams|-row aggregation, payload never read) ----
    "q_pack_stats" -> ((s, dir) =>
      Packing.packingStats(tokenSeqs(s, dir), seqLen = 256)),

    // ---- snapshot store: manifest file-skipping read (Iceberg-style) —
    //      three range-disjoint snapshots committed with per-file footer
    //      stats, then readAsOfWhere prunes whole files on the driver; the
    //      oracle is the plain filtered aggregate (results must be identical
    //      no matter how many files were skipped) ----
    "q_pruned_read" -> ((s, dir) => {
      // the three snapshot COMMITS are one-time setup (memoized per input
      // dir — the store is read-only afterwards); what this query times is
      // the OPERATOR: the stats-pruned snapshot read + aggregate
      val storePath = prunePrepared.getOrElseUpdate(dir, {
        val sp = java.nio.file.Files.createTempDirectory("graft-prune-q").toString
        val st = new graft.snapshot.AppendSnapshotStore(s, sp)
        val docs = t(s, dir, "documents")
        st.commitAppend("docs", docs.filter(col("n_chars") < 300), "source")
        st.commitAppend("docs",
          docs.filter(col("n_chars") >= 300 && col("n_chars") < 600), "source")
        st.commitAppend("docs", docs.filter(col("n_chars") >= 600), "source")
        sp
      })
      new graft.snapshot.AppendSnapshotStore(s, storePath)
        .readAsOfWhere("docs", "n_chars", 350L, 500L)
        .groupBy("source")
        .agg(count(lit(1)).as("cnt"), sum("n_chars").as("sum_chars"))
    }),

    // ---- dedup: WITHIN-document repeated-line removal (C4 rule at line
    //      granularity; zero-shuffle codegen'd projection) ----
    "q_line_dedup" -> ((s, dir) => {
      val paras = graft.expr.TextExprs.wordChunks(col("text"), 4)
      t(s, dir, "documents")
        .select(col("doc_id"), size(paras).as("n_paras"),
          TextAnalysis.dedupDocLines(paras, minLen = 10).as("clean"))
        .select(col("doc_id"), col("n_paras"), size(col("clean")).as("n_kept"),
          array_join(col("clean"), "|").as("clean_text"))
    }),

    // ---- sampling: deterministic train/val/test split assignment ----
    "q_split_assign" -> ((s, dir) =>
      Sampling.assignSplits(t(s, dir, "documents"), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy("split")
        .agg(count(lit(1)).as("cnt"), sum("n_chars").as("sum_chars"))),

    // ---- sampling: LEAKAGE-SAFE split — every near-dup cluster lands in
    //      one split (hash of the cluster representative); n_leaky counts
    //      clusters spanning >1 split and must be 0 by construction ----
    "q_leak_split" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val e1 = docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") > 0)
        .select(col("doc_id").as("a"), (col("doc_id") - 1).as("b"))
      val e2 = docs.filter(col("doc_id") % 11 === 0 && col("doc_id") >= 7)
        .select(col("doc_id").as("a"), (col("doc_id") - 7).as("b"))
      val cc = graft.table.Components.connectedComponents(e1.union(e2), "a", "b")
      val withKey = docs.join(cc, docs("doc_id") === col("node"), "left")
        .withColumn("skey", coalesce(col("component"), col("doc_id")))
      val sp = Sampling.assignSplits(withKey, "skey",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      val leaky = sp.groupBy("skey")
        .agg(countDistinct(col("split")).as("ns"))
        .agg(sum(when(col("ns") > 1, 1L).otherwise(0L)).as("n_leaky"))
      sp.groupBy("split").agg(count(lit(1)).as("cnt")).crossJoin(leaky)
    }),

    // ---- sampling: temperature-flattened data mixing (shares ∝ w^(1/τ)) ----
    "q_mix_temp" -> ((s, dir) =>
      Sampling.mixWithTemperature(t(s, dir, "documents"), "source", "doc_id",
        "n_chars", tau = 2.0)
        .groupBy("source")
        .agg(count(lit(1)).as("cnt"), sum("n_chars").as("sum_chars"))),

    // ---- similarity: mean-pooled embedding per label (chunk→doc pooling
    //      shape; exact integer sums in the quantized grid) ----
    "q_mean_pool" -> ((s, dir) =>
      Similarity.meanPoolQuantized(t(s, dir, "embeddings"), "label", "embedding")),

    // ---- similarity: one exact-arithmetic k-means (Lloyd) refinement step
    //      over the quantized grid — the IVF centroid trainer's inner loop,
    //      deterministic and engine-portable (see Similarity.kmeansRefineStep) ----
    "q_kmeans_refine" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val init = Similarity.kmeansInit(emb, "vec_id", "embedding", k = 8)
      Similarity.kmeansRefineStep(emb, "vec_id", "embedding", init)
    }),

    // ---- text analysis: DSIR importance weights (hashed-bigram log-ratio
    //      vs the English-target subset; see TextAnalysis.dsirLogWeights) ----
    "q_dsir_weights" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = graft.expr.TextExprs.asciiTokens(col("text"))
      TextAnalysis.dsirLogWeights(docs, docs.filter(col("lang") === "en"),
        "doc_id", toks)
    }),

    // ---- text analysis: language ID ----
    "q_langid" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.languageId(col("text")).as("lang_pred"))),

    // ---- text analysis: quality features ----
    "q_quality" -> ((s, dir) =>
      TextAnalysis.qualityFeatures(t(s, dir, "documents"), "text")
        .select(col("doc_id"), col("n_words"),
          round(col("punct_ratio"), 6).as("punct_ratio"),
          round(col("stopword_ratio"), 6).as("stopword_ratio"),
          round(col("quality_score"), 6).as("quality_score"))),

    // ---- text analysis: token counting ----
    "q_token_counts" -> ((s, dir) =>
      TextAnalysis.tokenCounts(t(s, dir, "documents"), "text")
        .select(col("doc_id"), col("ws_tokens"), col("bpe_est_tokens"))),

    // ---- text analysis: corpus-level hot-shingle coverage (fraction of a
    //      doc's shingles among the corpus top-K — boilerplate detection) ----
    "q_hot_shingles" -> ((s, dir) =>
      TextAnalysis.hotShingleCoverage(
        tokenSeqs(s, dir).withColumn("doc_id", col("doc_id").cast("long")),
        "doc_id", "tokens", topK = 100)
        .select(col("id").as("doc_id"), col("n_sh"), col("hot_hits"),
          round(col("hot_coverage"), 6).as("hot_coverage"))),

    // ---- text analysis: within-document repetition (duplicate-bigram
    //      fraction — the Gopher repetition quality filter) ----
    //      Exact integer counts (total + distinct bigrams) are emitted rather
    //      than the rounded ratio: double division lands on opposite sides of
    //      a 6dp rounding boundary across engines; integers never do. The
    //      ratio 1 − n_distinct/n_grams stays derivable downstream.
    "q_ngram_repeat" -> ((s, dir) =>
      tokenSeqs(s, dir)
        .select(col("doc_id"),
          TextAnalysis.dupBigramStats(col("tokens")).as("_p"))
        .select(col("doc_id"),
          shiftright(col("_p"), 32).as("n_grams"),
          col("_p").bitwiseAND(lit(0xFFFFFFFFL)).as("n_distinct"))),

    // ---- text analysis: canonical normalization (NFC + lower + ws-collapse) ----
    "q_normalize" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.normalize(col("text")).as("norm"))),

    // ---- text analysis: CCNet-style corpus-LM quality score — per-doc mean
    //      negative log-likelihood under the corpus-trained unigram model ----
    "q_unigram_lm" -> ((s, dir) =>
      TextAnalysis.unigramLmScore(t(s, dir, "documents"), "doc_id", "text")),

    // ---- text analysis: TF-IDF top-k keyword tags per document
    //      (deterministic tie-break: rounded score desc, token asc) ----
    "q_tfidf_topk" -> ((s, dir) =>
      TextAnalysis.tfidfTopK(t(s, dir, "documents"), "doc_id", "text", k = 3)),

    // ---- text analysis: PII scan + redaction. The synthetic corpus is
    //      clean, so known PII is injected deterministically (doc_id-keyed)
    //      in BOTH engines; the scan counts per category and the redacted
    //      text is hash-compared end to end ----
    "q_pii_scan" -> ((s, dir) => {
      val injected = t(s, dir, "documents").withColumn("text2", concat(col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" mailto user"), col("doc_id").cast("string"), lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit(" call 555-867-5309")).otherwise(lit("")),
        when(col("doc_id") % 13 === 0, lit(" host 192.168.10.1")).otherwise(lit(""))))
      TextAnalysis.piiScan(injected, "text2")
        .filter(col("has_pii"))
        .select(col("doc_id"), col("email_hits"), col("card_hits"), col("ssn_hits"),
          col("phone_hits"), col("ipv4_hits"), col("pii_total"),
          TextAnalysis.piiRedact(col("text2")).as("redacted"))
    }),

    // ---- text analysis: Gopher/C4 document-quality rules with keep verdict ----
    "q_gopher_filter" -> ((s, dir) =>
      TextAnalysis.gopherQualityFlags(t(s, dir, "documents"), "text")
        .select(col("doc_id"), col("n_words"),
          round(col("mean_word_len"), 6).as("mean_word_len"),
          col("ok_word_count"), col("ok_mean_word_len"),
          col("ok_stopwords"), col("ok_symbol_ratio"), col("keep"))),

    // ---- END-TO-END corpus curation: lang → quality → exact dedup → fuzzy
    //      dedup → decontaminate, with the per-stage attrition report as the
    //      oracled output (each stage is an already-oracled operator) ----
    "q_curation" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 97 === 0)
      graft.table.Curation.curate(docs, "doc_id", "text", "lang", bench)._2
    }),

    // ---- sampling: deterministic hash-keyed stratified sample (data-mixing
    //      weights per language; reproducible across engines and runs) ----
    "q_strat_sample" -> ((s, dir) =>
      Sampling.stratifiedSample(t(s, dir, "documents"), "lang", "doc_id",
        Map("en" -> 0.2), default = 0.5)
        .select(col("doc_id"), col("lang"))),

    // ---- sampling: exact-k-per-stratum deterministic reservoir ----
    "q_sample_k" -> ((s, dir) =>
      Sampling.exactKPerStratum(t(s, dir, "documents"), "lang", "doc_id", k = 5)
        .select(col("doc_id"), col("lang"))),

    // ---- sampling: down-mix to a target char-weighted source mixture ----
    "q_mix_sample" -> ((s, dir) =>
      Sampling.mixToTarget(t(s, dir, "documents"), "source", "doc_id", "n_chars",
        Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))
        .groupBy("source")
        .agg(count(lit(1)).as("cnt"), sum("n_chars").as("sum_chars"))),

    // ---- training-sequence shaping: sliding-window chunking of long docs
    //      into fixed-length windows (map-side explode, zero shuffles) ----
    "q_chunk_split" -> ((s, dir) =>
      Packing.chunkSequences(tokenSeqs(s, dir), seqLen = 128, stride = 96)
        // array<int> → comma-joined scalar for the pandas-sorting harness
        .withColumn("chunk_tokens",
          array_join(col("chunk_tokens").cast("array<string>"), ","))),

    // ---- training-sequence shaping: GPT-style concat-then-cut pack
    //      assignments (per-source streams in doc_id order, one EOS slot per
    //      doc; per-stream window sum — no global ordering anywhere) ----
    "q_pack_assign" -> ((s, dir) =>
      Packing.packAssignments(tokenSeqs(s, dir), seqLen = 256)),

    // ---- training-sequence shaping: materialized packed sequences with an
    //      explicit EOS separator (vocab < 4096 ⇒ eos = 4096); every group
    //      aggregation buffer is bounded by seqLen tokens ----
    "q_packed_seqs" -> ((s, dir) =>
      Packing.packedSequences(tokenSeqs(s, dir), seqLen = 256, eosId = 4096)
        // array<int> → comma-joined scalar for the pandas-sorting harness
        .withColumn("packed",
          array_join(col("packed").cast("array<string>"), ","))),

    // ---- training-sequence shaping: deterministic shard + intra-shard
    //      position from the rolling content fingerprint (reproducible
    //      corpus shuffle without a global sort) ----
    "q_shard_order" -> ((s, dir) =>
      Packing.shardOrder(tokenSeqs(s, dir), numShards = 8)),

    // ---- multimodal plumbing: opaque binary payload + metadata extraction
    //      (graft.table.Multimodal; codecs stubbed, schema/batching real) ----
    "q_multimodal_meta" -> ((s, dir) =>
      t(s, dir, "documents")
        .withColumn("payload", encode(col("text"), "UTF-8").cast("binary"))
        .select(col("doc_id"),
          length(col("payload")).cast("long").as("byte_len"),
          md5(col("payload")).as("fingerprint"),
          ceil(length(col("payload")) / lit(64.0)).cast("long").as("n_frames"))),

    // ---- event-time windowed aggregation (the batch form of the streaming
    //      windowed violation counts; StreamingValidation runs the same agg) ----
    "q_window_bucket" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
        .select(col("w.start").as("w_start"), col("event_type"),
          col("cnt"), round(col("sum_value"), 4).as("sum_value"))),

    // ---- STRUCTURED STREAMING, driver-oracled: the same dataflows as their
    //      batch twins but executed through readStream → transform →
    //      writeStream with an availableNow trigger (real micro-batch
    //      execution, memory sink). Deterministic: the final table equals
    //      the batch answer, so each reuses its batch twin's oracle SQL. ----
    // stateless row validation on a stream (append mode)
    "q_stream_violations" -> ((s, dir) => {
      val docs = streamTable(s, dir, "documents")
      val out = graft.streaming.StreamingValidation.violations(
        TokenSeqs.fromDocuments(docs), SchemaParser.parse(docSchemaJson), "doc_id")
        .select("doc_id", "keyword")
      runStream(s, out, "append").distinct()
    }),
    // watermarked event-time windowed aggregation (complete mode)
    "q_stream_window" -> ((s, dir) => {
      val ev = streamTable(s, dir, "events")
        // event-time columns must be TIMESTAMP (LTZ); the table stores NTZ.
        // Session TZ is pinned UTC, so the round-trip back to NTZ below is
        // value-preserving and matches the batch twin's output type.
        .withColumn("ts", col("ts").cast("timestamp"))
      val out = ev.withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
        .select(col("w.start").cast("timestamp_ntz").as("w_start"), col("event_type"),
          col("cnt"), round(col("sum_value"), 4).as("sum_value"))
      runStream(s, out, "complete")
    }),
    // stateless stream-static referential integrity (broadcast anti-join)
    "q_stream_ri" -> ((s, dir) => {
      val docs = streamTable(s, dir, "documents")
      val dim = t(s, dir, "documents").select("source").distinct()
        .filter(!col("source").isin("src16", "src17", "src18", "src19"))
      val out = graft.streaming.StreamingValidation.streamingRiViolations(
        docs, dim, "source", "source", "doc_id")
        .select(col("doc_id"), col("message"))
      runStream(s, out, "append")
    }),
    // streaming fuzzy dedup against the accumulated corpus: docs < 400 are
    // the pre-seeded store (data + persisted MinHash signatures); the stream
    // delivers the fresh docs and each micro-batch is near-dup-checked
    // against everything accumulated before it, then committed. The union of
    // per-batch pair emissions equals the batch incremental pair set (every
    // qualifying pair surfaces exactly once, when its later side arrives),
    // so the oracle is q_incr_dedup's fresh-restricted replay.
    "q_stream_dedup" -> ((s, dir) => {
      // seed-corpus setup (snapshot commit + signature write) is one-time,
      // memoized per input dir; each invocation COPIES the pristine seed
      // store/sig dirs (the stream appends to them, so reps need a fresh
      // copy) — the timed work is the streaming dedup itself
      val (seedStore, seedSigs) = sdedupPrepared.getOrElseUpdate(dir, {
        val seqs = tokenSeqs(s, dir).withColumn("doc_id", col("doc_id").cast("long"))
        val prior = seqs.filter(col("doc_id") < 400)
        val sp = java.nio.file.Files.createTempDirectory("graft-sdedup-seed").toString
        val sg = java.nio.file.Files.createTempDirectory("graft-sdedup-seedsig").toString
        new graft.snapshot.AppendSnapshotStore(s, sp)
          .commitAppend("docs", prior, "source")
        Dedup.minhashSignatures(prior, "doc_id", "tokens")
          .write.parquet(s"$sg/batch=seed")
        (sp, sg)
      })
      val storeDir = java.nio.file.Files.createTempDirectory("graft-sdedup").toString
      val sigDir = java.nio.file.Files.createTempDirectory("graft-sdedup-sig").toString
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(seedStore), new java.io.File(storeDir))
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(seedSigs), new java.io.File(sigDir))
      val store = new graft.snapshot.AppendSnapshotStore(s, storeDir)
      val fresh = TokenSeqs.fromDocuments(streamTable(s, dir, "documents"))
        .withColumn("doc_id", col("doc_id").cast("long"))
        .filter(col("doc_id") >= 400)
      // filled from the micro-batch thread, read here after termination
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]()
      val q = graft.streaming.StreamingDedup.nearDupSink(fresh, store, "docs",
          sigDir, "doc_id", "tokens", "source", minJaccard = 0.5,
          onPairs = p => p.select(col("id_a"), col("id_b"),
            round(col("jaccard"), 6).as("jaccard")).collect().foreach(buf.add))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id_a",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("id_b",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("jaccard",
          org.apache.spark.sql.types.DoubleType)))
      s.createDataFrame(new java.util.ArrayList(buf), schema)
    }),

    // ---- t-digest quantile sketch (custom TypedImperativeAggregate).
    //      DuckDB cannot reproduce the sketch itself, so the driver-checkable
    //      contract is a tolerance check: the query emits the EXACT quantiles
    //      (hash-compared against quantile_cont) plus `ok_*` booleans
    //      |tdigest_p − exact_p| ≤ 2%·max(|exact_p|,1); the oracle asserts the
    //      booleans are all true. A drifting sketch flips ok_* to false and
    //      the driver hash goes red. (Accuracy is additionally pinned against
    //      exact quantiles across distributions in TDigestSpec.) ----
    "q_tdigest_ntok" -> ((s, dir) => {
      val probs = Seq(0.5, 0.95, 0.99)
      val agged = t(s, dir, "documents").agg(
        graft.functions.TDigestQuantiles(col("n_chars"), probs, 100.0).as("td"),
        expr("percentile(n_chars, array(0.5D, 0.95D, 0.99D))").as("ex"))
      val cols = probs.zipWithIndex.flatMap { case (p, i) =>
        val tag = (p * 100).toInt
        Seq(
          round(element_at(col("ex"), i + 1), 4).as(s"exact_p$tag"),
          (abs(element_at(col("td"), i + 1) - element_at(col("ex"), i + 1)) <=
            lit(0.02) * greatest(abs(element_at(col("ex"), i + 1)), lit(1.0)))
            .as(s"ok_p$tag"))
      }
      agged.select(cols: _*)
    }),

    // ---- untyped-JSON ingestion: from_json into the schema-derived struct,
    //      validated by the same compiled plan (graft.sources.JsonIngest) ----
    "q_json_ingest" -> ((s, dir) => {
      val doc = SchemaParser.parse(
        """{"type":"object","required":["k"],
           "properties":{"k":{"type":"integer","minimum":0,"maximum":50}}}""")
      graft.sources.JsonIngest.ingest(t(s, dir, "events"), "props", doc)
        .filter(!col("_valid"))
        .select(col("event_id"), explode(col("_violations")).as("v"))
        .select(col("event_id"), col("v.keyword").as("keyword"))
    }),

    // ---- data-driven schema inference: ONE-scan column profiling (min/max,
    //      null-based required, length bounds, bounded-state exact enum
    //      domain via CappedCollectSet) — the facet table that inferJson
    //      turns into a draft-2020-12 schema ----
    "q_infer_profile" -> ((s, dir) =>
      graft.model.SchemaInference.profile(t(s, dir, "documents"))),

    // ---- schema-facet drift: full corpus vs the en-only subset's profile —
    //      the domain-shift complement of the frequency drifts (KS/chi²/PSI):
    //      new enum values, widened bounds/lengths, new nulls, type changes ----
    "q_profile_drift" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.model.SchemaInference.profileDrift(
        docs, docs.filter(col("lang") === "en"))
    })
  )

  // =====================================================================

  def oracleSql: Map[String, String] = {
    val allowedSrc = (0 to 15).map(i => s"'src$i'").mkString(",")
    // MinHash coefficients — identical constants to Dedup.minhashCoeffs(16, 42)
    val coeffs = Dedup.minhashCoeffs(16)
    val Seq((sa, sb)) = Dedup.minhashCoeffs(1)
    val P = 2147483647L
    val shSql = "list_transform(range(1, greatest(len(toks)-2, 0)+1), " +
      "i -> toks[i]::BIGINT*16777216 + toks[i+1]::BIGINT*4096 + toks[i+2]::BIGINT)"
    def mh(j: Int): String = {
      val (a, b) = coeffs(j)
      s"list_min(list_transform(sh, s -> ((s % $P + $P) % $P * ${a}::BIGINT + $b) % $P))"
    }
    val stop = TextAnalysis.stopwords.values.flatten.toSeq.distinct
      .map(w => s"'$w'").mkString(",")
    def hits(lang: String): String = {
      val ws = TextAnalysis.stopwords(lang).map(w => s"'$w'").mkString(",")
      s"len(list_filter(string_split(text,' '), w -> w IN ($ws)))"
    }
    // MinHash-LSH pair CTE chain ending in `mpairs` (id_a, id_b, jaccard) —
    // shared by q_minhash_lsh, the q_fuzzy_dedup clustering oracle, and (via
    // the `source` parameter) the q_curation fuzzy stage over its filtered
    // survivor set. bok mirrors Spark's maxBucket=1000 hot-bucket cap.
    def minhashPairCtesFrom(source: String): String = {
      val bandKeys = (0 until 4).map { bi =>
        val parts = (0 until 4).map(j => s"(${mh(bi * 4 + j)})::VARCHAR")
        s"SELECT id, toks, $bi band, concat_ws('_', ${parts.mkString(", ")}) bkey FROM sig"
      }.mkString(" UNION ALL ")
      s"""ts AS ($source),
         sig AS (SELECT id, toks, list_distinct($shSql) sh FROM ts WHERE len(toks) > 2),
         bands0 AS ($bandKeys),
         bok AS (SELECT band, bkey FROM bands0 GROUP BY 1, 2 HAVING count(*) <= 1000),
         bands AS (SELECT bands0.* FROM bands0 JOIN bok USING (band, bkey)),
         cand AS (SELECT DISTINCT a.id id_a, b.id id_b, a.toks t_a, b.toks t_b
           FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id),
         v AS (SELECT id_a, id_b,
           len(list_intersect(
             list_distinct(list_transform(range(1, greatest(len(t_a)-2,0)+1), i -> t_a[i]::BIGINT*16777216 + t_a[i+1]::BIGINT*4096 + t_a[i+2]::BIGINT)),
             list_distinct(list_transform(range(1, greatest(len(t_b)-2,0)+1), i -> t_b[i]::BIGINT*16777216 + t_b[i+1]::BIGINT*4096 + t_b[i+2]::BIGINT))))::DOUBLE shared,
           len(list_distinct(list_transform(range(1, greatest(len(t_a)-2,0)+1), i -> t_a[i]::BIGINT*16777216 + t_a[i+1]::BIGINT*4096 + t_a[i+2]::BIGINT)))::DOUBLE n_a,
           len(list_distinct(list_transform(range(1, greatest(len(t_b)-2,0)+1), i -> t_b[i]::BIGINT*16777216 + t_b[i+1]::BIGINT*4096 + t_b[i+2]::BIGINT)))::DOUBLE n_b
           FROM cand),
         mpairs AS (SELECT id_a, id_b, round(shared / (n_a + n_b - shared), 6) AS jaccard
           FROM v WHERE shared / (n_a + n_b - shared) >= 0.5)"""
    }
    val minhashPairCtes: String =
      minhashPairCtesFrom(s"SELECT doc_id::BIGINT id, $tokSql toks FROM documents")

    Map(
      "q1_agg" ->
        s"""SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           count(*) AS cnt
           FROM lineitem WHERE l_shipdate <= '1998-09-01'
           GROUP BY 1, 2""",

      "q_join_agg" ->
        s"""SELECT c_mktsegment,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           count(*) AS n_orders
           FROM orders JOIN customer ON o_custkey = c_custkey
           GROUP BY 1""",

      "q_window_topk" ->
        """SELECT o_custkey, o_orderkey, rnk FROM (
           SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
           FROM orders) WHERE rnk <= 2""",

      "q_sort_limit" ->
        """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
           ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC LIMIT 10""",

      "q_anti_join" ->
        """SELECT c_custkey FROM customer
           WHERE c_custkey NOT IN
             (SELECT o_custkey FROM orders WHERE o_totalprice > 350000)""",

      "q_semi_join" ->
        """SELECT c_custkey FROM customer
           WHERE c_custkey IN (SELECT o_custkey FROM orders)""",

      "q_dup_userid" ->
        "SELECT user_id, count(*) AS cnt FROM events GROUP BY 1 HAVING count(*) > 1",

      "q_dup_salted" ->
        "SELECT user_id, count(*) AS cnt FROM events GROUP BY 1 HAVING count(*) > 1",

      "q_ri_violations" ->
        s"SELECT doc_id, source FROM documents WHERE source NOT IN ($allowedSrc)",

      "q_ri_large" ->
        s"SELECT doc_id, source FROM documents WHERE source NOT IN ($allowedSrc)",

      "q_snapshot_diff" ->
        s"""WITH ts AS (SELECT doc_id::VARCHAR doc_id, doc_id::BIGINT idn, $tokSql toks,
             len(string_split(text,' '))::INT n_tok, source FROM documents),
           cur AS (
             SELECT doc_id,
               CASE WHEN idn % 101 = 0 THEN list_transform(toks, tk -> (tk + 1)::INT)
                    ELSE toks END AS toks, n_tok, source
             FROM ts WHERE idn % 97 <> 0
             UNION ALL
             SELECT 'new_' || doc_id, toks, n_tok, source FROM ts WHERE idn % 103 = 0)
           SELECT coalesce(c.doc_id, b.doc_id) AS doc_id,
             CASE WHEN b.doc_id IS NULL THEN 'added'
                  WHEN c.doc_id IS NULL THEN 'removed'
                  ELSE 'changed' END AS diff_kind,
             coalesce(array_to_string(
               CASE WHEN c.doc_id IS NULL OR b.doc_id IS NULL THEN []::VARCHAR[]
                  ELSE list_filter([
                    CASE WHEN c.n_tok  IS DISTINCT FROM b.n_tok  THEN 'n_tok'  END,
                    CASE WHEN c.source IS DISTINCT FROM b.source THEN 'source' END,
                    CASE WHEN c.toks   IS DISTINCT FROM b.toks   THEN 'tokens' END],
                    x -> x IS NOT NULL) END, ','), '') AS changed_cols
           FROM cur c FULL OUTER JOIN ts b ON c.doc_id = b.doc_id
           WHERE c.doc_id IS NULL OR b.doc_id IS NULL
             OR c.toks IS DISTINCT FROM b.toks
             OR c.n_tok IS DISTINCT FROM b.n_tok
             OR c.source IS DISTINCT FROM b.source""",

      "q_stats_lineitem" ->
        // sum(CASE...) yields HUGEINT in DuckDB; ::BIGINT matches Spark's LongType
        """SELECT 'l_quantity' AS col_name, count(*) AS row_count,
             sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)::BIGINT AS null_count,
             CAST(min(l_quantity) AS DOUBLE) AS min_v,
             CAST(max(l_quantity) AS DOUBLE) AS max_v,
             count(DISTINCT l_quantity) AS n_distinct FROM lineitem
           UNION ALL
           SELECT 'l_extendedprice', count(*),
             sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END)::BIGINT,
             CAST(min(l_extendedprice) AS DOUBLE), CAST(max(l_extendedprice) AS DOUBLE),
             count(DISTINCT l_extendedprice) FROM lineitem""",

      "q_expectations" -> {
        val dmax = "1.7976931348623157e308"
        s"""SELECT 'row_count_between(100,100000000)' AS expectation,
             round(count(*)::DOUBLE, 6) AS observed, 100.0 AS lo, 100000000.0 AS hi,
             (count(*) >= 100 AND count(*) <= 100000000) AS passed FROM documents
           UNION ALL SELECT 'null_rate_max(text,0.0)',
             round(avg(CASE WHEN text IS NULL THEN 1.0 ELSE 0.0 END), 6),
             0.0, 0.0,
             avg(CASE WHEN text IS NULL THEN 1.0 ELSE 0.0 END) <= 0.0 FROM documents
           UNION ALL SELECT 'min_at_least(n_chars,1.0)',
             round(min(n_chars)::DOUBLE, 6), 1.0, $dmax,
             min(n_chars) >= 1.0 FROM documents
           UNION ALL SELECT 'max_at_most(n_chars,1000000.0)',
             round(max(n_chars)::DOUBLE, 6), -$dmax, 1000000.0,
             max(n_chars) <= 1000000.0 FROM documents
           UNION ALL SELECT 'mean_between(n_chars,0.0,50.0)',
             round(avg(n_chars), 6), 0.0, 50.0,
             (avg(n_chars) >= 0.0 AND avg(n_chars) <= 50.0) FROM documents
           UNION ALL SELECT 'distinct_count_between(source,1,64)',
             round(count(DISTINCT source)::DOUBLE, 6), 1.0, 64.0,
             (count(DISTINCT source) >= 1 AND count(DISTINCT source) <= 64) FROM documents
           UNION ALL SELECT 'values_in_set(lang,3 values,0.5)',
             round(coalesce(avg(CASE WHEN lang IS NULL THEN NULL
               WHEN lang IN ('en','de','fr') THEN 0.0 ELSE 1.0 END), 0.0), 6),
             0.0, 0.5,
             coalesce(avg(CASE WHEN lang IS NULL THEN NULL
               WHEN lang IN ('en','de','fr') THEN 0.0 ELSE 1.0 END), 0.0) <= 0.5
             FROM documents
           UNION ALL SELECT 'match_regex_rate(doc_id,1.0)',
             round(coalesce(avg(CASE WHEN doc_id IS NULL THEN NULL
               WHEN regexp_matches(doc_id::VARCHAR, '^[0-9]+$$') THEN 1.0
               ELSE 0.0 END), 0.0), 6),
             1.0, 1.0,
             coalesce(avg(CASE WHEN doc_id IS NULL THEN NULL
               WHEN regexp_matches(doc_id::VARCHAR, '^[0-9]+$$') THEN 1.0
               ELSE 0.0 END), 0.0) >= 1.0 FROM documents
           UNION ALL SELECT 'quantile_between(n_chars,0.5,1.0,100000.0)',
             round(quantile_cont(n_chars, 0.5), 6), 1.0, 100000.0,
             (quantile_cont(n_chars, 0.5) >= 1.0
               AND quantile_cont(n_chars, 0.5) <= 100000.0) FROM documents"""
      },

      "q_expectations_by" ->
        """WITH g AS (SELECT source, count(*) c, avg(n_chars) m,
             avg(CASE WHEN lang IS NULL THEN 1.0 ELSE 0.0 END) nr
             FROM documents GROUP BY 1)
           SELECT source, 'row_count_between(1,1000000)' AS expectation,
             round(c::DOUBLE, 6) AS observed, 1.0 AS lo, 1000000.0 AS hi,
             (c >= 1 AND c <= 1000000) AS passed FROM g
           UNION ALL SELECT source, 'mean_between(n_chars,0.0,300.0)',
             round(m, 6), 0.0, 300.0, (m >= 0.0 AND m <= 300.0) FROM g
           UNION ALL SELECT source, 'null_rate_max(lang,0.0)',
             round(nr, 6), 0.0, 0.0, nr <= 0.0 FROM g""",

      "q_group_anomaly" ->
        """WITH g AS (SELECT source, avg(n_chars) m FROM documents GROUP BY 1),
           st AS (SELECT (SELECT quantile_cont(m, 0.5) FROM g) med),
           st2 AS (SELECT (SELECT quantile_cont(abs(m - med), 0.5) FROM g, st) mad,
                          (SELECT med FROM st) med)
           SELECT source, round(m, 6) AS value,
             CASE WHEN mad > 0 THEN round(0.6745*(m - med)/mad, 6) END AS mz,
             CASE WHEN mad > 0 THEN abs(0.6745*(m - med)/mad) > 3.5
                  ELSE m <> med END AS is_anomaly
           FROM g, st2""",

      "q_histogram_nchars" ->
        """WITH mm AS (SELECT min(n_chars)::DOUBLE lo, max(n_chars)::DOUBLE hi
             FROM documents),
           w AS (SELECT lo, CASE WHEN hi > lo THEN (hi - lo) / 20 ELSE 1.0 END w
             FROM mm),
           c AS (SELECT least(floor((n_chars::DOUBLE - lo) / w), 19)::INT AS bucket,
             count(*) AS cnt FROM documents, w WHERE n_chars IS NOT NULL GROUP BY 1)
           SELECT b.bucket,
             round(b.lo + b.bucket * b.w, 6) AS lo_edge,
             round(b.lo + (b.bucket + 1) * b.w, 6) AS hi_edge,
             coalesce(c.cnt, 0)::BIGINT AS cnt
           FROM (SELECT s.range::INT AS bucket, w.lo, w.w
                 FROM range(20) s CROSS JOIN w) b
           LEFT JOIN c ON c.bucket = b.bucket""",

      "q_entropy_source" ->
        """WITH c AS (SELECT count(*)::DOUBLE c FROM documents
             WHERE source IS NOT NULL GROUP BY source)
           SELECT round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 6) AS entropy_bits,
             count(*)::BIGINT AS n_distinct FROM c""",

      "q_quantiles_nchars" ->
        """SELECT round(quantile_cont(n_chars, 0.25), 4) AS p25,
           round(quantile_cont(n_chars, 0.5), 4) AS p50,
           round(quantile_cont(n_chars, 0.75), 4) AS p75 FROM documents""",

      // exact quartiles (quantile_cont ≡ Spark's exact percentile: linear
      // interpolation at rank p·(n−1)); fences re-derived with the identical
      // arithmetic order q1 − 1.5·(q3−q1) so the doubles match bit-for-bit
      "q_outlier_bounds" ->
        """WITH q AS (SELECT quantile_cont(value, 0.25) q1,
                        quantile_cont(value, 0.75) q3 FROM events)
           SELECT round(q1, 6) AS q1, round(q3, 6) AS q3,
             round(q1 - 1.5*(q3 - q1), 6) AS lo_fence,
             round(q3 + 1.5*(q3 - q1), 6) AS hi_fence,
             sum(CASE WHEN value < q1 - 1.5*(q3 - q1) THEN 1 ELSE 0 END)::BIGINT AS n_below,
             sum(CASE WHEN value > q3 + 1.5*(q3 - q1) THEN 1 ELSE 0 END)::BIGINT AS n_above,
             count(value) AS n
           FROM events, q GROUP BY q1, q3""",

      // session boundary: gap > 1800 s on truncated epoch seconds, ordered by
      // (ts, event_id) — the exact window Spark runs; the session counter sum
      // is ::BIGINT (DuckDB window sums are HUGEINT) and epochs are floor()ed (DuckDB DOUBLE→BIGINT casts round, Spark truncates)
      "q_sessions" ->
        """WITH x AS (SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR floor(epoch(ts))::BIGINT - floor(epoch(lag(ts) OVER w))::BIGINT > 1800
                  THEN 1 ELSE 0 END ns
             FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
           y AS (SELECT user_id, floor(epoch(ts))::BIGINT sec,
             (sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) - 1)::BIGINT AS session_idx
             FROM x)
           SELECT user_id, session_idx, count(*) AS n_events,
             min(sec) AS start_s, (max(sec) - min(sec)) AS dur_s
           FROM y GROUP BY 1, 2""",

      "q_ks_lang" ->
        """WITH a AS (SELECT n_chars::DOUBLE v, count(*) ca FROM documents WHERE lang='en' GROUP BY 1),
           b AS (SELECT n_chars::DOUBLE v, count(*) cb FROM documents WHERE lang='es' GROUP BY 1),
           m AS (SELECT coalesce(a.v, b.v) v, coalesce(ca,0) ca, coalesce(cb,0) cb
                 FROM a FULL OUTER JOIN b ON a.v = b.v),
           t AS (SELECT sum(ca) na, sum(cb) nb FROM m),
           c AS (SELECT v, sum(ca) OVER (ORDER BY v) / (SELECT na FROM t) cdf_a,
                          sum(cb) OVER (ORDER BY v) / (SELECT nb FROM t) cdf_b FROM m)
           SELECT round(max(abs(cdf_a - cdf_b)), 6) AS ks_stat FROM c""",

      "q_chi2_source" ->
        """WITH o AS (SELECT source k, count(*) o FROM documents WHERE lang='en' GROUP BY 1),
           e AS (SELECT source k, count(*) e FROM documents GROUP BY 1),
           t AS (SELECT (SELECT sum(o) FROM o)::DOUBLE tot_o, (SELECT sum(e) FROM e)::DOUBLE tot_e),
           j AS (SELECT coalesce(o.o, 0)::DOUBLE o,
                        coalesce(e.e::DOUBLE, 0.5) * (SELECT tot_o/tot_e FROM t) e
                 FROM o FULL OUTER JOIN e ON o.k = e.k)
           SELECT round(sum((o - e)*(o - e)/e), 6) AS chi2_stat, count(*) AS n_categories FROM j""",

      "q_psi_source" ->
        """WITH o AS (SELECT source k, count(*) o FROM documents WHERE lang='en' GROUP BY 1),
           b AS (SELECT source k, count(*) b FROM documents GROUP BY 1),
           t AS (SELECT (SELECT sum(o) FROM o)::DOUBLE tot_o, (SELECT sum(b) FROM b)::DOUBLE tot_b),
           j AS (SELECT greatest(coalesce(o.o, 0)::DOUBLE / (SELECT tot_o FROM t), 1e-6) p,
                        greatest(coalesce(b.b, 0)::DOUBLE / (SELECT tot_b FROM t), 1e-6) q
                 FROM o FULL OUTER JOIN b ON o.k = b.k)
           SELECT round(sum((p - q)*ln(p/q)), 6) AS psi,
                  round(0.5*sum(p*ln(2*p/(p+q))) + 0.5*sum(q*ln(2*q/(p+q))), 6) AS jsd,
                  count(*) AS n_categories FROM j""",

      "q_token_drift" ->
        s"""WITH cur AS (SELECT unnest($tokSql) tok FROM documents WHERE lang='en'),
           base AS (SELECT unnest($tokSql) tok FROM documents),
           o AS (SELECT tok k, count(*) o FROM cur GROUP BY 1),
           b AS (SELECT tok k, count(*) b FROM base GROUP BY 1),
           t AS (SELECT (SELECT sum(o) FROM o)::DOUBLE tot_o,
                        (SELECT sum(b) FROM b)::DOUBLE tot_b),
           j AS (SELECT greatest(coalesce(o.o, 0)::DOUBLE / (SELECT tot_o FROM t), 1e-6) p,
                        greatest(coalesce(b.b, 0)::DOUBLE / (SELECT tot_b FROM t), 1e-6) q
                 FROM o FULL OUTER JOIN b ON o.k = b.k)
           SELECT round(sum((p - q)*ln(p/q)), 6) AS psi,
                  round(0.5*sum(p*ln(2*p/(p+q))) + 0.5*sum(q*ln(2*q/(p+q))), 6) AS jsd,
                  count(*) AS n_categories FROM j""",

      "q_token_drift_by" ->
        s"""WITH cur AS (SELECT source g, unnest($tokSql) tok FROM documents WHERE lang='en'),
           base AS (SELECT source g, unnest($tokSql) tok FROM documents),
           o AS (SELECT g, tok, count(*) o FROM cur GROUP BY 1, 2),
           b AS (SELECT g, tok, count(*) b FROM base GROUP BY 1, 2),
           j0 AS (SELECT coalesce(o.g, b.g) g, coalesce(o.tok, b.tok) tok,
                         coalesce(o.o, 0) o, coalesce(b.b, 0) b
                  FROM o FULL OUTER JOIN b ON o.g = b.g AND o.tok = b.tok),
           jt AS (SELECT g, o, b, sum(o) OVER (PARTITION BY g) tot_o,
                         sum(b) OVER (PARTITION BY g) tot_b FROM j0),
           j AS (SELECT g, greatest(o::DOUBLE / tot_o, 1e-6) p,
                        greatest(b::DOUBLE / tot_b, 1e-6) q
                 FROM jt WHERE tot_o > 0 AND tot_b > 0)
           SELECT g AS source, round(sum((p - q)*ln(p/q)), 6) AS psi,
                  round(0.5*sum(p*ln(2*p/(p+q))) + 0.5*sum(q*ln(2*q/(p+q))), 6) AS jsd,
                  count(*) AS n_tokens FROM j GROUP BY 1""",

      "q_decontaminate" ->
        s"""WITH ts AS (SELECT doc_id::BIGINT id, $tokSql toks FROM documents),
           bsh AS (SELECT DISTINCT unnest(list_distinct($shSql)) s FROM ts
                   WHERE id % 97 = 0 AND len(toks) >= 3),
           csh AS (SELECT id, unnest(list_distinct($shSql)) s FROM ts
                   WHERE id % 97 <> 0 AND len(toks) >= 3)
           SELECT id AS doc_id, count(*) AS n_hits
           FROM csh JOIN bsh USING (s)
           GROUP BY 1 HAVING count(*) >= 3""",

      // the bloom path is exact by construction (no false negatives + exact
      // verify), so its oracle is the plain overlap SQL
      "q_bloom_decontaminate" ->
        s"""WITH ts AS (SELECT doc_id::BIGINT id, $tokSql toks FROM documents),
           bsh AS (SELECT DISTINCT unnest(list_distinct($shSql)) s FROM ts
                   WHERE id % 89 = 0 AND len(toks) >= 3),
           csh AS (SELECT id, unnest(list_distinct($shSql)) s FROM ts
                   WHERE id % 89 <> 0 AND len(toks) >= 3)
           SELECT id AS doc_id, count(*) AS n_hits
           FROM csh JOIN bsh USING (s)
           GROUP BY 1 HAVING count(*) >= 2""",

      "q_row_violations" ->
        s"""WITH ts AS (SELECT doc_id::VARCHAR doc_id, $tokSql toks,
             len(string_split(text,' ')) n_tok, source FROM documents)
           SELECT doc_id, 'maximum' AS keyword FROM ts
             WHERE n_tok > 80 OR len(list_filter(toks, t -> t > 3900)) > 0
           UNION
           SELECT doc_id, 'enum' FROM ts WHERE source NOT IN ($allowedSrc)""",

      "q_drift_series" ->
        // consecutive-day PSI of the event_type mix over the completed
        // (day × type) grid, eps-smoothed shares, rounded to 6dp
        """WITH c AS (SELECT date_trunc('day', ts) bkt, event_type k, count(*) c
             FROM events GROUP BY 1, 2),
           b AS (SELECT DISTINCT bkt FROM c),
           ks AS (SELECT DISTINCT k FROM c),
           g AS (SELECT b.bkt, ks.k, coalesce(c.c, 0) AS c
             FROM b CROSS JOIN ks LEFT JOIN c ON c.bkt = b.bkt AND c.k = ks.k),
           p AS (SELECT bkt, k,
             greatest(c::DOUBLE / sum(c) OVER (PARTITION BY bkt), 1e-6) AS p FROM g),
           s AS (SELECT bkt, k, p, lag(p) OVER (PARTITION BY k ORDER BY bkt) AS q FROM p)
           SELECT strftime(bkt, '%Y-%m-%d') AS day,
             round(sum((p - q)*ln(p/q)), 6) AS psi,
             count(*) AS n_categories
           FROM s WHERE q IS NOT NULL GROUP BY bkt""",

      "q_violation_sample" ->
        // the q_row_violations pair set, md5-ranked per keyword, first 5
        s"""WITH ts AS (SELECT doc_id::VARCHAR doc_id, $tokSql toks,
             len(string_split(text,' ')) n_tok, source FROM documents),
           v AS (
             SELECT doc_id, 'maximum' AS keyword FROM ts
               WHERE n_tok > 80 OR len(list_filter(toks, t -> t > 3900)) > 0
             UNION
             SELECT doc_id, 'enum' FROM ts WHERE source NOT IN ($allowedSrc))
           SELECT doc_id, keyword FROM (
             SELECT doc_id, keyword, row_number() OVER (PARTITION BY keyword
               ORDER BY ('0x' || substr(md5(doc_id), 1, 8))::BIGINT % 1000000,
                 doc_id) rn FROM v)
           WHERE rn <= 5""",

      "q_violation_counts" ->
        s"""WITH ts AS (SELECT doc_id::VARCHAR doc_id, $tokSql toks,
             len(string_split(text,' ')) n_tok, source FROM documents),
           v AS (
             SELECT 'maximum' keyword, count(*) FILTER (WHERE n_tok > 80)
               + sum(len(list_filter(toks, t -> t > 3900))) cnt FROM ts
             UNION ALL
             SELECT 'enum', count(*) FILTER (WHERE source NOT IN ($allowedSrc)) FROM ts)
           SELECT keyword, cnt::BIGINT cnt FROM v WHERE cnt > 0""",

      // per-partition verdicts: violation_count = per-instance row-keyword
      // records (one per n_tok overflow, one per offending token, one per
      // enum miss) + one RI record per row whose source misses the dimension
      // (the enum and RI families both fire on the same bad-source rows —
      // intentionally, they are distinct checks in the pipeline)
      "q_partition_verdicts" ->
        s"""WITH ts AS (SELECT doc_id::VARCHAR doc_id, $tokSql toks,
             len(string_split(text,' ')) n_tok, source FROM documents),
           v AS (SELECT source,
             count(*) AS row_count,
             count(*) FILTER (WHERE n_tok > 80)
               + coalesce(sum(len(list_filter(toks, t -> t > 3900))), 0)
               + 2 * count(*) FILTER (WHERE source NOT IN ($allowedSrc)) AS viol
             FROM ts GROUP BY 1)
           SELECT source AS partition_key, row_count::BIGINT AS row_count,
             viol::BIGINT AS violation_count, viol = 0 AS verdict FROM v""",

      "q_dup_composite" ->
        """SELECT source, lang, count(*)::BIGINT AS cnt FROM documents
           WHERE source IS NOT NULL OR lang IS NOT NULL
           GROUP BY 1, 2 HAVING count(*) > 1""",

      "q_fd_violations" ->
        """SELECT source, count(DISTINCT lang)::BIGINT AS n_dep,
             count(*)::BIGINT AS n_rows
           FROM documents WHERE lang IS NOT NULL
           GROUP BY 1 HAVING count(DISTINCT lang) > 1""",

      "q_order_integrity" ->
        """WITH x AS (SELECT user_id,
             CASE WHEN ts < lag(ts) OVER (PARTITION BY user_id ORDER BY event_id)
                  THEN 1 ELSE 0 END AS inv FROM events)
           SELECT user_id, count(*)::BIGINT AS n_events,
             sum(inv)::BIGINT AS inversions, sum(inv) = 0 AS is_monotone
           FROM x GROUP BY 1""",

      "q_trend_anomaly" ->
        """WITH s AS (SELECT event_type, ts::DATE AS day,
             count(*)::BIGINT AS v FROM events GROUP BY 1, 2),
           m AS (SELECT event_type, median(v) AS med FROM s GROUP BY 1),
           d AS (SELECT s.event_type, median(abs(v - med)) AS mad
                 FROM s JOIN m USING (event_type) GROUP BY 1)
           SELECT s.event_type, day, v::DOUBLE AS value,
             round(med, 4) AS med, round(mad, 4) AS mad,
             abs(v - med) > 3.5 * greatest(mad, 1e-9) AS is_anomaly
           FROM s JOIN m USING (event_type) JOIN d USING (event_type)""",

      "q_corr_drift" ->
        """WITH t AS (SELECT corr(value, epoch(ts)) AS cglob FROM events),
           g AS (SELECT event_type, count(*)::BIGINT AS n,
                   corr(value, epoch(ts)) AS cg FROM events GROUP BY 1)
           SELECT event_type, n, round(cg, 6) AS corr_group,
             round(cglob, 6) AS corr_global,
             round(abs(cg - cglob), 6) AS corr_diff,
             abs(cg - cglob) > 0.01 AS drifted
           FROM g, t""",

      "q_pipeline_expectations" ->
        s"""WITH ts AS (SELECT doc_id::VARCHAR doc_id, $tokSql toks,
             len(string_split(text,' ')) n_tok, source FROM documents),
           v AS (SELECT source,
             count(*) AS row_count,
             count(*) FILTER (WHERE n_tok > 80)
               + coalesce(sum(len(list_filter(toks, t -> t > 3900))), 0)
               + 2 * count(*) FILTER (WHERE source NOT IN ($allowedSrc)) AS viol,
             avg(n_tok) AS mean_ntok,
             avg(CASE WHEN source IS NULL THEN 1.0 ELSE 0.0 END) AS nr_source
             FROM ts GROUP BY 1)
           SELECT source AS partition_key, row_count::BIGINT AS row_count,
             viol::BIGINT AS violation_count,
             ((CASE WHEN mean_ntok >= 0.0 AND mean_ntok <= 55.0 THEN 0 ELSE 1 END)
              + (CASE WHEN nr_source <= 0.0 THEN 0 ELSE 1 END))::BIGINT
               AS expectations_failed,
             (viol = 0 AND mean_ntok >= 0.0 AND mean_ntok <= 55.0
              AND nr_source <= 0.0) AS verdict
           FROM v""",

      "q_heavy_hitters" ->
        """WITH src AS (SELECT user_id::VARCHAR AS item FROM events
             WHERE user_id IS NOT NULL),
           n AS (SELECT count(*) AS n FROM src)
           SELECT item, count(*)::BIGINT AS cnt,
             round(count(*)::DOUBLE / (SELECT n FROM n), 6) AS share
           FROM src GROUP BY 1
           HAVING count(*) >= ceil(0.008 * (SELECT n FROM n))""",

      // identical totals to q_partition_verdicts: the incremental merge over
      // two snapshot deltas must equal one full-table validation
      "q_incremental_manifest" ->
        s"""WITH ts AS (SELECT doc_id::VARCHAR doc_id, $tokSql toks,
             len(string_split(text,' ')) n_tok, source FROM documents),
           v AS (SELECT source,
             count(*) AS row_count,
             count(*) FILTER (WHERE n_tok > 80)
               + coalesce(sum(len(list_filter(toks, t -> t > 3900))), 0)
               + 2 * count(*) FILTER (WHERE source NOT IN ($allowedSrc)) AS viol
             FROM ts GROUP BY 1)
           SELECT source AS partition_key, row_count::BIGINT AS row_count,
             viol::BIGINT AS violation_count, viol = 0 AS verdict FROM v""",

      "q_token_stats" ->
        s"""WITH ts AS (SELECT len(string_split(text,' ')) n_tok, source FROM documents)
           SELECT source, count(*) cnt, sum(n_tok)::BIGINT sum_ntok,
             min(n_tok)::INT min_ntok, max(n_tok)::INT max_ntok FROM ts GROUP BY 1""",

      "q_fingerprint" -> {
        val pows = (0 until 8).map(i => math.pow(31.0, i).toLong).mkString("[", ",", "]")
        // list_sum yields HUGEINT in DuckDB; the final ::BIGINT matches
        // Spark's LongType output (values verified identical)
        s"""WITH ts AS (SELECT doc_id::VARCHAR doc_id, $tokSql toks FROM documents)
           SELECT doc_id,
             (((list_sum(list_transform(range(1, len(toks)+1),
               i -> toks[i]::BIGINT * ($pows::BIGINT[])[((i-1) % 8) + 1])) % $P) + $P) % $P)::BIGINT AS fp
           FROM ts"""
      },

      "q_exact_dup" ->
        """SELECT array_to_string(string_split(text, ' ')[1:5], ' ') AS text_norm,
           count(*) AS dup_count FROM documents
           GROUP BY 1 HAVING count(*) > 1""",

      "q_dedup_keep_count" ->
        "SELECT count(*) AS cnt FROM (SELECT min(doc_id) FROM documents GROUP BY text)",

      "q_para_dedup" ->
        """WITH d AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
           d2 AS (SELECT doc_id, list_transform(range((len(words)+3)//4),
                    i -> array_to_string(words[i*4+1:i*4+4], ' ')) AS paras FROM d),
           p AS (SELECT doc_id, generate_subscripts(paras, 1) - 1 AS pos,
                   unnest(paras) AS para FROM d2),
           r AS (SELECT doc_id, pos, para,
                   CASE WHEN length(para) >= 10
                        THEN row_number() OVER (PARTITION BY para ORDER BY doc_id, pos)
                        ELSE 1 END AS rn FROM p),
           k AS (SELECT doc_id, pos, para FROM r WHERE rn = 1),
           a AS (SELECT doc_id, list(para ORDER BY pos) AS clean_paras,
                   count(*) AS nk FROM k GROUP BY 1)
           SELECT d2.doc_id,
             coalesce(array_to_string(a.clean_paras, chr(31)), '') AS clean_paras,
             len(d2.paras)::INT AS n_paras,
             (len(d2.paras) - coalesce(a.nk, 0))::INT AS n_removed
           FROM d2 LEFT JOIN a USING (doc_id)""",

      // oracle groups by actual window CONTENT (a list), so the Spark side's
      // 64-bit rolling hash is verified collision-free at this scale
      "q_span_dedup" ->
        s"""WITH ts AS (SELECT doc_id::BIGINT doc_id, $tokSql toks FROM documents),
           d2 AS (SELECT doc_id, toks, list_transform(range(greatest(len(toks)-7, 0)),
                    i -> toks[i+1:i+8]) AS wins FROM ts),
           w AS (SELECT doc_id, generate_subscripts(wins, 1) - 1 AS pos,
                   unnest(wins) AS win FROM d2),
           r AS (SELECT doc_id, pos,
                   row_number() OVER (PARTITION BY win ORDER BY doc_id, pos) rn,
                   count(*) OVER (PARTITION BY win) c
                 FROM w),
           losers AS (SELECT doc_id, pos FROM r WHERE rn > 1),
           wins AS (SELECT doc_id, pos FROM r WHERE rn = 1 AND c > 1),
           lcov AS (SELECT DISTINCT doc_id, pos + j AS tpos
                    FROM losers CROSS JOIN range(8) AS u(j)),
           wcov AS (SELECT DISTINCT doc_id, pos + j AS tpos
                    FROM wins CROSS JOIN range(8) AS u(j)),
           cov AS (SELECT doc_id, tpos FROM lcov
                   EXCEPT SELECT doc_id, tpos FROM wcov),
           p AS (SELECT doc_id, generate_subscripts(toks, 1) - 1 AS tpos,
                   unnest(toks) AS tok FROM ts),
           k AS (SELECT p.doc_id, list(p.tok ORDER BY p.tpos) AS clean_tokens,
                   count(*) AS nk
                 FROM p WHERE NOT EXISTS (SELECT 1 FROM cov
                   WHERE cov.doc_id = p.doc_id AND cov.tpos = p.tpos)
                 GROUP BY 1)
           SELECT ts.doc_id,
             coalesce(array_to_string(list_transform(k.clean_tokens,
               x -> x::VARCHAR), ','), '') AS clean_tokens,
             (len(ts.toks) - coalesce(k.nk, 0))::INT AS n_removed
           FROM ts LEFT JOIN k USING (doc_id)""",

      "q_dup_clusters" ->
        """WITH RECURSIVE
           edges AS (
             SELECT doc_id AS a, doc_id - 1 AS b FROM documents
             WHERE doc_id % 5 <> 0 AND doc_id > 0
             UNION ALL
             SELECT doc_id AS a, doc_id - 7 AS b FROM documents
             WHERE doc_id % 11 = 0 AND doc_id >= 7),
           sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
           reach(node, label) AS (
             SELECT a, a FROM sym
             UNION
             SELECT s.a, r.label FROM reach r JOIN sym s ON s.b = r.node),
           cc AS (SELECT node, min(label) AS component FROM reach GROUP BY node)
           SELECT d.doc_id, COALESCE(cc.component, d.doc_id) AS component
           FROM documents d LEFT JOIN cc ON cc.node = d.doc_id""",

      "q_jaccard_pairs" ->
        // `ok` mirrors Spark's maxDocFreq=1000 hot-shingle cap so the oracle
        // and engine drop the same stop-shingles at any scale factor
        s"""WITH ts AS (SELECT doc_id::BIGINT id, $tokSql toks FROM documents),
           sh AS (SELECT id, list_distinct($shSql) s FROM ts WHERE len(toks) >= 3),
           ex0 AS (SELECT id, len(s) n, unnest(s) sv FROM sh),
           ok AS (SELECT sv FROM ex0 GROUP BY sv HAVING count(*) <= 1000),
           ex AS (SELECT ex0.* FROM ex0 JOIN ok USING (sv)),
           pairs AS (
             SELECT a.id id_a, b.id id_b, count(*) shared,
                    any_value(a.n) n_a, any_value(b.n) n_b
             FROM ex a JOIN ex b ON a.sv = b.sv AND a.id < b.id
             GROUP BY 1, 2)
           SELECT id_a, id_b,
             round(shared::DOUBLE / (n_a + n_b - shared), 6) AS jaccard
           FROM pairs WHERE shared::DOUBLE / (n_a + n_b - shared) >= 0.5""",

      "q_minhash_lsh" ->
        s"WITH $minhashPairCtes SELECT id_a, id_b, jaccard FROM mpairs",

      // fuzzy dedup = the minhash pair CTEs + recursive min-label
      // propagation (same component semantics as the q_dup_clusters oracle)
      "q_fuzzy_dedup" ->
        s"""WITH RECURSIVE $minhashPairCtes,
           sym AS (SELECT id_a a, id_b b FROM mpairs
                   UNION SELECT id_b, id_a FROM mpairs),
           reach(node, label) AS (
             SELECT a, a FROM sym
             UNION
             SELECT s2.a, r.label FROM reach r JOIN sym s2 ON s2.b = r.node),
           cc AS (SELECT node, min(label) AS component FROM reach GROUP BY node)
           SELECT d.doc_id::BIGINT AS doc_id,
                  COALESCE(cc.component, d.doc_id::BIGINT) AS component
           FROM documents d LEFT JOIN cc ON cc.node = d.doc_id::BIGINT""",

      // same pair graph + component semantics as q_fuzzy_dedup; the
      // representative contest (max n_chars, ties → min id) replayed as a
      // window over the labeled rows. Singletons are their own component and
      // trivially rank 1.
      "q_fuzzy_keep_best" ->
        s"""WITH RECURSIVE $minhashPairCtes,
           sym AS (SELECT id_a a, id_b b FROM mpairs
                   UNION SELECT id_b, id_a FROM mpairs),
           reach(node, label) AS (
             SELECT a, a FROM sym
             UNION
             SELECT s2.a, r.label FROM reach r JOIN sym s2 ON s2.b = r.node),
           cc AS (SELECT node, min(label) AS component FROM reach GROUP BY node),
           lab AS (SELECT d.doc_id::BIGINT id,
                     COALESCE(cc.component, d.doc_id::BIGINT) comp, d.n_chars
                   FROM documents d LEFT JOIN cc ON cc.node = d.doc_id::BIGINT),
           rk AS (SELECT id, n_chars, comp,
                    row_number() OVER (PARTITION BY comp
                      ORDER BY n_chars DESC, id) rn FROM lab)
           SELECT id AS doc_id, n_chars FROM rk WHERE rn = 1""",

      // incremental dedup ≡ the full-corpus pair set restricted to pairs
      // involving a fresh (id ≥ 400) doc — the engine computes it without
      // re-banding prior×prior, the oracle replays the equivalence
      "q_incr_dedup" ->
        s"""WITH $minhashPairCtes
           SELECT id_a, id_b, jaccard FROM mpairs
           WHERE id_a >= 400 OR id_b >= 400""",

      "q_containment" ->
        // same plan as q_jaccard_pairs (incl. the maxDocFreq=1000 cap);
        // only the scoring expression differs: shared / min(|A|, |B|)
        s"""WITH ts AS (SELECT doc_id::BIGINT id, $tokSql toks FROM documents),
           sh AS (SELECT id, list_distinct($shSql) s FROM ts WHERE len(toks) >= 3),
           ex0 AS (SELECT id, len(s) n, unnest(s) sv FROM sh),
           ok AS (SELECT sv FROM ex0 GROUP BY sv HAVING count(*) <= 1000),
           ex AS (SELECT ex0.* FROM ex0 JOIN ok USING (sv)),
           pairs AS (
             SELECT a.id id_a, b.id id_b, count(*) shared,
                    any_value(a.n) n_a, any_value(b.n) n_b
             FROM ex a JOIN ex b ON a.sv = b.sv AND a.id < b.id
             GROUP BY 1, 2)
           SELECT id_a, id_b,
             round(shared::DOUBLE / least(n_a, n_b), 6) AS overlap
           FROM pairs WHERE shared::DOUBLE / least(n_a, n_b) >= 0.6""",

      "q_simhash" ->
        s"""WITH ts AS (SELECT doc_id::BIGINT id, $tokSql toks FROM documents WHERE doc_id < 50),
           h AS (SELECT id, list_transform(toks, t -> (t::BIGINT * $sa + $sb) % $P) hs FROM ts)
           SELECT id AS doc_id,
             list_sum(list_transform(range(0, 32), bit ->
               CASE WHEN list_sum(list_transform(hs, v -> ((v >> bit) & 1) * 2 - 1)) > 0
                    THEN (1::BIGINT << bit) ELSE 0 END))::BIGINT AS sig
           FROM h""",

      "q_simhash_band" ->
        s"""WITH ts AS (SELECT doc_id::BIGINT id, $tokSql toks FROM documents),
           h AS (SELECT id, list_transform(toks, t -> (t::BIGINT * $sa + $sb) % $P) hs FROM ts),
           sig AS (SELECT id,
             list_sum(list_transform(range(0, 32), bit ->
               CASE WHEN list_sum(list_transform(hs, v -> ((v >> bit) & 1) * 2 - 1)) > 0
                    THEN (1::BIGINT << bit) ELSE 0 END))::BIGINT sig
             FROM h),
           bands0 AS (
             SELECT id, sig, 0 b, (sig >> 0) & 255 bkey FROM sig UNION ALL
             SELECT id, sig, 1, (sig >> 8) & 255 FROM sig UNION ALL
             SELECT id, sig, 2, (sig >> 16) & 255 FROM sig UNION ALL
             SELECT id, sig, 3, (sig >> 24) & 255 FROM sig),
           bok AS (SELECT b, bkey FROM bands0 GROUP BY 1, 2 HAVING count(*) <= 1000),
           bands AS (SELECT bands0.* FROM bands0 JOIN bok USING (b, bkey)),
           cand AS (SELECT DISTINCT a.id id_a, b2.id id_b, a.sig sa, b2.sig sb
             FROM bands a JOIN bands b2
               ON a.b = b2.b AND a.bkey = b2.bkey AND a.id < b2.id)
           SELECT id_a, id_b, bit_count(xor(sa, sb))::INT AS hamming
           FROM cand WHERE bit_count(xor(sa, sb)) <= 3""",

      "q_ann_topk" ->
        """WITH q AS (SELECT vec_id query_id, embedding qv FROM embeddings WHERE vec_id < 10),
           scored AS (SELECT q.query_id, e.vec_id item_id,
             list_dot_product(e.embedding::DOUBLE[], q.qv::DOUBLE[]) /
               (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
                sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]))) cosine
             FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
           ranked AS (SELECT query_id, item_id, cosine,
             row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, item_id) rank
             FROM scored)
           SELECT query_id, item_id, round(cosine, 6) AS cosine, rank
           FROM ranked WHERE rank <= 3""",

      "q_ann_ivf" ->
        // same deterministic IVF index as Similarity.ivfTopK(nlist=8,
        // nprobe=2): centroids = md5-hash-ranked first 8 corpus vectors,
        // assignment/probing by 9dp-rounded cosine with ties to the
        // smallest cell id
        """WITH n AS (SELECT vec_id, embedding::DOUBLE[] v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) nrm
           FROM embeddings),
           cent AS (SELECT row_number() OVER (ORDER BY
               ('0x' || substr(md5(vec_id::VARCHAR), 1, 8))::BIGINT % 1000000,
               vec_id) - 1 AS ci, v cv, nrm cnrm FROM n
             QUALIFY ci < 8),
           sc AS (SELECT n.vec_id, c.ci,
             round(list_dot_product(n.v, c.cv) / (n.nrm * c.cnrm), 9) s
             FROM n CROSS JOIN cent c),
           asg AS (SELECT vec_id item_id, ci cell FROM
             (SELECT vec_id, ci, row_number() OVER (PARTITION BY vec_id
                ORDER BY s DESC, ci) rn FROM sc) WHERE rn = 1),
           probes AS (SELECT vec_id query_id, ci cell FROM
             (SELECT vec_id, ci, row_number() OVER (PARTITION BY vec_id
                ORDER BY s DESC, ci) rn FROM sc WHERE vec_id < 10) WHERE rn <= 2),
           cand AS (SELECT p.query_id, a.item_id
             FROM probes p JOIN asg a USING (cell) WHERE a.item_id <> p.query_id),
           scored AS (SELECT cand.query_id, cand.item_id,
             list_dot_product(ni.v, nq.v) / (ni.nrm * nq.nrm) cosine
             FROM cand JOIN n ni ON ni.vec_id = cand.item_id
                       JOIN n nq ON nq.vec_id = cand.query_id),
           ranked AS (SELECT query_id, item_id, cosine,
             row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, item_id) rank FROM scored)
           SELECT query_id, item_id, round(cosine, 6) AS cosine, rank
           FROM ranked WHERE rank <= 3""",

      "q_repair" -> {
        val P = 2147483647L
        val pows = (0 until 8).map(i => math.pow(31.0, i).toLong).mkString("[", ",", "]")
        // replay the repair policy on the derived table: enum quarantine on
        // source (only src0..src15 are members), n_tok clamped to [1,80],
        // tokens truncated to 8192 then element-clamped into [0,3900];
        // fp_r fingerprints the REPAIRED token array
        s"""WITH ts AS (SELECT doc_id::VARCHAR doc_id, $tokSql toks, source FROM documents),
           r AS (SELECT doc_id,
             CASE WHEN source IN ('src0','src1','src2','src3','src4','src5','src6',
               'src7','src8','src9','src10','src11','src12','src13','src14','src15')
               THEN source ELSE NULL END AS src_r,
             least(greatest(len(toks)::INT, 1), 80) AS n_tok_r,
             list_transform(toks[1:8192], t -> least(greatest(t, 0), 3900)) AS ct
             FROM ts)
           SELECT doc_id, coalesce(src_r, '__quarantined') AS source_r,
             n_tok_r,
             (((list_sum(list_transform(range(1, len(ct)+1),
               i -> ct[i]::BIGINT * ($pows::BIGINT[])[((i-1) % 8) + 1])) % $P) + $P) % $P)::BIGINT AS fp_r
           FROM r"""
      },

      "q_sanitize" -> {
        val P = 2147483647L
        val pows = (0 until 8).map(i => math.pow(31.0, i).toLong).mkString("[", ",", "]")
        // clamp OOV (>= 4096 or < 0) to 0, count them, fingerprint the
        // sanitized array with the same rolling-hash formula as q_fingerprint
        s"""WITH ts AS (SELECT doc_id::VARCHAR doc_id, $tokSql toks FROM documents),
           san AS (SELECT doc_id,
             len(list_filter(toks, t -> t < 0 OR t >= 4096))::INT AS n_oov,
             list_transform(toks, t -> CASE WHEN t < 0 OR t >= 4096
               THEN 0 ELSE t END) AS ct FROM ts)
           SELECT doc_id, n_oov,
             (((list_sum(list_transform(range(1, len(ct)+1),
               i -> ct[i]::BIGINT * ($pows::BIGINT[])[((i-1) % 8) + 1])) % $P) + $P) % $P)::BIGINT AS fp_clean
           FROM san"""
      },

      "q_pack_stats" ->
        // per-stream (source) totals at seqLen=256 with one EOS per doc;
        // concat-then-cut waste is the stream tail remainder
        s"""WITH ts AS (SELECT doc_id::VARCHAR doc_id, source,
             len($tokSql)::BIGINT + 1 AS fp FROM documents),
           g AS (SELECT source AS stream, count(*)::BIGINT AS n_docs,
             sum(fp)::BIGINT AS total_tokens FROM ts GROUP BY 1),
           r AS (SELECT stream, n_docs, total_tokens,
             ceil(total_tokens/256.0)::BIGINT AS n_seqs FROM g),
           r2 AS (SELECT stream, n_docs, total_tokens, n_seqs,
             (n_seqs*256 - total_tokens)::BIGINT AS pad_tokens,
             round((n_seqs*256 - total_tokens)/(n_seqs*256.0), 9) AS pad_frac FROM r)
           SELECT * FROM r2
           UNION ALL
           SELECT '_total', sum(n_docs)::BIGINT, sum(total_tokens)::BIGINT,
             sum(n_seqs)::BIGINT, sum(pad_tokens)::BIGINT,
             round(sum(pad_tokens)/(sum(n_seqs)*256.0), 9) FROM r2""",

      "q_pruned_read" ->
        // the pruned snapshot read must answer exactly like the plain
        // filtered aggregate over the same rows
        """SELECT source, count(*) AS cnt, sum(n_chars)::BIGINT AS sum_chars
           FROM documents WHERE n_chars BETWEEN 350 AND 500 GROUP BY 1""",

      "q_line_dedup" ->
        // same 4-word paragraph segmentation as q_para_dedup; keep-first
        // within-doc dedup of lines >= 10 code points, short lines exempt
        """WITH d AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
           d2 AS (SELECT doc_id, list_transform(range((len(words)+3)//4),
                    i -> array_to_string(words[i*4+1:i*4+4], ' ')) AS paras FROM d),
           c AS (SELECT doc_id, paras, list_filter(paras,
                    (x, i) -> length(x) < 10 OR list_position(paras, x) = i) AS clean
                 FROM d2)
           SELECT doc_id, len(paras)::INT AS n_paras, len(clean)::INT AS n_kept,
             array_to_string(clean, '|') AS clean_text FROM c""",

      "q_split_assign" ->
        // md5 hash bucket in [0,1e6): <800000 train, <900000 val, else test
        """WITH h AS (SELECT n_chars,
             ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 1000000 AS hb
           FROM documents)
           SELECT CASE WHEN hb < 800000 THEN 'train'
                       WHEN hb < 900000 THEN 'val' ELSE 'test' END AS split,
             count(*) AS cnt, sum(n_chars)::BIGINT AS sum_chars
           FROM h GROUP BY 1""",

      "q_leak_split" ->
        // same synthetic near-dup edges as q_dup_clusters; split key = the
        // cluster representative, so clusters can never straddle splits
        """WITH RECURSIVE
           edges AS (
             SELECT doc_id AS a, doc_id - 1 AS b FROM documents
             WHERE doc_id % 5 <> 0 AND doc_id > 0
             UNION ALL
             SELECT doc_id AS a, doc_id - 7 AS b FROM documents
             WHERE doc_id % 11 = 0 AND doc_id >= 7),
           sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
           reach(node, label) AS (
             SELECT a, a FROM sym
             UNION
             SELECT s.a, r.label FROM reach r JOIN sym s ON s.b = r.node),
           cc AS (SELECT node, min(label) AS component FROM reach GROUP BY node),
           k AS (SELECT d.doc_id, COALESCE(cc.component, d.doc_id) AS skey
                 FROM documents d LEFT JOIN cc ON cc.node = d.doc_id),
           sp AS (SELECT doc_id, skey,
               CASE WHEN ('0x' || substr(md5(skey::VARCHAR), 1, 8))::BIGINT % 1000000 < 800000
                      THEN 'train'
                    WHEN ('0x' || substr(md5(skey::VARCHAR), 1, 8))::BIGINT % 1000000 < 900000
                      THEN 'val' ELSE 'test' END AS split
             FROM k),
           leaky AS (SELECT sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END)::BIGINT AS n_leaky
             FROM (SELECT skey, count(DISTINCT split) AS ns FROM sp GROUP BY 1))
           SELECT split, count(*) AS cnt, leaky.n_leaky
           FROM sp CROSS JOIN leaky GROUP BY split, leaky.n_leaky""",

      "q_mix_temp" ->
        // temperature τ=2: share_s ∝ sum(n_chars)^(1/2) rounded to 9dp, then
        // the same scarcest-stratum-whole fraction pipeline as q_mix_sample
        """WITH avail AS (SELECT source, sum(n_chars)::DOUBLE AS w FROM documents
             GROUP BY 1 HAVING sum(n_chars) > 0),
           p AS (SELECT source, pow(w, 0.5) AS pw FROM avail),
           sh AS (SELECT source, round(pw / (SELECT sum(pw) FROM p), 9) AS share FROM p),
           j AS (SELECT a.source, a.w, s.share FROM avail a JOIN sh s USING (source)),
           fr AS (SELECT source,
                    least(1.0::DOUBLE, share * (SELECT min(w / share) FROM j) / w) AS f
                  FROM j),
           kept AS (
             SELECT d.source, d.n_chars FROM documents d JOIN fr USING (source)
             WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT % 1000000
                   < trunc(f * 1e6)::BIGINT)
           SELECT source, count(*) AS cnt, sum(n_chars)::BIGINT AS sum_chars
           FROM kept GROUP BY 1""",

      "q_mean_pool" ->
        // mean embedding per label in the round(x*1000) grid — integer sums,
        // bit-identical to the Spark VectorSumAgg path
        """WITH q AS (SELECT label,
             list_transform(embedding::DOUBLE[], x -> round(x*1000)) qv FROM embeddings),
           m AS (SELECT label, count(*) n FROM q GROUP BY 1),
           u AS (SELECT label, unnest(list_transform(range(1, len(qv)+1),
             i -> {'dim': i, 'val': qv[i]})) s FROM q)
           SELECT u.label, any_value(m.n)::BIGINT AS n_members, (s.dim)::INT AS dim,
             round(sum(s.val)/(any_value(m.n)*1000.0), 9) AS c_val
           FROM u JOIN m USING (label) GROUP BY u.label, s.dim""",

      "q_kmeans_refine" ->
        // one Lloyd step in the round(x*1000) integer grid: init = the same
        // md5-hash-ranked 8 corpus vectors as q_ann_ivf, assignment by EXACT
        // squared-L2 (ties to the smaller cell), new centroid component =
        // Σqv/(n·1000) — integer sums, so bit-identical to the Spark side
        """WITH q AS (SELECT vec_id,
             list_transform(embedding::DOUBLE[], x -> round(x*1000)) qv FROM embeddings),
           cent AS (SELECT row_number() OVER (ORDER BY
               ('0x' || substr(md5(vec_id::VARCHAR),1,8))::BIGINT % 1000000, vec_id) - 1 AS ci,
               qv cv FROM q QUALIFY ci < 8),
           d AS (SELECT q.vec_id, c.ci,
               list_sum(list_transform(range(1, len(q.qv)+1),
                 i -> (q.qv[i]-c.cv[i])*(q.qv[i]-c.cv[i]))) dist
             FROM q CROSS JOIN cent c),
           asg AS (SELECT vec_id, ci AS cell FROM
             (SELECT vec_id, ci, row_number() OVER (PARTITION BY vec_id
                ORDER BY dist, ci) rn FROM d) WHERE rn = 1),
           m AS (SELECT cell, count(*) n FROM asg GROUP BY 1),
           j AS (SELECT a.cell, q.qv FROM asg a JOIN q ON q.vec_id = a.vec_id),
           u AS (SELECT cell, unnest(list_transform(range(1, len(qv)+1),
             i -> {'dim': i, 'val': qv[i]})) s FROM j)
           SELECT u.cell::INT AS cell, any_value(m.n)::BIGINT AS n_members,
             (s.dim)::INT AS dim,
             round(sum(s.val)/(any_value(m.n)*1000.0), 9) AS c_val
           FROM u JOIN m USING (cell) GROUP BY u.cell, s.dim""",

      "q_near_dup_cosine" ->
        """WITH n AS (SELECT vec_id id, embedding::DOUBLE[] v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) nrm
           FROM embeddings WHERE vec_id < 200)
           SELECT a.id id_a, b.id id_b,
             round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
           FROM n a JOIN n b ON a.id < b.id
           WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.3""",

      "q_lsh_near_dup" -> {
        // identical deterministic hyperplanes to Dedup.lshNearDups(4 planes,
        // 4 tables, seed 42): sign arrays embedded as literal constants;
        // bucketing signs are computed on the RAW vectors (norm-invariant)
        val bucketSelects = (0 until 4).map { tIdx =>
          val planes = Similarity.hyperplaneSigns(4, 64, 42L + 1000 * tIdx)
          val bucket = planes.zipWithIndex.map { case (p, i) =>
            val arr = p.map(x => if (x > 0) "1" else "-1").mkString("[", ",", "]")
            s"(CASE WHEN list_dot_product(v, $arr::DOUBLE[]) > 0 THEN ${1L << i} ELSE 0 END)"
          }.mkString(" + ")
          s"SELECT id, $tIdx t, $bucket b FROM n"
        }.mkString(" UNION ALL ")
        s"""WITH n AS (SELECT vec_id id, embedding::DOUBLE[] v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) nrm
           FROM embeddings),
           bk0 AS ($bucketSelects),
           bok AS (SELECT t, b FROM bk0 GROUP BY 1, 2 HAVING count(*) <= 1000),
           bk AS (SELECT bk0.* FROM bk0 JOIN bok USING (t, b)),
           cand AS (SELECT DISTINCT a.id id_a, b2.id id_b FROM bk a
             JOIN bk b2 ON a.t = b2.t AND a.b = b2.b AND a.id < b2.id)
           SELECT id_a, id_b,
             round(list_dot_product(na.v, nb.v) / (na.nrm * nb.nrm), 6) AS cosine
           FROM cand JOIN n na ON na.id = cand.id_a JOIN n nb ON nb.id = cand.id_b
           WHERE list_dot_product(na.v, nb.v) / (na.nrm * nb.nrm) >= 0.3"""
      },

      "q_ann_lsh" -> {
        // lshTopK buckets the RAW vectors (sign is normalization-invariant)
        val bucketSelects = (0 until 4).map { tIdx =>
          val planes = Similarity.hyperplaneSigns(4, 64, 42L + 1000 * tIdx)
          val bucket = planes.zipWithIndex.map { case (p, i) =>
            val arr = p.map(x => if (x > 0) "1" else "-1").mkString("[", ",", "]")
            s"(CASE WHEN list_dot_product(embedding::DOUBLE[], $arr::DOUBLE[]) > 0 THEN ${1L << i} ELSE 0 END)"
          }.mkString(" + ")
          s"SELECT vec_id id, $tIdx t, $bucket b FROM embeddings"
        }.mkString(" UNION ALL ")
        s"""WITH bk AS ($bucketSelects),
           cand AS (SELECT DISTINCT q.id query_id, c.id item_id FROM bk q
             JOIN bk c ON q.t = c.t AND q.b = c.b AND q.id <> c.id
             WHERE q.id < 10),
           scored AS (SELECT cand.query_id, cand.item_id,
             list_dot_product(e.embedding::DOUBLE[], qe.embedding::DOUBLE[]) /
               (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
                sqrt(list_dot_product(qe.embedding::DOUBLE[], qe.embedding::DOUBLE[]))) cosine
             FROM cand
             JOIN embeddings e ON e.vec_id = cand.item_id
             JOIN embeddings qe ON qe.vec_id = cand.query_id),
           ranked AS (SELECT query_id, item_id, cosine,
             row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, item_id) rank
             FROM scored)
           SELECT query_id, item_id, round(cosine, 6) AS cosine, rank
           FROM ranked WHERE rank <= 3"""
      },

      "q_dsir_weights" ->
        // DSIR hashed-bigram log-ratio weights vs the lang='en' target:
        // bucket = ((t_i*32768 + t_{i+1}) mod 4096), ratio table pre-scaled
        // to ⌊10^6·Δln + 0.5⌋ integers, per-doc score = exact integer sum —
        // bit-identical to the Spark side's BigramLogSum projection
        s"""WITH t AS (SELECT doc_id, lang, $tokSql toks FROM documents),
           bg AS (SELECT doc_id, lang, unnest(list_transform(range(1, len(toks)),
               i -> (((toks[i]::BIGINT*32768 + toks[i+1]) % 4096 + 4096) % 4096)::INT)) b
             FROM t WHERE len(toks) >= 2),
           tc AS (SELECT b, count(*) c FROM bg WHERE lang = 'en' GROUP BY 1),
           rc AS (SELECT b, count(*) c FROM bg GROUP BY 1),
           tt AS (SELECT sum(c)::DOUBLE s FROM tc),
           rt AS (SELECT sum(c)::DOUBLE s FROM rc),
           r AS (SELECT i.b, floor(1e6*(ln((coalesce(tc.c,0)+0.5)/(tt.s+0.5*4096))
                                      - ln((coalesce(rc.c,0)+0.5)/(rt.s+0.5*4096))) + 0.5)::BIGINT rv
             FROM (SELECT unnest(range(0,4096))::INT b) i
             LEFT JOIN tc USING (b) LEFT JOIN rc USING (b) CROSS JOIN tt CROSS JOIN rt),
           w AS (SELECT bg.doc_id, sum(r.rv)::BIGINT ws FROM bg JOIN r USING (b) GROUP BY 1)
           SELECT t.doc_id, coalesce(w.ws, 0)::BIGINT AS w_scaled,
             round(coalesce(w.ws, 0)/1e6, 6) AS weight
           FROM t LEFT JOIN w USING (doc_id)""",

      "q_langid" -> {
        val langs = TextAnalysis.stopwords.keys.toSeq.sorted
        val structs = langs.map(l => s"{'score': ${hits(l)}, 'lang': '$l'}").mkString(", ")
        s"""SELECT doc_id,
           CASE WHEN best.score >= 1 THEN best.lang ELSE 'und' END AS lang_pred
           FROM (SELECT doc_id, list_aggregate([$structs], 'max') best FROM documents)"""
      },

      "q_quality" ->
        s"""SELECT doc_id, len(string_split(text,' ')) AS n_words,
           round((length(text) - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g')))::DOUBLE
             / length(text), 6) AS punct_ratio,
           round(len(list_filter(string_split(text,' '), w -> w IN ($stop)))::DOUBLE
             / len(string_split(text,' ')), 6) AS stopword_ratio,
           round(least(1.0, len(string_split(text,' '))::DOUBLE / 16.0)
             * (1.0 - (length(text) - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g')))::DOUBLE / length(text))
             * (1.0 - (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE / length(text)),
             6) AS quality_score
           FROM documents""",

      "q_token_counts" ->
        """SELECT doc_id, len(string_split(text,' ')) AS ws_tokens,
           ceil(length(text)::DOUBLE / 4.0)::BIGINT AS bpe_est_tokens
           FROM documents""",

      "q_hot_shingles" ->
        s"""WITH ts AS (SELECT doc_id::BIGINT id, $tokSql toks FROM documents),
           sh AS (SELECT id, list_distinct($shSql) s FROM ts WHERE len(toks) >= 3),
           ex AS (SELECT id, unnest(s) sv FROM sh),
           hot AS (SELECT sv FROM
             (SELECT sv, count(*) c FROM ex GROUP BY 1
              ORDER BY c DESC, sv ASC LIMIT 100)),
           h AS (SELECT id, count(*) hits FROM ex JOIN hot USING (sv) GROUP BY 1)
           SELECT sh.id AS doc_id, len(sh.s)::INT AS n_sh,
             coalesce(h.hits, 0)::BIGINT AS hot_hits,
             round(coalesce(h.hits, 0)::DOUBLE / len(sh.s), 6) AS hot_coverage
           FROM sh LEFT JOIN h USING (id)""",

      // exact integer counts (no rounded-double compare — see the query note)
      "q_ngram_repeat" ->
        s"""WITH ts AS (SELECT doc_id::VARCHAR doc_id, $tokSql toks FROM documents),
           g AS (SELECT doc_id, list_transform(range(1, greatest(len(toks)-1, 0)+1),
                   i -> toks[i]::BIGINT*4096 + toks[i+1]::BIGINT) grams FROM ts)
           SELECT doc_id, len(grams)::BIGINT AS n_grams,
             len(list_distinct(grams))::BIGINT AS n_distinct
           FROM g""",

      "q_normalize" ->
        """SELECT doc_id,
           nfc_normalize(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS norm
           FROM documents""",

      "q_unigram_lm" ->
        """WITH toks0 AS (
             SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
           tk AS (SELECT doc_id, tok FROM toks0 WHERE len(tok) > 0),
           vocab AS (SELECT tok, count(*)::BIGINT AS cnt FROM tk GROUP BY 1),
           tot AS (SELECT sum(cnt)::DOUBLE AS tot FROM vocab)
           SELECT doc_id,
             round(ln((SELECT tot FROM tot)) - avg(ln(cnt::DOUBLE)), 6) AS nll,
             count(*)::BIGINT AS n_tok
           FROM tk JOIN vocab USING (tok)
           GROUP BY doc_id""",

      "q_tfidf_topk" ->
        """WITH toks0 AS (
             SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
           tk AS (SELECT doc_id, tok FROM toks0 WHERE len(tok) > 0),
           tfreq AS (SELECT doc_id, tok, count(*)::BIGINT AS tf FROM tk GROUP BY 1, 2),
           dfreq AS (SELECT tok, count(*)::BIGINT AS df FROM tfreq GROUP BY 1),
           nd AS (SELECT count(DISTINCT doc_id)::DOUBLE AS n_docs FROM tfreq),
           scored AS (
             SELECT tfreq.doc_id, tfreq.tok, tfreq.tf,
               round(tfreq.tf::DOUBLE * ln((SELECT n_docs FROM nd) / dfreq.df::DOUBLE), 6) AS tfidf
             FROM tfreq JOIN dfreq USING (tok)),
           ranked AS (SELECT *, row_number() OVER (
             PARTITION BY doc_id ORDER BY tfidf DESC, tok ASC) AS rk FROM scored)
           SELECT doc_id, tok, tf, tfidf, rk FROM ranked WHERE rk <= 3""",

      "q_curation" ->
        // stage-by-stage replica of Curation.curate: every CTE reuses the
        // oracle fragment already pinned by the stage's own query
        // (q_gopher_filter, q_dedup_keep_count, q_fuzzy_dedup,
        // q_decontaminate)
        s"""WITH RECURSIVE d0 AS (SELECT doc_id::BIGINT id, text, lang, $tokSql toks FROM documents),
           s1 AS (SELECT * FROM d0 WHERE lang IN ('en','es')),
           qf AS (SELECT *, len(string_split(text,' ')) nw,
             (length(text) - (len(string_split(text,' ')) - 1))::DOUBLE
               / len(string_split(text,' ')) ml,
             len(list_filter(string_split(text,' '),
               w -> w IN ('the','be','to','of','and','that','have','with'))) shits,
             len(regexp_extract_all(text, '[#…]|\\.\\.\\.')) sy
            FROM s1),
           s2 AS (SELECT id, text, lang, toks FROM qf
             WHERE nw BETWEEN 30 AND 100000 AND ml BETWEEN 3.0 AND 10.0
               AND shits >= 1 AND sy::DOUBLE / nw <= 0.1),
           s3 AS (SELECT * FROM s2 WHERE id IN (SELECT min(id) FROM s2 GROUP BY text)),
           ${minhashPairCtesFrom("SELECT id, toks FROM s3")},
           sym AS (SELECT id_a a, id_b b FROM mpairs
                   UNION SELECT id_b, id_a FROM mpairs),
           reach(node, label) AS (
             SELECT a, a FROM sym
             UNION
             SELECT sx.a, r.label FROM reach r JOIN sym sx ON sx.b = r.node),
           cc AS (SELECT node, min(label) AS component FROM reach GROUP BY node),
           s4 AS (SELECT s3.* FROM s3 LEFT JOIN cc ON cc.node = s3.id
                  WHERE cc.component IS NULL OR cc.component = s3.id),
           bsh AS (SELECT DISTINCT unnest(list_distinct($shSql)) s
                   FROM (SELECT toks FROM d0 WHERE id % 97 = 0)
                   WHERE len(toks) >= 3),
           csh AS (SELECT id, unnest(list_distinct($shSql)) s
                   FROM s4 WHERE len(toks) >= 3),
           bad AS (SELECT id FROM csh JOIN bsh USING (s)
                   GROUP BY id HAVING count(*) >= 3),
           s5 AS (SELECT * FROM s4 WHERE id NOT IN (SELECT id FROM bad))
           SELECT 'input' AS stage, 0 AS ord, (SELECT count(*) FROM d0)::BIGINT AS n_rows
           UNION ALL SELECT 'lang_filter', 1, (SELECT count(*) FROM s1)
           UNION ALL SELECT 'quality_filter', 2, (SELECT count(*) FROM s2)
           UNION ALL SELECT 'exact_dedup', 3, (SELECT count(*) FROM s3)
           UNION ALL SELECT 'fuzzy_dedup', 4, (SELECT count(*) FROM s4)
           UNION ALL SELECT 'decontaminate', 5, (SELECT count(*) FROM s5)""",

      "q_pii_scan" ->
        // the injected-PII construction and the five RE2-clean patterns are
        // byte-identical to the Spark side; counts via regexp_extract_all,
        // redaction via chained regexp_replace with the 'g' flag (Spark's
        // regexp_replace is always global)
        """WITH t2 AS (SELECT doc_id, text ||
             CASE WHEN doc_id % 7 = 0 THEN ' mailto user' || doc_id || '@example.com' ELSE '' END ||
             CASE WHEN doc_id % 11 = 0 THEN ' call 555-867-5309' ELSE '' END ||
             CASE WHEN doc_id % 13 = 0 THEN ' host 192.168.10.1' ELSE '' END AS text2
           FROM documents),
           c AS (SELECT doc_id, text2,
             len(regexp_extract_all(text2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS email_hits,
             len(regexp_extract_all(text2, '\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b'))::BIGINT AS card_hits,
             len(regexp_extract_all(text2, '\b\d{3}-\d{2}-\d{4}\b'))::BIGINT AS ssn_hits,
             len(regexp_extract_all(text2, '\b\d{3}[-.]\d{3}[-.]\d{4}\b'))::BIGINT AS phone_hits,
             len(regexp_extract_all(text2, '\b(?:\d{1,3}\.){3}\d{1,3}\b'))::BIGINT AS ipv4_hits
           FROM t2)
           SELECT doc_id, email_hits, card_hits, ssn_hits, phone_hits, ipv4_hits,
             email_hits + card_hits + ssn_hits + phone_hits + ipv4_hits AS pii_total,
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(text2,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b', '<CARD>', 'g'),
               '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
               '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g'),
               '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IPV4>', 'g') AS redacted
           FROM c
           WHERE email_hits + card_hits + ssn_hits + phone_hits + ipv4_hits > 0""",

      "q_gopher_filter" ->
        """WITH f AS (SELECT doc_id,
             len(string_split(text, ' '))::INT AS n_words,
             (length(text) - (len(string_split(text, ' ')) - 1))::DOUBLE
               / len(string_split(text, ' ')) AS mean_word_len,
             len(list_filter(string_split(text, ' '),
               w -> w IN ('the','be','to','of','and','that','have','with'))) AS stop_hits,
             len(regexp_extract_all(text, '[#…]|\.\.\.')) AS symbol_hits
           FROM documents)
           SELECT doc_id, n_words, round(mean_word_len, 6) AS mean_word_len,
             n_words BETWEEN 50 AND 100000 AS ok_word_count,
             mean_word_len BETWEEN 3.0 AND 10.0 AS ok_mean_word_len,
             stop_hits >= 2 AS ok_stopwords,
             symbol_hits::DOUBLE / n_words <= 0.1 AS ok_symbol_ratio,
             (n_words BETWEEN 50 AND 100000) AND (mean_word_len BETWEEN 3.0 AND 10.0)
               AND stop_hits >= 2 AND symbol_hits::DOUBLE / n_words <= 0.1 AS keep
           FROM f""",

      "q_semantic_dedup" ->
        // brute-force cosine pairs (same subset/threshold as
        // q_near_dup_cosine) → symmetric closure → label propagation →
        // min-label per node = the connected component, like q_fuzzy_dedup
        """WITH RECURSIVE n AS (SELECT vec_id id, embedding::DOUBLE[] v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) nrm
           FROM embeddings WHERE vec_id < 200),
           p AS (SELECT a.id id_a, b.id id_b FROM n a JOIN n b ON a.id < b.id
                 WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.3),
           sym AS (SELECT id_a a, id_b b FROM p UNION SELECT id_b, id_a FROM p),
           reach(node, label) AS (
             SELECT a, a FROM sym
             UNION
             SELECT s2.a, r.label FROM reach r JOIN sym s2 ON s2.b = r.node),
           cc AS (SELECT node, min(label) AS component FROM reach GROUP BY node)
           SELECT e.vec_id, COALESCE(cc.component, e.vec_id) AS component
           FROM embeddings e LEFT JOIN cc ON cc.node = e.vec_id
           WHERE e.vec_id < 200""",

      "q_strat_sample" ->
        """SELECT doc_id, lang FROM documents
           WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 1000000 <
                 CASE WHEN lang = 'en' THEN 200000 ELSE 500000 END""",

      "q_sample_k" ->
        """SELECT doc_id, lang FROM (
             SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
               ORDER BY ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 1000000,
                        doc_id) AS rk
             FROM documents) WHERE rk <= 5""",

      "q_mix_sample" ->
        """WITH avail AS (
             SELECT source, sum(n_chars)::DOUBLE AS w FROM documents
             WHERE source IN ('src0','src1','src2') GROUP BY 1),
           shares(source, share) AS (
             VALUES ('src0', 0.5::DOUBLE), ('src1', 0.3::DOUBLE), ('src2', 0.2::DOUBLE)),
           j AS (SELECT a.source, a.w, s.share FROM avail a
                 JOIN shares s USING (source) WHERE a.w > 0),
           fr AS (SELECT source,
                    least(1.0::DOUBLE, share * (SELECT min(w / share) FROM j) / w) AS f
                  FROM j),
           kept AS (
             SELECT d.source, d.n_chars FROM documents d JOIN fr USING (source)
             WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT % 1000000
                   < trunc(f * 1e6)::BIGINT)
           SELECT source, count(*) AS cnt, sum(n_chars)::BIGINT AS sum_chars
           FROM kept GROUP BY 1""",

      // Training-sequence shaping. All four reuse the canonical tokenizer
      // (tokSql); stream order is lexicographic doc_id::VARCHAR on both sides.
      "q_chunk_split" ->
        s"""WITH ts AS (SELECT doc_id::VARCHAR doc_id, $tokSql toks FROM documents),
           n AS (SELECT doc_id, toks, len(toks) n FROM ts WHERE len(toks) > 0),
           c AS (SELECT doc_id, toks, n,
                   CASE WHEN n <= 128 THEN 1 ELSE 1 + (n - 128 + 96 - 1) // 96 END nch
                 FROM n),
           g AS (SELECT doc_id, toks, n, unnest(generate_series(0, nch - 1)) AS g FROM c)
           SELECT doc_id, g::INT AS chunk_idx,
                  array_to_string(list_transform(toks[g*96+1 : least(g*96+128, n)],
                    x -> x::VARCHAR), ',') AS chunk_tokens,
                  (least(g*96+128, n) - g*96)::INT AS chunk_len
           FROM g""",

      "q_pack_assign" ->
        s"""WITH ts AS (SELECT doc_id::VARCHAR doc_id, source, len($tokSql)::BIGINT n
                        FROM documents),
           w AS (SELECT *, (sum(n + 1) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - (n + 1))::BIGINT AS s FROM ts),
           e AS (SELECT *, unnest(generate_series(s // 256, (s + n) // 256)) AS g FROM w)
           SELECT source, doc_id, g AS seq_id,
                  greatest(0, g*256 - s)::BIGINT AS tok_begin,
                  least(n, (g+1)*256 - s)::BIGINT AS tok_end,
                  greatest(0, s - g*256)::BIGINT AS seq_off
           FROM e
           WHERE least(n, (g+1)*256 - s) > greatest(0, g*256 - s)""",

      "q_packed_seqs" ->
        s"""WITH ts AS (SELECT doc_id::VARCHAR doc_id, source, $tokSql toks FROM documents),
           s AS (SELECT source,
                   flatten(list(list_append(toks, 4096::INT) ORDER BY doc_id)) stream
                 FROM ts GROUP BY source),
           x AS (SELECT source, stream, len(stream)::BIGINT sl FROM s),
           g AS (SELECT source, stream, sl,
                   unnest(generate_series(0, (sl - 1) // 256)) AS g FROM x)
           SELECT source, g AS seq_id,
                  array_to_string(list_transform(stream[g*256+1 : least((g+1)*256, sl)],
                    x -> x::VARCHAR), ',') AS packed,
                  (least((g+1)*256, sl) - g*256)::BIGINT AS n_filled
           FROM g""",

      "q_shard_order" -> {
        val pows = (0 until 8).map(i => math.pow(31.0, i).toLong).mkString("[", ",", "]")
        s"""WITH ts AS (SELECT doc_id::VARCHAR doc_id, $tokSql toks FROM documents),
           fp AS (SELECT doc_id,
             (((list_sum(list_transform(range(1, len(toks)+1),
               i -> toks[i]::BIGINT * ($pows::BIGINT[])[((i-1) % 8) + 1])) % $P) + $P) % $P)::BIGINT AS fp
             FROM ts)
           SELECT doc_id, (fp % 8)::BIGINT AS shard,
                  (row_number() OVER (PARTITION BY fp % 8 ORDER BY fp, doc_id) - 1)::BIGINT AS pos
           FROM fp"""
      },

      "q_multimodal_meta" ->
        """SELECT doc_id, octet_length(encode(text))::BIGINT AS byte_len,
           md5(text) AS fingerprint,
           ceil(octet_length(encode(text))::DOUBLE / 64.0)::BIGINT AS n_frames
           FROM documents""",

      "q_window_bucket" ->
        """SELECT time_bucket(INTERVAL '1 hour', ts) AS w_start, event_type,
           count(*) AS cnt,
           round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_value
           FROM events GROUP BY 1, 2""",

      // Streaming twins: identical final tables to their batch counterparts
      // (availableNow over a static source is deterministic), so the oracles
      // are the batch oracles.
      "q_stream_violations" ->
        s"""WITH ts AS (SELECT doc_id::VARCHAR doc_id, $tokSql toks,
             len(string_split(text,' ')) n_tok, source FROM documents)
           SELECT doc_id, 'maximum' AS keyword FROM ts
             WHERE n_tok > 80 OR len(list_filter(toks, t -> t > 3900)) > 0
           UNION
           SELECT doc_id, 'enum' FROM ts WHERE source NOT IN ($allowedSrc)""",

      "q_stream_window" ->
        """SELECT time_bucket(INTERVAL '1 hour', ts) AS w_start, event_type,
           count(*) AS cnt,
           round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_value
           FROM events GROUP BY 1, 2""",

      "q_stream_ri" ->
        s"""SELECT doc_id::VARCHAR AS doc_id,
           'value of source not in dimension: ' || source AS message
           FROM documents WHERE source NOT IN ($allowedSrc)""",

      // streaming incremental dedup ≡ batch incremental dedup (q_incr_dedup):
      // the stream's per-batch unions reproduce the full-corpus pair set
      // restricted to pairs involving a fresh (id ≥ 400) doc
      "q_stream_dedup" ->
        s"""WITH $minhashPairCtes
           SELECT id_a, id_b, jaccard FROM mpairs
           WHERE id_a >= 400 OR id_b >= 400""",

      "q_json_ingest" ->
        """SELECT event_id,
           CASE WHEN json_extract_string(props, '$.k') IS NULL THEN 'required'
                WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) > 50 THEN 'maximum'
                ELSE 'minimum' END AS keyword
           FROM events
           WHERE props IS NOT NULL
             AND (json_extract_string(props, '$.k') IS NULL
                  OR CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
                  OR CAST(json_extract_string(props, '$.k') AS BIGINT) < 0)""",

      // t-digest tolerance contract: exact quantiles hash-compared, ok_*
      // booleans assert the sketch stayed within ±2% of exact (the Spark
      // side computes them from the real digest; a drifting sketch flips
      // them false and mismatches these literal trues)
      "q_tdigest_ntok" ->
        """SELECT round(quantile_cont(n_chars, 0.50), 4) AS exact_p50,
             true AS ok_p50,
             round(quantile_cont(n_chars, 0.95), 4) AS exact_p95,
             true AS ok_p95,
             round(quantile_cont(n_chars, 0.99), 4) AS exact_p99,
             true AS ok_p99
           FROM documents""",

      // schema-inference facet table: per-column min/max / required /
      // length bounds / ≤64-distinct enum domain, mirrored column-by-column
      "q_infer_profile" -> profileFacetSql(where = "TRUE"),

      // profile drift: facet-level comparison of two one-scan profiles —
      // full corpus (current) vs the en-only subset (baseline): lang gains
      // enum values, doc_id/n_chars bounds widen, text lengths widen
      "q_profile_drift" ->
        s"""WITH cur AS (${profileFacetSql("TRUE")}),
           base AS (${profileFacetSql("lang = 'en'")})
           SELECT c.col_name, 'common' AS status,
             (c.json_type <> b.json_type) AS type_changed,
             (b.required AND NOT c.required) AS new_nulls,
             (coalesce(c.min_num < b.min_num, false)
               OR coalesce(c.max_num > b.max_num, false)) AS bounds_widened,
             (coalesce(c.min_len < b.min_len, false)
               OR coalesce(c.max_len > b.max_len, false)) AS length_widened,
             CASE WHEN b.enum_csv IS NULL THEN NULL
                  WHEN c.enum_csv IS NULL THEN '<domain exceeded cap>'
                  ELSE (SELECT string_agg(DISTINCT v, '|' ORDER BY v)
                        FROM unnest(string_split(c.enum_csv, chr(31))) AS t(v)
                        WHERE NOT list_contains(string_split(b.enum_csv, chr(31)), v))
             END AS new_enum_values
           FROM cur c JOIN base b USING (col_name)"""
    )
  }

  /** Facet-profile SQL over `documents` (mirrors SchemaInference.profile
    * column-by-column), filterable so drift oracles can profile a subset. */
  private def profileFacetSql(where: String): String = {
    def num(c: String) =
      s"""SELECT '$c' AS col_name, 'integer' AS json_type,
            (count(*) > 0 AND count($c) = count(*)) AS required,
            min($c)::DOUBLE AS min_num, max($c)::DOUBLE AS max_num,
            NULL::BIGINT AS min_len, NULL::BIGINT AS max_len,
            NULL::VARCHAR AS enum_csv FROM documents WHERE $where"""
    def str(c: String) =
      s"""SELECT '$c', 'string', (count(*) > 0 AND count($c) = count(*)),
            NULL::DOUBLE, NULL::DOUBLE,
            min(length($c))::BIGINT, max(length($c))::BIGINT,
            CASE WHEN count(DISTINCT $c) <= 64
                 THEN string_agg(DISTINCT $c, chr(31) ORDER BY $c)
                 ELSE NULL END FROM documents WHERE $where"""
    Seq(num("doc_id"), str("text"), str("lang"), str("source"),
        num("n_chars")).mkString("\nUNION ALL\n")
  }
}
