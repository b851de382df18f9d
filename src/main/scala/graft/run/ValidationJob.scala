package graft.run

import graft.snapshot.ParquetSnapshotStore
import graft.tokens.TokenSeqs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** spark-submit main for the full validation job (north rule: "run via
  * spark-submit at N and 4N executors" — the master/executor topology comes
  * entirely from spark-submit/conf; this main never sets a master).
  *
  * {{{
  * spark-submit --class graft.run.ValidationJob --master <any> app.jar \
  *   --rows 100000000 --parts 256 --out /data/run1 [--resume RUN_ID] \
  *   [--violation-rate 0.01] [--seed 42]
  * }}}
  *
  * Stages: synthesize (or reuse) the tokenized-sequence snapshot table →
  * commit baseline + current snapshots → run ValidationPipeline with
  * checkpoint/resume → print a one-line JSON summary.
  */
object ValidationJob {

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args)
    val rows = a.getOrElse("rows", "1000000").toLong
    val parts = a.getOrElse("parts", "64").toInt
    val out = a.getOrElse("out",
      sys.error("--out <dir> is required"))
    val seed = a.getOrElse("seed", "42").toLong
    val rate = a.getOrElse("violation-rate", "0.01").toDouble
    val runId = a.getOrElse("resume", s"run-$seed-$rows-$parts")

    val builder = SparkSession.builder().appName("graft-validation")
    // local default only when no master was provided via spark-submit/conf
    val spark = (if (sys.props.contains("spark.master")) builder
                 else builder.master("local[32]")
                   .config("spark.sql.shuffle.partitions", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val summary = runOnce(spark, rows, parts, seed, rate, out, runId)
    println(summary)
    spark.stop()
  }

  /** One full run (used by main and by Bench for the scaling measurement).
    * Returns the JSON summary line. */
  def runOnce(spark: SparkSession, rows: Long, parts: Int, seed: Long,
              rate: Double, out: String, runId: String): String = {
    val store = new ParquetSnapshotStore(spark, out)

    // snapshot 1: clean baseline; snapshot 2: current with injected violations
    def withPart(df: DataFrame): DataFrame =
      df.withColumn("part", pmod(xxhash64(coalesce(col("doc_id"), lit(""))), lit(parts)))
    // crash-safe bootstrap: commit only the MISSING snapshot(s), so a crash
    // between the baseline commit (snap 1) and the current commit (snap 2)
    // resumes by synthesizing just snap 2 instead of skipping synthesis and
    // failing forever on read(..., Some(2L)).
    val committed = store.currentSnapshot("token_sequences").getOrElse(0L)
    if (committed < 1L)
      store.commit("token_sequences",
        withPart(TokenSeqs.synthesize(spark, rows, seed + 1, violationRate = 0.0,
          numPartitions = parts)), "part")
    if (committed < 2L)
      store.commit("token_sequences",
        withPart(TokenSeqs.synthesize(spark, rows, seed, violationRate = rate,
          numPartitions = parts)), "part")
    val baseline = store.read("token_sequences", Some(1L))
    val current = store.read("token_sequences", Some(2L))
    val dim = spark.createDataFrame(
      Seq(("web", "common crawl"), ("books", "book corpus"),
          ("code", "source code"), ("wiki", "encyclopedia")))
      .toDF("source", "description")

    val cfg = PipelineConfig(TokenSeqs.canonicalSchemaJson())
    val t0 = System.nanoTime()
    val result = ValidationPipeline.runAndCommit(spark, current, Some(dim),
      Some(baseline), cfg, runId, out)
    // the summary reads the committed manifest batch, not a recomputation
    val agg = result.manifest.agg(
      coalesce(sum("row_count"), lit(0L)),
      coalesce(sum("violation_count"), lit(0L)),
      coalesce(sum(when(col("verdict"), 0L).otherwise(1L)), lit(0L)),
      count(lit(1))).collect()(0)
    val secs = (System.nanoTime() - t0) / 1e9
    val validated = agg.getLong(0)
    s"""{"run_id":"$runId","rows":$validated,"violations":${agg.getLong(1)},""" +
      s""""failed_partitions":${agg.getLong(2)},"partitions":${agg.getLong(3)},""" +
      s""""sec":$secs,"seq_per_sec":${validated / secs}}"""
  }

  private def parseArgs(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
}
