package perfbench

import graft.model.SchemaParser
import graft.row.RowValidator
import graft.run.{PipelineConfig, ValidationPipeline}
import graft.snapshot.{AppendSnapshotStore, ManifestStore}
import graft.table.TableChecks
import graft.tokens.TokenSeqs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Inputs shared by the token-table workloads. */
object TokenTables {
  /** Logical partitions (`part`), as in the repository's own bench input. */
  val Parts = 64
  val Sources = Seq("web", "books", "code", "wiki")

  def synth(spark: SparkSession, rows: Long, seed: Long, rate: Double, files: Int): DataFrame =
    TokenSeqs.synthesize(spark, rows, seed, rate, numPartitions = files)
      .withColumn("part", pmod(xxhash64(coalesce(col("doc_id"), lit(""))), lit(Parts)))

  /** The allowed-sources dimension of the referential check. */
  def writeDim(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    Sources.toDF("source").coalesce(1).write.parquet(path)
  }

  /** Probes of the row, compile, model and table layers on `facts`. */
  def rowProbes(w: Workload, facts: () => DataFrame, cfg: PipelineConfig): Map[String, Double] = {
    import w.{medianOf, noop, noopCount}
    val doc = SchemaParser.parse(cfg.schemaJson)
    val f = facts()
    var violationRows = 0L
    Map(
      "model.parse_ms" -> medianOf(30)(SchemaParser.parse(cfg.schemaJson)) * 1e3,
      "compile.compile_ms" -> medianOf(10)(RowValidator.validity(f, doc)) * 1e3,
      "row.scan_s" -> medianOf(2)(noop(facts())),
      "row.validity_s" -> medianOf(2) {
        val g = facts(); noop(g.filter(!RowValidator.validity(g, doc)))
      },
      "row.violations_s" -> medianOf(2) {
        violationRows = noopCount(RowValidator.violations(facts(), doc, cfg.idCol,
          extraCols = Seq(cfg.partCol)))
      },
      "row.violation_rows" -> violationRows.toDouble,
      "table.dup_salted_s" -> medianOf(2)(noop(TableChecks.duplicatesSalted(
        facts().filter(col(cfg.idCol).isNotNull), cfg.idCol, cfg.saltBuckets))))
  }
}

/** Expected violations of the canonical token schema, recounted with plain
  * Spark SQL (no graft code) from the JSON Schema keywords' definitions. */
object Recount {
  private val Uuid =
    "^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"
  private val MaxTok = 8192
  private val Vocab = TokenSeqs.VocabSize

  /** Violations by keyword. Uniqueness counts every row whose key occurs
    * more than once in `facts`; referential counts rows whose source is
    * not in `dim`. */
  def byKeyword(facts: DataFrame, dim: Seq[String]): Map[String, Long] = {
    val inDim = dim.map(s => s"'$s'").mkString(",")
    val enumSet = TokenTables.Sources.map(s => s"'$s'").mkString(",")
    // the lambda runs only on rows whose extreme element violates
    def tokCount(extreme: String, pred: String) =
      s"CASE WHEN $extreme(tokens) $pred THEN size(filter(tokens, x -> x $pred)) ELSE 0 END"
    val r = facts.selectExpr(
      "(CAST(doc_id IS NULL AS INT) + CAST(tokens IS NULL AS INT) + " +
        "CAST(n_tok IS NULL AS INT) + CAST(source IS NULL AS INT)) AS required",
      s"CAST(doc_id IS NOT NULL AND NOT doc_id RLIKE '$Uuid' AS INT) AS format",
      s"${tokCount("array_min", "< 0")} + CAST(coalesce(n_tok < 1, false) AS INT) AS minimum",
      s"${tokCount("array_max", s"> ${Vocab - 1}")} + CAST(coalesce(n_tok > $MaxTok, false) AS INT) AS maximum",
      "CAST(coalesce(size(tokens) < 1, false) AS INT) AS minItems",
      s"CAST(coalesce(size(tokens) > $MaxTok, false) AS INT) AS maxItems",
      s"CAST(source IS NOT NULL AND source NOT IN ($enumSet) AS INT) AS enum",
      s"CAST(source IS NULL OR source NOT IN ($inDim) AS INT) AS referential")
    val sums = r.columns.toSeq
    val row = r.agg(sum(col(sums.head)), sums.tail.map(c => sum(col(c))): _*).head()
    val perRow = sums.zipWithIndex.map { case (k, i) => k -> row.getLong(i) }
    val uniq = facts.filter(col("doc_id").isNotNull).groupBy("doc_id").count()
      .filter(col("count") > 1).agg(coalesce(sum("count"), lit(0L))).head().getLong(0)
    (perRow :+ ("uniqueness" -> uniq)).filter(_._2 > 0).toMap
  }

  /** Violations by keyword in a written violations table. */
  def written(violations: DataFrame): Map[String, Long] =
    violations.groupBy("keyword").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  def diff(what: String, expected: Map[String, Long], got: Map[String, Long]): Seq[String] =
    if (expected == got) Nil else Seq(s"$what: expected $expected, got $got")
}

/** `validate-full`: one `ValidationPipeline.runAndCommit` per op over a
  * fixed synthesized snapshot, into a fresh output dir. */
final class ValidateWorkload(spark: SparkSession, seed: Long, dir: String)
    extends Workload(spark, seed, dir) {
  private val rows = 20000L
  private val ViolationRate = 0.01
  /** Files of the input snapshot; the `part` column still has 64 values. */
  private val InputFiles = 16
  private val cfg = PipelineConfig(TokenSeqs.canonicalSchemaJson())
  private val in = s"$dir/input"
  private var synth = 0.0
  private var expected = Map.empty[String, Long]

  def rowsPerOp: Long = rows
  override def synthSeconds: Double = synth

  private def out(i: Int) = s"$dir/out-$i"
  private def facts() = read(s"$in/facts")

  def setup(): Unit = {
    synth = Stats.time {
      TokenTables.synth(spark, rows, seed, ViolationRate, InputFiles).write.parquet(s"$in/facts")
      TokenTables.synth(spark, rows, seed + 1, 0.0, InputFiles).write.parquet(s"$in/baseline")
    }
    TokenTables.writeDim(spark, s"$in/dim")
  }

  def prepareChecks(): Unit = expected = Recount.byKeyword(facts(), TokenTables.Sources)

  def op(i: Int, t: Tracer): Unit = t.op("op")(runOp(i, cfg))

  private def runOp(i: Int, c: PipelineConfig, withDim: Boolean = true,
                    withBaseline: Boolean = true): Unit =
    ValidationPipeline.runAndCommit(spark, facts(),
      if (withDim) Some(read(s"$in/dim")) else None,
      if (withBaseline) Some(read(s"$in/baseline")) else None, c, s"op-$i", out(i))

  def written(i: Int): (Long, Long) = Stats.usage(out(i))

  def check(i: Int): Seq[String] = {
    val got = Recount.written(read(s"${out(i)}/violations"))
    val manifestRows = read(s"${out(i)}/_manifest").agg(sum("row_count")).head().getLong(0)
    Recount.diff("violations by keyword", expected, got) ++
      (if (manifestRows == rows) Nil else Seq(s"manifest row_count sum $manifestRows != $rows"))
  }

  def cleanup(i: Int): Unit = Stats.delete(out(i))

  /** The steps of `runAndCommit`, one span each, as one probe op. Its
    * outputs must pass the op's check, so the probe fails the run when it no
    * longer does what `runAndCommit` does. */
  private def steps(t: Tracer, i: Int): Unit = {
    val f = facts()
    t.op("probe.steps") {
      val store = new ManifestStore(spark, out(i))
      val r = t.span("run.build")(ValidationPipeline.run(spark, f, Some(read(s"$in/dim")),
        Some(read(s"$in/baseline")), cfg, s"op-$i", Some(store)))
      t.span("compile.plan") {
        r.violations.queryExecution.executedPlan
        r.manifest.queryExecution.executedPlan
      }
      t.span("run.exec") {
        t.span("run.violations_write")(r.violations.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(cfg.partCol).parquet(s"${out(i)}/violations"))
        t.span("snapshot.manifest_append")(store.append(r.manifest))
      }
    }
    val problems = check(i)
    cleanup(i)
    spark.catalog.clearCache()
    if (problems.nonEmpty)
      throw new IllegalStateException(s"step probe output check failed: ${problems.mkString("; ")}")
  }

  def probes(t: Tracer, jobS: Double): Map[String, Double] = {
    var k = 1000
    steps(t, k)
    val layer = TokenTables.rowProbes(this, () => facts(), cfg)
    val commit = medianOf(1)(new AppendSnapshotStore(spark, s"$dir/probe-store-${System.nanoTime()}")
      .commitAppend("facts", facts(), cfg.partCol))
    // op time saved by switching one check family off
    def without(c: PipelineConfig, withDim: Boolean = true, withBaseline: Boolean = true): Double =
      jobS - medianOf(1) {
        k += 1
        runOp(k, c, withDim, withBaseline)
        cleanup(k)
        spark.catalog.clearCache()
      }
    layer ++ Map(
      "snapshot.commit_s" -> commit,
      "run.family.uniqueness_s" -> without(cfg.copy(uniqueKey = None)),
      "run.family.referential_s" -> without(cfg, withDim = false),
      "run.family.stats_s" -> without(cfg.copy(statsCols = Nil, quantileCol = None)),
      "run.family.drift_s" -> without(cfg, withBaseline = false))
  }
}
