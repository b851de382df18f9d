package perfbench

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** One benchmark workload: seeded inputs, one op, its output checks and the
  * per-layer probes of the traced run. */
abstract class Workload(val spark: SparkSession, val seed: Long, val dir: String) {

  /** Input rows of one op, the numerator of `rows_per_s`. */
  def rowsPerOp: Long

  /** Untimed ops before the timed ones: the first ops of a fresh JVM run
    * measurably slower (class loading, JIT, codegen) and vary the most. */
  def warmupOps: Int = 2

  /** Generates the inputs the ops read. */
  def setup(): Unit

  /** Seconds spent in `TokenSeqs.synthesize` and its writes during setup;
    * 0 for workloads that do not synthesize token rows. */
  def synthSeconds: Double = 0.0

  /** Computes, without graft code, the expected outputs the checks compare
    * against. Runs once, after setup. */
  def prepareChecks(): Unit

  /** One op. With tracing on, the op runs inside a span of its own. */
  def op(i: Int, t: Tracer): Unit

  /** Files and bytes op `i` added under its output and state directories. */
  def written(i: Int): (Long, Long)

  /** Problems found in op `i`'s outputs; empty when they are correct. */
  def check(i: Int): Seq[String]

  /** Deletes op `i`'s outputs. */
  def cleanup(i: Int): Unit

  /** Per-layer probe values by name (see [[Probes.All]]); `jobS` is the
    * untraced op median of this run. */
  def probes(t: Tracer, jobS: Double): Map[String, Double]

  def read(path: String): DataFrame = spark.read.parquet(path)

  def medianOf(reps: Int)(body: => Unit): Double =
    Stats.median((0 until reps).map(_ => Stats.time(body)))

  /** Materializes `df` completely into Spark's no-op sink. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Row count of `df`, observed while it is written to the no-op sink. */
  def noopCount(df: DataFrame): Long = {
    val obs = Observation(s"rows-${System.nanoTime()}")
    noop(df.observe(obs, count(lit(1)).as("n")))
    obs.get("n").asInstanceOf[Long]
  }
}

object Workload {
  val Names = Seq("validate-full", "curate")

  def apply(name: String, spark: SparkSession, seed: Long, dir: String): Workload = name match {
    case "validate-full" => new ValidateWorkload(spark, seed, dir)
    case "curate" => new CurateWorkload(spark, seed, dir)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other'; expected one of ${Names.mkString(", ")}")
  }
}

/** Names and units of the per-layer probe metrics. A workload reports the
  * probes it exercises; the others read 0 and are listed as not exercised. */
object Probes {
  val All: Seq[(String, String)] = Seq(
    "model.parse_ms" -> "ms",
    "compile.compile_ms" -> "ms",
    "row.scan_s" -> "s",
    "row.validity_s" -> "s",
    "row.violations_s" -> "s",
    "row.violation_rows" -> "count",
    "table.dup_salted_s" -> "s",
    "snapshot.commit_s" -> "s",
    "run.family.uniqueness_s" -> "s",
    "run.family.referential_s" -> "s",
    "run.family.stats_s" -> "s",
    "run.family.drift_s" -> "s",
    "curation.lang_quality_s" -> "s",
    "curation.exact_dedup_s" -> "s",
    "curation.fuzzy_dedup_s" -> "s",
    "curation.decontaminate_s" -> "s")
}
