package graft

import graft.run.{PipelineConfig, ValidationJob, ValidationPipeline}
import graft.snapshot.{ManifestStore, ParquetSnapshotStore}
import graft.table.TableChecks
import graft.tokens.TokenSeqs
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import java.nio.file.Files

class PipelineSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-pipe").toString

  private def dim: DataFrame = spark.createDataFrame(
    Seq(("web", ""), ("books", ""), ("code", ""), ("wiki", "")))
    .toDF("source", "description")

  private def gen(rows: Long, seed: Long, rate: Double, parts: Int): DataFrame =
    TokenSeqs.synthesize(spark, rows, seed, rate, numPartitions = parts)
      .withColumn("part", pmod(xxhash64(coalesce(col("doc_id"), lit(""))), lit(parts)))

  private val cfg = PipelineConfig(TokenSeqs.canonicalSchemaJson())

  test("clean input: zero violations, all partitions pass") {
    val r = ValidationPipeline.run(spark, gen(2000, 7L, 0.0, 8), Some(dim),
      Some(gen(2000, 8L, 0.0, 8)), cfg, "run-clean")
    assert(r.violations.count() == 0)
    val m = r.manifest.collect()
    assert(m.length == 8)
    assert(m.forall(_.getAs[Boolean]("verdict")))
    assert(m.map(_.getAs[Long]("row_count")).sum == 2000)
  }

  test("per-partition expectation suite rides the pipeline and gates verdicts") {
    import graft.table.Expectations._
    val facts = gen(2000, 7L, 0.0, 8)
    // clean data, but an impossible mean gate: every partition must fail on
    // expectations alone (violation_count stays 0)
    val strict = cfg.copy(expectations =
      Seq(MeanBetween("n_tok", 0.0, 0.5), NullRateMax("source", 0.0)))
    val r = ValidationPipeline.run(spark, facts, Some(dim), None, strict, "run-exp")
    val m = r.manifest.collect()
    assert(m.forall(_.getAs[Long]("violation_count") == 0L))
    assert(m.forall(!_.getAs[Boolean]("verdict")))
    assert(m.forall(_.getAs[Map[String, Double]]("metrics")
      .get("expectations_failed").contains(1.0)))
    // a satisfiable suite leaves the clean verdicts standing
    val lax = cfg.copy(expectations =
      Seq(MeanBetween("n_tok", 0.0, 1e9), NullRateMax("source", 0.0)))
    val r2 = ValidationPipeline.run(spark, facts, Some(dim), None, lax, "run-exp2")
    assert(r2.manifest.collect().forall(_.getAs[Boolean]("verdict")))
  }

  test("1% injected violations: every violation family detected, verdicts fail") {
    val rows = 20000L
    val r = ValidationPipeline.run(spark, gen(rows, 42L, 0.01, 8), Some(dim),
      Some(gen(rows, 43L, 0.0, 8)), cfg, "run-dirty")
    val v = r.violations.cache()
    val byKeyword = v.groupBy("keyword").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap

    // generator injects (TokenSeqs.synthesize selector 1..7):
    // null doc_id → required; malformed uuid → format; dup doc_id → uniqueness;
    // -1 token → minimum; empty tokens → minItems (+ n_tok minimum);
    // n_tok mismatch is NOT in canonical schema (cross-field, tested in
    // pipeline verdict only via stats); unknown source → enum + referential.
    assert(byKeyword.contains("required"), s"got $byKeyword")
    assert(byKeyword.contains("format"))
    assert(byKeyword.contains("uniqueness"))
    assert(byKeyword.contains("minimum"))
    assert(byKeyword.contains("minItems"))
    assert(byKeyword.contains("enum"))
    assert(byKeyword.contains("referential"))

    // uniqueness: every row carrying a duplicated key is reported (>= 2 per key)
    val uniqRows = v.filter(col("keyword") === "uniqueness")
      .groupBy("doc_id").count().collect()
    assert(uniqRows.nonEmpty && uniqRows.forall(_.getLong(1) >= 2))

    // ~1% of rows violate → all partitions should fail
    val m = r.manifest.collect()
    assert(m.forall(r => !r.getAs[Boolean]("verdict")))
    assert(m.map(_.getAs[Long]("violation_count")).sum == v.count())
    v.unpersist()
  }

  test("drift: shifted n_tok distribution trips the per-partition KS check") {
    // baseline length 1..512 (selector mix), current shifted: filter to long docs
    val cur = gen(4000, 42L, 0.0, 4).filter(col("n_tok") > 256)
    val base = gen(4000, 42L, 0.0, 4)
    val r = ValidationPipeline.run(spark, cur, Some(dim), Some(base), cfg, "run-drift")
    val m = r.manifest.collect()
    // KS between U(1,512) and U(257,512) is ~0.5 >> threshold 0.1
    assert(m.forall(x => x.getAs[Map[String, Double]]("metrics")("ks_stat") > 0.3))
    assert(m.forall(x => !x.getAs[Boolean]("verdict")))
  }

  private def metric(row: Row, name: String): java.lang.Double =
    row.getMap[String, java.lang.Double](row.fieldIndex("metrics"))(name)

  private val lax = PipelineConfig("""{"type": "object"}""")

  test("drift: a null category is one category on both sides, not a χ² false alarm") {
    import spark.implicits._
    // one partition, 10 `web` and 5 null-source rows, and its own baseline
    val facts = ((1 to 10).map(i => (s"w$i", 0L, Option(5), "web")) ++
      (1 to 5).map(i => (s"n$i", 0L, Option(5), null: String)))
      .toDF("doc_id", "part", "n_tok", "source")
    val row = ValidationPipeline.run(spark, facts, None, Some(facts), lax, "run-null-cat")
      .manifest.collect().head
    assert(metric(row, "chi2_categories") == 2.0)
    assert(math.abs(metric(row, "chi2_stat")) < 1e-12, s"chi2 ${metric(row, "chi2_stat")}")
    assert(math.abs(metric(row, "psi_stat")) < 1e-12, s"psi ${metric(row, "psi_stat")}")
    assert(metric(row, "chi2_p") == 1.0)
    assert(row.getAs[Boolean]("verdict"))
  }

  test("drift: an all-null numeric drift column leaves that partition ungated by KS") {
    import spark.implicits._
    val facts = ((1 to 6).map(i => (s"a$i", 0L, Option.empty[Int], "web")) ++
      (1 to 6).map(i => (s"b$i", 1L, Option(5), "web")))
      .toDF("doc_id", "part", "n_tok", "source")
    val base = (1 to 6).map(i => (s"c$i", 0L, Option(5), "web"))
      .toDF("doc_id", "part", "n_tok", "source")
    val m = ValidationPipeline.run(spark, facts, None, Some(base), lax, "run-null-num")
      .manifest.collect().map(r => r.getAs[String]("partition_key") -> r).toMap
    assert(metric(m("0"), "ks_stat") == null)
    assert(m("0").getAs[Boolean]("verdict"))
    assert(metric(m("1"), "ks_stat") == 0.0)
    // an all-null baseline leaves every partition ungated by KS
    val nullBase = base.withColumn("n_tok", lit(null).cast("int"))
    val m2 = ValidationPipeline.run(spark, facts, None, Some(nullBase), lax, "run-null-base")
      .manifest.collect()
    assert(m2.forall(r => metric(r, "ks_stat") == null && r.getAs[Boolean]("verdict")))
  }

  test("drift oracle: per-partition KS and χ² equal TableChecks on each partition's rows") {
    val base = gen(3000, 43L, 0.0, 4)
    def someNullSources(df: DataFrame): DataFrame = df.withColumn("source",
      when(pmod(xxhash64(col("doc_id")), lit(7)) === 0, lit(null).cast("string"))
        .otherwise(col("source")))
    val cases = Seq(
      ("1%", gen(3000, 42L, 0.01, 4), base),
      ("30%", gen(3000, 42L, 0.30, 4), base),
      ("null category", someNullSources(gen(3000, 44L, 0.01, 4)), someNullSources(base)))
    for ((label, facts, b) <- cases) {
      val m = ValidationPipeline.run(spark, facts, None, Some(b), cfg, "run-oracle")
        .manifest.collect()
      assert(m.length == 4, label)
      for (row <- m) {
        val p = facts.filter(col("part") === row.getAs[String]("partition_key").toLong)
        val ks = TableChecks.ksStatistic(p, b, "n_tok").head().getDouble(0)
        val chi2 = TableChecks.chiSquaredStatistic(p, b, "source").head()
        assert(metric(row, "ks_stat") == ks, label)
        val got = metric(row, "chi2_stat").doubleValue
        assert(math.abs(got - chi2.getDouble(0)) <= 1e-12 * math.abs(chi2.getDouble(0)),
          s"$label: chi2 $got vs ${chi2.getDouble(0)}")
        assert(metric(row, "chi2_categories") == chi2.getLong(1).toDouble, label)
      }
    }
  }

  test("runAndCommit releases its caches and returns the committed manifest") {
    val out = tmp()
    spark.catalog.clearCache()
    val r = ValidationPipeline.runAndCommit(spark, gen(2000, 5L, 0.01, 4), Some(dim),
      Some(gen(2000, 6L, 0.0, 4)), cfg, "run-cache", out)
    assert(spark.sharedState.cacheManager.isEmpty)
    def stamps(df: DataFrame) = df.select("partition_key", "committed_at").collect().toSet
    assert(stamps(r.manifest) == stamps(new ManifestStore(spark, out).readAll()))
    assert(stamps(r.manifest).size == 4)
  }

  test("manifest resume: completed partitions are skipped, restart completes the run") {
    val out = tmp()
    val store = new ManifestStore(spark, out)
    val facts = gen(4000, 11L, 0.0, 8).cache()

    // first attempt: simulate a crash after only partitions 0-3 committed
    val firstHalf = facts.filter(col("part") < 4)
    val r1 = ValidationPipeline.run(spark, firstHalf, Some(dim), None, cfg,
      "run-x", Some(store))
    store.append(r1.manifest)
    assert(store.completedPartitions("run-x").count() == 4)

    // restart over the FULL input: only pending partitions 4-7 are processed
    val r2 = ValidationPipeline.run(spark, facts, Some(dim), None, cfg,
      "run-x", Some(store))
    val m2 = r2.manifest.collect()
    assert(m2.length == 4)
    assert(m2.map(_.getAs[String]("partition_key")).toSet == Set("4", "5", "6", "7"))
    store.append(r2.manifest)

    // combined manifest covers all 8 partitions exactly once, full row count
    val all = store.readAll().filter(col("run_id") === "run-x").collect()
    assert(all.length == 8)
    assert(all.map(_.getAs[Long]("row_count")).sum == 4000)
    facts.unpersist()
  }

  test("crash between violations write and manifest append: replay replaces, not duplicates") {
    val out = tmp()
    val facts = gen(20000, 21L, 0.01, 8).cache()
    // simulate the crash: violations landed on disk but the manifest append
    // never happened — the resumed run must re-validate those partitions and
    // REPLACE their violation files (dynamic partition overwrite), not append
    val store = new ManifestStore(spark, out)
    val r1 = ValidationPipeline.run(spark, facts, Some(dim), None, cfg, "run-c", Some(store))
    r1.violations.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy(cfg.partCol).parquet(s"$out/violations")
    r1.violations.unpersist()
    val crashCount = spark.read.parquet(s"$out/violations").count()
    assert(crashCount > 0)
    val r2 = ValidationPipeline.runAndCommit(spark, facts, Some(dim), None, cfg, "run-c", out)
    r2.violations.unpersist()
    assert(spark.read.parquet(s"$out/violations").count() == crashCount)
    facts.unpersist()
  }

  test("manifest append is staged: a crashed partial batch is invisible") {
    val out = tmp()
    val store = new ManifestStore(spark, out)
    val r = ValidationPipeline.run(spark, gen(1000, 31L, 0.0, 4), Some(dim),
      None, cfg, "run-m", Some(store))
    store.append(r.manifest)
    // fake a crashed append: staging files that never got renamed
    r.manifest.write.parquet(s"$out/_manifest/_staging-deadbeef")
    assert(store.readAll().filter(col("run_id") === "run-m").count() == 4)
    assert(store.completedPartitions("run-m").count() == 4)
  }

  test("snapshot commit retries over a crashed (marker-less) partial write") {
    val out = tmp()
    val store = new ParquetSnapshotStore(spark, out)
    // fake a crashed writer: data files for snap=1 exist, no commit marker
    gen(50, 3L, 0.0, 2).write.partitionBy("part").parquet(s"$out/t/snap=1")
    assert(store.currentSnapshot("t").isEmpty)
    val id = store.commit("t", gen(80, 4L, 0.0, 2), "part")
    assert(id == 1L)
    assert(store.read("t", Some(1L)).count() == 80)
  }

  test("snapshot store: commit/read isolation and marker-gated visibility") {
    val out = tmp()
    val store = new ParquetSnapshotStore(spark, out)
    assert(store.currentSnapshot("t").isEmpty)
    val df1 = gen(100, 1L, 0.0, 2)
    val id1 = store.commit("t", df1, "part")
    val id2 = store.commit("t", gen(200, 2L, 0.0, 2), "part")
    assert((id1, id2) == (1L, 2L))
    assert(store.read("t", Some(1L)).count() == 100)
    assert(store.read("t").count() == 200) // latest
    // uncommitted snapshot dir (no marker) is invisible
    intercept[IllegalArgumentException] { store.read("t", Some(99L)) }
  }

  test("ValidationJob.runOnce end-to-end: summary JSON + manifest + violations on disk") {
    val out = tmp()
    val json = ValidationJob.runOnce(spark, rows = 5000, parts = 8, seed = 42,
      rate = 0.01, out = out, runId = "job-1")
    assert(json.contains("\"rows\":5000"))
    assert(json.contains("\"partitions\":8"))
    val viol = spark.read.parquet(s"$out/violations")
    assert(viol.count() > 0)
    // idempotent resume: same runId → nothing left to do, zero new partitions
    val json2 = ValidationJob.runOnce(spark, rows = 5000, parts = 8, seed = 42,
      rate = 0.01, out = out, runId = "job-1")
    assert(json2.contains("\"partitions\":0"))
  }
}
