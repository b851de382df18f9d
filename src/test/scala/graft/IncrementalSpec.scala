package graft

import graft.functions.{MisraGries, TDigestMerge, TDigestSketch, TDigestBytes}
import graft.run.{IncrementalValidation, PipelineConfig, ValidationPipeline}
import graft.snapshot.AppendSnapshotStore
import graft.table.TableChecks
import graft.tokens.TokenSeqs
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Incremental snapshot revalidation: append-table semantics, mergeable
  * sketch state (t-digest, Misra–Gries), and the end-to-end guarantee that
  * validating deltas + merging state reproduces a full-table validation
  * without rescanning prior snapshots. */
class IncrementalSpec extends SparkSpec {

  private def tmp(): String = Files.createTempDirectory("graft-incr").toString

  private def dim: DataFrame = spark.createDataFrame(
    Seq(("web", ""), ("books", ""), ("code", ""), ("wiki", "")))
    .toDF("source", "description")

  private def gen(rows: Long, seed: Long, rate: Double, parts: Int): DataFrame =
    TokenSeqs.synthesize(spark, rows, seed, rate, numPartitions = parts)
      .withColumn("part", pmod(xxhash64(coalesce(col("doc_id"), lit(""))), lit(parts)))

  private val cfg = PipelineConfig(TokenSeqs.canonicalSchemaJson())

  // ------------------------------------------------------------ append store

  test("append store: snapshot visibility, readAsOf, readBetween, lineage") {
    val store = new AppendSnapshotStore(spark, tmp())
    val s1 = store.commitAppend("t", gen(100, 1L, 0.0, 4), "part")
    val s2 = store.commitAppend("t", gen(50, 2L, 0.0, 4), "part")
    val s3 = store.commitAppend("t", gen(25, 3L, 0.0, 4), "part")
    assert(Seq(s1, s2, s3) == Seq(1L, 2L, 3L))
    assert(store.currentSnapshot("t").contains(3L))
    assert(store.readAsOf("t").count() == 175)
    assert(store.readAsOf("t", Some(2L)).count() == 150)
    assert(store.readBetween("t", 1L, 3L).count() == 75)
    // lineage column identifies the committing snapshot
    val bySnap = store.readAsOf("t").groupBy("_snap_id").count()
      .collect().map(r => r.getAs[Number]("_snap_id").longValue() -> r.getLong(1)).toMap
    assert(bySnap == Map(1L -> 100L, 2L -> 50L, 3L -> 25L))
  }

  test("append store: uncommitted data dirs are invisible and cleared on retry") {
    val root = tmp()
    val store = new AppendSnapshotStore(spark, root)
    store.commitAppend("t", gen(100, 1L, 0.0, 4), "part")
    // simulate a crash: data written for snap=2 but no commit marker
    gen(50, 2L, 0.0, 4).write.partitionBy("part").parquet(s"$root/t/snap=2")
    assert(store.currentSnapshot("t").contains(1L))
    assert(store.readAsOf("t").count() == 100)
    // retry commits over the leftovers
    val s2 = store.commitAppend("t", gen(60, 3L, 0.0, 4), "part")
    assert(s2 == 2L && store.readAsOf("t").count() == 160)
  }

  test("append store: idempotency token makes replayed commits no-ops") {
    val store = new AppendSnapshotStore(spark, tmp())
    val s1 = store.commitAppend("t", gen(50, 1L, 0.0, 4), "part",
      idempotencyToken = Some("batch-0"))
    assert(s1 == 1L && store.readAsOf("t").count() == 50)
    // replay of the same logical batch: same id, no duplicate data
    val s1b = store.commitAppend("t", gen(50, 1L, 0.0, 4), "part",
      idempotencyToken = Some("batch-0"))
    assert(s1b == 1L && store.readAsOf("t").count() == 50)
    // a new token appends; tokenless commits are unaffected by the ledger
    val s2 = store.commitAppend("t", gen(25, 2L, 0.0, 4), "part",
      idempotencyToken = Some("batch-1"))
    val s3 = store.commitAppend("t", gen(10, 3L, 0.0, 4), "part")
    assert(s2 == 2L && s3 == 3L && store.readAsOf("t").count() == 85)
    // replay of batch-1 after later commits still resolves to ITS snapshot
    assert(store.commitAppend("t", gen(25, 2L, 0.0, 4), "part",
      idempotencyToken = Some("batch-1")) == 2L)
    assert(store.readAsOf("t").count() == 85)
  }

  test("compaction: reads unchanged, lineage survives, vacuum removes superseded dirs") {
    val root = tmp()
    val store = new AppendSnapshotStore(spark, root)
    store.commitAppend("t", gen(100, 1L, 0.0, 4), "part")
    store.commitAppend("t", gen(50, 2L, 0.0, 4), "part")
    store.commitAppend("t", gen(25, 3L, 0.0, 4), "part")
    def key(df: DataFrame) = df.select("doc_id", "_snap_id").collect()
      .map(r => (r.getString(0), r.getAs[Number](1).longValue())).toSet
    val before = key(store.readAsOf("t"))

    assert(store.compact("t", "part") == 3L)
    assert(store.latestCompaction("t").contains(3L))
    // every read form answers identically through the compacted files
    assert(key(store.readAsOf("t")) == before)
    assert(store.readAsOf("t", Some(2L)).count() == 150)
    assert(store.readBetween("t", 1L, 3L).count() == 75)
    // the lineage filter reaches the parquet scan of the compacted dir
    val plan = store.readBetween("t", 1L, 3L).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("_snap_id"),
      s"lineage filter not pushed:\n$plan")
    // compacting again with nothing new is a no-op
    assert(store.compact("t", "part") == 3L)

    // appends continue after compaction; ranges span the boundary
    store.commitAppend("t", gen(30, 4L, 0.0, 4), "part")
    assert(store.readAsOf("t").count() == 205)
    assert(store.readBetween("t", 2L, 4L).count() == 55)

    // vacuum removes snap dirs <= 3; history still fully served
    assert(store.vacuum("t") == 3)
    assert(key(store.readAsOf("t")).size == 205)
    assert(store.readAsOf("t", Some(1L)).count() == 100)
    assert(store.committedIds("t") == Seq(1L, 2L, 3L, 4L))

    // second compaction folds compact=3 + snap=4; vacuum drops both victims
    assert(store.compact("t", "part") == 4L)
    assert(store.vacuum("t") == 2) // snap=4 and compact=3
    assert(store.readAsOf("t").count() == 205)
    assert(store.readBetween("t", 3L, 4L).count() == 30)
  }

  test("compaction: a crashed (marker-less) compact dir is invisible and cleared on retry") {
    val root = tmp()
    val store = new AppendSnapshotStore(spark, root)
    store.commitAppend("t", gen(80, 7L, 0.0, 4), "part")
    store.commitAppend("t", gen(20, 8L, 0.0, 4), "part")
    // simulate a crash: compacted data written, no marker
    store.readAsOf("t").write.partitionBy("part").parquet(s"$root/t/compact=2")
    assert(store.latestCompaction("t").isEmpty)
    assert(store.readAsOf("t").count() == 100) // still served by snap dirs
    // retry commits over the leftovers
    assert(store.compact("t", "part") == 2L)
    assert(store.readAsOf("t").count() == 100)
    assert(store.vacuum("t") == 2)
    assert(store.readAsOf("t").count() == 100)
  }

  // ------------------------------------------------------- mergeable t-digest

  test("t-digest sketch + merge: merged partial digests match one full digest") {
    import spark.implicits._
    val df = spark.range(0, 10000).select(
      (col("id") % 16).as("g"), col("id").cast("double").as("v"))
    val merged = df.groupBy("g").agg(TDigestSketch(col("v")).as("sk"))
      .agg(TDigestMerge(col("sk")).as("m")).head().getAs[Array[Byte]]("m")
    for ((p, exact) <- Seq(0.5 -> 4999.5, 0.95 -> 9499.0, 0.99 -> 9899.0)) {
      val q = TDigestBytes.quantile(merged, p)
      assert(math.abs(q - exact) <= 100.0, s"p$p: $q vs $exact")
    }
    // empty digest → null quantile, not a crash
    val empty = df.filter(lit(false)).agg(TDigestSketch(col("v"))).head().getAs[Array[Byte]](0)
    assert(TDigestBytes.quantile(empty, 0.5) == null)
  }

  // ------------------------------------------------ Misra–Gries heavy hitters

  test("Misra-Gries: bounds hold and no false negatives above n/(k+1)") {
    import spark.implicits._
    val truth = Map("a" -> 500L, "b" -> 300L, "c" -> 150L)
    val items = truth.toSeq.flatMap { case (s, n) => Seq.fill(n.toInt)(s) } ++
      (0 until 1000).map(i => s"x$i")
    val df = spark.createDataset(scala.util.Random.shuffle(items)).toDF("k")
      .repartition(8)
    val n = items.size.toLong
    val mg = df.agg(MisraGries(col("k"), 16).as("mg")).head()
      .getMap[String, Row](0)
    // every item with share > 1/(k+1) is tracked; bounds contain true count
    for ((item, cnt) <- truth if cnt > n / 17) {
      assert(mg.contains(item), s"$item missing from MG(16)")
      val b = mg(item)
      assert(b.getLong(0) <= cnt && cnt <= b.getLong(1),
        s"$item: [${b.getLong(0)}, ${b.getLong(1)}] !∋ $cnt")
    }
  }

  test("heavyHitters: exact counts and shares for keys above minShare") {
    import spark.implicits._
    val items = Seq.fill(500)("a") ++ Seq.fill(300)("b") ++ Seq.fill(150)("c") ++
      (0 until 1000).map(i => s"x$i")
    val df = spark.createDataset(items).toDF("k").repartition(8)
    val got = TableChecks.heavyHitters(df, "k", 0.1).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == Seq("a" -> 500L, "b" -> 300L)) // c: 150/1950 < 0.1
    // null-only / empty input doesn't crash
    val empty = TableChecks.heavyHitters(
      df.filter(lit(false)), "k", 0.5)
    assert(empty.count() == 0)
  }

  // ------------------------------------------------- incremental end-to-end

  test("incremental: delta-only reads reproduce the full-table validation") {
    val parts = 8
    val a = gen(4000, 101L, 0.01, parts)
    val b = gen(3000, 202L, 0.01, parts)
    val baseline = gen(4000, 999L, 0.0, parts)
    val store = new AppendSnapshotStore(spark, tmp())
    val stateDir = tmp()
    store.commitAppend("seqs", a, "part")
    val r1 = IncrementalValidation.validateDeltaAndCommit(
      spark, store, "seqs", Some(dim), Some(baseline), cfg, stateDir, "run-1")
    assert(r1.fromSnapshot == 0L && r1.toSnapshot == 1L)

    store.commitAppend("seqs", b, "part")
    val r2 = IncrementalValidation.validateDeltaAndCommit(
      spark, store, "seqs", Some(dim), Some(baseline), cfg, stateDir, "run-2")
    assert(r2.fromSnapshot == 1L && r2.toSnapshot == 2L)

    // 1) run-2's violations reference ONLY delta rows (prior verdicts stand)
    val aIds = a.select(col("doc_id")).filter(col("doc_id").isNotNull)
      .except(b.select("doc_id"))
    assert(r2.deltaViolations.join(aIds, Seq("doc_id"), "left_semi").count() == 0)

    // 2) row-level + RI violation counts by keyword: sum of delta runs ==
    //    one full-table run (uniqueness compared separately: the incremental
    //    path reports only delta-side rows of cross-snapshot duplicates)
    val rowKw = Seq("required", "format", "minimum", "minItems", "enum", "referential")
    val full = ValidationPipeline.run(spark, a.unionByName(b), Some(dim),
      Some(baseline), cfg, "run-full")
    def byKw(v: DataFrame): Map[String, Long] =
      v.filter(col("keyword").isin(rowKw: _*)).groupBy("keyword").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val incr = byKw(r1.deltaViolations) ++
      byKw(r2.deltaViolations).map { case (k, n) =>
        k -> (n + byKw(r1.deltaViolations).getOrElse(k, 0L)) }
    assert(incr == byKw(full.violations), s"$incr vs ${byKw(full.violations)}")

    // 3) merged manifest covers the whole table without rescanning it
    val m = r2.manifest.collect()
    assert(m.length == parts)
    assert(m.map(_.getAs[Long]("row_count")).sum == 7000L)
    val exactByPart = a.unionByName(b).groupBy("part")
      .agg(count(lit(1)).as("n"), min("n_tok").as("mn"), max("n_tok").as("mx"),
        countDistinct("doc_id").as("nd"))
      .collect().map(r => r.getAs[Long]("part").toString ->
        (r.getLong(1), r.getAs[Int]("mn"), r.getAs[Int]("mx"), r.getLong(4))).toMap
    def metric(row: Row, name: String): Double =
      row.getMap[String, java.lang.Double](row.fieldIndex("metrics"))(name).doubleValue()
    for (row <- m) {
      val (n, mn, mx, nd) = exactByPart(row.getAs[String]("partition_key"))
      assert(row.getAs[Long]("row_count") == n)
      assert(metric(row, "min_n_tok") == mn.toDouble)
      assert(metric(row, "max_n_tok") == mx.toDouble)
      val approxNd = metric(row, "approx_distinct_doc_id")
      assert(math.abs(approxNd - nd) / nd < 0.1, s"HLL $approxNd vs $nd")
    }
    // drift: the merged per-run counts give the full run's statistics
    val fullDrift = full.manifest.collect().map(r => r.getAs[String]("partition_key") ->
      (metric(r, "ks_stat"), metric(r, "chi2_stat"))).toMap
    for (row <- m) {
      val (ks, chi2) = fullDrift(row.getAs[String]("partition_key"))
      assert(metric(row, "ks_stat") == ks)
      assert(math.abs(metric(row, "chi2_stat") - chi2) <= 1e-12 * chi2,
        s"chi2 ${metric(row, "chi2_stat")} vs $chi2")
    }
    // t-digest p50 per partition: rank of the merged-digest median is ~0.5
    val p50 = m.map(r => r.getAs[String]("partition_key") ->
      metric(r, "p50_n_tok")).toMap
    val ranks = a.unionByName(b).groupBy("part").agg(
      count(lit(1)).as("n"),
      sum(when(col("n_tok").leq(
        udf((p: String) => p50(p)).apply(col("part").cast("string"))), 1L)
        .otherwise(0L)).as("le"))
      .collect().map(r => r.getLong(2).toDouble / r.getLong(1))
    assert(ranks.forall(r => r > 0.4 && r < 0.6), s"digest p50 ranks: ${ranks.toSeq}")

    // 4) idempotency: no new snapshot → nothing validated, nothing appended
    val r3 = IncrementalValidation.validateDeltaAndCommit(
      spark, store, "seqs", Some(dim), Some(baseline), cfg, stateDir, "run-3")
    assert(r3.fromSnapshot == 2L && r3.toSnapshot == 2L)
    assert(r3.deltaViolations.count() == 0)
    assert(r3.manifest.collect().map(_.getAs[Long]("row_count")).sum == 7000L)
  }

  test("incremental: schema promotion guard — relaxed proceeds, tightened demands fresh state") {
    val parts = 4
    val store = new AppendSnapshotStore(spark, tmp())
    val stateDir = tmp()
    val bare = cfg.copy(riKey = None, driftNumCol = None, driftCatCol = None)
    store.commitAppend("seqs", gen(300, 81L, 0.0, parts), "part")
    IncrementalValidation.validateDeltaAndCommit(
      spark, store, "seqs", None, None, bare, stateDir, "run-1")

    // RELAXED bump (maxItems / maximum raised): the standing job continues
    store.commitAppend("seqs", gen(200, 92L, 0.0, parts), "part")
    val relaxed = bare.copy(
      schemaJson = TokenSeqs.canonicalSchemaJson(maxTokens = 16384))
    val r2 = IncrementalValidation.validateDeltaAndCommit(
      spark, store, "seqs", None, None, relaxed, stateDir, "run-2")
    assert(r2.toSnapshot == 2L)
    assert(r2.manifest.collect().map(_.getAs[Long]("row_count")).sum == 500L)

    // TIGHTENED bump (maximum lowered): refused with the offending paths
    store.commitAppend("seqs", gen(100, 93L, 0.0, parts), "part")
    val tightened = bare.copy(
      schemaJson = TokenSeqs.canonicalSchemaJson(maxTokens = 100))
    val e = intercept[IllegalStateException] {
      IncrementalValidation.validateDeltaAndCommit(
        spark, store, "seqs", None, None, tightened, stateDir, "run-3")
    }
    assert(e.getMessage.contains("TIGHTENS") && e.getMessage.contains("fresh state"))
    // the refused run left no state behind: the relaxed schema still rules
    val r4 = IncrementalValidation.validateDeltaAndCommit(
      spark, store, "seqs", None, None, relaxed, stateDir, "run-4")
    assert(r4.fromSnapshot == 2L && r4.toSnapshot == 3L)
    // a FRESH state dir accepts the tightened schema and revalidates fully
    val r5 = IncrementalValidation.validateDeltaAndCommit(
      spark, store, "seqs", None, None, tightened, tmp(), "run-5")
    assert(r5.fromSnapshot == 0L && r5.toSnapshot == 3L)
    assert(r5.deltaViolations.filter(col("keyword").isin("maxItems", "maximum")).count() > 0)
  }

  // ------------------------------------------- incremental expectation fold

  test("incremental: expectation suite folds across appends and matches the batch pipeline") {
    import graft.table.Expectations._
    val parts = 4
    val a = gen(2000, 41L, 0.0, parts)
    val b = gen(1500, 52L, 0.0, parts)
    val suite = Seq(
      RowCountBetween(1L, 1000000L),                                    // pass
      NullRateMax("doc_id", 0.0),                                       // pass
      MeanBetween("n_tok", 0.0, 200.0),                                 // FAIL (~256)
      MinAtLeast("n_tok", 1.0),                                         // pass
      MaxAtMost("n_tok", 512.0),                                        // pass
      ValuesInSet("source", Seq("web", "books", "code", "wiki")),       // pass
      MatchRegexRate("doc_id", "^[0-9a-f]{8}-", 1.0),                   // pass
      DistinctCountBetween("doc_id", 10L, 1000000L),                    // pass (HLL)
      QuantileBetween("n_tok", 0.5, 100.0, 400.0))                      // pass (t-digest)
    val cfgE = cfg.copy(riKey = None, driftNumCol = None, driftCatCol = None,
      expectations = suite)
    val store = new AppendSnapshotStore(spark, tmp())
    val stateDir = tmp()
    store.commitAppend("seqs", a, "part")
    IncrementalValidation.validateDeltaAndCommit(
      spark, store, "seqs", None, None, cfgE, stateDir, "run-1")
    store.commitAppend("seqs", b, "part")
    val r2 = IncrementalValidation.validateDeltaAndCommit(
      spark, store, "seqs", None, None, cfgE, stateDir, "run-2")

    def failedByPart(m: DataFrame): Map[String, Double] =
      m.collect().map { r =>
        r.getAs[String]("partition_key") ->
          r.getMap[String, java.lang.Double](r.fieldIndex("metrics"))("expectations_failed")
            .doubleValue()
      }.toMap

    val incr = failedByPart(r2.manifest)
    // batch full-table run with the same suite agrees per partition (exact
    // sums/min/max fold losslessly; HLL/t-digest bounds are margin-safe)
    val full = ValidationPipeline.run(spark, a.unionByName(b), None, None,
      cfgE, "run-full")
    assert(incr == failedByPart(full.manifest))
    // exactly the mean expectation fails in every partition, and a failed
    // expectation flips the merged verdict even with zero row violations
    assert(incr.size == parts && incr.values.forall(_ == 1.0))
    assert(r2.manifest.collect().forall(!_.getAs[Boolean]("verdict")))
  }

  test("incremental: a suite added mid-history does not fold over older deltas") {
    import graft.table.Expectations._
    val parts = 4
    val store = new AppendSnapshotStore(spark, tmp())
    val stateDir = tmp()
    val bare = cfg.copy(riKey = None, driftNumCol = None, driftCatCol = None)
    store.commitAppend("seqs", gen(800, 61L, 0.0, parts), "part")
    IncrementalValidation.validateDeltaAndCommit(
      spark, store, "seqs", None, None, bare, stateDir, "run-1")
    // the suite appears only for run-2; RowCountBetween over the full table
    // would pass, but a fold over run-2's delta alone would also "pass" —
    // the guard must refuse to fold rather than emit either answer
    store.commitAppend("seqs", gen(400, 72L, 0.0, parts), "part")
    val r2 = IncrementalValidation.validateDeltaAndCommit(
      spark, store, "seqs", None, None,
      bare.copy(expectations = Seq(RowCountBetween(1L, 1000000L))),
      stateDir, "run-2")
    val rows = r2.manifest.collect()
    assert(rows.forall(r =>
      !r.getMap[String, java.lang.Double](r.fieldIndex("metrics"))
        .contains("expectations_failed")))
    assert(rows.forall(_.getAs[Boolean]("verdict"))) // verdict unaffected
    assert(rows.map(_.getAs[Long]("row_count")).sum == 1200L)
  }

  test("incremental: cross-snapshot duplicate keys flagged without payload rescan") {
    val parts = 4
    val a = gen(500, 11L, 0.0, parts)
    val store = new AppendSnapshotStore(spark, tmp())
    store.commitAppend("seqs", a, "part")
    val stateDir = tmp()
    val r1 = IncrementalValidation.validateDeltaAndCommit(
      spark, store, "seqs", None, None, cfg.copy(riKey = None, driftNumCol = None,
        driftCatCol = None), stateDir, "run-1")
    assert(r1.deltaViolations.count() == 0)

    // batch B reuses 3 doc_ids from batch A
    val reusedIds = a.select("doc_id").limit(3).collect().map(_.getString(0))
    val bRows = gen(200, 22L, 0.0, parts).limit(3).drop("doc_id")
    val bDup = bRows.withColumn("_i", monotonically_increasing_id())
      .withColumn("doc_id",
        element_at(array(reusedIds.toIndexedSeq.map(lit): _*),
          (col("_i") % 3 + 1).cast("int")))
      .drop("_i")
      .select(a.columns.toIndexedSeq.map(col): _*)
    store.commitAppend("seqs", bDup.unionByName(
      gen(100, 33L, 0.0, parts)), "part")

    val r2 = IncrementalValidation.validateDeltaAndCommit(
      spark, store, "seqs", None, None, cfg.copy(riKey = None, driftNumCol = None,
        driftCatCol = None), stateDir, "run-2")
    val uniq = r2.deltaViolations.filter(col("keyword") === "uniqueness").collect()
    assert(uniq.map(_.getAs[String]("doc_id")).toSet == reusedIds.toSet)
    assert(uniq.forall(_.getAs[String]("message").contains("prior snapshot")))
  }
}
