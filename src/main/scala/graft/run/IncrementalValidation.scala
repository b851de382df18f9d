package graft.run

import graft.functions.CountHistogram
import graft.model.SchemaParser
import graft.snapshot.{AppendSnapshotStore, ManifestStore}
import graft.table.TableChecks
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.hadoop.fs.Path

/** Result of one incremental run: the DELTA's violation rows (prior rows'
  * verdicts stand — they were validated when their snapshot landed) and the
  * MERGED per-partition manifest covering the whole table as of
  * `toSnapshot`. */
final case class IncrementalResult(
    deltaViolations: DataFrame,
    manifest: DataFrame,
    fromSnapshot: Long,
    toSnapshot: Long)

/** Incremental snapshot revalidation — the capability that makes the
  * pipeline viable as a STANDING job at 100 TB: after an append commits,
  * only the appended files are read, and the table-wide per-partition
  * metrics are reconstructed by MERGING sketch state, never by rescanning
  * validated data.
  *
  * What each run reads, by check family (delta = rows appended since the
  * last validated snapshot):
  *  - row constraints + RI: the delta only — old rows' row-level verdicts
  *    are immutable facts about immutable files.
  *  - uniqueness: delta-internal dups via the salted two-phase aggregation,
  *    plus delta-vs-prior via a key-only join: the prior side is a
  *    COLUMN-PRUNED scan of just the key column (Parquet reads one column
  *    chunk; an Iceberg catalog would further prune by key bloom filters) —
  *    never the payload.
  *  - per-partition stats: ZERO reads of prior data. Each run appends one
  *    mergeable state row per touched partition — additive counts, min/max,
  *    an HLL sketch per stats column (`hll_sketch_agg`), a t-digest per
  *    quantile column ([[graft.functions.TDigestSketchAgg]]) — and the
  *    current table-wide stats are a fold over those state rows
  *    (`hll_union_agg`, [[graft.functions.TDigestMergeAgg]]): O(runs ×
  *    partitions) rows, manifest-sized.
  *  - drift: recomputed from a persisted SUFFICIENT-STATISTICS sidecar —
  *    per-(partition, value) counts appended per run (domain-bounded), folded
  *    into one histogram per partition and fed to the same kernel as
  *    [[ValidationPipeline]] ([[Drift]]) — so the KS/chi²/PSI inputs are
  *    exact merged counts with no raw scan.
  *
  * The reference validates one instance at a time and has no notion of
  * incremental state; this is the snapshot-checkpoint generalization the
  * north rule names ("resumes from Iceberg-snapshot checkpoints with
  * per-partition lineage + metrics persisted to a manifest table").
  */
object IncrementalValidation {

  /** Validate everything appended to `table` since the last validated
    * snapshot (all of it, on the first run), persist the delta's mergeable
    * state under `stateDir`, and return delta violations + the merged
    * manifest. Idempotent per snapshot: a re-run with no new snapshot
    * returns the current merged state and appends nothing. */
  def validateDelta(spark: SparkSession, store: AppendSnapshotStore, table: String,
                    dim: Option[DataFrame], baseline: Option[DataFrame],
                    cfg: PipelineConfig, stateDir: String, runId: String): IncrementalResult = {

    val doc = SchemaParser.parse(cfg.schemaJson)
    val part = col(cfg.partCol)
    val cur = store.currentSnapshot(table)
      .getOrElse(throw new IllegalStateException(s"no committed snapshot in $table"))
    val state = new StateDir(spark, stateDir)
    val from = state.lastValidatedSnapshot

    // ---- schema-promotion guard ([[graft.model.SchemaCompat]]): a standing
    // job's schema may change between runs ONLY when the change is provably
    // relaxing — otherwise prior runs' row verdicts (and the state folded
    // from them) are not facts about the new schema, and the caller must
    // revalidate into a fresh state dir. A relaxed promotion keeps verdicts
    // SOUND rather than exact: a violation recorded under the stricter old
    // schema can only OVERSTATE under the new one (a row may have become
    // valid), so a partition never falsely passes; counts refresh as their
    // files' snapshots are superseded or the table is revalidated.
    state.recordedSchema().filter(_ != cfg.schemaJson).foreach { old =>
      val changes = graft.model.SchemaCompat.diff(old, cfg.schemaJson)
      if (!graft.model.SchemaCompat.canPromoteWithoutRescan(changes)) {
        val t = changes.filter(c =>
          c.direction == graft.model.SchemaCompat.Tightened ||
          c.direction == graft.model.SchemaCompat.Incomparable)
        throw new IllegalStateException(
          s"schema change TIGHTENS ${t.size} constraint(s) " +
            s"(${t.map(_.path).take(5).mkString(", ")}); prior verdicts do not " +
            "transfer — revalidate the table into a fresh state dir")
      }
    }
    state.recordSchema(cfg.schemaJson)

    if (from >= cur) {
      // nothing new — report current merged state, touch nothing
      val manifest = mergedManifest(spark, state, baseline, cfg, runId, cur)
      return IncrementalResult(emptyViolations(spark, cfg), manifest, from, cur)
    }

    val delta = store.readBetween(table, from, cur).drop("_snap_id")

    // ---- fused delta scan → narrow digest (same shape as ValidationPipeline:
    // payload read once; invalid rows carry the full row for phase-2) ----
    val digest = ValidationPipeline.digestOf(delta, dim, cfg, doc)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // ---- delta violations: row-level + RI + uniqueness ----
    val uniqViol: Option[DataFrame] = cfg.uniqueKey.map { k =>
      val inDelta = TableChecks.duplicatesSalted(
          digest.filter(col(k).isNotNull), k, cfg.saltBuckets)
        .withColumn("_why", concat(lit("key occurs "),
          col("cnt").cast(StringType), lit(" times in the delta")))
      // delta key vs ALL PRIOR keys: key-only columns on both sides — the
      // prior read is column-pruned to the key column chunks, and the prior
      // side is NEVER shuffled: the semi-join's small (delta-keys) side
      // broadcasts under AQE, prior keys stream through it map-side, and
      // only the (rare) matches reach the post-join distinct
      val vsPrior =
        if (from == 0L) None
        else Some(store.readBetween(table, 0L, from).select(col(k))
          .join(digest.select(col(k)).distinct(), Seq(k), "left_semi")
          .distinct()
          .withColumn("_why", lit("key already exists in a prior snapshot")))
      val offending = vsPrior.fold(inDelta.select(col(k), col("_why")))(p =>
        inDelta.select(col(k), col("_why")).unionByName(p))
      // offending keys are rare (≤ violation rate) → broadcast-back attribution
      digest.join(broadcast(offending), Seq(k))
        .select(part, col(k).cast(StringType).as("doc_id"),
          lit("uniqueness").as("keyword"),
          lit(s"#/$$dataset/uniqueness/$k").as("keywordLocation"),
          concat(lit(s"#/$k="), col(k).cast(StringType)).as("instanceLocation"),
          col("_why").as("message"))
    }

    val violations = (ValidationPipeline.rowAndRiViolations(digest, dim, cfg, doc) ++
        uniqViol.toSeq)
      .reduce(_ unionByName _)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // ---- delta mergeable state: ONE hash aggregation of the digest ----
    val expMergeable = cfg.expectations.zipWithIndex.map { case (e, i) =>
      graft.table.Expectations.loweredMergeable(e, i.toString)
    }
    val statAggs: Seq[Column] = cfg.statsCols.filter(digest.columns.contains).flatMap { c =>
      val dt = digest.schema(c).dataType
      // hll_sketch_agg accepts integral/string/binary — everything else goes
      // in as its canonical string form (estimate is representation-keyed)
      val hllIn = dt match {
        case ByteType | ShortType | IntegerType | LongType | StringType | BinaryType => col(c)
        case _ => col(c).cast(StringType)
      }
      Seq(sum(col(c).isNull.cast(LongType)).as(s"null_count_$c"),
        hll_sketch_agg(hllIn).as(s"hll_$c")) ++
        (if (dt.isInstanceOf[NumericType])
          Seq(min(col(c)).cast(DoubleType).as(s"min_$c"),
            max(col(c)).cast(DoubleType).as(s"max_$c"))
        else Nil)
    } ++ cfg.quantileCol.toSeq.map { qc =>
      graft.functions.TDigestSketch(col(qc)).as(s"tdq_$qc")
    } ++ expMergeable.flatMap(_.state)
    // expectation sufficient statistics ride the same delta aggregation:
    // counts/sums/min/max fold losslessly across appends, distinct via HLL
    // union, quantiles via t-digest merge — the standing job's expectation
    // verdicts never need a rescan
    val violByPart = violations.groupBy(part).agg(count(lit(1)).as("violation_count"))
    val deltaState = digest.groupBy(part)
      .agg(count(lit(1)).as("row_count"), statAggs: _*)
      .join(violByPart, Seq(cfg.partCol), "left_outer")
      .na.fill(0L, Seq("violation_count"))
      .withColumn("snapshot_id", lit(cur))
      .withColumn("partition_key", part.cast(StringType))
      .drop(cfg.partCol)
    state.appendState(deltaState, cur)

    // ---- drift sufficient statistics: per-(partition, value) delta counts ----
    val distParts: Seq[DataFrame] =
      cfg.driftNumCol.toSeq.map { c =>
        digest.groupBy(part, col(c).cast(DoubleType).as("v_num"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("k_cat", lit(null).cast(StringType))
          .withColumn("column", lit(c))
      } ++ cfg.driftCatCol.toSeq.map { c =>
        digest.groupBy(part, col(c).cast(StringType).as("k_cat"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("v_num", lit(null).cast(DoubleType))
          .withColumn("column", lit(c))
      }
    if (distParts.nonEmpty) {
      val dist = distParts.map(_.select(part.cast(StringType).as("partition_key"),
          col("column"), col("v_num"), col("k_cat"), col("cnt")))
        .reduce(_ unionByName _)
        .withColumn("snapshot_id", lit(cur))
      state.appendDist(dist, cur)
    }

    digest.unpersist()
    val manifest = mergedManifest(spark, state, baseline, cfg, runId, cur)
    IncrementalResult(violations, manifest, from, cur)
  }

  /** validateDelta + persist: delta violations under
    * `stateDir/violations/snap=<id>` (append-only, mirroring the data
    * layout) and a manifest batch append — the checkpoint commit. */
  def validateDeltaAndCommit(spark: SparkSession, store: AppendSnapshotStore,
                             table: String, dim: Option[DataFrame],
                             baseline: Option[DataFrame], cfg: PipelineConfig,
                             stateDir: String, runId: String): IncrementalResult = {
    val r = validateDelta(spark, store, table, dim, baseline, cfg, stateDir, runId)
    if (r.toSnapshot > r.fromSnapshot) {
      r.deltaViolations.write.mode(SaveMode.Overwrite)
        .parquet(s"$stateDir/violations/snap=${r.toSnapshot}")
      new ManifestStore(spark, stateDir).append(r.manifest)
    }
    r
  }

  // ------------------------------------------------------------------ merge

  /** Table-wide per-partition manifest from the persisted state: counts add,
    * min/max fold, HLL sketches union, t-digests merge, drift recomputes
    * from the merged sufficient statistics. All inputs are manifest-sized
    * (runs × partitions, or the drift value domain) — no raw data. */
  private def mergedManifest(spark: SparkSession, state: StateDir,
                             baseline: Option[DataFrame], cfg: PipelineConfig,
                             runId: String, snapshotId: Long): DataFrame = {
    val all = state.readState()
    // merge ONLY state columns present in EVERY batch: a column introduced
    // mid-history (suite/statsCols config change) has no folded meaning for
    // the older deltas — and `all`'s schema resolution is nondeterministic
    // about it (parquet picks one file's schema and null-fills the rest, so
    // a column test on `all` could silently fold over only the newer
    // deltas). `carriedStateCols` is a footer read per batch, never a scan.
    val carried = state.carriedStateCols
    val statCols = cfg.statsCols.filter(c => carried.contains(s"hll_$c"))
    val expMergeable = cfg.expectations.zipWithIndex.map { case (e, i) =>
      graft.table.Expectations.loweredMergeable(e, i.toString)
    }
    val expUsable = expMergeable.nonEmpty &&
      expMergeable.flatMap(_.stateNames).forall(carried.contains)
    val mergeAggs: Seq[Column] =
      Seq(sum("violation_count").as("violation_count")) ++
      statCols.flatMap { c =>
        Seq(sum(col(s"null_count_$c")).as(s"null_count_$c"),
          hll_union_agg(col(s"hll_$c")).as(s"hll_$c")) ++
          (if (carried.contains(s"min_$c"))
            Seq(min(col(s"min_$c")).as(s"min_$c"), max(col(s"max_$c")).as(s"max_$c"))
          else Nil)
      } ++ cfg.quantileCol.filter(qc => carried.contains(s"tdq_$qc")).toSeq
        .map(qc => graft.functions.TDigestMerge(col(s"tdq_$qc")).as(s"tdq_$qc")) ++
      (if (expUsable) expMergeable.flatMap(_.merge) else Nil)
    var m = all.groupBy("partition_key")
      .agg(sum("row_count").as("row_count"), mergeAggs: _*)
    if (expUsable) {
      val failed = expMergeable.map { me =>
        when(coalesce(me.observed >= me.lo && me.observed <= me.hi, lit(false)), 0L)
          .otherwise(1L)
      }.reduce(_ + _)
      m = m.withColumn("expectations_failed", failed)
        .drop(expMergeable.flatMap(_.stateNames): _*)
    }
    // derived metrics (manifest-sized evaluation)
    val qOf = udf((b: Array[Byte], p: Double) => graft.functions.TDigestBytes.quantile(b, p))
    statCols.foreach { c =>
      m = m.withColumn(s"null_rate_$c",
          col(s"null_count_$c").cast(DoubleType) / col("row_count"))
        .withColumn(s"approx_distinct_$c",
          hll_sketch_estimate(col(s"hll_$c")).cast(DoubleType))
        .drop(s"hll_$c", s"null_count_$c")
    }
    cfg.quantileCol.filter(qc => m.columns.contains(s"tdq_$qc")).foreach { qc =>
      m = m.withColumn(s"p50_$qc", qOf(col(s"tdq_$qc"), lit(0.5)))
        .withColumn(s"p95_$qc", qOf(col(s"tdq_$qc"), lit(0.95)))
        .withColumn(s"p99_$qc", qOf(col(s"tdq_$qc"), lit(0.99)))
        .drop(s"tdq_$qc")
    }

    // ---- drift from merged sufficient statistics: one histogram per
    // partition and drift column, folded from the per-run counts ----
    for (b <- baseline if state.hasDist) {
      val hists = cfg.driftNumCol.toSeq.map(c =>
        CountHistogram(col("v_num"), when(col("column") === c, col("cnt"))).as(Drift.NumHist)) ++
        cfg.driftCatCol.toSeq.map(c =>
          CountHistogram(col("k_cat"), when(col("column") === c, col("cnt"))).as(Drift.CatHist))
      if (hists.nonEmpty) m = Drift.withMetrics(m.join(state.readDist().groupBy("partition_key")
        .agg(hists.head, hists.tail: _*), Seq("partition_key"), "left_outer"), b, cfg)
    }

    ValidationPipeline.withVerdict(m, "partition_key", cfg)
      .withColumn("run_id", lit(runId))
      .withColumn("input_fingerprint",
        concat(lit("snap="), lit(snapshotId).cast(StringType), lit("/part="),
          col("partition_key"), lit("/rows="), col("row_count").cast(StringType)))
      .withColumn("status", lit("completed"))
      .withColumn("snapshot_id", lit(snapshotId))
      .withColumn("committed_at", current_timestamp())
      .select("run_id", "partition_key", "input_fingerprint", "row_count",
        "violation_count", "verdict", "metrics", "status", "snapshot_id",
        "committed_at")
  }

  private def emptyViolations(spark: SparkSession, cfg: PipelineConfig): DataFrame = {
    import org.apache.spark.sql.Row
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(Seq(
      StructField(cfg.partCol, StringType), StructField("doc_id", StringType),
      StructField("keyword", StringType), StructField("keywordLocation", StringType),
      StructField("instanceLocation", StringType), StructField("message", StringType))))
  }

  /** Append-only state under `dir`: `state/batch=*` (mergeable per-run
    * per-partition rows) and `dist_counts/batch=*` (drift sufficient
    * statistics). Same staging+rename atomic append as [[ManifestStore]].
    *
    * State batch dirs are named `batch=<snapshotId>-<uuid>`, so the standing
    * job's "where did I leave off" question ([[lastValidatedSnapshot]]) is a
    * directory LISTING, not a Spark job over every state batch — and stays
    * crash-consistent, because the name becomes visible only with the atomic
    * rename that commits the batch. */
  private final class StateDir(spark: SparkSession, dir: String) {
    private val stateDir = new Path(dir, "state")
    private val distDir = new Path(dir, "dist_counts")
    private def fs(p: Path) = p.getFileSystem(spark.sparkContext.hadoopConfiguration)

    private def append(root: Path, rows: DataFrame, snapId: Long): Unit = {
      val batch = s"$snapId-${java.util.UUID.randomUUID().toString}"
      val staging = new Path(root, s"_staging-$batch")
      val target = new Path(root, s"batch=$batch")
      // state/dist batches are manifest-/domain-sized — one file per append
      rows.coalesce(1).write.mode(SaveMode.ErrorIfExists).parquet(staging.toString)
      if (!fs(root).rename(staging, target))
        throw new java.io.IOException(s"state commit rename failed: $target")
    }
    private def batchNames(root: Path): Seq[String] =
      if (!fs(root).exists(root)) Seq.empty
      else fs(root).listStatus(root).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("batch="))
    private def readAll(root: Path): DataFrame = {
      // explicit committed-batch paths, not a glob: globs trip Spark's
      // FileStreamSink metadata probe into logging spurious
      // FileNotFoundException warns, and an explicit list can never race a
      // concurrent staging rename
      val paths = batchNames(root).map(n => new Path(root, n).toString)
      require(paths.nonEmpty, s"no committed state batches under $root")
      spark.read.option("basePath", root.toString)
        .parquet(paths: _*).drop("batch")
    }

    /** The schema document the state was last validated under — the
      * promotion guard's comparison point. */
    def recordedSchema(): Option[String] = {
      val p = new Path(dir, "_schema.json")
      val f = fs(p)
      if (!f.exists(p)) None
      else {
        val in = f.open(p)
        try Some(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
        finally in.close()
      }
    }

    def recordSchema(json: String): Unit = {
      val p = new Path(dir, "_schema.json")
      val tmp = new Path(dir, s"_schema.json.tmp-${java.util.UUID.randomUUID()}")
      val f = fs(p)
      val out = f.create(tmp, true)
      try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      if (f.exists(p)) f.delete(p, false)
      if (!f.rename(tmp, p))
        throw new java.io.IOException(s"schema record rename failed: $p")
    }

    /** Column names present in EVERY committed state batch — the set the
      * merge may legally fold. One direct parquet FOOTER read per batch (the
      * batch list is runs-sized, each batch one coalesced file) — no
      * DataFrame, no listing job, ~ms per batch on the driver. */
    def carriedStateCols: Set[String] = {
      import scala.jdk.CollectionConverters._
      val conf = spark.sparkContext.hadoopConfiguration
      val schemas = batchNames(stateDir).map { n =>
        val dirPath = new Path(stateDir, n)
        val file = fs(dirPath).listStatus(dirPath).toSeq.map(_.getPath)
          .find(_.getName.endsWith(".parquet"))
          .getOrElse(throw new IllegalStateException(s"no parquet file in state batch $dirPath"))
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
        try reader.getFileMetaData.getSchema.getFields.asScala.map(_.getName).toSet
        finally reader.close()
      }
      if (schemas.isEmpty) Set.empty else schemas.reduce(_ intersect _)
    }

    def appendState(rows: DataFrame, snapId: Long): Unit = append(stateDir, rows, snapId)
    def appendDist(rows: DataFrame, snapId: Long): Unit = append(distDir, rows, snapId)
    def hasDist: Boolean = batchNames(distDir).nonEmpty
    def readState(): DataFrame = readAll(stateDir)
    def readDist(): DataFrame = readAll(distDir)
    def lastValidatedSnapshot: Long =
      batchNames(stateDir)
        .map(_.stripPrefix("batch=").takeWhile(_ != '-').toLong)
        .foldLeft(0L)(math.max)
  }
}
