package graft

import graft.Harness.{Js, scratch, timed, tokenInput}
import graft.run.{IncrementalValidation, PipelineConfig, ValidationPipeline}
import graft.snapshot.AppendSnapshotStore
import graft.table.{Components, Dedup, Sampling, Similarity, TextAnalysis}
import graft.tokens.{Packing, TokenSeqs}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.DISK_ONLY

/** The scale probes behind `Harness probe <name>`: each runs one operator
  * family end to end on synthesized input of `rows` rows and returns ONE
  * JSON line of wall times and invariant counts — evidence that a design
  * holds past broadcast scale. A probe whose invariant breaks throws.
  * Partition counts follow the session's default parallelism. */
object Probes {

  /** name → (default rows, probe). */
  val all: Map[String, (Long, (SparkSession, Long) => Js)] = scala.collection.immutable.ListMap(
    "dedup" -> (200000L, dedup),
    "similarity" -> (1000000L, similarity),
    "packing" -> (1000000L, packing),
    "prune" -> (50000L, prune),
    "incremental" -> (5000000L, incremental),
    "compaction" -> (50000L, compaction),
    "stream-dedup" -> (200000L, streamDedup),
    "train" -> (1000000L, train))

  private def parallelism(spark: SparkSession): Int = spark.sparkContext.defaultParallelism

  /** Dedup family: `rows` docs (1..512 tokens each) + ~1% exact duplicates
    * through MinHash-LSH / SimHash-banded / exact / fuzzy dedup and
    * hot-shingle coverage; paragraph and repeated-span dedup on designed
    * corpora; connected components on a chain-heavy graph, both paths. */
  def dedup(spark: SparkSession, rows: Long): Js = {
    val cpus = parallelism(spark)
    val base = TokenSeqs.synthesize(spark, rows, seed = 5L, violationRate = 0.0,
      numPartitions = cpus * 4)
      .select(xxhash64(col("doc_id")).as("doc_id"), col("tokens"))
    // ~1% exact duplicates under fresh ids (negated hash keeps them distinct)
    val dups = base.filter(pmod(xxhash64(col("doc_id")), lit(100)) === 0)
      .select((-col("doc_id")).as("doc_id"), col("tokens"))
    val corpus = base.unionByName(dups).persist(DISK_ONLY)
    val n = corpus.count() // materialize OUTSIDE the timings

    val (tMh, nMh) = timed(Dedup.minhashLshPairs(corpus, "doc_id", "tokens",
      minJaccard = 0.9).count())
    val (tSh, nSh) = timed(Dedup.simhashNearDups(corpus, "doc_id", "tokens",
      maxHamming = 0).count())
    val (tEx, nEx) = timed(Dedup.exactDuplicates(corpus, "doc_id", "tokens").count())
    // end-to-end fuzzy dedup: LSH pairs + connected components + labeling;
    // count = rows collapsed into another row's cluster
    val (tFz, nFz) = timed(Dedup.fuzzyDedupClusters(corpus, "doc_id", "tokens",
      minJaccard = 0.9).filter(col("component") =!= col("id")).count())
    // corpus-global hot-shingle coverage (two shingle scans + broadcast probe)
    val (tHot, nHot) = timed(TextAnalysis.hotShingleCoverage(
      corpus, "doc_id", "tokens", topK = 100)
      .filter(col("hot_coverage") > 0.0).count())
    corpus.unpersist()
    // paragraph-level dedup: 4 unique paragraphs per doc + a shared
    // boilerplate footer on every 3rd doc — the removal set is ~n/3
    // (id, pos) pairs, exercising the broadcast-back path at scale
    val paraDocs = spark.range(rows).select(col("id").as("doc_id"),
      concat(
        transform(sequence(lit(0), lit(3)),
          i => concat_ws(" ", lit("para"), col("id"), i)),
        when(col("id") % 3 === 0,
          array(lit("shared boilerplate footer text")))
          .otherwise(array().cast("array<string>"))).as("paras"))
    val (tPd, nPd) = timed(Dedup.dropRepeatedParagraphs(
      paraDocs, "doc_id", "paras", minChars = 5)
      .agg(sum("n_removed")).collect()(0).getLong(0))

    // exact-substring (repeated-span) dedup: 30 globally-unique tokens per
    // doc + a shared 20-token boilerplate span on every 3rd doc; with
    // winLen=8 every later boilerplate occurrence is fully covered, so the
    // exact expectation is 20 removed tokens per boilerplate doc except the
    // corpus-first — pins both wall time and removal-count exactness
    val spanDocs = spark.range(rows).select(col("id").as("doc_id"),
      concat(
        transform(sequence(lit(0), lit(29)),
          i => (col("id") * 30 + i + 1000000).cast("int")),
        when(col("id") % 3 === 0,
          transform(sequence(lit(0), lit(19)), i => i + 7))
          .otherwise(array().cast("array<int>"))).as("tokens"))
    val nBoil = (rows + 2) / 3
    val (tSp, nSp) = timed(Dedup.dropRepeatedSpans(
      spanDocs, "doc_id", "tokens", winLen = 8)
      .agg(sum("n_removed")).collect()(0).getLong(0))
    require(nSp == 20L * (nBoil - 1),
      s"span dedup removed $nSp tokens, expected ${20L * (nBoil - 1)}")

    // connected components on a chain-heavy 2-rows-per-node graph (the
    // iterative worst case): distributed star rounds vs driver union-find
    val chain = spark.range(rows).toDF("i")
      .filter(col("i") % 5 =!= 0 && col("i") > 0)
      .select(col("i").as("a"), (col("i") - 1).as("b"))
    val (tCcD, nCcD) = timed(Components.connectedComponents(chain, "a", "b",
      driverEdgeMax = 0).count())
    val (tCcU, nCcU) = timed(Components.connectedComponents(chain, "a", "b").count())
    require(nCcD == nCcU, s"CC path disagreement: $nCcD vs $nCcU")

    Js("rows" -> n, "cpus" -> cpus,
      "minhash_lsh_sec" -> tMh, "minhash_pairs" -> nMh,
      "simhash_band_sec" -> tSh, "simhash_pairs" -> nSh,
      "exact_dedup_sec" -> tEx, "exact_groups" -> nEx,
      "fuzzy_dedup_sec" -> tFz, "fuzzy_collapsed" -> nFz,
      "hot_shingle_sec" -> tHot, "hot_docs" -> nHot,
      "para_dedup_sec" -> tPd, "para_removed" -> nPd,
      "span_dedup_sec" -> tSp, "span_removed" -> nSp,
      "cc_chain_nodes" -> nCcD, "cc_distributed_sec" -> tCcD, "cc_driver_sec" -> tCcU)
  }

  /** Similarity family: `rows` deterministic 64-dim embeddings (+ ~0.1%
    * exact duplicates) through sign-LSH near-dups, LSH top-k ANN for a
    * query set, and semantic dedup — candidate generation stays
    * bucket-bounded where the n² cross product would be 10^12 pairs. */
  def similarity(spark: SparkSession, rows: Long): Js = {
    val cpus = parallelism(spark)
    // deterministic 64-dim embeddings in [-1, 1]: 64 codegen'd xxhash64
    // columns per row — no interpreted HOFs in generation either
    val dim = 64
    val vecCols = (0 until dim).map { d =>
      (pmod(xxhash64(col("id"), lit(d), lit(9L)), lit(2000001L)) - 1000000L)
        .cast("double") / 1e6
    }
    val base = spark.range(0, rows, 1, cpus * 4)
      .select(col("id").as("vec_id"), array(vecCols: _*).as("embedding"))
    val dups = base.filter(pmod(col("vec_id"), lit(1000)) === 0)
      .select((-col("vec_id") - 1).as("vec_id"), col("embedding"))
    val corpus = base.unionByName(dups).persist(DISK_ONLY)
    val n = corpus.count()

    // near-dups at cosine ≥ 0.95: only the injected exact duplicates qualify
    val (tNd, nNd) = timed(Dedup.lshNearDups(corpus, "vec_id", "embedding",
      minCosine = 0.95, numPlanes = 16, numTables = 4).count())
    val queries = corpus.filter(col("vec_id").between(0, 99))
      .withColumnRenamed("vec_id", "query_id")
    val (tTk, nTk) = timed(Similarity.lshTopK(corpus, queries,
      "vec_id", "embedding", "query_id", k = 5, numPlanes = 12, numTables = 4).count())
    // end-to-end semantic dedup: pairs → connected components → labels;
    // every injected duplicate pair must collapse (non-representative rows =
    // rows whose component differs from their own id)
    val (tSd, nSd) = timed(Dedup.semanticDedupClusters(corpus, "vec_id",
      "embedding", minCosine = 0.95, bruteForceMax = 10000L)
      .filter(col("component") =!= col("id")).count())
    corpus.unpersist()

    Js("rows" -> n, "cpus" -> cpus, "dim" -> dim,
      "lsh_near_dup_sec" -> tNd, "near_dup_pairs" -> nNd,
      "lsh_topk_sec" -> tTk, "topk_rows" -> nTk,
      "semantic_dedup_sec" -> tSd, "semantic_collapsed" -> nSd)
  }

  /** Training-sequence shaping: `rows` docs through (a) sliding-window
    * chunking — the zero-shuffle path, (b) pack-assignment planning over
    * bucketed streams, (c) fully materialized packed sequences, and (d)
    * deterministic shard ordering, with the conservation invariant (sum of
    * n_filled == sum of (n_tok + 1)) — evidence the per-stream window design
    * holds when a single stream would be the bottleneck. */
  def packing(spark: SparkSession, rows: Long): Js = {
    val cpus = parallelism(spark)
    val buckets = 256
    val corpus = TokenSeqs.synthesize(spark, rows, seed = 7L, violationRate = 0.0,
      numPartitions = cpus * 4).persist(DISK_ONLY)
    val n = corpus.count()
    val totTok = corpus.agg(sum(col("n_tok").cast("long"))).head().getLong(0)

    // (a) chunking: zero-shuffle map path
    val (tCh, nCh) = timed(Packing.chunkSequences(corpus, seqLen = 512, stride = 384).count())
    // (b) pack planning only (assignments; token arrays untouched)
    val (tAs, nAs) = timed(Packing.packAssignments(corpus, seqLen = 2048,
      buckets = buckets).count())
    // (c) materialized packed sequences + conservation check at scale
    val packed = Packing.packedSequences(corpus, seqLen = 2048, eosId = 4096,
      buckets = buckets)
    val (tPk, nPk) = timed(packed.count())
    val filled = packed.agg(sum("n_filled")).head().getLong(0)
    // (d) deterministic shard order
    val (tSo, nSo) = timed(Packing.shardOrder(corpus, numShards = 1024).count())
    corpus.unpersist()

    Js("probe" -> "packing_scale", "rows" -> n, "total_tokens" -> totTok,
      "cpus" -> cpus, "buckets" -> buckets,
      "chunk_sec" -> tCh, "chunks" -> nCh,
      "assign_sec" -> tAs, "assignments" -> nAs,
      "packed_sec" -> tPk, "packed_seqs" -> nPk,
      "conserved" -> (filled == totTok + n), // one EOS slot per doc
      "shard_sec" -> tSo, "sharded" -> nSo)
  }

  /** Min wall time over 3 reps of `f`, with the last rep's result. */
  private def bestOf3[A](f: => A): (Double, A) = {
    val reps = (1 to 3).map(_ => timed(f))
    (reps.map(_._1).min, reps.last._2)
  }

  /** Manifest file skipping: a standing append store of 24 snapshots of
    * `rowsPerSnap` rows (time-ordered disjoint `ts` ranges — the natural
    * layout of a daily-append job) answers a narrow ts-range query two ways:
    * `readAsOfWhere` (driver-side file pruning from the FileStats sidecars)
    * vs `readAsOf().filter(...)` (full listing + scan, row-group pushdown
    * only) — a narrow predicate reads O(matching files), not O(table). */
  def prune(spark: SparkSession, rowsPerSnap: Long): Js = scratch("graft-prunescale") { root =>
    val snaps = 24
    val store = new AppendSnapshotStore(spark, root)
    val (buildSec, _) = timed((0 until snaps).foreach { s =>
      val base = s.toLong * rowsPerSnap
      val df = spark.range(base, base + rowsPerSnap)
        .select(col("id"), col("id").as("ts"),
          concat(lit("p"), pmod(col("id"), lit(4))).as("part"),
          xxhash64(col("id")).as("payload"))
      store.commitAppend("t", df, "part")
    })

    // narrow range: the middle fifth of ONE snapshot
    val lo = (snaps / 2) * rowsPerSnap + rowsPerSnap / 5
    val hi = lo + rowsPerSnap / 5
    val pruned = store.readAsOfWhere("t", "ts", lo, hi)
    val full = store.readAsOf("t").filter(col("ts") >= lo && col("ts") <= hi)
    val (tP, nP) = bestOf3(pruned.agg(count(lit(1))).collect()(0).getLong(0))
    val (tF, nF) = bestOf3(full.agg(count(lit(1))).collect()(0).getLong(0))
    require(nP == nF, s"pruned $nP != full $nF")

    Js("probe" -> "prune_scale", "snaps" -> snaps, "rows_per_snap" -> rowsPerSnap,
      "build_sec" -> buildSec,
      "files_pruned_read" -> pruned.inputFiles.length,
      "files_full_read" -> full.inputFiles.length,
      "rows_matched" -> nP, "pruned_sec" -> tP, "full_sec" -> tF)
  }

  /** Incremental snapshot revalidation: commit a `rows`-row base snapshot,
    * validate it, append a 1% delta and time the incremental run against a
    * from-scratch validation of the same post-append table. The claim under
    * test: the delta run's cost is O(delta) + O(manifest merge), NOT
    * O(table). The ONE prior read the delta run performs (cross-snapshot
    * uniqueness) must be column-pruned to the key column — the payload
    * (tokens) never re-reads. */
  def incremental(spark: SparkSession, rows: Long): Js = scratch("graft-incr-scale") { root =>
    val cpus = parallelism(spark)
    def gen(n: Long, seed: Long): DataFrame = tokenInput(spark, n, seed, 0.01, cpus * 4, 64)

    import spark.implicits._
    val dim = Seq("web", "books", "code", "wiki").toDF("source")
    val cfg = PipelineConfig(TokenSeqs.canonicalSchemaJson(),
      driftNumCol = None, driftCatCol = None)
    val store = new AppendSnapshotStore(spark, s"$root/table")
    val stateDir = s"$root/state"
    val deltaRows = rows / 100

    store.commitAppend("seqs", gen(rows, 11L), "part")
    val (tBase, r1) = timed(IncrementalValidation.validateDeltaAndCommit(
      spark, store, "seqs", Some(dim), None, cfg, stateDir, "base"))
    val baseViol = r1.deltaViolations.count()

    store.commitAppend("seqs", gen(deltaRows, 22L), "part")
    val (tDelta, r2) = timed {
      val r = IncrementalValidation.validateDeltaAndCommit(
        spark, store, "seqs", Some(dim), None, cfg, stateDir, "delta")
      r.deltaViolations.count()
      r.manifest.agg(sum("row_count")).collect()
      r
    }
    val deltaViol = r2.deltaViolations.count()
    val totalRows = r2.manifest.agg(sum("row_count")).head().getLong(0)

    // column-pruning audit: the only prior-snapshot access in the delta run
    // is the key-only uniqueness probe — its scan must read ONE column
    val priorScan = store.readBetween("seqs", 0L, r2.fromSnapshot)
      .select(col(cfg.uniqueKey.get)).queryExecution.executedPlan
    val readSchema = priorScan.collectLeaves().map(_.toString)
      .find(_.contains("ReadSchema")).getOrElse("")

    // reference point: full from-scratch validation of the post-append table
    val (tFull, _) = timed {
      val r = ValidationPipeline.run(spark,
        store.readAsOf("seqs").drop("_snap_id"), Some(dim), None, cfg, "full")
      r.violations.count()
      r.manifest.agg(sum("row_count")).collect()
      r.violations.unpersist()
    }

    Js("probe" -> "incremental_scale", "rows" -> rows, "delta_rows" -> deltaRows,
      "base_validate_sec" -> tBase, "delta_validate_sec" -> tDelta,
      "full_revalidate_sec" -> tFull, "speedup_vs_full" -> tFull / tDelta,
      "base_violations" -> baseViol, "delta_violations" -> deltaViol,
      "total_rows_in_manifest" -> totalRows,
      "prior_read_key_only" -> readSchema.contains("struct<doc_id:string>"))
  }

  /** Snapshot compaction: a standing append job commits many small deltas,
    * so `readAsOf` unions every snap dir and the data-file count grows
    * linearly in appends — the classic small-files failure mode. Commit 40
    * appends of `appendRows` rows, measure data files, full-read wall and a
    * content checksum; compact + vacuum; re-measure. The checksum, row count,
    * per-snapshot lineage and a mid-history `readAsOf` must answer
    * IDENTICALLY through the compacted layout. */
  def compaction(spark: SparkSession, appendRows: Long): Js = scratch("graft-compact-scale") { root =>
    val appends = 40
    val store = new AppendSnapshotStore(spark, root)
    (1 to appends).foreach(i => store.commitAppend("t",
      tokenInput(spark, appendRows, i.toLong, 0.0, parallelism(spark), 16), "part"))

    def dataFiles(): Long = {
      val p = new org.apache.hadoop.fs.Path(root, "t")
      val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
      var n = 0L
      while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
      n
    }
    // full-read wall: count + content checksum + lineage fold, min over reps
    def readAll(): (Long, Long, Double) = {
      val (wall, r) = bestOf3(store.readAsOf("t")
        .agg(count(lit(1)), expr("bit_xor(xxhash64(doc_id, _snap_id))")).collect()(0))
      (r.getLong(0), r.getLong(1), wall)
    }

    val filesBefore = dataFiles()
    val (nBefore, sumBefore, wallBefore) = readAll()
    val midBefore = store.readAsOf("t", Some(appends / 2L)).count()

    val (compactWall, _) = timed(store.compact("t", "part"))
    val removed = store.vacuum("t")

    val filesAfter = dataFiles()
    val (nAfter, sumAfter, wallAfter) = readAll()
    val midAfter = store.readAsOf("t", Some(appends / 2L)).count()

    require(nBefore == nAfter && sumBefore == sumAfter,
      s"compaction changed content: $nBefore/$sumBefore vs $nAfter/$sumAfter")
    require(midBefore == midAfter, s"time travel diverged: $midBefore vs $midAfter")
    require(nBefore == appends * appendRows)

    Js("metric" -> "compaction_probe", "appends" -> appends,
      "rows" -> appends * appendRows, "files_before" -> filesBefore,
      "files_after" -> filesAfter, "dirs_removed" -> removed,
      "read_wall_before_sec" -> wallBefore, "read_wall_after_sec" -> wallAfter,
      "compact_wall_sec" -> compactWall,
      "checksum_identical" -> true, "time_travel_identical" -> true)
  }

  /** Streaming fuzzy dedup ([[graft.streaming.StreamingDedup]]): seed
    * `seedRows` docs into the snapshot store with persisted MinHash
    * signatures, then stream 3 batches of a tenth as many fresh docs (~1%
    * near-dups of the seed) through the `nearDupSink` body and time each
    * micro-batch. The claim under test: per-batch wall time tracks the
    * BATCH size, not the accumulated corpus — the accumulated side
    * contributes only its signature table (K longs/doc) to candidate
    * generation, never a token rescan. `parity`: the stream's pair union
    * equals the one-shot batch operator. */
  def streamDedup(spark: SparkSession, seedRows: Long): Js = scratch("graft-sdedup-scale") { root =>
    val nBatches = 3
    val batchRows = seedRows / 10
    val store = new AppendSnapshotStore(spark, s"$root/table")

    // seed corpus: unique token sequences under positive hashed ids
    def docs(rows: Long, seed: Long, idSign: Int) =
      TokenSeqs.synthesize(spark, rows, seed, violationRate = 0.0,
          numPartitions = parallelism(spark) * 2)
        .select((xxhash64(col("doc_id")) * idSign).as("doc_id"), col("tokens"),
          col("source"))
    val seed = docs(seedRows, 7L, 1).persist(DISK_ONLY)
    seed.count()
    store.commitAppend("docs", seed, "source")
    Dedup.minhashSignatures(seed, "doc_id", "tokens")
      .write.parquet(s"$root/sigs/batch=seed")

    // fresh stream: each batch has batchRows unique docs (synthesize's
    // doc_id derives from (row, seed), so a per-batch seed already makes
    // ids batch-unique) plus ~1% copies of SEED docs under fresh ids —
    // cross-batch near-dups against the accumulated corpus
    val freshAll = (0 until nBatches).map { b =>
      val uniq = docs(batchRows, 100L + b, -1)
      val copies = seed.filter(pmod(col("doc_id"), lit(100)) === b % 100)
        .limit((batchRows / 100).toInt)
        .select((-col("doc_id") - 1000000000L * (b + 1)).as("doc_id"),
          col("tokens"), col("source"))
      uniq.unionByName(copies).persist(DISK_ONLY)
    }
    freshAll.foreach(_.count())

    // drive the foreachBatch body directly per batch (the probe measures the
    // operator, not MemoryStream plumbing): same calls nearDupSink makes
    val perBatch = freshAll.zipWithIndex.map { case (batch, b) =>
      val (t, pairs) = timed {
        val priorSigs = spark.read.parquet(s"$root/sigs").select("id", "sig")
        val prior = store.readAsOf("docs").drop("_snap_id")
        val pairs = Dedup.incrementalLshPairs(prior, batch, "doc_id", "tokens",
          minJaccard = 0.9, priorSigs = Some(priorSigs)).count()
        store.commitAppend("docs", batch, "source",
          idempotencyToken = Some(s"probe-batch-$b"))
        Dedup.minhashSignatures(batch, "doc_id", "tokens")
          .write.mode(SaveMode.Overwrite).parquet(s"$root/sigs/batch=$b")
        pairs
      }
      (t, pairs, batch.count())
    }
    val counts = perBatch.map(_._2)

    // parity: union of per-batch pair counts == the one-shot batch operator
    // over the same prior/fresh split
    val batchPairs = Dedup.incrementalLshPairs(seed, freshAll.reduce(_ unionByName _),
      "doc_id", "tokens", minJaccard = 0.9).count()
    (seed +: freshAll).foreach(_.unpersist())

    Js("probe" -> "stream_dedup", "seed_docs" -> seedRows,
      "batches" -> nBatches, "streamed_docs" -> perBatch.map(_._3).sum,
      "batch_sec" -> perBatch.map(_._1), "batch_pairs" -> counts,
      "stream_pair_total" -> counts.sum, "batch_operator_pairs" -> batchPairs,
      "parity" -> (counts.sum == batchPairs))
  }

  /** Training-pipeline operators at `rows`-row scale on deterministic
    * synthetic inputs: distributed k-means (Lloyd) centroid training +
    * trained-IVF assignment, DSIR importance weighting, temperature mixing,
    * within-doc line dedup, mean-pooling, split assignment and schema-driven
    * repair. Determinism must survive parallelism: the k-means centroid set
    * is compared across two partitionings. */
  def train(spark: SparkSession, rows: Long): Js = {
    val cpus = parallelism(spark)
    // 16 well-separated centers in 32-d; deterministic per-row jitter
    val dim = 32
    val k = 16
    val vecs = spark.range(rows).repartition(cpus * 4).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), d => {
        val center = pmod(col("id"), lit(k)) // cluster index
        val base = when(pmod(center + d, lit(4)) === 0, 10.0)
          .when(pmod(center + d, lit(4)) === 1, -10.0)
          .when(pmod(center + d, lit(4)) === 2, 5.0).otherwise(-5.0)
        base + (pmod(xxhash64(col("id"), d), lit(1000)).cast("double") / 1000.0 - 0.5)
      }).as("embedding"))
      .persist(DISK_ONLY)
    val n = vecs.count()

    val (tKm, cents) = timed(Similarity.kmeansCentroids(vecs, "vec_id", "embedding",
      k = k, iters = 3))
    val (tKm2, cents2) = timed(Similarity.kmeansCentroids(
      vecs.repartition(cpus * 2), "vec_id", "embedding", k = k, iters = 3))
    // one full-corpus assignment with the trained centroids (the IVF build)
    val quant = cents.map(_.map(x => Math.floor(x * 1000 + 0.5)).toArray)
    val (tAsg, nCells) = timed(vecs.select(
      graft.expr.VectorExprs.nearestCell(
        graft.expr.VectorExprs.quantize(col("embedding"), 1000.0),
        quant.toArray).as("cell"))
      .groupBy("cell").count().count())

    // DSIR: synthetic text via fingerprint-derived words
    val docs = spark.range(rows).repartition(cpus * 4).select(col("id").as("doc_id"),
      concat_ws(" ", (1 to 5).map(i =>
        concat(lit("w"), pmod(xxhash64(col("id"), lit(i)), lit(50)))): _*)
        .as("text"),
      pmod(col("id"), lit(20)).cast("string").as("source"),
      (pmod(xxhash64(col("id")), lit(100)) < 30).as("is_target"))
      .persist(DISK_ONLY)
    docs.count()
    val toks = graft.expr.TextExprs.asciiTokens(col("text"))
    val (tDsir, nScored) = timed(TextAnalysis.dsirLogWeights(
      docs, docs.filter(col("is_target")), "doc_id", toks).count())

    // temperature mixing over 20 strata (weights = scored rows per stratum)
    val (tMix, nMix) = timed(Sampling.mixWithTemperature(
      docs.withColumn("w", lit(1L)), "source", "doc_id", "w", tau = 3.0).count())

    // line dedup: every doc gets a shared boilerplate line + its own lines
    val paras = array(col("text"), lit("shared boilerplate line"),
      col("text"), lit("shared boilerplate line"))
    val (tLine, nLineKept) = timed(docs.select(
      explode(TextAnalysis.dedupDocLines(paras, minLen = 10)).as("p")).count())

    val (tPool, nPool) = timed(Similarity.meanPoolQuantized(
      vecs.withColumn("label", pmod(col("vec_id"), lit(k)).cast("int")),
      "label", "embedding").count())

    // deterministic split assignment (zero-shuffle projection)
    val (tSplit, splitCounts) = timed(Sampling.assignSplits(docs, "doc_id",
      Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
      .groupBy("split").count().count())

    // schema-driven repair incl. the one-pass audit report
    val repairSchema = graft.model.SchemaParser.parse(
      """{"type":"object","properties":{
           "doc_id":{"type":"integer"},
           "text":{"type":"string","maxLength":20},
           "source":{"enum":["0","1","2","3","4","5","6","7","8","9"]}}}""")
    val (tRepair, nRepairCols) = timed {
      val (rep, report) = graft.row.Repair.repair(docs, repairSchema)
      rep.count()
      report.count()
    }
    vecs.unpersist()
    docs.unpersist()

    Js("probe" -> "train_scale", "rows" -> n, "cpus" -> cpus,
      "kmeans_sec" -> tKm, "kmeans_rerun_sec" -> tKm2,
      "kmeans_deterministic" -> (cents == cents2),
      "ivf_assign_sec" -> tAsg, "ivf_cells" -> nCells,
      "dsir_sec" -> tDsir, "dsir_scored" -> nScored,
      "mix_sec" -> tMix, "mix_kept" -> nMix,
      "line_dedup_sec" -> tLine, "line_kept" -> nLineKept,
      "mean_pool_sec" -> tPool, "pool_rows" -> nPool,
      "split_sec" -> tSplit, "split_groups" -> splitCounts,
      "repair_sec" -> tRepair, "repair_cols" -> nRepairCols)
  }
}
