package graft.snapshot

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.{FileSystem, Path}

private[snapshot] object SnapshotWrite {
  /** Cluster rows by the layout partition column before a `partitionBy`
    * write. Without this, every write task holds one open parquet writer PER
    * partition value and the snapshot lands as (tasks × |domain|) small
    * files — at 1000 executors over a 16-value domain that is 16k writers
    * and a file explosion every append. The AQE rebalance shuffle clusters
    * each partition value into as few tasks as its size needs (splitting
    * skewed values, unlike a plain `repartition(col)`), so each task writes
    * ~1 file and the snapshot lands as ~|domain| right-sized files. */
  def clustered(df: DataFrame, partitionCol: String): DataFrame =
    df.hint("rebalance", col(partitionCol))
}

/** Iceberg APPEND-table semantics: each snapshot directory holds ONLY the
  * files added by that commit, and reading "the table as of snapshot s" is
  * the union of all committed snapshot dirs ≤ s — which is exactly what
  * makes INCREMENTAL processing possible: `readBetween(a, b)` reads only the
  * delta files, so revalidating a 100 TB table after a 0.1% append costs
  * 0.1% of a scan, not a full one (SURVEY §7.4.6: Iceberg semantics
  * emulated over partitioned Parquet, with no Iceberg dependency).
  *
  * Layout of a table rooted at `root/<table>`:
  * {{{
  *   snap=<id>/<partitionCol>=<k>/ ... .parquet  immutable files added by <id>
  *   _commits/<id>                            commit marker (atomic create)
  * }}}
  * A snapshot is visible iff its commit marker exists: the marker is written
  * last, so a crashed writer leaves data files but no marker, readers never
  * observe a partial snapshot, and the retry clears the leftovers.
  *
  * Every read carries a `_snap_id` lineage column (from the `snap=` path
  * partition, or a data column inside compacted files), so downstream
  * per-partition manifests can record which snapshot each metric batch came
  * from. [[compact]] + [[vacuum]] bound the small-files growth of a standing
  * append job without changing any reader's answer.
  */
final class AppendSnapshotStore(spark: SparkSession, root: String) {

  private def tableRoot(table: String) = new Path(root, table)
  private def fs(p: Path) = p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def committedIds(table: String): Seq[Long] = {
    val commits = new Path(tableRoot(table), "_commits")
    val f = fs(commits)
    if (!f.exists(commits)) Seq.empty
    else f.listStatus(commits).toSeq.map(_.getPath.getName.toLong).sorted
  }

  def currentSnapshot(table: String): Option[Long] = committedIds(table).lastOption

  /** Append `df` as a new snapshot; returns the new snapshot id.
    *
    * `idempotencyToken`: an at-least-once producer (a streaming foreachBatch
    * replaying a micro-batch after a crash, a retried orchestrator step)
    * passes a stable token per logical batch; a commit whose marker already
    * carries that token is returned as-is instead of appending a duplicate
    * snapshot. The token rides INSIDE the commit-marker file — the marker
    * creation is the single atomic commit point, so there is no window where
    * data is committed but the token is not. Token lookup is a runs-sized
    * listing of tiny marker files, never a data read. */
  def commitAppend(table: String, df: DataFrame, partitionCol: String,
                   idempotencyToken: Option[String] = None): Long = {
    val commits = new Path(tableRoot(table), "_commits")
    idempotencyToken.foreach { tok =>
      val f = fs(commits)
      if (f.exists(commits)) {
        f.listStatus(commits).foreach { st =>
          val in = f.open(st.getPath)
          val content = try new String(in.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8) finally in.close()
          if (content == tok) return st.getPath.getName.toLong
        }
      }
    }
    val id = currentSnapshot(table).getOrElse(0L) + 1L
    val dataPath = new Path(tableRoot(table), s"snap=$id")
    val f = fs(dataPath)
    if (f.exists(dataPath)) f.delete(dataPath, true) // uncommitted leftovers
    SnapshotWrite.clustered(df, partitionCol).write.mode(SaveMode.ErrorIfExists)
      .partitionBy(partitionCol).parquet(dataPath.toString)
    // per-file column stats sidecar BEFORE the marker: a committed snapshot
    // always has stats; a crash leaves both invisible (see FileStats)
    FileStats.write(f, new Path(tableRoot(table), "_filestats"), s"$id", dataPath)
    val marker = new Path(commits, id.toString)
    f.mkdirs(marker.getParent)
    val out = f.create(marker, false)
    try idempotencyToken.foreach(t =>
      out.write(t.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    finally out.close()
    id
  }

  private def readSnaps(table: String, ids: Seq[Long]): DataFrame = {
    require(ids.nonEmpty, s"no snapshots to read in $table")
    val base = tableRoot(table).toString
    spark.read.option("basePath", base)
      .parquet(ids.map(id => s"$base/snap=$id"): _*)
      .withColumnRenamed("snap", "_snap_id")
      .withColumn("_snap_id", col("_snap_id").cast("long"))
  }

  /** Full table as of `asOf` (default: latest) — union of snapshots ≤ asOf. */
  def readAsOf(table: String, asOf: Option[Long] = None): DataFrame = {
    val ids = committedIds(table)
    val upTo = asOf.getOrElse(
      ids.lastOption.getOrElse(throw new IllegalStateException(s"no snapshot in $table")))
    readRange(table, 0L, upTo)
  }

  /** [[readAsOf]] restricted to `column` ∈ [lo, hi], with Iceberg-manifest-
    * style FILE SKIPPING: every commit/compaction persisted per-file min/max
    * column stats ([[FileStats]], read once from the parquet footers at
    * write time), so the driver drops whole data files whose range cannot
    * intersect [lo, hi] BEFORE Spark plans the scan — no directory listing,
    * no footer reads, no tasks for skipped files. On a standing append store
    * whose layout clusters the stats column (e.g. time-ordered appends), a
    * narrow predicate reads O(matching files), not O(table).
    *
    * The kept files still carry the ordinary pushed-down row-group filter
    * (the residual predicate is applied normally), so results are identical
    * to `readAsOf(...).filter(column between lo and hi)` — pinned by
    * FileSkippingSpec. Snapshots without stats (pre-feature tables) fall
    * back to reading the whole snapshot dir. Numeric bounds compare as
    * BigDecimal (no 2^53 surprises); string pruning applies only when stats
    * and bounds are all-ASCII (parquet orders binaries bytewise — a
    * non-ASCII boundary falls back to keeping the file). */
  def readAsOfWhere(table: String, column: String, lo: Any, hi: Any,
                    asOf: Option[Long] = None): DataFrame = {
    val ids = committedIds(table)
    val upTo = asOf.getOrElse(
      ids.lastOption.getOrElse(throw new IllegalStateException(s"no snapshot in $table")))
    val base = tableRoot(table).toString
    val statsDir = new Path(tableRoot(table), "_filestats")
    val f = fs(tableRoot(table))

    def snapDf(snapIds: Seq[Long]): Option[DataFrame] = {
      // per snapshot: stats-pruned file list, or the whole dir when no stats
      // (one sidecar read per snapshot — keptFiles parses the filesystem)
      val kept: Map[Long, Option[Seq[String]]] = snapIds.map(id =>
        id -> FileStats.keptFiles(f, statsDir, id.toString,
          new Path(base, s"snap=$id"), column, lo, hi)).toMap
      val paths = snapIds.flatMap(id => kept(id) match {
        case None => Seq(s"$base/snap=$id") // no sidecar: whole dir
        case Some(files) => files
      })
      if (paths.isEmpty) None
      else Some(spark.read.option("basePath", base).parquet(paths: _*)
        .withColumnRenamed("snap", "_snap_id")
        .withColumn("_snap_id", col("_snap_id").cast("long")))
    }

    def compactDf(k: Long, a: Long, b: Long): Option[DataFrame] = {
      val dir = new Path(base, s"compact=$k")
      val kept = FileStats.keptFiles(f, statsDir, s"compact_$k", dir, column, lo, hi)
      val paths = kept.getOrElse(Seq(dir.toString))
      if (paths.isEmpty) None
      // basePath keeps the layout partition column when reading explicit files
      else Some(spark.read.option("basePath", dir.toString).parquet(paths: _*)
        .withColumn("_snap_id", col("_snap_id").cast("long"))
        .filter(col("_snap_id") > a && col("_snap_id") <= b))
    }

    val parts: Seq[DataFrame] = latestCompaction(table) match {
      case Some(k) =>
        val later = ids.filter(id => id > k && id <= upTo)
        compactDf(k, 0L, math.min(k, upTo)).toSeq ++ snapDf(later).toSeq
      case None => snapDf(ids.filter(_ <= upTo)).toSeq
    }
    val unioned = parts.reduceOption(_ unionByName _).getOrElse(
      readAsOf(table, Some(upTo)).limit(0))
    unioned.filter(col(column) >= lit(lo) && col(column) <= lit(hi))
  }

  /** The DELTA: rows appended in snapshots (fromExclusive, toInclusive]. */
  def readBetween(table: String, fromExclusive: Long, toInclusive: Long): DataFrame =
    readRange(table, fromExclusive, toInclusive)

  /** Rows of snapshots in (a, b]: from the latest committed compaction where
    * it covers the range (a `_snap_id` filter the scan can push down to
    * sorted row groups), plus the post-compaction snap dirs. Snap dirs below
    * a covering compaction are never touched — [[vacuum]] may have removed
    * them. */
  private def readRange(table: String, a: Long, b: Long): DataFrame =
    latestCompaction(table).filter(_ > a) match {
      case Some(k) =>
        val fromCompact = readCompacted(table, k)
          .filter(col("_snap_id") > a && col("_snap_id") <= math.min(k, b))
        val laterIds = committedIds(table).filter(id => id > math.max(a, k) && id <= b)
        if (laterIds.isEmpty) fromCompact
        else fromCompact.unionByName(readSnaps(table, laterIds))
      case None =>
        readSnaps(table, committedIds(table).filter(id => id > a && id <= b))
    }

  private def readCompacted(table: String, k: Long): DataFrame =
    spark.read.parquet(new Path(tableRoot(table), s"compact=$k").toString)
      .withColumn("_snap_id", col("_snap_id").cast("long"))

  /** Latest committed compaction's folded-through snapshot id, if any. */
  def latestCompaction(table: String): Option[Long] = {
    val c = new Path(tableRoot(table), "_compactions")
    val f = fs(c)
    if (!f.exists(c)) None
    else f.listStatus(c).toSeq.map(_.getPath.getName.toLong).sorted.lastOption
  }

  /** COMPACTION — the Iceberg rewrite-data-files analogue, the answer to the
    * append store's small-files growth: a standing job appending every few
    * minutes accumulates O(appends × |partition domain|) files, and every
    * `readAsOf` unions them all. `compact` folds every committed snapshot
    * ≤ current into ONE consolidated dir, clustered by `partitionCol` with
    * rows sorted by `_snap_id` inside each partition — `_snap_id` becomes a
    * data column there, so time travel and delta reads keep working through
    * the compacted files via a pushed-down range filter over sorted row
    * groups. Reads after compaction touch O(appends since compaction) dirs.
    *
    * Same crash discipline as commits: data first, then an atomic
    * `_compactions/<id>` marker — a crashed compaction is invisible and
    * cleared on retry. Appends, reads, and the incremental-validation flow
    * are untouched while a compaction runs (it only ADDS a data layout).
    * Returns the folded-through snapshot id; no-ops if already compacted
    * through the latest snapshot. */
  def compact(table: String, partitionCol: String): Long = {
    val upTo = currentSnapshot(table).getOrElse(
      throw new IllegalStateException(s"nothing to compact in $table"))
    if (latestCompaction(table).contains(upTo)) return upTo
    val data = readAsOf(table, Some(upTo))
    val dataPath = new Path(tableRoot(table), s"compact=$upTo")
    val f = fs(dataPath)
    if (f.exists(dataPath)) f.delete(dataPath, true) // uncommitted leftovers
    SnapshotWrite.clustered(data, partitionCol)
      .sortWithinPartitions(col(partitionCol), col("_snap_id"))
      .write.mode(SaveMode.ErrorIfExists)
      .partitionBy(partitionCol).parquet(dataPath.toString)
    FileStats.write(f, new Path(tableRoot(table), "_filestats"), s"compact_$upTo", dataPath)
    val marker = new Path(new Path(tableRoot(table), "_compactions"), upTo.toString)
    f.mkdirs(marker.getParent)
    f.create(marker, false).close()
    upTo
  }

  /** Remove data made redundant by the latest committed compaction: snap
    * dirs ≤ its folded-through id and older compact dirs. Commit markers are
    * RETAINED — the snapshot history (ids, `readAsOf`, `readBetween`) is
    * fully served by the compacted files. Returns the number of directories
    * removed. Safe any time after `compact` returns: the compaction marker
    * is already durable, so no reader can still be planning against the
    * victims in a new query. */
  def vacuum(table: String): Int = latestCompaction(table) match {
    case None => 0
    case Some(k) =>
      val rootP = tableRoot(table)
      val f = fs(rootP)
      val victims = f.listStatus(rootP).toSeq.map(_.getPath).filter { p =>
        val n = p.getName
        (n.startsWith("snap=") && n.stripPrefix("snap=").toLong <= k) ||
          (n.startsWith("compact=") && n.stripPrefix("compact=").toLong < k)
      }
      victims.foreach(p => f.delete(p, true))
      victims.size
  }
}

/** Per-file column min/max stats sidecars — the Iceberg-manifest analogue
  * that makes [[AppendSnapshotStore.readAsOfWhere]] skip whole data files on
  * the driver. Written ONCE per commit/compaction by reading the parquet
  * footers of the just-written files (they are small and warm); read back as
  * one tiny driver-side file per snapshot — planning a pruned scan costs no
  * listing and no tasks.
  *
  * Format (`_filestats/<name>`, TAB-separated, URL-encoded values):
  * {{{
  *   FILE <relpath>                                every data file (so the
  *                                                 reader never lists dirs)
  *   COL  <relpath> <column> <typ> <min> <max>     per top-level primitive
  * }}}
  * Columns without stats (all-null, nested, unsupported physical type) have
  * no COL line and are never pruned on. */
private[snapshot] object FileStats {
  import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
  import org.apache.parquet.schema.LogicalTypeAnnotation
  import scala.jdk.CollectionConverters._

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  private def listParquet(f: FileSystem, dir: Path): Seq[Path] = {
    val it = f.listFiles(dir, true)
    val out = scala.collection.mutable.ArrayBuffer[Path]()
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && st.getPath.getName.endsWith(".parquet")) out += st.getPath
    }
    out.toSeq
  }

  /** Read the footers of every data file under `dataPath` and persist one
    * stats sidecar `statsDir/<name>`. Called BEFORE the commit marker, so a
    * visible snapshot always has its sidecar. */
  def write(f: FileSystem, statsDir: Path, name: String, dataPath: Path): Unit = {
    val lines = scala.collection.mutable.ArrayBuffer[String]()
    listParquet(f, dataPath).foreach { file =>
      val rel = file.toString.stripPrefix(dataPath.toString).stripPrefix("/")
      lines += s"FILE\t${enc(rel)}"
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, f.getConf))
      try {
        val schema = reader.getFileMetaData.getSchema
        // (typ, min, max) per top-level primitive column, merged across blocks
        val acc = scala.collection.mutable.LinkedHashMap[String, (String, String, String)]()
        var ok = Set.empty[String]
        var bad = Set.empty[String]
        reader.getFooter.getBlocks.asScala.foreach { block =>
          block.getColumns.asScala.foreach { cc =>
            val path = cc.getPath.toArray
            if (path.length == 1) {
              val colName = path(0)
              val st = cc.getStatistics
              val fieldIdx = schema.getFieldIndex(colName)
              val fld = schema.getType(fieldIdx)
              val prim = fld.asPrimitiveType()
              val typ: Option[String] = prim.getPrimitiveTypeName match {
                // INT32/INT64 physical values are only comparable as plain
                // integers when the logical annotation says so: a DECIMAL
                // column stores raw UNSCALED values (123.45 → 12345) and
                // DATE/TIME/TIMESTAMP store epoch offsets — comparing those
                // against logical-value bounds would silently skip files
                // that contain matching rows. Only null (plain int) and
                // explicit SIGNED int annotations qualify — a UINT_64 raw
                // value above Long.MaxValue compares as a negative signed
                // long, which would wrongly prune files (Spark never writes
                // unsigned parquet ints, but other writers can); everything
                // else gets no COL line and is never pruned on (always
                // kept — safe).
                case PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64
                  if fld.getLogicalTypeAnnotation == null ||
                    (fld.getLogicalTypeAnnotation match {
                      case a: LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
                        a.isSigned
                      case _ => false
                    })
                  => Some("I")
                case PrimitiveTypeName.FLOAT | PrimitiveTypeName.DOUBLE => Some("F")
                case PrimitiveTypeName.BINARY
                  if fld.getLogicalTypeAnnotation ==
                    LogicalTypeAnnotation.stringType() => Some("S")
                case _ => None
              }
              if (typ.isEmpty || st == null || !st.hasNonNullValue || st.isEmpty)
                bad += colName
              else {
                val (mn, mx) = typ.get match {
                  case "S" =>
                    (st.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary]
                       .toStringUsingUTF8,
                     st.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary]
                       .toStringUsingUTF8)
                  case _ => (st.genericGetMin.toString, st.genericGetMax.toString)
                }
                // a NaN min/max (float/double) is unorderable — drop the column
                try {
                  acc.get(colName) match {
                    case None => acc(colName) = (typ.get, mn, mx)
                    case Some((t, oMn, oMx)) =>
                      val nMn = if (lt(t, mn, oMn)) mn else oMn
                      val nMx = if (lt(t, oMx, mx)) mx else oMx
                      acc(colName) = (t, nMn, nMx)
                  }
                  ok += colName
                } catch { case _: NumberFormatException => bad += colName }
              }
            }
          }
        }
        (ok -- bad).foreach { c =>
          val (t, mn, mx) = acc(c)
          lines += s"COL\t${enc(rel)}\t${enc(c)}\t$t\t${enc(mn)}\t${enc(mx)}"
        }
      } finally reader.close()
    }
    f.mkdirs(statsDir)
    val out = f.create(new Path(statsDir, name), true)
    try out.write((lines.mkString("\n") + "\n").getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def lt(typ: String, a: String, b: String): Boolean = typ match {
    case "S" => a < b
    case _ => BigDecimal(a) < BigDecimal(b)
  }

  /** The data files under `dataPath` that can contain `column` ∈ [lo, hi],
    * as absolute path strings — or None when no sidecar exists (caller reads
    * the whole dir). Files without stats for `column` are kept. */
  def keptFiles(f: FileSystem, statsDir: Path, name: String, dataPath: Path,
                column: String, lo: Any, hi: Any): Option[Seq[String]] = {
    val sf = new Path(statsDir, name)
    if (!f.exists(sf)) return None
    val in = f.open(sf)
    val content = try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8) finally in.close()
    val files = scala.collection.mutable.LinkedHashSet[String]()
    val stats = scala.collection.mutable.HashMap[String, (String, String, String)]()
    content.split("\n").filter(_.nonEmpty).foreach { line =>
      val p = line.split("\t", -1)
      p(0) match {
        case "FILE" => files += dec(p(1))
        case "COL" if dec(p(2)) == column =>
          stats(dec(p(1))) = (p(3), dec(p(4)), dec(p(5)))
        case _ =>
      }
    }
    def ascii(s: String): Boolean = s.forall(_ < 0x80)
    Some(files.toSeq.filter { rel =>
      stats.get(rel) match {
        case None => true
        case Some((t, mn, mx)) => t match {
          case "S" =>
            val (l, h) = (lo.toString, hi.toString)
            if (ascii(mn) && ascii(mx) && ascii(l) && ascii(h))
              mn <= h && mx >= l
            else true
          case _ =>
            try {
              val l = BigDecimal(lo.toString); val h = BigDecimal(hi.toString)
              BigDecimal(mn) <= h && BigDecimal(mx) >= l
            } catch { case _: NumberFormatException => true } // unparseable → keep
        }
      }
    }.map(rel => new Path(dataPath, rel).toString))
  }
}

/** Append-only per-partition run manifest (FIXTURES.md §5) — the engine's
  * lineage + checkpoint record. Each validated partition commits exactly one
  * row per run; resume anti-joins pending partitions against completed rows.
  *
  * Physically: one small parquet directory per append under
  * `root/_manifest/batch=<uuid>` — append never rewrites, matching Iceberg's
  * append-only commit discipline.
  */
final class ManifestStore(spark: SparkSession, root: String) {

  private val manifestDir = new Path(root, "_manifest")
  private def fs = manifestDir.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Commits `rows` as one batch and returns the committed batch, read back
    * from its files. */
  def append(rows: DataFrame): DataFrame = {
    val batch = java.util.UUID.randomUUID().toString
    // write to a staging dir, then one atomic rename into the visible
    // batch=* namespace — a crashed append leaves only invisible staging
    // files (readAll lists batch= dirs only), never a partial batch
    val staging = new Path(manifestDir, s"_staging-$batch")
    val target = new Path(manifestDir, s"batch=$batch")
    // manifest batches are partition-count-sized — one file per append keeps
    // a standing job's manifest read at O(runs) files, not O(runs × tasks)
    rows.coalesce(1).write.mode(SaveMode.ErrorIfExists).parquet(staging.toString)
    if (!fs.rename(staging, target))
      throw new java.io.IOException(s"manifest commit rename failed: $target")
    spark.read.schema(rows.schema).parquet(target.toString)
  }

  private def batchPaths: Seq[String] =
    if (!fs.exists(manifestDir)) Seq.empty
    else fs.listStatus(manifestDir).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("batch=")).map(_.toString)

  def isEmpty: Boolean = batchPaths.isEmpty

  def readAll(): DataFrame = {
    // explicit committed-batch paths, not a glob (a glob would both log
    // spurious FileStreamSink warns and see uncommitted _staging dirs race by)
    val paths = batchPaths
    require(paths.nonEmpty, s"manifest at $manifestDir is empty")
    spark.read.option("basePath", manifestDir.toString).parquet(paths: _*)
  }

  /** Partitions already completed for `runId` (tiny: one row per partition). */
  def completedPartitions(runId: String): DataFrame = {
    if (isEmpty) {
      import org.apache.spark.sql.types._
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("partition_key", StringType))))
    } else readAll()
      .filter(col("run_id") === runId && col("status") === "completed")
      .select("partition_key").distinct()
  }
}
