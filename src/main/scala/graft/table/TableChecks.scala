package graft.table

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** Dataset-scope constraint operators (SURVEY §2.6) — the generalization of
  * the reference's per-array keywords to column-of-rows scope:
  *  - uniqueness   ← `uniqueItems` (validator.go:1067-1111)
  *  - referential  ← `enum` membership (validator.go:871-886)
  *  - column stats ← `required`/`minimum`/`maximum` seeds
  *  - drift        ← no reference seed; KS + chi-squared vs baseline snapshot
  *
  * Scale notes (10^12-row target):
  *  - uniqueness is ONE full shuffle on the key, with map-side partial
  *    aggregation folding duplicates per input partition first; the salted
  *    variant splits pathological hot keys across S sub-keys before re-agg.
  *  - RI uses a broadcast left-anti join — zero shuffle of the fact table.
  *  - stats are a single full-scan aggregation (partial+final), no shuffle of
  *    raw rows, constant-size state per column (HLL sketches for distinct).
  *  - drift aggregates each side down to |domain| rows before any window —
  *    windows only ever see the (tiny) distinct-value domain, never raw rows.
  */
object TableChecks {

  // ---------------------------------------------------------------- uniqueness

  /** Keys occurring more than once: `groupBy(key).count > 1`. Partial
    * aggregation dedups per partition before the exchange; AQE coalesces the
    * post-shuffle partitions. */
  def duplicates(df: DataFrame, key: String): DataFrame =
    df.groupBy(col(key)).agg(count(lit(1)).as("cnt")).filter(col("cnt") > 1)

  /** Explicit two-phase salted variant for hyper-skewed keys (north rule):
    * phase 1 aggregates on (key, salt) — a hot key splits across `salt`
    * reducers — phase 2 re-aggregates per key over the (much smaller)
    * partial counts. */
  def duplicatesSalted(df: DataFrame, key: String, salt: Int = 64): DataFrame =
    df.withColumn("_salt", pmod(spark_partition_id(), lit(salt)))
      .groupBy(col(key), col("_salt")).agg(count(lit(1)).as("partial_cnt"))
      .groupBy(col(key)).agg(sum("partial_cnt").as("cnt"))
      .filter(col("cnt") > 1)

  /** COMPOSITE-key uniqueness: tuples of `keys` occurring more than once —
    * the (doc_id, chunk_idx) / (source, url) case. Same two-phase salted
    * shape as [[duplicatesSalted]]; the shuffle key is the whole tuple, so
    * only per-tuple partial counts cross the wire. Rows where EVERY key
    * column is null are excluded (no key to speak of); a partially-null
    * tuple is a real key (SQL-groupBy semantics: null == null within the
    * group). */
  def duplicatesComposite(df: DataFrame, keys: Seq[String],
                          salt: Int = 64): DataFrame = {
    require(keys.nonEmpty, "composite key needs at least one column")
    df.filter(keys.map(col(_).isNotNull).reduce(_ || _))
      .withColumn("_salt", pmod(spark_partition_id(), lit(salt)))
      .groupBy((keys.map(col) :+ col("_salt")): _*)
      .agg(count(lit(1)).as("partial_cnt"))
      .groupBy(keys.map(col): _*).agg(sum("partial_cnt").as("cnt"))
      .filter(col("cnt") > 1)
  }

  // ---------------------------------------------------- functional dependency

  /** FUNCTIONAL-DEPENDENCY conformance: determinant tuples of `det` that map
    * to MORE THAN ONE distinct non-null value of `dep` — the "doc_id
    * determines source" / "url determines content-hash" class of
    * cross-column invariant the row engine cannot see (it is a property of
    * the table, not of any single row). Null dependents are treated as
    * MISSING, not conflicting (count-distinct semantics). One row per
    * violating determinant: (det..., n_dep, n_rows).
    *
    * Scale shape: phase 1 groups on (det, dep) — map-side combine collapses
    * repeats BEFORE the only full shuffle, so the exchange carries distinct
    * (det, dep) pairs, never rows; phase 2 re-aggregates the pair counts per
    * determinant over the pairs-sized intermediate. No windows, no joins,
    * no count-distinct expand. */
  def fdViolations(df: DataFrame, det: Seq[String], dep: String): DataFrame = {
    require(det.nonEmpty, "functional dependency needs a determinant column")
    df.filter(col(dep).isNotNull)
      .groupBy((det :+ dep).map(col): _*).agg(count(lit(1)).as("pair_cnt"))
      .groupBy(det.map(col): _*)
      .agg(count(lit(1)).as("n_dep"), sum("pair_cnt").as("n_rows"))
      .filter(col("n_dep") > 1)
  }

  // ------------------------------------------------------- ordering integrity

  /** ORDERING integrity per key: is `tsCol` non-decreasing when the key's
    * rows are replayed in `seqCol` order? The event-log / chunked-document
    * invariant ("a user's events ordered by sequence number never go back in
    * time") — a property of the ROW ORDER within a key, invisible to both
    * the row engine and per-column stats. One verdict row per key:
    * (key, n_events, inversions, is_monotone).
    *
    * Scale shape: one exchange on the key, per-key sort for the lag window,
    * and the verdict aggregation reuses the window's hash partitioning (no
    * second exchange). Keys are independent; skew is bounded by the hottest
    * key's own row count, and only (key, seq, ts) ever shuffles. */
  def orderingIntegrity(df: DataFrame, keyCol: String, seqCol: String,
                        tsCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(seqCol))
    df.select(col(keyCol), col(seqCol), col(tsCol))
      .withColumn("_prev", lag(col(tsCol), 1).over(w))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col(tsCol) < col("_prev"), 1L).otherwise(0L)).as("inversions"))
      .withColumn("is_monotone", col("inversions") === 0L)
  }

  // ----------------------------------------------------------- trend anomalies

  /** TREND anomalies over a metric SERIES (key, order, value) — the standing
    * job's "did this run's metric jump?" check: a manifest metric per
    * partition across runs, daily violation counts per source, etc. A point
    * is anomalous when its distance from the key's MEDIAN exceeds
    * `k × MAD` (median absolute deviation) — the robust fences that a mean/
    * stddev z-score lacks (one bad run drags the mean toward itself and
    * hides the next one). Output: one row per input point with
    * (value, med, mad, is_anomaly); an all-identical series (mad = 0) flags
    * any deviation at all.
    *
    * Scale shape: the SERIES is aggregate-sized by construction (keys ×
    * observation points — the caller reduces raw rows first, as the manifest
    * already is). Two exact-percentile groupings over it, per-key stats
    * broadcast back; raw data never enters. */
  def trendAnomalies(series: DataFrame, keyCol: String, orderCol: String,
                     valueCol: String, k: Double = 3.5): DataFrame = {
    val v = col(valueCol).cast(DoubleType)
    val med = series.groupBy(col(keyCol))
      .agg(expr(s"percentile($valueCol, 0.5D)").as("med"))
    val withMed = series.join(broadcast(med), Seq(keyCol))
    val mad = withMed.groupBy(col(keyCol))
      .agg(expr(s"percentile(abs($valueCol - med), 0.5D)").as("mad"))
    withMed.join(broadcast(mad), Seq(keyCol))
      .withColumn("is_anomaly",
        abs(v - col("med")) > lit(k) * greatest(col("mad"), lit(1e-9)))
      .select(col(keyCol), col(orderCol), v.as("value"), col("med"),
        col("mad"), col("is_anomaly"))
  }

  // -------------------------------------------------------- correlation drift

  /** Per-group Pearson correlation of (`xCol`, `yCol`) vs the whole table's —
    * the cheap MULTIVARIATE drift check: univariate KS/PSI on each column can
    * both pass while the RELATIONSHIP between them silently flips (a logging
    * bug decoupling value from time, a source whose length/quality coupling
    * inverts). One row per group: (group, n, corr_group, corr_global,
    * corr_diff, drifted), drifted = |corr_group − corr_global| > eps, and a
    * group whose correlation is undefined (n < 2 or zero variance) is
    * flagged drifted (it cannot be shown healthy).
    *
    * Scale shape: two aggregations (per-group + global), both with partial
    * Welford-style `corr` state — only O(groups) crosses the wire, and the
    * single global row broadcasts. Numerically stable by construction (no
    * n·Σx² − (Σx)² cancellation on large-magnitude columns like epochs). */
  def corrDrift(df: DataFrame, groupCol: String, xCol: String, yCol: String,
                eps: Double): DataFrame = {
    // Pearson from population co-moments (identical value — the (n-1)
    // factors cancel) with a zero-variance guard: built-in `corr` throws
    // DIVIDE_BY_ZERO under ANSI mode on a constant column, where the right
    // answer for a drift check is "undefined, flag it"
    def safeCorr(x: Column, y: Column): Column = {
      val sx = stddev_pop(x); val sy = stddev_pop(y)
      when(sx > 0 && sy > 0, covar_pop(x, y) / (sx * sy))
    }
    // timestamps become epoch seconds; corr is shift-invariant, so the
    // timezone interpretation of an NTZ timestamp cannot change the statistic
    def asNum(c: String): Column = df.schema(c).dataType match {
      case TimestampType | TimestampNTZType =>
        unix_micros(col(c).cast(TimestampType)).cast(DoubleType) / lit(1e6)
      case _ => col(c).cast(DoubleType)
    }
    val pairs = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(groupCol), asNum(xCol).as("_x"), asNum(yCol).as("_y"))
    val global = pairs.agg(safeCorr(col("_x"), col("_y")).as("corr_global"))
    pairs.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), safeCorr(col("_x"), col("_y")).as("corr_group"))
      .crossJoin(broadcast(global))
      .withColumn("corr_diff", abs(col("corr_group") - col("corr_global")))
      .withColumn("drifted", coalesce(col("corr_diff") > eps, lit(true)))
  }

  /** Heavy keys of `column` (share ≥ `minShare` of non-null rows) — the skew
    * DIAGNOSIS that decides where salting / AQE skew-split is needed. Two
    * passes, O(k) aggregation state:
    *
    *  1. ONE scan fused into a single aggregation: a Misra–Gries summary
    *     (`graft.functions.MisraGries`, k = max(64, ⌈4/minShare⌉)) + the
    *     non-null row count. MG's no-false-negative bound (every item with
    *     share > 1/(k+1) is tracked) makes the candidate set a superset of
    *     the answer, with O(k) memory where a full groupBy's partial-agg hash
    *     maps would hold the whole (URL/doc-id-sized) domain.
    *  2. Exact counts for the ≤k candidates only: an `isin` filter (pushed to
    *     the scan) then groupBy — the shuffle carries heavy-key rows' keys
    *     only.
    *
    * Output: (item, cnt, share), exact, sorted by cnt desc. The driver-side
    * candidate list is ≤ k entries — never row-scale. */
  def heavyHitters(df: DataFrame, column: String, minShare: Double,
                   sketchK: Int = 0): DataFrame = {
    require(minShare > 0 && minShare <= 1, s"minShare must be in (0,1]: $minShare")
    val k = if (sketchK > 0) sketchK else math.max(64, math.ceil(4.0 / minShare).toInt)
    val c = col(column).cast(StringType)
    val row = df.select(c.as("_k")).filter(col("_k").isNotNull)
      .agg(graft.functions.MisraGries(col("_k"), k).as("mg"),
        count(lit(1)).as("n")).head()
    val n = row.getLong(1)
    if (n == 0) return df.sparkSession.emptyDataFrame
      .select(lit("").as("item"), lit(0L).as("cnt"), lit(0.0).as("share"))
    val threshold = math.ceil(minShare * n).toLong
    val cand = row.getMap[String, org.apache.spark.sql.Row](0)
      .collect { case (item, b) if b.getLong(1) >= threshold => item }.toSeq
    // phase-2 membership filter in the column's NATIVE type so the In
    // predicate pushes to the parquet scan (row-group stats skipping); a
    // string-cast comparison would read every row group
    val typedCand: Seq[Any] = df.schema(column).dataType match {
      case ByteType | ShortType | IntegerType | LongType => cand.map(_.toLong)
      case FloatType | DoubleType => cand.map(_.toDouble)
      case _ => cand
    }
    df.filter(col(column).isin(typedCand: _*))
      .select(c.as("item"))
      .groupBy("item").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= threshold)
      .withColumn("share", col("cnt").cast(DoubleType) / lit(n.toDouble))
      .orderBy(col("cnt").desc, col("item"))
  }

  /** Uniqueness violations as violation rows (FIXTURES §4 contract). */
  def uniquenessViolations(df: DataFrame, key: String): DataFrame =
    duplicates(df, key).select(
      col(key).cast(StringType).as("doc_id"),
      lit("uniqueness").as("keyword"),
      lit(s"#/$$dataset/uniqueness/$key").as("keywordLocation"),
      concat(lit(s"#/$key="), col(key).cast(StringType)).as("instanceLocation"),
      concat(lit("key occurs "), col("cnt").cast(StringType), lit(" times")).as("message"))

  // ------------------------------------------------------- referential integrity

  /** Fact rows whose `key` is not in the dimension: broadcast left-anti join.
    * The dimension is distinct-ed first so it stays broadcastable. */
  def referentialViolations(facts: DataFrame, dim: DataFrame,
                            factKey: String, dimKey: String): DataFrame =
    facts.join(broadcast(dim.select(col(dimKey).as(factKey)).distinct()),
      Seq(factKey), "left_anti")

  /** RI when the DIMENSION is too large to broadcast (a multi-billion-key
    * allowed-doc_id list at the 10^12 target). A naive `facts LEFT ANTI dim`
    * shuffles the entire 100 TB fact payload on the key. This path exploits
    * the north rule's asymmetry — violations are rare (~1%) — so only KEYS
    * ever shuffle:
    *
    *  phase 1: distinct fact keys (map-side combined, |key domain| rows)
    *           LEFT ANTI dim keys → the violating-KEY set. Both shuffle
    *           sides are key-only projections; the fact payload stays put.
    *  phase 2: probe the violating-key count with limit(max+1) — never a
    *           full count. If it fits `broadcastKeyMax` (the common case:
    *           violations are anomalies), broadcast-semi-join the keys back
    *           against the UNSHUFFLED fact table to emit the violating rows.
    *  fallback: a violating-key set too large to broadcast means RI is
    *           catastrophically broken — emit rows via the plain shuffled
    *           anti-join (AQE skew-split applies) and log the downgrade.
    *
    * Reads the fact table twice (key projection + probe-back), but at scale
    * two column-pruned scans beat one full-payload shuffle by an order of
    * magnitude. Results are identical to [[referentialViolations]]. */
  def referentialViolationsLargeDim(facts: DataFrame, dim: DataFrame,
                                    factKey: String, dimKey: String,
                                    broadcastKeyMax: Int = 4000000): DataFrame = {
    val dimKeys = dim.select(col(dimKey).as(factKey)).distinct()
    val badKeys = facts.select(col(factKey)).distinct()
      .join(dimKeys, Seq(factKey), "left_anti")
    val probe = badKeys.limit(broadcastKeyMax + 1).count()
    if (probe <= broadcastKeyMax)
      facts.join(broadcast(badKeys), Seq(factKey), "left_semi")
    else {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"referentialViolationsLargeDim: > $broadcastKeyMax violating keys; " +
          "falling back to shuffled anti-join of the fact table")
      facts.join(dimKeys, Seq(factKey), "left_anti")
    }
  }


  // ---------------------------------------------------------------- column stats

  /** One-pass per-column statistics: a single full-scan aggregation producing
    * one row per requested column (long format). All sketch state is
    * constant-size (HLL++ for approx distinct). */
  def columnStats(df: DataFrame, columns: Seq[String], rsd: Double = 0.02): DataFrame = {
    val total = count(lit(1))
    val perCol: Seq[Column] = columns.map { c =>
      val isNum = df.schema(c).dataType.isInstanceOf[NumericType]
      struct(
        lit(c).as("column"),
        total.as("row_count"),
        sum(col(c).isNull.cast(LongType)).as("null_count"),
        avg(col(c).isNull.cast(DoubleType)).as("null_rate"),
        (if (isNum) min(col(c)).cast(DoubleType) else lit(null).cast(DoubleType)).as("min"),
        (if (isNum) max(col(c)).cast(DoubleType) else lit(null).cast(DoubleType)).as("max"),
        min(col(c)).cast(StringType).as("min_str"),
        max(col(c)).cast(StringType).as("max_str"),
        approx_count_distinct(col(c), rsd).as("approx_distinct")
      ).as(s"_s_$c")
    }
    df.agg(perCol.head, perCol.tail: _*)
      .select(explode(array(columns.map(c => col(s"_s_$c")): _*)).as("s"))
      .select("s.*")
  }

  /** Approximate quantiles via the built-in GK sketch (percentile_approx). */
  def quantiles(df: DataFrame, column: String, probs: Seq[Double],
                accuracy: Int = 10000): DataFrame =
    df.agg(percentile_approx(col(column),
      array(probs.map(lit): _*), lit(accuracy)).as("quantiles"))

  /** Quantiles via the custom t-digest `TypedImperativeAggregate` (the sketch
    * the north star names; graft.functions.TDigestQuantileAgg). Mergeable
    * O(compression) state — the partial/final shuffle carries the serialized
    * digest, never values. */
  def tdigestQuantiles(df: DataFrame, column: String, probs: Seq[Double],
                       compression: Double = 100.0): DataFrame =
    df.agg(graft.functions.TDigestQuantiles(col(column), probs, compression)
      .as("quantiles"))

  /** Tukey-fence (IQR) outlier detection on a numeric column: fences at
    * Q1 − k·IQR and Q3 + k·IQR, returning one row with the fences and the
    * outlier counts on each side. The dataset-scope generalization of the
    * reference's `exclusiveMinimum`/`exclusiveMaximum` bounds — the bounds
    * here are LEARNED from the column's own distribution instead of declared.
    *
    * Two passes, like [[histogram]]: a quartile aggregate (2 values to the
    * driver, never rows), then one scan counting fence violations. `exact`
    * uses the exact `percentile` aggregate — memory O(distinct values per
    * partition), the oracle-parity baseline; at web scale pass
    * `exact = false` for the mergeable t-digest (O(compression) state,
    * approximate quartiles). */
  def iqrOutlierBounds(df: DataFrame, column: String, k: Double = 1.5,
                       exact: Boolean = true): DataFrame = {
    val v = col(column).cast(DoubleType)
    val qs =
      if (exact)
        df.agg(expr(s"percentile($column, array(0.25d, 0.75d))").as("q"))
          .head().getSeq[Double](0)
      else
        tdigestQuantiles(df, column, Seq(0.25, 0.75)).head().getSeq[Double](0)
    val q1 = qs(0); val q3 = qs(1)
    val iqr = q3 - q1
    val lo = q1 - k * iqr; val hi = q3 + k * iqr
    df.agg(
      sum(when(v < lo, 1L).otherwise(0L)).as("n_below"),
      sum(when(v > hi, 1L).otherwise(0L)).as("n_above"),
      count(v).as("n"))
      .select(round(lit(q1), 6).as("q1"), round(lit(q3), 6).as("q3"),
        round(lit(lo), 6).as("lo_fence"), round(lit(hi), 6).as("hi_fence"),
        col("n_below"), col("n_above"), col("n"))
  }

  /** Equi-width histogram of a numeric column: `buckets` buckets over the
    * observed [min, max], bucket i covering [lo + i·w, lo + (i+1)·w) with the
    * last bucket right-closed (max lands in bucket buckets-1). Two passes,
    * both O(1) aggregation state per partition: a min/max aggregate (2 values
    * to the driver — never row data), then ONE hash aggregation on the bucket
    * index. Empty buckets are emitted with cnt=0 (driver-built bucket spine,
    * ≤ `buckets` rows) so downstream histogram compares are positional. */
  def histogram(df: DataFrame, column: String, buckets: Int): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1: $buckets")
    val v = col(column).cast(DoubleType)
    val mm = df.agg(min(v).as("lo"), max(v).as("hi")).head()
    if (mm.isNullAt(0))
      return df.sparkSession.emptyDataFrame
        .select(lit(0).as("bucket"), lit(0.0).as("lo_edge"),
          lit(0.0).as("hi_edge"), lit(0L).as("cnt"))
    val lo = mm.getDouble(0); val hi = mm.getDouble(1)
    val w = if (hi > lo) (hi - lo) / buckets else 1.0
    val idx = least(floor((v - lit(lo)) / lit(w)), lit(buckets - 1)).cast(IntegerType)
    val counts = df.filter(v.isNotNull)
      .groupBy(idx.as("bucket")).agg(count(lit(1)).as("cnt"))
    val spine = df.sparkSession.range(buckets).select(col("id").cast(IntegerType).as("bucket"))
    spine.join(counts, Seq("bucket"), "left_outer")
      .na.fill(0L, Seq("cnt"))
      .withColumn("lo_edge", round(lit(lo) + col("bucket") * lit(w), 6))
      .withColumn("hi_edge", round(lit(lo) + (col("bucket") + 1) * lit(w), 6))
      .select("bucket", "lo_edge", "hi_edge", "cnt")
  }

  /** Shannon entropy (bits) of a categorical column's distribution, with the
    * distinct-value count. One hash aggregation to domain-sized counts, then
    * the entropy fold over that tiny frame — raw rows never shuffle. */
  def entropy(df: DataFrame, column: String): DataFrame = {
    val counts = df.filter(col(column).isNotNull)
      .groupBy(col(column)).agg(count(lit(1)).as("_cnt"))
    counts.agg(sum("_cnt").as("_n"), count(lit(1)).as("n_distinct"),
      sum(col("_cnt") * log2(col("_cnt"))).as("_clogc"))
      .select(
        round(log2(col("_n")) - col("_clogc") / col("_n"), 6).as("entropy_bits"),
        col("n_distinct"))
  }

  // --------------------------------------------------------------------- drift

  /** Two-sample Kolmogorov–Smirnov statistic over a (discrete or continuous)
    * column. Each side is first reduced to per-value counts (full shuffle of
    * COUNTS only, domain-sized); the empirical CDFs then come from a
    * DISTRIBUTED two-phase prefix sum — range-partition the distinct values,
    * per-partition running sums (windows partitioned by range-partition id,
    * so no partition ever holds more than ~|domain|/P rows), then add each
    * partition's exclusive offset, computed from the ≤P-row partition-totals
    * table by a triangular self-join. No global single-partition window
    * anywhere, so a continuous column at 100× scale still parallelizes. */
  def ksStatistic(current: DataFrame, baseline: DataFrame, column: String,
                  rangeParts: Int = 64, driverDomainMax: Int = 65536): DataFrame = {
    val spark = current.sparkSession
    val a = current.groupBy(col(column).cast(DoubleType).as("v"))
      .agg(count(lit(1)).as("ca")).withColumn("cb", lit(0L))
    val b = baseline.groupBy(col(column).cast(DoubleType).as("v"))
      .agg(count(lit(1)).as("cb")).withColumn("ca", lit(0L))
    val merged = a.select("v", "ca", "cb").unionByName(b.select("v", "ca", "cb"))
      .groupBy("v").agg(sum("ca").as("ca"), sum("cb").as("cb"))
      // null values carry no position in a value ordering — excluded from
      // both empirical CDFs
      .filter(col("v").isNotNull)
    // The statistic needs TWO consumers of the domain-sized counts table:
    // quantile BOUNDARIES (a driver action) and the prefix-sum job itself.
    // Persist it so both read one materialization — without the cache the
    // raw inputs were scanned and aggregated twice (measured ~2× at sf0.1).
    // The table is |distinct values| rows, spill-safe, and unpersisted
    // before returning; the evaluation is eager (the result is one scalar).
    merged.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // adaptive: the DOMAIN size, not the input size, decides the path. A
      // discrete column (source, lang, token counts) has a bounded domain
      // even at 10^12 rows — for |domain| ≤ driverDomainMax (≤ ~1.5 MB of
      // (v, ca, cb) triples) the exact CDF walk runs on the driver,
      // skipping the quantile action, the windows, and the joins whose
      // plan compilation alone cost multiple seconds per call. The
      // distributed two-phase prefix sum below remains the path for
      // genuinely continuous domains (it parallelizes; this doesn't).
      // ONE probe action decides the route AND supplies the rows (the
      // chiSquaredStatistic pattern) — a separate count() then collect()
      // paid two jobs over the same table.
      val probe = merged.limit(driverDomainMax + 1).collect()
      if (probe.length <= driverDomainMax) {
        val rows = probe.sortBy(_.getDouble(0))
        var na = 0L; var nb = 0L
        rows.foreach { r => na += r.getLong(1); nb += r.getLong(2) }
        var cum_a = 0L; var cum_b = 0L; var best = 0.0
        rows.foreach { r =>
          cum_a += r.getLong(1); cum_b += r.getLong(2)
          if (na > 0 && nb > 0) {
            val d = math.abs(cum_a.toDouble / na - cum_b.toDouble / nb)
            if (d > best) best = d
          }
        }
        val stat: Any = if (na == 0 || nb == 0 || rows.isEmpty) null else best
        return spark.createDataFrame(
          java.util.Arrays.asList(org.apache.spark.sql.Row(stat)),
          StructType(Seq(StructField("ks_stat", DoubleType, nullable = true))))
      }
      // deterministic domain bucketing: the boundaries are baked into a pure
      // bucket-id expression. spark_partition_id after repartitionByRange
      // would only be consistent across the two consumers below if both
      // resolved to ONE reused range exchange — an optimizer property, not a
      // guarantee.
      val qs = (1 until rangeParts).map(_.toDouble / rangeParts).toArray
      val bounds = merged.stat.approxQuantile("v", qs, 0.001).distinct.sorted
      val pid = bounds.foldLeft(lit(0))((acc, bd) => acc + (col("v") > lit(bd)).cast("int"))
      val binned = merged.withColumn("pid", pid)
      val wLocal = Window.partitionBy("pid").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
      val local = binned.select(col("v"), col("pid"),
        sum("ca").over(wLocal).as("la"), sum("cb").over(wLocal).as("lb"))
      val tot = binned.groupBy("pid").agg(sum("ca").as("ta"), sum("cb").as("tb"))
      // exclusive prefix offsets over the ≤P-row totals: triangular self-join
      // (P² ≤ 4096 rows) instead of a global window — keeps the plan free of
      // single-partition stages even in its metadata step.
      val off = tot.as("x").join(tot.as("y"), col("y.pid") < col("x.pid"), "left")
        .groupBy(col("x.pid").as("pid"))
        .agg(coalesce(sum(col("y.ta")), lit(0L)).as("oa"),
             coalesce(sum(col("y.tb")), lit(0L)).as("ob"))
      val grand = tot.agg(sum("ta").as("na"), sum("tb").as("nb"))
      val r = local.join(broadcast(off), Seq("pid"))
        .crossJoin(broadcast(grand))
        .agg(max(abs(
          (col("la") + col("oa")).cast(DoubleType) / col("na").cast(DoubleType) -
          (col("lb") + col("ob")).cast(DoubleType) / col("nb").cast(DoubleType)))
          .as("ks_stat"))
        .collect()(0)
      val stat: Any = if (r.isNullAt(0)) null else r.getDouble(0)
      spark.createDataFrame(
        java.util.Arrays.asList(org.apache.spark.sql.Row(stat)),
        StructType(Seq(StructField("ks_stat", DoubleType, nullable = true))))
    } finally merged.unpersist(blocking = false)
  }

  /** Chi-squared statistic of current category frequencies vs baseline
    * expectations: Σ (o - e)² / e with e scaled to the current total.
    * Categories absent from the baseline contribute with a 0.5 pseudo-count
    * to stay finite. Both sides reduce to |domain| rows before the join. */
  def chiSquaredStatistic(current: DataFrame, baseline: DataFrame, column: String,
                          driverDomainMax: Int = 65536): DataFrame = {
    val spark = current.sparkSession
    val o = current.groupBy(col(column).as("k")).agg(count(lit(1)).as("o"))
    val e = baseline.groupBy(col(column).as("k")).agg(count(lit(1)).as("eRaw"))
    // adaptive like ksStatistic: categories are domain-bounded, so when both
    // count tables fit the driver budget the statistic finishes locally in
    // two collects (vs two extra total-sum jobs + a join whose plans each
    // pay compile time). The distributed join remains for huge domains.
    val oRows = o.limit(driverDomainMax + 1).collect()
    if (oRows.length <= driverDomainMax) {
      val eRows = e.limit(driverDomainMax + 1).collect()
      if (eRows.length <= driverDomainMax) {
        val oMap = oRows.map(r => r.get(0) -> r.getLong(1)).toMap
        val eMap = eRows.map(r => r.get(0) -> r.getLong(1)).toMap
        val totals = oMap.values.sum.toDouble
        val totalE = eMap.values.sum.toDouble
        // deterministic summation order — run-to-run bit stability
        val keys = (oMap.keySet ++ eMap.keySet).toSeq.sortBy(String.valueOf(_))
        val stat = keys.map { k =>
          val ov = oMap.getOrElse(k, 0L).toDouble
          val ev = eMap.get(k).map(_.toDouble).getOrElse(0.5) * (totals / totalE)
          (ov - ev) * (ov - ev) / ev
        }.sum
        return spark.createDataFrame(
          java.util.Arrays.asList(org.apache.spark.sql.Row(stat, keys.size.toLong)),
          StructType(Seq(StructField("chi2_stat", DoubleType, nullable = false),
            StructField("n_categories", LongType, nullable = false))))
      }
    }
    val totals = o.agg(sum("o")).collect()(0).getLong(0).toDouble
    val totalE = e.agg(sum("eRaw")).collect()(0).getLong(0).toDouble
    o.join(e, Seq("k"), "full_outer")
      .select(coalesce(col("o"), lit(0L)).as("o"),
        (coalesce(col("eRaw").cast(DoubleType), lit(0.5)) * lit(totals / totalE)).as("e"))
      .agg(sum(pow(col("o") - col("e"), 2) / col("e")).as("chi2_stat"),
           count(lit(1)).as("n_categories"))
  }

  /** Population Stability Index + Jensen–Shannon divergence of a categorical
    * column vs a baseline snapshot — the standard production data-drift
    * metrics alongside KS/chi² (PSI > 0.25 conventionally = "major shift").
    * Frequencies are floor-smoothed at `eps` (the standard zero-bin guard,
    * keeping both metrics finite when a category exists on one side only):
    *   psi = Σ (p−q)·ln(p/q)
    *   jsd = ½Σ p·ln(2p/(p+m)) + ½Σ q·ln(2q/(p+m))   with m=(p+q)/2… folded
    * as ½Σ[p·ln(2p/(p+q)) + q·ln(2q/(p+q))] (natural log; jsd ∈ [0, ln 2]).
    *
    * Scale shape: both sides aggregate to |domain| rows with map-side combine
    * before the full-outer join; raw rows never shuffle. The whole statistic
    * is a closed-form column expression — engine-portable, so the DuckDB
    * oracle reproduces it (unlike the adaptive driver finish in
    * [[chiSquaredStatistic]], summation here is a tiny |domain|-row agg whose
    * order-sensitivity is below the 6dp compare tolerance). */
  def psiDrift(current: DataFrame, baseline: DataFrame, column: String,
               eps: Double = 1e-6): DataFrame = {
    val o = current.groupBy(col(column).as("k")).agg(count(lit(1)).as("o"))
    val b = baseline.groupBy(col(column).as("k")).agg(count(lit(1)).as("b"))
    // totals ride as a broadcast 1-row cross join instead of two separate
    // driver actions: ONE job end to end (the two count aggregations are
    // identical subtrees, so AQE reuses their exchanges for the total sums —
    // measured ~3× on plan-latency-bound domains)
    val tots = o.agg(sum("o").as("_totO")).crossJoin(b.agg(sum("b").as("_totB")))
    val p = greatest(coalesce(col("o"), lit(0L)).cast(DoubleType) /
      col("_totO").cast(DoubleType), lit(eps))
    val q = greatest(coalesce(col("b"), lit(0L)).cast(DoubleType) /
      col("_totB").cast(DoubleType), lit(eps))
    o.join(b, Seq("k"), "full_outer")
      .crossJoin(broadcast(tots))
      .select(p.as("p"), q.as("q"))
      .agg(sum((col("p") - col("q")) * log(col("p") / col("q"))).as("psi"),
        (sum(col("p") * log(lit(2.0) * col("p") / (col("p") + col("q")))) * 0.5 +
          sum(col("q") * log(lit(2.0) * col("q") / (col("p") + col("q")))) * 0.5).as("jsd"),
        count(lit(1)).as("n_categories"))
  }

  /** Drift LOCALIZATION in time: PSI of a categorical column between every
    * time bucket and its predecessor — "which day did the mix shift", the
    * question a single current-vs-baseline PSI cannot answer. One
    * map-side-combined aggregation reduces the corpus to the
    * |buckets × categories| count grid; the grid is completed (missing
    * combinations count 0), per-bucket shares are eps-smoothed, and the
    * consecutive comparison is a lag window over the bucket-ordered grid —
    * everything after the first aggregation is domain-sized, raw rows never
    * shuffle. Output: one row per bucket past the first
    * `(bucket, psi, n_categories)`, bucket formatted `yyyy-MM-dd...` by
    * `bucket` granularity (date_trunc). */
  def driftSeries(df: DataFrame, tsCol: String, catCol: String,
                  bucket: String = "day", eps: Double = 1e-6): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df
      .select(date_trunc(bucket, col(tsCol)).as("bkt"), col(catCol).as("k"))
      .groupBy("bkt", "k").agg(count(lit(1)).as("c"))
    // complete the grid: every bucket × every category (domain-sized join)
    val buckets = counts.select("bkt").distinct()
    val cats = counts.select("k").distinct()
    val grid = buckets.crossJoin(cats)
      .join(counts, Seq("bkt", "k"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
    val tot = Window.partitionBy("bkt")
    val byCatTime = Window.partitionBy("k").orderBy("bkt")
    val p = greatest(col("c").cast("double") / sum("c").over(tot), lit(eps))
    val scored = grid
      .withColumn("p", p)
      .withColumn("q", lag(col("p"), 1).over(byCatTime))
      .filter(col("q").isNotNull)
    scored.groupBy("bkt")
      .agg(round(sum((col("p") - col("q")) * log(col("p") / col("q"))), 6).as("psi"),
        count(lit(1)).as("n_categories"))
  }

  /** Robust per-group anomaly flags: modified z-score of a group-level metric
    * across groups, using median/MAD (Iglewicz–Hoaglin: mz = 0.6745·(v −
    * median)/MAD, |mz| > 3.5 = anomaly) — median/MAD stay meaningful when the
    * anomaly itself would wreck a mean/stddev baseline. The intended input is
    * a per-partition manifest or grouped aggregate ("which partition's
    * null_rate / row_count / mean is broken"), so `grouped` is |groups|-sized
    * and everything after the first aggregation is tiny.
    *
    * When MAD = 0 (over half the groups share the median value) the z-score
    * is undefined (null); any value ≠ median is then flagged directly.
    *
    * Scale shape: one map-side-combined aggregation to |groups| rows; the
    * median/MAD reduction and the flag projection run over |groups| rows.
    * Raw rows never shuffle. */
  def groupAnomalies(grouped: DataFrame, groupCol: String, valueCol: String,
                     zMax: Double = 3.5): DataFrame = {
    val v = col(valueCol).cast(DoubleType)
    val med = grouped.agg(
      expr(s"percentile($valueCol, 0.5D)").cast(DoubleType).as("_med"))
    val withMed = grouped.crossJoin(broadcast(med))
    val mad = withMed.agg(
      expr("percentile(abs(CAST(" + valueCol + " AS DOUBLE) - _med), 0.5D)")
        .cast(DoubleType).as("_mad"))
    withMed.crossJoin(broadcast(mad))
      .select(col(groupCol), v.as("value"),
        when(col("_mad") > 0.0,
          lit(0.6745) * (v - col("_med")) / col("_mad")).as("mz"),
        when(col("_mad") > 0.0,
          abs(lit(0.6745) * (v - col("_med")) / col("_mad")) > zMax)
          .otherwise(v =!= col("_med")).as("is_anomaly"))
  }

  /** TOKEN-level unigram drift: PSI + JSD of the token-frequency distribution
    * vs a baseline snapshot, over the tokenizer vocabulary as the category
    * domain. This is the drift check that catches what the row-count drifts
    * above cannot: a tokenizer change, an encoding regression, or a topic
    * shift moves token mass long before it moves `n_tok` or `source` counts.
    *
    * Scale shape: the explode feeds straight into a map-side-combined
    * aggregation, so each task reduces its token stream to ≤ |vocab| partial
    * rows before the exchange — the shuffle carries O(tasks × vocab), never
    * O(total tokens), and the token arrays themselves never shuffle. */
  def tokenUnigramDrift(current: DataFrame, baseline: DataFrame,
                        tokensCol: String, eps: Double = 1e-6): DataFrame =
    psiDrift(current.select(explode(col(tokensCol)).as("tok")),
      baseline.select(explode(col(tokensCol)).as("tok")), "tok", eps)

  /** Per-group token unigram drift: one (psi, jsd, n_tokens) row per value of
    * `byCol` present on BOTH sides, comparing the group's token distribution
    * in `current` against the same group in `baseline` — "which source's
    * token mix changed" rather than "did the corpus change".
    *
    * Same closed-form statistic as [[psiDrift]], evaluated grid-wise: both
    * sides reduce to |groups × vocab| count rows (map-side combined), the
    * full-outer join aligns the grids, per-group totals come from one window
    * pass over grid-sized data, and groups empty on either side are excluded
    * (drift vs an empty distribution is undefined — surface those through
    * [[SnapshotDiff]], not a divergence score). */
  def tokenUnigramDriftBy(current: DataFrame, baseline: DataFrame,
                          tokensCol: String, byCol: String,
                          eps: Double = 1e-6): DataFrame = {
    val o = current.select(col(byCol).as("g"), explode(col(tokensCol)).as("tok"))
      .groupBy("g", "tok").agg(count(lit(1)).as("o"))
    val b = baseline.select(col(byCol).as("g"), explode(col(tokensCol)).as("tok"))
      .groupBy("g", "tok").agg(count(lit(1)).as("b"))
    val byG = Window.partitionBy("g")
    val totO = sum(coalesce(col("o"), lit(0L))).over(byG).cast(DoubleType)
    val totB = sum(coalesce(col("b"), lit(0L))).over(byG).cast(DoubleType)
    val p = greatest(coalesce(col("o"), lit(0L)).cast(DoubleType) / col("_totO"), lit(eps))
    val q = greatest(coalesce(col("b"), lit(0L)).cast(DoubleType) / col("_totB"), lit(eps))
    o.join(b, Seq("g", "tok"), "full_outer")
      .withColumn("_totO", totO).withColumn("_totB", totB)
      .filter(col("_totO") > 0 && col("_totB") > 0)
      .select(col("g"), p.as("p"), q.as("q"))
      .groupBy("g")
      .agg(sum((col("p") - col("q")) * log(col("p") / col("q"))).as("psi"),
        (sum(col("p") * log(lit(2.0) * col("p") / (col("p") + col("q")))) * 0.5 +
          sum(col("q") * log(lit(2.0) * col("q") / (col("p") + col("q")))) * 0.5).as("jsd"),
        count(lit(1)).as("n_tokens"))
      .withColumnRenamed("g", byCol)
  }
}

/** Regularized incomplete gamma Q(a,x) for chi-squared p-values — driver-side
  * scalar math (series for x < a+1, continued fraction otherwise). */
object GammaMath {
  private val eps = 1e-14
  private val maxIter = 500

  def logGamma(x: Double): Double = {
    // Lanczos approximation, g=7, n=9
    val c = Array(
      0.99999999999980993, 676.5203681218851, -1259.1392167224028,
      771.32342877765313, -176.61502916214059, 12.507343278686905,
      -0.13857109526572012, 9.9843695780195716e-6, 1.5056327351493116e-7)
    if (x < 0.5) math.log(math.Pi / math.sin(math.Pi * x)) - logGamma(1.0 - x)
    else {
      val z = x - 1.0
      var a = c(0)
      val t = z + 7.5
      var i = 1
      while (i < 9) { a += c(i) / (z + i); i += 1 }
      0.5 * math.log(2 * math.Pi) + (z + 0.5) * math.log(t) - t + math.log(a)
    }
  }

  /** P(a,x): lower regularized incomplete gamma via series. */
  private def gammaPSeries(a: Double, x: Double): Double = {
    var sum = 1.0 / a
    var term = sum
    var n = 1
    while (n < maxIter && math.abs(term) > math.abs(sum) * eps) {
      term *= x / (a + n)
      sum += term
      n += 1
    }
    sum * math.exp(-x + a * math.log(x) - logGamma(a))
  }

  /** Q(a,x): upper regularized incomplete gamma via Lentz continued fraction. */
  private def gammaQContinuedFraction(a: Double, x: Double): Double = {
    var b = x + 1.0 - a
    var c = 1.0 / 1e-300
    var d = 1.0 / b
    var h = d
    var i = 1
    var break = false
    while (i <= maxIter && !break) {
      val an = -i * (i - a)
      b += 2.0
      d = an * d + b; if (math.abs(d) < 1e-300) d = 1e-300
      c = b + an / c; if (math.abs(c) < 1e-300) c = 1e-300
      d = 1.0 / d
      val del = d * c
      h *= del
      if (math.abs(del - 1.0) < eps) break = true
      i += 1
    }
    math.exp(-x + a * math.log(x) - logGamma(a)) * h
  }

  def regularizedGammaQ(a: Double, x: Double): Double =
    if (x <= 0.0) 1.0
    else if (x < a + 1.0) 1.0 - gammaPSeries(a, x)
    else gammaQContinuedFraction(a, x)
}
