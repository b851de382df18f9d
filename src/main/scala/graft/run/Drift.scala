package graft.run

import graft.functions.CountHistogram
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-partition drift against a baseline, for [[ValidationPipeline]] and
  * [[IncrementalValidation]]. Each manifest row carries its partition's
  * [[graft.functions.CountHistogram]]s of the drift columns ([[NumHist]]:
  * doubles, [[CatHist]]: strings). The baseline reduces to the same two
  * histograms in one pass and one `collect()` (domain-sized, as a broadcast
  * side would be), and one pure-Scala kernel, applied as a UDF over the
  * partition-count manifest rows, turns each (partition, baseline) pair into
  * `ks_stat`, `chi2_stat`, `psi_stat`, `chi2_categories` and `chi2_p`. */
private[run] object Drift {

  val NumHist = "_drift_num"
  val CatHist = "_drift_cat"

  final case class Chi2(chi2_stat: Double, psi_stat: Double, chi2_categories: Long,
                        chi2_p: Double)

  /** Two-sample Kolmogorov–Smirnov statistic: the largest gap between the
    * two empirical CDFs, stepped at every value of the merged domain from
    * cumulative `Long` counts. Null values carry no position and are not in
    * the maps. None when either side has no value. */
  def ks(cur: Map[Double, Long], base: Map[Double, Long]): Option[Double] = {
    val na = cur.values.sum
    val nb = base.values.sum
    if (na == 0L || nb == 0L) None
    else {
      val domain = (cur.keySet ++ base.keySet).toArray
      java.util.Arrays.sort(domain)
      var ca = 0L; var cb = 0L; var best = 0.0
      domain.foreach { v =>
        ca += cur.getOrElse(v, 0L); cb += base.getOrElse(v, 0L)
        best = math.max(best, math.abs(ca.toDouble / na - cb.toDouble / nb))
      }
      Some(best)
    }
  }

  /** Chi-squared statistic of the observed category counts against the
    * baseline's, scaled to the observed total, its p-value Q(dof/2, stat/2)
    * (regularized upper incomplete gamma, dof = categories − 1, at least 1),
    * and the PSI of the two frequency vectors. A category absent from the baseline enters chi² with
    * a 0.5 pseudo-count; PSI floors both frequencies at 1e-6 (as
    * [[graft.table.TableChecks.psiDrift]]). A null category (None) is one
    * category. Summed in sorted-key order, so the result is deterministic.
    * None when either side is empty. */
  def chi2(cur: Map[Option[String], Long], base: Map[Option[String], Long]): Option[Chi2] = {
    val oTot = cur.values.sum.toDouble
    val eTot = base.values.sum.toDouble
    if (oTot == 0.0 || eTot == 0.0) None
    else {
      val keys = (cur.keySet ++ base.keySet).toSeq.sorted
      var stat = 0.0; var psi = 0.0
      keys.foreach { k =>
        val o = cur.getOrElse(k, 0L).toDouble
        val eRaw = base.getOrElse(k, 0L).toDouble
        val e = (if (eRaw == 0.0) 0.5 else eRaw) * (oTot / eTot)
        stat += (o - e) * (o - e) / e
        val p = math.max(o / oTot, 1e-6)
        val q = math.max(eRaw / eTot, 1e-6)
        psi += (p - q) * math.log(p / q)
      }
      val dof = math.max(1, keys.size - 1)
      Some(Chi2(stat, psi, keys.size.toLong,
        graft.table.GammaMath.regularizedGammaQ(dof / 2.0, stat / 2.0)))
    }
  }

  private def numeric(h: Seq[Row]): Map[Double, Long] =
    h.iterator.filterNot(_.isNullAt(0)).map(r => r.getDouble(0) -> r.getLong(1)).toMap
  private def categorical(h: Seq[Row]): Map[Option[String], Long] =
    h.iterator.map(r => Option(r.getString(0)) -> r.getLong(1)).toMap

  /** Replaces the histogram columns of manifest `m` — [[NumHist]] if
    * `cfg.driftNumCol` is set, [[CatHist]] if `cfg.driftCatCol` is — with the
    * drift metrics against `baseline`: `ks_stat`; `chi2_stat`, `psi_stat`,
    * `chi2_categories` and `chi2_p`. A metric is null where the kernel has
    * no answer (no partition histogram, or an empty side), and the verdict
    * then does not gate on it. Runs one job: the baseline pass. */
  def withMetrics(m: DataFrame, baseline: DataFrame, cfg: PipelineConfig): DataFrame = {
    val (num, cat) = (cfg.driftNumCol, cfg.driftCatCol)
    val aggs: Seq[Column] =
      num.toSeq.map(c => CountHistogram(col(c).cast(DoubleType))) ++
        cat.toSeq.map(c => CountHistogram(col(c).cast(StringType)))
    if (aggs.isEmpty) return m
    val b = baseline.agg(aggs.head, aggs.tail: _*).head()
    var out = m
    num.foreach { _ =>
      val base = numeric(b.getSeq[Row](0))
      val ksOf = udf((h: Seq[Row]) =>
        if (h == null) null else ks(numeric(h), base).map(java.lang.Double.valueOf).orNull)
      out = out.withColumn("ks_stat", ksOf(col(NumHist)))
    }
    cat.foreach { _ =>
      val base = categorical(b.getSeq[Row](aggs.length - 1))
      val chi2Of = udf((h: Seq[Row]) => if (h == null) null else chi2(categorical(h), base).orNull)
      out = Seq("chi2_stat", "psi_stat", "chi2_categories", "chi2_p")
        .foldLeft(out.withColumn("_chi2", chi2Of(col(CatHist))))((d, f) =>
          d.withColumn(f, col(s"_chi2.$f")))
        .drop("_chi2")
    }
    out.drop(NumHist, CatHist)
  }
}
