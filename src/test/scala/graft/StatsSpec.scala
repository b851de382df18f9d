package graft

import graft.table.TableChecks
import org.apache.spark.sql.functions._

/** Column-profiling operators: equi-width histogram and Shannon entropy. */
class StatsSpec extends SparkSpec {
  import spark.implicits._

  test("histogram: exact counts, empty buckets emitted, max in last bucket") {
    val df = (Seq.fill(5)(0.0) ++ Seq.fill(3)(2.5) ++ Seq(10.0)).toDF("v")
    val h = TableChecks.histogram(df, "v", 4).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
    // lo=0, hi=10, w=2.5: [0,2.5)→5, [2.5,5)→3, [5,7.5)→0, [7.5,10]→1
    assert(h.toSeq == Seq((0, 0.0, 2.5, 5L), (1, 2.5, 5.0, 3L),
      (2, 5.0, 7.5, 0L), (3, 7.5, 10.0, 1L)))
  }

  test("histogram: constant column and all-null column do not crash") {
    val const = TableChecks.histogram(Seq(7, 7, 7).toDF("v"), "v", 3).collect()
    assert(const.map(_.getLong(3)).sum == 3L)
    assert(const.head.getLong(3) == 3L) // all in bucket 0 of width 1.0
    val nulls = TableChecks.histogram(
      Seq[Option[Int]](None, None).toDF("v"), "v", 3)
    assert(nulls.count() == 0)
  }

  test("count_histogram: exact per-group counts across partitions, null one value, sorted") {
    import graft.functions.CountHistogram
    // 8 input partitions force partial buffers through serialize + merge
    val df = Seq[(Int, Option[Double], Option[String])](
      (0, Some(2.0), Some("b")), (0, Some(-0.0), Some("a")), (0, Some(0.0), None),
      (0, Some(Double.NaN), Some("b")), (0, None, None), (0, Some(2.0), Some("\u00e9")),
      (1, Some(1.0), Some("a"))).toDF("g", "v", "k").repartition(8)
    val h = df.groupBy("g").agg(CountHistogram(col("v")).as("hv"), CountHistogram(col("k")).as("hk"))
      .orderBy("g").collect()
    def pairs(r: org.apache.spark.sql.Row, c: String) =
      r.getSeq[org.apache.spark.sql.Row](r.fieldIndex(c)).map(x => (x.get(0), x.getLong(1)))
    // -0.0 groups with 0.0 and NaN sorts last, as in groupBy/orderBy
    assert(pairs(h(0), "hv").map { case (v, n) => (String.valueOf(v), n) } ==
      Seq(("null", 1L), ("0.0", 2L), ("2.0", 2L), ("NaN", 1L)))
    assert(pairs(h(0), "hk") == Seq((null, 2L), ("a", 1L), ("b", 2L), ("\u00e9", 1L)))
    assert(pairs(h(1), "hv") == Seq((1.0, 1L)))
    // weights add up a count column; a null weight skips the row
    val w = Seq(("x", Some(3L)), ("x", Some(4L)), ("y", None)).toDF("k", "n")
      .agg(CountHistogram(col("k"), col("n"))).head()
    assert(w.getSeq[org.apache.spark.sql.Row](0).map(x => (x.getString(0), x.getLong(1))) ==
      Seq(("x", 7L)))
    // other value types are refused at analysis
    intercept[org.apache.spark.sql.AnalysisException] {
      Seq(1, 2).toDF("i").agg(CountHistogram(col("i"))).collect()
    }
  }

  test("fdViolations: multi-valued determinants reported, null dependents are missing not conflicting") {
    val df = Seq(
      ("a", Some("x")), ("a", Some("x")), ("a", Some("y")),  // a → {x,y}: violation
      ("b", Some("x")), ("b", Some("x")),                    // b → {x}: holds
      ("c", Some("x")), ("c", None)                          // c: null dep ignored → holds
    ).toDF("det", "dep")
    val got = TableChecks.fdViolations(df, Seq("det"), "dep").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(("a", 2L, 3L)))
    // composite determinant: (d1,d2) → dep
    val comp = Seq(("a", 1, "x"), ("a", 1, "y"), ("a", 2, "x"))
      .toDF("d1", "d2", "dep")
    val gotC = TableChecks.fdViolations(comp, Seq("d1", "d2"), "dep").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
    assert(gotC == Seq(("a", 1, 2L)))
  }

  test("orderingIntegrity: inversions counted per key in seq order") {
    val df = Seq(
      (1L, 1L, 10L), (1L, 2L, 20L), (1L, 3L, 15L), (1L, 4L, 30L), // one inversion
      (2L, 1L, 5L), (2L, 2L, 5L),                                 // ties are monotone
      (3L, 1L, 9L)                                                // single event
    ).toDF("k", "seq", "ts")
    val got = TableChecks.orderingIntegrity(df, "k", "seq", "ts").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(got == Map(1L -> (4L, 1L, false), 2L -> (2L, 0L, true),
      3L -> (1L, 0L, true)))
  }

  test("trendAnomalies: spike flagged by median/MAD fences, flat series flags any deviation") {
    // key a: stable around 10 with one spike at 100; key b: perfectly flat
    val rows = Seq(
      ("a", 1, 10.0), ("a", 2, 11.0), ("a", 3, 9.0), ("a", 4, 10.0),
      ("a", 5, 100.0), ("a", 6, 12.0), ("a", 7, 10.0),
      ("b", 1, 5.0), ("b", 2, 5.0), ("b", 3, 5.0), ("b", 4, 5.0),
      ("b", 5, 5.000001))
    val got = TableChecks.trendAnomalies(
      rows.toDF("k", "t", "v"), "k", "t", "v").collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getBoolean(5)).toMap
    // a: med=10, mad=median(0,1,1,0,90,2,0)=1 → only |100-10| > 3.5 flags
    assert(got == rows.map { case (k, t, v) =>
      (k, t) -> ((k, t) == ("a", 5) || (k, t) == ("b", 5)) }.toMap)
    // med/mad surfaced for the report
    val a5 = TableChecks.trendAnomalies(rows.toDF("k", "t", "v"), "k", "t", "v")
      .filter($"k" === "a" && $"t" === 5).head()
    assert(a5.getDouble(3) == 10.0 && a5.getDouble(4) == 1.0)
  }

  test("corrDrift: inverted-relationship group flagged, undefined corr flagged") {
    // groups g+ and g- are perfectly anti-correlated with each other; the
    // global corr sits near 0, so both drift. gz has zero variance in x.
    val rows =
      (1 to 50).map(i => ("gpos", i.toDouble, i.toDouble)) ++
      (1 to 50).map(i => ("gneg", i.toDouble, -i.toDouble)) ++
      (1 to 5).map(_ => ("gzero", 1.0, 1.0))
    val got = TableChecks.corrDrift(rows.toDF("g", "x", "y"), "g", "x", "y",
        eps = 0.5).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(5))).toMap
    assert(got("gpos") == (50L, true) && got("gneg") == (50L, true))
    assert(got("gzero") == (5L, true)) // undefined corr can't be shown healthy
    // a group matching the global relationship does not drift
    val homog = (1 to 40).map(i => ("a", i.toDouble, i.toDouble)) ++
      (1 to 40).map(i => ("b", i.toDouble, i.toDouble))
    val h = TableChecks.corrDrift(homog.toDF("g", "x", "y"), "g", "x", "y", 0.5)
      .collect().map(r => r.getString(0) -> r.getBoolean(5)).toMap
    assert(h == Map("a" -> false, "b" -> false))
  }

  test("iqrOutlierBounds: fences and per-side counts on a known distribution") {
    // values 1..100 plus outliers -50 and 300: Q1=25.75, Q3=75.25 over the
    // 102 values? use exactly 1..101 so quartiles are integral: Q1=26, Q3=76
    val df = ((1 to 101).map(_.toDouble) ++ Seq(-500.0, 500.0)).toDF("v")
    val r = TableChecks.iqrOutlierBounds(df, "v").head()
    val q1 = r.getDouble(0); val q3 = r.getDouble(1)
    val lo = r.getDouble(2); val hi = r.getDouble(3)
    assert(lo == q1 - 1.5 * (q3 - q1) && hi == q3 + 1.5 * (q3 - q1))
    assert(r.getLong(4) == 1L && r.getLong(5) == 1L) // one outlier per side
    assert(r.getLong(6) == 103L)
    // t-digest path agrees within sketch tolerance on the fences
    val a = TableChecks.iqrOutlierBounds(df, "v", exact = false).head()
    assert(math.abs(a.getDouble(0) - q1) <= 30.0 &&
      math.abs(a.getDouble(1) - q3) <= 30.0)
  }

  test("entropy: uniform = log2(k), constant = 0, skew in between") {
    val uni = TableChecks.entropy(
      (0 until 64).map(i => s"k${i % 8}").toDF("c"), "c").head()
    assert(math.abs(uni.getDouble(0) - 3.0) < 1e-6 && uni.getLong(1) == 8L)
    val const = TableChecks.entropy(Seq.fill(10)("x").toDF("c"), "c").head()
    assert(const.getDouble(0) == 0.0 && const.getLong(1) == 1L)
    val skew = TableChecks.entropy(
      (Seq.fill(75)("a") ++ Seq.fill(25)("b")).toDF("c"), "c").head()
    assert(math.abs(skew.getDouble(0) - 0.811278) < 1e-6)
  }

  test("groupAnomalies: modified z-score flags the outlier; MAD=0 falls back to inequality") {
    val g = ((1 to 9).map(i => (s"g$i", i.toDouble)) :+ ("gX", 1000.0))
      .toDF("g", "m")
    val r = TableChecks.groupAnomalies(g, "g", "m")
      .collect().map(x => x.getAs[String]("g") -> x).toMap
    // median 5.5, MAD 2.5: mz(gX) = .6745*994.5/2.5 >> 3.5, mz(g1) ~ -1.21
    assert(r("gX").getAs[Boolean]("is_anomaly"))
    assert(math.abs(r("g1").getAs[Double]("mz") - 0.6745 * -4.5 / 2.5) < 1e-9)
    assert((1 to 9).forall(i => !r(s"g$i").getAs[Boolean]("is_anomaly")))

    // constant metric except one group: MAD = 0, direct inequality flags it
    val flat = (Seq.fill(7)(10.0) :+ 99.0).zipWithIndex
      .map { case (v, i) => (s"g$i", v) }.toDF("g", "m")
    val r2 = TableChecks.groupAnomalies(flat, "g", "m")
      .collect().map(x => (x.getAs[String]("g"), x)).toMap
    assert(r2("g7").getAs[Boolean]("is_anomaly") &&
      r2("g7").isNullAt(r2("g7").fieldIndex("mz")))
    assert(!r2("g0").getAs[Boolean]("is_anomaly"))
  }

  test("tokenUnigramDrift: identical distribution ~0, shifted mass > 0") {
    val base = (1 to 100).map(i => (i, Seq(i % 4, i % 4 + 4))).toDF("id", "tokens")
    val same = TableChecks.tokenUnigramDrift(base, base, "tokens").head()
    assert(math.abs(same.getAs[Double]("psi")) < 1e-12)
    assert(math.abs(same.getAs[Double]("jsd")) < 1e-12)
    assert(same.getAs[Long]("n_categories") == 8L)

    // current moves all mass to tokens {0, 4}: large positive psi, jsd > 0
    val cur = (1 to 100).map(i => (i, Seq(0, 4))).toDF("id", "tokens")
    val moved = TableChecks.tokenUnigramDrift(cur, base, "tokens").head()
    assert(moved.getAs[Double]("psi") > 0.5)
    assert(moved.getAs[Double]("jsd") > 0.1)
  }

  test("tokenUnigramDriftBy: only the perturbed group shows drift; one-sided groups excluded") {
    val base = (1 to 200).map { i =>
      (i, if (i % 2 == 0) "a" else "b", Seq(i % 4, i % 4 + 4))
    }.toDF("id", "src", "tokens")
    // group a unchanged; group b collapses to token 0; group c only in current
    val cur = base.filter(col("src") === "a")
      .unionByName(base.filter(col("src") === "b")
        .withColumn("tokens", typedLit(Seq(0, 0))))
      .unionByName(Seq((999, "c", Seq(1, 2))).toDF("id", "src", "tokens"))
    val r = TableChecks.tokenUnigramDriftBy(cur, base, "tokens", "src")
      .collect().map(x => x.getAs[String]("src") -> x).toMap
    assert(!r.contains("c"), "group missing from baseline must be excluded")
    assert(math.abs(r("a").getAs[Double]("psi")) < 1e-12)
    assert(r("b").getAs[Double]("psi") > 0.5)
    assert(r("b").getAs[Double]("jsd") > 0.1)
  }

  test("driftSeries localizes a planted mix shift to its exact day") {
    // days 1-3: uniform a/b mix; day 4: all-b (the shift); day 5: all-b again
    val rows = (1 to 5).flatMap { d =>
      (0 until 100).map { i =>
        val cat = if (d < 4) (if (i % 2 == 0) "a" else "b") else "b"
        (java.sql.Timestamp.valueOf(f"2026-01-0$d%d 12:00:00"), cat)
      }
    }
    val df = rows.toDF("ts", "event_type")
    val series = TableChecks.driftSeries(df, "ts", "event_type", "day")
      .select(date_format(col("bkt"), "yyyy-MM-dd").as("day"), col("psi"))
      .as[(String, Double)].collect().toMap
    assert(series.size == 4) // days 2-5 (each vs predecessor)
    assert(series("2026-01-02") == 0.0 && series("2026-01-03") == 0.0)
    assert(series("2026-01-04") > 1.0, s"shift day psi ${series("2026-01-04")}")
    assert(series("2026-01-05") == 0.0) // new mix is stable again
  }
}
