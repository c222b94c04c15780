package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ProfilingSpec extends SparkSpec {
  import spark.implicits._

  test("valueHistogram: bins cover [min,max], top edge closes, counts sum") {
    val vals = Seq(0.0, 1.0, 2.5, 4.9, 5.0, 5.0, 10.0).map(Tuple1(_))
      .toDF("v")
    val got = Profiling.valueHistogram(vals, "v", bins = 4)
      .orderBy("bin").collect()
    // width 2.5: [0,2.5) -> {0,1}, [2.5,5) -> {2.5,4.9}, [5,7.5) -> {5,5},
    // [7.5,10] -> {10} (max lands in the LAST bin, not a phantom 5th)
    assert(got.map(r => (r.getLong(0), r.getLong(3))).toSeq ==
      Seq((0L, 2L), (1L, 2L), (2L, 2L), (3L, 1L)))
    assert(got.map(_.getLong(3)).sum == 7L)
    assert(got.head.getDouble(1) == 0.0 && got.last.getDouble(2) == 10.0)
  }

  test("valueHistogram: degenerate min==max collapses to bin 0") {
    val got = Profiling.valueHistogram(
      Seq(3.0, 3.0, 3.0).map(Tuple1(_)).toDF("v"), "v", bins = 10)
      .collect()
    assert(got.length == 1 &&
      got.head.getLong(0) == 0L && got.head.getLong(3) == 3L)
  }

  test("correlation: exact +1/-1 on linear columns, ~0 on designed-orthogonal") {
    // y = 2x (r=1), z = -x (r=-1), w alternates independent of x's
    // mean-crossing pattern
    val rows = (1 to 64).map { i =>
      (i.toDouble, 2.0 * i, -i.toDouble) }
    val df = rows.toDF("x", "y", "z")
    val got = Profiling.correlation(df, Seq("x", "y", "z"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2))
      .toMap
    assert(got(("x", "y")) == 1.0)
    assert(got(("x", "z")) == -1.0)
    assert(got(("y", "z")) == -1.0)
  }

  test("correlation: constant column yields r=0, not NaN") {
    val df = (1 to 10).map(i => (i.toDouble, 5.0)).toDF("x", "c")
    val got = Profiling.correlation(df, Seq("x", "c")).head()
    assert(got.getDouble(2) == 0.0)
  }

  test("correlation is invariant to partition layout") {
    val df = (1 to 100).map(i =>
      (i.toDouble, (i * 7 % 13).toDouble)).toDF("a", "b")
    val r1 = Profiling.correlation(df, Seq("a", "b")).head().getDouble(2)
    val r2 = Profiling.correlation(df.repartition(11), Seq("a", "b"))
      .head().getDouble(2)
    assert(r1 == r2)
  }

  test("madOutliers: fence flags the planted spike, median/MAD exact") {
    // group g: values 1..9 plus one huge spike; 10 values -> median
    // 5.5, devs {0.5..4.5, ~1e6} -> MAD 2.5; fence k=3 -> |v-5.5| > 7.5
    // flags only the spike
    val vals = ((1 to 9).map(v => ("g", v.toDouble)) :+ ("g", 1e6))
      .toDF("grp", "v")
    val got = Profiling.madOutliers(vals, "grp", "v", k = 3.0).head()
    assert(got.getLong(1) == 10L)
    assert(got.getDouble(2) == 5.5, s"median=${got.getDouble(2)}")
    assert(got.getDouble(3) == 2.5, s"mad=${got.getDouble(3)}")
    assert(got.getLong(4) == 1L, "exactly the spike is outside 3*MAD")
    // a 3-sigma rule would have been destroyed by the spike: sigma
    // ~3e5, fence ~1e6 — nothing flagged. MAD flags it.
  }

  test("madOutliers: approx path stays close to exact on a smooth column") {
    val vals = (1 to 2000).map(i => ("g", (i % 97).toDouble)).toDF("grp", "v")
    val exact = Profiling.madOutliers(vals, "grp", "v").head()
    val approx = Profiling.madOutliers(vals, "grp", "v", approx = true)
      .head()
    assert(math.abs(exact.getDouble(2) - approx.getDouble(2)) <= 2.0)
    assert(math.abs(exact.getDouble(3) - approx.getDouble(3)) <= 2.0)
  }

  test("benford: a perfect Benford sample scores chi2 0; uniform " +
    "digits score high; zeros carry no digit") {
    val spark2 = spark
    import spark2.implicits._
    // counts proportional to expected shares (x1e4 rounding exact is
    // impossible; instead verify structure + a hand case)
    // hand case: values 1..9 once each -> uniform digits
    val uni = ((1 to 9).map(_.toDouble) ++ Seq(0.0)).toDF("v")
    val got = Profiling.benford(uni, "v").collect()
    assert(got.length == 9)
    val byD = got.map(r => r.getInt(0) -> r).toMap
    assert(byD(1).getAs[Long]("n_nonzero") == 9L) // the 0.0 excluded
    assert(byD(1).getAs[Long]("n") == 1L)
    assert(byD(1).getAs[Double]("share") == 0.1111)
    // uniform vs Benford: chi2 clearly positive
    assert(byD(1).getAs[Double]("chi2") > 1.0)
    // digit extraction is magnitude-blind: 0.002, 23, 2000 -> digit 2
    val mag = Seq(0.002, 23.0, 2000.0).toDF("v")
    val m = Profiling.benford(mag, "v").collect()
      .map(r => r.getInt(0) -> r.getAs[Long]("n")).toMap
    assert(m(2) == 3L)
  }

  test("benford is layout-independent") {
    val spark2 = spark
    import spark2.implicits._
    val df = (1 until 400).map(i => (i * i * 0.37)).toDF("v")
    val a = Profiling.benford(df, "v").collect().map(_.toSeq).toSeq
    val b = Profiling.benford(df.repartition(7), "v").collect()
      .map(_.toSeq).toSeq
    assert(a == b)
  }

  test("trendTest: monotone series hit ±z and the right label; ties " +
    "zero the variance; Theil–Sen ignores the outlier a mean fit can't") {
    val up = (1 to 5).map(i => ("up", i.toLong, i.toLong))
    val down = (1 to 5).map(i => ("down", i.toLong, (6 - i).toLong))
    val flat = (1 to 5).map(i => ("flat", i.toLong, 7L))
    val spike = Seq(("spike", 1L, 1L), ("spike", 2L, 2L),
      ("spike", 3L, 3L), ("spike", 4L, 4L), ("spike", 5L, 100L))
    val df = (up ++ down ++ flat ++ spike).toDF("series", "t", "x")
    val got = Profiling.trendTest(df, "series", "t", "x")
      .collect().map(r => r.getString(0) -> r).toMap
    // n=5, no ties: var18 = 5·4·15 = 300; z = (10−1)/√(300/18) = 2.2045
    assert(got("up").getAs[Long]("s_stat") == 10L)
    assert(got("up").getAs[Long]("var18") == 300L)
    assert(math.abs(got("up").getAs[Double]("z") - 2.2045) < 1e-9)
    assert(got("up").getAs[String]("trend") == "increasing")
    assert(got("up").getAs[Double]("sen_slope") == 1.0)
    assert(math.abs(got("down").getAs[Double]("z") + 2.2045) < 1e-9)
    assert(got("down").getAs[String]("trend") == "decreasing")
    // all-equal values: S = 0, tie correction wipes var18 out
    assert(got("flat").getAs[Long]("s_stat") == 0L)
    assert(got("flat").getAs[Long]("var18") == 0L)
    assert(got("flat").getAs[String]("trend") == "flat")
    assert(got("flat").getAs[Double]("sen_slope") == 0.0)
    // median of 10 pairwise slopes is 1.0 — the spike moves only the
    // top 4 order statistics, not the median
    assert(got("spike").getAs[Double]("sen_slope") == 1.0)
  }

  test("autocorrelation: alternating series is negative at lag 1, " +
    "positive at lag 2, exact ratios; constant series reports 0") {
    val spark2 = spark
    import spark2.implicits._
    val alt = (1 to 6).map(i => ("alt", i.toLong, (1 + i % 2).toLong))
    val const = (1 to 6).map(i => ("const", i.toLong, 4L))
    val df = (alt ++ const).toDF("series", "t", "x")
    val got = Profiling.autocorrelation(df, "series", "t", "x",
      maxLag = 5).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getAs[Double]("acf"))
      .toMap
    // y = 6x − 9 = ∓3 alternating: r₁ = −45/54, r₂ = 36/54
    assert(math.abs(got(("alt", 1)) + 0.8333) < 1e-9)
    assert(math.abs(got(("alt", 2)) - 0.6667) < 1e-9)
    assert((1 to 5).forall(k => got(("const", k)) == 0.0))
    val n = Profiling.autocorrelation(df.repartition(5), "series",
      "t", "x", maxLag = 5).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getAs[Double]("acf"))
      .toMap
    assert(n == got, "layout-independent")
  }

  test("sourceInfluence: LOO means are exact algebra on group sums, " +
    "influence signs point at the dragging source, hand-checked SE") {
    val rows = (Seq.fill(2)(("a", 1.0)) ++ Seq.fill(2)(("b", 0.5)) ++
      Seq.fill(2)(("c", 0.0))).toDF("src", "p")
    val got = Profiling.sourceInfluence(rows, "src", "p")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got("a").getAs[Double]("mean") == 0.5)
    assert(got("a").getAs[Double]("loo_mean") == 0.25)
    assert(got("a").getAs[Double]("influence") == -0.25)
    assert(got("b").getAs[Double]("influence") == 0.0)
    assert(got("c").getAs[Double]("loo_mean") == 0.75)
    assert(got("c").getAs[Double]("influence") == 0.25)
    // jackknife SE over LOO means {.25,.5,.75}: sqrt(2/27) = 0.288675
    got.values.foreach(r =>
      assert(r.getAs[Double]("jk_se") == 0.288675))
    val re = Profiling.sourceInfluence(rows.repartition(5), "src", "p")
      .collect().map(_.toSeq).toSeq
    assert(re == got.toSeq.sortBy(_._1).map(_._2.toSeq),
      "layout-independent")
  }

  test("changepointTest: step series localizes the shift at the last " +
    "pre-step point; sharp step is significant, constant series is not") {
    val soft = (1 to 5).map(t => ("soft", t.toLong, 1L)) ++
      (6 to 10).map(t => ("soft", t.toLong, 10L))
    val sharp = (1 to 10).map(t => ("sharp", t.toLong, 1L)) ++
      (11 to 20).map(t => ("sharp", t.toLong, 10L))
    val const = (1 to 10).map(t => ("const", t.toLong, 3L))
    val got = Profiling.changepointTest(
      (soft ++ sharp ++ const).toDF("series", "t", "x"),
      "series", "t", "x").collect()
      .map(r => r.getString(0) -> r).toMap
    // V = -(T/2) on the low side: U dips to -25 at t=5 (T=10)
    assert(got("soft").getAs[Long]("k_stat") == 25L)
    assert(got("soft").getAs[Long]("t_hat") == 5L)
    assert(!got("soft").getAs[Boolean]("significant"),
      s"p=${got("soft").getAs[Double]("p_value")}")
    // T=20: K=100, p = 2exp(-60000/8400) ~ 0.0016
    assert(got("sharp").getAs[Long]("k_stat") == 100L)
    assert(got("sharp").getAs[Long]("t_hat") == 10L)
    assert(got("sharp").getAs[Boolean]("significant"))
    assert(got("const").getAs[Long]("k_stat") == 0L)
    assert(got("const").getAs[Double]("p_value") == 1.0)
    assert(!got("const").getAs[Boolean]("significant"))
  }

  test("trimmedMean: histogram-exact trim drops the tails a raw mean " +
    "absorbs; k=0 passes through; bucket-overlap arithmetic is exact") {
    val spark2 = spark
    import spark2.implicits._
    // 18 x 0.5 + 2 x 1.0, 5% trim on n=20 -> k=1: drop one 0.5 and one
    // 1.0 -> (17*.5 + 1.0)/18 = 0.5278 vs raw 0.55
    val g1 = (1 to 18).map(_ => ("g1", 0.5)) ++ Seq(("g1", 1.0), ("g1", 1.0))
    val g2 = Seq(("g2", 0.2), ("g2", 0.4), ("g2", 0.9)) // n=3 -> k=0
    val got = Profiling.trimmedMean((g1 ++ g2).toDF("grp", "p"),
      "grp", "p", trimNum = 1, trimDen = 20).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got("g1").getAs[Long]("k_trim") == 1L)
    assert(got("g1").getAs[Long]("n_kept") == 18L)
    assert(got("g1").getAs[Double]("trimmed_mean") == 0.5278)
    assert(got("g1").getAs[Double]("raw_mean") == 0.55)
    assert(got("g2").getAs[Long]("k_trim") == 0L)
    assert(got("g2").getAs[Double]("trimmed_mean") ==
      got("g2").getAs[Double]("raw_mean"))
    intercept[IllegalArgumentException] {
      Profiling.trimmedMean(g2.toDF("grp", "p"), "grp", "p",
        trimNum = 1, trimDen = 2)
    }
  }

  test("dependenceReport: exact zeros under designed independence, " +
    "chi2=N / V=1 / MI=1 bit under perfect 2x2 dependence") {
    val spark2 = spark
    import spark2.implicits._
    // balanced product distribution: every cell = r*c/N exactly
    val ind = (1 to 100).map(i =>
      (if (i % 2 == 0) "x" else "y", if (i % 4 < 2) "p" else "q"))
      .toDF("a", "b")
    val gi = Profiling.dependenceReport(ind, "a", "b").head()
    assert(gi.getAs[Long]("n") == 100L)
    assert(gi.getAs[Long]("dof") == 1L)
    assert(gi.getAs[Double]("chi2") == 0.0)
    assert(gi.getAs[Double]("cramers_v") == 0.0)
    assert(gi.getAs[Double]("mi_bits") == 0.0)
    // b determined by a: chi2 = N, V = 1, MI = H(b) = 1 bit
    val dep = (1 to 100).map(i =>
      (if (i % 2 == 0) "x" else "y", if (i % 2 == 0) "x" else "y"))
      .toDF("a", "b")
    val gd = Profiling.dependenceReport(dep, "a", "b").head()
    assert(gd.getAs[Double]("chi2") == 100.0)
    assert(gd.getAs[Double]("cramers_v") == 1.0)
    assert(gd.getAs[Double]("mi_bits") == 1.0)
  }

  test("weekdayAnomaly: breakers beyond half the weekday mean flagged " +
    "on exact integer compares, the 50% boundary stays unflagged") {
    // weekday 0 steady (10,10); weekday 1 mild (10,16 -> 23% off);
    // weekday 2 breakers (10,40 -> 60% off both sides);
    // weekday 3 exact boundary (10,30 -> exactly 50% off, strict >)
    val rows = Seq(
      ("e", 0L, 10L), ("e", 7L, 10L), ("e", 1L, 10L), ("e", 8L, 16L),
      ("e", 2L, 10L), ("e", 9L, 40L), ("e", 3L, 10L), ("e", 10L, 30L))
      .toDF("series", "t", "x")
    val got = Profiling.weekdayAnomaly(rows, "series", "t", "x")
      .collect().map(r => r.getLong(1) ->
        ((r.getAs[Double]("expected"), r.getAs[Boolean]("flagged")))).toMap
    assert(got(0L) == ((10.0, false)) && got(7L) == ((10.0, false)))
    assert(got(1L) == ((13.0, false)) && got(8L) == ((13.0, false)))
    assert(got(2L) == ((25.0, true)) && got(9L) == ((25.0, true)))
    assert(got(3L) == ((20.0, false)), "exactly half is NOT a breaker")
    assert(got(10L) == ((20.0, false)))
  }

  test("trendTest/changepointTest: a single-point series has no pairs " +
    "and is omitted rather than fabricated") {
    val df = (Seq(("solo", 1L, 5L)) ++
      (1 to 5).map(i => ("ok", i.toLong, i.toLong))).toDF("series", "t", "x")
    val tt = Profiling.trendTest(df, "series", "t", "x")
      .collect().map(_.getString(0)).toSet
    assert(tt == Set("ok"), "no pairwise evidence, no trend row")
    // Pettitt keeps it: V is defined from one self-join row (sign vs
    // itself = 0), K = 0, p = 1
    val cp = Profiling.changepointTest(df, "series", "t", "x")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(cp("solo").getAs[Long]("k_stat") == 0L)
    assert(cp("solo").getAs[Double]("p_value") == 1.0)
  }

  test("quantile store: any batch split/order equals the one-shot " +
    "histogram; percentiles are exact type-1 order statistics") {
    val spark2 = spark
    import spark2.implicits._
    // group g: values 1..4 (n=4) -> p25=1, p50=2, p75=3 (type-1 lower
    // order statistic: rank ceil(n*p/100))
    val df = (Seq(("g", 0.0001), ("g", 0.0002), ("g", 0.0003),
      ("g", 0.0004)) ++ Seq(("h", 0.5))).toDF("grp", "v")
      .withColumn("id", monotonically_increasing_id())
    def store(splits: Seq[org.apache.spark.sql.DataFrame]): String = {
      val p = tempDir("graft-qs")
        .toString + "/h"
      splits.foreach(b =>
        Profiling.appendValueCounts(spark, p, b, "grp", "v"))
      p
    }
    val oneShot = store(Seq(df))
    val byTwo = store(Seq(df.filter($"id" % 2 === 0),
      df.filter($"id" % 2 === 1)))
    def grid(p: String) = MergeUpsert.readPlain(spark, p).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(grid(oneShot) == grid(byTwo),
      "additive appends must equal the from-scratch histogram")
    val got = Profiling.quantilesFromStore(
      MergeUpsert.readPlain(spark, oneShot)).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(got(("g", 25)) == ((4L, 0.0001)))
    assert(got(("g", 50)) == ((4L, 0.0002)))
    assert(got(("g", 75)) == ((4L, 0.0003)))
    // single-value group: every percentile is that value
    assert(got(("h", 50)) == ((1L, 0.5)))
    // NULLs excluded, p100 = max
    val withNull = Seq(("g", Some(1.0)), ("g", None)).toDF("grp", "v")
    val p2 = tempDir("graft-qs2")
      .toString + "/h"
    Profiling.appendValueCounts(spark, p2, withNull, "grp", "v")
    val m = Profiling.quantilesFromStore(
      MergeUpsert.readPlain(spark, p2), percents = Seq(100)).head()
    assert(m.getLong(2) == 1L && m.getDouble(3) == 1.0)
  }

  test("compactStore: version count drops to 1, probe unchanged, " +
    "re-run drops nothing, next append still merges additively") {
    val spark2 = spark
    import spark2.implicits._
    val p = tempDir("graft-qsc")
      .toString + "/h"
    val df = (1 to 40).map(i => ("g", i * 0.001)).toDF("grp", "v")
      .withColumn("id", monotonically_increasing_id())
    (0 until 3).foreach(k =>
      Profiling.appendValueCounts(spark, p,
        df.filter($"id" % 3 === k), "grp", "v"))
    // three publishes, publish-path retention floor = 2 versions
    assert(MergeUpsert.retainedVersions(spark, p).size == 2)
    val before = Profiling.quantilesFromStore(
      MergeUpsert.readPlain(spark, p)).collect().map(_.toSeq).toSeq
    val dropped = Profiling.compactStore(spark, p)
    assert(dropped == 1 &&
      MergeUpsert.retainedVersions(spark, p).size == 1)
    val after = Profiling.quantilesFromStore(
      MergeUpsert.readPlain(spark, p)).collect().map(_.toSeq).toSeq
    assert(after == before, "compaction must not move a probe result")
    assert(Profiling.compactStore(spark, p) == 0, "idempotent")
    // the store keeps working: one more append merges with the live
    // fold (n rises from 40 to 41 for group g)
    Profiling.appendValueCounts(spark, p,
      Seq(("g", 0.5)).toDF("grp", "v"), "grp", "v")
    val n = Profiling.quantilesFromStore(
      MergeUpsert.readPlain(spark, p), percents = Seq(100)).head()
    assert(n.getLong(2) == 41L && n.getDouble(3) == 0.5)
  }

  test("dependenceReport: a single-level column yields dof 0 and the " +
    "guarded zero Cramer's V, never a division error") {
    val spark2 = spark
    import spark2.implicits._
    val df = (1 to 10).map(i => ("only", if (i % 2 == 0) "p" else "q"))
      .toDF("a", "b")
    val g = Profiling.dependenceReport(df, "a", "b").head()
    assert(g.getAs[Long]("dof") == 0L)
    assert(g.getAs[Double]("chi2") == 0.0)
    assert(g.getAs[Double]("cramers_v") == 0.0)
    assert(g.getAs[Double]("mi_bits") == 0.0)
  }
}
