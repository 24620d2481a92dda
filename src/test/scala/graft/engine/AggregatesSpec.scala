package graft.engine

import graft.SparkSpec
import org.apache.spark.sql.functions._

class AggregatesSpec extends SparkSpec {
  import spark.implicits._

  private lazy val df = Seq(
    ("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 10.0), ("b", 30.0))
    .toDF("k", "v")

  test("freqTable ordering: count desc then key asc") {
    val out = freq()
    assert(out.head == ("a", 3L) && out(1) == ("b", 2L))
  }
  private def freq() =
    Aggregates.freqTable(df, Seq("k")).as[(String, Long)].collect().toSeq

  test("exactPercentiles == Catalyst percentile bit-for-bit across ps, " +
    "including endpoints, duplicates, and a real column") {
    val ps = Seq(0.0, 0.05, 0.25, 0.5, 0.75, 0.95, 1.0)
    def check(data: org.apache.spark.sql.DataFrame, g: String, v: String)
        : Unit = {
      val mine = Aggregates.exactPercentiles(data, g, v, ps)
        .orderBy(g).collect()
      val stockAggs = ps.zipWithIndex.map { case (p, i) =>
        percentile(col(v), lit(p)).as(s"p$i") }
      val stock = data.filter(col(v).isNotNull).groupBy(g)
        .agg(stockAggs.head, stockAggs.tail: _*).orderBy(g).collect()
      assert(mine.length == stock.length)
      mine.zip(stock).foreach { case (a, b) =>
        assert(a.getString(0) == b.getString(0))
        ps.indices.foreach { i =>
          // EXACT double equality — the interpolation arithmetic must
          // mirror Catalyst's or the SQL oracle hash-compare breaks
          assert(a.getDouble(i + 1) == b.getDouble(i + 1),
            s"group=${a.getString(0)} p=${ps(i)}: " +
              s"${a.getDouble(i + 1)} != ${b.getDouble(i + 1)}")
        }
      }
    }
    // hand frame with duplicated values (rank intervals wider than 1)
    check(Seq(("a", 1.0), ("a", 2.0), ("a", 2.0), ("a", 2.0), ("a", 7.0),
      ("b", 10.0), ("b", 30.0), ("c", 5.0)).toDF("k", "v"), "k", "v")
    // real fixture column
    check(graft.engine.Tables.lineitem(spark, sf0001)
      .select("l_returnflag", "l_extendedprice"),
      "l_returnflag", "l_extendedprice")
  }

  test("rankedCdfDistributed == rankedCdf row-for-row (the round-19 " +
    "two-level prefix-sum form of the heavy-CDF scratch build)") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("k", "__v").collect().toSeq
    val tiny = Seq(("a", 1.0), ("a", 1.0), ("a", 3.0), ("b", 2.0),
      ("b", 10.0), ("b", 30.0), ("c", 5.0)).toDF("k", "v")
    assert(rows(Aggregates.rankedCdfDistributed(tiny, "k", "v")) ==
      rows(Aggregates.rankedCdf(tiny, "k", "v")))
    // real fixture column — many distinct values spread over many
    // range partitions, several groups per partition boundary. AQE
    // would coalesce this small input into ONE range partition, which
    // leaves no prefix chain to merge, so coalescing is off here.
    val li = graft.engine.Tables.lineitem(spark, sf0001)
      .select("l_returnflag", "l_extendedprice")
    def rowsLi(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("l_returnflag", "__v").collect().toSeq
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.get(coalesceKey)
    try {
      spark.conf.set(coalesceKey, "false")
      assert(rowsLi(Aggregates.rankedCdfDistributed(li, "l_returnflag",
          "l_extendedprice")) ==
        rowsLi(Aggregates.rankedCdf(li, "l_returnflag",
          "l_extendedprice")))
      // BINARY group keys: the merge over the collected subtotals sees
      // them as Array[Byte] (reference equality), yet each group's
      // partition subtotals must still chain into ONE prefix
      val bin = li.select(col("l_returnflag").cast("binary")
        .as("l_returnflag"), col("l_extendedprice"))
      assert(rowsLi(Aggregates.rankedCdfDistributed(bin, "l_returnflag",
          "l_extendedprice")) ==
        rowsLi(Aggregates.rankedCdf(bin, "l_returnflag",
          "l_extendedprice")))
    } finally spark.conf.set(coalesceKey, prev)
  }

  test("percentilesFromCdf over a parquet-round-tripped rankedCdf is " +
    "bit-identical to exactPercentiles (the shared-scratch contract)") {
    val ps = Seq(0.05, 0.25, 0.5, 0.75, 0.95)
    val data = graft.engine.Tables.lineitem(spark, sf0001)
      .select("l_returnflag", "l_extendedprice")
    val direct = Aggregates.exactPercentiles(
      data, "l_returnflag", "l_extendedprice", ps)
      .orderBy("l_returnflag").collect().toSeq
    val dir = java.nio.file.Files
      .createTempDirectory("graft-cdf-spec").toFile.getAbsolutePath
    Aggregates.rankedCdf(data, "l_returnflag", "l_extendedprice")
      .write.mode("overwrite").parquet(dir)
    val viaScratch = Aggregates.percentilesFromCdf(
      spark.read.parquet(dir), "l_returnflag", ps)
      .orderBy("l_returnflag").collect().toSeq
    assert(direct == viaScratch)
  }

  test("sumExact equals plain sum on 2-decimal data") {
    val got = df.agg(Aggregates.sumExact(col("v"))).as[Double].head()
    assert(got == 46.0)
  }

  test("medianExact interpolates like quantile_cont") {
    val got = df.filter(col("k") === "a")
      .agg(Aggregates.medianExact(col("v"))).as[Double].head()
    assert(got == 2.0)
    val even = Seq(1.0, 2.0, 3.0, 10.0).toDF("v")
      .agg(Aggregates.medianExact(col("v"))).as[Double].head()
    assert(even == 2.5)
  }

  test("stddevExact matches builtin stddev_samp to 1e-9") {
    val (exact, builtin) = df
      .agg(Aggregates.stddevExact(col("v")), stddev_samp(col("v")))
      .as[(Double, Double)].head()
    assert(math.abs(exact - builtin) < 1e-9)
  }

  test("corrExact matches builtin corr to 1e-9") {
    val d2 = Seq((1.0, 2.1), (2.0, 3.9), (3.0, 6.1), (4.0, 8.2))
      .toDF("x", "y")
    val (exact, builtin) = d2
      .agg(Aggregates.corrExact(col("x"), col("y")), corr(col("x"), col("y")))
      .as[(Double, Double)].head()
    assert(math.abs(exact - builtin) < 1e-9)
  }

  test("rollupCounts equals union of hand-computed granularities") {
    val r = Aggregates.rollupCounts(df, Seq("k")).collect()
    // rows: (null, 5) grand total + per-key
    assert(r.length == 3)
    assert(r.head.isNullAt(0) && r.head.getLong(1) == 5L)
  }

  test("pivotCounts fills missing cells with 0") {
    val d = Seq(("a", "x"), ("a", "x"), ("b", "y")).toDF("k", "p")
    val out = Aggregates.pivotCounts(d, "k", "p", Seq("x", "y"))
      .as[(String, Long, Long)].collect().toSeq
    assert(out == Seq(("a", 2L, 0L), ("b", 0L, 1L)))
  }

  test("nullProfile counts nulls + sentinels + empties in one pass") {
    val d = Seq(Some("NULL"), Some(""), Some("ok"), None).toDF("c")
    val n = Aggregates.nullProfile(d, Seq("c"), Seq("NULL"))
      .as[Long].head()
    assert(n == 3L)
  }

  test("approxMedian within epsilon of exact on uniform data") {
    val d = (1 to 1000).map(_.toDouble).toDF("v")
    val approx = Aggregates.approxMedian(d, "v", 0.01)
    assert(math.abs(approx - 500.0) <= 20.0)
  }

  test("dailyPartials → mergePartials is lossless vs direct aggregation " +
    "under any batch split") {
    import java.sql.Timestamp
    val rng = new scala.util.Random(3)
    val rows = (1 to 200).map { i =>
      (Timestamp.valueOf(f"2024-01-${1 + rng.nextInt(28)}%02d 10:00:00"),
        s"t${rng.nextInt(3)}", rng.nextDouble() * 100 - 20)
    }
    val df = rows.toDF("ts", "event_type", "value")
    val merged = Aggregates.mergePartials(
        Aggregates.dailyPartials(df, "ts", "event_type", "value"),
        "event_type")
      .orderBy("event_type").collect().toSeq
    val direct = df.groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(38,6)")).cast("double"), 6)
          .as("sum_v"),
        round(sum(col("value").cast("decimal(38,6)")).cast("double") /
          count(lit(1)), 6).as("avg_v"),
        min(col("value")).as("min_v"), max(col("value")).as("max_v"))
      .orderBy("event_type").collect().toSeq
    assert(merged == direct)
  }

  test("histogram: bin edges by hand, negatives floor toward -inf, " +
    "nulls dropped, empty bins absent") {
    val d = Seq(Some(0.0), Some(4.9), Some(5.0), Some(12.0), Some(-0.1),
      None).toDF("v")
    val out = Aggregates.histogram(d, "v", 5.0)
      .orderBy("bin").as[(Long, Long, Double)].collect().toSeq
    assert(out == Seq((-1L, 1L, -5.0), (0L, 2L, 0.0), (1L, 1L, 5.0),
      (2L, 1L, 10.0)))
  }

  test("winsorizedMean: clipping bounds leverage; hand-checked values") {
    // 1..10 per group: p05 = 1.45, p95 = 9.55; clip → mean of
    // (1.45, 2..9, 9.55) = 55.0/10 → with outlier 1000 replaced by hi
    val d = ((1 to 9).map(v => ("g", v.toDouble)) :+ ("g", 1000.0))
      .toDF("grp", "v")
    // sorted: 1..9, 1000; p05 = v[0.45] = 1.45; p95 = v[8.55] =
    // 9 + 0.55*991 = 554.05 → clipped sum = 1.45+2+..+9+554.05
    val expected = BigDecimal(1.45 + (2 to 9).sum + 554.05) / 10
    val out = Aggregates.winsorizedMean(d, "grp", "v", 0.05, 0.95)
      .as[(String, Double, Long)].collect().head
    assert(math.abs(out._2 - expected.toDouble) < 1e-6)
    assert(out._3 == 10L)
  }

  test("winsorizedMean ignores null values entirely (no clip-to-fence, " +
    "no count inflation)") {
    val d = Seq(("g", Some(1.0)), ("g", Some(2.0)), ("g", Some(3.0)),
      ("g", None)).toDF("grp", "v")
    val out = Aggregates.winsorizedMean(d, "grp", "v", 0.0, 1.0)
      .as[(String, Double, Long)].collect().head
    assert(out == (("g", 2.0, 3L))) // plain mean of 1,2,3; null excluded
  }

  test("olsSlope/Intercept/R2: noise-free line recovered exactly; " +
    "off-line point drops r2 below 1") {
    // y = 2x + 3 exactly → slope 2, intercept 3, r² 1 (all exact in
    // decimal sums: inputs are small integers)
    val line = (1 to 50).map(i => ("g", i.toDouble, 2.0 * i + 3))
      .toDF("grp", "x", "y")
    val fit = line.groupBy("grp").agg(
      Aggregates.olsSlope(col("x"), col("y")).as("b1"),
      Aggregates.olsIntercept(col("x"), col("y")).as("b0"),
      Aggregates.olsR2(col("x"), col("y")).as("r2")).collect()(0)
    assert(fit.getAs[Double]("b1") == 2.0)
    assert(fit.getAs[Double]("b0") == 3.0)
    assert(fit.getAs[Double]("r2") == 1.0)
    // one off-line point: r² strictly below 1, slope perturbed
    val noisy = line.unionByName(Seq(("g", 25.0, 500.0)).toDF("grp", "x", "y"))
    val f2 = noisy.groupBy("grp").agg(
      Aggregates.olsR2(col("x"), col("y")).as("r2")).collect()(0)
    assert(f2.getAs[Double]("r2") < 1.0 && f2.getAs[Double]("r2") > 0.0)
  }

  test("chiSquare: independent table scores 0, disjoint diagonal " +
    "scores the hand value, zero cells counted") {
    val indep = (Seq.fill(10)(("r1", "c1")) ++ Seq.fill(10)(("r1", "c2")) ++
      Seq.fill(10)(("r2", "c1")) ++ Seq.fill(10)(("r2", "c2")))
      .toDF("r", "c")
    val i = Aggregates.chiSquare(indep, "r", "c").collect()(0)
    assert(i.getAs[Double]("chi2") == 0.0)
    assert(i.getAs[Long]("dof") == 1L && i.getAs[Long]("n") == 40L)
    // diagonal-only 2×2: E = 5 per cell → χ² = 4 · (5²/5) = 20; the two
    // zero cells contribute half of that — dropping them would halve it
    val dep = (Seq.fill(10)(("r1", "c1")) ++ Seq.fill(10)(("r2", "c2")))
      .toDF("r", "c")
    val d = Aggregates.chiSquare(dep, "r", "c").collect()(0)
    assert(d.getAs[Double]("chi2") == 20.0)
    assert(d.getAs[Long]("dof") == 1L && d.getAs[Long]("n") == 20L)
  }

  test("welchT: hand t and Welch–Satterthwaite df on a two-group " +
    "fixture") {
    // A = {1,2,3}: n=3, mean 2, var 1; B = {4,6}: n=2, mean 5, var 2
    // t = (2−5)/√(1/3 + 1) = −3√3/2; df = (4/3)²/((1/9)/2 + 1) = 32/19
    val d = Seq(("g", 1.0, true), ("g", 2.0, true), ("g", 3.0, true),
      ("g", 4.0, false), ("g", 6.0, false)).toDF("grp", "v", "a")
    val out = Aggregates.welchT(d, "grp", "v", col("a")).collect()(0)
    assert(out.getAs[Long]("n1") == 3L && out.getAs[Long]("n2") == 2L)
    assert(out.getAs[Double]("t") ==
      BigDecimal(-3 * math.sqrt(3) / 2)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(out.getAs[Double]("df") ==
      BigDecimal(32.0 / 19)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("mannWhitneyU: tied values share an average rank and the tie " +
    "term corrects the variance") {
    // A = {1,2}, B = {2,3}: ranks 1, 2.5, 2.5, 4 → R₁ = 3.5, U₁ = 0.5
    // one tie group of 2 → tsum 6; σ² = (4/12)·(5 − 6/12) = 1.5
    val d = Seq(("g", 1.0, true), ("g", 2.0, true),
      ("g", 2.0, false), ("g", 3.0, false)).toDF("grp", "v", "a")
    val out = Aggregates.mannWhitneyU(d, "grp", "v", col("a"))
      .collect()(0)
    assert(out.getAs[Long]("n1") == 2L && out.getAs[Long]("n2") == 2L)
    assert(out.getAs[Double]("u1") == 0.5)
    assert(out.getAs[Double]("z") ==
      BigDecimal(-1.5 / math.sqrt(1.5))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("spearman: monotone nonlinear maps to 1, ties average (rho = " +
    "3/sqrt(10) on the hand fixture)") {
    val mono = Seq(("g", 1.0, 1.0), ("g", 2.0, 8.0), ("g", 3.0, 27.0),
      ("g", 4.0, 64.0)).toDF("grp", "x", "y")
    assert(Aggregates.spearman(mono, "grp", "x", "y")
      .collect()(0).getAs[Double]("rho") == 1.0)
    // x ranks 1, 2.5, 2.5, 4 vs y ranks 1..4 → 4.5/√(4.5·5) = 3/√10
    val tied = Seq(("g", 1.0, 10.0), ("g", 2.0, 20.0), ("g", 2.0, 30.0),
      ("g", 3.0, 40.0)).toDF("grp", "x", "y")
    assert(Aggregates.spearman(tied, "grp", "x", "y")
      .collect()(0).getAs[Double]("rho") ==
      BigDecimal(3 / math.sqrt(10))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("ksTwoSample: disjoint supports give D = 1, interleaved halves " +
    "give the hand ECDF gap") {
    val disj = Seq(("g", 1.0, true), ("g", 2.0, true),
      ("g", 3.0, false), ("g", 4.0, false)).toDF("grp", "v", "a")
    val d0 = Aggregates.ksTwoSample(disj, "grp", "v", col("a"))
      .collect()(0)
    assert(d0.getAs[Double]("ks_d") == 1.0)
    assert(d0.getAs[Long]("n1") == 2L && d0.getAs[Long]("n2") == 2L)
    // A = {1,3}, B = {2,4}: gaps .5, 0, .5, 0 → D = 0.5
    val inter = Seq(("g", 1.0, true), ("g", 3.0, true),
      ("g", 2.0, false), ("g", 4.0, false)).toDF("grp", "v", "a")
    assert(Aggregates.ksTwoSample(inter, "grp", "v", col("a"))
      .collect()(0).getAs[Double]("ks_d") == 0.5)
  }

  test("gini: uniform values score 0, single-holder concentration " +
    "scores (n-1)/n, hand fixture 0.25") {
    val d = (Seq.fill(4)(4.0).zipWithIndex.map { case (v, i) =>
        ("u", v, i.toLong) } ++
      Seq(("c", 0.0, 0L), ("c", 0.0, 1L), ("c", 0.0, 2L),
        ("c", 10.0, 3L)) ++
      Seq(("g", 1.0, 0L), ("g", 2.0, 1L), ("g", 3.0, 2L),
        ("g", 4.0, 3L))).toDF("grp", "v", "id")
    val out = Aggregates.gini(d, "grp", "v", "id").orderBy("grp")
      .collect()
    assert(out(0).getAs[Double]("gini") == 0.75)  // c: (n-1)/n
    assert(out(1).getAs[Double]("gini") == 0.25)  // g: hand math
    assert(out(2).getAs[Double]("gini") == 0.0)   // u: uniform
  }

  test("weightedQuantiles: heavy tail drags the weighted median; ties " +
    "share one cumulative weight; uniform weights reduce to lower " +
    "quantile") {
    val d = Seq(("g", 1.0, 1.0), ("g", 2.0, 1.0), ("g", 3.0, 1.0),
      ("g", 4.0, 7.0), // W=10: p25→cw≥2.5→3, p50→cw≥5→4
      ("t", 1.0, 2.0), ("t", 1.0, 3.0), ("t", 2.0, 5.0))
      .toDF("grp", "v", "w")
    val out = Aggregates.weightedQuantiles(d, "grp", "v", "w",
        Seq(0.25, 0.5)).orderBy("grp").collect()
    assert(out(0).getAs[Double]("wq0") == 3.0)
    assert(out(0).getAs[Double]("wq1") == 4.0)
    // group t: value 1 carries cw 5 across BOTH tied rows → p50 = 1
    assert(out(1).getAs[Double]("wq1") == 1.0)
    val uni = Seq(("u", 1.0, 1.0), ("u", 2.0, 1.0), ("u", 3.0, 1.0),
      ("u", 4.0, 1.0)).toDF("grp", "v", "w")
    assert(Aggregates.weightedQuantiles(uni, "grp", "v", "w", Seq(0.5))
      .collect()(0).getAs[Double]("wq0") == 2.0)
  }

  test("psi: identical halves score 0, a full-shift scores far above " +
    "the 0.25 alarm rule") {
    val same = (1 to 100).flatMap(v =>
      Seq(("g", v.toDouble, true), ("g", v.toDouble, false)))
      .toDF("grp", "v", "base")
    val s0 = Aggregates.psi(same, "grp", "v", col("base")).collect()(0)
    assert(s0.getAs[Double]("psi") == 0.0)
    assert(s0.getAs[Long]("n_base") == 100L &&
      s0.getAs[Long]("n_cur") == 100L)
    val shifted = ((1 to 100).map(v => ("g", v.toDouble, true)) ++
      (1 to 100).map(v => ("g", v + 200.0, false)))
      .toDF("grp", "v", "base")
    val s1 = Aggregates.psi(shifted, "grp", "v", col("base")).collect()(0)
    // everything lands in the top bin: maximal drift, smoothing finite
    assert(s1.getAs[Double]("psi") > 0.25 &&
      !s1.getAs[Double]("psi").isInfinite)
  }

  test("mutualInformation: independence scores 0, balanced diagonal " +
    "scores ln 2") {
    val indep = (Seq.fill(10)(("r1", "c1")) ++ Seq.fill(10)(("r1", "c2")) ++
      Seq.fill(10)(("r2", "c1")) ++ Seq.fill(10)(("r2", "c2")))
      .toDF("r", "c")
    assert(Aggregates.mutualInformation(indep, "r", "c")
      .collect()(0).getAs[Double]("mi_nats") == 0.0)
    val dep = (Seq.fill(10)(("r1", "c1")) ++ Seq.fill(10)(("r2", "c2")))
      .toDF("r", "c")
    val mi = Aggregates.mutualInformation(dep, "r", "c")
      .collect()(0).getAs[Double]("mi_nats")
    val ln2 = BigDecimal(math.log(2.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(mi == ln2, s"mi=$mi")
  }

  test("madOutliers: hand median/MAD, single far point flagged, " +
    "constant group reports MAD 0 and no outliers") {
    val d = ((1 to 9).map(v => ("g", v.toDouble)) :+ ("g", 1000.0)) ++
      Seq.fill(4)(("k", 7.0))
    val out = Aggregates.madOutliers(d.toDF("grp", "v"), "grp", "v")
      .orderBy("grp").collect()
    val g = out(0)
    // values 1..9,1000 → med 5.5; |v−med| sorted: .5 .5 1.5 1.5 2.5 2.5
    // 3.5 3.5 4.5 994.5 → MAD 2.5; only 1000 exceeds modified-z 3.5
    assert(g.getAs[Double]("med") == 5.5)
    assert(g.getAs[Double]("mad") == 2.5)
    assert(g.getAs[Long]("n_outliers") == 1L)
    val k = out(1)
    assert(k.getAs[Double]("mad") == 0.0 &&
      k.getAs[Long]("n_outliers") == 0L)
  }

  test("iqrOutliers: fences and counts match hand math; rows ON the " +
    "fence are not outliers") {
    // group g: 1..100 plus two plants → 102 values; interpolated
    // q1 = v[25.25] = 25.25, q3 = v[75.75] = 75.75, iqr = 50.5 →
    // fences [-50.5, 151.5]: plant -50.5 sits ON the fence (kept),
    // plant 1000 is outside (the one outlier)
    val d = ((1 to 100).map(v => ("g", v.toDouble)) ++
      Seq(("g", -50.5), ("g", 1000.0), ("h", 5.0)))
      .toDF("grp", "v")
    val out = Aggregates.iqrOutliers(d, "grp", "v")
      .orderBy("grp").collect()
    val g = out(0)
    assert(g.getAs[Double]("q1") == 25.25 && g.getAs[Double]("q3") == 75.75)
    assert(g.getAs[Long]("n") == 102L)
    assert(g.getAs[Long]("n_outliers") == 1L)
    val h = out(1)
    assert(h.getAs[Long]("n_outliers") == 0L) // single-row group: iqr 0
  }

  test("bootstrapCI: interval brackets the mean, is deterministic under " +
    "repartitioning, and tightens with sample size") {
    val small = (1 to 40).map(i => ("g", i.toDouble, i.toLong))
      .toDF("grp", "v", "id")
    val big = (1 to 400).map(i => ("g", i.toDouble, i.toLong))
      .toDF("grp", "v", "id")
    def one(df: org.apache.spark.sql.DataFrame) =
      Aggregates.bootstrapCI(df, "grp", "v", "id").collect().head
    val a = one(big)
    val mean = a.getAs[Double]("mean")
    assert(a.getAs[Long]("n") == 400L && mean == 200.5)
    assert(a.getAs[Double]("ci_lo") < mean && mean < a.getAs[Double]("ci_hi"))
    // deterministic: same rows, different partitioning, identical CI
    assert(one(big.repartition(9)) == a)
    // relative width shrinks roughly like 1/√n (allow slack: 40→400
    // should shrink the width well below 60% of the small-sample width
    // after scaling the means)
    val s = one(small)
    val widthSmall = (s.getAs[Double]("ci_hi") - s.getAs[Double]("ci_lo")) /
      s.getAs[Double]("mean")
    val widthBig = (a.getAs[Double]("ci_hi") - a.getAs[Double]("ci_lo")) /
      mean
    assert(widthBig < widthSmall * 0.6, s"$widthBig vs $widthSmall")
  }

  test("cohenKappa: textbook 2×2 → κ=0.4; perfect → 1; " +
      "single-class degenerate → NULL; nulls excluded from agreement") {
    // 7 yes-yes, 3 yes-no, 3 no-yes, 7 no-no: po=0.7, pe=0.5, κ=0.4
    val rows =
      Seq.fill(7)(("y", "y")) ++ Seq.fill(3)(("y", "n")) ++
        Seq.fill(3)(("n", "y")) ++ Seq.fill(7)(("n", "n"))
    val out = Aggregates.cohenKappa(rows.toDF("a", "b"), "a", "b")
      .as[(Long, Double, Double, Option[Double])].head()
    assert(out == ((20L, 0.7, 0.5, Some(0.4))))
    val perfect = Aggregates.cohenKappa(
      Seq(("x", "x"), ("y", "y"), ("z", "z")).toDF("a", "b"), "a", "b")
      .as[(Long, Double, Double, Option[Double])].head()
    assert(perfect == ((3L, 1.0, 0.333333, Some(1.0))))
    // both raters always say "x": pe = 1 → κ undefined → NULL
    val degen = Aggregates.cohenKappa(
      Seq(("x", "x"), ("x", "x")).toDF("a", "b"), "a", "b")
      .as[(Long, Double, Double, Option[Double])].head()
    assert(degen == ((2L, 1.0, 1.0, None)))
    // a null on either side counts toward n but never agrees
    val withNull = Aggregates.cohenKappa(
      (rows.map { case (a, b) => (Option(a), Option(b)) } :+
        ((None: Option[String]), Some("y"))).toDF("a", "b"), "a", "b")
      .as[(Long, Double, Double, Option[Double])].head()
    assert(withNull._1 == 21L && withNull._2 < 0.7)
  }

  test("cmsSelfJoinSize: collision-free width recovers exact F₂; " +
      "width=1 degenerates to N²; estimate never undercounts") {
    val df = Seq("a", "a", "a", "b", "b", "c").toDF("k")
    val out = Aggregates.cmsSelfJoinSize(df, "k")
      .as[(Long, Long, Long, Long, Double, Boolean)].head()
    // f = (3,2,1): F₂ = 14; at width 8192 collisions are absent
    assert(out == ((6L, 3L, 14L, 14L, 1.0, true)))
    val degenerate = Aggregates.cmsSelfJoinSize(df, "k", width = 1)
      .as[(Long, Long, Long, Long, Double, Boolean)].head()
    // one bucket swallows everything → est = N² = 36, still ≥ exact
    assert(degenerate._4 == 36L && degenerate._6)
    val again = Aggregates.cmsSelfJoinSize(df.repartition(5), "k")
      .as[(Long, Long, Long, Long, Double, Boolean)].head()
    assert(again == out)
  }

  test("cmsJoinSize: collision-free width recovers the exact join " +
      "size; disjoint keys → 0 with NULL ratio; width=1 degenerates " +
      "to |A|·|B|; never undercounts") {
    val a = Seq("x", "x", "y").toDF("k")
    val b = Seq("x", "z", "z").toDF("k")
    val out = Aggregates.cmsJoinSize(a, "k", b, "k")
      .as[(Long, Long, Long, Long, Option[Double], Boolean)].head()
    // only x joins: 2·1 = 2
    assert(out == ((3L, 3L, 2L, 2L, Some(1.0), true)))
    val disjoint = Aggregates.cmsJoinSize(
      Seq("p").toDF("k"), "k", Seq("q").toDF("k"), "k")
      .as[(Long, Long, Long, Long, Option[Double], Boolean)].head()
    assert(disjoint._3 == 0L && disjoint._5.isEmpty && disjoint._6)
    val degenerate = Aggregates.cmsJoinSize(a, "k", b, "k", width = 1)
      .as[(Long, Long, Long, Long, Option[Double], Boolean)].head()
    assert(degenerate._4 == 9L && degenerate._6) // 3·3, still ≥ 2
  }

  test("cdfFromCounts(valueCounts(df)) == rankedCdf(df) bit-for-bit; " +
      "madOutliers and psi counts paths equal their row-level originals " +
      "on the events fixture") {
    val ev = graft.engine.Tables.events(spark, sf0001)
    val flag = to_date(col("ts")) < lit("2024-01-16").cast("date")
    val counts = Aggregates.valueCounts(ev, "event_type", "value", flag)
      .cache()
    def rows(df: org.apache.spark.sql.DataFrame, sort: Seq[String]) =
      df.orderBy(sort.map(col): _*).collect().toSeq
    // the CDF rebuilt from counts is the rankedCdf of the original
    assert(
      rows(Aggregates.cdfFromCounts(counts, "event_type"),
        Seq("event_type", "__v")) ==
      rows(Aggregates.rankedCdf(ev, "event_type", "value"),
        Seq("event_type", "__v")))
    // weighted two-pass MAD == row-level two-pass MAD
    assert(
      rows(Aggregates.madOutliers(ev, "event_type", "value",
        counts = Some(counts)), Seq("event_type")) ==
      rows(Aggregates.madOutliers(ev, "event_type", "value"),
        Seq("event_type")))
    // counts-path PSI == row-level PSI
    assert(
      rows(Aggregates.psi(ev, "event_type", "value", flag,
        valCountsIn = Some(counts)), Seq("event_type")) ==
      rows(Aggregates.psi(ev, "event_type", "value", flag),
        Seq("event_type")))
    counts.unpersist()
    // NULL-bearing case (the fixture has none): both paths drop NULL
    // values identically — so the two paths still agree, and injected
    // NULL rows are complete no-ops vs the null-free original (they
    // must not leak into bin 0 or the n_base/n_cur totals)
    val nulls = ev.limit(7).select(col("event_type"),
      lit(null).cast(ev.schema("value").dataType).as("value"), col("ts"))
    val withNulls = ev.select("event_type", "value", "ts")
      .unionByName(nulls)
    val nullCounts =
      Aggregates.valueCounts(withNulls, "event_type", "value", flag)
    val rowLevel =
      rows(Aggregates.psi(withNulls, "event_type", "value", flag),
        Seq("event_type"))
    assert(rows(Aggregates.psi(withNulls, "event_type", "value", flag,
      valCountsIn = Some(nullCounts)), Seq("event_type")) == rowLevel)
    assert(rows(Aggregates.psi(ev, "event_type", "value", flag),
      Seq("event_type")) == rowLevel)
  }

  test("cmsJoinEstimate: the driver-side planner form returns exactly " +
      "cmsJoinSize's join_est") {
    val a = Seq("x", "x", "y", "w").toDF("k")
    val b = Seq("x", "z", "z", "y").toDF("k")
    val fromFrame = Aggregates.cmsJoinSize(a, "k", b, "k")
      .select("join_est").as[Long].head()
    assert(Aggregates.cmsJoinEstimate(a, "k", b, "k") == fromFrame)
  }

  test("simpsonSlopes: textbook reversal — every stratum trends down, " +
      "the pooled corpus trends up") {
    // g1 at low x, g2 at high x; within each, slope −1; across, +~1.14
    val df = Seq(("g1", 1.0, 9.0), ("g1", 2.0, 8.0),
      ("g2", 8.0, 17.0), ("g2", 9.0, 16.0)).toDF("g", "x", "y")
    val out = Aggregates.simpsonSlopes(df, "g", "x", "y")
      .as[(String, Long, Double, Double, Boolean)].collect().toSeq
    assert(out.map(_._3) == Seq(-1.0, -1.0))
    assert(out.forall(r => r._4 > 1.0 && r._5)) // pooled up, reversed
    // no-paradox control: aligned groups → no reversal
    val ok = Aggregates.simpsonSlopes(
      Seq(("a", 1.0, 1.0), ("a", 2.0, 2.0), ("b", 3.0, 3.0),
        ("b", 4.0, 4.0)).toDF("g", "x", "y"), "g", "x", "y")
      .as[(String, Long, Double, Double, Boolean)].collect().toSeq
    assert(ok.forall(r => r._3 == 1.0 && r._4 == 1.0 && !r._5))
  }

  test("cubeProfile: 2×2 dims → 9 rows, gid bitmask, exact totals, " +
      "subtotal NULL vs data NULL disambiguated") {
    val df = Seq(
      (Some("en"), "web", 10L), (Some("en"), "web", 20L),
      (Some("en"), "pdf", 5L), (Some("fr"), "web", 7L),
      ((None: Option[String]), "pdf", 3L)) // genuine NULL lang
      .toDF("lang", "source", "n_chars")
    val out = Aggregates.cubeProfile(df, Seq("lang", "source"),
      "n_chars").collect().toSeq
    // 3 lang values (incl. NULL) × 2 sources: cells=4, lang subtotals=3,
    // source subtotals=2, grand=1 → 4+3+2+1... cells present: (en,web),
    // (en,pdf),(fr,web),(NULL,pdf) = 4 → total 4+3+2+1 = 10 rows
    assert(out.size == 10)
    val grand = out.find(_.getLong(4) == 3L).get
    assert(grand.getLong(2) == 5L && grand.getLong(3) == 45L)
    // gid=2 rows aggregate lang away → their NULL lang is a subtotal;
    // the gid=0 row with NULL lang is the genuine data NULL
    assert(out.count(_.getLong(4) == 2L) == 2)
    val dataNull = out.filter(r => r.getLong(4) == 0L && r.isNullAt(0))
    assert(dataNull.map(_.getLong(3)) == Seq(3L))
  }

  test("benfordAudit: hand-counted digits, exclusions, χ² positive") {
    val df = Seq(1.0, 1.5, 2.0, 30.0, 0.5, -4.0, 0.0)
      .toDF("amt") // cents: 100,150,200,3000,50 → digits 1,1,2,3,5
    val out = Aggregates.benfordAudit(df, "amt")
      .as[(Int, Long, Double, Double, Double)].collect().toSeq
    assert(out.map(_._1) == (1 to 9))
    val n = out.map(r => r._1 -> r._2).toMap
    assert(n(1) == 2L && n(2) == 1L && n(3) == 1L && n(5) == 1L &&
      n(4) == 0L && n(9) == 0L)
    assert(out.head._4 == 0.3010299956639812) // shared literal
    assert(math.abs(out.map(_._3).sum - 1.0) < 1e-9)
    assert(out.forall(_._5 == out.head._5) && out.head._5 > 0)
  }
}
