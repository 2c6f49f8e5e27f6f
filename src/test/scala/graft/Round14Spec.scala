package graft

import org.apache.spark.sql.functions._
import graft.operators.{ConfusionStats, MoodMedian, ItemSimilarity,
  GraphMetrics, Forecast}
import graft.functions.Readability

/** Planted ground truths for the round-14 batch: confusion/MCC,
  * readability, Mood's median, item-item cosine, bounded centrality,
  * and MASE. */
class Round14Spec extends SparkSpec {
  import spark.implicits._

  // ---- confusion matrix + MCC ----

  test("confusion: hand-computed counts and metrics on 8 rows") {
    // pred/label: 3 TP, 1 FP, 3 TN, 1 FN
    val df = Seq(
      (true, true), (true, true), (true, true), (true, false),
      (false, false), (false, false), (false, false), (false, true)
    ).toDF("p", "y")
    val r = ConfusionStats.confusion(df, col("p"), col("y")).collect().head
    assert(r.getAs[Long]("tp") === 3L && r.getAs[Long]("fp") === 1L)
    assert(r.getAs[Long]("tn") === 3L && r.getAs[Long]("fn") === 1L)
    assert(r.getAs[Long]("accuracy_permicro") === 750000L)
    assert(r.getAs[Long]("precision_permicro") === 750000L)
    assert(r.getAs[Long]("recall_permicro") === 750000L)
    assert(r.getAs[Long]("f1_permicro") === 750000L)
    // MCC = (9-1)/sqrt(4*4*4*4) = 8/16 = 0.5; staged isqrt(16)=4 both
    assert(r.getAs[Long]("mcc_permicro") === 500000L)
  }

  test("confusion: perfect classifier scores MCC = 1, degenerate NULL") {
    val perfect = ConfusionStats.confusion(
      Seq((true, true), (false, false)).toDF("p", "y"),
      col("p"), col("y")).collect().head
    assert(perfect.getAs[Long]("mcc_permicro") === 1000000L)
    // all-positive labels: TN+FP margin empty, MCC undefined
    val degen = ConfusionStats.confusion(
      Seq((true, true), (false, true)).toDF("p", "y"),
      col("p"), col("y")).collect().head
    assert(degen.isNullAt(degen.fieldIndex("mcc_permicro")))
  }

  // ---- readability ----

  test("readability: counts and staged scores on a known sentence") {
    val df = Seq((1L, "The cat sat on the mat. It was fat!")).toDF("id", "text")
    val r = Readability.score(df, col("text")).collect().head
    assert(r.getAs[Long]("words") === 9L)
    assert(r.getAs[Long]("sentences") === 2L)
    // vowel groups: e|a|a|o|e|a|i|a|a = 9
    assert(r.getAs[Long]("syllables") === 9L)
    // FRE = 206835000 - (1015000*9) div 2 - (84600000*9) div 9
    val fre = 206835000L - (1015000L * 9) / 2 - (84600000L * 9) / 9
    assert(r.getAs[Long]("fre_permicro") === fre)
    val fk = (390000L * 9) / 2 + (11800000L * 9) / 9 - 15590000L
    assert(r.getAs[Long]("fk_permicro") === fk)
  }

  test("readability: punctuation-free text takes the 1-sentence floor") {
    val df = Seq((1L, "alpha beta gamma")).toDF("id", "text")
    val r = Readability.score(df, col("text")).collect().head
    assert(r.getAs[Long]("sentences") === 1L)
    assert(r.getAs[Long]("words") === 3L)
  }

  // ---- Mood's median ----

  test("mood median: balanced identical groups have zero chi-square") {
    val df = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("a", 4L),
      ("b", 1L), ("b", 2L), ("b", 3L), ("b", 4L)).toDF("g", "v")
    val rows = MoodMedian.moodMedian(df, "g", "v").collect()
    assert(rows.length === 4) // 2 groups x 2 sides
    assert(rows.forall(_.getAs[Long]("grand_median") === 2L))
    assert(rows.forall(_.getAs[Long]("chi2_micros") === 0L))
  }

  test("mood median: complete separation maxes the statistic") {
    val df = Seq(("lo", 1L), ("lo", 2L), ("lo", 3L),
      ("hi", 10L), ("hi", 11L), ("hi", 12L)).toDF("g", "v")
    val rows = MoodMedian.moodMedian(df, "g", "v").collect()
    // grand lower median = 3; lo all <= 3, hi all > 3
    assert(rows.forall(_.getAs[Long]("grand_median") === 3L))
    val chi2 = rows.map(_.getAs[Long]("chi2_micros")).sum
    assert(chi2 === 6000000L) // chi2 = N = 6 on a fully-separated 2x2
  }

  // ---- item-item cosine ----

  test("item cosine: hand-checked 3-item example") {
    // users 1,2 buy {10,20}; user 3 buys {10,30}
    val df = Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L), (3L, 10L),
      (3L, 30L)).toDF("u", "i")
    val rows = ItemSimilarity.cosineTopM(df, "u", "i", m = 10)
      .collect().map(r => (r.getAs[Long]("item_a"), r.getAs[Long]("item_b")) ->
        (r.getAs[Long]("n_users"), r.getAs[Long]("cosine_permicro"))).toMap
    // c(10,20)=2, deg(10)=3, deg(20)=2 -> floor(2e6/sqrt(6)) = 816496
    assert(rows((10L, 20L)) === ((2L, 816496L)))
    // c(20,30)=0: absent pair never emitted
    assert(!rows.contains((20L, 30L)))
    // c(10,30)=1: below MinSupport=2 — singleton pairs carry no
    // collaborative signal and are pruned before scoring
    assert(ItemSimilarity.MinSupport === 2)
    assert(!rows.contains((10L, 30L)))
    // c(20,10): symmetric emission
    assert(rows((20L, 10L)) === ((2L, 816496L)))
  }

  test("item cosine: normalization demotes the popular-but-loose pair") {
    // item 99 co-occurs once with everything (popular), items 1,2 always
    // co-occur; cosine must rank (1,2) above (1,99)
    val df = Seq(
      (1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L),
      (3L, 1L), (3L, 99L), (4L, 2L), (4L, 99L),
      (5L, 99L), (6L, 99L), (7L, 99L)).toDF("u", "i")
    val top = ItemSimilarity.cosineTopM(df, "u", "i", m = 1)
      .filter(col("item_a") === 1L).collect().head
    assert(top.getAs[Long]("item_b") === 2L)
  }

  // ---- bounded harmonic/closeness centrality ----

  test("centrality: path graph P4, depth 3 — exact harmonic sums") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("u", "v")
    val rows = GraphMetrics.harmonicCloseness(edges, maxDepth = 3)
      .collect().map(r => r.getAs[Long]("node") ->
        (r.getAs[Long]("n_reached"), r.getAs[Long]("sum_dist"),
          r.getAs[Long]("harmonic_permicro"),
          r.getAs[Long]("closeness_permicro"))).toMap
    // node 1: d(2)=1,d(3)=2,d(4)=3 -> harmonic 1e6+5e5+333333
    assert(rows(1L) === ((3L, 6L, 1833333L, 500000L)))
    // node 2: d(1)=1,d(3)=1,d(4)=2 -> 2.5e6; closeness 3e6/4
    assert(rows(2L) === ((3L, 4L, 2500000L, 750000L)))
    assert(rows(3L) === rows(2L))
    assert(rows(4L) === rows(1L))
  }

  test("centrality: depth bound excludes farther nodes") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("u", "v")
    val rows = GraphMetrics.harmonicCloseness(edges, maxDepth = 1)
      .collect().map(r => r.getAs[Long]("node") ->
        r.getAs[Long]("n_reached")).toMap
    assert(rows(1L) === 1L && rows(2L) === 2L)
  }

  // ---- MASE ----

  test("MASE: seasonal pattern beats naive -> MASE < 1; hand values") {
    // 14 days, weekly pattern 10,20,...: seasonal-naive error 0 on week 2
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val rows = (0 until 14).map { d =>
      val cents = if (d % 7 < 3) 10.0 else 20.0
      ("k", new java.sql.Timestamp(ts0.getTime + d * 86400000L), cents)
    }
    val df = rows.toDF("k", "ts", "value")
    val r = Forecast.maseSeasonalNaive(df, "k", "ts", "value", season = 7)
      .collect().head
    assert(r.getAs[Long]("n_model") === 7L)
    assert(r.getAs[Long]("sae_model") === 0L)
    assert(r.getAs[Long]("n_naive") === 13L)
    assert(r.getAs[Long]("sae_naive") > 0L)
    assert(r.getAs[Long]("mase_permicro") === 0L)
  }

  test("MASE: constant series has undefined (NULL) MASE") {
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val df = (0 until 14).map { d =>
      ("k", new java.sql.Timestamp(ts0.getTime + d * 86400000L), 5.0)
    }.toDF("k", "ts", "value")
    val r = Forecast.maseSeasonalNaive(df, "k", "ts", "value", season = 7)
      .collect().head
    assert(r.isNullAt(r.fieldIndex("mase_permicro")))
  }

  // ---- Ansari-Bradley ----

  test("ansari-bradley: tails vs middle, no ties — hand scores") {
    // pooled 1,2,3,4: scores 1,2,2,1; X={1,4} tails, Y={2,3} middle
    val df = Seq((1L, "x"), (4L, "x"), (2L, "y"), (3L, "y")).toDF("v", "g")
    val rows = operators.AnsariBradley.abStats(df, "v", "g", "x", "y")
      .collect().map(r => r.getAs[String]("grp") ->
        (r.getAs[Long]("n_obs"), r.getAs[String]("ab_micro"),
          r.getAs[String]("exp_micro"))).toMap
    assert(rows("x") === ((2L, "2000000", "3000000")))
    assert(rows("y") === ((2L, "4000000", "3000000")))
  }

  test("ansari-bradley: fold-straddling tie block uses exact score MASS") {
    // all three tied: positions 1,2,3 have scores 1,2,1 -> mass 4, each
    // member 4/3; the midrank shortcut would hand every member s(2)=2
    val df = Seq((7L, "x"), (7L, "y"), (7L, "y")).toDF("v", "g")
    val rows = operators.AnsariBradley.abStats(df, "v", "g", "x", "y")
      .collect().map(r => r.getAs[String]("grp") ->
        r.getAs[String]("ab_micro")).toMap
    assert(rows("x") === "1333333") // (1e6*1*4) div 3
    assert(rows("y") === "2666666") // (1e6*2*4) div 3
  }

  test("ansari-bradley: identical groups score equal AB = expectation") {
    val df = Seq((1L, "x"), (2L, "x"), (3L, "x"),
      (1L, "y"), (2L, "y"), (3L, "y")).toDF("v", "g")
    val rows = operators.AnsariBradley.abStats(df, "v", "g", "x", "y")
      .collect()
    rows.foreach { r =>
      assert(r.getAs[String]("ab_micro") === r.getAs[String]("exp_micro"))
    }
  }

  // ---- seasonal-residual anomalies ----

  test("esd anomalies: flag recomputes from its own med/mad columns") {
    val rows = operators.SeasonalDecompose.residualAnomalies(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val dev = math.abs(r.getAs[Long]("residual_permicro")
        - r.getAs[Long]("med"))
      assert(r.getAs[Boolean]("is_anomaly")
        === (10000L * dev > 44478L * r.getAs[Long]("mad")))
    }
    // med really is a lower median of the per-group residuals
    val byG = rows.groupBy(_.getAs[String]("event_type"))
    byG.foreach { case (_, rs) =>
      val res = rs.map(_.getAs[Long]("residual_permicro")).sorted
      val med = rs.head.getAs[Long]("med")
      val below = res.count(_ <= med)
      assert(2 * below >= res.length)
      assert(2 * res.count(_ < med) < res.length)
    }
  }

  // ---- lasso coordinate-descent sweep ----

  test("lasso: c=0 reproduces the unpenalized first CD step exactly") {
    // y = 10 + 2*x1 on x1=1..4: b0 = mean(y) = 15, z1 = 1e7, s11 = 30
    val df = Seq((12L, 1L, 0L), (14L, 2L, 0L), (16L, 3L, 0L), (18L, 4L, 0L))
      .toDF("y", "x1", "x2")
    val r = ml.LassoStep.lassoSweep(df, col("y"), col("x1"), col("x2"),
      Seq(0L)).collect().head
    assert(r.getAs[Long]("b0_micros") === 15000000L)
    assert(r.getAs[Long]("b1_micros") === 333333L) // 1e7 div 30
    assert(r.getAs[Long]("b2_micros") === 0L)      // x2 constant-0
    assert(r.getAs[Long]("nnz") === 1L)
  }

  test("lasso: the soft threshold zeroes the coordinate at large c") {
    val df = Seq((12L, 1L, 0L), (14L, 2L, 0L), (16L, 3L, 0L), (18L, 4L, 0L))
      .toDF("y", "x1", "x2")
    // |z1| = 1e7; thr = 1e6*c*4 -> c=3 gives 1.2e7 > 1e7
    val rows = ml.LassoStep.lassoSweep(df, col("y"), col("x1"), col("x2"),
      Seq(2L, 3L)).collect()
      .map(r => r.getAs[Long]("lambda_per_row") ->
        (r.getAs[Long]("b1_micros"), r.getAs[Long]("nnz"))).toMap
    assert(rows(2L)._1 === 66666L) // (1e7 - 8e6) div 30
    assert(rows(3L) === ((0L, 0L)))
  }

  test("lasso: gated path has non-increasing support along the path") {
    val rows = ml.LassoStep.lassoLineitem(spark, sfDir)
      .orderBy("lambda_per_row").collect()
    val nnz = rows.map(_.getAs[Long]("nnz"))
    assert(nnz.zip(nnz.tail).forall { case (a, b) => a >= b })
  }

  // ---- Cochran's Q ----

  test("cochran Q: hand-computed 3x2 binary grid") {
    // a fires in blocks 1,2,3; b only in block 1:
    // G=(3,1) S=4 L=(2,1,1): Q = 1*(2*10-16)/(2*4-6) = 2
    val df = Seq((1L, "a"), (2L, "a"), (3L, "a"), (1L, "b")).toDF("b", "i")
    val r = operators.Reliability.cochranQ(df, "b", "i").collect().head
    assert(r.getAs[Long]("n_blocks") === 3L)
    assert(r.getAs[Long]("k_items") === 2L)
    assert(r.getAs[Long]("s_total") === 4L)
    assert(r.getAs[Long]("q_permicro") === 2000000L)
  }

  test("cochran Q: identical firing patterns give Q = 0") {
    val df = Seq((1L, "a"), (1L, "b"), (2L, "a"), (2L, "b"), (3L, "a"))
      .toDF("b", "i")
    // block 3 fires only a -> G=(3,2) S=5 L=(2,2,1) ll=9, denom=1,
    // num = 1*(2*13-25) = 1 -> Q = 1e6; now make patterns identical:
    val same = Seq((1L, "a"), (1L, "b"), (2L, "a"), (2L, "b")).toDF("b", "i")
    val r = operators.Reliability.cochranQ(same, "b", "i").collect().head
    // kS - ll = 2*4 - (4+4) = 0 -> undefined -> NULL
    assert(r.isNullAt(r.fieldIndex("q_permicro")))
    val r2 = operators.Reliability.cochranQ(df, "b", "i").collect().head
    assert(r2.getAs[Long]("q_permicro") === 1000000L)
  }

  // ---- Cronbach's alpha ----

  test("cronbach: perfectly parallel items score alpha = 1") {
    val df = Seq((1L, "a", 3L), (1L, "b", 3L), (2L, "a", 7L), (2L, "b", 7L),
      (3L, "a", 5L), (3L, "b", 5L)).toDF("b", "i", "x")
    val r = operators.Reliability.cronbachAlpha(df, "b", "i", "x")
      .collect().head
    assert(r.getAs[Long]("alpha_permicro") === 1000000L)
  }

  test("cronbach: hand-computed negative alpha") {
    // a=(2,0), b=(0,1): SS_T = 1, SS_a+SS_b = 5 -> alpha = 2*(1-5)/1 = -8
    val df = Seq((1L, "a", 2L), (2L, "b", 1L)).toDF("b", "i", "x")
    val r = operators.Reliability.cronbachAlpha(df, "b", "i", "x")
      .collect().head
    assert(r.getAs[String]("ss_total") === "1")
    assert(r.getAs[String]("ss_items_sum") === "5")
    assert(r.getAs[Long]("alpha_permicro") === -8000000L)
  }

  // ---- Croston intermittent demand ----

  test("croston: hand-computed dyadic SES over two demand events") {
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def t(d: Int) = new java.sql.Timestamp(ts0.getTime + d * 86400000L)
    // demands on days 0, 2, 6: intervals (2, 4), sizes (2.00, 4.00)
    val df = Seq(("k", t(0), 1.0), ("k", t(2), 2.0), ("k", t(6), 4.0))
      .toDF("k", "ts", "value")
    val r = operators.Croston.croston(df, "k", "ts", "value")
      .collect().head
    assert(r.getAs[Long]("n_points") === 2L)
    assert(r.getAs[String]("s_demand") === "600")   // 200*1 + 400*1
    assert(r.getAs[String]("s_interval") === "6")   // 2*1 + 4*1
    // level = 600/2 = 300 cents; forecast = 600/6 = 100 cents/day
    assert(r.getAs[String]("demand_level_micro") === "300000000")
    assert(r.getAs[String]("croston_micro") === "100000000")
  }

  test("croston: alpha=1/2 halves the weight per step back") {
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def t(d: Int) = new java.sql.Timestamp(ts0.getTime + d * 86400000L)
    // events at days 0,1,3,7: kept sizes (c2,c3,c4) = (100,200,800)
    // s3 = (c2 + c3 + 2*c4)/4 = (100+200+1600)/4 = 475
    val df = Seq(("k", t(0), 9.0), ("k", t(1), 1.0), ("k", t(3), 2.0),
      ("k", t(7), 8.0)).toDF("k", "ts", "value")
    val r = operators.Croston.croston(df, "k", "ts", "value")
      .collect().head
    assert(r.getAs[Long]("n_points") === 3L)
    assert(r.getAs[String]("s_demand") === "1900")
    assert(r.getAs[String]("demand_level_micro") === "475000000")
  }

  test("croston: a single demand event has no interval and is dropped") {
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val df = Seq(("k", ts0, 5.0)).toDF("k", "ts", "value")
    assert(operators.Croston.croston(df, "k", "ts", "value").count() === 0L)
  }

  // ---- partial correlation ----

  test("partial corr: y = x + z makes x fully explanatory given z") {
    val df = Seq((1L, 1L, 0L), (2L, 2L, 0L), (1L, 2L, 1L), (2L, 3L, 1L))
      .toDF("x", "y", "z")
    val r = operators.PartialCorr.partialCorr(df, col("x"), col("y"),
      col("z")).collect().head
    assert(r.getAs[Long]("r_xz_micros") === 0L)
    assert(math.abs(r.getAs[Long]("partial_xy_z_micros") - 1000000L) <= 1L)
    // the RAW x-y correlation is much weaker than the partial
    assert(r.getAs[Long]("r_xy_micros") < 750000L)
  }

  test("partial corr: x = z degenerates the denominator to NULL") {
    val df = Seq((1L, 5L, 1L), (2L, 7L, 2L), (3L, 6L, 3L)).toDF("x", "y", "z")
    val r = operators.PartialCorr.partialCorr(df, col("x"), col("y"),
      col("z")).collect().head
    assert(r.getAs[Long]("r_xz_micros") === 1000000L)
    assert(r.isNullAt(r.fieldIndex("partial_xy_z_micros")))
  }

  // ---- RANSAC ----

  test("ransac: consensus recovers the planted line under heavy outliers") {
    // 40 points on y = 2x, 10 wild outliers; any 2 inlier sample
    // cells define the true line, so some hypothesis scores >= 40
    val inliers = (1 to 40).map(i => (i.toLong, 2L * i))
    val outliers = (1 to 10).map(i => (i.toLong, 100000L + i * 917))
    val df = (inliers ++ outliers).toDF("x", "y")
    val r = ml.Ransac.ransacLine(df, "x", "y", tol = 0L)
      .collect().head
    assert(r.getAs[Long]("n_inliers") >= 40L)
    assert(r.getAs[Long]("slope_micros") === 2000000L)
    assert(r.getAs[Long]("intercept_micros") === 0L)
    assert(r.getAs[Long]("n_total") === 50L)
  }

  test("ransac: duplicate rows add consensus MASS, not new cells") {
    // the same inlier point repeated 10x must count 10 in n_inliers
    val df = (Seq.fill(10)((1L, 2L)) ++ Seq((2L, 4L), (3L, 6L)))
      .toDF("x", "y")
    val r = ml.Ransac.ransacLine(df, "x", "y", tol = 0L).collect().head
    assert(r.getAs[Long]("n_total") === 12L)
    assert(r.getAs[Long]("n_inliers") === 12L)
    assert(r.getAs[Long]("slope_micros") === 2000000L)
  }

  test("ransac: all-vertical data leaves no valid hypothesis") {
    val df = (1 to 10).map(i => (5L, i.toLong)).toDF("x", "y")
    assert(ml.Ransac.ransacLine(df, "x", "y", tol = 1L).count() === 0L)
  }

  test("ransac: empty input returns zero rows") {
    val df = Seq.empty[(Long, Long)].toDF("x", "y")
    assert(ml.Ransac.ransacLine(df, "x", "y", tol = 1L).count() === 0L)
  }

  // ---- Page's L ----

  test("page L: perfect agreement with the hypothesized order maxes L") {
    // 3 blocks, 3 treatments, values strictly increasing in the order
    val df = for (b <- Seq(1L, 2L, 3L); (t, v) <- Seq(("a", 1L), ("b", 2L),
      ("c", 3L))) yield (b, t, v + b * 10)
    val r = operators.TrendTests.pageL(df.toDF("blk", "t", "v"),
      "blk", "t", "v", Seq("a", "b", "c")).collect().head
    // ranks per block: a=1,b=2,c=3 (doubled 2,4,6); L2 = 3*(1*2+2*4+3*6)
    assert(r.getAs[Long]("l2_stat") === 84L)
    // E[2L] = n*k*(k+1)^2/2 = 3*3*16/2 = 72 < 84
    assert(r.getAs[Long]("e2_null") === 72L)
  }

  test("page L: reversed order lands symmetrically below the null") {
    val df = for (b <- Seq(1L, 2L); (t, v) <- Seq(("a", 3L), ("b", 2L),
      ("c", 1L))) yield (b, t, v)
    val r = operators.TrendTests.pageL(df.toDF("blk", "t", "v"),
      "blk", "t", "v", Seq("a", "b", "c")).collect().head
    // L2 = 2*(1*6+2*4+3*2) = 40; null = 2*3*16/2 = 48; 48-40 = 84-72... 8
    assert(r.getAs[Long]("l2_stat") === 40L)
    assert(r.getAs[Long]("e2_null") === 48L)
  }

  // ---- Theil's U2 ----

  test("theil U2: perfect seasonal model scores 0; constant series NULL") {
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val rows = (0 until 14).map { d =>
      val v = if (d % 7 < 3) 10.0 else 20.0
      ("k", new java.sql.Timestamp(ts0.getTime + d * 86400000L), v)
    }
    val r = operators.Forecast.theilU2(rows.toDF("k", "ts", "value"),
      "k", "ts", "value", season = 7).collect().head
    assert(r.getAs[String]("sse_model") === "0")
    assert(r.getAs[Long]("theil_u2_micros") === 0L)
    val const = (0 until 14).map { d =>
      ("k", new java.sql.Timestamp(ts0.getTime + d * 86400000L), 5.0)
    }
    val r2 = operators.Forecast.theilU2(const.toDF("k", "ts", "value"),
      "k", "ts", "value", season = 7).collect().head
    assert(r2.isNullAt(r2.fieldIndex("theil_u2_micros")))
  }

  // ---- BY vs BH ----

  test("BY rejections are a subset of BH's on the same p-values") {
    val bh = operators.PermutationTest.bhEvents(spark, sfDir).collect()
      .map(r => r.getAs[String]("g") -> r.getAs[Boolean]("rejected")).toMap
    val by = operators.PermutationTest.byEvents(spark, sfDir).collect()
    by.foreach { r =>
      if (r.getAs[Boolean]("rejected")) assert(bh(r.getAs[String]("g")))
      // c(m) for m=5 quantized at micros: 1e6+5e5+333333+25e4+2e5
      assert(r.getAs[Long]("c_micro") === 2283333L)
    }
  }

  // ---- HHI ----

  test("hhi: monopoly = 1.0, duopoly = 0.5 with effective number 2") {
    val df = Seq(("m", "a", 100L), ("d", "a", 50L), ("d", "b", 50L))
      .toDF("g", "e", "x")
    val rows = operators.Concentration.hhi(df, "g", "e", "x").collect()
      .map(r => r.getAs[String]("grp") ->
        (r.getAs[Long]("hhi_permicro"), r.getAs[Long]("eff_n_permicro"))).toMap
    assert(rows("m") === ((1000000L, 1000000L)))
    assert(rows("d") === ((500000L, 2000000L)))
  }

  test("hhi: three equal entities carry the declared ppm truncation") {
    val df = Seq(("g", "a", 1L), ("g", "b", 1L), ("g", "c", 1L))
      .toDF("g", "e", "x")
    val r = operators.Concentration.hhi(df, "g", "e", "x").collect().head
    // s = 333333 each; ss = 3*333333^2 = 333332666667
    assert(r.getAs[Long]("hhi_permicro") === 333332L)
    assert(r.getAs[Long]("eff_n_permicro") === 3000006L)
  }

  // ---- Louvain move step ----

  test("louvain step: hub-leaf star merges leaves into the hub") {
    // star K1,3: m=3; leaf->hub gain = 2*3 - 1*3 = 3 > 0;
    // hub->leaf gain = 6 - 3*1 = 3 > 0 (ties broken by smallest nbr)
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("u", "v")
    val rows = GraphMetrics.louvainMoveStep(edges).collect()
      .map(r => r.getAs[Long]("node") ->
        (r.getAs[Long]("best_gain2m2"), r.getAs[Long]("new_community"))).toMap
    assert(rows(2L) === ((3L, 1L)))
    assert(rows(3L) === ((3L, 1L)))
    assert(rows(4L) === ((3L, 1L)))
    assert(rows(1L) === ((3L, 2L))) // hub's best tie -> smallest leaf
  }

  test("louvain step: negative best gain keeps the node singleton") {
    // two high-degree nodes joined by every edge: complete K4, m=6;
    // gain = 12 - 3*3 = 3 > 0 everywhere; contrast with two hubs
    // bridged once among many leaves: gain(1<->2) = 2m - k1*k2 < 0
    val edges = (Seq((1L, 2L)) ++ (3 to 8).map(i => (1L, i.toLong))
      ++ (9 to 14).map(i => (2L, i.toLong))).toDF("u", "v")
    // m = 13, deg(1) = deg(2) = 7: gain(1->2) = 26 - 49 = -23
    val r = GraphMetrics.louvainMoveStep(edges).collect()
      .map(r => r.getAs[Long]("node") ->
        (r.getAs[Long]("best_gain2m2"), r.getAs[Long]("new_community"))).toMap
    // node 1's best is a LEAF (gain 26-7=19), not the hub
    assert(r(1L)._1 === 19L && r(1L)._2 >= 3L)
    // a leaf of hub 1 has only the hub: gain 26-7 = 19 -> joins hub
    assert(r(3L) === ((19L, 1L)))
  }

  // ---- restricted mean survival time ----

  test("rmst: full survival = tau; immediate events = 0; half = step") {
    def run(subjects: Seq[(Int, Boolean)]) =
      operators.Survival.rmst(
        operators.Survival.kaplanMeier(subjects.toDF("dur", "ev"),
          "dur", "ev"), tauDays = 30)
        .collect().head.getAs[Long]("rmst_micro_days")
    // everyone censored beyond tau: S = 1 on [0, 30] -> 30 micro-days
    assert(run(Seq((40, false), (40, false), (40, false))) === 30000000L)
    // everyone converts at 0: S = 0 immediately
    assert(run(Seq((0, true), (0, true))) === 0L)
    // half convert at day 10: 1.0*10 + 0.5*20 = 20
    assert(run(Seq((10, true), (10, true), (40, false), (40, false)))
      === 20000000L)
  }

  // ---- gated instances stay sane at sf0.001 ----

  test("gated instances: non-empty and internally consistent") {
    val conf = ConfusionStats.confusionEvents(spark, sfDir).collect().head
    assert(conf.getAs[Long]("n") ===
      conf.getAs[Long]("tp") + conf.getAs[Long]("fp")
        + conf.getAs[Long]("tn") + conf.getAs[Long]("fn"))
    val cent = GraphMetrics.centralityCoSupply(spark, sfDir)
    assert(cent.count() > 0)
    val cos = ItemSimilarity.itemCosineParts(spark, sfDir)
    assert(cos.filter(col("cosine_permicro") > 1000000L).count() === 0L)
  }
}
