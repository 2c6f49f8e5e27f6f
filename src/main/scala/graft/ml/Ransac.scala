package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** RANSAC line fit — robust regression by consensus: H deterministic
  * 2-point hypotheses, each scored by how much data mass sits within a
  * fixed residual tolerance of its line; the winner is the model the
  * LARGEST CONSENSUS SET agrees with, so up to ~half the data can be
  * arbitrarily corrupted without moving the fit (where [[LinReg]]'s
  * least squares chases every outlier and [[HuberStep]] only
  * down-weights them). The sampling-iteration member of the ML-fit
  * primitive gates (kmeans_step, gbt_stump, logreg_newton_step).
  *
  * Hypotheses sample the DISTINCT (x, y) VALUE CELLS, not raw rows:
  * facts carry no reliable unique row key (the test generator emits
  * duplicate (orderkey, linenumber) pairs — caught live when a
  * row-keyed variant tie-broke differently from the oracle), while a
  * value cell is unique BY CONSTRUCTION and the cell table is
  * domain-bounded. Cell priority = mix(mix(cid) + h) over
  * cid = x·2³² + y ([[graft.functions.MixMod61]] twice — the inner
  * mix decorrelates the cid structure, the outer separates
  * hypotheses); the per-h argmin/argmin₂ use the TOTAL order
  * (pri, cid), equal to (pri, x, y) inside the envelope, so even
  * priority collisions cannot flap the pick, and the oracle's
  * rank-window provably selects the same cells.
  *
  * Exactness: the inlier test is cross-multiplied integer arithmetic —
  * |(y−y1)·dx − (x−x1)·dy| ≤ tol·|dx| — no division; consensus mass is
  * Σ cell-count over inlier cells (exact BIGINT); vertical pairs
  * (dx = 0) are discarded as degenerate (declared). Winner =
  * max(struct(n_inliers, −h)): consensus first, smallest h on ties.
  * Slope reports as the sign-split truncating (10⁶·|dy|) div |dx|; the
  * intercept uses the QUANTIZED slope. Feature envelope: 0 ≤ x < 2²⁹,
  * 0 ≤ y < 2³² keeps cid inside the mixer's non-negative domain and
  * every cross-product inside BIGINT at any row count; a cell table
  * outside it fails loudly rather than decoding wrong cells.
  *
  * Scale: ONE fact pass (the cell aggregate, pinned); everything else
  * runs on the domain-bounded cell table. One aggregate pass picks
  * every seed's two cells ([[graft.functions.HypothesisPick]]: H
  * priorities per cell computed in place, 4·H longs of state per
  * task, collected together with n_total), and one
  * pass scores the ≤ H hypotheses, broadcast as a local frame. This
  * replaced two `min(struct(pri, x, y))` argmin passes over the cell
  * table crossed with the H seeds, which Spark ran as sort-based
  * aggregates (a struct buffer cannot update in place). One traced
  * benchmark run each at sf0.1, local[4] on a 4-vCPU VM: argmin jobs
  * 1.02 + 0.96 s → one pick job 0.09 s; construction 3.8 → 1.6 s;
  * stages 16 → 10; task time 10.5 → 3.0 s; pins 2 → 1.
  */
object Ransac {

  val H = 16

  /** One row: (h_best, x1, y1, x2, y2, n_inliers, n_total,
    * slope_micros, intercept_micros) — or zero rows when no hypothesis
    * is valid (empty input, fewer than two cells, all pairs vertical). */
  def ransacLine(df: DataFrame, xCol: String, yCol: String,
                 tol: Long, rowsEst: Long = -1L): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // consumed by the hypothesis pick AND scoring — each a compute pass
    // over every cell, so the pin's width is the width of the whole key;
    // a bare pin materialized at the cell aggregate's AQE-coalesced
    // 5 blocks (the two 0.65 s trial stages ran 5-wide, r20 profiled).
    // rowsEst bounds |cells| from the source footer (≤ fact rows);
    // identity at replica scale.
    val cellsNarrow = df
      .select(col(xCol).cast("long").as("x"), col(yCol).cast("long").as("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("w"))
      .withColumn("m1", graft.functions.Native.call("graft_mix_mod61",
        exprs => graft.functions.MixMod61(exprs.head), cid))
    val cells =
      if (rowsEst >= 0) graft.Checkpoints.pinWide(cellsNarrow, rowsEst * 40L)
      // no footer estimate: the deserialized tier, a bare pin's level
      else graft.Checkpoints.pin(cellsNarrow, 0L)
    val stats = cells.agg(
      graft.functions.HypothesisPick.pick(col("m1"), cid, H),
      sum("w"), min("x"), max("x"), min("y"), max("y")).collect().head
    if (!stats.isNullAt(1))
      require(stats.getLong(2) >= 0 && stats.getLong(3) < (1L << 29)
        && stats.getLong(4) >= 0 && stats.getLong(5) < (1L << 32),
        s"ransacLine: x range [${stats.getLong(2)}, ${stats.getLong(3)}] or " +
        s"y range [${stats.getLong(4)}, ${stats.getLong(5)}] is outside " +
        "the envelope 0 ≤ x < 2^29, 0 ≤ y < 2^32")
    val nTotal = if (stats.isNullAt(1)) 0L else stats.getLong(1)
    val picks = stats.getSeq[Long](0)
    val hyp = (1 to H).flatMap { h => // seed h: picks(4h-4 until 4h)
      val (c1, c2) = (picks(4 * h - 3), picks(4 * h - 1))
      val (x1, y1, x2, y2) = (c1 >>> 32, c1 & 0xFFFFFFFFL, c2 >>> 32, c2 & 0xFFFFFFFFL)
      // < 2 cells, or vertical: degenerate, discarded
      if (c2 == Long.MaxValue || x2 == x1) None
      else Some((h.toLong, x1, y1, x2, y2, x2 - x1, y2 - y1))
    }.toDF("h", "x1", "y1", "x2", "y2", "dx", "dy")
    val scored = cells.crossJoin(broadcast(hyp))
      .filter(abs((col("y") - col("y1")) * col("dx")
        - (col("x") - col("x1")) * col("dy")) <= lit(tol) * abs(col("dx")))
      .groupBy("h", "x1", "y1", "x2", "y2", "dx", "dy")
      .agg(sum(col("w")).as("n_inliers"))
    scored
      .agg(max(struct(col("n_inliers"), (-col("h")).as("negh"), col("x1"),
        col("y1"), col("x2"), col("y2"), col("dx"), col("dy"))).as("w"))
      .filter(col("w").isNotNull) // no scored hypothesis: zero rows
      .select((-col("w.negh")).as("h_best"),
        col("w.x1").as("x1"), col("w.y1").as("y1"),
        col("w.x2").as("x2"), col("w.y2").as("y2"),
        col("w.n_inliers").as("n_inliers"),
        lit(nTotal).as("n_total"),
        expr("""(CASE WHEN w.dy < 0 THEN -1L ELSE 1L END)
                * (CASE WHEN w.dx < 0 THEN -1L ELSE 1L END)
                * ((1000000 * abs(w.dy)) div abs(w.dx))""").as("slope_micros"))
      .withColumn("intercept_micros",
        col("y1") * lit(1000000L) - col("slope_micros") * col("x1"))
  }

  /** Cell id x·2³² + y: unique per cell and, inside the envelope,
    * ordered as (x, y). */
  private def cid = shiftleft(col("x"), 32) + col("y")

  // ---- query-map entry (hash-gated) ----

  /** Gated instance: consensus line of extendedprice (whole dollars)
    * on quantity over lineitem, tol = $10,000. */
  def ransacLineitem(spark: SparkSession, dir: String): DataFrame =
    ransacLine(
      Tables.lineitem(spark, dir).select(
        round(col("l_quantity")).cast("long").as("q"),
        round(col("l_extendedprice")).cast("long").as("p")),
      "q", "p", tol = 10000L,
      rowsEst = graft.ParquetMeta.rowCount(spark, s"$dir/lineitem.parquet"))

  def oracleSql: String = {
    import graft.functions.Hll
    def mix(e: String) =
      s"""xor(CAST((CAST(${Hll.A2} AS HUGEINT) * xor(
         |  CAST((CAST(${Hll.A} AS HUGEINT) * ($e) + ${Hll.B}) % ${Hll.P}
         |    AS BIGINT),
         |  CAST((CAST(${Hll.A} AS HUGEINT) * ($e) + ${Hll.B}) % ${Hll.P}
         |    AS BIGINT) >> 30)) % ${Hll.P} AS BIGINT),
         |  CAST((CAST(${Hll.A2} AS HUGEINT) * xor(
         |  CAST((CAST(${Hll.A} AS HUGEINT) * ($e) + ${Hll.B}) % ${Hll.P}
         |    AS BIGINT),
         |  CAST((CAST(${Hll.A} AS HUGEINT) * ($e) + ${Hll.B}) % ${Hll.P}
         |    AS BIGINT) >> 30)) % ${Hll.P} AS BIGINT) >> 27)"""
        .stripMargin.replaceAll("\n", " ")
    s"""WITH cells AS (
       |  SELECT x, y, CAST(count(*) AS BIGINT) AS w,
       |    ${mix("(x << 32) + y")} AS m1
       |  FROM (
       |    SELECT CAST(round(l_quantity) AS BIGINT) AS x,
       |      CAST(round(l_extendedprice) AS BIGINT) AS y
       |    FROM lineitem)
       |  GROUP BY x, y
       |), pri AS (
       |  SELECT x, y, w, h, ${mix("m1 + h")} AS pri
       |  FROM cells CROSS JOIN (SELECT unnest(range(1, ${H + 1})) AS h)
       |), ranked AS (
       |  SELECT h, x, y,
       |    row_number() OVER (PARTITION BY h ORDER BY pri, x, y) AS rk
       |  FROM pri
       |), hyp AS (
       |  SELECT h,
       |    max(CASE WHEN rk = 1 THEN x END) AS x1,
       |    max(CASE WHEN rk = 1 THEN y END) AS y1,
       |    max(CASE WHEN rk = 2 THEN x END) AS x2,
       |    max(CASE WHEN rk = 2 THEN y END) AS y2
       |  FROM ranked WHERE rk <= 2 GROUP BY h
       |  HAVING max(CASE WHEN rk = 2 THEN x END)
       |       <> max(CASE WHEN rk = 1 THEN x END)
       |), counted AS (
       |  SELECT hyp.h, hyp.x1, hyp.y1, hyp.x2, hyp.y2,
       |    hyp.x2 - hyp.x1 AS dx, hyp.y2 - hyp.y1 AS dy,
       |    CAST(sum(c.w) AS BIGINT) AS n_inliers
       |  FROM hyp JOIN cells c
       |    ON abs((c.y - hyp.y1) * (hyp.x2 - hyp.x1)
       |           - (c.x - hyp.x1) * (hyp.y2 - hyp.y1))
       |       <= 10000 * abs(hyp.x2 - hyp.x1)
       |  GROUP BY 1, 2, 3, 4, 5
       |), best AS (
       |  SELECT *, row_number() OVER (ORDER BY n_inliers DESC, h ASC) AS r
       |  FROM counted
       |)
       |SELECT CAST(h AS BIGINT) AS h_best, x1, y1, x2, y2, n_inliers,
       |  (SELECT CAST(sum(w) AS BIGINT) FROM cells) AS n_total,
       |  (CASE WHEN dy < 0 THEN -1 ELSE 1 END)
       |    * (CASE WHEN dx < 0 THEN -1 ELSE 1 END)
       |    * ((1000000 * abs(dy)) // abs(dx)) AS slope_micros,
       |  y1 * 1000000 + (CASE WHEN dy < 0 THEN -1 ELSE 1 END)
       |    * (CASE WHEN dx < 0 THEN -1 ELSE 1 END)
       |    * ((1000000 * abs(dy)) // abs(dx)) * (-x1) AS intercept_micros
       |FROM best WHERE r = 1""".stripMargin
  }
}
