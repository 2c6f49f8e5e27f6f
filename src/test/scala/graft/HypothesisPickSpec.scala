package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{HypothesisPick, MixMod61, Native}

class HypothesisPickSpec extends SparkSpec {
  import spark.implicits._

  private val H = 16

  private def mixCol(c: Column): Column =
    Native.call("graft_mix_mod61", exprs => MixMod61(exprs.head), c)

  private def pick(df: DataFrame): Seq[Long] =
    df.agg(HypothesisPick.pick(col("m1"), col("cid"), H)).head().getSeq[Long](0)

  /** Per seed h: the two picked cells as (x1, y1, x2, y2). */
  private def decoded(buf: Seq[Long]): Seq[(Long, Long, Long, Long)] =
    (0 until H).map { s =>
      val (c1, c2) = (buf(4 * s + 1), buf(4 * s + 3))
      (c1 >>> 32, c1 & 0xFFFFFFFFL, c2 >>> 32, c2 & 0xFFFFFFFFL)
    }

  /** The two-pass `min(struct(pri, x, y))` selection the aggregate
    * replaced in Ransac: a reference, not a production path. */
  private def twoPass(cells: DataFrame): Seq[(Long, Long, Long, Long)] = {
    val pri = cells.crossJoin(broadcast((1 to H).map(_.toLong).toDF("h")))
      .withColumn("pri", mixCol(col("m1") + col("h")))
    val p1 = pri.groupBy("h")
      .agg(min(struct(col("pri"), col("x"), col("y"))).as("s1"))
      .select(col("h"), col("s1.x").as("x1"), col("s1.y").as("y1"))
    val p2 = pri.join(broadcast(p1), Seq("h"))
      .filter(!(col("x") === col("x1") && col("y") === col("y1")))
      .groupBy("h")
      .agg(min(struct(col("pri"), col("x"), col("y"))).as("s2"))
      .select(col("h"), col("s2.x").as("x2"), col("s2.y").as("y2"))
    p1.join(p2, Seq("h")).orderBy("h")
      .select("x1", "y1", "x2", "y2").as[(Long, Long, Long, Long)].collect().toSeq
  }

  test("pick: equal m1 ranks the smaller cid first at any partitioning") {
    val m = 123456789L
    val (small, large) = ((7L << 32) + 5L, (7L << 32) + 6L)
    for (nParts <- Seq(1, 3, 8); rows <- Seq(Seq(small, large), Seq(large, small))) {
      val df = spark.sparkContext.parallelize(rows.map(c => (m, c)), nParts)
        .toDF("m1", "cid")
      val buf = pick(df)
      (0 until H).foreach { s =>
        val p = MixMod61.mix(m + s + 1)
        assert(buf.slice(4 * s, 4 * s + 4) === Seq(p, small, p, large),
          s"nParts=$nParts order=$rows seed=${s + 1}")
      }
    }
  }

  test("pick: equals the two-pass min(struct) selection on a random frame") {
    val rnd = new scala.util.Random(20261017L)
    val xy = Seq.fill(5000)((rnd.nextInt(1 << 29).toLong,
      rnd.nextLong() & 0xFFFFFFFFL)).distinct
    val base = xy.toDF("x", "y").repartition(4)
      .withColumn("cid", shiftleft(col("x"), 32) + col("y"))
    // mixed m1, then m1 with only 7 values: every priority collides and
    // the pick rests on the cid tie-break alone
    for (m1 <- Seq(mixCol(col("cid")), pmod(col("cid"), lit(7L)))) {
      val cells = base.withColumn("m1", m1)
      assert(decoded(pick(cells)) === twoPass(cells))
    }
  }

  test("ransac: identical result under 1 and 8 input partitions") {
    val rnd = new scala.util.Random(7L)
    val pts = (1 to 300).map(i => (i.toLong, 3L * i + 11)) ++
      Seq.fill(700)((rnd.nextInt(400).toLong, rnd.nextInt(5000).toLong))
    val df = pts.toDF("x", "y")
    def run(n: Int) = ml.Ransac.ransacLine(df.repartition(n), "x", "y",
      tol = 2L).collect().toSeq
    val one = run(1)
    assert(one.size === 1)
    assert(run(8) === one)
  }

  test("ransac: cells outside the feature envelope fail loudly") {
    val df = Seq((-1L, 2L), (3L, 4L), (5L, 7L)).toDF("x", "y")
    val e = intercept[IllegalArgumentException](
      ml.Ransac.ransacLine(df, "x", "y", tol = 0L))
    assert(e.getMessage.contains("envelope"))
  }
}
