package graftbench

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow, Literal, UnsafeArrayData, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Times each `GraftFunctions.builders` expression on its own: a
  * generated projection of the expression over fixed rows, net of the
  * same loop projecting a constant. */
object Probes {
  val Rows = 4096
  private val Dim = 64
  private val Subspaces = 8
  private val Centroids = 16
  private val Reps = 9

  // column ordinals of the probe row
  private val A = BoundReference(0, ArrayType(LongType, containsNull = false), nullable = false)
  private val B = BoundReference(1, ArrayType(LongType, containsNull = false), nullable = false)
  private val Text = BoundReference(2, StringType, nullable = false)
  private val Vec = BoundReference(3, ArrayType(DoubleType, containsNull = false), nullable = false)
  private val Tables = BoundReference(4,
    ArrayType(ArrayType(LongType, containsNull = false), containsNull = false), nullable = false)
  private val Codes = BoundReference(5, ArrayType(IntegerType, containsNull = false), nullable = false)

  /** Arguments for each builder, by SQL name. */
  private val args: Map[String, Seq[Expression]] = Map(
    "graft_long_array_dot" -> Seq(A, B),
    "graft_poly_fingerprint" -> Seq(Text),
    "graft_simhash64" -> Seq(A),
    "graft_minhash_signature" -> Seq(A),
    "graft_quantize" -> Seq(Vec),
    "graft_quantize_unit" -> Seq(Vec),
    "graft_adc_sum" -> Seq(Tables, Codes),
  )

  def rows(seed: Long): Array[InternalRow] = {
    val rnd = new scala.util.Random(seed)
    val words = Array.tabulate(512)(i => s"w${i.toHexString}")
    Array.fill[InternalRow](Rows) {
      def longs(n: Int) = Array.fill(n)(rnd.nextLong() >>> 20)
      val text = Array.fill(40)(words(rnd.nextInt(words.length))).mkString(" ")
      new GenericInternalRow(Array[Any](
        UnsafeArrayData.fromPrimitiveArray(longs(Dim)),
        UnsafeArrayData.fromPrimitiveArray(longs(Dim)),
        UTF8String.fromString(text),
        UnsafeArrayData.fromPrimitiveArray(Array.fill(Dim)(rnd.nextGaussian())),
        new GenericArrayData(Array.fill[Any](Subspaces)(
          UnsafeArrayData.fromPrimitiveArray(longs(Centroids)))),
        UnsafeArrayData.fromPrimitiveArray(Array.fill(Subspaces)(rnd.nextInt(Centroids)))))
    }
  }

  private def loopNs(p: UnsafeProjection, in: Array[InternalRow]): Long = {
    val t0 = System.nanoTime()
    var i = 0
    var sink = 0
    while (i < in.length) { sink += p(in(i)).getSizeInBytes; i += 1 }
    val dt = System.nanoTime() - t0
    if (sink == 42) println("") // keeps the loop's result live
    dt
  }

  private def median(xs: Seq[Long]): Double = Stats.median(xs.map(_.toDouble))

  /** ns per row of each expression, net of the loop and the projection. */
  def run(seed: Long): Seq[(String, Double)] = {
    val in = rows(seed)
    val bare = UnsafeProjection.create(Seq(Literal(0L)))
    graft.GraftFunctions.builders.map { case (name, builder) =>
      val withExpr = UnsafeProjection.create(Seq(builder(args(name))))
      (1 to 3).foreach { _ => loopNs(withExpr, in); loopNs(bare, in) }
      val (e, b) = (1 to Reps).map(_ => (loopNs(withExpr, in), loopNs(bare, in))).unzip
      name -> (median(e) - median(b)) / in.length
    }
  }
}
