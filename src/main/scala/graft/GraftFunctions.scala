package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{AdcSum, LongArrayDot, MinHashSignature, PolyFingerprint, QuantizeVec, SimHash64}

/** SQL-surface registration for graft's native Catalyst expressions, so
  * `spark.sql(...)` users get them alongside the Column API:
  *
  *   - `graft_long_array_dot(array<bigint>, array<bigint>) -> bigint`
  *   - `graft_poly_fingerprint(string) -> bigint`
  *   - `graft_simhash64(array<bigint>) -> bigint`
  *   - `graft_minhash_signature(array<bigint>) -> array<bigint>` (32 slots)
  *   - `graft_quantize(array<float|double>) -> array<bigint>`
  *   - `graft_quantize_unit(array<float|double>) -> array<bigint>`
  *   - `graft_adc_sum(array<array<bigint>>, array<int>) -> bigint`
  *
  * (The codebook/centroid-carrying expressions — PqAssign, PqDistTables,
  * NearestCentroids, ResidualQ — register per codebook under
  * content-hashed names via [[graft.functions.Native]] and have no
  * data-free SQL form. The native aggregates
  * [[graft.functions.MultiTopKDcg]] and
  * [[graft.functions.HypothesisPick]] are Column-API only: they carry
  * constructor parameters and register through `Native.call` on first
  * use, outside this list.)
  *
  * Two deployment routes, one builder list:
  *   - [[GraftFunctions.registerAll]] — imperative, once per session.
  *   - [[GraftExtensions]] via `spark.sql.extensions=graft.GraftExtensions`
  *     — the cluster-config route; every session on the cluster gets the
  *     functions with no code change.
  * The Column-API entry points ([[graft.functions.VectorFunctions.dotQ]],
  * [[graft.functions.TextFunctions.fingerprint]]) additionally
  * self-register idempotently on the active session.
  */
object GraftFunctions {

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_long_array_dot" -> (exprs => LongArrayDot(exprs(0), exprs(1))),
    "graft_poly_fingerprint" -> (exprs => PolyFingerprint(exprs.head)),
    "graft_simhash64" -> (exprs => SimHash64(exprs.head)),
    "graft_minhash_signature" ->
      (exprs => MinHashSignature(exprs.head, graft.dedup.MinHashLsh.SigLen)),
    "graft_quantize" -> (exprs => QuantizeVec(exprs.head, unit = false)),
    "graft_quantize_unit" -> (exprs => QuantizeVec(exprs.head, unit = true)),
    "graft_adc_sum" -> (exprs => AdcSum(exprs(0), exprs(1))),
  )

  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}

/** `spark.sql.extensions` entry point (`--conf
  * spark.sql.extensions=graft.GraftExtensions`): injects every
  * [[GraftFunctions.builders]] function AND the
  * [[graft.plans.RewriteDotProduct]] optimizer rule into sessions at
  * build time. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, builder) =>
      ext.injectFunction(
        (FunctionIdentifier(name),
          new ExpressionInfo("graft.GraftFunctions", name), builder))
    }
    ext.injectOptimizerRule(_ => graft.plans.RewriteDotProduct)
  }
}
