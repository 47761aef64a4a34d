package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: registers the engine's custom
  * Catalyst expressions as SQL functions, so `spark.sql` users get the
  * same codegen'd operators as the Column API:
  *
  *   spark.sql("SELECT graft_dot(a, b) ...")
  *   <session builder>.withExtensions(new GraftExtensions) ...
  *   // or: --conf spark.sql.extensions=graft.plans.GraftExtensions
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.registrations.foreach(e.injectFunction)
}

object GraftExtensions {
  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name)

  /** (identifier, info, builder) triples — also directly registrable on a
    * live session via `sessionState.functionRegistry.registerFunction`. */
  val registrations: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_dot"),
      info("graft_dot", "graft_dot(a, b) - codegen'd double-array dot product"),
      (args: Seq[Expression]) => DotProductF64(args(0), args(1))),
    (FunctionIdentifier("graft_word_shingles"),
      info("graft_word_shingles", "graft_word_shingles(text, k) - distinct word k-shingles"),
      (args: Seq[Expression]) => WordShingleSet(args(0),
        args(1).eval().asInstanceOf[Int])),
    (FunctionIdentifier("graft_minhash"),
      info("graft_minhash", "graft_minhash(shingles, n) - n-element MinHash signature"),
      (args: Seq[Expression]) => MinHashSignature(args(0),
        args(1).eval().asInstanceOf[Int])),
    (FunctionIdentifier("graft_simhash"),
      info("graft_simhash", "graft_simhash(shingles) - 64-bit SimHash"),
      (args: Seq[Expression]) => SimHash64(args(0))),
    (FunctionIdentifier("graft_lsh_bucket"),
      info("graft_lsh_bucket",
        "graft_lsh_bucket(vec, nBits, seed) - random-hyperplane LSH bucket"),
      (args: Seq[Expression]) => LshBucket(args(0),
        lshBits(args(1), "graft_lsh_bucket"), lshSeed(args(2), "graft_lsh_bucket"))),
    (FunctionIdentifier("graft_lsh_projections"),
      info("graft_lsh_projections",
        "graft_lsh_projections(vec, nBits, seed) - per-plane LSH projection values"),
      (args: Seq[Expression]) => LshProjections(args(0),
        lshBits(args(1), "graft_lsh_projections"),
        lshSeed(args(2), "graft_lsh_projections"))),
    (FunctionIdentifier("graft_nfc"),
      info("graft_nfc", "graft_nfc(text) - Unicode NFC normalization"),
      (args: Seq[Expression]) => NfcNormalize(args(0))),
    (FunctionIdentifier("graft_intersect_count"),
      info("graft_intersect_count",
        "graft_intersect_count(a, b) - |a ∩ b| without materializing the intersection"),
      (args: Seq[Expression]) => ArrayIntersectCount(args(0), args(1))),
    (FunctionIdentifier("graft_zorder_key"),
      info("graft_zorder_key",
        "graft_zorder_key(a, b, bits) - interleaved-bit Z-order clustering key"),
      (args: Seq[Expression]) => {
        val v = args(2).eval()
        require(v != null, "graft_zorder_key: bits must be a non-null integer literal")
        ZOrderKey2(args(0), args(1), v.asInstanceOf[Number].intValue())
      }))

  /** Analysis-time validation of the SQL surface's literal arguments —
    * nBits outside [1, 64] would otherwise alias buckets silently
    * (`1L << b` wraps mod 64) or crash per-row mid-job, and a NULL would
    * NPE with no hint which argument is bad. */
  private def lshBits(e: Expression, fn: String): Int = {
    val v = e.eval()
    require(v != null, s"$fn: nBits must be a non-null integer literal")
    val n = v.asInstanceOf[Number].intValue()
    require(n >= 1 && n <= 64, s"$fn: nBits must be in [1, 64], got $n")
    n
  }

  private def lshSeed(e: Expression, fn: String): Long = {
    val v = e.eval()
    require(v != null, s"$fn: seed must be a non-null integer literal")
    v.asInstanceOf[Number].longValue()
  }

  /** Register on an already-running session (tests, shells). */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit =
    registrations.foreach { case (id, i, b) =>
      spark.sessionState.functionRegistry.registerFunction(id, i, b)
    }
}
