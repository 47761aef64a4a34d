package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Single-pass sketch signatures as native codegen'd expressions.
  *
  * Why custom (measured need, SURVEY §7.3): the declarative MinHash
  * (explode shingles → 64 seeded-hash min-aggregations) recomputes a full
  * xxhash per (shingle, hash-index) AND shuffles every posting; SimHash
  * similarly folds 64 interpreted lambdas per row. These expressions do
  * ONE xxhash per shingle + cheap universal-hash permutations, entirely
  * per-row (no explode, no exchange) inside whole-stage codegen.
  *
  * Hash family (public technique, e.g. datasketches): h_j = a_j·h + b_j
  * over one 64-bit xxhash h, with odd multipliers a_j and offsets b_j
  * derived from the hash index via SplitMix64 constants. Signatures are
  * engine-internal (candidates are always verified with exact Jaccard),
  * so only family quality matters, not cross-engine parity.
  */
object Sketches {
  val GoldenGamma = 0x9e3779b97f4a7c15L // SplitMix64 increment

  def permuteA(j: Int): Long = (j * 2 + 1) * GoldenGamma | 1L // odd multiplier
  def permuteB(j: Int): Long = XXH64.hashLong(j.toLong, 7L)
}

/** array<string> shingles → array<long> of `nHashes` min-hash values. */
case class MinHashSignature(child: Expression, nHashes: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val mins = Array.fill(nHashes)(Long.MaxValue)
    var i = 0
    while (i < arr.numElements()) {
      val h = XXH64.hashUTF8String(arr.getUTF8String(i), 42L)
      var j = 0
      while (j < nHashes) {
        val hj = Sketches.permuteA(j) * h + Sketches.permuteB(j)
        if (hj < mins(j)) mins(j) = hj
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val mins = ctx.freshName("mins")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val hj = ctx.freshName("hj")
      val g = Sketches.GoldenGamma
      s"""
         |long[] $mins = new long[$nHashes];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  long $h = org.apache.spark.sql.catalyst.expressions.XXH64
         |    .hashUTF8String($a.getUTF8String($i), 42L);
         |  for (int $j = 0; $j < $nHashes; $j++) {
         |    long $hj = ((($j * 2L + 1L) * ${g}L) | 1L) * $h
         |      + org.apache.spark.sql.catalyst.expressions.XXH64.hashLong((long) $j, 7L);
         |    if ($hj < $mins[$j]) $mins[$j] = $hj;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** array<string> shingles → 64-bit SimHash (per-bit majority vote). */
case class SimHash64(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val votes = new Array[Int](64)
    var i = 0
    while (i < arr.numElements()) {
      val h = XXH64.hashUTF8String(arr.getUTF8String(i), 42L)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val votes = ctx.freshName("votes")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val h = ctx.freshName("h")
      val sig = ctx.freshName("sig")
      s"""
         |int[] $votes = new int[64];
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  long $h = org.apache.spark.sql.catalyst.expressions.XXH64
         |    .hashUTF8String($a.getUTF8String($i), 42L);
         |  for (int $b = 0; $b < 64; $b++) {
         |    if ((($h >>> $b) & 1L) == 1L) $votes[$b]++; else $votes[$b]--;
         |  }
         |}
         |long $sig = 0L;
         |for (int $b = 0; $b < 64; $b++) {
         |  if ($votes[$b] > 0) $sig |= (1L << $b);
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SketchExpressions {
  def minhashSignature(shingles: Column, nHashes: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(MinHashSignature(org.apache.spark.sql.graft.ColumnBridge.expression(shingles), nHashes))

  def simhash64(shingles: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(SimHash64(org.apache.spark.sql.graft.ColumnBridge.expression(shingles)))
}
