package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The quality-rule counts of one document in a single pass, called from
  * the generated code of [[QualityCounts]] (the [[IntersectUtil]]
  * pattern).
  *
  * Input is the LOWER-CASED text (Spark's own `lower`, so case mapping is
  * whatever the session's `lower` does). Tokens are its maximal runs of
  * bytes outside Java regex `\s` (space, \t, \n, \u000B, \f, \r — all
  * ASCII, so no UTF-8 sequence is ever split): exactly the non-empty
  * elements of `split(lower(text), "\\s+")`. The six counts, all exact
  * integers:
  *  - `n_tokens`: tokens;
  *  - `n_chars`: summed `length` (code points) of the tokens;
  *  - `n_markers`: tokens in the marker set;
  *  - `top_count`: occurrences of the most frequent token (0 when none);
  *  - `n_bigrams`: adjacent token pairs, max(n_tokens − 1, 0);
  *  - `n_distinct_bigrams`: distinct adjacent pairs (tokens hold no
  *    space, so a pair is distinct exactly when its "a b" join is).
  *
  * A null text gives what `size` gives a null array: null counts, or
  * under `spark.sql.legacy.sizeOfNull` (ANSI off) −1 tokens and −1
  * markers beside an empty bigram list. */
object QualityUtil {

  val schema: StructType = StructType(Seq("n_tokens", "n_chars", "n_markers",
    "top_count", "n_bigrams", "n_distinct_bigrams")
    .map(StructField(_, LongType, nullable = false)))

  private def isSpace(b: Byte): Boolean =
    b == ' ' || (b >= '\t' && b <= '\r')

  def counts(lowered: UTF8String, legacySizeOfNull: Boolean,
             markers: java.util.HashSet[UTF8String]): InternalRow = {
    if (lowered == null)
      return if (legacySizeOfNull) new GenericInternalRow(Array[Any](-1L, 0L, -1L, 0L, 0L, 0L))
      else null
    val bytes = lowered.getBytes
    val ids = new java.util.HashMap[UTF8String, Integer]()
    var freq = new Array[Int](16)
    var seq = new Array[Int](16)
    var n = 0
    var chars = 0L
    var nMarkers = 0L
    var top = 0
    var i = 0
    while (i < bytes.length) {
      while (i < bytes.length && isSpace(bytes(i))) i += 1
      if (i < bytes.length) {
        val start = i
        while (i < bytes.length && !isSpace(bytes(i))) i += 1
        val tok = UTF8String.fromBytes(bytes, start, i - start)
        chars += tok.numChars()
        if (markers.contains(tok)) nMarkers += 1
        var id = ids.get(tok)
        if (id == null) {
          id = ids.size()
          ids.put(tok, id)
          if (id >= freq.length) freq = java.util.Arrays.copyOf(freq, freq.length * 2)
        }
        freq(id) += 1
        if (freq(id) > top) top = freq(id)
        if (n >= seq.length) seq = java.util.Arrays.copyOf(seq, seq.length * 2)
        seq(n) = id
        n += 1
      }
    }
    val nBigrams = math.max(n - 1, 0)
    val pairs = new Array[Long](nBigrams)
    var j = 0
    while (j < nBigrams) { pairs(j) = (seq(j).toLong << 32) | seq(j + 1); j += 1 }
    java.util.Arrays.sort(pairs)
    var distinct = 0
    j = 0
    while (j < nBigrams) {
      if (j == 0 || pairs(j) != pairs(j - 1)) distinct += 1
      j += 1
    }
    new GenericInternalRow(Array[Any](n.toLong, chars, nMarkers, top.toLong,
      nBigrams.toLong, distinct.toLong))
  }
}

/** `quality_counts(lower(text))`: the [[QualityUtil]] counts as a struct.
  * `legacySizeOfNull` is read from the session at construction, as
  * Spark's `size` reads it. */
case class QualityCounts(child: Expression, markers: Seq[String],
                         legacySizeOfNull: Boolean = SQLConf.get.legacySizeOfNull)
    extends UnaryExpression {

  @transient private lazy val markerSet: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    markers.foreach(m => s.add(UTF8String.fromString(m)))
    s
  }

  override def dataType: DataType = QualityUtil.schema
  override def nullable: Boolean = child.nullable && !legacySizeOfNull
  override def prettyName: String = "quality_counts"

  override def eval(input: InternalRow): Any =
    QualityUtil.counts(child.eval(input).asInstanceOf[UTF8String], legacySizeOfNull, markerSet)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val set = ctx.addReferenceObj("markers", markerSet, "java.util.HashSet")
    ev.copy(code = code"""
      |${c.code}
      |InternalRow ${ev.value} = graft.plans.QualityUtil.counts(
      |  ${c.isNull} ? null : ${c.value}, $legacySizeOfNull, $set);
      |boolean ${ev.isNull} = ${ev.value} == null;
      """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object QualityExpressions {
  def qualityCounts(lowered: Column, markers: Seq[String]): Column =
    ColumnBridge.column(QualityCounts(ColumnBridge.expression(lowered), markers))
}
