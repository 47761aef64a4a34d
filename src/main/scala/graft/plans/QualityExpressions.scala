package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The quality-rule columns of one document in a single pass, called
  * from the generated code of [[QualityCounts]] (the [[IntersectUtil]]
  * pattern).
  *
  * Input is the LOWER-CASED text (Spark's own `lower`, so case mapping is
  * whatever the session's `lower` does). Tokens are its maximal runs of
  * bytes outside Java regex `\s` (space, \t, \n, \u000B, \f, \r — all
  * ASCII, so no UTF-8 sequence is ever split): exactly the non-empty
  * elements of `split(lower(text), "\\s+")`. From exact integer counts,
  * each ratio one double division:
  *  - `n_words`: tokens;
  *  - `mean_word_len`: summed `length` (code points) of the tokens over
  *    `n_words` (0.0 with no token);
  *  - `has_stopword`: some token is in the marker set;
  *  - `top_word_frac`: occurrences of the most frequent token over
  *    `n_words` (0.0 with no token);
  *  - `dup_bigram_frac`: 1 − distinct adjacent token pairs over adjacent
  *    pairs (0.0 with no pair; tokens hold no space, so a pair is
  *    distinct exactly when its "a b" join is);
  *  - `keep`: every [[QualityRules]] threshold holds. It rides in the
  *    struct so a filter on `keep` that the optimizer pushes below the
  *    rule projection calls the kernel once, not once per rule.
  *
  * A null text counts as `size` counts a null array: null `n_words` and
  * `has_stopword`, or under `spark.sql.legacy.sizeOfNull` (ANSI off)
  * −1 words and no stopword; the ratios read 0.0 and `keep` false.
  * (0/0 is null in Spark and an error in the oracle's `list_reduce`, so
  * an empty document pins its ratios to 0.0 in both engines.) */
object QualityUtil {

  val schema: StructType = StructType(Seq(
    StructField("n_words", LongType), StructField("mean_word_len", DoubleType, nullable = false),
    StructField("has_stopword", BooleanType),
    StructField("top_word_frac", DoubleType, nullable = false),
    StructField("dup_bigram_frac", DoubleType, nullable = false),
    StructField("keep", BooleanType, nullable = false)))

  private def isSpace(b: Byte): Boolean =
    b == ' ' || (b >= '\t' && b <= '\r')

  def counts(lowered: UTF8String, legacySizeOfNull: Boolean,
             markers: java.util.HashSet[UTF8String], rules: QualityRules): InternalRow = {
    if (lowered == null)
      return new GenericInternalRow(
        if (legacySizeOfNull) Array[Any](-1L, 0.0, false, 0.0, 0.0, false)
        else Array[Any](null, 0.0, null, 0.0, 0.0, false))
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
    val mean = if (n > 0) chars.toDouble / n else 0.0
    val topFrac = if (n > 0) top.toDouble / n else 0.0
    val dup = if (nBigrams > 0) 1.0 - distinct.toDouble / nBigrams else 0.0
    import rules._
    val keep = n > 0 && n >= minWords && n <= maxWords && mean >= minMeanLen &&
      mean <= maxMeanLen && nMarkers >= 1 && topFrac <= maxTopFrac && dup <= maxDupFrac
    new GenericInternalRow(Array[Any](n.toLong, mean, nMarkers >= 1, topFrac, dup, keep))
  }
}

/** `TextAnalysis.qualityFilter`'s thresholds. */
case class QualityRules(minWords: Int, maxWords: Int, minMeanLen: Double,
                        maxMeanLen: Double, maxTopFrac: Double, maxDupFrac: Double)

/** `quality_counts(lower(text))`: the [[QualityUtil]] rule columns as a
  * struct. `legacySizeOfNull` is read from the session at construction,
  * as Spark's `size` reads it. */
case class QualityCounts(child: Expression, markers: Seq[String], rules: QualityRules,
                         legacySizeOfNull: Boolean = SQLConf.get.legacySizeOfNull)
    extends UnaryExpression {

  @transient private lazy val markerSet: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    markers.foreach(m => s.add(UTF8String.fromString(m)))
    s
  }

  override def dataType: DataType = QualityUtil.schema
  override def nullable: Boolean = false
  override def prettyName: String = "quality_counts"

  override def eval(input: InternalRow): Any =
    QualityUtil.counts(child.eval(input).asInstanceOf[UTF8String], legacySizeOfNull,
      markerSet, rules)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val set = ctx.addReferenceObj("markers", markerSet, "java.util.HashSet")
    val r = ctx.addReferenceObj("rules", rules, classOf[QualityRules].getName)
    ev.copy(code = code"""
      |${c.code}
      |InternalRow ${ev.value} = graft.plans.QualityUtil.counts(
      |  ${c.isNull} ? null : ${c.value}, $legacySizeOfNull, $set, $r);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object QualityExpressions {
  def qualityCounts(lowered: Column, markers: Seq[String], rules: QualityRules): Column =
    ColumnBridge.column(QualityCounts(ColumnBridge.expression(lowered), markers, rules))
}
