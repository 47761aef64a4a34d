package graft

import graft.functions.{TextFunctions => TF}
import graft.operators.TextAnalysis
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** `TextAnalysis.qualityFilter`'s compiled counting kernel
  * (graft.plans.QualityCounts) against the declarative rule form it
  * replaced, kept here as the reference: same rows, bit for bit, with
  * ANSI on and off, through both the generated code (parquet input) and
  * interpreted eval (a local relation the optimizer folds). */
class QualityKernelSpec extends SparkSpec {
  import spark.implicits._

  /** The declarative form: token and bigram arrays, then interpreted
    * higher-order folds per rule. */
  private def declarative(docs: DataFrame): DataFrame = {
    val toks = col("__q_toks")
    val sh2 = col("__q_sh2")
    val n = size(toks)
    val nD = n.cast("double")
    val topCount = aggregate(
      array_sort(toks),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, w) => {
        val nr = when(w === acc.getField("prev"), acc.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(w.as("prev"), nr.as("run"),
          greatest(acc.getField("best"), nr).as("best"))
      },
      acc => acc.getField("best"))
    docs.select(col("doc_id"), TF.words(col("text")).as("__q_toks"))
      .select(col("doc_id"), toks, TF.shingles(toks, 2).as("__q_sh2"))
      .select(col("doc_id"),
        n.cast("long").as("n_words"),
        when(n > 0,
          aggregate(toks, lit(0L), (acc, w) => acc + length(w)).cast("double") / nD)
          .otherwise(lit(0.0)).as("mean_word_len"),
        (TF.markerCount(toks, TF.langMarkers.flatMap(_._2)) >= 1).as("has_stopword"),
        when(n > 0, topCount.cast("double") / nD).otherwise(lit(0.0))
          .as("top_word_frac"),
        (when(size(sh2) > 0,
          lit(1.0) - size(array_distinct(sh2)).cast("double") / size(sh2).cast("double"))
          .otherwise(lit(0.0))).as("dup_bigram_frac"))
      .withColumn("keep",
        col("n_words") > 0 &&
          col("n_words").between(20, 10000) &&
          col("mean_word_len").between(3.0, 10.0) &&
          col("has_stopword") &&
          col("top_word_frac") <= 0.2 &&
          col("dup_bigram_frac") <= 0.1)
  }

  /** Rows as comparable values, doubles by their raw bits (so -0.0 and
    * 0.0, or two NaNs, are told apart). */
  private def bits(df: DataFrame): Seq[Seq[Any]] =
    df.orderBy("doc_id").collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case v => v
    })

  private val long10k: String = {
    val vocab = Seq("the", "river", "bank", "of", "stone", "Quiet", "and", "light")
    (0 until 10500).map(i => vocab((i * 7 + i / 13) % vocab.size)).mkString(" ")
  }

  private val edgeDocs: Seq[(Long, String)] = Seq(
    1L -> "",
    2L -> "   \t\n  ",
    3L -> "\tthe cat\n sat  on\r\nthe mat \t",
    4L -> "\u000Bthe\fdog\u000B\u000Bran\r",
    5L -> "İstanbul STRASSE straße ß ΣΊΣΥΦΟΣ σίσυφος the ÖL öl",
    6L -> "a\u00A0b the a\u00A0b c", // a no-break space is not a separator
    7L -> long10k,
    8L -> "b a b a c the c", // three-way tie for the top word
    9L -> null,
    10L -> ("the quick brown fox jumps over the lazy dog and then " * 3).trim)

  private def withAnsi[T](on: Boolean)(body: => T): T = {
    val key = "spark.sql.ansi.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, on.toString)
    try body finally spark.conf.set(key, prev)
  }

  private def assertSame(docs: DataFrame, what: String): Unit = {
    val kernel = TextAnalysis.qualityFilter(docs, "doc_id", "text")
    val ref = declarative(docs)
    assert(kernel.columns.toSeq == ref.columns.toSeq)
    val (k, r) = (bits(kernel), bits(ref))
    assert(k.size == r.size, what)
    k.zip(r).foreach { case (a, b) => assert(a == b, s"$what: kernel $a, declarative $b") }
  }

  for (ansi <- Seq(true, false)) {
    test(s"kernel == declarative on edge documents, ANSI ${if (ansi) "on" else "off"}") {
      withAnsi(ansi) {
        val local = edgeDocs.toDF("doc_id", "text")
        val dir = tmpDir("quality_kernel")
        local.write.mode("overwrite").parquet(dir)
        assertSame(spark.read.parquet(dir), "generated code")
        assertSame(local, "interpreted eval")
        // a null text reads as `size` reads a null array
        val nullRow = TextAnalysis.qualityFilter(local, "doc_id", "text")
          .filter(col("doc_id") === 9L).head()
        if (ansi) assert(nullRow.isNullAt(1)) else assert(nullRow.getLong(1) == -1L)
        assert(!nullRow.getAs[Boolean]("keep"))
      }
    }
  }

  test("kernel == declarative on the sf0.001 corpus, ANSI on and off") {
    val docs = Tables.load(spark, sf0001, "documents").select("doc_id", "text")
    Seq(true, false).foreach(a => withAnsi(a)(assertSame(docs, s"documents, ANSI $a")))
  }

  test("the long document and the tie count as they read") {
    val r = TextAnalysis.qualityFilter(edgeDocs.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(r(7L).getLong(1) == 10500L)
    assert(r(8L).getDouble(4) == 2.0 / 7.0)
    assert(r(3L).getLong(1) == 6L && r(1L).getLong(1) == 0L && r(2L).getLong(1) == 0L)
    assert(r(10L).getBoolean(3) && r(10L).getDouble(5) > 0.5)
    assert(Seq(1L, 2L, 9L).forall(i => r(i).get(6) == false))
    assert(r.values.forall((x: Row) => !x.isNullAt(6)))
  }
}
