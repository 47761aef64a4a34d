package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** FILE-LEVEL BLOOM FILTERS: a per-file membership sketch over a
  * high-cardinality key column, and point/IN reads that prune at the
  * FILE-LISTING level against it. The equality-predicate complement of
  * [[ZoneMap]]: zone maps prune RANGE predicates but only on a
  * range-clustered layout — on a hash-scattered layout every file's
  * [min, max] envelope straddles any probe key and nothing prunes.
  * Blooms prune EQUALITY probes on ANY layout, because membership is a
  * content property, not a layout property. Delta keeps the same sketch
  * class in its file-skipping metadata; parquet-mr keeps one per
  * row-group (consulted only after the file is opened — this index
  * skips the open).
  *
  * Hashing: Kirsch–Mitzenmacher double hashing — k probe positions
  * `(h1 + i*h2) mod m` from two xxhash64 draws with distinct salts.
  * Both the build side and the lookup side evaluate the SAME Catalyst
  * expression ([[probePositions]]), so build/probe agreement is by
  * construction, not by a re-implementation that could drift.
  *
  * Guarantee: NO FALSE NEGATIVES — a file containing the probe key is
  * always listed (asserted in BloomIndexSpec against the brute-force
  * read). False positives cost one wasted file open, bounded by
  * (1 - e^(-k*n/m))^k per file (~4e-4 at n=8k keys, m=128Ki bits, k=7).
  *
  * Scale shape: the build is ONE scan with a map-side-partial
  * `collect_set` per file (sets bounded by m bits, exchange carries
  * ≤ |files| * m-bit sets); membership filtering runs DISTRIBUTED over
  * the index (the probe's k positions are literals folded into an
  * `array_contains` conjunction), and only the SURVIVING file names —
  * small by construction for point probes — reach the driver for the
  * read-path listing. The driver never holds the bitsets. */
object BloomIndex {

  /** Bits per file (power of two). 128Ki bits = ≤16 KiB/file stored as
    * a distinct-position int array; sized for ~10k keys/file at <1e-3
    * false-positive rate. Files packing far more keys than m/10 degrade
    * toward keep-everything — never toward wrong answers. */
  val MBits = 131072
  /** Probes per key. */
  val K = 7

  /** The k probe bit positions of `key` as an int array column.
    * xxhash64 of a NULL child degenerates to hashing the salt alone, so
    * all-null key files collapse to one constant pattern; NULL probes
    * are rejected in [[prunedPointRead]] (`x = NULL` selects nothing). */
  def probePositions(key: Column): Column = {
    // reduce mod m BEFORE the multiply-add: identical mod-m arithmetic,
    // but operands stay < K*MBits so ANSI mode can never see an overflow
    val h1 = pmod(xxhash64(key, lit("graft-bloom-h1")), lit(MBits.toLong))
    val h2 = pmod(xxhash64(key, lit("graft-bloom-h2")), lit(MBits.toLong))
    transform(sequence(lit(0), lit(K - 1)),
      i => pmod(h1 + i.cast("long") * h2, lit(MBits.toLong)).cast("int"))
  }

  /** One (file, bits, n, key_type) row per parquet file under `path`:
    * `bits` is the sorted distinct probe-position set of every key in
    * the file, `n` the row count, `key_type` the key column's DataType
    * in DDL form. xxhash64 is TYPE-SENSITIVE (an IntegerType 7 and a
    * LongType 7 hash differently), so the probe side must hash the
    * probe value AS the build-side type — recording it in the index
    * makes that cast automatic and makes a non-castable probe fail
    * loud instead of silently missing files. Append-only layouts only
    * ever ADD rows here. Over a [[graft.sources.TransactionalLake]] the
    * per-epoch, per-fold and tenant-purge maintenance is
    * [[graft.sources.FileIndexLake]]'s, with `buildIndex(spark, _, keyCol)`
    * as its builder: folding rewrites FILE BOUNDARIES, so a generation's
    * membership is rebuilt from its files, never merged. */
  def buildIndex(spark: SparkSession, path: String, keyCol: String): DataFrame = {
    val data = spark.read.parquet(path)
    val keyType = data.schema(keyCol).dataType
    data
      .select(input_file_name().as("file"),
        explode(probePositions(col(keyCol))).as("bit"))
      .groupBy(col("file"))
      .agg(sort_array(collect_set(col("bit"))).as("bits"),
        // every row explodes to exactly K elements (duplicate VALUES
        // within one key's probe array still yield K exploded rows)
        (count(lit(1)) / K).cast("long").as("n"))
      .withColumn("key_type", lit(keyType.sql))
  }

  /** The key DataType the index was built with, parsed from its
    * `key_type` column. An index without the column, or with a NULL
    * key_type on any row, RAISES: untyped probes hash by the probe
    * value's type — the silent-false-negative contract this index
    * exists to forbid — and every writer stamps key_type, so only a
    * pre-key_type artifact can hold one, which a rebuild fixes. None is
    * returned ONLY for an index with zero rows, which candidateFiles'
    * empty-index guard rejects with its own message. */
  private def indexKeyType(index: DataFrame): Option[org.apache.spark.sql.types.DataType] = {
    val rebuildMsg =
      "bloom index predates the key_type column — untyped probes hash by " +
        "the probe VALUE's type, so a probe of a different type than the " +
        "build-side key column silently misses the owning files (a false " +
        "negative, the one failure class this index promises away); " +
        "rebuild the index with buildIndex (it stamps key_type) before " +
        "planning point reads against it"
    require(index.columns.contains("key_type"), rebuildMsg)
    val types = index.select(col("key_type")).distinct().collect()
      .map(r => if (r.isNullAt(0)) null else r.getString(0))
    if (types.isEmpty) None // zero rows: candidateFiles' guard owns this
    else {
      require(!types.contains(null), rebuildMsg)
      require(types.length == 1,
        s"bloom index mixes key types [${types.mkString(", ")}] — it was " +
          "appended with different key columns; rebuild one index per key")
      Some(org.apache.spark.sql.types.DataType.fromDDL(types.head))
    }
  }

  /** Files that MAY contain any of `values`, resolved distributed: the
    * probe positions fold to literals, the conjunction runs as an
    * `array_contains` filter over the index, and only surviving file
    * names are collected. */
  private[graft] def candidateFiles(spark: SparkSession, index: DataFrame,
                                        values: Seq[Any]): (Array[String], Long) = {
    require(values.nonEmpty && values.forall(_ != null),
      "bloom probe values must be non-null and non-empty — an equality " +
        "predicate on NULL selects nothing; filter it out before planning")
    // xxhash64 is type-sensitive: cast every probe to the BUILD-side key
    // type before hashing (an Int 7 probed against a bigint-keyed index
    // would otherwise hash to different positions and silently miss the
    // owning files — a false negative, the one failure class this index
    // promises away). A probe that does not survive the cast fails loud.
    val keyType = indexKeyType(index)
    // try_cast, not cast: under ANSI mode a malformed cast THROWS a raw
    // CAST_INVALID_INPUT from inside the probe job — try_cast yields
    // NULL instead, which the explicit require below turns into the
    // index's own fail-loud message naming the probe and the key type
    def typed(v: Any): Column = keyType match {
      case Some(t) => lit(v).try_cast(t)
      case None => lit(v)
    }
    val idx = index.select(col("file"), col("bits")).cache()
    try {
      val total = idx.count()
      require(total > 0,
        "bloom index is empty — nothing has been indexed; run " +
          "buildIndex before planning point reads against it")
      // fail-loud driver budget (same discipline as ZoneMap's planning
      // reads): per-file rows are bounded by the compaction invariant —
      // an over-budget index means fold/compact maintenance is overdue,
      // and the candidate collect below must refuse, not OOM the driver
      require(total <= ZoneMap.MaxPlannedFiles,
        s"bloom planning would consider $total per-file rows (> " +
          s"${ZoneMap.MaxPlannedFiles}) — the lake's compaction/fold " +
          "maintenance is overdue; compact before planning point reads " +
          "against this index")
      // all probe arrays (and cast-validity flags) in ONE local 1-row
      // job, not one per value. `lossy` round-trips the cast probe back
      // to the probe's own type: try_cast admits value-CHANGING casts
      // (7.5 → bigint 7) that a castability check alone misses — the
      // hash probe and the exact re-filter would then both match key 7
      // and return rows that do not equal the caller's probe. A probe
      // the key type cannot represent exactly must fail loud, same as
      // an uncastable one. (Null-safe <=>: the null case has its own
      // message above; a failed round-trip parse counts as lossy.)
      val probeRow = spark.range(1).select(values.zipWithIndex.flatMap {
        case (v, i) => Seq(probePositions(typed(v)).as(s"p$i"),
          typed(v).isNull.as(s"null$i"),
          (!(typed(v).try_cast(
            org.apache.spark.sql.catalyst.expressions.Literal(v).dataType)
            <=> lit(v))).as(s"lossy$i"))
      }: _*).head
      values.indices.foreach { i =>
        require(!probeRow.getBoolean(probeRow.fieldIndex(s"null$i")),
          s"bloom probe value '${values(i)}' (${values(i).getClass.getSimpleName}) " +
            s"is not castable to the index key type ${keyType.fold("?")(_.sql)} — " +
            "a mistyped probe would silently miss files; pass a value of the " +
            "key column's type")
        require(!probeRow.getBoolean(probeRow.fieldIndex(s"lossy$i")),
          s"bloom probe value '${values(i)}' (${values(i).getClass.getSimpleName}) " +
            s"does not survive the cast to the index key type " +
            s"${keyType.fold("?")(_.sql)} round-trip — the cast changes the " +
            "value, so the read would return rows that do not equal the " +
            "probe; pass a value the key column's type represents exactly")
      }
      val anyValue = values.indices.map { i =>
        probeRow.getSeq[Int](probeRow.fieldIndex(s"p$i")).distinct
          .map(p => array_contains(col("bits"), p)).reduce(_ && _)
      }.reduce(_ || _)
      (idx.filter(anyValue).select(col("file")).collect().map(_.getString(0)),
        total)
    } finally idx.unpersist()
  }

  /** Point read `keyCol = value` planned against the index: only files
    * whose bloom admits the probe are LISTED, then the exact predicate
    * re-filters inside them (blooms prune membership, they never answer
    * predicates — a false positive costs a file open, never a wrong
    * row). `requirePruned` fails loud if nothing pruned — on a point
    * probe that means the index is saturated (files pack >> m/10 keys)
    * and needs a bigger m or smaller files. */
  def prunedPointRead(spark: SparkSession, index: DataFrame, keyCol: String,
                      value: Any, requirePruned: Boolean = false): DataFrame =
    prunedInRead(spark, index, keyCol, Seq(value), requirePruned)

  /** IN-list read: files admitting ANY probe survive, then the exact
    * `isin` re-filters. */
  def prunedInRead(spark: SparkSession, index: DataFrame, keyCol: String,
                   values: Seq[Any], requirePruned: Boolean = false): DataFrame = {
    val (keep, total) = candidateFiles(spark, index, values)
    if (requirePruned)
      require(keep.length < total,
        s"bloom pruning eliminated nothing ($total files all admit the " +
          s"probe set) — the index is saturated for '$keyCol'; raise MBits " +
          "or write smaller files")
    // no survivor: provably no file holds a probe (no false negatives)
    FileListing.readSurvivors(spark, keep.toSeq,
      index.select(col("file")).head.getString(0),
      exactInPredicate(index, keyCol, values))
  }

  /** The exact IN re-filter with probes cast to the indexed key type —
    * the same type discipline the hash probe uses (isin's implicit
    * coercion covers the common cases but not, e.g., a string probe
    * against a numeric key). Shared with [[ComposedScan]]. */
  private[operators] def exactInPredicate(index: DataFrame, keyCol: String,
                                          values: Seq[Any]): Column =
    indexKeyType(index) match {
      case Some(t) => values.map(v => col(keyCol) === lit(v).cast(t))
        .reduce(_ || _)
      case None => col(keyCol).isin(values: _*)
    }
}
