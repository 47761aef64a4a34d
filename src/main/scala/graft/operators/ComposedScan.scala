package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** COMPOSED FILE SKIPPING: plan one read against BOTH per-file indexes
  * of a lake at once — the bloom membership index ([[BloomIndex]],
  * equality/IN probes, layout-independent) and the zone-map envelope
  * index ([[ZoneMap]], range predicates, effective on a range-clustered
  * layout). A conjunctive predicate `key IN (…) AND lo <= range <= hi`
  * may only match rows in files BOTH indexes admit, so the surviving
  * listing is the INTERSECTION of the two candidate sets — strictly no
  * larger than either index alone, and typically far smaller: the
  * range cut follows the layout, the membership cut follows content,
  * and the two are independent. This is exactly how a lakehouse
  * metadata layer (Delta/Iceberg file stats + bloom skipping) stacks
  * its skipping predicates; here the composition is an explicit,
  * auditable operator.
  *
  * Exactness: each index only ever NARROWS its own candidate list
  * (bloom: no false negatives; zone map: envelope intersection is
  * necessary for a range match), the intersection of two supersets of
  * the matching-file set is still a superset, and the full exact
  * predicate re-filters inside the survivors — false positives cost a
  * file open, never a wrong row.
  *
  * Scale shape: two metadata-scale index scans (rows = files), one
  * driver-side set intersection over file names, one pruned read.
  * Nothing corpus-sized is touched before the final scan. */
object ComposedScan {

  /** Read `keyCol IN (values) AND lo <= rangeCol <= hi` planned against
    * a bloom index on `keyCol` and a zone-map stats index on
    * `rangeCol`, listing only files both admit. `requirePruned` asserts
    * the composed listing pruned (fails loud naming all three counts —
    * a saturation/layout problem that defeats both indexes at once must
    * surface, not silently full-scan); the strictly-beats-each-alone
    * property is asserted at gate scale in ComposedScanSpec. */
  def bloomZoneRead(spark: SparkSession, bloomIndex: DataFrame,
                    keyCol: String, values: Seq[Any], stats: DataFrame,
                    rangeCol: String, lo: Long, hi: Long,
                    requirePruned: Boolean = false): DataFrame = {
    val (bloomKeep, total) = BloomIndex.candidateFiles(spark, bloomIndex, values)
    val (zoneKeep, zTotal) = ZoneMap.candidateFilesRange(stats, lo, hi)
    // snapshot agreement on the file-name SETS, not their counts: two
    // indexes built over different snapshots with equal file counts
    // (a rewrite preserving partition count) would pass a count check
    // and stale zone stats could then false-negatively prune live
    // files. An order-insensitive xor-of-hashes signature over the
    // distinct names costs one metadata-scale aggregate per index —
    // the full name sets never reach the driver.
    def fileSetSig(idx: DataFrame): Long = {
      val r = idx.select(col("file")).distinct()
        .agg(expr("bit_xor(xxhash64(file))")).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    require(total == zTotal && fileSetSig(bloomIndex) == fileSetSig(stats),
      s"bloom index ($total files) and zone-map stats ($zTotal files) " +
        "describe different file sets — the two indexes were built from " +
        "different snapshots of the lake; rebuild/refresh them from the " +
        "same committed state")
    val keep = bloomKeep.toSet.intersect(zoneKeep.toSet).toSeq.sorted
    if (requirePruned)
      require(keep.length < total,
        s"composed skipping eliminated nothing (bloom ${bloomKeep.length}, " +
          s"zone ${zoneKeep.length}, composed ${keep.length} of $total " +
          "files) — the bloom is saturated AND the layout is not " +
          s"range-clustered on '$rangeCol'")
    FileListing.readSurvivors(spark, keep,
      stats.select(col("file")).head.getString(0),
      BloomIndex.exactInPredicate(bloomIndex, keyCol, values) &&
        col(rangeCol).between(lo, hi))
  }
}
