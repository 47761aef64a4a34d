package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}

/** Round-tripping file names captured via `input_file_name()` back into
  * `spark.read.parquet(...)`.
  *
  * `input_file_name()` reports the file's URI form — spaces become
  * `%20`, and other reserved characters arrive percent-escaped — while
  * `DataFrameReader.parquet` treats every argument as a GLOB pattern,
  * where `%`-escapes fail to match the on-disk name and metacharacters
  * (`[`, `{`, `*`, `?`) match the wrong files entirely. Every file-level
  * index that lists files from scan output and re-reads the survivors
  * ([[BloomIndex]], [[ZoneMap]], [[ComposedScan]]) reads them through
  * [[readSurvivors]], so the round-trip is exact for any file name. */
private[graft] object FileListing {

  /** URI-decode `fileUri` (keeping scheme and authority — an HDFS/S3
    * URI's host must survive) and backslash-escape glob metacharacters
    * so the reader lists exactly this file. */
  private def readablePath(fileUri: String): String = {
    val decoded =
      try new org.apache.hadoop.fs.Path(new java.net.URI(fileUri)).toString
      catch {
        // not URI-shaped (already a plain path): use as-is
        case _: java.net.URISyntaxException => fileUri
        case _: IllegalArgumentException => fileUri
      }
    decoded.replaceAll("([{}\\[\\]*?\\\\])", "\\\\$1")
  }

  /** The pruned read every file-level index ends in: the surviving files
    * `keep` (as `input_file_name()` reported them) re-filtered by the
    * `exact` predicate — an index only narrows the listing, it never
    * answers the predicate. When nothing survives, an empty frame with
    * the schema of `anyFile` (any file of the same table). Both are
    * by-name: each is only evaluated on the branch that needs it. */
  def readSurvivors(spark: SparkSession, keep: Seq[String], anyFile: => String,
                    exact: => Column): DataFrame =
    if (keep.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        spark.read.parquet(readablePath(anyFile)).schema)
    else spark.read.parquet(keep.map(readablePath): _*).filter(exact)
}
