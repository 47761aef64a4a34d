package graft
object Consistency {
  def main(args: Array[String]): Unit = {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    println(s"queries=${q.size} oracles=${o.size} rows-only=${(q -- o).toSeq.sorted.mkString(",")}")
    val orphans = o -- q
    println(if (orphans.isEmpty) "no orphan oracles" else s"ORPHAN ORACLES: $orphans")
    val spark = GraftSession.local(4)
    val n = SparkEntry.entry(spark).count()
    println(s"entry rows=$n " + (if (n > 0) "SMOKE OK" else "SMOKE FAIL"))
    spark.stop()
  }
}
