package graft

/** Local smoke runner: flagship entry + row count (mirrors the driver's
  * t1 smoke). `sbt -batch "runMain graft.Smoke"`. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.builder("graft-smoke", 8).master("local[8]").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t0 = System.nanoTime()
    // `runMain graft.Smoke <queryName> [sfDir]` smokes ONE registered
    // query; no args = the flagship entry (the driver's t1 smoke)
    val df = if (args.nonEmpty)
      SparkEntry.queries(args(0))(spark,
        if (args.length > 1) args(1) else "/root/testdata/sf0.001")
    else SparkEntry.entry(spark)
    val n = df.count()
    println(f"[smoke] ${if (args.nonEmpty) args(0) else "entry"} rows = $n in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    df.show(10, truncate = false)
    spark.stop()
  }
}
