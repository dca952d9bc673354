package graft.tools

/** Local iteration harness: time ONE named query from SparkEntry.queries
  * repeatedly (first run cold, then repeats), with the same session conf
  * as Bench. Not part of the driver contract.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    // warmup as in Bench
    spark.range(0, 1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/nation.parquet").count()
    for (nm <- name.split(","); fn = graft.SparkEntry.queries(nm);
         i <- 0 until reps) {
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[bench-one] $nm rep$i: $dt%.2f s ($n rows)")
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc()
    }
    spark.stop()
  }
}
