package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration: every main and the test suites build
  * their session here, so a query or fold runs under the same conf
  * everywhere and nothing needs to change conf at run time.
  */
object GraftSession {
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet stores TIMESTAMP(NANOS); read it as epoch-ns longs
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the HL7 wire parses project hundreds of fields — far over the
      // default whole-stage-codegen cap of 100, which silently drops them
      // to interpreted eval (~30% slower measured, SCALING.md "Pipeline
      // fan-out")
      .config("spark.sql.codegen.maxFields", "2000")
      // stable generated-class names: the Janino cache keys on source
      // text (comments excluded), so without the per-stage id in the
      // class name, structurally identical stages across lanes, reps and
      // micro-batches compile ONCE (q195's warm rep recompiled 0 classes
      // with this off vs 4 with it on; COVERAGE.md round-15 codegen row)
      .config("spark.sql.codegen.useIdInClassName", "false")
      // Spark 4.1's HybridAnalyzer RANDOMLY samples queries to dual-run
      // through the experimental single-pass resolver
      // (SQLConf.ANALYZER_DUAL_RUN_SAMPLE_RATE + a Random in
      // HybridAnalyzer) and throws when the two resolvers disagree — a
      // coin-flip analysis failure killed the round-6 bench run. Pin the
      // legacy fixed-point resolver only.
      .config("spark.sql.analyzer.singlePassResolver.dualRunWithLegacy", "false")
      .config("spark.sql.analyzer.singlePassResolver.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
