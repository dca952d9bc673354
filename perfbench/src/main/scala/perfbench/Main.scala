package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** One benchmark run: one workload, one seed, one JVM.
  *
  * {{{
  * Main --workload <adt_live|doc_curation>
  *      --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *      [--trace-out <file>] [--corrupt-expected]
  * }}}
  *
  * The last line of standard output is the result object. With
  * `--trace 0` it carries the end-to-end metrics; with `--trace 1` the
  * per-layer metrics, and the spans go to `--trace-out`. A failed
  * correctness check prints `"correct": false` and exits with status 1.
  * `--corrupt-expected` alters one expected digest, to show that a
  * mismatch fails the run.
  */
object Main {

  final case class Metric(value: Double, unit: String)

  /** What a workload hands back: counts of attempted and failed
    * operations, correctness mismatches, and metrics by name.
    */
  final case class Outcome(attempted: Long, failed: Long,
                           mismatches: Seq[String],
                           endToEnd: Map[String, Metric],
                           perLayer: Map[String, Metric])

  final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
                       tracer: Tracer, work: Path, corrupt: Boolean,
                       cores: Int) {
    def dir(name: String): String = {
      val p = work.resolve(name)
      Files.createDirectories(p)
      p.toString
    }
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opts.getOrElse("workload", sys.error("--workload is required"))
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val traceOn = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts.getOrElse("work", "perfbench-work")).toAbsolutePath
    val corrupt = args.contains("--corrupt-expected")
    val run: Ctx => Outcome = workload match {
      case "adt_live" => Workloads.adtLive
      case "doc_curation" => Workloads.docCuration
      case other => sys.error(s"unknown workload $other")
    }

    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.maxFields", "2000")
      .config("spark.sql.analyzer.singlePassResolver.dualRunWithLegacy", "false")
      .config("spark.sql.analyzer.singlePassResolver.enabled", "false")
      // stable generated-class names, so structurally identical stages of
      // successive batches hit the compiled-class cache (as graft.Bench)
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.local.dir", work.resolve("spark").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(traceOn, spark.sparkContext)
    val ctx = Ctx(spark, seed, seconds, tracer, work, corrupt, cores)

    val out = try run(ctx) finally {
      if (traceOn) {
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        opts.get("trace-out").foreach(p => tracer.write(Paths.get(p)))
      }
    }
    val metrics = if (traceOn) out.perLayer else out.endToEnd
    val body = metrics.toSeq.sortBy(_._1).map { case (k, m) =>
      s"${Json.str(k)}: {${Json.str("value")}: ${Json.num(m.value)}, " +
        s"${Json.str("unit")}: ${Json.str(m.unit)}}"
    }.mkString("{", ", ", "}")
    out.mismatches.foreach(m => System.err.println(s"[perfbench] MISMATCH $m"))
    val ok = out.mismatches.isEmpty
    println(s"""{"correct": $ok, "attempted": ${out.attempted}, """ +
      s""""failed": ${out.failed}, "metrics": $body}""")
    System.out.flush()
    spark.stop()
    if (!ok) sys.exit(1)
  }

  /** Seconds since this JVM started: set-up time includes JVM start. */
  def sinceJvmStart: Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
}
