package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Dump `.explain("formatted")` for named SparkEntry queries to files —
  * the round-16 optimization evidence trail (plans/r16/<q>_{before,after}.txt).
  * Usage: runMain graft.tools.PlanDump <outDir> <suffix> <q1,q2,...>
  * Not part of the driver contract. Stateful lanes run their setup
  * (folds) as a side effect of building the DataFrame; the dumped plan
  * is the lane's FINAL query — the stage the bench times last and the
  * one carrying the join/exchange decisions the claims reference.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    Files.createDirectories(Paths.get(outDir))
    for (nm <- names) {
      try {
        val df = graft.SparkEntry.queries(nm)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          ExplainMode.fromString("formatted"))
        Files.write(Paths.get(outDir, s"${nm}_$suffix.txt"),
          txt.getBytes(StandardCharsets.UTF_8))
        System.err.println(s"[plandump] wrote $nm ($suffix)")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $nm FAILED: $e")
      }
    }
    spark.stop()
  }
}
