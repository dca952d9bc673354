package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.DataFrame
import scala.jdk.CollectionConverters._

object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
}

object Stats {
  /** Nearest-rank percentile, `p` in (0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(((p / 100.0 * s.size).ceil.toInt - 1).max(0).min(s.size - 1))
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
}

/** Files under a state root, its manifests, and content hashes. */
object StateProbe {

  /** Every regular file under `root` with its size. */
  def files(root: String): Map[String, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      finally w.close()
    }
  }

  /** Star directories (those holding a `_CURRENT` pointer) under `root`. */
  def starDirs(root: String): Seq[Path] = {
    val p = Paths.get(root)
    if (!Files.isDirectory(p)) Nil else {
      val s = Files.list(p)
      try s.iterator().asScala.filter(d => Files.exists(d.resolve("_CURRENT")))
        .toSeq.sortBy(_.getFileName.toString)
      finally s.close()
    }
  }

  /** Current manifest entries of every star: (star, table, bucket) → path. */
  def manifest(root: String): Map[(String, String, String), String] =
    starDirs(root).flatMap { d =>
      val cur = new String(Files.readAllBytes(d.resolve("_CURRENT"))).trim
      new String(Files.readAllBytes(d.resolve(cur))).split("\n")
        .filter(_.nonEmpty).map(_.split("\t")).collect {
          case Array(t, b, rel) => (d.getFileName.toString, t, b) -> rel
        }
    }.toMap

  /** Order-independent digest of a frame's rows. */
  def hash(df: DataFrame): String = hashRows(df.collect().map(_.toString).toSeq)

  def hashRows(rows: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.sorted.foreach { r => md.update(r.getBytes("UTF-8")); md.update(10.toByte) }
    md.digest().take(12).map(b => f"$b%02x").mkString + s":${rows.size}"
  }
}
