package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Source-scan guards for structural rules the compiler cannot see;
  * like `CoverageDocSpec`, they read the tree at test time.
  */
class SourceGuardSpec extends AnyFunSuite {

  /** One entry per match of `token` in the files under `roots`: the
    * file's path relative to its root, sorted. */
  private def sitesMatching(token: String, roots: String*): List[String] =
    roots.toList.flatMap { r =>
      val root = Paths.get(r)
      val walk = Files.walk(root)
      try walk.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap(p => token.r.findAllIn(
          new String(Files.readAllBytes(p), UTF_8))
          .map(_ => root.relativize(p).toString)).toList
      finally walk.close()
    }.sorted

  /** Files under `roots` whose text matches `token`, relative to their
    * root, sorted. */
  private def filesMatching(token: String, roots: String*): List[String] =
    sitesMatching(token, roots: _*).distinct

  test("one commit path: only VersionedDir renames a file atomically") {
    // every persisted family swaps its pointer through
    // VersionedDir.commit; a second atomic rename would fork the commit
    // protocol (forced temp file, fresh version dirs) again
    val movers = filesMatching("ATOMIC_MOVE", "src/main/scala")
    assert(movers == List("graft/streaming/VersionedDir.scala"), movers)
  }

  test("one session configuration: only GraftSession builds a session") {
    // a second builder drifts from the production conf (codegen cap,
    // resolver pins), and what a spec exercises then depends on which
    // session ran it
    val builders = filesMatching("SparkSession\\.builder",
      "src/main/scala", "src/test/scala")
    assert(builders == List("graft/GraftSession.scala"), builders)
  }

  test("no run-time conf writes: no main source calls conf.set") {
    // a conf write from library code changes every later query on the
    // caller's session; the conf is fixed where the session is built
    val writers = filesMatching("\\bconf\\.set\\w*\\(", "src/main/scala")
    assert(writers.isEmpty, writers)
  }

  test("one routing decision: WirePipeline restates none of the router's") {
    // which channels a batch holds is RoutedWire.holds, built from
    // Hl7Wire.route's own predicates; a driver-side copy of them drifts
    val src = new String(Files.readAllBytes(
      Paths.get("src/main/scala/graft/streaming/WirePipeline.scala")), UTF_8)
    val codingSystems = "LabFunnel\\.[A-Z]\\w*".r.findAllIn(src).toList
    assert(codingSystems.isEmpty, codingSystems)
    val mshLiterals = "\"(ADT|ORU|ORM|ORR|PPR|SIU|[AORS]\\d\\d|PC\\d)\"".r
      .findAllIn(src).toList
    assert(mshLiterals.isEmpty, mshLiterals)
    val mirrors = "\\b(handledKind|anyDead|has[A-Z]\\w*)\\b".r
      .findAllIn(src).toList
    assert(mirrors.isEmpty, mirrors)
    assert(src.contains("DeadLetter.adtRules"))
  }

  test("one guard site and one star-fold site in WirePipeline") {
    // the families are rows of a table the fold loops over: a guard or a
    // star fold reached through a helper called once per family is the
    // hand-written chain again
    val src = new String(Files.readAllBytes(
      Paths.get("src/main/scala/graft/streaming/WirePipeline.scala")), UTF_8)
    def sites(call: String): Int = call.r.findAllIn(src).size
    // how often the def around the first `call` (the nearest `def`
    // before it) is itself called
    def callsOfEnclosingDef(call: String): Int = {
      val at = call.r.findFirstMatchIn(src).get.start
      val name = "\\bdef (\\w+)".r.findAllMatchIn(src.substring(0, at))
        .toList.last.group(1)
      sites(s"\\b$name\\(") - 1
    }
    assert(sites("DeadLetter\\.route\\(") == 1)
    assert(sites("\\bsink\\.fold\\(") == 1)
    assert(sites("\\bsink\\.foldBitemporal\\(") == 1)
    for (call <- Seq("DeadLetter\\.route\\(", "\\bsink\\.fold\\("))
      assert(callsOfEnclosingDef(call) == 1, call)
  }

  test("one fold body: only the star and wire folds pin frames") {
    // every sink folds through StarPipeline.foldWith, which pins the
    // batch, probes its buckets and runs the kernel step; a second body
    // that pins would be a second fold skeleton to keep in step
    val pinners = filesMatching("new (StarPipeline\\.)?Pins\\b",
      "src/main/scala")
    assert(pinners == List("graft/streaming/StarPipeline.scala",
      "graft/streaming/WirePipeline.scala"), pinners)
  }

  test("one hash family: no near-dup or LSH operator takes a portable flag") {
    // the oracle-replayable poly-hash / sign-plane path is the only one;
    // a flag choosing another hash would put the same text into buckets
    // that never meet the oracle's or another caller's
    val flagged = filesMatching(
      "\\bportable\\s*:\\s*Boolean|\\bportable\\s*=(?!=)", "src/main/scala")
    assert(flagged.isEmpty, flagged)
  }

  test("one segment-ownership rule: one site pairs segments with their " +
      "index") {
    // which segments an HL7 anchor owns is Hl7Wire.owned, over the
    // (seg, pos) entries of Hl7Wire.positioned; a second pairing is a
    // second copy of the OBR/OBX grouping to keep in step with it
    val pairings = sitesMatching(
      "\\w+\\.as\\(\"seg\"\\)\\s*,\\s*\\w+\\.as\\(\"pos\"\\)", "src/main/scala")
    assert(pairings == List("graft/sources/Hl7Wire.scala"), pairings)
  }

  test("one stream starter: only FoldStream starts a streaming query") {
    // checkpoint, trigger, output mode and foreachBatch are wired once
    val starters = filesMatching("\\.writeStream\\b", "src/main/scala")
    assert(starters == List("graft/streaming/FoldStream.scala"), starters)
  }
}
