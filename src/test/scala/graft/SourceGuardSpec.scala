package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Source-scan guards for structural rules the compiler cannot see;
  * like `CoverageDocSpec`, they read the tree at test time.
  */
class SourceGuardSpec extends AnyFunSuite {

  test("one commit path: only VersionedDir renames a file atomically") {
    // every persisted family swaps its pointer through
    // VersionedDir.commit; a second atomic rename would fork the commit
    // protocol (forced temp file, fresh version dirs) again
    val root = Paths.get("src/main/scala")
    val walk = Files.walk(root)
    val movers =
      try walk.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filter(p => new String(Files.readAllBytes(p), UTF_8)
          .contains("ATOMIC_MOVE"))
        .map(p => root.relativize(p).toString).toList.sorted
      finally walk.close()
    assert(movers == List("graft/streaming/VersionedDir.scala"), movers)
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
}
