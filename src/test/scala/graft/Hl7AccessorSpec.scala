package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Hl7Wire

/** The native HL7 accessors ([[graft.functions.Hl7Fields]] behind
  * `Hl7Wire.segment`/`segments`/`segmentsOf`/`fld`/`mshFld`/`cmp`/`rep1`
  * and `parseAdt`'s NHS-number read) pinned to the regex-split and
  * higher-order-function formulation they replaced: same values, nulls
  * included, on an edge corpus, through generated code and through the
  * interpreter.
  */
class Hl7AccessorSpec extends SparkSpecBase {
  import spark.implicits._

  // ---- the pre-native formulation, verbatim (the reference) ----
  private def segments(raw: Column): Column =
    filter(split(raw, "[\\r\\n]+"), s => length(s) > 0)

  private def segment(raw: Column, id: String): Column =
    get(filter(segments(raw), s => substring(s, 1, 3) === id), lit(0))

  private def segmentsOf(raw: Column, id: String): Column =
    filter(segments(raw), s => substring(s, 1, 3) === id)

  private def nullIfEmpty(c: Column): Column = when(c === "", lit(null)).otherwise(c)

  private def fld(seg: Column, i: Int): Column =
    nullIfEmpty(get(split(seg, "\\|"), lit(i)))

  private def mshFld(seg: Column, i: Int): Column =
    if (i == 1) lit("|") else nullIfEmpty(get(split(seg, "\\|"), lit(i - 1)))

  private def cmp(f: Column, k: Int): Column =
    nullIfEmpty(get(split(f, "\\^"), lit(k - 1)))

  private def rep1(f: Column): Column = nullIfEmpty(get(split(f, "~"), lit(0)))

  private def nhsOf(pidSeg: Column): Column =
    get(transform(
      filter(split(fld(pidSeg, 3), "~"),
        r => get(split(r, "\\^"), lit(4)) === "NHSNMBR"),
      r => get(split(r, "\\^"), lit(0))), lit(0))

  // ---- the edge corpus ----
  private val adt = Seq(
    "MSH|^~\\&|EPIC|UCLH|||20240102030405||ADT^A17|M1|P|2.4",
    "PID|1||40800000^^^MRN^MRN~9999999999^^^NHS^NHSNMBR||ORANGE^Zest",
    "PV1|1|I|T11E^BY02^BY02-17",
    "PID|2||555^^^MRN^MRN~^^^NHS^NHSNMBR~777^^^NHS^NHSNMBR",
    "PV1|2|E|ED^R1^B2||||||||||||||||V2")

  private val raws: Seq[String] = Seq(
    adt.mkString("\r"),
    adt.mkString("\n"),
    adt.mkString("\r\n"),
    adt.mkString("\r\r\r"),
    adt.mkString("\r", "\r\n", "\r\n\r"),
    // empty and missing fields; trailing separators
    "MSH|^~\\&||||||||||\rPID|||\rPV1|^^|~~|",
    "MSH|\rPID|1||^^^^NHSNMBR~^\rPID|1||~\rMRG|1~^~2^^|x|",
    "PID|1||a^b^c^d~x^^^^NHSNMBRX~y^^^^NHSNMBR^z~q^^^^NHSNMBR\r" +
      "PID|1||^^^^NHSNMBR^^\rPID|1||n^^^^NHS",
    // segments shorter than three characters, id prefixes
    "PI\rP\r\rZ\rPIDX|1||X1^^^MRN\rPID|2||X2\rPV|3\rPV1X|4",
    // multibyte UTF-8 in ids and values
    "MSH|^~\\&|ÜBER|名前|||20240101||ADT^A01|Ü1\r" +
      "PID|1||Ünï^^^MRN~名前^^^NHS^NHSNMBR||名前^太郎^ü\r" +
      "ÄPI|x\rPÏD|y\r😀|z\rPV1|😀|é^è^ê~ë|",
    // occurrences past the last segment: one of each
    "MSH|^~\\&|A|B\rPID|only\rPV1|only",
    "",
    "\r\n\r",
    "|||",
    null)

  private val ids =
    Seq("MSH", "PID", "PV1", "MRG", "OBX", "PI", "PIDX", "ÄPI", "PÏD", "😀", "")

  /** (name, native, reference) triples, compared row by row. */
  private type Case = (String, Column, Column)

  private def segmentCases(raw: Column): Seq[Case] =
    ("segments", Hl7Wire.segments(raw), segments(raw)) +:
      ids.flatMap { id =>
        Seq((s"segment($id)", Hl7Wire.segment(raw, id), segment(raw, id)),
          (s"segmentsOf($id)", Hl7Wire.segmentsOf(raw, id),
            segmentsOf(raw, id))) ++
          (-1 to 3).map(k => (s"segment($id, $k)",
            Hl7Wire.segment(raw, id, k), get(segmentsOf(raw, id), lit(k))))
      }

  private def pieceCases(s: Column, tag: String): Seq[Case] =
    (0 to 12).flatMap(i => Seq(
      (s"fld($tag, $i)", Hl7Wire.fld(s, i), fld(s, i)),
      (s"mshFld($tag, $i)", Hl7Wire.mshFld(s, i), mshFld(s, i)))) ++
      (0 to 6).map(k => (s"cmp($tag, $k)", Hl7Wire.cmp(s, k), cmp(s, k))) :+
      ((s"rep1($tag)", Hl7Wire.rep1(s), rep1(s)))

  /** `parseAdt`'s NHS-number reads (PID-3 of the first and second PID,
    * MRG-1 repetition 2) against their reference forms; the native
    * columns are read from `parseAdt`'s output. */
  private def adtCases(raw: Column): Seq[Case] = Seq(
    ("nhsNumber", col("nhsNumber"), nhsOf(segment(raw, "PID"))),
    ("otherNhsNumber", col("otherNhsNumber"),
      nhsOf(get(segmentsOf(raw, "PID"), lit(1)))),
    ("previousNhsNumber", col("previousNhsNumber"),
      cmp(get(split(fld(segment(raw, "MRG"), 1), "~"), lit(1)), 1)))

  /** Field-level cases over every segment of the corpus and over the
    * corpus strings themselves, one row per string. */
  private def pieceInputs: Seq[String] = {
    val segs = raws.filter(_ != null)
      .flatMap(_.split("[\\r\\n]+", -1).filter(_.nonEmpty))
    val fields = segs.flatMap(_.split("\\|", -1))
    (raws ++ segs ++ fields ++ Seq("^", "~", "^^", "~~", "a^", "a~", "^a",
      "é^ü~ß")).distinct
  }

  /** Assert every case's native column equals its reference on `df`'s
    * `s` column, row by row. */
  private def check(df0: DataFrame, cases: Column => Seq[Case],
                    prep: DataFrame => DataFrame): Unit = {
    val (df, cs) = (prep(df0), cases(col("s")))
    val rows = df.select(col("s") +: cs.zipWithIndex.flatMap { case ((_, n, r), i) =>
      Seq(n.as(s"n$i"), r.as(s"r$i")) }: _*).collect()
    assert(rows.length == df0.count())
    for (row <- rows; ((name, _, _), i) <- cs.zipWithIndex) {
      val (n, r) = (row.get(1 + 2 * i), row.get(2 + 2 * i))
      assert(n == r, s"$name on ${Option(row.getString(0)).map(
        _.replace("\r", "\\r").replace("\n", "\\n"))}: native $n, reference $r")
    }
  }

  /** Run `check` through generated code (an RDD source, codegen fallback
    * off, so a compile error fails instead of falling back) and through
    * the interpreter (a local relation, which the optimizer evaluates in
    * place). */
  private def bothPaths(inputs: Seq[String], cases: Column => Seq[Case],
                        prep: DataFrame => DataFrame = identity): Unit = {
    val generated: SparkSession = spark.newSession()
    generated.conf.set("spark.sql.codegen.fallback", "false")
    val rdd = generated.sparkContext.parallelize(inputs.map(Row(_)), 2)
    check(generated.createDataFrame(rdd,
      new org.apache.spark.sql.types.StructType().add("s", "string")), cases,
      prep)
    check(inputs.toDF("s"), cases, prep)
  }

  test("segments, segment (with occurrence) and segmentsOf equal the " +
      "regex-split reference") {
    bothPaths(raws, segmentCases)
  }

  test("fld, mshFld, cmp and rep1 equal the split reference") {
    bothPaths(pieceInputs, s => pieceCases(s, "s"))
  }

  test("fields of native segments equal fields of reference segments") {
    bothPaths(raws, raw => Seq("MSH", "PID", "PV1", "MRG").flatMap { id =>
      val (n, r) = (Hl7Wire.segment(raw, id), segment(raw, id))
      pieceCases(n, id).zip(pieceCases(r, id)).map {
        case ((name, nat, _), (_, _, ref)) => (name, nat, ref) }
    })
  }

  test("parseAdt's NHS-number reads equal the repetition-scan reference") {
    bothPaths(raws, adtCases, Hl7Wire.parseAdt(_, "s"))
  }

  test("null raw gives null, empty raw gives no segments") {
    val r = Seq[String](null, "").toDF("s").select(
      Hl7Wire.segments(col("s")), Hl7Wire.segment(col("s"), "MSH"),
      Hl7Wire.fld(col("s"), 0)).collect()
    assert(r(0) == Row(null, null, null))
    assert(r(1) == Row(Seq.empty[String], null, null))
  }
}
