package perfbench

import java.util.SplittableRandom

/** Seeded input generators. Every workload's input is built here, before
  * any timing, from `--seed` alone; the program under test only ever sees
  * the generated rows.
  *
  * The shapes mirror the sf0.1 test tables the repository's queries use
  * (`events`: rows over 1,500 users and 30 days; `documents`: 5,000
  * short texts in five languages), regenerated here so the benchmark reads
  * nothing outside its checkout.
  */
object Gen {

  /** One wire message as delivered. `key` identifies the message (its
    * MSH-10 control id): a duplicate delivery repeats the key.
    */
  final case class Wire(key: String, raw: String, malformed: Boolean)

  val Users = 1500
  private val BaseUs = 1704067200000000L // 2024-01-01T00:00:00Z
  private val SpanUs = 30L * 86400L * 1000000L

  private def dtm(us: Long): String = {
    val t = java.time.LocalDateTime.ofEpochSecond(us / 1000000L, 0,
      java.time.ZoneOffset.UTC)
    f"${t.getYear}%04d${t.getMonthValue}%02d${t.getDayOfMonth}%02d" +
      f"${t.getHour}%02d${t.getMinute}%02d${t.getSecond}%02d"
  }

  private def pv1(loc: String, visit: String, dischargeDtm: String = "") =
    (Seq("PV1", "1", "I", loc) ++ Seq.fill(15)("") ++ Seq(visit) ++
      Seq.fill(25)("") :+ dischargeDtm).mkString("|")

  /** `events`-shaped rows: (event id, user, event time µs), in time order. */
  private def events(rnd: SplittableRandom, n: Int): IndexedSeq[(Long, Int, Long)] =
    (0 until n).map { i =>
      val ts = BaseUs + (SpanUs * i / n) + rnd.nextLong(SpanUs / n)
      (i.toLong, rnd.nextInt(Users), ts)
    }

  /** ADT^A01/A02/A03/A08 messages plus A40 merges (the q71/q72 wire
    * shapes) rendered from `events`-shaped rows, one per event, in valid
    * time order. `tag` keeps control ids of different streams apart.
    */
  def adtMessages(rnd: SplittableRandom, n: Int, tag: String): IndexedSeq[Wire] =
    events(rnd, n).map { case (eid, uid, ts) =>
      val d = dtm(ts)
      val id = f"$tag$eid%09d"
      val roll = rnd.nextInt(100)
      val trig =
        if (roll < 2) "A40" else if (roll < 22) "A01"
        else if (roll < 60) "A02" else if (roll < 80) "A08" else "A03"
      val segs =
        if (trig == "A40")
          Seq(s"MSH|^~\\&|EPIC|UCLH|||$d||ADT^A40|$id|P|2.4",
            s"EVN|A40|$d", s"PID|1||M$uid^^^MRN^MRN",
            // the absorbed MRN comes from a range no survivor uses, so
            // merges never form a cycle
            s"MRG|M${Users + rnd.nextInt(Users)}^^^MRN^MRN")
        else
          Seq(s"MSH|^~\\&|EPIC|UCLH|||$d||ADT^$trig|$id|P|2.4",
            s"EVN|$trig|$d||||$d", s"PID|1||M$uid^^^MRN^MRN",
            pv1(s"W${uid % 12}^R${rnd.nextInt(8)}^B${rnd.nextInt(24)}",
              s"V$uid", if (trig == "A03") d else ""))
      Wire(id, segs.mkString("\r"), malformed = false)
    }

  /** An ADT^A08 without an MRN: routable, but the adt family guard
    * dead-letters it (`missing_mrn`).
    */
  def malformedAdt(rnd: SplittableRandom, i: Int, tag: String): Wire = {
    val d = dtm(BaseUs + rnd.nextLong(SpanUs))
    val id = f"${tag}X$i%08d"
    Wire(id, Seq(s"MSH|^~\\&|EPIC|UCLH|||$d||ADT^A08|$id|P|2.4",
      s"EVN|A08|$d", "PID|1||^^^MRN^MRN", pv1("W0^R0^B0", "V0"))
      .mkString("\r"), malformed = true)
  }

  /** Delivery order of a message stream: `malformedShare` malformed frames
    * mixed in, `lateShare` of messages delivered up to `maxDelay`
    * positions late, and `dupShare` re-delivered (same control id) up to
    * `maxDelay` positions after their first delivery. Malformed frames
    * are never duplicated, so the dead-letter count equals the number
    * injected.
    */
  def deliver(rnd: SplittableRandom, msgs: IndexedSeq[Wire],
              malformedShare: Double, lateShare: Double, dupShare: Double,
              maxDelay: Int, tag: String): IndexedSeq[Wire] = {
    val withBad = msgs.zipWithIndex.flatMap { case (m, i) =>
      if (rnd.nextDouble() < malformedShare)
        Seq(m, malformedAdt(rnd, i, tag)) else Seq(m)
    }
    val keyed = withBad.zipWithIndex.flatMap { case (m, i) =>
      val pos =
        if (rnd.nextDouble() < lateShare) i + 1.0 + rnd.nextInt(maxDelay)
        else i.toDouble
      val first = (pos, m)
      if (!m.malformed && rnd.nextDouble() < dupShare)
        Seq(first, (pos + 1.0 + rnd.nextInt(maxDelay) + 0.5, m))
      else Seq(first)
    }
    keyed.sortBy(_._1).map(_._2)
  }

  /** Deduplicated by control id, first delivery kept. */
  def distinct(msgs: Seq[Wire]): Seq[Wire] = {
    val seen = scala.collection.mutable.HashSet.empty[String]
    msgs.filter(m => seen.add(m.key))
  }

  final case class Doc(docId: Long, text: String, lang: String)

  private val Vocab = ("spark line column order small sort fast value scan " +
    "batch part table query agg hash join merge group filter stream big " +
    "slow vector key customer the a of to and data index shard window " +
    "token model train eval score rank chunk").split(" ")
  private val Langs = Seq("en" -> 41, "es" -> 15, "zh" -> 15, "de" -> 14,
    "fr" -> 15)

  /** `documents`-shaped rows. Every 25th document is a near copy of an
    * earlier one (a few words changed), so the near-dup and span gates
    * have real work.
    */
  def documents(rnd: SplittableRandom, n: Int): IndexedSeq[Doc] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Doc]
    (0 until n).foreach { i =>
      val r = rnd.nextInt(100)
      val lang = Langs.scanLeft(("", 0)) { case ((_, acc), (l, w)) =>
        (l, acc + w) }.tail.find(_._2 > r).get._1
      val text =
        if (i > 0 && i % 25 == 0) {
          val src = out(rnd.nextInt(out.size)).text.split(" ")
          src.map(w => if (rnd.nextInt(12) == 0) Vocab(rnd.nextInt(Vocab.length))
            else w).mkString(" ")
        } else
          Seq.fill(20 + rnd.nextInt(50))(Vocab(rnd.nextInt(Vocab.length)))
            .mkString(" ")
      out += Doc(i.toLong, text, lang)
    }
    out.toIndexedSeq
  }
}
