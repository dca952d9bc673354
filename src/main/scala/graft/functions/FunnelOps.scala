package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The quality funnel's signal computation as ONE native kernel per row
  * (round 17): the Gopher/C4 heuristic gate ([[graft.operators
  * .TextAnalysis.qualityKeep]] / `qualityFunnel` / `repetitionStats`)
  * was a ~10-HOF interpreted pyramid per document — six separate
  * tokenizations, quadratic n-gram occurrence counting inside
  * `transform`/`filter` lambdas, and a 5-way language-score reduce —
  * measured as the DOMINANT cost of every funnel-gated encode
  * (OPTIMIZATION_r17.md change 5: a corpus encode pass 0.29 s without
  * the funnel, 6.12 s with it, single partition). One kernel call computes every
  * signal in one pass with hash-map gram counting.
  *
  * Bit-exact replication of the relational form:
  *   - tokens: Spark `trim` (ASCII 0x20 only) + Java-regex `\s+` split
  *     limit -1, empty tokens dropped; `length()` counts CODE POINTS
  *     (UTF8String.numChars), not UTF-16 units;
  *   - lines: split on `\n`, keep lines with any non-space char, line
  *     length/identity over the UNtrimmed line;
  *   - top-2-gram: max over distinct joined 2-grams by
  *     (count, cp-length−1, gram) with the gram tie-break in BINARY
  *     UTF-8 order (Spark struct max semantics);
  *   - dup-5-gram: Σ count·(cp-length−4) over distinct 5-grams with
  *     count > 1, capped at 1.0 after the exact long→double division;
  *   - language id: whole-text UTF8String.toLowerCase, re-tokenized,
  *     scored per lexicon, FIRST max in ascending language order,
  *     "und" when every score is 0 (exactly the `reduce(when(y > x))`
  *     fold over the alphabetically sorted languages);
  *   - null text → the legacy column values: null counts, 0.0
  *     fractions, "und" (the `when(...)` guards all fell through to
  *     their `otherwise`).
  *
  * `FunnelKernelSpec` pins the kernel against the verbatim pre-swap HOF
  * formulation on an edge corpus.
  */
object FunnelStatsImpl {
  private val WS = java.util.regex.Pattern.compile("\\s+")
  private val NL = java.util.regex.Pattern.compile("\n")

  /** Shared with [[graft.operators.TextAnalysis]]'s Column-form langId
    * — one source for the lexicons, ascending language order.
    */
  val LangLexicons: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "nicht", "mit"),
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it"),
    "es" -> Seq("el", "la", "los", "las", "es", "una", "que", "por"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "une", "est"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不"))

  private val langSets: Array[(String, java.util.HashSet[String])] =
    LangLexicons.map { case (l, lex) =>
      val s = new java.util.HashSet[String]()
      lex.foreach(s.add)
      (l, s)
    }.toArray

  private val UND = UTF8String.fromString("und")

  private def cp(s: String): Int = s.codePointCount(0, s.length)

  private def trimSpaces(raw: String): String = {
    var st = 0
    var en = raw.length
    while (st < en && raw.charAt(st) == ' ') st += 1
    while (en > st && raw.charAt(en - 1) == ' ') en -= 1
    if (st == 0 && en == raw.length) raw else raw.substring(st, en)
  }

  private def hasNonSpace(s: String): Boolean = {
    var i = 0
    while (i < s.length) { if (s.charAt(i) != ' ') return true; i += 1 }
    false
  }

  /** UTF-8 binary comparison — Spark's string ordering. */
  private def binaryLess(a: String, b: String): Boolean =
    UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0

  def stats(input: UTF8String,
            stops: java.util.HashSet[String]): InternalRow = {
    val out = new GenericInternalRow(10)
    if (input == null) {
      // legacy null-text column values: counts null (size/aggregate of
      // a null array), fractions 0.0 (the when-guards' otherwise),
      // lang "und"
      out.update(5, 0.0); out.update(6, 0.0)
      out.update(7, 0.0); out.update(8, 0.0)
      out.update(9, UND)
      return out
    }
    val raw = input.toString
    val t = trimSpaces(raw)

    // ---- words (the shared tokenization: n_tokens == n_words) ----
    val split = WS.split(t, -1)
    var nw = 0
    var i = 0
    while (i < split.length) { if (split(i).length > 0) nw += 1; i += 1 }
    val words = new Array[String](nw)
    i = 0; var j = 0
    while (i < split.length) {
      if (split(i).length > 0) { words(j) = split(i); j += 1 }
      i += 1
    }
    var wordChars = 0L
    var nStop = 0L
    i = 0
    while (i < nw) {
      wordChars += cp(words(i))
      if (stops.contains(words(i))) nStop += 1
      i += 1
    }

    // ---- lines ----
    val rawLines = NL.split(t, -1)
    var nl = 0
    var lineChars = 0L
    var distLineChars = 0L
    var ndl = 0
    val seenLines = new java.util.HashSet[String]()
    i = 0
    while (i < rawLines.length) {
      val l = rawLines(i)
      if (hasNonSpace(l)) {
        nl += 1
        val c = cp(l)
        lineChars += c
        if (seenLines.add(l)) { ndl += 1; distLineChars += c }
      }
      i += 1
    }
    val dupLineFrac =
      if (nl > 0) (nl - ndl).toDouble / nl.toDouble else 0.0
    val dupLineCharFrac =
      if (lineChars > 0) (lineChars - distLineChars).toDouble /
        lineChars.toDouble
      else 0.0

    // ---- n-gram repetition signals ----
    var top2 = 0.0
    if (nw >= 2 && wordChars > 0) {
      val counts = new java.util.HashMap[String, Int](nw * 2)
      i = 0
      while (i < nw - 1) {
        val g = words(i) + " " + words(i + 1)
        counts.put(g, counts.getOrDefault(g, 0) + 1)
        i += 1
      }
      // max by (count, cp-length − 1, gram binary order) — distinct
      // grams, so the comparison is a total order and iteration order
      // cannot matter
      var bc = -1; var bl = -1; var bg: String = null
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val c = e.getValue
        val l = cp(e.getKey) - 1
        if (c > bc || (c == bc && (l > bl ||
            (l == bl && binaryLess(bg, e.getKey))))) {
          bc = c; bl = l; bg = e.getKey
        }
      }
      top2 = java.lang.Math.multiplyExact(bc, bl).toDouble /
        wordChars.toDouble
    }
    var dup5 = 0.0
    if (nw >= 5 && wordChars > 0) {
      val counts = new java.util.HashMap[String, Int](nw * 2)
      i = 0
      while (i < nw - 4) {
        val sb = new java.lang.StringBuilder(words(i))
        var k = 1
        while (k < 5) { sb.append(' ').append(words(i + k)); k += 1 }
        val g = sb.toString
        counts.put(g, counts.getOrDefault(g, 0) + 1)
        i += 1
      }
      var dupChars = 0L
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val c = e.getValue
        if (c > 1) dupChars += c.toLong * (cp(e.getKey) - 4)
      }
      dup5 = math.min(1.0, dupChars.toDouble / wordChars.toDouble)
    }

    // ---- language id over the lowercased full text ----
    val lowToks = WS.split(trimSpaces(input.toLowerCase.toString), -1)
    var bestScore = 0
    var bestLang: String = null
    var li = 0
    while (li < langSets.length) {
      val (lang, lex) = langSets(li)
      var s = 0
      i = 0
      while (i < lowToks.length) {
        if (lex.contains(lowToks(i))) s += 1
        i += 1
      }
      // strictly-greater keeps the FIRST max in ascending lang order —
      // the reduce(when(y.score > x.score, y)) fold over sorted langs
      if (bestLang == null || s > bestScore) { bestScore = s; bestLang = lang }
      li += 1
    }
    val lang = if (bestScore > 0) bestLang else "und"

    out.setLong(0, nw.toLong)       // n_tokens
    out.setLong(1, nStop)           // n_stop
    out.setLong(2, wordChars)       // word_chars
    out.setInt(3, nl)               // n_lines
    out.setInt(4, nw)               // n_words
    out.update(5, dupLineFrac)
    out.update(6, dupLineCharFrac)
    out.update(7, top2)
    out.update(8, dup5)
    out.update(9, UTF8String.fromString(lang))
    out
  }

  /** The keep PREDICATE over one kernel pass — the `qualityKeep`
    * conjunction in Java. Null text → false (the relational predicate
    * evaluated to null-or-false; a filter drops the row either way).
    */
  def keep(input: UTF8String, stops: java.util.HashSet[String],
           langs: java.util.HashSet[String], minTokens: Long,
           maxTokens: Long, maxStop10k: Long, minAvgLen10: Long,
           maxAvgLen10: Long): Boolean = {
    if (input == null) return false
    val r = stats(input, stops)
    val nTok = r.getLong(0)
    val nStop = r.getLong(1)
    val wc = r.getLong(2)
    nTok >= minTokens && nTok <= maxTokens &&
      wc * 10L >= nTok * minAvgLen10 && wc * 10L <= nTok * maxAvgLen10 &&
      nStop * 10000L <= nTok * maxStop10k &&
      r.getDouble(5) <= 0.30 && r.getDouble(6) <= 0.20 &&
      r.getDouble(7) <= 0.20 && r.getDouble(8) <= 0.15 &&
      langs.contains(r.getUTF8String(9).toString)
  }
}

/** struct of the funnel's per-doc signals — never null (null text gets
  * the legacy fall-through values; see [[FunnelStatsImpl.stats]]).
  */
case class FunnelStats(child: Expression, stopwords: Seq[String])
    extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = true),
    StructField("n_stop", LongType, nullable = true),
    StructField("word_chars", LongType, nullable = true),
    StructField("n_lines", IntegerType, nullable = true),
    StructField("n_words", IntegerType, nullable = true),
    StructField("dup_line_frac", DoubleType, nullable = false),
    StructField("dup_line_char_frac", DoubleType, nullable = false),
    StructField("top_2gram_char_frac", DoubleType, nullable = false),
    StructField("dup_5gram_char_frac", DoubleType, nullable = false),
    StructField("lang_guess", StringType, nullable = false)))
  override def nullable: Boolean = false
  override def prettyName: String = "funnel_stats"

  @transient private lazy val stopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    stopwords.foreach(s.add)
    s
  }

  override def eval(input: InternalRow): Any =
    FunnelStatsImpl.stats(child.eval(input).asInstanceOf[UTF8String],
      stopSet)

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val impl = FunnelStatsImpl.getClass.getName.stripSuffix("$")
    val stops = ctx.addReferenceObj("stopSet", stopSet,
      "java.util.HashSet<String>")
    val c = child.genCode(ctx)
    ev.copy(code =
      code"""
        ${c.code}
        org.apache.spark.sql.catalyst.InternalRow ${ev.value} =
          $impl.stats(${c.isNull} ? null : ${c.value}, $stops);
      """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): FunnelStats =
    copy(child = newChild)
}

/** boolean keep decision, never null (null text → false). */
case class FunnelKeep(child: Expression, stopwords: Seq[String],
                      langs: Seq[String], minTokens: Long, maxTokens: Long,
                      maxStop10k: Long, minAvgLen10: Long,
                      maxAvgLen10: Long)
    extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "funnel_keep"

  @transient private lazy val stopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    stopwords.foreach(s.add)
    s
  }
  @transient private lazy val langSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    langs.foreach(s.add)
    s
  }

  override def eval(input: InternalRow): Any =
    FunnelStatsImpl.keep(child.eval(input).asInstanceOf[UTF8String],
      stopSet, langSet, minTokens, maxTokens, maxStop10k, minAvgLen10,
      maxAvgLen10)

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val impl = FunnelStatsImpl.getClass.getName.stripSuffix("$")
    val stops = ctx.addReferenceObj("stopSet", stopSet,
      "java.util.HashSet<String>")
    val ls = ctx.addReferenceObj("langSet", langSet,
      "java.util.HashSet<String>")
    val c = child.genCode(ctx)
    ev.copy(code =
      code"""
        ${c.code}
        boolean ${ev.value} = $impl.keep(${c.isNull} ? null : ${c.value},
          $stops, $ls, ${minTokens}L, ${maxTokens}L, ${maxStop10k}L,
          ${minAvgLen10}L, ${maxAvgLen10}L);
      """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): FunnelKeep =
    copy(child = newChild)
}

object FunnelOps {
  /** Column API: the funnel signal struct of text. */
  def funnelStats(text: Column, stopwords: Seq[String]): Column =
    ColumnBridge.column(FunnelStats(ColumnBridge.expression(text),
      stopwords))

  /** Column API: the funnel keep predicate of text. */
  def funnelKeep(text: Column, stopwords: Seq[String], langs: Seq[String],
                 minTokens: Long, maxTokens: Long, maxStop10k: Long,
                 minAvgLen10: Long, maxAvgLen10: Long): Column =
    ColumnBridge.column(FunnelKeep(ColumnBridge.expression(text),
      stopwords, langs, minTokens, maxTokens, maxStop10k, minAvgLen10,
      maxAvgLen10))
}
