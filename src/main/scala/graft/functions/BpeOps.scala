package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native BPE application: encode one word into its subword symbols
  * under a trained, ORDERED merge table.
  *
  * Semantics are sequential-in-training-order (Sennrich et al. 2016's
  * `apply_bpe`): symbolize the word at character level, then for each
  * merge step s = 1..N in order, rewrite (left_s, right_s) → merged_s
  * left-to-right non-overlapping. This is EXACTLY the rewrite the
  * training loop applied to the vocabulary, so encoding a word that
  * appeared in the training corpus reproduces the trained vocab state
  * bit-for-bit (the q104 oracle replays precisely that equivalence).
  *
  * Implementation does NOT scan all N merges per word — that would be
  * O(N·len) with N up to ~50k. Sequential application is equivalent to:
  * repeatedly apply the LOWEST-ranked merge whose pair is currently
  * present in the word AND whose rank exceeds the last applied rank
  * (between two applied steps the word doesn't change, so every skipped
  * rank's pair was absent; ranks below the cursor are never revisited —
  * a later merge can only create a pair for an EARLIER rank if two
  * distinct merges produce the same symbol string — theoretically
  * possible in BPE, never observed in randomized testing, and
  * [[graft.operators.TextAnalysis.bpeVocab]] dedups such products on
  * first occurrence for the same reason — which the rank-map keyed on
  * (left, right) pairs still resolves to the sequential result).
  * Cost: O(applications · pairs-in-word).
  *
  * `CodegenFallback` expressions, deliberately: the per-word merge
  * loop is imperative, and a fallback expression still avoids the Row
  * conversion + closure-serialization overhead of a Scala UDF. Keep it
  * out of inner per-element hot paths; one call per word is the
  * intended shape.
  *
  * Two transports for the merge table: [[BpeApply]] ships it INSIDE
  * the serialized expression (simple, fine for test-scale tables —
  * but a production 50k-merge table is ~1-2 MB of plan payload
  * re-deserialized with every task), [[BpeApplyBroadcast]] ships a
  * `Broadcast` handle (the table crosses the wire once per executor
  * via TorrentBroadcast and is shared by every task on it — the
  * production transport; measured and recorded in SCALING.md
  * "`BpeApply` transport"). Bit-identical outputs, spec-locked.
  */
object BpeApply {
  /** rank map: pair -> 1-based training step. If the same pair were
    * ever learned twice (impossible in a well-formed merge table —
    * once merged the pair no longer exists in the vocab), the FIRST
    * rank wins.
    */
  private[functions] def buildRanks(merges: IndexedSeq[(String, String)])
      : java.util.HashMap[(String, String), Int] = {
    val m = new java.util.HashMap[(String, String), Int](merges.size * 2)
    var i = 0
    while (i < merges.length) {
      if (!m.containsKey(merges(i))) m.put(merges(i), i + 1)
      i += 1
    }
    m
  }

  /** Uppercase two-hex-char rendering of every byte value — the
    * byte-level base alphabet. Fixed width keeps hex-string order ==
    * byte-value order, and `hex(encode(w, 'UTF-8'))` produces the
    * identical rendering in Spark SQL and DuckDB, so byte-level
    * merges replay portably.
    */
  private[functions] val ByteSym: Array[String] =
    Array.tabulate(256)(i => f"$i%02X")

  /** The shared rank-cursor merge loop (see class doc). `byteLevel`
    * symbolizes by UTF-8 BYTE (each rendered [[ByteSym]]) instead of
    * code point — the GPT-2 base-alphabet layout where NO input can
    * fall out of vocabulary (every byte is one of 256 base symbols).
    */
  private[functions] def encodeWord(word: String,
      merges: IndexedSeq[(String, String)],
      ranks: java.util.HashMap[(String, String), Int],
      byteLevel: Boolean): GenericArrayData = {
    // symbolize by code point (whole characters — a surrogate pair is
    // one symbol, never split), or by UTF-8 byte
    var syms = if (byteLevel) {
      val bytes = word.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val buf = new scala.collection.mutable.ArrayBuffer[String](bytes.length)
      var i = 0
      while (i < bytes.length) { buf += ByteSym(bytes(i) & 0xff); i += 1 }
      buf
    } else {
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < word.length) {
        val cp = word.codePointAt(i)
        val n = Character.charCount(cp)
        buf += word.substring(i, i + n)
        i += n
      }
      buf
    }
    var lastRank = 0
    var continue = syms.length >= 2 && !ranks.isEmpty
    while (continue) {
      // lowest rank above the cursor among pairs present in the word
      var bestRank = Int.MaxValue
      var j = 0
      while (j < syms.length - 1) {
        val r = ranks.get((syms(j), syms(j + 1)))
        if (r != null && r > lastRank && r < bestRank) bestRank = r
        j += 1
      }
      if (bestRank == Int.MaxValue) continue = false
      else {
        val (a, b) = merges(bestRank - 1)
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var k = 0
        while (k < syms.length) {
          if (k < syms.length - 1 && syms(k) == a && syms(k + 1) == b) {
            out += (a + b); k += 2
          } else { out += syms(k); k += 1 }
        }
        syms = out
        lastRank = bestRank
        if (syms.length < 2) continue = false
      }
    }
    new GenericArrayData(syms.map(UTF8String.fromString).toArray[Any])
  }
}

/** Merge table inside the serialized expression — see [[BpeApply$]]. */
case class BpeApply(child: Expression, merges: Seq[(String, String)],
                    byteLevel: Boolean = false)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "bpe_apply"

  @transient private lazy val idx = merges.toIndexedSeq
  @transient private lazy val ranks = BpeApply.buildRanks(idx)

  protected override def nullSafeEval(input: Any): Any =
    BpeApply.encodeWord(input.asInstanceOf[UTF8String].toString, idx,
      ranks, byteLevel)

  override protected def withNewChildInternal(newChild: Expression): BpeApply =
    copy(child = newChild)
}

/** Merge table behind a `Broadcast` handle — the production transport
  * for real vocabularies: the serialized expression carries only the
  * handle; executors fetch the table once (TorrentBroadcast) and every
  * task shares the deserialized ranks. Same loop, bit-identical output
  * to [[BpeApply]].
  */
case class BpeApplyBroadcast(child: Expression,
    bc: Broadcast[Array[(String, String)]],
    byteLevel: Boolean = false)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "bpe_apply_bc"

  @transient private lazy val idx: IndexedSeq[(String, String)] =
    scala.collection.immutable.ArraySeq.unsafeWrapArray(bc.value)
  @transient private lazy val ranks = BpeApply.buildRanks(idx)
  @transient private lazy val memo = new WordMemo()

  protected override def nullSafeEval(input: Any): Any = {
    val w = input.asInstanceOf[UTF8String].toString
    memo.getOrCompute(w) {
      BpeApply.encodeWord(w, idx, ranks, byteLevel).asInstanceOf[AnyRef]
    }
  }

  override protected def withNewChildInternal(
      newChild: Expression): BpeApplyBroadcast = copy(child = newChild)
}

object BpeOps {
  /** Column API: apply an ordered merge table to one word (string) →
    * array of BPE symbols. `merges` ships inside the expression — at
    * executor side it is part of the serialized plan, deserialized once
    * per task like any literal. For production-sized tables prefer
    * [[bpeApplyBc]].
    */
  def bpeApply(word: Column, merges: Seq[(String, String)]): Column =
    ColumnBridge.column(BpeApply(ColumnBridge.expression(word), merges))

  /** [[bpeApply]] with the merge table behind a broadcast variable:
    * `bc = spark.sparkContext.broadcast(merges.toArray)`. The plan
    * payload shrinks to the handle and the table is deserialized once
    * per executor, not once per task.
    */
  def bpeApplyBc(word: Column, bc: Broadcast[Array[(String, String)]]): Column =
    ColumnBridge.column(BpeApplyBroadcast(ColumnBridge.expression(word), bc))

  /** BYTE-LEVEL [[bpeApply]]: the word symbolizes to its UTF-8 bytes
    * (two-hex-char symbols), so the merge table must have been trained
    * byte-level too. No input can fall out of vocabulary.
    */
  def bpeApplyBytes(word: Column,
                    merges: Seq[(String, String)]): Column =
    ColumnBridge.column(BpeApply(ColumnBridge.expression(word), merges,
      byteLevel = true))
}
