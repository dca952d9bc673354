package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused tokenize → shingle-hash → numPerm-way min-hash, as one native
  * expression returning `array<long>` of the per-permutation minima —
  * the per-row kernel of [[graft.operators.Dedup.minhashSignatures]].
  *
  * Semantically identical to the relational formulation it replaces
  * (explode(array_distinct(shingleHashes(text))) → 64 `min(pmod(a*h+b,
  * P))` aggregates per doc): the shingle stream comes from the same
  * [[ShingleHashImpl.hashes]] kernel, duplicates are harmless under
  * min (the old `array_distinct` existed only to shrink the exploded
  * row count), and `a*h + b` stays below 2^62 (a, b < 2^30, h < 2^31),
  * so the modular arithmetic is exact long math. A doc with ZERO
  * shingles (fewer than n tokens) produced no groupBy row before —
  * here the expression returns NULL and the caller filters, keeping
  * the output row set identical.
  *
  * Why: the signature is a pure function of the row's own text, but
  * the relational shape paid one exploded row per distinct shingle
  * (re-hashing doc_id into the aggregation hash map per row) plus one
  * Exchange of docs × numPerm longs. This is one generated static call
  * per row: zero Exchange under every signature build — the q21 LSH
  * lane, the curation near-dup layer folds (q110/q126), the fuzzy-
  * decontamination signatures (q186-family), and the incremental
  * minhash state (q54).
  */
object MinHashSigImpl {
  final val P = 2147483647L // 2^31 - 1

  /** Static kernel — called from generated code. `perms` is the flat
    * (a0, b0, a1, b1, ...) permutation table. Null / zero-shingle
    * input → null (caller drops the row, matching the groupBy).
    */
  def sig(input: UTF8String, n: Int, mult: Long,
          perms: Array[Long]): ArrayData = {
    if (input == null) return null
    val hs = ShingleHashImpl.hashes(input, n, mult)
    val nSh = hs.numElements()
    if (nSh == 0) return null
    val k = perms.length / 2
    val out = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < nSh) {
      val h = hs.getLong(i)
      var j = 0
      while (j < k) {
        val v = (perms(2 * j) * h + perms(2 * j + 1)) % P
        if (v < out(j)) out(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

case class MinHashSig(child: Expression, n: Int, mult: Long,
                      perms: Array[Long]) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  protected override def nullSafeEval(input: Any): Any =
    MinHashSigImpl.sig(input.asInstanceOf[UTF8String], n, mult, perms)

  // a zero-shingle doc yields null even for non-null input
  override def nullable: Boolean = true

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val impl = MinHashSigImpl.getClass.getName.stripSuffix("$")
    val permsRef = ctx.addReferenceObj("minhashPerms", perms, "long[]")
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = $impl.sig($c, $n, ${mult}L, $permsRef);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {
  /** Column API: array of per-permutation min-hashes of text's
    * n-token shingles; null when the doc has no shingles.
    */
  def minhashSig(text: Column, n: Int, perms: Seq[(Long, Long)],
                 mult: Long = 31L): Column =
    ColumnBridge.column(MinHashSig(ColumnBridge.expression(text), n, mult,
      perms.flatMap(p => Seq(p._1, p._2)).toArray))
}
