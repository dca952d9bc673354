package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-expression library (pure Catalyst `functions._` compositions —
  * everything here stays inside whole-stage codegen; no UDFs).
  *
  * Shapes derived from the reference's scalar/array/datetime surface
  * (SURVEY.md §2.8): X3 interval arithmetic, X5 posexplode+sample-
  * timestamp, X6 cardinality, X12 sine generator. X1 (coalesce event
  * time) is `Hl7Wire.parseAdt`'s `validFromUs`.
  */
object GraftFunctions {

  /** Let-binding for column expressions: evaluates `value` once and hands
    * the body a lambda variable, so multi-referenced sub-expressions stay
    * single nodes in the Catalyst tree instead of duplicating per use —
    * without this, nested struct rebuilds multiply the tree size per
    * field and analysis time explodes. HOF lambdas get no subexpression
    * elimination, so inside them this is the only way to share one.
    */
  private[graft] def let(value: Column)(body: Column => Column): Column =
    get(transform(array(value), v => body(v)), lit(0))

  /** Event-time in epoch microseconds. Canonical temporal representation:
    * integer µs avoids ns-vs-µs parquet precision mismatches between
    * engines and is exact under comparison/arithmetic.
    */
  def tsUs(c: Column): Column = unix_micros(c.cast("timestamp"))

  /** Belief snapshot on the stored axis only: every version record the
    * database held at stored time S (its valid-time history as then known).
    */
  def storedAsOf(sUs: Column, storedFromUs: Column,
                 storedUntilUs: Column): Column =
    storedFromUs <= sUs && (storedUntilUs.isNull || sUs < storedUntilUs)

  /** X5: per-sample timestamp for an exploded waveform array —
    * `obs + pos/rate` in integer µs (floor division, matches
    * `make_interval(secs => ord/rate)` semantics of the reference's
    * monitoring/streamlit/database_utils.py:94).
    */
  def sampleTsUs(obsUs: Column, pos: Column, rateHz: Column): Column =
    obsUs + (pos.cast("long") * lit(1000000L)) .divide(rateHz).cast("long")

  // ---------------------------------------------------------------- vectors

  /** Cast array<float> to array<double> (stable fold arithmetic).
    * Round 17: a native element-wise Cast, not `transform(_.cast)` —
    * ArrayTransform is CodegenFallback, and this wrapper fronts every
    * vector path (quantize, norms, k-means assignments), so the HOF
    * form knocked whole projections out of whole-stage codegen. Cast
    * applies the identical per-element cast (and is a no-op when the
    * input is already array<double>).
    */
  def toDoubleVec(v: Column): Column = v.cast("array<double>")

  /** Dot product — deterministic sequential left fold, backed by the
    * native [[graft.functions.DotProduct]] expression (one generated
    * loop, no zipped-array materialization; bit-identical to the
    * aggregate/zip_with formulation).
    */
  def dotProduct(a: Column, b: Column): Column = VectorOps.vecDot(a, b)

  /** sqrt(v·v) — same fold order as the dot product, so norms are
    * bit-identical to the HOF formulation too.
    */
  def l2Norm(v: Column): Column = sqrt(VectorOps.vecDot(v, v))

  def cosineSim(a: Column, b: Column): Column =
    dotProduct(a, b) / (l2Norm(a) * l2Norm(b))

  /** Cosine when the candidate norm is precomputed (saves the per-pair
    * norm recomputation in a top-k scan).
    */
  def cosineSimPre(a: Column, b: Column, normA: Column, normB: Column): Column =
    dotProduct(a, b) / (normA * normB)

  // ------------------------------------------------------------------ text

  /** Whitespace tokenizer (shared contract with the DuckDB oracle's
    * string_split_regex(text, '\s+')).
    */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** n-token shingles, e.g. n=2 → ["a b","b c",...]; empty array when the
    * document has fewer than n tokens. Pure array functions — no explode,
    * no shuffle.
    */
  def shingles(toks: Column, n: Int): Column = {
    // slice is 1-based; transform index i is 0-based
    filter(
      transform(toks, (_, i) => concat_ws(" ", slice(toks, i + 1, lit(n)))),
      s => size(split(s, " ")) === n)
  }

  /** Deterministic document fingerprint: positional rolling-ish hash
    * sum((pos+1) * (ascii(tok)*31 + len(tok))) — order-independent integer
    * sum, exact in both Spark and any ANSI SQL oracle.
    */
  def fingerprint(toks: Column): Column =
    aggregate(
      transform(toks, (t, i) =>
        (i + 1).cast("long") * (ascii(t) * lit(31) + length(t)).cast("long")),
      lit(0L), (acc, x) => acc + x)

  /** Stopword ratio from a fixed lexicon. */
  def stopwordRatio(toks: Column, stopwords: Seq[String]): Column = {
    val stops = array(stopwords.map(lit): _*)
    size(filter(toks, t => array_contains(stops, t))).cast("double") /
      size(toks).cast("double")
  }

  // -------------------------------------------------------------- hashing
  // MinHash / SimHash signature computation lives in operators.Dedup as
  // explode → hash-once → multi-min/sum aggregates: a per-row
  // array-function formulation would replicate the shingle pipeline into
  // every permutation expression (64× recompute, codegen-breaking tree).

  /** Oracle-portable polynomial string hash:
    * `fold code points: h = (h*mult + cp) mod P`, P = 2^31-1.
    * Unlike xxhash64 (Spark-only), this is exact integer arithmetic any
    * ANSI SQL engine can replay (DuckDB: list_reduce over string_split) —
    * it is what makes the MinHash/SimHash queries oracle-checkable.
    * Backed by the native [[graft.functions.PolyHash]] expression (one
    * generated loop, no per-char array materialization).
    */
  def charPolyHash(s: Column, mult: Long = 31L): Column =
    PolyHash.polyHash(s, mult)

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))
}
