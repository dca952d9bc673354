package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._

/** The round-16 minhashSignatures kernel swap (explode → 64-way min
  * aggregate → Exchange → per-row native expression) pins the new
  * kernel to the ORIGINAL relational formulation: same minima for
  * every permutation, same dropped-row set (docs with zero shingles),
  * and the same downstream LSH pairs.
  */
class MinHashSigSpec extends SparkSpecBase {
  import spark.implicits._

  /** The pre-round-16 portable formulation, verbatim — the reference. */
  private def referenceSigs(docs: org.apache.spark.sql.DataFrame,
                            shingleN: Int, numPerm: Int,
                            seed: Long): org.apache.spark.sql.DataFrame = {
    val P = 2147483647L
    val perms = graft.operators.Dedup.minhashPerms(numPerm, seed)
    docs.select(col("doc_id"),
        explode(array_distinct(graft.functions.ShingleHash
          .shingleHashes(col("text"), shingleN))).as("h"))
      .groupBy(col("doc_id"))
      .agg(min(pmod(lit(perms.head._1) * col("h") + lit(perms.head._2),
          lit(P))).as("s0"),
        perms.tail.zipWithIndex.map { case ((a, b), i) =>
          min(pmod(lit(a) * col("h") + lit(b), lit(P))).as(s"s${i + 1}")
        }: _*)
  }

  private val docs = Seq[(Long, String)](
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),
    (3L, "completely different content here now"),
    (4L, "too short"),            // < 3 tokens: zero 3-shingles → dropped
    (5L, null),                   // null text → dropped
    (6L, "a b c a b c a b c"),    // duplicate shingles (distinct irrelevant under min)
    (7L, "uni😀code piece with a surrogate pair inside the text")
  )

  test("native kernel ≡ relational formulation (values and row set)") {
    val df = docs.toDF("doc_id", "text")
    for ((n, k) <- Seq((3, 16), (2, 64))) {
      val got = graft.operators.Dedup.minhashSignatures(df, "doc_id",
        "text", n, k, seed = 42L).orderBy("doc_id")
      val want = referenceSigs(df, n, k, 42L).orderBy("doc_id")
      val g = got.collect(); val w = want.collect()
      assert(g.map(_.getLong(0)).toSeq == w.map(_.getLong(0)).toSeq,
        s"row set n=$n k=$k")
      g.zip(w).foreach { case (a, b) =>
        (0 until k).foreach { i =>
          assert(a.getLong(i + 1) == b.getLong(i + 1),
            s"n=$n k=$k doc=${a.getLong(0)} s$i")
        }
      }
    }
  }

  test("signature build plan has zero Exchange") {
    val df = docs.toDF("doc_id", "text")
    val plan = graft.operators.Dedup.minhashSignatures(df, "doc_id",
        "text", 3, 16, seed = 42L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("LSH pairs unchanged through the new kernel") {
    val df = docs.toDF("doc_id", "text")
    val pairs = graft.operators.Dedup.minhashLsh(df, "doc_id", "text",
        shingleN = 3, numPerm = 16, bands = 8, estThreshold = 0.5)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }
}
