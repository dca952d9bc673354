package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._
import graft.streaming.VersionedDir

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Scale design: the query side is small (broadcast); the candidate side
  * streams through a single projection+fold per row (codegen'd, no
  * intermediate shuffle); top-k is per-partition-then-global. The IVF
  * variant prunes candidates to the query's cluster — at 100 TB this is
  * the difference between a full scan and reading one bucket partition
  * (partition pruning on the cluster column).
  */
object Ann {

  /** Brute-force cosine top-k — the exactness baseline.
    * @param queries   small DF (broadcast): idCol + vecCol
    * @param candidates large DF: idCol + vecCol
    */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      toDoubleVec(col(vecCol)).as("qv"))
      .withColumn("qn", l2Norm(col("qv"))))
    val c = candidates.select(col(idCol).as("neighbor_id"),
      toDoubleVec(col(vecCol)).as("cv"))
      .withColumn("cn", l2Norm(col("cv")))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosineSimPre(col("qv"), col("cv"), col("qn"), col("cn")))
    topK(scored, k)
  }

  /** HARD-NEGATIVE MINING for embedding-model training (the DPR /
    * Sentence-Transformers recipe: Karpukhin et al. 2020 §5.2 "hard
    * negatives from retrieval"; the sentence-transformers
    * `mine_hard_negatives` margin convention): for each labeled
    * (query_id, pos_id) pair, the top-`k` corpus items by cosine that
    * are (a) not the query itself, (b) not one of its labeled
    * positives, and (c) not more similar than `margin10k`/10⁴ of the
    * query's BEST labeled-positive similarity — a candidate scoring
    * above that margin is presumed an unlabeled true positive (a
    * "false negative"), and contrastive training against it poisons
    * the loss.
    *
    * Determinism: similarities compare as s4 = round(sim·10⁴)
    * integers (the [[topK]] rounding discipline lifted to an integer),
    * so the margin test `cand_s4·10⁴ ≤ pos_s4·margin10k` and the rank
    * order are pure integer arithmetic an oracle replays exactly.
    *
    * Margin semantics are calibrated for the standard case of a
    * POSITIVE best-positive similarity (real embedding models put
    * labeled positives well above 0): the cutoff is margin10k/10⁴ of
    * pos_s4, so margin10k < 10⁴ tightens and > 10⁴ loosens. When
    * pos_s4 is negative (possible only on structure-free fixtures),
    * the multiplication flips that monotonicity — the rule stays
    * well-defined and exactly replayable, but "95%" no longer reads
    * as "slightly below the positive"; pick margins per-corpus.
    *
    * Scale shape: `pairs` is tiny next to the corpus — it broadcasts
    * twice (once joined to corpus vectors to score the labeled
    * positives, once as the per-query exclusion set); the corpus then
    * streams through ONE scored scan (the [[bruteForceTopK]] shape:
    * no shuffle until the per-query top-k window over k·|queries|
    * rows). At 100 TB swap the scorer for a persisted-index query
    * ([[sq8IndexQuery]]/[[ivfPqRerank]]) with an over-fetch horizon
    * ≥ k + max positives per query + expected margin kills — the
    * exclusion/margin/re-rank tail below is unchanged.
    *
    * Output: (query_id, neighbor_id, rank, sim, pos_sim) — `rank`
    * re-numbered AFTER exclusions so callers always get a dense
    * 1..≤k per query.
    */
  def hardNegatives(pairs: DataFrame, corpus: DataFrame, idCol: String,
                    vecCol: String, k: Int,
                    margin10k: Long = 9500L): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"),
      toDoubleVec(col(vecCol)).as("cv"))
      .withColumn("cn", l2Norm(col("cv")))
    val p = broadcast(pairs.select(col("query_id"), col("pos_id")))
    val qv = corpus.join(
        broadcast(p.select(col("query_id")).distinct()),
        col(idCol) === col("query_id"))
      .select(col("query_id"), toDoubleVec(col(vecCol)).as("qv"))
      .withColumn("qn", l2Norm(col("qv")))
    def s4(sim: Column): Column = round(sim * 10000, 0).cast("long")
    // best labeled-positive similarity per query (|pairs| rows: tiny)
    val posSim = p.join(c, col("pos_id") === col("neighbor_id"))
      .join(qv.hint("broadcast"), "query_id")
      .select(col("query_id"), s4(cosineSimPre(col("qv"), col("cv"),
        col("qn"), col("cn"))).as("ps4"))
      .groupBy("query_id").agg(max(col("ps4")).as("pos_s4"))
    val q = broadcast(qv.join(posSim.hint("broadcast"), "query_id"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("s4", s4(cosineSimPre(col("qv"), col("cv"),
        col("qn"), col("cn"))))
      .join(p.withColumnRenamed("pos_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"), "left_anti")
      .filter(col("s4") * 10000L <= col("pos_s4") * margin10k)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("s4").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"),
        (col("s4") / 10000.0).as("sim"),
        (col("pos_s4") / 10000.0).as("pos_sim"))
  }

  /** [[hardNegatives]] through the PERSISTED SQ8 index — the 100 TB
    * path the brute variant's scaladoc promises: candidates come from
    * [[sq8IndexQuery]] over an `overfetch` horizon (probed-partition
    * reads, codes not vectors), labeled-positive similarities from
    * the SAME quantized scorer (positive codes fetched from the index
    * by id — a broadcast semi-join, never a full scan), then the
    * identical exclusion → margin → dense re-rank tail.
    *
    * Over-fetch discipline: exclusions and margin kills eat into the
    * horizon, so size `overfetch` ≥ k + max positives per query +
    * expected margin kills; a query whose admissible negatives are
    * thinner than that returns fewer than k rows (the honest
    * outcome — widening the horizon is the caller's lever, and the
    * output makes the shortfall visible).
    *
    * Output: (query_id, neighbor_id, rank, sim, pos_sim) — the
    * [[hardNegatives]] contract, sims from the int8 scorer.
    */
  def hardNegativesFromIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, pairs: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, probesCol: String, k: Int,
      overfetch: Int, margin10k: Long = 9500L): DataFrame = {
    import graft.functions.Int8Ops
    require(overfetch >= k, "overfetch horizon must cover k")
    def s4(sim: Column): Column = round(sim * 10000, 0).cast("long")
    val p = broadcast(pairs.select(col("query_id"), col("pos_id")))
    // positive codes by id from the index — broadcast semi-join
    // against the skinny (emb_id, qvec, qnorm, cluster) code layers
    val posCodes = readIndexLayers(spark, indexDir)
      .join(broadcast(p.select(col("pos_id")).distinct()),
        col("emb_id") === col("pos_id"))
      .select(col("pos_id"), col("qvec").as("pv"),
        col("qnorm").as("pn"))
    val qq = quantizeInt8(queries, idCol, vecCol)
      .select(col("emb_id").as("query_id"), col("qvec").as("qv"),
        col("qnorm").as("qn"))
    val posSim = p.join(broadcast(qq), "query_id")
      .join(posCodes.hint("broadcast"), "pos_id")
      .select(col("query_id"),
        s4(Int8Ops.int8Dot(col("qv"), col("pv")).cast("double") /
          (col("qn") * col("pn"))).as("ps4"))
      .groupBy("query_id").agg(max(col("ps4")).as("pos_s4"))
    val cand = sq8IndexQuery(spark, indexDir, queries, idCol, vecCol,
        probesCol, overfetch)
      .withColumn("s4", s4(col("sim")))
      .join(p.withColumnRenamed("pos_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"), "left_anti")
      .join(posSim.hint("broadcast"), "query_id")
      .filter(col("s4") * 10000L <= col("pos_s4") * margin10k)
    val w2 = Window.partitionBy(col("query_id"))
      .orderBy(col("s4").desc, col("neighbor_id"))
    cand.withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"),
        (col("s4") / 10000.0).as("sim"),
        (col("pos_s4") / 10000.0).as("pos_sim"))
  }

  /** IVF-style bucketed ANN: candidates are restricted to the query's
    * coarse cluster (here any precomputed cluster/label column; in a full
    * IVF build this is argmin-centroid assignment). One equi-join on the
    * cluster id — broadcastable and partition-prunable.
    */
  def ivfTopK(queries: DataFrame, candidates: DataFrame, idCol: String,
              vecCol: String, clusterCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(clusterCol).as("qcl"), toDoubleVec(col(vecCol)).as("qv"))
      .withColumn("qn", l2Norm(col("qv"))))
    val c = candidates.select(col(idCol).as("neighbor_id"),
      col(clusterCol).as("ccl"), toDoubleVec(col(vecCol)).as("cv"))
      .withColumn("cn", l2Norm(col("cv")))
    val scored = q.join(c,
        col("qcl") === col("ccl") && col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosineSimPre(col("qv"), col("cv"), col("qn"), col("cn")))
    topK(scored, k)
  }

  /** Nearest-centroid id for a vector against k literal centroids —
    * unrolled argmin expression (k is small by construction), fully
    * codegen'd: array_min over (distance, id) structs orders by distance
    * first, id as the deterministic tie-break.
    */
  def ivfCluster(v: Column, cents: Seq[Seq[Double]]): Column = {
    // degenerate k=1: every vector assigns to the only centroid —
    // short-circuit before least(), which requires >= 2 arguments
    if (cents.length == 1) return lit(0)
    val dists = cents.map(c =>
      aggregate(zip_with(v, typedLit(c), (x, y) => (x - y) * (x - y)),
        lit(0.0), (a, x) => a + x))
    val minD = least(dists: _*)
    // first centroid achieving the min — deterministic tie-break
    cents.indices.map(i => when(dists(i) === minD, lit(i)))
      .reduce((a, b) => coalesce(a, b))
  }

  /** Train IVF coarse centroids with Lloyd's iterations. The vector set
    * never leaves the cluster: each iteration is ONE flat aggregate
    * (assignment as the grouping key, per-dimension sums + count) at
    * any scale. Only the k×dim centroid matrix (tiny by definition)
    * round-trips through the driver, which is what lets the next
    * iteration inline the centroids as literals in a codegen'd argmin.
    * Deterministic: init picks the k lowest xxhash64(id) vectors.
    */
  def ivfTrainCentroids(vectors: DataFrame, idCol: String, vecCol: String,
                        k: Int, iters: Int = 5): Seq[Seq[Double]] = {
    val v = vectors.select(col(idCol).as("__id"),
      toDoubleVec(col(vecCol)).as("v"))
    var cents: Seq[Seq[Double]] = v
      .orderBy(xxhash64(col("__id")), col("__id"))
      .limit(k).select("v").collect()
      .map(_.getSeq[Double](0).toSeq).toSeq
    val dim = cents.headOption.map(_.length).getOrElse(return cents)
    // update = ONE flat aggregate with per-dimension sum columns — the
    // same no-posexplode shape as lloydPortable (CollapseProject would
    // inline the k×dim assignment expression past a Generate and
    // re-evaluate it per exploded row; as the grouping key of a flat
    // HashAggregate it runs once per vector — measured 2-4× on sf0.1)
    for (_ <- 1 to iters) {
      val sums = (0 until dim).map(p =>
        sum(element_at(col("v"), p + 1)).as(s"s$p"))
      val byCluster = v
        .select(ivfCluster(col("v"), cents).as("c"), col("v"))
        .groupBy(col("c"))
        .agg(count(lit(1)).as("n"), sums: _*)
        .collect().map { r =>
          val cBoxed = r.get(r.fieldIndex("c"))
          require(cBoxed != null, "null cluster assignment in Lloyd's " +
            "update — input has a null/NaN element or a length-mismatched " +
            "vector; clean the vector column before training")
          val n = r.getAs[Long]("n")
          cBoxed.asInstanceOf[Int] -> (0 until dim)
            .map(p => r.getAs[Double](s"s$p") / n)
        }.toMap
      // empty clusters keep their previous centroid
      cents = cents.indices.map(i => byCluster.getOrElse(i, cents(i)))
    }
    cents
  }

  /** Nearest-centroid id by ROUNDED cosine similarity (spherical
    * k-means assignment, the SemDeDup paper's setting) — argmax over k
    * literal centroids, lowest index breaking exact ties. Rounding to 4
    * decimals before the argmax is what makes the assignment
    * engine-portable (the repo's q23/q34 precision convention): the
    * unrounded IEEE sums agree between engines in practice, the rounded
    * comparison makes the ORDER they induce deterministic.
    */
  def cosineCluster(v: Column, cents: Seq[Seq[Double]]): Column = {
    if (cents.length == 1) return lit(0) // see ivfCluster
    val vn = l2Norm(v)
    val sims = cents.map { c =>
      val cl = typedLit(c)
      round(cosineSimPre(v, cl, vn, l2Norm(cl)), 4) + lit(0.0)
    }
    val maxS = greatest(sims: _*)
    cents.indices.map(i => when(sims(i) === maxS, lit(i)))
      .reduce((a, b) => coalesce(a, b))
  }

  /** The `nProbe` nearest centroid ids by ROUNDED cosine similarity
    * (descending; lowest id breaks exact ties) as an `array<long>` —
    * the query-side probe set matching [[cosineCluster]]'s assignment
    * geometry. Sorting key is `1 − sim_r` (ascending): the same order
    * as sim descending, avoids an IEEE −0.0 appearing in the sort key.
    * Engine-portable — an oracle replays it as
    * `row_number() OVER (ORDER BY round(cos, 4) + 0.0 DESC, cid)`.
    */
  def cosineProbes(v: Column, cents: Seq[Seq[Double]],
                   nProbe: Int): Column = {
    require(nProbe >= 1, "nProbe >= 1")
    if (cents.length == 1) return array(lit(0L))
    val vn = l2Norm(v)
    val entries = cents.zipWithIndex.map { case (c, i) =>
      val cl = typedLit(c)
      struct((lit(1.0) -
          (round(cosineSimPre(v, cl, vn, l2Norm(cl)), 4) + lit(0.0)))
          .as("d"),
        lit(i.toLong).as("cid"))
    }
    transform(slice(array_sort(array(entries: _*)), 1, nProbe),
      _.getField("cid"))
  }

  /** ENGINE-PORTABLE Lloyd's training (spherical): like
    * [[ivfTrainCentroids]] but every step is replayable bit-for-bit by
    * an ANSI-SQL oracle, so a trained-clustering pipeline (train →
    * assign → dedup) can be oracle-checked end-to-end:
    *
    *   - init: the k lowest-id vectors (no hash function dependency);
    *   - assignment: [[cosineCluster]] — rounded-cosine argmax;
    *   - update: per (cluster, dim) mean over floor(x·10⁴) integer
    *     quantizations — integer sums are exact and order-independent,
    *     so the centroid doubles come out identical in any engine
    *     (same trick as [[Dedup.semDedup]]'s ordering centroids);
    *   - empty clusters keep their previous centroid.
    *
    * Same scale shape as [[ivfTrainCentroids]]: the vector set never
    * leaves the cluster; only the k×dim centroid matrix round-trips
    * through the driver per iteration.
    */
  def ivfTrainPortable(vectors: DataFrame, idCol: String, vecCol: String,
                       k: Int, iters: Int = 2): Seq[Seq[Double]] = {
    // round 16: materialize the training slice once — init + every
    // Lloyd's iteration is its own job, and callers pass expression-
    // heavy chains (q170 trains on a chunk+embed pass), so without the
    // pin each of the (iters + 1) jobs re-ran the whole upstream chain
    val v = vectors.select(col(idCol).as("__id"),
        toDoubleVec(col(vecCol)).as("v"))
      .localCheckpoint(false)
    val init: Seq[Seq[Double]] = v.orderBy(col("__id")).limit(k)
      .select("v").collect().map(_.getSeq[Double](0).toSeq).toSeq
    lloydPortable(v, init, iters, cosineCluster)
  }

  /** The shared engine-portable Lloyd's loop: assignment is pluggable
    * (rounded-cosine argmax for spherical IVF, rounded-L2 argmin for
    * PQ sub-quantizers); the update step is the exact floor(x·10⁴)
    * integer-mean trick in both cases. `vs` must have columns
    * (__id, v); only the k×dim centroid matrix round-trips through the
    * driver per iteration.
    */
  private def lloydPortable(vs: DataFrame, init: Seq[Seq[Double]],
      iters: Int,
      assign: (Column, Seq[Seq[Double]]) => Column): Seq[Seq[Double]] = {
    // update = ONE aggregate with a per-dimension quantized sum column —
    // no posexplode: CollapseProject inlines the (k × dim)-sized
    // assignment expression past a Generate, re-evaluating it per
    // EXPLODED row (dim×); as grouping key of a flat HashAggregate it
    // runs once per vector (measured 4× on the sf0.1 training lanes).
    // The quantized sums are exactly the old per-(c,p) values, so
    // trained centroids — and every oracle replay — are bit-identical.
    val dim = init.head.length
    var cents = init
    for (_ <- 1 to iters) {
      val sums = (0 until dim).map(p =>
        sum(floor(element_at(col("v"), p + 1) * 10000).cast("long"))
          .as(s"s$p"))
      val byCluster = vs
        .select(assign(col("v"), cents).as("c"), col("v"))
        .groupBy(col("c"))
        .agg(count(lit(1)).as("n"), sums: _*)
        .collect().map { r =>
          // read the cluster id BOXED: a null assignment (null/NaN
          // vector element or a length-mismatched vector makes every
          // when() miss) would otherwise unbox to 0 and silently fold
          // the bad rows into cluster 0's centroid sums
          val cBoxed = r.get(r.fieldIndex("c"))
          require(cBoxed != null, "null cluster assignment in Lloyd's " +
            "update — input has a null/NaN element or a length-mismatched " +
            "vector; clean the vector column before training")
          val n = r.getAs[Long]("n")
          cBoxed.asInstanceOf[Int] -> (0 until dim)
            .map(p => r.getAs[Long](s"s$p").toDouble / (n * 10000.0))
        }.toMap
      cents = cents.indices.map(i => byCluster.getOrElse(i, cents(i)))
    }
    cents
  }

  /** IVF ANN with trained centroids: assign both sides to their nearest
    * coarse centroid, then the existing cluster-pruned equi-join. At rest
    * the candidate side would be written partitioned by this cluster id —
    * the query then reads one bucket partition instead of scanning.
    */
  def ivfTopKTrained(queries: DataFrame, candidates: DataFrame,
                     idCol: String, vecCol: String, k: Int,
                     cents: Seq[Seq[Double]]): DataFrame = {
    def withCluster(df: DataFrame) = df.withColumn("__ivf_cl",
      ivfCluster(toDoubleVec(col(vecCol)), cents))
    ivfTopK(withCluster(queries), withCluster(candidates), idCol, vecCol,
      "__ivf_cl", k)
  }

  /** Fixed-seed ±1 (Rademacher) hyperplane weights for [[lshBucketTopK]]
    * — shared with the DuckDB oracle builder (q33) so both engines
    * compute identical buckets.
    */
  def lshSignPlanes(dim: Int, nPlanes: Int, seed: Long): Seq[Seq[Long]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Seq.fill(dim)(if (rnd.nextBoolean()) 1L else -1L))
  }

  /** Coordinate quantization for the LSH projections: integer
    * micro-units make the projection sum exact (order-independent) in any
    * engine. 2^20 preserves ~6 decimal digits of a float coordinate.
    */
  val LshQuantScale = 1048576L

  /** Random-hyperplane LSH bucketing (sign bits of projections onto
    * fixed-seed hyperplanes) — the candidate-generation scale path when no
    * precomputed clustering exists. Same-bucket pairs only.
    *
    * The planes are ±1 Rademacher weights ([[lshSignPlanes]]; sign
    * random projection) over [[LshQuantScale]]-quantized integer
    * coordinates, so the bucket bits are exact integer arithmetic
    * replayable by the DuckDB oracle: an IEEE float sum's value depends
    * on evaluation order, an integer sum's does not.
    */
  def lshBucketTopK(queries: DataFrame, candidates: DataFrame, idCol: String,
                    vecCol: String, dim: Int, nPlanes: Int, k: Int,
                    seed: Long = 42L): DataFrame = {
    val planes = lshSignPlanes(dim, nPlanes, seed)
    def bucket(v: org.apache.spark.sql.Column) = {
      // floor, not round: x is a float cast to double and 2^20 scaling is
      // exact (exponent shift), so floor is unambiguous — round() could
      // split engines on an exact .5
      val vq = transform(v, x => floor(x * lit(LshQuantScale)).cast("long"))
      planes.zipWithIndex.map { case (p, i) =>
        val proj = aggregate(
          zip_with(vq, typedLit(p), (x, w) => x * w),
          lit(0L), (a, x) => a + x)
        when(proj >= 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
      }.reduce(_.bitwiseOR(_))
    }

    val q = broadcast(queries.select(col(idCol).as("query_id"),
        toDoubleVec(col(vecCol)).as("qv"))
      .withColumn("qn", l2Norm(col("qv")))
      .withColumn("qb", bucket(col("qv"))))
    val c = candidates.select(col(idCol).as("neighbor_id"),
        toDoubleVec(col(vecCol)).as("cv"))
      .withColumn("cn", l2Norm(col("cv")))
      .withColumn("cb", bucket(col("cv")))
    val scored = q.join(c,
        col("qb") === col("cb") && col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosineSimPre(col("qv"), col("cv"), col("qn"), col("cn")))
    topK(scored, k)
  }

  // --------------------------------------------- int8 scalar quantization

  /** Int8 scalar quantization (the faiss `SQ8`-style storage path):
    * per-vector symmetric scale — `q_i = floor(x_i·127 / max|x|)` ∈
    * [-127, 127] — packed to ONE byte per dimension
    * ([[graft.functions.Int8Ops.int8Pack]]). At 100 TB of float32
    * embeddings this is the 4× scan-rate/storage win a brute-force
    * rerank pass actually ships; cosine similarity needs no
    * dequantization at all (the per-vector scale cancels in the
    * ratio, up to quantization error). Engine-portable — cast-to-double,
    * multiply, divide, floor — every step IEEE-correctly-rounded, so
    * the quantized integers replay bit-identically in the oracle.
    * Zero vectors (max|x| = 0) are dropped — they have no direction to
    * quantize (the [[Embed.hashEmbed]] / q121 convention).
    * Output: (emb_id, qvec: binary, qnorm: double = sqrt(qvec·qvec)).
    */
  def quantizeInt8(vecs: DataFrame, idCol: String, vecCol: String,
                   keep: Seq[String] = Nil): DataFrame = {
    import graft.functions.Int8Ops
    // round 17: amax → floor-quantize → pack → norm fused into ONE
    // native kernel per row ([[graft.functions.Int8Quantize]]) — the
    // two `transform` HOFs of the old form were CodegenFallback and
    // knocked every index fold / query encode projection out of
    // whole-stage codegen. Bit-identical arithmetic and row set
    // (null = no positive amax = the old `__amax > 0` drop);
    // Int8QuantizeSpec pins the equivalence.
    vecs.select(col(idCol).as("emb_id") +: keep.map(col) :+
        Int8Ops.int8Quantize(toDoubleVec(col(vecCol))).as("__q"): _*)
      .filter(col("__q").isNotNull)
      .select(col("emb_id") +: keep.map(col) :+
        col("__q").getField("qvec").as("qvec") :+
        col("__q").getField("qnorm").as("qnorm"): _*)
  }

  /** Brute-force cosine top-k over int8-quantized vectors — the
    * [[bruteForceTopK]] scan at a quarter of the bytes: queries
    * quantize and broadcast, candidates stream through one generated
    * integer-dot loop per pair ([[graft.functions.Int8Dot]], exact
    * 64-bit arithmetic), similarity is the integer dot over the
    * precomputed quantized norms, rounded to 4 decimals (the q23/q121
    * ranking convention — ties break on neighbor_id). Output:
    * (query_id, neighbor_id, rank, sim).
    */
  def quantizedTopK(queries: DataFrame, candidates: DataFrame,
                    idCol: String, vecCol: String, k: Int): DataFrame = {
    import graft.functions.Int8Ops
    val q = broadcast(quantizeInt8(queries, idCol, vecCol)
      .select(col("emb_id").as("query_id"), col("qvec").as("qv"),
        col("qnorm").as("qn")))
    val c = quantizeInt8(candidates, idCol, vecCol)
      .select(col("emb_id").as("neighbor_id"), col("qvec").as("cv"),
        col("qnorm").as("cn"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", Int8Ops.int8Dot(col("qv"), col("cv"))
        .cast("double") / (col("qn") * col("cn")))
    topK(scored, k)
  }

  /** IVF-SQ8 — the faiss `IndexIVFScalarQuantizer` shape: candidates
    * prune to the query's probed coarse clusters ([[ivfTopK]]'s
    * contract: any precomputed/trained cluster-id column; queries
    * carry a `probesCol` array of cluster ids), and the scan inside
    * each probed list reads int8-packed codes — at 100 TB the probed
    * fraction of the corpus at ONE byte per dimension, vs the full
    * float32 corpus for [[bruteForceTopK]]. The probe join is an
    * equi-join on the cluster id (broadcastable; partition-prunable
    * when the codes are at rest); similarity is the [[quantizedTopK]]
    * integer-dot cosine. Output: (query_id, neighbor_id, rank, sim).
    */
  def ivfQuantizedTopK(queries: DataFrame, candidates: DataFrame,
                       idCol: String, vecCol: String, clusterCol: String,
                       probesCol: String, k: Int): DataFrame = {
    import graft.functions.Int8Ops
    // array_distinct: duplicate probe ids (e.g. a wrap-around probe
    // convention colliding on a small label space) must not join a
    // neighbor twice and corrupt ranks
    val q = broadcast(
      quantizeInt8(queries, idCol, vecCol, keep = Seq(probesCol))
        .select(col("emb_id").as("query_id"),
          explode(array_distinct(col(probesCol))).as("probe"),
          col("qvec").as("qv"), col("qnorm").as("qn")))
    val c = quantizeInt8(candidates, idCol, vecCol,
        keep = Seq(clusterCol))
      .select(col("emb_id").as("neighbor_id"),
        col(clusterCol).cast("long").as("ccl"),
        col("qvec").as("cv"), col("qnorm").as("cn"))
    val scored = q.join(c,
        col("probe") === col("ccl") &&
          col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", Int8Ops.int8Dot(col("qv"), col("cv"))
        .cast("double") / (col("qn") * col("cn")))
    topK(scored, k)
  }

  // ----------------------------------------------- persisted-index layers

  /** All persisted vector indexes ([[ivfIndexAppend]],
    * [[sq8IndexAppend]], [[ivfPqIndexAppend]]) are append-only parquet
    * layers: appends write `batch=N`, [[compactVectorIndex]] writes
    * `compact=M`, [[deleteFromVectorIndex]] writes `tombstone=T` —
    * each a SEPARATE namespace, so a monotonically-numbered appender
    * (streaming micro-batch ids) can never collide with — and
    * silently replace — a compacted layer holding the whole index.
    * An optional `_LAYERS` manifest at the index root lists the LIVE
    * layers plus `#key=value` metadata lines: readers prefer it when
    * present (falling back to a plain directory scan for pre-manifest
    * indexes), appends register their new layer in it, and compaction
    * swaps it atomically — the [[graft.streaming.VersionedDir.commit]]
    * pointer swap every persisted family shares. Compaction records
    * `#absorbed=<max batch id folded>`: an append may overwrite its
    * OWN still-live `batch=` layer (the idempotent replay-after-crash
    * path) but must otherwise use an id ABOVE the absorbed high-water
    * mark — replaying a batch that compaction already folded in would
    * duplicate its rows, so it fails loudly instead. Single-maintainer
    * contract (one compactor / appender at a time), like the star
    * pipeline's batches.
    */
  /** (metadata, live layers) from the manifest, if present. */
  private def readManifest(indexDir: String)
      : Option[(Map[String, String], Seq[String])] =
    VersionedDir.read(indexDir, "_LAYERS").map { body =>
      val (meta, layers) = body.split("\n").filter(_.nonEmpty).toSeq
        .partition(_.startsWith("#"))
      (meta.map(_.stripPrefix("#").split("=", 2))
        .collect { case Array(k, v) => k -> v }.toMap, layers)
    }

  /** Epoch indirection — the retrain lifecycle's swap point. An index
    * root MAY contain an `_EPOCH` pointer file naming the active
    * epoch subdirectory (`epoch=N`, itself a complete layered index);
    * every public read/append/delete/compact resolves through it, so
    * [[retrainVectorIndex]] can build `epoch=N+1` OFFLINE while the
    * old epoch keeps answering, then swap the pointer atomically. An
    * index without `_EPOCH` is its own (epoch-less) store — full
    * back-compat with every pre-epoch index on disk.
    */
  private def resolveEpoch(indexDir: String): String =
    VersionedDir.read(indexDir, "_EPOCH").fold(indexDir)(e => s"$indexDir/$e")

  private def readLayers(indexDir: String): Option[Seq[String]] =
    readManifest(indexDir).map(_._2)

  /** Highest batch id ever folded into a compact layer (0 = none). */
  private def absorbedHighWater(indexDir: String): Long =
    readManifest(indexDir).flatMap(_._1.get("absorbed"))
      .flatMap(_.toLongOption).getOrElse(0L)

  /** Highest `upto` any tombstone ever froze (0 = none). Recorded in
    * the manifest meta at delete time so [[requireAppendable]] can
    * reject a backfill append at or below it WITHOUT reading tombstone
    * parquet: a `batch=N` append with N <= a live tombstone's `upto`
    * would have its rows swallowed by the tombstone anti-join — a
    * delete of "the past" silently deleting new data. The mark
    * survives compaction on purpose (compaction drops the tombstone
    * LAYERS but the absorbed ids stay unusable anyway via
    * `absorbed`, which compaction raises to at least this value's
    * batch range).
    */
  private def tombstoneHighWater(indexDir: String): Long =
    readManifest(indexDir).flatMap(_._1.get("tombstone_upto"))
      .flatMap(_.toLongOption).getOrElse(0L)

  private def writeManifest(indexDir: String, meta: Map[String, String],
                            layers: Seq[String]): Unit =
    VersionedDir.commit(indexDir, "_LAYERS",
      (meta.toSeq.sorted.map { case (k, v) => s"#$k=$v" } ++
        layers).mkString("\n"))

  private def existingLayerDirs(indexDir: String): Seq[String] = {
    val d = new java.io.File(indexDir)
    if (!d.isDirectory) Seq.empty
    else d.listFiles.filter(f => f.isDirectory &&
        (f.getName.startsWith("batch=") ||
          f.getName.startsWith("compact=") ||
          f.getName.startsWith("tombstone=")))
      .map(_.getName).sorted.toSeq
  }

  private def liveLayers(indexDir: String): Seq[String] =
    readLayers(indexDir).getOrElse(existingLayerDirs(indexDir))

  private def registerLayer(indexDir: String, name: String,
                            metaAdd: Map[String, String] = Map.empty)
      : Unit = {
    val (meta, layers) = readManifest(indexDir)
      .getOrElse((Map.empty[String, String], existingLayerDirs(indexDir)))
    writeManifest(indexDir, meta ++ metaAdd,
      layers.filterNot(_ == name) :+ name)
  }

  /** Fail an append that would resurrect a compacted-away batch id
    * (duplicate rows); overwriting one's own still-live layer is the
    * idempotent replay path and passes.
    */
  private def requireAppendable(indexDir: String, batchId: Long): Unit = {
    if (liveLayers(indexDir).contains(s"batch=$batchId")) return
    val hw = absorbedHighWater(indexDir)
    require(batchId > hw,
      s"batch id $batchId was already folded into a compact= layer of " +
        s"$indexDir (absorbed high-water $hw) — appending it again " +
        "would duplicate its rows; use a fresh id above the high-water")
    val thw = tombstoneHighWater(indexDir)
    require(batchId > thw,
      s"batch id $batchId is at or below a tombstone's frozen upto " +
        s"($thw) in $indexDir — its rows would be silently swallowed " +
        "by the tombstone anti-join; append ids must be strictly " +
        "monotonic past every delete's high-water")
  }

  /** Union the given layers, partition columns recovered via basePath,
    * with the layer-id column (`batch` / `compact`) dropped. The two
    * namespaces are read as separate groups: mixed `batch=`/`compact=`
    * fragments under one basePath would conflict in partition
    * discovery.
    */
  private def readLayerGroup(spark: org.apache.spark.sql.SparkSession,
                             indexDir: String,
                             layers: Seq[String]): DataFrame =
    layers.groupBy(_.takeWhile(_ != '=')).toSeq.sortBy(_._1)
      .map { case (pfx, ls) =>
        spark.read.option("basePath", indexDir)
          .parquet(ls.sorted.map(l => s"$indexDir/$l"): _*).drop(pfx)
      }.reduce(_ unionByName _)

  /** Data layers tagged with their EFFECTIVE batch id (`__eff`): a
    * `batch=N` row carries N; a `compact=` row carries the absorbed
    * high-water mark recorded when it was written (everything inside
    * it is "as of" that append). The effective id is what tombstone
    * `upto` bounds compare against — it is how a re-added id outlives
    * the deletion of its earlier incarnation.
    */
  private def readDataLayersEff(spark: org.apache.spark.sql.SparkSession,
                                indexDir: String,
                                layers: Seq[String]): DataFrame =
    layers.groupBy(_.takeWhile(_ != '=')).toSeq.sortBy(_._1)
      .map { case (pfx, ls) =>
        val df = spark.read.option("basePath", indexDir)
          .parquet(ls.sorted.map(l => s"$indexDir/$l"): _*)
        val eff = if (pfx == "batch") col("batch").cast("long")
          else lit(absorbedHighWater(indexDir))
        df.withColumn("__eff", eff).drop(pfx)
      }.reduce(_ unionByName _)

  /** Live rows of the index = data layers minus tombstones: a row is
    * dead iff some tombstone names its `emb_id` with `upto` at or
    * above the row's effective batch id. Tombstones are a sliver by
    * contract (deletions, not churn) — broadcast onto the scan; when
    * none exist this is exactly the plain layer union (zero plan
    * change for delete-free indexes).
    */
  private def applyTombstones(spark: org.apache.spark.sql.SparkSession,
                              indexDir: String,
                              layers: Seq[String]): DataFrame = {
    val (tomb, data) = layers.partition(_.startsWith("tombstone="))
    if (tomb.isEmpty) readLayerGroup(spark, indexDir, data)
    else {
      val ts = broadcast(readLayerGroup(spark, indexDir, tomb)
        .select(col("emb_id").as("__t_id"), col("upto").as("__t_upto")))
      readDataLayersEff(spark, indexDir, data)
        .join(ts, col("emb_id") === col("__t_id") &&
          col("__t_upto") >= col("__eff"), "left_anti")
        .drop("__eff")
    }
  }

  /** Manifest-aware index scan: live layers only (with the
    * cluster/coarse partition columns recovered via basePath), minus
    * tombstoned rows; plain recursive scan for pre-manifest indexes.
    */
  private def readIndexLayers(spark: org.apache.spark.sql.SparkSession,
                              rootDir: String): DataFrame = {
    val indexDir = resolveEpoch(rootDir)
    readLayers(indexDir) match {
      case Some(layers) if layers.nonEmpty =>
        applyTombstones(spark, indexDir, layers)
      case _ =>
        // no (or empty) manifest: scan the directory for layer dirs —
        // but ONLY within a single namespace. A compact= layer holds
        // everything its absorbed batch= layers held, so if both
        // namespaces coexist without a manifest (compaction crashed
        // between the manifest swap and directory GC, manifest later
        // lost) a union would silently DOUBLE-COUNT the absorbed rows.
        // No local evidence can tell an absorbed batch from a fresh
        // post-compaction append here, so fail loudly instead of
        // guessing (restore the manifest, or delete the orphan dirs).
        val dirs = existingLayerDirs(indexDir)
        // a tombstone layer is only meaningful relative to the manifest
        // that recorded it next to its data layers — without one we
        // cannot know whether a compact= dir already applied it
        // (resurrection risk), so fail loudly rather than guess
        require(!dirs.exists(_.startsWith("tombstone=")),
          s"index $indexDir has tombstone= layer dirs but no _LAYERS " +
            "manifest — deletions cannot be safely replayed without " +
            "the manifest; restore it or rebuild the index")
        val namespaces = dirs.map(_.takeWhile(_ != '=')).distinct
        require(namespaces.length <= 1,
          s"index $indexDir has no _LAYERS manifest but BOTH batch= and " +
            "compact= layer dirs on disk — a compact= layer may already " +
            "contain the batch= rows (double-count risk); restore the " +
            "manifest or remove the superseded directories")
        if (dirs.nonEmpty) readLayerGroup(spark, indexDir, dirs)
        else spark.read.parquet(indexDir).drop("batch")
    }
  }

  /** Compact a persisted vector index: rewrite every live layer into
    * ONE `compact=` layer (partition-preserving — `partitionCol` is
    * "cluster" for the IVF index, "coarse" for IVF-PQ), swap the
    * `_LAYERS` manifest atomically (recording the absorbed batch-id
    * high-water mark), then delete the superseded directories. At one
    * append per micro-batch the layer count — and with it the
    * per-probe file count — grows without bound; this is the same
    * small-files problem the star pipeline's `compact` solves for its
    * buckets. Queries before and after are equal by construction
    * (same rows, same partition values); a crash between manifest
    * swap and directory deletion leaves orphan dirs INVISIBLE to
    * readers, GC'd by the next compaction. The `compact=` namespace
    * is disjoint from append ids on purpose: a later `batch=N` append
    * can never land on — and overwrite — the layer holding the whole
    * index.
    */
  def compactVectorIndex(spark: org.apache.spark.sql.SparkSession,
                         rootDir: String, partitionCol: String): Unit = {
    val indexDir = resolveEpoch(rootDir)
    val layers = liveLayers(indexDir)
    val nData = layers.count(!_.startsWith("tombstone="))
    // a lone data layer with live tombstones still compacts: that
    // rewrite is what turns the logical deletion into PHYSICAL erasure
    // (the GDPR property — bytes gone from disk, not just filtered)
    if (nData <= 1 && layers.length == nData) return
    val absorbed = (absorbedHighWater(indexDir) +:
      layers.filter(_.startsWith("batch="))
        .flatMap(_.stripPrefix("batch=").toLongOption)).max
    // dest id clears every compact dir ON DISK (crash orphans included)
    val dest = s"compact=${existingLayerDirs(indexDir)
      .filter(_.startsWith("compact="))
      .flatMap(_.stripPrefix("compact=").toLongOption)
      .maxOption.getOrElse(0L) + 1}"
    val applied = applyTombstones(spark, indexDir, layers)
    applied.write.mode("overwrite").partitionBy(partitionCol)
      .parquet(s"$indexDir/$dest")
    // If the tombstones deleted EVERY row, partitionBy wrote a dir
    // with no parquet files at all — a manifest pointing at it makes
    // the index unreadable (parquet schema inference fails). Rewrite
    // the empty frame unpartitioned: one schema-bearing empty file,
    // with the partition column as a plain data column (pruning is
    // moot on zero rows), keeps readIndexLayers working and the index
    // appendable.
    val walk = java.nio.file.Files.walk(
      java.nio.file.Paths.get(indexDir, dest))
    val wroteFiles =
      try walk.anyMatch(_.getFileName.toString.endsWith(".parquet"))
      finally walk.close()
    if (!wroteFiles)
      applied.repartition(1).write.mode("overwrite")
        .parquet(s"$indexDir/$dest")
    writeManifest(indexDir, Map("absorbed" -> absorbed.toString,
      "tombstone_upto" -> tombstoneHighWater(indexDir).toString), Seq(dest))
    // GC superseded layers AND any orphan dir a previous crashed
    // compaction left behind (anything not in the new manifest)
    existingLayerDirs(indexDir).filterNot(_ == dest).foreach { l =>
      val root = java.nio.file.Paths.get(indexDir, l)
      java.nio.file.Files.walk(root).sorted(
          java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  /** Delete ids from a persisted vector index — the right-to-be-
    *-forgotten path every production vector store needs (a user
    * deletes a document; its chunks must stop being retrievable NOW
    * and leave the disk at the next compaction). Deletion is a
    * TOMBSTONE layer (`tombstone=N`, skinny `(emb_id, upto)` rows,
    * registered in the `_LAYERS` manifest like any other layer):
    *
    *   - `upto` freezes the data high-water mark AT DELETE TIME, so a
    *     LATER append that re-adds the same id is untouched — deletes
    *     kill the past, not the future (readers compare `upto` against
    *     each row's effective batch id);
    *   - queries subtract tombstones via a broadcast anti-join
    *     (tombstones are a sliver by contract); an index with no
    *     tombstones keeps its exact pre-delete plan;
    *   - [[compactVectorIndex]] applies tombstones during its rewrite
    *     and drops them from the manifest — the logical delete becomes
    *     PHYSICAL erasure (no deleted byte survives in any live file),
    *     and the id is free to be re-appended afterwards;
    *   - replaying a tombstone layer rewrites the same `(emb_id,
    *     upto)` rows — deletion is idempotent by construction.
    *
    * Deleting an id the index never held is a harmless no-op row.
    * Reference analog: the cascading-delete / retention operators on
    * the star side (person data erasure); here applied to the
    * embedding tier, where "delete my data" must reach the RAG index
    * too, not just the document store.
    */
  /** Live index rows WITH their layer provenance (`layer_batch` = the
    * effective batch id [[readDataLayersEff]] assigns) — the read
    * surface maintenance diagnostics need: per-layer statistics over
    * exactly the rows a query would see. O(index), codes only.
    */
  private[operators] def readIndexRowsWithLayer(
      spark: org.apache.spark.sql.SparkSession,
      rootDir: String): DataFrame = {
    val indexDir = resolveEpoch(rootDir)
    val layers = liveLayers(indexDir)
    val (tomb, data) = layers.partition(_.startsWith("tombstone="))
    require(data.nonEmpty, s"index $rootDir has no live data layers")
    val d = readDataLayersEff(spark, indexDir, data)
    val live = if (tomb.isEmpty) d else {
      val ts = broadcast(readLayerGroup(spark, indexDir, tomb)
        .select(col("emb_id").as("__t_id"), col("upto").as("__t_upto")))
      d.join(ts, col("emb_id") === col("__t_id") &&
        col("__t_upto") >= col("__eff"), "left_anti")
    }
    live.withColumnRenamed("__eff", "layer_batch")
  }

  /** CENTROID-DRIFT report for a frozen-centroid SQ8 index — the
    * measured signal behind the retrain decision (q170's documented
    * stance is centroids frozen forever; this is the instrument that
    * says when that stops being acceptable). Per (layer_batch,
    * cluster): row count and the mean ANGULAR residual between each
    * stored code vector and its assigned centroid, in parts-per-10⁴
    * of (1 − cosine) — rising residuals in later layers mean the
    * ingest distribution has moved away from the centroids and probe
    * pruning is silently losing recall ([[recallAtK]] confirms; this
    * report is the cheap continuous monitor).
    *
    * Scale shape: O(index) and codes-only — one scan of the at-rest
    * int8 layers (no raw vectors re-read, no shuffle beyond the
    * |layers|×|clusters|-row aggregate); centroids quantize
    * driver-side through the SAME floor(x·127/max) scheme the rows
    * used, so the residual is an exact-integer-comparable number
    * (integer dot / precomputed norms, floored at 10⁴ — the repo's
    * portable-ratio convention).
    */
  def vectorIndexDriftReport(spark: org.apache.spark.sql.SparkSession,
                             rootDir: String,
                             cents: Seq[Seq[Double]]): DataFrame = {
    import spark.implicits._
    import graft.functions.Int8Ops
    val centRows = cents.zipWithIndex.map { case (c, i) =>
      val amax = c.map(math.abs).max
      require(amax > 0.0, s"centroid $i is the zero vector")
      val q = c.map(x => math.floor(x * 127.0 / amax).toLong)
      (i.toLong, q, math.sqrt(q.map(v => v.toDouble * v).sum))
    }
    val centDf = broadcast(centRows.toDF("cluster", "cq", "cnorm")
      .select(col("cluster"), Int8Ops.int8Pack(col("cq")).as("ccode"),
        col("cnorm")))
    readIndexRowsWithLayer(spark, rootDir)
      .withColumn("cluster", col("cluster").cast("long"))
      .join(centDf, Seq("cluster"))
      // loud per-row guard: int8Dot returns null on length mismatch,
      // which would surface as a silently-null mean_res_10k instead
      // of naming the wrong-dimensionality centroid argument
      .withColumn("__dot",
        when(length(col("qvec")) =!= length(col("ccode")),
          raise_error(concat(
            lit("vectorIndexDriftReport: centroid dim "),
            length(col("ccode")).cast("string"),
            lit(" != index code dim "),
            length(col("qvec")).cast("string"),
            lit(" — pass centroids of the index's dimensionality")))
            .cast("long"))
          .otherwise(Int8Ops.int8Dot(col("qvec"), col("ccode"))))
      .withColumn("res_10k", lit(10000L) -
        floor(col("__dot").cast("double") /
          (col("qnorm") * col("cnorm")) * 10000.0).cast("long"))
      .groupBy(col("layer_batch"), col("cluster"))
      .agg(count(lit(1)).as("n"), sum(col("res_10k")).as("sres"))
      .select(col("layer_batch"), col("cluster"), col("n"),
        expr("sres div n").as("mean_res_10k"))
  }

  /** RETRAIN lifecycle: rebuild an index under a NEW EPOCH while the
    * old one keeps answering, then swap atomically. `build` receives
    * the fresh epoch directory and populates it with the normal
    * append API (new centroids, re-encoded rows — whatever the
    * retrain entails); every reader resolving through the root keeps
    * hitting the OLD epoch until the `_EPOCH` pointer moves (one
    * atomic rename — the same swap discipline as the `_LAYERS`
    * manifest). The superseded store is GC'd by the NEXT retrain, not
    * this one, so a reader that resolved the old pointer just before
    * the swap finishes its query against an intact store. Returns the
    * new epoch's name.
    *
    * This is the answer to "centroids are frozen forever": freezing
    * is per-epoch, and [[vectorIndexDriftReport]] says when to pay
    * for the next epoch. A crash before the swap leaves the old
    * epoch intact and the half-built new one invisible (orphan
    * `epoch=` dirs are cleaned by the next successful retrain).
    */
  def retrainVectorIndex(rootDir: String)(build: String => Unit)
      : String = {
    val cur = resolveEpoch(rootDir)
    val root = new java.io.File(rootDir)
    val nextN = Option(root.listFiles).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("epoch="))
      .flatMap(_.getName.stripPrefix("epoch=").toLongOption)
      .maxOption.getOrElse(0L) + 1
    val next = s"epoch=$nextN"
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(rootDir, next))
    build(s"$rootDir/$next")
    VersionedDir.commit(rootDir, "_EPOCH", next)
    // GC superseded stores with ONE-RETRAIN DEFERRAL: a reader that
    // resolved the old pointer just before the swap keeps answering
    // from that store, so nothing THIS swap retired is deleted until
    // the NEXT retrain (the orphan-epoch discipline applied to the
    // live predecessor — the doc's "old epoch keeps answering"
    // concurrency story holds without reader retries). Deleted here:
    // epoch dirs already dead BEFORE this retrain — half-built
    // orphans from crashed builds and the epoch the PREVIOUS swap
    // retired — and, once the just-superseded store is itself an
    // epoch, the root-level layers a pre-epoch index left behind
    // (this also covers the crash window where a first retrain
    // swapped the pointer but died before its own GC: every later
    // retrain still cleans the dead root store).
    Option(root.listFiles).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("epoch=") &&
        f.getName != next && s"$rootDir/${f.getName}" != cur)
      .foreach(f => deleteRecursively(f.getPath))
    if (cur != rootDir) {
      existingLayerDirs(rootDir)
        .foreach(l => deleteRecursively(s"$rootDir/$l"))
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(rootDir, "_LAYERS"))
    }
    next
  }

  private def deleteRecursively(dir: String): Unit = {
    val root = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(root)) {
      val walk = java.nio.file.Files.walk(root)
      try walk.sorted(
          java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }
  }

  def deleteFromVectorIndex(spark: org.apache.spark.sql.SparkSession,
                            rootDir: String, ids: DataFrame,
                            idCol: String): Unit = {
    val indexDir = resolveEpoch(rootDir)
    val layers = liveLayers(indexDir)
    val data = layers.filterNot(_.startsWith("tombstone="))
    require(data.nonEmpty,
      s"cannot delete from $indexDir: no live data layers")
    val upto = (absorbedHighWater(indexDir) +:
      data.filter(_.startsWith("batch="))
        .flatMap(_.stripPrefix("batch=").toLongOption)).max
    val dest = s"tombstone=${existingLayerDirs(indexDir)
      .filter(_.startsWith("tombstone="))
      .flatMap(_.stripPrefix("tombstone=").toLongOption)
      .maxOption.getOrElse(0L) + 1}"
    ids.select(col(idCol).as("emb_id")).distinct()
      .withColumn("upto", lit(upto))
      .write.mode("overwrite").parquet(s"$indexDir/$dest")
    registerLayer(indexDir, dest, Map("tombstone_upto" ->
      math.max(upto, tombstoneHighWater(indexDir)).toString))
  }

  /** Append one micro-batch of vectors to a PERSISTED IVF index — the
    * vector-store scale path. Each batch is written partitioned by its
    * coarse-cluster assignment (`indexDir/batch=N/cluster=c/`), with the
    * l2 norm precomputed at write time, so:
    *
    *   - appends never touch existing data (cost is O(batch), state
    *     grows append-only like the star pipeline's batches);
    *   - a query reading nProbe clusters partition-prunes to those
    *     directories across every batch — at corpus scale that is the
    *     difference between a full scan and a few bucket reads.
    *
    * `cluster` is any stable coarse assignment: a precomputed label
    * column, or [[ivfCluster]] over centroids frozen at index creation
    * (standard IVF practice — retraining centroids means rebuilding).
    */
  def ivfIndexAppend(batch: DataFrame, idCol: String, vecCol: String,
                     cluster: Column, rootDir: String,
                     batchId: Long): Unit = {
    val indexDir = resolveEpoch(rootDir)
    requireAppendable(indexDir, batchId)
    batch.select(col(idCol).as("emb_id"),
        toDoubleVec(col(vecCol)).as("v"),
        cluster.cast("long").as("cluster"))
      .withColumn("norm", l2Norm(col("v")))
      .write.mode("overwrite").partitionBy("cluster")
      .parquet(s"$indexDir/batch=$batchId")
    registerLayer(indexDir, s"batch=$batchId")
  }

  /** Top-k over the persisted index: each query probes the clusters in
    * its `probesCol` array. The distinct probe set collects to the
    * driver (queries are small by contract) and filters the scan as a
    * LITERAL predicate — that is what makes partition pruning certain,
    * not dependent on a runtime dynamic-pruning plan.
    */
  def ivfIndexQuery(spark: org.apache.spark.sql.SparkSession,
                    indexDir: String, queries: DataFrame, idCol: String,
                    vecCol: String, probesCol: String, k: Int): DataFrame = {
    // pinned: TWO consumers (the probe-set collect and the broadcast
    // join) would otherwise each replay the query lineage — which for
    // query-by-example callers is a full encode chain (q195's was a
    // corpus-wide funnel+chunk+embed, measured 2× the stage's cost)
    val q0 = queries.select(col(idCol).as("query_id"),
        toDoubleVec(col(vecCol)).as("qv"),
        col(probesCol).cast("array<long>").as("__probes"))
      .withColumn("qn", l2Norm(col("qv")))
      .localCheckpoint(false)
    val probeSet = q0.select(explode(col("__probes")).as("p"))
      .distinct().collect().map(_.getLong(0)).sorted
    val idx = readIndexLayers(spark, indexDir)
      .filter(col("cluster").isin(probeSet: _*))
    val q = broadcast(q0
      .select(col("query_id"), col("qv"), col("qn"),
        explode(array_distinct(col("__probes"))).as("probe")))
    // distinct probes + a vector living in exactly ONE cluster
    // partition ⇒ multi-probe queries cannot double-count a neighbor
    val scored = q.join(idx,
        col("probe") === col("cluster") && col("query_id") =!= col("emb_id"))
      .withColumnRenamed("emb_id", "neighbor_id")
      .withColumn("sim",
        cosineSimPre(col("qv"), col("v"), col("qn"), col("norm")))
    topK(scored, k)
  }

  /** Append one batch of int8-quantized codes to a PERSISTED IVF-SQ8
    * index ([[ivfIndexAppend]]'s layer layout — `batch=N/cluster=c/`
    * under the `_LAYERS` manifest, [[compactVectorIndex]]-compatible
    * with `partitionCol = "cluster"`): per-vector codes are
    * batching-independent (each quantizes against its OWN max|x|), so
    * the persisted index answers queries verbatim-equal to the
    * in-memory [[ivfQuantizedTopK]]. At rest the codes are ONE byte
    * per dimension + a precomputed norm — the 100 TB rerank tier
    * stores ¼ the float32 bytes and prunes to probed clusters.
    */
  def sq8IndexAppend(batch: DataFrame, idCol: String, vecCol: String,
                     cluster: Column, rootDir: String,
                     batchId: Long): Unit = {
    val indexDir = resolveEpoch(rootDir)
    requireAppendable(indexDir, batchId)
    quantizeInt8(batch.withColumn("__cl", cluster.cast("long")),
        idCol, vecCol, keep = Seq("__cl"))
      .withColumnRenamed("__cl", "cluster")
      .write.mode("overwrite").partitionBy("cluster")
      .parquet(s"$indexDir/batch=$batchId")
    registerLayer(indexDir, s"batch=$batchId")
  }

  /** Quantized top-k over the persisted SQ8 index: the distinct probe
    * set collects to the driver (queries are small by contract) and
    * filters the scan as a LITERAL predicate — partition pruning is
    * certain, only the probed `cluster=` directories are read across
    * every live layer. Scoring is the [[quantizedTopK]] integer-dot
    * cosine over the at-rest codes.
    */
  def sq8IndexQuery(spark: org.apache.spark.sql.SparkSession,
                    indexDir: String, queries: DataFrame, idCol: String,
                    vecCol: String, probesCol: String, k: Int): DataFrame = {
    import graft.functions.Int8Ops
    // pinned for the same two-consumer reason as [[ivfIndexQuery]]'s
    // q0: the probe-set collect and the broadcast join must not each
    // replay an expensive query-encode lineage
    val q0 = quantizeInt8(queries, idCol, vecCol, keep = Seq(probesCol))
      .select(col("emb_id").as("query_id"),
        col(probesCol).cast("array<long>").as("__probes"),
        col("qvec").as("qv"), col("qnorm").as("qn"))
      .localCheckpoint(false)
    val probeSet = q0.select(explode(col("__probes")).as("p"))
      .distinct().collect().map(_.getLong(0)).sorted
    val idx = readIndexLayers(spark, indexDir)
      .filter(col("cluster").isin(probeSet: _*))
    val q = broadcast(q0.select(col("query_id"), col("qv"), col("qn"),
      explode(array_distinct(col("__probes"))).as("probe")))
    // distinct probes + a vector living in exactly ONE cluster
    // partition ⇒ multi-probe queries cannot double-count a neighbor
    val scored = q.join(idx,
        col("probe") === col("cluster") && col("query_id") =!= col("emb_id"))
      .withColumnRenamed("emb_id", "neighbor_id")
      .withColumn("sim", Int8Ops.int8Dot(col("qv"), col("qvec"))
        .cast("double") / (col("qn") * col("qnorm")))
    topK(scored, k)
  }

  // -------------------------------------------------- product quantization

  /** Rounded squared-L2 distance to a literal centroid — 4-decimal
    * rounding (+0.0 normalizes -0.0) makes the ORDER the distances
    * induce engine-portable (the repo's q23/q90 precision convention).
    */
  private def sqDistR(v: Column, c: Seq[Double]): Column =
    round(graft.functions.VectorOps.vecSqDist(v, typedLit(c)), 4) + lit(0.0)

  /** Nearest sub-centroid by rounded squared-L2 — argmin over k literal
    * centroids, lowest index breaking exact ties (the L2 counterpart of
    * [[cosineCluster]]).
    */
  def pqCluster(v: Column, cents: Seq[Seq[Double]]): Column = {
    if (cents.length == 1) return lit(0) // see ivfCluster
    val dists = cents.map(sqDistR(v, _))
    val minD = least(dists: _*)
    cents.indices.map(i => when(dists(i) === minD, lit(i)))
      .reduce((a, b) => coalesce(a, b))
  }

  /** Train product-quantization codebooks (Jégou et al. 2011): split
    * the dim-D space into `m` contiguous subspaces of D/m dims and run
    * the engine-portable Lloyd's ([[lloydPortable]], rounded-L2
    * assignment, exact-integer means, k-lowest-id init) independently
    * in each. Returns codebooks(mi)(cid) = sub-centroid.
    *
    * Scale: m × iters narrow aggregate passes; only m·k×(D/m) centroid
    * doubles ever reach the driver.
    */
  def pqTrainCodebooks(vectors: DataFrame, idCol: String, vecCol: String,
                       m: Int, k: Int,
                       iters: Int = 2): Seq[Seq[Seq[Double]]] = {
    // round 17: pin v0 before fanning out (the ivfTrainPortable
    // discipline) — the m concurrent sub-trainings would otherwise
    // each re-run the upstream vectors chain per Lloyd's pass
    val v0 = vectors.select(col(idCol).as("__id"),
      toDoubleVec(col(vecCol)).as("v"))
      .localCheckpoint(false)
    val dim = v0.select(size(col("v"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    // round 16 (guide §2.6): the m sub-quantizer trainings are
    // INDEPENDENT (each over its own slice of the same materialized
    // residuals) but were submitted sequentially — every Lloyd's
    // aggregate waited for the previous subspace's to drain. A small
    // driver pool overlaps them so each training's tail back-fills
    // with the next subspace's work; results are identical (no shared
    // state, deterministic per subspace).
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(m, 4))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      val futs = (0 until m).map { mi =>
        scala.concurrent.Future {
          val vs = v0.select(col("__id"),
            slice(col("v"), mi * sub + 1, sub).as("v"))
          val init: Seq[Seq[Double]] = vs.orderBy(col("__id")).limit(k)
            .select("v").collect().map(_.getSeq[Double](0).toSeq).toSeq
          lloydPortable(vs, init, iters, pqCluster)
        }
      }
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(futs),
        scala.concurrent.duration.Duration.Inf)
    } finally pool.shutdownNow() // a failed subspace must not leave the
                                 // other in-flight trainings running
  }

  /** PQ-encode vectors: each row compresses to m small codes (nearest
    * sub-centroid per subspace). THIS is the 100 TB artifact — a
    * 64-dim float vector (256 bytes) becomes m codes (m bytes at
    * k ≤ 256), a 64× compression; the search scan reads codes only,
    * never the vectors. Zero shuffle, fully codegen'd argmins.
    */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
               codebooks: Seq[Seq[Seq[Double]]]): DataFrame = {
    val sub = codebooks.head.head.length
    df.select(col(idCol).as("emb_id"),
      array(codebooks.zipWithIndex.map { case (cb, mi) =>
        pqCluster(slice(toDoubleVec(col(vecCol)), mi * sub + 1, sub), cb)
      }: _*).as("codes"))
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: each query
    * precomputes one k-entry distance table per subspace (query
    * subvector → every sub-centroid), then a candidate's approximate
    * distance is m table lookups summed in subspace order. The query
    * side (tables included) broadcasts; the code scan is a narrow
    * projection — the only shuffle is the per-query top-k window.
    */
  def pqSearch(queries: DataFrame, codes: DataFrame, idCol: String,
               vecCol: String, codebooks: Seq[Seq[Seq[Double]]],
               k: Int): DataFrame = {
    val sub = codebooks.head.head.length
    val q0 = queries.select(col(idCol).as("query_id"),
      toDoubleVec(col(vecCol)).as("qv"))
    val qdt = codebooks.zipWithIndex.foldLeft(q0) { case (df, (cb, mi)) =>
      df.withColumn(s"__qdt_$mi",
        array(cb.map(c => sqDistR(slice(col("qv"), mi * sub + 1, sub), c)): _*))
    }.drop("qv")
    // fixed subspace order (0..m-1): the oracle sums in the same order,
    // so the rounded totals are bit-identical
    val adist = codebooks.indices.map(mi =>
        element_at(col(s"__qdt_$mi"), col("codes").getItem(mi) + 1))
      .reduce(_ + _)
    val scored = broadcast(qdt)
      .join(codes, col("query_id") =!= col("emb_id"))
      .withColumn("adist", round(adist, 4) + lit(0.0))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist").asc, col("emb_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("emb_id").as("neighbor_id"),
        col("rank").cast("long").as("rank"), col("adist"))
  }

  // --------------------------------------------------------------- IVF-PQ

  /** Train the coarse quantizer for an IVF-PQ index: full-dimension
    * engine-portable Lloyd's with rounded-L2 argmin assignment (the
    * [[pqCluster]] geometry — IVF-PQ is an L2 structure, unlike the
    * spherical [[ivfTrainPortable]]).
    */
  def ivfPqTrainCoarse(vectors: DataFrame, idCol: String, vecCol: String,
                       kc: Int, iters: Int = 2): Seq[Seq[Double]] = {
    val v = vectors.select(col(idCol).as("__id"),
      toDoubleVec(col(vecCol)).as("v"))
    val init: Seq[Seq[Double]] = v.orderBy(col("__id")).limit(kc)
      .select("v").collect().map(_.getSeq[Double](0).toSeq).toSeq
    lloydPortable(v, init, iters, pqCluster)
  }

  /** Residual of each vector against its coarse centroid — the vector
    * the PQ codebooks are trained on and encode. In-plan (the centroid
    * matrix is a literal indexed by the assignment), zero shuffle.
    * Output: (emb_id, coarse, rv).
    */
  def ivfPqResiduals(df: DataFrame, idCol: String, vecCol: String,
                     coarse: Seq[Seq[Double]]): DataFrame = {
    val cl = typedLit(coarse)
    df.select(col(idCol).as("emb_id"), toDoubleVec(col(vecCol)).as("v"))
      .withColumn("coarse", pqCluster(col("v"), coarse))
      .withColumn("rv",
        zip_with(col("v"), element_at(cl, col("coarse") + 1),
          (x, c) => x - c))
      .select(col("emb_id"), col("coarse"), col("rv"))
  }

  /** Build the IVF-PQ index (Jégou et al. 2011 §IV): train the coarse
    * quantizer, PQ-train on the RESIDUALS, and encode every vector as
    * (coarse list id, m sub-codes). At rest this table is written
    * partitioned by `coarse` — a probe prunes to nProbe partitions AND
    * reads only code bytes: the two cuts that make billion-scale search
    * feasible, composed.
    */
  def ivfPqBuild(vectors: DataFrame, idCol: String, vecCol: String,
                 kc: Int, m: Int, k: Int, iters: Int = 2)
      : (Seq[Seq[Double]], Seq[Seq[Seq[Double]]], DataFrame) = {
    val coarse = ivfPqTrainCoarse(vectors, idCol, vecCol, kc, iters)
    // materialize the residuals ONCE: every sub-quantizer pass (m ×
    // (iters + 2) scans) would otherwise re-derive the coarse argmin +
    // subtraction per scan — measured 2× on the whole build at sf0.1
    val res = ivfPqResiduals(vectors, idCol, vecCol, coarse)
      .localCheckpoint(true)
    val codebooks = pqTrainCodebooks(res, "emb_id", "rv", m, k, iters)
    val sub = codebooks.head.head.length
    val codes = res.select(col("emb_id"), col("coarse"),
      array(codebooks.zipWithIndex.map { case (cb, mi) =>
        pqCluster(slice(col("rv"), mi * sub + 1, sub), cb)
      }: _*).as("codes"))
    (coarse, codebooks, codes)
  }

  /** IVF-PQ search: each query probes its `nProbe` nearest coarse
    * lists (rounded-L2 order, centroid id tie-break), computes one
    * distance table per (probe, subspace) from its RESIDUAL against
    * that list's centroid, and ADC-scores only the probed lists'
    * codes. The query side (probes + tables) broadcasts; candidates
    * join on the coarse id — partition-prunable at rest — and a vector
    * lives in exactly one list, so multi-probe never double-counts.
    */
  def ivfPqSearch(queries: DataFrame, codes: DataFrame, idCol: String,
                  vecCol: String, coarse: Seq[Seq[Double]],
                  codebooks: Seq[Seq[Seq[Double]]], nProbe: Int,
                  k: Int): DataFrame = {
    val sub = codebooks.head.head.length
    val cl = typedLit(coarse)
    val probeArr = slice(array_sort(array(coarse.indices.map(i =>
        struct(sqDistR(col("qv"), coarse(i)).as("d"),
          lit(i).as("cid"))): _*)),
      1, nProbe)
    val q0 = queries.select(col(idCol).as("query_id"),
        toDoubleVec(col(vecCol)).as("qv"))
      .withColumn("probe", explode(transform(probeArr, _.getField("cid"))))
      .withColumn("qr",
        zip_with(col("qv"), element_at(cl, col("probe") + 1),
          (x, c) => x - c))
    val qdt = codebooks.zipWithIndex.foldLeft(q0) { case (df, (cb, mi)) =>
      df.withColumn(s"__qdt_$mi",
        array(cb.map(c => sqDistR(slice(col("qr"), mi * sub + 1, sub), c)): _*))
    }.drop("qv", "qr")
    val adist = codebooks.indices.map(mi =>
        element_at(col(s"__qdt_$mi"), col("codes").getItem(mi) + 1))
      .reduce(_ + _)
    val scored = broadcast(qdt)
      .join(codes, col("probe") === col("coarse") &&
        col("query_id") =!= col("emb_id"))
      .withColumn("adist", round(adist, 4) + lit(0.0))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist").asc, col("emb_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("emb_id").as("neighbor_id"),
        col("rank").cast("long").as("rank"), col("adist"))
  }

  /** [[ivfPqBuild]] with SAMPLE-TRAINED quantizers — the 100 TB
    * practice: Lloyd's converges on a representative sample, so the
    * coarse centroids and PQ codebooks train on the deterministic
    * `id % trainMod == 0` subset while EVERY vector is still encoded.
    * Training cost drops by trainMod× (the m·iters aggregate passes
    * scan the sample, not the corpus); the encode pass is unchanged.
    * Deterministic + oracle-replayable (q136): the sample is an id
    * predicate, not an RNG.
    */
  def ivfPqBuildSampled(vectors: DataFrame, idCol: String, vecCol: String,
                        kc: Int, m: Int, k: Int, iters: Int,
                        trainMod: Long)
      : (Seq[Seq[Double]], Seq[Seq[Seq[Double]]], DataFrame) = {
    require(trainMod >= 1, "trainMod >= 1")
    val train = vectors.filter(pmod(col(idCol), lit(trainMod)) === 0)
    val coarse = ivfPqTrainCoarse(train, idCol, vecCol, kc, iters)
    val res = ivfPqResiduals(vectors, idCol, vecCol, coarse)
      .localCheckpoint(true)
    val codebooks = pqTrainCodebooks(
      res.filter(pmod(col("emb_id"), lit(trainMod)) === 0),
      "emb_id", "rv", m, k, iters)
    val sub = codebooks.head.head.length
    val codes = res.select(col("emb_id"), col("coarse"),
      array(codebooks.zipWithIndex.map { case (cb, mi) =>
        pqCluster(slice(col("rv"), mi * sub + 1, sub), cb)
      }: _*).as("codes"))
    (coarse, codebooks, codes)
  }

  /** IVF-PQ with REFINEMENT (the standard recall-recovery step, Jégou
    * et al. 2011 §V.A): take the top `rerank` candidates by
    * approximate ADC distance, fetch their TRUE vectors, and re-rank
    * exactly — quantization error then only matters below the rerank
    * horizon, not at the top-k boundary. Scale shape: the candidate
    * set is queries × rerank rows (tiny); the vector fetch is an
    * equi-join against the vector table (a point-lookup pattern — at
    * rest, bucket the vector table by id); the exact distances touch
    * rerank vectors per query instead of the whole corpus. Output:
    * (query_id, neighbor_id, rank, dist) under the rounded-L2 order
    * with id tie-break.
    */
  def ivfPqSearchRefined(queries: DataFrame, codes: DataFrame,
                         vectors: DataFrame, idCol: String, vecCol: String,
                         coarse: Seq[Seq[Double]],
                         codebooks: Seq[Seq[Seq[Double]]], nProbe: Int,
                         rerank: Int, k: Int): DataFrame = {
    require(rerank >= k, "rerank horizon must cover k")
    val cand = ivfPqSearch(queries, codes, idCol, vecCol, coarse,
      codebooks, nProbe, rerank).select("query_id", "neighbor_id")
    val vs = vectors.select(col(idCol).as("neighbor_id"),
      toDoubleVec(col(vecCol)).as("cv"))
    val qs = queries.select(col(idCol).as("query_id"),
      toDoubleVec(col(vecCol)).as("qv"))
    val scored = cand.join(vs, Seq("neighbor_id"))
      .join(broadcast(qs), Seq("query_id"))
      .withColumn("dist",
        round(graft.functions.VectorOps.vecSqDist(col("qv"), col("cv")), 4)
          + lit(0.0))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist").asc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"), col("dist"))
  }

  /** Append one micro-batch of PQ codes to a PERSISTED IVF-PQ index:
    * written partitioned by the coarse list id
    * (`indexDir/batch=N/coarse=c/`), append-only like
    * [[ivfIndexAppend]] — but each row is CODES, not vectors: the
    * at-rest artifact is both partition-prunable AND ~64× smaller.
    * Codebooks are frozen at build time (standard PQ practice —
    * retraining means re-encoding).
    */
  def ivfPqIndexAppend(codes: DataFrame, rootDir: String,
                       batchId: Long): Unit = {
    val indexDir = resolveEpoch(rootDir)
    requireAppendable(indexDir, batchId)
    codes.write.mode("overwrite").partitionBy("coarse")
      .parquet(s"$indexDir/batch=$batchId")
    registerLayer(indexDir, s"batch=$batchId")
  }

  /** ADC top-k over the persisted code index. The union of every
    * query's nProbe lists collects to the driver (bounded by kc, the
    * coarse centroid count) and filters the scan as a LITERAL
    * predicate, so partition pruning is certain — only the probed
    * `coarse=` directories are read, across every batch. Scoring is
    * [[ivfPqSearch]] over the pruned scan.
    */
  def ivfPqIndexQuery(spark: org.apache.spark.sql.SparkSession,
                      indexDir: String, queries: DataFrame, idCol: String,
                      vecCol: String, coarse: Seq[Seq[Double]],
                      codebooks: Seq[Seq[Seq[Double]]], nProbe: Int,
                      k: Int): DataFrame = {
    val probeArr = slice(array_sort(array(coarse.indices.map(i =>
        struct(sqDistR(toDoubleVec(col(vecCol)), coarse(i)).as("d"),
          lit(i).as("cid"))): _*)),
      1, nProbe)
    val probeSet = queries
      .select(explode(transform(probeArr, _.getField("cid"))).as("p"))
      .distinct().collect().map(_.getInt(0)).sorted
    val idx = readIndexLayers(spark, indexDir)
      .filter(col("coarse").isin(probeSet: _*))
    ivfPqSearch(queries, idx, idCol, vecCol, coarse, codebooks, nProbe, k)
  }

  /** Exact squared-L2 top-k over the full candidate set (rounded
    * distances, id tie-break — the q97/q99 ordering convention): the
    * ground-truth side of ANN quality evaluation. Full scan by
    * definition; run it on an evaluation SAMPLE of queries, never the
    * serving path.
    */
  def bruteForceTopKL2(queries: DataFrame, candidates: DataFrame,
                       idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      toDoubleVec(col(vecCol)).as("qv")))
    val c = candidates.select(col(idCol).as("neighbor_id"),
      toDoubleVec(col(vecCol)).as("cv"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("dist",
        round(graft.functions.VectorOps.vecSqDist(col("qv"), col("cv")), 4)
          + lit(0.0))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist").asc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"), col("dist"))
  }

  /** Recall@k of an approximate result set against exact ground truth
    * (both with (query_id, neighbor_id) rows): per query,
    * |approx ∩ exact| / k. THE metric that justifies an ANN index's
    * probe/code parameters — an index nobody measures is an index
    * nobody can trust at 100 TB. Exact-integer hit counts; queries
    * with no approximate results score 0.
    */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    val hits = approx.select("query_id", "neighbor_id")
      .join(exact.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
    exact.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), lit(k.toLong).as("k"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("recall", col("n_hit").cast("double") / k)
  }

  /** k-NN majority-vote classification eval (Cover & Hart 1967) — the
    * second standard embedding-quality probe next to [[recallAtK]]:
    * each held-out query takes the majority label of its k EXACT
    * nearest neighbors (vote ties: count DESC, label ASC), compared
    * to its true label. Like the recall harness this is an EVALUATION
    * pass over a query sample — the brute-force scan buys exactness,
    * and the metric tells you whether the embedding carries label
    * structure at all before anyone trusts ANN answers built on it.
    * Output: (query_id, true_label, pred_label, votes, correct).
    */
  def knnClassify(queries: DataFrame, candidates: DataFrame,
                  idCol: String, vecCol: String, labelCol: String,
                  k: Int): DataFrame = {
    val nn = bruteForceTopKL2(queries, candidates, idCol, vecCol, k)
    val votes = nn.join(candidates.select(col(idCol).as("neighbor_id"),
        col(labelCol).cast("long").as("nl")), Seq("neighbor_id"))
      .groupBy(col("query_id"), col("nl"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("nl"))
    votes.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .join(queries.select(col(idCol).as("query_id"),
        col(labelCol).cast("long").as("true_label")), Seq("query_id"))
      .select(col("query_id"), col("true_label"),
        col("nl").as("pred_label"), col("votes"),
        (col("nl") === col("true_label")).as("correct"))
  }

  private def topK(scored: DataFrame, k: Int): DataFrame = {
    // Rank on the ROUNDED similarity (+0.0 normalizes IEEE -0.0): a
    // near-tie at a rank boundary must resolve identically in Spark and
    // the oracle engine, and unrounded float sums are evaluation-order-
    // dependent. neighbor_id breaks exact ties deterministically.
    val simR = round(col("sim"), 4) + lit(0.0)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(simR.desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"),
        simR.as("sim"))
  }
}
