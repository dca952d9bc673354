package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.kernel.BitemporalKernel

import scala.util.Random

/** The window-and-join formulation of the bitemporal kernel, verbatim as
  * it stood before the one-pass kernel replaced it: the reference
  * [[KeyedPassSpec]] pins `BitemporalKernel` to.
  */
object WindowKernelReference {
  import BitemporalKernel.{BitemporalState, KernelResult}

  def applyBatch(
      state: DataFrame,
      updates: DataFrame,
      keyCols: Seq[String],
      validFromUsCol: String,
      tieCol: String,
      payloadCols: Seq[String],
      materialize: DataFrame => DataFrame = identity): KernelResult = {
    val (history, withUntil) =
      foldVersions(state, updates, keyCols, validFromUsCol, tieCol,
        payloadCols, materialize)
    KernelResult(
      live = withUntil.filter(col("valid_until_us").isNull).drop("valid_until_us"),
      audit = withUntil.filter(col("valid_until_us").isNotNull),
      history = history)
  }

  private def foldVersions(
      state: DataFrame,
      updates: DataFrame,
      keyCols: Seq[String],
      validFromUsCol: String,
      tieCol: String,
      payloadCols: Seq[String],
      materialize: DataFrame => DataFrame = identity): (DataFrame, DataFrame) = {

    val cols = keyCols ++ Seq(validFromUsCol, tieCol) ++ payloadCols
    val all = state.selectExpr(cols: _*).unionByName(updates.selectExpr(cols: _*))

    val byKey = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(validFromUsCol), col(tieCol))

    // W2: at-least-once delivery — an exact replay of a message (same key,
    // validFrom, tie) is a no-op (ref Technical_overview_of_EMAP.md:189-196).
    // `tie` must uniquely identify the source message. Replays are adjacent
    // in the (validFrom, tie) sort, so a lag-filter dedups them inside the
    // SAME window pass as the F6/lead steps below — the whole kernel is
    // ONE hash exchange + ONE sort (a dropDuplicates here planned as two
    // extra exchanges + a SortAggregate).
    val msgId = struct(col(validFromUsCol), col(tieCol))
    val history = materialize(all
      .withColumn("__prev_id", lag(msgId, 1).over(byKey))
      .filter(col("__prev_id").isNull || !(msgId <=> col("__prev_id")))
      .drop("__prev_id"))

    val payload = struct(payloadCols.map(col): _*)
    // F6 (output-side): coalesce runs of identical consecutive payloads —
    // keep the FIRST of each run (a no-op update does not bump validFrom;
    // ref RowState.java:155-162).
    val kept = history
      .withColumn("__prev_payload", lag(payload, 1).over(byKey))
      .filter(col("__prev_payload").isNull ||
        !(payload <=> col("__prev_payload")))
      .drop("__prev_payload")

    // Same partitioning & ordering → no extra shuffle for the second pass.
    val withUntil = materialize(kept
      .withColumn("valid_until_us", lead(col(validFromUsCol), 1).over(byKey)))

    (history, withUntil)
  }

  def applyBitemporal(
      prev: BitemporalState,
      updates: DataFrame,
      keyCols: Seq[String],
      validFromUsCol: String,
      tieCol: String,
      storedFromUsCol: String,
      payloadCols: Seq[String],
      materialize: DataFrame => DataFrame = identity): BitemporalState = {

    val (newMessages, newVersions) = foldVersions(
      prev.messages, updates, keyCols, validFromUsCol, tieCol, payloadCols,
      materialize)

    // One stored stamp per touched key (batch granularity — see scaladoc).
    val stamps = updates
      .groupBy(keyCols.map(col): _*)
      .agg(max(col(storedFromUsCol)).as("__stamp"))

    val closed = prev.table.filter(col("stored_until_us").isNotNull)
    val open = prev.table.filter(col("stored_until_us").isNull)
      .drop("stored_until_us")

    // Diff open records against the re-derived versions on the version
    // identity (key, validFrom, tie); payload/validUntil compared
    // null-safely. Full outer join: left-only = disappeared (absorbed or
    // superseded shape), right-only = newly created, both = unchanged or
    // content-changed.
    val idCols = keyCols :+ validFromUsCol :+ tieCol
    val oldSide = open.select(
      idCols.map(col) ++
        payloadCols.map(c => col(c).as(s"__old_$c")) ++
        Seq(col("valid_until_us").as("__old_vu"),
          col("stored_from_us").as("__old_sf"),
          lit(true).as("__in_old")): _*)
    val newSide = newVersions.withColumn("__in_new", lit(true))

    val diff = newSide.join(oldSide, idCols, "full_outer")
      .join(stamps, keyCols, "left")

    val samePayload = struct(payloadCols.map(col): _*) <=>
      struct(payloadCols.map(c => col(s"__old_$c")): _*)
    val unchanged = col("__in_new").isNotNull && col("__in_old").isNotNull &&
      samePayload && (col("valid_until_us") <=> col("__old_vu"))

    val outCols = keyCols ++ Seq(validFromUsCol, tieCol) ++ payloadCols
    val keepUnchanged = diff.filter(unchanged)
      .select(outCols.map(col) ++ Seq(col("valid_until_us"),
        col("__old_sf").as("stored_from_us"),
        lit(null).cast("long").as("stored_until_us")): _*)
    val closeOld = diff.filter(col("__in_old").isNotNull && !unchanged)
      .select(keyCols.map(col) ++ Seq(col(validFromUsCol), col(tieCol)) ++
        payloadCols.map(c => col(s"__old_$c").as(c)) ++
        Seq(col("__old_vu").as("valid_until_us"),
          col("__old_sf").as("stored_from_us"),
          col("__stamp").as("stored_until_us")): _*)
    val openNew = diff.filter(col("__in_new").isNotNull && !unchanged)
      .select(outCols.map(col) ++ Seq(col("valid_until_us"),
        col("__stamp").as("stored_from_us"),
        lit(null).cast("long").as("stored_until_us")): _*)

    // Bound the output partition count. The 3 diff branches are narrow
    // over `open` (the batch side broadcasts), so each carries the
    // previous table's partitions — without this coalesce the union
    // compounds 3× per fold (exponential partition growth: measured
    // 1→4→13→40→121… and a 120k-task stage by fold 10). coalesce is
    // narrow (closed records don't move); at scale the caller's bucketed
    // fold keeps per-bucket sizes bounded.
    val nParts = math.max(1, updates.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "32").toInt)
    BitemporalState(
      messages = newMessages,
      table = closed.unionByName(keepUnchanged)
        .unionByName(closeOld).unionByName(openNew).coalesce(nParts))
  }
}

/** The one-pass kernel gives row-identical results to the window-and-join
  * formulation ([[WindowKernelReference]]) over seeded random multi-batch
  * sequences: duplicates inside and across batches, late arrivals,
  * identical-payload runs, null ties, null payload fields and a null key
  * part, for a one-column key with scalar payloads and for a two-column
  * key with an array-of-struct payload (the labs star's `results` shape).
  */
class KeyedPassSpec extends SparkSpecBase {
  import BitemporalKernel.BitemporalState

  /** A star shape: its schema's key, time, tie and payload columns, and a
    * generator of one message's (key parts, payload) for a random source.
    */
  private case class Shape(schema: StructType, keyCols: Seq[String],
                           payloadCols: Seq[String],
                           keyOf: Random => Seq[Any],
                           payloadOf: Random => Seq[Any]) {
    val msgCols: Seq[String] = keyCols ++ Seq("vf", "tie") ++ payloadCols
  }

  private def pick[A](r: Random, xs: A*): A = xs(r.nextInt(xs.size))

  private val scalar = Shape(
    StructType(Seq(StructField("key", LongType), StructField("vf", LongType),
      StructField("tie", LongType), StructField("state", StringType),
      StructField("value", DoubleType), StructField("stored", LongType))),
    Seq("key"), Seq("state", "value"),
    r => Seq(r.nextInt(4).toLong),
    r => Seq(pick(r, "a", "b", null),
      pick[Any](r, 1.0, 2.0, null, Double.NaN, 0.0, -0.0)))

  private val resultType = ArrayType(StructType(Seq(
    StructField("code", StringType), StructField("value", DoubleType))))
  private val labs = Shape(
    StructType(Seq(StructField("mrn", StringType),
      StructField("visit", LongType), StructField("vf", LongType),
      StructField("tie", StringType), StructField("status", StringType),
      StructField("results", resultType), StructField("stored", LongType))),
    Seq("mrn", "visit"), Seq("status", "results"),
    r => Seq(pick(r, "m1", "m2"), pick[Any](r, 1L, 2L, null)),
    r => Seq(pick(r, "F", "P", null),
      pick[Any](r, null, Seq(), Seq(Row("HB", 13.5)),
        Seq(Row("HB", 13.5), Row("K", null)), Seq(Row(null, Double.NaN)))))

  /** `batches` batches over a universe of distinct messages: each batch
    * draws with replacement (duplicates inside a batch), messages recur
    * across batches (redelivery), and valid times fall in random order
    * (late arrivals). A null tie never shares its key and valid time
    * with another message, so "an exact replay" stays well defined.
    */
  private def sequence(shape: Shape, seed: Int, batches: Int): Seq[DataFrame] = {
    val r = new Random(seed)
    val nullTies = scala.collection.mutable.Set.empty[(Seq[Any], Long)]
    val universe = (0 until 24).map { i =>
      val key = shape.keyOf(r)
      val vf = 1000L * r.nextInt(6)
      val nullTie = r.nextInt(6) == 0 && nullTies.add((key, vf))
      val tie: Any =
        if (nullTie) null
        else if (shape.schema("tie").dataType == LongType) i.toLong
        else s"t$i"
      key ++ Seq(vf, tie) ++ shape.payloadOf(r)
    }
    (1 to batches).map { b =>
      val rows = Seq.fill(3 + r.nextInt(8))(universe(r.nextInt(universe.size)))
        .map(m => Row.fromSeq(m :+ b.toLong))
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
        shape.schema)
    }
  }

  private def rows(df: DataFrame, cols: Seq[String]): Seq[String] =
    df.select(cols.map(col): _*).collect().map(_.toString).toSeq.sorted

  private val shapes = Seq("scalar" -> scalar, "labs" -> labs)

  for ((name, shape) <- shapes; feedLive <- Seq(false, true))
    test(s"applyBatch equals the window formulation ($name key, " +
        s"state = ${if (feedLive) "live rows only" else "history"})") {
      for (seed <- 1 to 3) {
        var (state, refState) = {
          val empty = sequence(shape, seed, 1).head.limit(0)
          (empty, empty)
        }
        for ((batch, b) <- sequence(shape, seed, 4).zipWithIndex) {
          val got = BitemporalKernel.applyBatch(state, batch, shape.keyCols,
            "vf", "tie", shape.payloadCols)
          val ref = WindowKernelReference.applyBatch(refState, batch,
            shape.keyCols, "vf", "tie", shape.payloadCols)
          for ((table, g, e, cols) <- Seq(
              ("live", got.live, ref.live, shape.msgCols),
              ("audit", got.audit, ref.audit, shape.msgCols :+ "valid_until_us"),
              ("history", got.history, ref.history, shape.msgCols)))
            assert(rows(g, cols) == rows(e, cols),
              s"seed $seed batch $b: $table diverged")
          state = (if (feedLive) got.live else got.history).localCheckpoint()
          refState = (if (feedLive) ref.live else ref.history).localCheckpoint()
        }
      }
    }

  for ((name, shape) <- shapes)
    test(s"applyBitemporal equals the window-and-join formulation " +
        s"($name key)") {
      val tableCols = shape.msgCols ++
        Seq("valid_until_us", "stored_from_us", "stored_until_us")
      for (seed <- 1 to 3) {
        val empty = BitemporalKernel.emptyBitemporal(
          sequence(shape, seed, 1).head, shape.keyCols, "vf", "tie",
          shape.payloadCols)
        var (st, refSt) = (empty, empty)
        for ((batch, b) <- sequence(shape, seed, 4).zipWithIndex) {
          val got = BitemporalKernel.applyBitemporal(st, batch, shape.keyCols,
            "vf", "tie", "stored", shape.payloadCols)
          val ref = WindowKernelReference.applyBitemporal(refSt, batch,
            shape.keyCols, "vf", "tie", "stored", shape.payloadCols)
          assert(rows(got.messages, shape.msgCols) ==
            rows(ref.messages, shape.msgCols), s"seed $seed batch $b: messages")
          assert(rows(got.table, tableCols) == rows(ref.table, tableCols),
            s"seed $seed batch $b: table")
          st = BitemporalState(got.messages.localCheckpoint(),
            got.table.localCheckpoint())
          refSt = BitemporalState(ref.messages.localCheckpoint(),
            ref.table.localCheckpoint())
        }
      }
    }

  test("a named partitioning folds bucket b in partition b, alone") {
    val n = 64
    val bucket = pmod(xxhash64(col("key")), lit(n))
    val batch = spark.range(0, 2000).select(col("id").as("key"),
      (col("id") % 5).as("vf"), col("id").as("tie"),
      lit("a").as("state"), lit(1.0).as("value"))
    val named = Some(BitemporalKernel.KeyPartitioning(bucket, n))
    val pass = BitemporalKernel.batchTables(batch.limit(0), batch,
      Seq("key"), "vf", "tie", Seq("state", "value"), named)
    val r = BitemporalKernel.applyBatch(batch.limit(0), batch, Seq("key"),
      "vf", "tie", Seq("state", "value"), partitioning = named)
    val placed = pass.select(bucket).rdd
      .mapPartitionsWithIndex((i, it) => it.map(b => (i, b.getLong(0))))
      .distinct().collect()
    assert(pass.rdd.getNumPartitions == n)
    assert(placed.map(_._2).distinct.length == n, "every bucket touched")
    assert(placed.forall { case (i, b) => i == b }, placed.sorted.toSeq)
    val plain = BitemporalKernel.applyBatch(batch.limit(0), batch, Seq("key"),
      "vf", "tie", Seq("state", "value"))
    assert(rows(r.live, scalar.msgCols) == rows(plain.live, scalar.msgCols))
  }

  test("an exact replay with a different payload keeps the stored message") {
    val schema = scalar.schema
    def df(rs: Row*) = spark.createDataFrame(
      spark.sparkContext.parallelize(rs, 1), schema)
    val state = df(Row(1L, 100L, 7L, "stored", 1.0, 1L))
    val batch = df(Row(1L, 100L, 7L, "replayed", 2.0, 2L))
    val r = BitemporalKernel.applyBatch(state, batch, Seq("key"), "vf",
      "tie", Seq("state", "value"))
    assert(rows(r.history, Seq("state")) == Seq("[stored]"))
    val bt = BitemporalKernel.applyBitemporal(
      BitemporalState(state, BitemporalKernel.emptyBitemporal(state,
        Seq("key"), "vf", "tie", Seq("state", "value")).table),
      batch, Seq("key"), "vf", "tie", "stored", Seq("state", "value"))
    assert(rows(bt.messages, Seq("state")) == Seq("[stored]"))
  }
}
