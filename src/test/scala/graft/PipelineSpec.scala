package graft

import org.apache.spark.sql.functions._
import graft.operators.{CascadingDelete, PendingMovements}
import graft.streaming.{EffectLog, StarPipeline, WirePipeline}

import java.nio.file.Files
import scala.jdk.CollectionConverters._

case class StarMsg(key: Long, ts_us: Long, msg_id: Long, state: String,
                   value: Double)

class PipelineSpec extends SparkSpecBase {
  import spark.implicits._

  test("O11: cascading person delete removes only older rows, with audit") {
    val deletes = Seq(("m1", 5000L)).toDF("mrn", "delTimeUs")
    val demo = Seq(("m1", 1000L, "alice"), ("m2", 1000L, "bob"))
      .toDF("mrn", "validFromUs", "name")
    val visits = Seq(("m1", "v1", 1000L), ("m1", "v2", 9000L),
      ("m2", "v3", 1000L)).toDF("mrn", "visitId", "validFromUs")
    val labs = Seq(("v1", 2000L, "ALP"), ("v2", 2000L, "ALB"),
      ("v3", 2000L, "HB")).toDF("visitId", "validFromUs", "test")

    val r = CascadingDelete.person(deletes, demo, visits,
      Map("labs" -> labs))
    assert(r.demographics.live.select("mrn").as[String].collect().toSeq
      == Seq("m2"))
    assert(r.demographics.audit.count() == 1)
    // v2 is NEWER than the delete → survives (F7 newer-only guard)
    assert(r.visits.live.select("visitId").as[String].collect().sorted
      .toSeq == Seq("v2", "v3"))
    // children of deleted visits go; v2's and v3's labs stay
    assert(r.children("labs").live.select("visitId").as[String].collect()
      .sorted.toSeq == Seq("v2", "v3"))
  }

  test("O13: cancel binds to most recent pending within window") {
    val pendings = Seq((10L, "v1", "ICU", 1000L), (11L, "v1", "ICU", 5000L),
      (12L, "v2", "ER", 1000L)).toDF("pendingId", "visitId", "location", "tsUs")
    val cancels = Seq((20L, "v1", "ICU", 6000L), (21L, "v2", "ER", 90000L))
      .toDF("cancelId", "visitId", "location", "tsUs")
    val r = PendingMovements.derive(pendings, cancels, matchWindowUs = 10000L)
      .select("pendingId", "cancelledTsUs").as[(Long, Option[Long])]
      .collect().toMap
    assert(r(11L) == Some(6000L)) // binds to the MOST RECENT pending
    assert(r(10L) == None)        // superseded pending untouched
    assert(r(12L) == None)        // cancel outside the window
  }

  test("S8/W1: streaming star pipeline folds micro-batches into state") {
    implicit val s = spark
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val stateDir = Files.createTempDirectory("star_state").toString
    val ckpt = Files.createTempDirectory("star_ckpt").toString
    val cfg = StarPipeline.Config(stateDir, Seq("key"), "ts_us", "msg_id",
      Seq("state", "value"))

    val input = MemoryStream[StarMsg](spark)
    val q = StarPipeline.start(input.toDS().toDF(), cfg, ckpt,
      org.apache.spark.sql.streaming.Trigger.AvailableNow())
    // batch 1 arrives AFTER batch 2's event times (out-of-order, W1)
    input.addData(Seq(StarMsg(1, 2000, 2, "b", 2.0),
      StarMsg(1, 3000, 3, "c", 3.0)))
    q.processAllAvailable(); q.stop()

    val q2 = StarPipeline.start(input.toDS().toDF(), cfg, ckpt,
      org.apache.spark.sql.streaming.Trigger.AvailableNow())
    input.addData(Seq(StarMsg(1, 1000, 1, "a", 1.0))) // years late, still lands
    q2.processAllAvailable(); q2.stop()

    val live = StarPipeline.readState(spark, cfg, "live").get
      .select("ts_us", "state").as[(Long, String)].collect().toSeq
    assert(live == Seq((3000L, "c")))
    val audit = StarPipeline.readState(spark, cfg, "audit").get
      .orderBy("ts_us").select("ts_us", "valid_until_us")
      .as[(Long, Long)].collect().toSeq
    // late message retro-inserted into history with repaired intervals
    assert(audit == Seq((1000L, 2000L), (2000L, 3000L)))
  }

  test("S8 bucketed fold rewrites only touched buckets (incremental state)") {
    import graft.kernel.BitemporalKernel
    val stateDir = Files.createTempDirectory("star_bucket").toString
    val cfg = StarPipeline.Config(stateDir, Seq("key"), "ts_us", "msg_id",
      Seq("state", "value"), nBuckets = 8)
    val b1 = (1L to 8L).map(k => StarMsg(k, 1000L * k, k, "a", k.toDouble)).toDF()
    StarPipeline.foldBatch(b1, 1L, cfg)
    def bucketDirs(v: String) = new java.io.File(s"$stateDir/data/$v/__table=history")
      .listFiles().filter(_.getName.startsWith("__bucket=")).map(_.getName).toSet
    val v1Before = bucketDirs("v1")

    val b2 = Seq(StarMsg(1L, 500L, 100L, "z", 0.5)).toDF()
    StarPipeline.foldBatch(b2, 2L, cfg)

    // v2 holds exactly the buckets batch 2 touched; v1's files are intact
    val touched = b2.select(pmod(xxhash64(col("key")), lit(8)).cast("string"))
      .distinct().as[String].collect().map("__bucket=" + _).toSet
    assert(bucketDirs("v2") == touched)
    assert(bucketDirs("v1") == v1Before)

    // combined state == from-scratch fold of all messages
    val expect = BitemporalKernel.applyBatch(b1.limit(0), b1.unionByName(b2),
      Seq("key"), "ts_us", "msg_id", Seq("state", "value"))
    val gotLive = StarPipeline.readState(spark, cfg, "live").get
      .orderBy("key").select("key", "ts_us", "state")
      .as[(Long, Long, String)].collect().toSeq
    val expLive = expect.live.orderBy("key").select("key", "ts_us", "state")
      .as[(Long, Long, String)].collect().toSeq
    assert(gotLive == expLive && gotLive.nonEmpty)
  }

  test("S8 JDBC MERGE sink folds to the same state as the manifest sink; " +
    "replayed batches are exact no-ops") {
    import graft.streaming.{JdbcStarSink, ManifestStarSink, StarSink}
    System.setProperty("derby.system.home",
      Files.createTempDirectory("derby_home").toString)
    val jdbc: StarSink = new graft.streaming.JdbcStarSink(
      "jdbc:derby:memory:starsink;create=true", "conditions")
    val manifest: StarSink = ManifestStarSink
    val cfg = StarPipeline.Config(
      Files.createTempDirectory("star_jdbc_ref").toString,
      Seq("key"), "ts_us", "msg_id", Seq("state", "value"), nBuckets = 8)

    // out-of-order arrivals + a no-op payload repeat (F6) + a key that
    // empties later (run coalescing must DELETE its vanished audit row)
    val b1 = Seq(StarMsg(1, 2000, 2, "b", 2.0), StarMsg(1, 3000, 3, "b", 2.0),
      StarMsg(2, 1000, 4, "x", 1.0)).toDF()
    val b2 = Seq(StarMsg(1, 1000, 1, "a", 1.0), // late, retro-inserts
      StarMsg(2, 5000, 5, "y", 9.0)).toDF()
    Seq(jdbc, manifest).foreach { s =>
      s.fold(b1, 1L, cfg); s.fold(b2, 2L, cfg)
    }

    def dump(s: StarSink, t: String) =
      s.read(spark, cfg, t).get
        .select("key", "ts_us", "msg_id", "state", "value")
        .as[(Long, Long, Long, String, Double)].collect().toSeq.sorted
    Seq("history", "live", "audit").foreach { t =>
      assert(dump(jdbc, t) == dump(manifest, t), s"table $t diverged")
    }
    assert(dump(jdbc, "live").nonEmpty)

    // replay of a committed batch: progress mark short-circuits, state
    // unchanged (W2)
    val before = dump(jdbc, "history")
    jdbc.fold(b2, 2L, cfg)
    assert(dump(jdbc, "history") == before)
  }

  test("S8 JDBC sink bitemporal fold == manifest bitemporal fold, " +
    "bit for bit; stage tables see no DDL after the first batch") {
    import graft.streaming.{JdbcStarSink, ManifestStarSink, StarSink}
    System.setProperty("derby.system.home",
      Files.createTempDirectory("derby_home_bt").toString)
    val jdbc: StarSink = new graft.streaming.JdbcStarSink(
      "jdbc:derby:memory:starsinkbt;create=true", "conditions")
    val manifest: StarSink = ManifestStarSink
    val cfg = StarPipeline.Config(
      Files.createTempDirectory("star_jdbc_bt").toString,
      Seq("key"), "ts_us", "msg_id", Seq("state", "value"), nBuckets = 8,
      storedFromUsCol = "stored_us")

    // the q70 shape: out-of-order valid times across batches, so the
    // stored axis must close batch-1 records when batch 2's late
    // arrivals rewrite valid-time history (incl. an F6 no-op repeat
    // that must cause no stored churn)
    def batch(b: Long) = ((1L to 6L).map { k =>
      StarMsg(k, 1000L * ((b * 3 + k) % 7 + 1), b * 100 + k,
        s"s$b", b.toDouble)
    } :+ StarMsg(1L, 500L * b, 900 + b, "x", 0.5)).toDF()
      .withColumn("stored_us", lit(b))

    (1L to 3L).foreach { b =>
      jdbc.foldBitemporal(batch(b), b, cfg)
      manifest.foldBitemporal(batch(b), b, cfg)
    }

    def snap(s: StarSink, t: String) = s.read(spark, cfg, t).get
      .select("key", "ts_us", "msg_id", "state", "value",
        "valid_until_us", "stored_from_us", "stored_until_us")
      .as[(Long, Long, Long, String, Double, Option[Long], Option[Long],
        Option[Long])].collect().toSeq.sorted
    assert(snap(jdbc, "bt_table") == snap(manifest, "bt_table"),
      "bt_table diverged between sinks")
    assert(snap(jdbc, "bt_table").nonEmpty)
    def msgs(s: StarSink) = s.read(spark, cfg, "bt_messages").get
      .select("key", "ts_us", "msg_id", "state", "value")
      .as[(Long, Long, Long, String, Double)].collect().toSeq.sorted
    assert(msgs(jdbc) == msgs(manifest), "bt_messages diverged")

    // replay of a committed batch: progress mark short-circuits (W2)
    val before = snap(jdbc, "bt_table")
    jdbc.foldBitemporal(batch(2), 2L, cfg)
    assert(snap(jdbc, "bt_table") == before)

    // staging hygiene: Derby assigns a fresh TABLEID on CREATE, so a
    // DROP/CREATE-per-batch stage write would change it between folds.
    // It must be stable from the first batch onward (truncate+append).
    def stageIds(): Map[String, String] = {
      val c = java.sql.DriverManager
        .getConnection("jdbc:derby:memory:starsinkbt")
      try {
        val rs = c.createStatement().executeQuery(
          """SELECT TABLENAME, TABLEID FROM SYS.SYSTABLES
            |WHERE TABLENAME LIKE '%_STAGE'""".stripMargin)
        val b = Map.newBuilder[String, String]
        while (rs.next()) b += rs.getString(1) -> rs.getString(2)
        b.result()
      } finally c.close()
    }
    val idsBefore = stageIds()
    assert(idsBefore.keySet.exists(_.contains("BT_TABLE")))
    jdbc.foldBitemporal(batch(4), 4L, cfg)
    assert(stageIds() == idsBefore,
      "stage tables were re-created (DDL per batch) instead of truncated")
  }

  test("replaying the committed batch id swaps its manifest by rename: " +
      "the star reads back identical and no temp file is left behind") {
    val stateDir = Files.createTempDirectory("star_replay").toString
    val cfg = StarPipeline.Config(stateDir, Seq("key"), "ts_us", "msg_id",
      Seq("state", "value"), nBuckets = 8)
    val b1 = (1L to 4L).map(k => StarMsg(k, 1000L, k, "a", 1.0)).toDF()
    val b2 = Seq(StarMsg(1L, 2000L, 10L, "b", 2.0),
      StarMsg(5L, 1000L, 11L, "a", 1.0)).toDF()
    StarPipeline.foldBatch(b1, 1L, cfg)
    StarPipeline.foldBatch(b2, 2L, cfg)

    def star = Seq("history", "live", "audit").map { t =>
      val df = StarPipeline.readState(spark, cfg, t).get
      t -> df.select(to_json(struct(df.columns.sorted.map(col): _*)))
        .as[String].collect().toSeq.sorted
    }
    val manifest = java.nio.file.Paths.get(stateDir, "manifest-v2")
    def fileKey = Files.readAttributes(manifest,
      classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()
    val before = star
    val keyBefore = fileKey

    // at-least-once delivery: the committed batch arrives again, and its
    // fold reads the very bucket files it replaces
    StarPipeline.foldBatch(b2, 2L, cfg)
    assert(star == before)
    assert(new String(Files.readAllBytes(
      java.nio.file.Paths.get(stateDir, "_CURRENT"))) == "manifest-v2")
    // a new file renamed over the old one, not the old one rewritten in
    // place (a reader holding `_CURRENT`'s target never sees it truncated)
    if (keyBefore != null) assert(fileKey != keyBefore)

    StarPipeline.compact(spark, cfg, horizonUs = 1500L, batchId = 3L)
    assert(StarPipeline.compactionHorizon(cfg).contains(1500L))
    val walk = Files.walk(java.nio.file.Paths.get(stateDir))
    val tmps = try walk.iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".tmp")).toList finally walk.close()
    assert(tmps.isEmpty, tmps)
  }

  /** The q70 shape: out-of-order valid times across batches (key 1 also
    * lands earlier every batch), stored stamp = batch number.
    */
  private def q70Batch(b: Long) = ((1L to 6L).map { k =>
    StarMsg(k, 1000L * ((b * 3 + k) % 7 + 1), b * 100 + k,
      s"s$b", b.toDouble)
  } :+ StarMsg(1L, 500L * b, 900 + b, "x", 0.5)).toDF()
    .withColumn("stored_us", lit(b))

  private def q70Config(prefix: String) = StarPipeline.Config(
    Files.createTempDirectory(prefix).toString, Seq("key"), "ts_us",
    "msg_id", Seq("state", "value"), nBuckets = 8,
    storedFromUsCol = "stored_us")

  private def starRows(cfg: StarPipeline.Config, tables: Seq[String]) =
    tables.map { t =>
      val df = StarPipeline.readFull(spark, cfg, t).get
      t -> df.select(to_json(struct(df.columns.sorted.map(col): _*)))
        .as[String].collect().toSeq.sorted
    }

  private type Fold = (org.apache.spark.sql.DataFrame, Long,
    StarPipeline.Config) => Unit
  private type Compact = (org.apache.spark.sql.SparkSession,
    StarPipeline.Config, Long, Long) => Unit
  private val bothAxes = Seq[(Fold, Compact, Seq[String])](
    (StarPipeline.foldBatch, StarPipeline.compact,
      Seq("history", "live", "audit")),
    (StarPipeline.foldBatchBitemporal, StarPipeline.compactBitemporal,
      Seq("bt_messages", "bt_table")))

  test("touched reads with the schema a step knows equal the inferred " +
      "read: both axes, hot and cold") {
    bothAxes.foreach { case (fold, compact, tables) =>
      val cfg = q70Config("star_known_schema")
      fold(q70Batch(1), 1L, cfg)
      fold(q70Batch(2), 2L, cfg)
      compact(spark, cfg, 3000L, 3L)
      // the schemas the steps hand the touched-bucket reader
      val empty = graft.kernel.BitemporalKernel.emptyBitemporal(q70Batch(4),
        cfg.keyCols, cfg.validFromUsCol, cfg.tieCol, cfg.payloadCols)
      val known = Map("history" -> empty.messages.schema,
        "bt_messages" -> empty.messages.schema,
        "bt_table" -> empty.table.schema)
      val read = for {
        (tbl, schema) <- known.toSeq
        tier <- Seq(tbl, s"$tbl.cold")
        inferred <- StarPipeline.readState(spark, cfg, tier)
      } yield {
        val dirs = inferred.inputFiles
          .map(f => f.substring(0, f.lastIndexOf('/'))).distinct
        val given = spark.read.schema(schema).parquet(dirs: _*)
        def cols(df: org.apache.spark.sql.DataFrame) =
          df.schema.map(f => f.name -> f.dataType)
        def rows(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(_.toString).sorted.toSeq
        assert(cols(given) == cols(inferred), tier)
        assert(rows(given) == rows(inferred) && rows(given).nonEmpty, tier)
        tier
      }
      assert(read.toSet == tables.filter(known.contains)
        .flatMap(t => Seq(t, s"$t.cold")).toSet, read)
    }
  }

  test("a crash after the version dirs are written but before the pointer " +
      "moves: replaying converges to a clean fold on both axes, after a " +
      "compaction too, and leaves no temp file") {
    // the q70 shape: out-of-order valid times, and batch 4's key-1
    // arrival lands below the compaction horizon (un-compacts a bucket)
    bothAxes.foreach { case (fold, compact, tables) =>
      def run(crash: Boolean) = {
        val cfg = q70Config("star_crash")
        val dir = java.nio.file.Paths.get(cfg.stateDir)
        // the crash: version dirs and the new manifest are on disk, but
        // `_CURRENT` still names the old manifest and the temp files of
        // the swap are cut short; then the batch is delivered again
        def step(op: => Unit): Unit = if (!crash) op else {
          val cur = dir.resolve("_CURRENT")
          val before = Files.readAllBytes(cur)
          op
          val man = new String(Files.readAllBytes(cur))
          Files.write(cur, before)
          Files.write(dir.resolve("_CURRENT.tmp"), man.take(3).getBytes)
          Files.write(dir.resolve(s"$man.tmp"),
            Files.readAllBytes(dir.resolve(man)).take(7))
          op
        }
        fold(q70Batch(1), 1L, cfg)
        step(fold(q70Batch(2), 2L, cfg))
        step(compact(spark, cfg, 3000L, 3L))
        step(fold(q70Batch(4), 4L, cfg))
        val star = starRows(cfg, tables)
        val walk = Files.walk(dir)
        val tmps = try walk.iterator().asScala.map(_.getFileName.toString)
          .filter(_.endsWith(".tmp")).toList finally walk.close()
        (star, StarPipeline.compactionHorizon(cfg), tmps)
      }
      val (clean, horizon, _) = run(crash = false)
      assert(clean.forall(_._2.nonEmpty) && horizon.contains(3000L))
      val (replayed, replayedHorizon, tmps) = run(crash = true)
      assert(replayed == clean, s"${tables.head}: star diverged")
      assert(replayedHorizon == horizon)
      assert(tmps.isEmpty, tmps)
    }
  }

  test("W6 compaction: cold split preserves history, folds stay identical") {
    def mkDir() = Files.createTempDirectory("star_compact").toString
    val dirA = mkDir(); val dirB = mkDir()
    val cfgA = StarPipeline.Config(dirA, Seq("key"), "ts_us", "msg_id",
      Seq("state", "value"), nBuckets = 8)
    val cfgB = cfgA.copy(stateDir = dirB)

    // two folds build up closed versions (1000→2000→3000 per key)
    val b1 = (1L to 6L).map(k => StarMsg(k, 1000L, k, "a", 1.0)).toDF()
    val b2 = (1L to 6L).flatMap(k => Seq(
      StarMsg(k, 2000L, 10 + k, "b", 2.0),
      StarMsg(k, 3000L, 20 + k, "c", 3.0))).toDF()
    Seq(cfgA, cfgB).foreach { c =>
      StarPipeline.foldBatch(b1, 1L, c)
      StarPipeline.foldBatch(b2, 2L, c)
    }

    // compact A at horizon 2500: versions closed before 2500 go cold
    StarPipeline.compact(spark, cfgA, horizonUs = 2500L, batchId = 3L)
    assert(StarPipeline.compactionHorizon(cfgA).contains(2500L))

    // hot ∪ cold == the uncompacted history, row for row
    def hist(c: StarPipeline.Config, full: Boolean) =
      (if (full) StarPipeline.readFull(spark, c, "history")
       else StarPipeline.readState(spark, c, "history")).get
        .orderBy("key", "ts_us")
        .select("key", "ts_us", "state")
        .as[(Long, Long, String)].collect().toSeq
    assert(hist(cfgA, full = true) == hist(cfgB, full = false))
    // and the hot side really shrank (closed-before-horizon rows left)
    assert(hist(cfgA, full = false).size < hist(cfgB, full = false).size)
    // exactly the 1000-versions are cold (their successor is at 2000 < H)
    val coldRows = StarPipeline.readState(spark, cfgA, "history.cold").get
    assert(coldRows.count() == 6 &&
      coldRows.select(max(col("ts_us"))).as[Long].collect().head == 1000L)

    // a post-horizon fold produces identical state on both paths
    val b3 = (1L to 6L).map(k => StarMsg(k, 4000L, 30 + k, "d", 4.0)).toDF()
    StarPipeline.foldBatch(b3, 4L, cfgA)
    StarPipeline.foldBatch(b3, 4L, cfgB)
    assert(hist(cfgA, full = true) == hist(cfgB, full = false))
    def live(c: StarPipeline.Config) =
      StarPipeline.readState(spark, c, "live").get
        .orderBy("key").select("key", "ts_us", "state")
        .as[(Long, Long, String)].collect().toSeq
    assert(live(cfgA) == live(cfgB) && live(cfgA).size == 6)

    // cold entries are carried by reference across folds and compactions
    val before = new java.io.File(s"$dirA/data/v3/__table=history.cold")
      .listFiles().map(f => f.getName -> f.lastModified).toMap
    StarPipeline.compact(spark, cfgA, horizonUs = 2500L, batchId = 5L)
    val after = new java.io.File(s"$dirA/data/v3/__table=history.cold")
      .listFiles().map(f => f.getName -> f.lastModified).toMap
    assert(after == before)
    assert(hist(cfgA, full = true) == hist(cfgB, full = false))

    // a pre-horizon arrival folds over hot ∪ cold of its bucket and
    // lands exactly where arrival-order processing would put it; only
    // that bucket un-compacts
    val lateMsg = Seq(StarMsg(1L, 1500L, 97L, "lateX", 1.5)).toDF()
    StarPipeline.foldBatch(lateMsg, 6L, cfgA)
    StarPipeline.foldBatch(lateMsg, 6L, cfgB)
    assert(hist(cfgA, full = true) == hist(cfgB, full = false))
    assert(live(cfgA) == live(cfgB))
    val keyBucket = (k: Long) => Seq(k).toDF("key")
      .select(pmod(xxhash64(col("key")), lit(8))).as[Long].head()
    val sharedBucket = (1L to 6L).filter(k => keyBucket(k) == keyBucket(1L))
    val coldLeft = StarPipeline.readState(spark, cfgA, "history.cold").get
    assert(coldLeft.filter(col("key").isin(sharedBucket: _*)).count() == 0)
    assert(coldLeft.count() == 6 - sharedBucket.size)
  }

  test("bitemporal fold: persisted stored axis == in-memory kernel fold, " +
      "survives restart, replay, compaction, and late arrivals") {
    import graft.kernel.BitemporalKernel
    val dir = Files.createTempDirectory("star_bt").toString
    val mk = () => StarPipeline.Config(dir, Seq("key"), "ts_us", "msg_id",
      Seq("state", "value"), nBuckets = 8, storedFromUsCol = "stored_us")
    val cfg = mk()

    // out-of-order stream: batch 2 carries ts BEFORE batch 1's (late in
    // valid time), so the stored axis must close batch-1 records
    def batch(b: Long) = ((1L to 6L).map { k =>
      StarMsg(k, 1000L * ((b * 3 + k) % 7 + 1), b * 100 + k,
        s"s$b", b.toDouble)
    } :+ StarMsg(1L, 500L * b, 900 + b, "x", 0.5)).toDF()
      .withColumn("stored_us", lit(b))

    (1L to 3L).foreach(b => StarPipeline.foldBatchBitemporal(batch(b), b, cfg))
    // "restart": a fresh Config instance — all state must come off disk
    StarPipeline.foldBatchBitemporal(batch(4), 4L, mk())

    // expected: the in-memory kernel fold of the same four batches
    val expected = (1L to 4L).foldLeft(BitemporalKernel.emptyBitemporal(
        batch(1), Seq("key"), "ts_us", "msg_id", Seq("state", "value"))) {
      (acc, b) =>
        val next = BitemporalKernel.applyBitemporal(acc, batch(b),
          Seq("key"), "ts_us", "msg_id", "stored_us", Seq("state", "value"))
        BitemporalKernel.BitemporalState(
          next.messages.localCheckpoint(), next.table.localCheckpoint())
    }
    def snap(df: org.apache.spark.sql.DataFrame) = df
      .select("key", "ts_us", "msg_id", "state", "value",
        "valid_until_us", "stored_from_us", "stored_until_us")
      .as[(Long, Long, Long, String, Double, Option[Long], Option[Long],
        Option[Long])].collect().toSeq.sorted
    assert(snap(StarPipeline.readBitemporal(spark, cfg).get) ==
      snap(expected.table))

    // W2 replay: re-folding batch 3 is a no-op on BOTH axes
    StarPipeline.foldBatchBitemporal(batch(3), 5L, cfg)
    assert(snap(StarPipeline.readBitemporal(spark, cfg).get) ==
      snap(expected.table))

    // compaction: archive stored-closed + valid-frozen rows, then prove
    // a post-horizon fold matches an uncompacted twin
    val dirB = Files.createTempDirectory("star_bt_b").toString
    val cfgB = cfg.copy(stateDir = dirB)
    (1L to 4L).foreach(b => StarPipeline.foldBatchBitemporal(batch(b), b, cfgB))
    StarPipeline.compactBitemporal(spark, cfg, horizonUs = 5000L, batchId = 6L)
    assert(StarPipeline.readState(spark, cfg, "bt_table").get.count() <
      StarPipeline.readState(spark, cfgB, "bt_table").get.count())
    assert(snap(StarPipeline.readBitemporal(spark, cfg).get) ==
      snap(StarPipeline.readBitemporal(spark, cfgB).get))

    val b5 = Seq(StarMsg(2L, 6000L, 777L, "post", 9.0)).toDF()
      .withColumn("stored_us", lit(5L))
    StarPipeline.foldBatchBitemporal(b5, 7L, cfg)
    StarPipeline.foldBatchBitemporal(b5, 7L, cfgB)
    assert(snap(StarPipeline.readBitemporal(spark, cfg).get) ==
      snap(StarPipeline.readBitemporal(spark, cfgB).get))

    // late arrival BELOW the horizon: its bucket un-compacts and the
    // result still matches
    val late = Seq(StarMsg(3L, 1500L, 888L, "late", 1.5)).toDF()
      .withColumn("stored_us", lit(6L))
    StarPipeline.foldBatchBitemporal(late, 8L, cfg)
    StarPipeline.foldBatchBitemporal(late, 8L, cfgB)
    assert(snap(StarPipeline.readBitemporal(spark, cfg).get) ==
      snap(StarPipeline.readBitemporal(spark, cfgB).get))

    // stored-time travel over the PERSISTED table: belief at S=2 only
    // contains records stored at or before batch 2
    import graft.functions.GraftFunctions.storedAsOf
    val belief2 = StarPipeline.readBitemporal(spark, cfg).get
      .filter(storedAsOf(lit(2L), col("stored_from_us"),
        col("stored_until_us")))
    assert(belief2.count() > 0)
    assert(belief2.select(max(col("stored_from_us"))).as[Long].head() <= 2L)
  }

  test("end-to-end stream: raw HL7 wire → parse → bucketed star fold") {
    implicit val s = spark
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    def adt(trigger: String, id: Long, dtm: String, loc: String) = Seq(
      s"MSH|^~\\&|EPIC|UCLH|||$dtm||ADT^$trigger|M$id|P|2.4",
      "PID|1||40800000^^^MRN^MRN",
      (Seq("PV1", "1", "I", loc) ++ Seq.fill(15)("") :+ "V1").mkString("|")
    ).mkString("\r")

    val root = Files.createTempDirectory("hl7_star").toString
    val ckpt = Files.createTempDirectory("hl7_ckpt").toString
    val input = MemoryStream[String](spark)
    // one AvailableNow run per delivery, both on the one checkpoint
    def run(frames: Seq[String]): Unit = {
      input.addData(frames)
      WirePipeline.start(input.toDS().toDF("value"), "value", root, ckpt,
        Trigger.AvailableNow()).awaitTermination()
    }
    run(Seq(adt("A01", 2, "20240101100000", "W1"),
      adt("A02", 3, "20240101110000", "W2"),
      "GARBAGE frame"))
    // late batch: an earlier-in-valid-time update lands after
    run(Seq(adt("A08", 1, "20240101090000", "W0")))

    def adtState(table: String) = StarPipeline.readState(spark,
      StarPipeline.Config(s"$root/adt", Nil, "", "", Nil), table).get
    val live = adtState("live").select("mrn", "fullLocationString")
      .as[(String, String)].collect().toSeq
    assert(live == Seq(("40800000", "W2"))) // newest valid-time wins
    val audit = adtState("audit").orderBy("validFromUs")
      .select("fullLocationString", "valid_until_us")
      .as[(String, Long)].collect().toSeq
    // late 09:00 row retro-inserted and closed by the 10:00 admit
    assert(audit.map(_._1) == Seq("W0", "W1"))
    // the nacked frame is persisted with its reason, not dropped
    val dead = spark.read.parquet(s"$root/dead/router/batch=0")
      .select("value", "reason").as[(String, String)].collect().toSeq
    assert(dead == Seq(("GARBAGE frame", "unroutable")))
  }

  test("S7: effect log captures per-batch progress") {
    implicit val s = spark
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val log = new EffectLog().attach(spark)
    val input = MemoryStream[StarMsg](spark)
    val q = input.toDS().writeStream.format("memory")
      .queryName("fx_out").outputMode("append").start()
    input.addData(Seq(StarMsg(1, 1, 1, "a", 1.0), StarMsg(2, 2, 2, "b", 2.0)))
    q.processAllAvailable(); q.stop()
    // listener events are async — wait briefly
    var tries = 0
    while (log.toDF(spark).count() == 0 && tries < 50) {
      Thread.sleep(100); tries += 1
    }
    val rows = log.toDF(spark)
    assert(rows.count() >= 1)
    assert(rows.agg(sum("numInputRows")).as[Long].head() >= 2L)
  }

  test("replaying a compaction after a later fold keeps the first run's " +
      "cold rows: hot ∪ cold equals a run without the replay") {
    bothAxes.foreach { case (fold, compact, tables) =>
      def run(replay: Boolean) = {
        val cfg = q70Config("star_compact_replay")
        fold(q70Batch(1), 1L, cfg)
        fold(q70Batch(2), 2L, cfg)
        compact(spark, cfg, 3000L, 3L)
        // arrivals past the horizon (no bucket un-compacts) that close
        // every key's open stored record, in the buckets compaction 3
        // archived from
        fold((1L to 6L).map(k => StarMsg(k, 4000L + k, 400 + k, "s4", 4.0))
          .toDF().withColumn("stored_us", lit(4L)), 4L, cfg)
        if (replay) compact(spark, cfg, 3000L, 3L)
        starRows(cfg, tables)
      }
      val clean = run(replay = false)
      assert(clean.forall(_._2.nonEmpty))
      assert(run(replay = true) == clean, s"${tables.head}: star diverged")
    }
  }

  test("a fold leaves no cache entry behind, also when a table write " +
      "fails after the kernel pass is pinned") {
    import graft.streaming.JdbcStarSink
    import org.apache.spark.sql.graftbridge.CacheProbe
    def leaves(what: String)(fold: => Unit): Unit = {
      val before = CacheProbe.entries(spark)
      fold
      assert(CacheProbe.entries(spark) == before, what)
    }
    def fails(what: String)(fold: => Unit): Unit =
      leaves(what)(intercept[Exception](fold))
    // the fold's tables cannot be written: the data dir is a plain file
    // (manifest sink), or the second table's stage table has the wrong
    // columns (JDBC sink, so the first table's write has run the pass)
    def blocked() = {
      val cfg = q70Config("star_cache")
      Files.createFile(java.nio.file.Paths.get(cfg.stateDir, "data"))
      cfg
    }
    val cfg = q70Config("star_cache")
    leaves("foldBatch")(StarPipeline.foldBatch(q70Batch(1), 1L, cfg))
    leaves("foldBatchBitemporal")(
      StarPipeline.foldBatchBitemporal(q70Batch(1), 1L, cfg))
    fails("foldBatch, failed write")(
      StarPipeline.foldBatch(q70Batch(1), 1L, blocked()))
    fails("foldBatchBitemporal, failed write")(
      StarPipeline.foldBatchBitemporal(q70Batch(1), 1L, blocked()))

    System.setProperty("derby.system.home",
      Files.createTempDirectory("derby_home_cache").toString)
    val url = "jdbc:derby:memory:starcache;create=true"
    val jdbc = new JdbcStarSink(url, "cached")
    leaves("JdbcStarSink.foldBitemporal")(
      jdbc.foldBitemporal(q70Batch(1), 1L, cfg))
    val c = java.sql.DriverManager.getConnection(url)
    try c.createStatement().executeUpdate(
      "CREATE TABLE BROKEN_BT_TABLE_STAGE (junk INT)")
    finally c.close()
    fails("JdbcStarSink.foldBitemporal, failed stage")(
      new JdbcStarSink(url, "broken").foldBitemporal(q70Batch(1), 1L, cfg))
  }

  test("fold results and file layout do not depend on " +
      "spark.sql.shuffle.partitions: one parquet file per (table, " +
      "touched bucket) in every fold's version dir") {
    val key = "spark.sql.shuffle.partitions"
    def bucketFiles(cfg: StarPipeline.Config, table: String, b: Long) = {
      val dir = new java.io.File(s"${cfg.stateDir}/data/v$b/__table=$table")
      Option(dir.listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("__bucket="))
        .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet")))
        .toMap
    }
    bothAxes.foreach { case (fold, _, tables) =>
      def run(partitions: Int) = {
        val saved = spark.conf.get(key)
        spark.conf.set(key, partitions.toString)
        try {
          val cfg = q70Config("star_layout")
          (1L to 3L).map { b =>
            fold(q70Batch(b), b, cfg)
            val touched = q70Batch(b)
              .select(pmod(xxhash64(col("key")), lit(8)).cast("string"))
              .distinct().as[String].collect().map("__bucket=" + _).toSet
            tables.foreach { t =>
              val files = bucketFiles(cfg, t, b)
              assert(files.keySet.subsetOf(touched), s"$t v$b: $files")
              assert(files.values.forall(_ == 1), s"$t v$b: $files")
            }
            // every touched key keeps messages, and a live version
            assert(bucketFiles(cfg, tables.head, b).keySet == touched)
            starRows(cfg, tables)
          }
        } finally spark.conf.set(key, saved)
      }
      assert(run(1) == run(8), s"${tables.head}: star depends on partitions")
    }
  }
}
