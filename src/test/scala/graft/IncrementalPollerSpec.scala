package graft

import graft.sources.IncrementalPoller

import java.nio.file.Files

/** S1: incremental polling with durable progress — batch boundaries,
  * restart resume, and at-least-once redelivery before commit.
  */
class IncrementalPollerSpec extends SparkSpecBase {
  import spark.implicits._

  test("poll/commit drains in batches and resumes across restarts") {
    val dir = Files.createTempDirectory("poller").toString
    val table = (1L to 10L).map(i => (i, s"msg$i")).toDF("unid", "body")

    val p1 = new IncrementalPoller(dir, "unid")
    assert(p1.lastProgress.isEmpty)
    val b1 = p1.poll(table, 4).select("unid").as[Long].collect().toSeq
    assert(b1 == Seq(1L, 2L, 3L, 4L))
    // no commit yet → a re-poll redelivers the same batch (at-least-once)
    assert(p1.poll(table, 4).select("unid").as[Long].collect().toSeq == b1)
    p1.commit(4L)
    assert(p1.poll(table, 4).select("unid").as[Long].collect().toSeq ==
      Seq(5L, 6L, 7L, 8L))

    // a NEW poller instance (process restart) resumes from the pointer
    val p2 = new IncrementalPoller(dir, "unid")
    assert(p2.lastProgress.contains(4L))
    var seen = Seq.empty[Long]
    val n = p2.drain(table, 4) { b =>
      seen = seen ++ b.select("unid").as[Long].collect().toSeq
    }
    assert(n == 6 && seen == Seq(5L, 6L, 7L, 8L, 9L, 10L))
    assert(p2.lastProgress.contains(10L))
    // fully drained: nothing more
    assert(p2.drain(table, 4)(_ => fail("should not be called")) == 0L)
  }

  test("a truncated _PROGRESS.tmp left by a crashed commit is ignored, " +
      "and the next commit replaces it") {
    val dir = Files.createTempDirectory("poller_tmp")
    val tmp = dir.resolve("_PROGRESS.tmp")
    val p = new IncrementalPoller(dir.toString, "unid")
    Files.write(tmp, "1".getBytes)
    assert(p.lastProgress.isEmpty)
    p.commit(10L)
    // a commit of 12 died mid-write: only its temp file holds anything
    Files.write(tmp, "1".getBytes)
    assert(p.lastProgress.contains(10L))
    assert(new IncrementalPoller(dir.toString, "unid").lastProgress
      .contains(10L))
    p.commit(12L)
    assert(p.lastProgress.contains(12L))
    assert(!Files.exists(tmp))
  }
}
