package graft.ops

import java.nio.file.Files
import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}

import graft.SparkSpec
import graft.similarity.IndexStore
import graft.sources.{JdbcStore, ParquetStore, TableStore}

/** The store-slot protocol ([[StoreTxn]]) on both backends: the
  * fence's atomic claim, the pending-window resume rule, and the
  * in-flight split marker.
  */
class StoreTxnSpec extends SparkSpec {

  private def parquet() =
    new ParquetStore(spark, Files.createTempDirectory("storetxn_pq").toString)
  private def jdbc() = new JdbcStore(spark,
    s"jdbc:derby:${Files.createTempDirectory("storetxn_derby")}/wh;create=true")

  test("8 threads racing one free fence on ParquetStore: exactly one winner per round") {
    val store = parquet()
    val pool = Executors.newFixedThreadPool(8)
    try {
      (1 to 20).foreach { round =>
        val start = new CyclicBarrier(8)
        val tries = (0 until 8).map { t =>
          pool.submit(new java.util.concurrent.Callable[Boolean] {
            def call(): Boolean = {
              start.await()
              try { StoreTxn.acquireFence(store, "race", s"t$t"); true }
              catch { case _: IllegalStateException => false }
            }
          })
        }
        val winners = tries.count(_.get(60, TimeUnit.SECONDS))
        assert(winners == 1, s"round $round: $winners winners")
        assert(store.markerHolder("race__writer_fence").exists(_.startsWith("t")))
        StoreTxn.clearFence(store, "race")
        assert(store.markerHolder("race__writer_fence").isEmpty)
      }
    } finally pool.shutdownNow()
  }

  test("fenced releases on failure; a held fence rejects the next writer (JDBC)") {
    val store = jdbc()
    intercept[RuntimeException] {
      StoreTxn.fenced(store, "f", "op")(throw new RuntimeException("boom"))
    }
    assert(StoreTxn.fenced(store, "f", "op")(42) == 42)
    StoreTxn.acquireFence(store, "f", "dead")
    val e = intercept[IllegalStateException](StoreTxn.fenced(store, "f", "op")(()))
    assert(e.getMessage.contains("clearWriterFence"))
    StoreTxn.clearFence(store, "f")
    assert(store.markerClaim("f__writer_fence", "mine").isEmpty)
    assert(store.markerClaim("f__writer_fence", "other").contains("mine"))
  }

  /** The retention predicate the followers pass to the resume rule,
    * over two real logs: table 0 committed v0..v2 then vacuumed down
    * to v2, table 1 holds only v0.
    */
  private lazy val retained: (Int, Int) => Boolean = {
    def log(extraCommits: Int): String = {
      val dir = Files.createTempDirectory("storetxn_log").toString + "/t"
      spark.range(10).toDF("k").write.parquet(dir)
      TxLog.convert(spark, dir)
      (1 to extraCommits).foreach(i =>
        TxLog.append(spark, dir, spark.range(10 * i, 10 * i + 10).toDF("k")))
      dir
    }
    val vacuumed = log(2)
    TxLog.vacuum(spark, vacuumed, retainVersions = 1)
    val live = Seq(vacuumed, log(0)).map(TxLog.retainedVersions(spark, _).toSet)
    (i, v) => live(i)(v)
  }

  private def resumeRule(store: TableStore): Unit = {
    assert(!retained(0, 1) && retained(0, 2) && retained(1, 0), "fixture")
    val slot = "v__pending"
    def resume(from: Seq[Int]) = StoreTxn.resumeWindow(store, slot, from)(retained)
    assert(resume(Seq(0, 0)).isEmpty, "empty slot")
    StoreTxn.beginWindow(store, slot, Seq(0, 0), Seq(2, 0))
    assert(resume(Seq(0, 0)).contains(Seq(2, 0)), "matching from resumes")
    assert(resume(Seq(2, 0)).isEmpty, "moved from falls back")
    assert(resume(Seq(0)).isEmpty && resume(Seq(0, 0, 0)).isEmpty, "arity mismatch")
    StoreTxn.beginWindow(store, slot, Seq(0, 0), Seq(1, 0))
    assert(resume(Seq(0, 0)).isEmpty, "target pruned by vacuum falls back")
    // a crash inside the marker write leaves a truncated token
    for (tok <- Seq("", "0", "0:", "0:2,", "0:2,0", "x:y", "0:2;0:0", "0:0,0:0", "2:0,0:0"))
      withClue(s"token '$tok'") {
        store.markerSet(slot, tok)
        assert(resume(Seq(0, 0)).isEmpty)
      }
    // and never wedges: the next advance's window replaces it
    StoreTxn.beginWindow(store, slot, Seq(0, 0), Seq(2, 0))
    assert(resume(Seq(0, 0)).contains(Seq(2, 0)))
  }

  test("pending-window resume rule on ParquetStore")(resumeRule(parquet()))

  test("pending-window resume rule on JdbcStore")(resumeRule(jdbc()))

  test("IndexStore split marker round trips on JDBC; a torn token reads as no split") {
    val store = jdbc()
    assert(IndexStore.splitState(store, "ix").isEmpty)
    intercept[RuntimeException] {
      IndexStore.holdingSplit(store, "ix", 3, 8, 2)(throw new RuntimeException("crash"))
    }
    assert(IndexStore.splitState(store, "ix").contains((3, 8, 2)))
    assert(IndexStore.holdingSplit(store, "ix", 1, 8, 3)("done") == "done")
    assert(IndexStore.splitState(store, "ix").isEmpty)
    store.markerSet("ix__split_state", "3:8")
    assert(IndexStore.splitState(store, "ix").isEmpty)
  }
}
