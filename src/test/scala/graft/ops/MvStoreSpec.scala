package graft.ops

import graft.SparkSpec
import graft.sources.ParquetStore
import org.apache.spark.sql.functions._

class MvStoreSpec extends SparkSpec {

  private def tmpStore() = new ParquetStore(
    spark, java.nio.file.Files.createTempDirectory("mv_store").toString)

  private def cust = graft.Tables.customer(spark, sf("customer"))
    .select("c_custkey", "c_mktsegment", "c_acctbal")

  private val keys = Seq("c_custkey")
  private val attrs = Seq("c_mktsegment", "c_acctbal")
  private val groups = Seq("c_mktsegment")
  private val sums = Seq("c_acctbal")

  private def canonMv(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getString(0) ->
      ((r.getLong(1), math.round(r.getDouble(2) * 100) / 100.0))).toMap

  private def directAgg(rows: org.apache.spark.sql.DataFrame) =
    canonMv(rows.groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), sum(col("c_acctbal").cast("double")).as("s")))

  test("seed + per-version refreshes track the source exactly; replay is a no-op") {
    val store = tmpStore()
    val v1 = cust
    val v2 = cust.withColumn("c_mktsegment",
      when(pmod(col("c_custkey"), lit(3)) === 0, lit("MOVED"))
        .otherwise(col("c_mktsegment")))
    val v3 = v2.withColumn("c_acctbal",
      when(pmod(col("c_custkey"), lit(4)) === 0, col("c_acctbal") + 10)
        .otherwise(col("c_acctbal")))
    Scd2.merge(store, "d", v1, keys, attrs, version = 1, nShards = 4)
    Scd2.merge(store, "d", v2, keys, attrs, version = 2)
    Scd2.merge(store, "d", v3, keys, attrs, version = 3)
    val dead = v3.filter(pmod(col("c_custkey"), lit(7)) === 0).select("c_custkey")
    Scd2.retire(store, "d", dead, keys, version = 4)

    MvStore.init(store, "mv", Scd2.asOf(store, "d", 1), groups, sums, nShards = 4)
    assert(canonMv(MvStore.read(store, "mv")) == directAgg(v1))

    assert(MvStore.refresh(store, "mv",
      Scd2.changes(store, "d", keys, 1, 2), groups, sums) > 0)
    assert(canonMv(MvStore.read(store, "mv")) == directAgg(v2))

    assert(MvStore.refresh(store, "mv",
      Scd2.changes(store, "d", keys, 2, 3), groups, sums) > 0)
    assert(canonMv(MvStore.read(store, "mv")) == directAgg(v3))

    // content-keyed replay of the SAME delta: recognized, untouched
    assert(MvStore.refresh(store, "mv",
      Scd2.changes(store, "d", keys, 2, 3), groups, sums) == -1L)
    assert(canonMv(MvStore.read(store, "mv")) == directAgg(v3))

    assert(MvStore.refresh(store, "mv",
      Scd2.changes(store, "d", keys, 3, 4), groups, sums) > 0)
    assert(canonMv(MvStore.read(store, "mv")) ==
      directAgg(v3.join(dead, keys, "left_anti")))
  }

  test("a group emptied by deletes leaves the state; resurrection re-creates it") {
    import spark.implicits._
    val store = tmpStore()
    val rows = Seq((1L, "solo", 5.0), (2L, "big", 7.0), (3L, "big", 9.0))
      .toDF("c_custkey", "c_mktsegment", "c_acctbal")
    Scd2.merge(store, "e", rows, keys, attrs, version = 1, nShards = 2)
    MvStore.init(store, "e_mv", Scd2.current(store, "e"), groups, sums, nShards = 2)
    assert(MvStore.read(store, "e_mv").count() == 2)

    Scd2.retire(store, "e", Seq(1L).toDF("c_custkey"), keys, version = 2)
    MvStore.refresh(store, "e_mv", Scd2.changes(store, "e", keys, 1, 2),
      groups, sums)
    val after = MvStore.read(store, "e_mv")
    assert(after.count() == 1) // 'solo' group removed, not zero-rowed
    assert(after.head().getString(0) == "big")

    val back = Seq((1L, "solo", 6.0), (2L, "big", 7.0), (3L, "big", 9.0))
      .toDF("c_custkey", "c_mktsegment", "c_acctbal")
    Scd2.merge(store, "e", back, keys, attrs, version = 3)
    MvStore.refresh(store, "e_mv", Scd2.changes(store, "e", keys, 2, 3),
      groups, sums)
    assert(canonMv(MvStore.read(store, "e_mv")) ==
      Map("solo" -> ((1L, 6.0)), "big" -> ((2L, 16.0))))
  }

  test("min/max measures: additions grow in place, deletions force the dirty recompute") {
    import spark.implicits._
    val store = tmpStore()
    val rows = Seq(
      (1L, "g", 10.0), (2L, "g", 50.0), (3L, "g", 30.0),
      (4L, "h", 7.0)).toDF("c_custkey", "c_mktsegment", "c_acctbal")
    Scd2.merge(store, "m", rows, keys, attrs, version = 1, nShards = 2)
    MvStore.init(store, "m_mv", Scd2.current(store, "m"), groups, sums,
      nShards = 2, minMaxCols = Seq("c_acctbal"))
    def mm() = MvStore.read(store, "m_mv").collect()
      .map(r => r.getString(0) ->
        ((r.getDouble(r.fieldIndex("min_c_acctbal")),
          r.getDouble(r.fieldIndex("max_c_acctbal"))))).toMap
    assert(mm() == Map("g" -> ((10.0, 50.0)), "h" -> ((7.0, 7.0))))

    // grow-only: a new global max for g, no deletions in the feed
    val v2 = rows.unionByName(
      Seq((5L, "g", 99.0)).toDF("c_custkey", "c_mktsegment", "c_acctbal"))
    Scd2.merge(store, "m", v2, keys, attrs, version = 2)
    MvStore.refresh(store, "m_mv", Scd2.changes(store, "m", keys, 1, 2),
      groups, sums, minMaxCols = Seq("c_acctbal"),
      current = Some(Scd2.asOf(store, "m", 2)))
    assert(mm() == Map("g" -> ((10.0, 99.0)), "h" -> ((7.0, 7.0))))

    // deletion of BOTH extremes of g: only the recompute can know the
    // new max is 30 — a grow-only path would keep 99 forever
    Scd2.retire(store, "m", Seq(5L, 1L).toDF("c_custkey"), keys, version = 3)
    MvStore.refresh(store, "m_mv", Scd2.changes(store, "m", keys, 2, 3),
      groups, sums, minMaxCols = Seq("c_acctbal"),
      current = Some(Scd2.asOf(store, "m", 3)))
    assert(mm() == Map("g" -> ((30.0, 50.0)), "h" -> ((7.0, 7.0))))

    // an UPDATE that moves the extreme (preimage removes it) is dirty too
    val v4 = Seq((2L, "g", 1.0), (3L, "g", 30.0), (4L, "h", 7.0))
      .toDF("c_custkey", "c_mktsegment", "c_acctbal")
    Scd2.merge(store, "m", v4, keys, attrs, version = 4)
    MvStore.refresh(store, "m_mv", Scd2.changes(store, "m", keys, 3, 4),
      groups, sums, minMaxCols = Seq("c_acctbal"),
      current = Some(Scd2.asOf(store, "m", 4)))
    assert(mm() == Map("g" -> ((1.0, 30.0)), "h" -> ((7.0, 7.0))))

    // contract: min/max without the source frame is refused
    intercept[IllegalArgumentException] {
      MvStore.refresh(store, "m_mv", Scd2.changes(store, "m", keys, 3, 4),
        groups, sums, minMaxCols = Seq("c_acctbal"))
    }
  }

  test("NULL group keys merge as ONE group across refreshes (null-safe state keys)") {
    val store = tmpStore()
    // a source whose segment is NULL for every 3rd key: the NULL
    // group is real, and each refresh touching it must MERGE into the
    // stored row, never emit a second one
    def nulled(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("c_mktsegment",
        when(pmod(col("c_custkey"), lit(3)) === 0,
          lit(null).cast("string")).otherwise(col("c_mktsegment")))
    val v1 = nulled(cust)
    val v2 = v1.withColumn("c_acctbal",
      when(pmod(col("c_custkey"), lit(6)) === 0, col("c_acctbal") + 10)
        .otherwise(col("c_acctbal")))
    val v3 = v2.withColumn("c_acctbal",
      when(pmod(col("c_custkey"), lit(9)) === 0, col("c_acctbal") - 5)
        .otherwise(col("c_acctbal")))
    Scd2.merge(store, "dn", v1, keys, attrs, version = 1, nShards = 4)
    Scd2.merge(store, "dn", v2, keys, attrs, version = 2)
    Scd2.merge(store, "dn", v3, keys, attrs, version = 3)
    // min/max included: the dirty-recompute joins must be null-safe too
    MvStore.init(store, "mvn", Scd2.asOf(store, "dn", 1), groups, sums,
      nShards = 4, minMaxCols = sums)
    def nullRows() = MvStore.read(store, "mvn")
      .filter(col("c_mktsegment").isNull)
    assert(nullRows().count() == 1L)
    (2 to 3).foreach { v =>
      MvStore.refresh(store, "mvn",
        Scd2.changes(store, "dn", keys, v - 1, v), groups, sums,
        minMaxCols = sums, current = Some(Scd2.asOf(store, "dn", v)))
      assert(nullRows().count() == 1L, s"refresh to v$v split the NULL group")
    }
    val want = v3.filter(col("c_mktsegment").isNull)
      .agg(count(lit(1)), round(sum(col("c_acctbal").cast("double")), 2),
        min(col("c_acctbal").cast("double")),
        max(col("c_acctbal").cast("double"))).head()
    val got = nullRows().select(col("n"),
      round(col("sum_c_acctbal"), 2), col("min_c_acctbal"),
      col("max_c_acctbal")).head()
    assert(got == want, s"null group numbers: $got != $want")
  }

  test("second writer hits the fence; clearWriterFence recovers") {
    val store = tmpStore()
    MvStore.init(store, "f_mv", cust, groups, sums, nShards = 2)
    // simulate a crashed writer holding the fence
    StoreTxn.acquireFence(store, "f_mv", "mv-refresh")
    intercept[IllegalStateException] {
      MvStore.init(store, "f_mv", cust, groups, sums, nShards = 2)
    }
    RollupStore.clearWriterFence(store, "f_mv")
    MvStore.init(store, "f_mv", cust, groups, sums, nShards = 2)
  }

  test("followTxLog: the MV tracks a logged table across commits, replays, and the retention cliff") {
    val store = tmpStore()
    val dir = java.nio.file.Files.createTempDirectory("mv_follow").toString + "/t"
    val o = graft.Tables.orders(spark, sf("orders"))
    o.repartitionByRange(8, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey").write.parquet(dir)
    TxLog.convert(spark, dir) // v0
    def direct = canonMv(TxLog.snapshot(spark, dir)
      .groupBy(col("o_orderstatus").as("c_mktsegment"))
      .agg(count(lit(1)).as("n"), sum(col("o_totalprice").cast("double")).as("s")))
    val g = Seq("o_orderstatus"); val s = Seq("o_totalprice")

    // first call seeds at the current version and pins the cursor
    assert(MvStore.followTxLog(store, "fmv", dir, g, s) == ((0, 0)))
    assert(canonMv(MvStore.read(store, "fmv")) == direct)

    // commits land; one advance applies them all
    val up = o.filter(pmod(col("o_orderkey"), lit(991)) === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    UpsertWhere.byKeys(spark, dir, "o_orderkey", up, None) // v1
    val doomed: Seq[Any] = Seq(1L, 2L, 3L)
    DeleteWhere.byKeys(spark, dir, "o_orderkey", doomed, None) // v2
    assert(MvStore.followTxLog(store, "fmv", dir, g, s) == ((0, 2)))
    assert(canonMv(MvStore.read(store, "fmv")) == direct)

    // nothing new: the advance is a no-op
    assert(MvStore.followTxLog(store, "fmv", dir, g, s) == ((2, 2)))

    // crash between refresh and cursor write: replay the same range
    // by hand — the stamp recognizes it, the view is unchanged
    val before = canonMv(MvStore.read(store, "fmv"))
    assert(MvStore.refresh(store, "fmv",
      TxLog.asChangeFeed(TxLog.diff(spark, dir, 0, 2)), g, s,
      batchId = Some("v0_to_2")) == -1L)
    assert(canonMv(MvStore.read(store, "fmv")) == before)

    // retention cliff: vacuum prunes the cursor's version → reseed
    UpsertWhere.byKeys(spark, dir, "o_orderkey",
      up.withColumn("o_totalprice", col("o_totalprice") * 2), None) // v3
    TxLog.vacuum(spark, dir, retainVersions = 1)
    assert(MvStore.followTxLog(store, "fmv", dir, g, s) == ((2, 3)))
    assert(canonMv(MvStore.read(store, "fmv")) == direct)
    // and the reseeded cursor advances normally afterwards
    DeleteWhere.byKeys(spark, dir, "o_orderkey", Seq[Any](9L), None) // v4
    assert(MvStore.followTxLog(store, "fmv", dir, g, s) == ((3, 4)))
    assert(canonMv(MvStore.read(store, "fmv")) == direct)

    // THE HARD CRASH WINDOW: refresh landed (cursor still behind),
    // and a NEW commit arrives before the retry. Without the pending
    // intent, the retry would diff a WIDER window under a new batch
    // id the stamp cannot recognize — double-applying the old delta.
    // With it, the retry resumes the exact stamped window first, and
    // the next advance picks up the new commit.
    DeleteWhere.byKeys(spark, dir, "o_orderkey", Seq[Any](15L), None) // v5
    assert(MvStore.followTxLog(store, "fmv", dir, g, s) == ((4, 5)))
    // rewind the cursor to simulate the crash; pending still says 4→5
    import spark.implicits._
    store.overwrite(Seq(4).toDF("version"), "fmv__mv_cursor")
    DeleteWhere.byKeys(spark, dir, "o_orderkey", Seq[Any](21L), None) // v6
    assert(MvStore.followTxLog(store, "fmv", dir, g, s) == ((4, 5)))
    assert(MvStore.followTxLog(store, "fmv", dir, g, s) == ((5, 6)))
    assert(canonMv(MvStore.read(store, "fmv")) == direct)
  }
}
