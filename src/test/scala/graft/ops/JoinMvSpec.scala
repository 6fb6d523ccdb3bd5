package graft.ops

import java.nio.file.Files

import graft.SparkSpec
import graft.sources.ParquetStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental join view ([[JoinMv]]): seed equality, fact-side
  * churn, dim-side churn incl. GROUP MOVES, the cross-term case (both
  * sides change the same key in one advance), replay no-op, retention
  * reseed, and the pruned fact read on a stats-declared join key.
  */
class JoinMvSpec extends SparkSpec {

  import spark.implicits._

  private lazy val orders = graft.Tables.orders(spark, sf("orders"))
  private lazy val customer = graft.Tables.customer(spark, sf("customer"))

  private def same(got: DataFrame, expected: DataFrame): Boolean =
    got.select(expected.columns.map(col): _*).exceptAll(expected).isEmpty &&
      expected.exceptAll(got.select(expected.columns.map(col): _*)).isEmpty

  /** (factDir, dimDir, store): orders-as-fact (key, price), customer-
    * as-dim (key, seg), both TxLog-managed.
    */
  private def fixtures(): (String, String, ParquetStore) = {
    val root = Files.createTempDirectory("joinmv").toString
    val f = s"$root/fact"
    val d = s"$root/dim"
    orders.select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").as("price"))
      .repartitionByRange(8, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey").write.parquet(f)
    TxLog.convert(spark, f)
    customer.select(col("c_custkey").as("o_custkey"),
        col("c_mktsegment").as("seg"))
      .repartition(2).write.parquet(d)
    TxLog.convert(spark, d)
    (f, d, new ParquetStore(spark, s"$root/state"))
  }

  private val K = Seq("o_custkey")
  private val G = Seq("seg")
  private val M = Seq("price")

  /** Ground truth: direct aggregate of the two CURRENT snapshots
    * (sums rounded — signed-delta double arithmetic is exact to well
    * past cents but not bit-identical to a fresh fold).
    */
  private def direct(f: String, d: String): DataFrame =
    TxLog.snapshot(spark, f).join(TxLog.snapshot(spark, d), K)
      .groupBy("seg")
      .agg(count(lit(1)).as("n"),
        round(sum(col("price").cast("double")), 2).as("sum_price"))

  private def view(st: ParquetStore): DataFrame =
    JoinMv.read(st, "v").select(col("seg"), col("n"),
      round(col("sum_price"), 2).as("sum_price"))

  test("seed equals the direct aggregate of the join") {
    val (f, d, st) = fixtures()
    assert(JoinMv.follow(st, "v", f, d, K, G, M)._1._1 ==
      JoinMv.follow(st, "v", f, d, K, G, M)._1._2) // second call: no-op
    assert(same(view(st), direct(f, d)))
  }

  test("fact-side churn: upsert + delete advance the view exactly") {
    val (f, d, st) = fixtures()
    JoinMv.follow(st, "v", f, d, K, G, M)
    val bump = TxLog.snapshot(spark, f)
      .filter(pmod(col("o_orderkey"), lit(191)) === 0)
      .withColumn("price", col("price") * 3)
    UpsertWhere.byKeys(spark, f, "o_orderkey", bump)
    DeleteWhere.range(spark, f, "o_orderkey", 1, 50)
    val ((f0, f1), (d0, d1)) = JoinMv.follow(st, "v", f, d, K, G, M)
    assert(f1 > f0 && d0 == d1)
    assert(same(view(st), direct(f, d)))
  }

  test("dim-side churn: an attribute change MOVES groups; old facts follow") {
    val (f, d, st) = fixtures()
    JoinMv.follow(st, "v", f, d, K, G, M)
    val moved = TxLog.snapshot(spark, d)
      .filter(pmod(col("o_custkey"), lit(7)) === 0)
      .withColumn("seg", lit("MOVED"))
    UpsertWhere.byKeys(spark, d, "o_custkey", moved)
    val ((f0, f1), (d0, d1)) = JoinMv.follow(st, "v", f, d, K, G, M)
    assert(f0 == f1 && d1 > d0)
    val got = view(st)
    assert(got.filter(col("seg") === "MOVED").count() == 1)
    assert(same(got, direct(f, d)))
  }

  test("cross term: the same key churns on BOTH sides in one advance") {
    val (f, d, st) = fixtures()
    JoinMv.follow(st, "v", f, d, K, G, M)
    // pick one customer; move its segment AND add a fresh fact row
    // for it — the fresh row must land in the NEW segment (ΔF ⋈ D_new)
    val k = TxLog.snapshot(spark, d).select("o_custkey")
      .orderBy("o_custkey").head().getLong(0)
    UpsertWhere.byKeys(spark, d, "o_custkey",
      Seq((k, "XTERM")).toDF("o_custkey", "seg"))
    UpsertWhere.byKeys(spark, f, "o_orderkey",
      Seq((9999991L, k, 10.0)).toDF("o_orderkey", "o_custkey", "price"))
    JoinMv.follow(st, "v", f, d, K, G, M)
    val got = view(st)
    assert(same(got, direct(f, d)))
    // and the fresh fact row is counted once, in XTERM
    val directX = direct(f, d).filter(col("seg") === "XTERM").head()
    assert(got.filter(col("seg") === "XTERM").head().getLong(1) ==
      directX.getLong(1))
  }

  test("replay: re-running the same advance is recognized, state untouched") {
    val (f, d, st) = fixtures()
    JoinMv.follow(st, "v", f, d, K, G, M)
    DeleteWhere.range(spark, f, "o_orderkey", 1, 100)
    JoinMv.follow(st, "v", f, d, K, G, M)
    val before = JoinMv.read(st, "v").collect().toSet
    // simulate the crash window: rewind the cursor, follow again —
    // the pending intent resumes the exact window and the batch
    // stamp recognizes the replay; only the cursor moves
    st.overwrite(Seq((0, 0, f, ""), (1, 0, d, "o_custkey"))
      .toDF("idx", "ver", "tbl", "keys"), "v__jmvs_cursor")
    JoinMv.follow(st, "v", f, d, K, G, M)
    assert(JoinMv.read(st, "v").collect().toSet == before)
    assert(same(view(st), direct(f, d)))
  }

  test("retention cliff: a vacuumed-away cursor reseeds from the snapshots") {
    val (f, d, st) = fixtures()
    JoinMv.follow(st, "v", f, d, K, G, M)
    // churn the fact log past the cursor, then prune it away
    (1 to 3).foreach { i =>
      DeleteWhere.range(spark, f, "o_orderkey", i.toLong, i.toLong)
      Compact.binPack(spark, f, targetBytes = 256L << 20,
        smallBytes = 256L << 20) // no-op pack, just extra versions
    }
    TxLog.checkpoint(spark, f)
    TxLog.vacuum(spark, f, retainVersions = 1)
    val ((f0, f1), _) = JoinMv.follow(st, "v", f, d, K, G, M)
    assert(f0 == f1) // reseed reports current==current
    assert(same(view(st), direct(f, d)))
  }

  test("pruned dim-side term: stats on the join key bound the old-fact read") {
    val (f, d, st) = fixtures()
    TxLog.setStatsColumns(spark, f, Seq("o_custkey"))
    // stats attach on commit: re-cluster so files carry o_custkey ranges
    Compact.binPack(spark, f, targetBytes = 4L << 10,
      smallBytes = 64L << 20, sortCols = Seq("o_custkey"))
    JoinMv.follow(st, "v", f, d, K, G, M)
    val loKey = TxLog.snapshot(spark, d).agg(min("o_custkey")).head().getLong(0)
    UpsertWhere.byKeys(spark, d, "o_custkey",
      Seq((loKey, "PRUNED")).toDF("o_custkey", "seg"))
    JoinMv.follow(st, "v", f, d, K, G, M)
    assert(same(view(st), direct(f, d)))
    // the candidate set for one low key is a strict subset of files
    val cand = TxLog.candidateFilesFromLog(spark, f, "o_custkey",
      loKey.toDouble, loKey.toDouble).size
    val all = TxLog.liveEntries(spark, f).size
    assert(cand < all, s"expected pruning: $cand of $all candidates")
  }

  test("string join key: the changed-key lexicographic range bounds the old-fact read, result exact") {
    val root = Files.createTempDirectory("joinmv_str").toString
    val f = s"$root/fact"
    val d = s"$root/dim"
    def ck(c: org.apache.spark.sql.Column) =
      concat(lit("C"), lpad(c.cast("string"), 8, "0"))
    orders.select(col("o_orderkey"), ck(col("o_custkey")).as("ck"),
        col("o_totalprice").as("price"))
      .repartitionByRange(8, col("ck"))
      .sortWithinPartitions("ck").write.parquet(f)
    TxLog.convert(spark, f)
    customer.select(ck(col("c_custkey")).as("ck"),
        col("c_mktsegment").as("seg"))
      .repartition(2).write.parquet(d)
    TxLog.convert(spark, d)
    val st = new ParquetStore(spark, s"$root/state")
    val Ks = Seq("ck")
    JoinMv.follow(st, "v", f, d, Ks, G, M)
    // ONE low changed key: the string branch filters F_old to its
    // lexicographic point range (parquet row-group stats prune the
    // clustered layout); the view must still advance exactly
    val lo = TxLog.snapshot(spark, d).agg(min("ck")).head().getString(0)
    UpsertWhere.byKeys(spark, d, "ck",
      Seq((lo, "SMOVED")).toDF("ck", "seg"))
    JoinMv.follow(st, "v", f, d, Ks, G, M)
    def directS = TxLog.snapshot(spark, f)
      .join(TxLog.snapshot(spark, d), Ks).groupBy("seg")
      .agg(count(lit(1)).as("n"),
        round(sum(col("price").cast("double")), 2).as("sum_price"))
    assert(same(view(st), directS))
    assert(view(st).filter(col("seg") === "SMOVED").count() == 1L)
  }

  test("string join key: the footer manifest skips FILES, not just row groups (plan receipt)") {
    val root = Files.createTempDirectory("joinmv_fskip").toString
    val f = s"$root/fact"
    def ck(c: org.apache.spark.sql.Column) =
      concat(lit("C"), lpad(c.cast("string"), 8, "0"))
    orders.select(col("o_orderkey"), ck(col("o_custkey")).as("ck"),
        col("o_totalprice").as("price"))
      .repartitionByRange(8, col("ck"))
      .sortWithinPartitions("ck").write.parquet(f)
    TxLog.convert(spark, f)
    val total = TxLog.liveEntries(spark, f).size
    assert(total >= 8)
    // a point range on the clustered key: the lexicographic manifest
    // must name a strict subset of the files as candidates
    val lo = TxLog.snapshot(spark, f).agg(min("ck")).head().getString(0)
    val cand = TxLog.candidateFilesStringRange(spark, f, "ck", lo, lo)
    assert(cand.size < total,
      s"expected file-level skipping, got ${cand.size}/$total candidates")
    assert(cand.nonEmpty)
    // and the pruned read is exact
    assert(same(TxLog.snapshotPrunedString(spark, f, "ck", lo, lo),
      TxLog.snapshot(spark, f).filter(col("ck") === lo)))
    // a range spanning everything prunes nothing and stays exact
    val hi = TxLog.snapshot(spark, f).agg(max("ck")).head().getString(0)
    assert(TxLog.candidateFilesStringRange(spark, f, "ck", lo, hi)
      .size == total)
  }

  test("SQL TVFs drive the cross-directory follow lifecycle, hash-stable vs the Scala path") {
    graft.GraftExtensions.installInto(spark)
    val root = Files.createTempDirectory("joinmv_sql").toString
    val f = s"$root/fact"
    val d = s"$root/dim"
    orders.select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").as("price"))
      .repartition(4).write.parquet(f)
    TxLog.convert(spark, f)
    customer.select(col("c_custkey").as("o_custkey"),
        col("c_mktsegment").as("seg"))
      .repartition(2).write.parquet(d)
    TxLog.convert(spark, d)
    val st = s"$root/state"
    def follow() = spark.sql("SELECT * FROM graft_joinmv_follow(" +
      s"'$st', 'v', '$f', '$d:o_custkey', 'seg', 'price')").collect()
    val seed = follow()
    assert(seed.length == 2 && seed.map(_.getString(1)).toSeq == Seq(f, d))
    DeleteWhere.range(spark, f, "o_orderkey", 1, 500)
    val adv = follow()
    assert(adv(0).getInt(2) < adv(0).getInt(3)) // fact advanced
    val viaSql = spark.sql(s"SELECT * FROM graft_mv_read('$st', 'v')")
    assert(same(viaSql, JoinMv.read(new ParquetStore(spark, st), "v")),
      "SQL read != Scala read")
    assert(same(viaSql.select(col("seg"), col("n"),
      round(col("sum_price"), 2).as("sum_price")), direct(f, d)))
    // single-table follower through its own verbs
    val st2 = s"$root/state2"
    spark.sql(s"SELECT * FROM graft_mv_follow('$st2', 'm', '$f', " +
      "'o_custkey', 'price')").collect()
    DeleteWhere.range(spark, f, "o_orderkey", 501, 900)
    val r = spark.sql(s"SELECT * FROM graft_mv_follow('$st2', 'm', '$f', " +
      "'o_custkey', 'price')").head()
    assert(r.getLong(2) < r.getLong(3))
    assert(same(
      spark.sql(s"SELECT * FROM graft_mv_read('$st2', 'm')")
        .select(col("o_custkey"), col("n"),
          round(col("sum_price"), 2).as("sum_price")),
      TxLog.snapshot(spark, f).groupBy("o_custkey")
        .agg(count(lit(1)).as("n"),
          round(sum(col("price").cast("double")), 2).as("sum_price"))))
  }

  test("star/snowflake (3-table) view: every table churns in one advance, terms telescope exactly") {
    val root = Files.createTempDirectory("joinmv_star").toString
    val f = s"$root/fact"; val d1 = s"$root/cust"; val d2 = s"$root/nat"
    orders.select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").as("price"))
      .repartitionByRange(8, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey").write.parquet(f)
    TxLog.convert(spark, f)
    customer.select(col("c_custkey").as("o_custkey"),
        col("c_mktsegment").as("seg"), col("c_nationkey"))
      .repartition(2).write.parquet(d1)
    TxLog.convert(spark, d1)
    graft.Tables.nation(spark, sf("nation"))
      .select(col("n_nationkey").as("c_nationkey"),
        col("n_name").as("nation_name"))
      .repartition(1).write.parquet(d2)
    TxLog.convert(spark, d2)
    val st = new ParquetStore(spark, s"$root/state")
    // dim 2 joins c_nationkey — a column dim 1 PRODUCED (snowflake)
    val dims = Seq((d1, Seq("o_custkey")), (d2, Seq("c_nationkey")))
    val G2 = Seq("seg", "nation_name")
    def directS = TxLog.snapshot(spark, f)
      .join(TxLog.snapshot(spark, d1), Seq("o_custkey"))
      .join(TxLog.snapshot(spark, d2), Seq("c_nationkey"))
      .groupBy("seg", "nation_name")
      .agg(count(lit(1)).as("n"),
        round(sum(col("price").cast("double")), 2).as("sum_price"))
    def viewS = JoinMv.read(st, "vs")
      .select(col("seg"), col("nation_name"), col("n"),
        round(col("sum_price"), 2).as("sum_price"))
    assert(JoinMv.followStar(st, "vs", f, dims, G2, M)
      .forall(p => p._1 == p._2)) // seed
    assert(same(viewS, directS))
    // ALL THREE churn inside one advance: facts re-price + insert,
    // customers move BOTH segment and nation (the snowflake column),
    // and a nation renames
    UpsertWhere.byKeys(spark, f, "o_orderkey",
      TxLog.snapshot(spark, f)
        .filter(col("o_orderkey") % 991 === 0)
        .withColumn("price", col("price") * 2)
        .unionByName(orders.filter(col("o_orderkey") < 5).select(
          (col("o_orderkey") + 1000000L).as("o_orderkey"),
          col("o_custkey"), lit(0.0).as("price"))))
    UpsertWhere.byKeys(spark, d1, "o_custkey",
      TxLog.snapshot(spark, d1)
        .filter(col("o_custkey") % 97 === 0)
        .withColumn("seg", lit("MOVED"))
        .withColumn("c_nationkey", pmod(col("c_nationkey") + 7, lit(25))))
    UpsertWhere.byKeys(spark, d2, "c_nationkey",
      TxLog.snapshot(spark, d2).filter(col("c_nationkey") < 3)
        .withColumn("nation_name",
          concat(lit("REN_"), col("c_nationkey").cast("string"))))
    val adv = JoinMv.followStar(st, "vs", f, dims, G2, M)
    assert(adv.forall(p => p._1 < p._2)) // every table advanced
    assert(same(viewS, directS))
    // a dim-2-ONLY advance: the fact term and dim-1 term are absent
    UpsertWhere.byKeys(spark, d2, "c_nationkey",
      TxLog.snapshot(spark, d2).filter(col("c_nationkey") === 5L)
        .withColumn("nation_name", lit("FIVE")))
    val adv2 = JoinMv.followStar(st, "vs", f, dims, G2, M)
    assert(adv2(0)._1 == adv2(0)._2 && adv2(1)._1 == adv2(1)._2 &&
      adv2(2)._1 < adv2(2)._2)
    assert(same(viewS, directS))
    // no-op advance
    assert(JoinMv.followStar(st, "vs", f, dims, G2, M)
      .forall(p => p._1 == p._2))
    // arity drift refuses
    intercept[IllegalArgumentException] {
      JoinMv.followStar(st, "vs", f, dims.take(1), G2, M)
    }
    // min/max through the star: seed a second view, then a DELETE
    // that wipes each group's floor — extremes recompute through the
    // THREE-way joined post-change state
    def directMm = TxLog.snapshot(spark, f)
      .join(TxLog.snapshot(spark, d1), Seq("o_custkey"))
      .join(TxLog.snapshot(spark, d2), Seq("c_nationkey"))
      .groupBy("seg", "nation_name")
      .agg(count(lit(1)).as("n"),
        min(col("price").cast("double")).as("min_price"),
        max(col("price").cast("double")).as("max_price"))
    def viewMm = JoinMv.read(st, "vsm")
      .select(col("seg"), col("nation_name"), col("n"),
        col("min_price"), col("max_price"))
    JoinMv.followStar(st, "vsm", f, dims, G2, M, minMaxCols = M)
    assert(same(viewMm, directMm))
    DeleteWhere.where(spark, f, col("price") < 1000.0)
    JoinMv.followStar(st, "vsm", f, dims, G2, M, minMaxCols = M)
    assert(same(viewMm, directMm))
  }

  test("min/max measures: adds grow in place, a delete recomputes its group through the join") {
    val (f, d, st) = fixtures()
    def directMm: DataFrame =
      TxLog.snapshot(spark, f).join(TxLog.snapshot(spark, d), K)
        .groupBy("seg")
        .agg(count(lit(1)).as("n"),
          round(sum(col("price").cast("double")), 2).as("sum_price"),
          min(col("price").cast("double")).as("min_price"),
          max(col("price").cast("double")).as("max_price"))
    def viewMm: DataFrame =
      JoinMv.read(st, "v").select(col("seg"), col("n"),
        round(col("sum_price"), 2).as("sum_price"),
        col("min_price"), col("max_price"))
    JoinMv.follow(st, "v", f, d, K, G, M, minMaxCols = M)
    assert(same(viewMm, directMm))
    // grow path: fresh fact rows extend one group's max, no deletes
    val top = TxLog.snapshot(spark, f).agg(max("price")).head().getDouble(0)
    TxLog.append(spark, f,
      TxLog.snapshot(spark, f).filter(col("o_orderkey") < 5)
        .withColumn("o_orderkey", col("o_orderkey") + 7000000L)
        .withColumn("price", lit(top + 1000.0)).localCheckpoint())
    JoinMv.follow(st, "v", f, d, K, G, M, minMaxCols = M)
    assert(same(viewMm, directMm))
    assert(viewMm.agg(max("max_price")).head().getDouble(0) == top + 1000.0)
    // dirty path: DELETE the rows holding each group's current MIN —
    // grow-only state cannot answer; the group must recompute from
    // the post-change JOINED rows
    val lows = TxLog.snapshot(spark, f).join(TxLog.snapshot(spark, d), K)
      .groupBy("seg").agg(min("price").as("mn"))
      .select("mn").as[Double].collect().toSet
    DeleteWhere.where(spark, f, col("price").isin(lows.toSeq: _*))
    JoinMv.follow(st, "v", f, d, K, G, M, minMaxCols = M)
    assert(same(viewMm, directMm))
    // and a DIM-side churn with min/max on: the moved group's
    // extremes follow through the F_old ⋈ ΔD term + recompute
    val moved = TxLog.snapshot(spark, d).limit(1)
      .select("o_custkey").head().getLong(0)
    UpsertWhere.byKeys(spark, d, "o_custkey",
      Seq((moved, "MOVEDMM")).toDF("o_custkey", "seg"))
    JoinMv.follow(st, "v", f, d, K, G, M, minMaxCols = M)
    assert(same(viewMm, directMm))
  }
}
