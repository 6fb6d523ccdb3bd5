package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sources.ParquetStore

class RollupStoreSpec extends SparkSpec {

  private def tmpStore() = new ParquetStore(
    spark, java.nio.file.Files.createTempDirectory("rollup_store").toString)

  private def li = graft.Tables.lineitem(spark, sf("lineitem"))

  private val keys = Seq("l_partkey")
  private val ms = Seq("l_quantity")

  private def oneShot(df: org.apache.spark.sql.DataFrame) =
    df.groupBy("l_partkey")
      .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_l_quantity"),
        min("l_quantity").as("min_l_quantity"), max("l_quantity").as("max_l_quantity"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap

  private def stateOf(store: ParquetStore, name: String) =
    RollupStore.finalize(store, name, ms)
      .collect().map(r => r.getAs[Long]("l_partkey") ->
        (r.getAs[Long]("n"), r.getAs[Double]("sum_l_quantity"),
          r.getAs[Double]("min_l_quantity"), r.getAs[Double]("max_l_quantity"))).toMap

  test("init + ingest converges to the one-shot aggregate; replay is detected") {
    val b1 = li.filter(pmod(col("l_orderkey"), lit(2)) === 0)
    val b2 = li.filter(pmod(col("l_orderkey"), lit(2)) === 1)
    val store = tmpStore()
    RollupStore.init(store, "r", b1, keys, ms, nShards = 8)
    assert(RollupStore.ingest(store, "r", b2, keys, ms) > 0)
    assert(RollupStore.ingest(store, "r", b2, keys, ms) == -1L) // replay
    assert(stateOf(store, "r") === oneShot(li))
  }

  test("raw replay key is row-order-independent and measure-sensitive") {
    // the replay pre-probe hashes the RAW batch (xor of row hashes,
    // before any partial build): a re-delivery with a different
    // partitioning/row order must still read as the same batch, and a
    // batch differing ONLY in a measure value must not
    val b1 = li.filter(pmod(col("l_orderkey"), lit(2)) === 0)
    val b2 = li.filter(pmod(col("l_orderkey"), lit(2)) === 1)
    val store = tmpStore()
    RollupStore.init(store, "r", b1, keys, ms, nShards = 8)
    assert(RollupStore.ingest(store, "r", b2, keys, ms) > 0)
    // same rows, shuffled layout: detected as a replay
    assert(RollupStore.ingest(store, "r",
      b2.repartition(7, col("l_suppkey")), keys, ms) == -1L)
    // one measure value changed: a DIFFERENT batch, folds
    assert(RollupStore.ingest(store, "r",
      b2.withColumn("l_quantity",
        when(col("l_orderkey") === b2.select(min("l_orderkey")).head().get(0),
          col("l_quantity") + 1).otherwise(col("l_quantity"))),
      keys, ms) > 0)
  }

  test("a batch landing in previously-unseen shards still folds (pure partition add)") {
    // nShards 64 over a tiny init slice leaves most shards empty
    val store = tmpStore()
    RollupStore.init(store, "r", li.filter(col("l_partkey") === 1), keys, ms, nShards = 64)
    assert(RollupStore.ingest(store, "r", li.filter(col("l_partkey") =!= 1), keys, ms) > 0)
    assert(stateOf(store, "r") === oneShot(li))
  }

  test("identical batch content with distinct explicit batchIds folds twice") {
    val b = li.filter(col("l_partkey") <= 5)
    val store = tmpStore()
    RollupStore.init(store, "r", b, keys, ms, nShards = 8)
    assert(RollupStore.ingest(store, "r", b, keys, ms, batchId = Some("e2")) > 0)
    val doubled = stateOf(store, "r")
    oneShot(b).foreach { case (k, (n, s, mn, mx)) =>
      assert(doubled(k) === ((2 * n, 2 * s, mn, mx)))
    }
    // a retry of THAT delivery (same explicit id) is the replay window
    assert(RollupStore.ingest(store, "r", b, keys, ms, batchId = Some("e2")) == -1L)
  }

  test("distinct-count sketch state: incremental ndv ≡ one-shot COUNT(DISTINCT); replay detected") {
    val b1 = li.filter(pmod(col("l_orderkey"), lit(2)) === 0)
    val b2 = li.filter(pmod(col("l_orderkey"), lit(2)) === 1)
    val store = tmpStore()
    val dms = Seq("l_suppkey")
    RollupStore.init(store, "r", b1, keys, ms, nShards = 8, distinctMeasures = dms)
    assert(RollupStore.ingest(store, "r", b2, keys, ms, distinctMeasures = dms) > 0)
    // replay detection must survive the sketch columns (their bytes
    // are sorted-serialized precisely so the content key is stable)
    assert(RollupStore.ingest(store, "r", b2, keys, ms, distinctMeasures = dms) == -1L)
    val got = RollupStore.finalize(store, "r", ms, distinctMeasures = dms)
      .collect().map(r => r.getAs[Long]("l_partkey") -> r.getAs[Long]("ndv_l_suppkey")).toMap
    val exact = li.groupBy("l_partkey")
      .agg(countDistinct(col("l_suppkey")).as("d"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === exact)
  }

  test("sketch union at saturation (k=2) still equals the one-shot sketch of the union") {
    // union-of-bottom-k ≡ bottom-k-of-union: even past exactness the
    // incremental estimate must match sketching all rows in one pass
    val b1 = li.filter(pmod(col("l_orderkey"), lit(2)) === 0)
    val b2 = li.filter(pmod(col("l_orderkey"), lit(2)) === 1)
    val store = tmpStore()
    val dms = Seq("l_orderkey")
    RollupStore.init(store, "r", b1, keys, ms, nShards = 8, distinctMeasures = dms, kmvK = 2)
    RollupStore.ingest(store, "r", b2, keys, ms, distinctMeasures = dms)
    val got = RollupStore.finalize(store, "r", ms, distinctMeasures = dms)
      .collect().map(r => r.getAs[Long]("l_partkey") -> r.getAs[Long]("ndv_l_orderkey")).toMap
    val oneShot = li.groupBy("l_partkey")
      .agg(graft.functions.SketchFunctions.kmvDistinct(col("l_orderkey"), 2).as("d"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === oneShot)
  }

  test("the refresh reads only the touched shards — partition filter reaches the state scan") {
    val store = tmpStore()
    RollupStore.init(store, "r", li, keys, ms, nShards = 8)
    // one key → one shard; capture the pruned read the same way the
    // ingest path builds it
    val one = RollupStore.partial(li.filter(col("l_partkey") === 7), keys, ms, 8)
    val cell = one.select(col("cell").cast("string")).head().getString(0)
    val plan = store.read(RollupStore.stateTable(store, "r"))
      .filter(col("cell").cast("string").isin(Seq(cell): _*))
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined, plan)
  }

  test("reshard re-hashes state into a new generation; ingest keeps folding correctly") {
    val b1 = li.filter(pmod(col("l_orderkey"), lit(2)) === 0)
    val b2 = li.filter(pmod(col("l_orderkey"), lit(2)) === 1)
    val store = tmpStore()
    RollupStore.init(store, "r", b1, keys, ms, nShards = 4)
    RollupStore.reshard(store, "r", keys, 16)
    assert(RollupStore.stateTable(store, "r") == "r__g1")
    // post-reshard state answers identically…
    assert(stateOf(store, "r") === oneShot(b1))
    // …and later batches fold under the NEW shard map
    assert(RollupStore.ingest(store, "r", b2, keys, ms) > 0)
    assert(stateOf(store, "r") === oneShot(li))
    // every state row sits in a cell consistent with the new count
    val cells = store.read("r__g1").select("cell").distinct()
      .collect().map(_.getInt(0))
    assert(cells.forall(c => c >= 0 && c < 16))
  }

  test("heavy-hitter state folds across ingests; exact-regime top-k equals one-shot rank") {
    val b1 = li.filter(pmod(col("l_orderkey"), lit(2)) === 0)
    val b2 = li.filter(pmod(col("l_orderkey"), lit(2)) === 1)
    val store = tmpStore()
    val tms = Seq("l_suppkey")
    RollupStore.init(store, "hh", b1, Seq("l_returnflag"), ms, nShards = 4,
      topkMeasures = tms)
    assert(RollupStore.ingest(store, "hh", b2, Seq("l_returnflag"), ms,
      topkMeasures = tms) > 0)
    assert(RollupStore.ingest(store, "hh", b2, Seq("l_returnflag"), ms,
      topkMeasures = tms) == -1L) // replay detected (hh columns are
    // outside the content key, but keys/measures still pin the batch)
    val got = RollupStore.finalize(store, "hh", ms, topkMeasures = tms, topJ = 3)
      .select(col("l_returnflag"), col("topk_keys_l_suppkey"), col("topk_counts_l_suppkey"))
      .collect().map(r => r.getString(0) ->
        (r.getSeq[String](1), r.getSeq[Long](2))).toMap
    val truth = li.groupBy(col("l_returnflag"), col("l_suppkey").cast("string").as("sk"))
      .agg(count(lit(1)).as("c")).collect()
      .groupBy(_.getString(0))
      .map { case (flag, rows) =>
        val ranked = rows.map(r => (r.getString(1), r.getLong(2)))
          .sortBy { case (sk, c) => (-c, sk) }.take(3)
        flag -> (ranked.map(_._1).toSeq, ranked.map(_._2).toSeq)
      }
    assert(got == truth)
  }

  /** Pass-through store for the writer-fence specs: hooks one op. */
  private class Hooked(inner: ParquetStore)(
      onRewrite: () => Unit) extends graft.sources.TableStore {
    import org.apache.spark.sql.DataFrame
    def spark: org.apache.spark.sql.SparkSession = inner.spark
    def exists(n: String): Boolean = inner.exists(n)
    def read(n: String): DataFrame = inner.read(n)
    def overwrite(df: DataFrame, n: String): Unit = inner.overwrite(df, n)
    def overwritePartitioned(df: DataFrame, n: String, p: String): Unit =
      inner.overwritePartitioned(df, n, p)
    def appendKeyed(df: DataFrame, n: String, k: String): Unit =
      inner.appendKeyed(df, n, k)
    def appendPartitioned(df: DataFrame, n: String, p: String): Unit =
      inner.appendPartitioned(df, n, p)
    def rewritePartitioned(df: DataFrame, n: String, p: String, sv: Seq[String]): Unit = {
      onRewrite(); inner.rewritePartitioned(df, n, p, sv)
    }
    def markerHolder(t: String): Option[String] = inner.markerHolder(t)
    def markerSet(t: String, tok: String): Unit = inner.markerSet(t, tok)
    def markerClear(t: String): Unit = inner.markerClear(t)
  }

  test("writer fence: an overlapping second writer fails loudly, a failed one releases, a dead one needs explicit recovery") {
    val store = tmpStore()
    RollupStore.init(store, "wf", li.filter(col("l_partkey") <= 5), keys, ms, nShards = 8)

    // (1) true overlap: a competing ingest fired from INSIDE the first
    // one's shard rewrite is rejected while the first completes — the
    // interleaving that could clobber a mid-flight last_batch stamp
    var overlapErr: Option[Throwable] = None
    val overlapping = new Hooked(store)(() =>
      if (overlapErr.isEmpty)
        overlapErr = Some(intercept[IllegalStateException] {
          RollupStore.ingest(store, "wf", li.filter(col("l_partkey") === 9), keys, ms)
        }))
    assert(RollupStore.ingest(overlapping, "wf",
      li.filter(col("l_partkey") === 7), keys, ms) > 0)
    assert(overlapErr.exists(_.getMessage.contains("active writer")), overlapErr.toString)

    // (2) a writer that FAILS (exception, process alive) releases the
    // fence on the way out — the retry needs no manual recovery
    intercept[RuntimeException] {
      RollupStore.ingest(
        new Hooked(store)(() => throw new RuntimeException("simulated rewrite crash")),
        "wf", li.filter(col("l_partkey") === 11), keys, ms)
    }
    assert(RollupStore.ingest(store, "wf",
      li.filter(col("l_partkey") === 11), keys, ms) > 0)

    // (3) a writer that DIED holding the fence (simulated by the
    // on-disk state a kill leaves): loud rejection naming the recovery
    // step, then clearWriterFence restores service
    store.markerSet("wf__writer_fence", "ingest:dead-writer")
    val e = intercept[IllegalStateException] {
      RollupStore.ingest(store, "wf", li.filter(col("l_partkey") === 13), keys, ms)
    }
    assert(e.getMessage.contains("clearWriterFence"))
    RollupStore.clearWriterFence(store, "wf")
    assert(RollupStore.ingest(store, "wf",
      li.filter(col("l_partkey") === 13), keys, ms) > 0)
  }

  test("shardReport flags oversized shards and recommends a power-of-two count") {
    val store = tmpStore()
    RollupStore.init(store, "r", li, keys, ms, nShards = 2)
    // ~200 part keys over 2 shards → ~100 rows/shard, target 20
    val rep = RollupStore.shardReport(store, "r", targetRowsPerShard = 20)
      .collect()
    assert(rep.forall(_.getAs[String]("action") == "grow"))
    val rec = rep.head.getAs[Int]("recommended_shards")
    assert(rec >= 8 && Integer.bitCount(rec) == 1)
    val ok = RollupStore.shardReport(store, "r", targetRowsPerShard = 1 << 20)
      .collect()
    assert(ok.forall(_.getAs[String]("action") == "ok"))
  }
}
