package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.sources.TableStore

/** Incrementally-maintained rollup (materialized aggregate) tables —
  * refresh a keyed aggregate from a batch WITHOUT rescanning the
  * corpus. The warehouse answer to "keep `SELECT keys, count, sum,
  * min, max FROM fact GROUP BY keys` fresh under appends": the state
  * table stores one PARTIAL-AGGREGATE row per key (count + sum/min/max
  * per measure, plus a serialized KMV sketch per DISTINCT measure —
  * every one an associative, mergeable state; COUNT(DISTINCT) itself
  * is not mergeable, its bottom-k sketch is), sharded
  * by key hash, and a batch folds in as
  *
  *   stored(touched shards) ∪ batch-partials → re-aggregate → rewrite
  *   touched shards
  *
  * so the refresh cost is O(batch + touched shards' state rows) —
  * at 100 TB the fact table is never read again, and the rewrite
  * surface is bounded by `nShards` regardless of corpus size. AVG
  * derives from (sum, count) at read time ([[finalize]]); holding it
  * as state would not merge.
  *
  * Replay contract (exactly-once folding under at-least-once batch
  * delivery, e.g. `foreachBatch` replay): aggregation is NOT
  * idempotent — folding a batch twice double-counts — so every state
  * row carries the `last_batch` key that wrote it, and the rewrite is
  * atomic across the touched shards ([[TableStore.rewritePartitioned]]:
  * manifest-as-publish-token for parquet, one transaction for JDBC).
  * A replayed batch finds its own key on some touched row iff the
  * merge published, and skips. The key derives from the batch
  * partials' content (order-independent xor of row hashes), so replay
  * detection needs no cooperation from the caller; a pipeline that
  * legitimately ingests IDENTICAL batch content twice must pass an
  * explicit `batchId` to distinguish them.
  *
  * The stamp is per shard and overwritten by the NEXT batch touching
  * it, so detection covers a replay arriving before any other batch
  * folds into the same shards — exactly the at-least-once window
  * (`foreachBatch` retries an epoch before advancing; a failed epoch
  * is re-delivered first, never reordered past a later one). A ledger
  * of ALL batch keys would widen the window to arbitrary reordering
  * at the cost of an unbounded probe set; single-writer epoch
  * semantics don't need it. The single-writer contract itself is
  * ENFORCED by a writer fence ([[StoreTxn.fenced]] around every
  * mutating entry point; [[clearWriterFence]] after a crash), not
  * merely assumed.
  */
object RollupStore {

  private def sumCol(m: String) = s"sum_$m"
  private def minCol(m: String) = s"min_$m"
  private def maxCol(m: String) = s"max_$m"
  private def ndvCol(m: String) = s"ndv_sketch_$m"
  private def hhCol(m: String) = s"hh_sketch_$m"
  private def qsCol(m: String) = s"qs_sketch_$m"

  private def cellOf(keys: Seq[String], nShards: Int): Column =
    pmod(xxhash64(keys.map(col): _*), lit(nShards.toLong)).cast("int")

  /** One partial-aggregate row per key present in `batch`:
    * (cell, keys..., n, sum_m/min_m/max_m per measure,
    * ndv_sketch_d per distinct measure — a serialized KMV sketch,
    * the mergeable form of COUNT(DISTINCT d): exact below `kmvK`
    * distinct values per key, (k−1)/fraction beyond — and
    * hh_sketch_t per top-k measure — a serialized Misra-Gries
    * counter set, the mergeable form of "most frequent values of t":
    * counts exact below `topkK` distinct values per key,
    * under-counted by at most N/(topkK+1) beyond).
    */
  def partial(
      batch: DataFrame,
      keys: Seq[String],
      measures: Seq[String],
      nShards: Int,
      distinctMeasures: Seq[String] = Nil,
      kmvK: Int = 256,
      topkMeasures: Seq[String] = Nil,
      topkK: Int = 256,
      quantileMeasures: Seq[String] = Nil,
      quantBins: Int = 512): DataFrame = {
    require(keys.nonEmpty && measures.nonEmpty && nShards > 0)
    val aggs = (((count(lit(1)).as("n") +: measures.flatMap(m => Seq(
      sum(col(m)).as(sumCol(m)), min(col(m)).as(minCol(m)), max(col(m)).as(maxCol(m))))) ++
      distinctMeasures.map(m =>
        graft.functions.SketchFunctions.kmvSketch(col(m), kmvK).as(ndvCol(m)))) ++
      topkMeasures.map(m =>
        graft.functions.HeavyHitterFunctions.mgSketch(col(m), topkK).as(hhCol(m)))) ++
      quantileMeasures.map(m =>
        graft.functions.QuantileFunctions.qSketch(col(m), quantBins).as(qsCol(m)))
    batch.groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("cell", cellOf(keys, nShards))
  }

  /** Re-aggregate a union of partial rows — the merge is the SAME
    * shape as the partial build (sum of sums/counts, min of mins, max
    * of maxes, KMV union of sketches — bottom-k of a union is the
    * union of bottom-ks), which is what makes the state mergeable at
    * any fan-in.
    */
  private def mergePartials(
      parts: DataFrame, keys: Seq[String], measures: Seq[String],
      distinctMeasures: Seq[String], kmvK: Int,
      topkMeasures: Seq[String] = Nil, topkK: Int = 256,
      quantileMeasures: Seq[String] = Nil, quantBins: Int = 512): DataFrame = {
    val aggs = (((sum(col("n")).as("n") +: measures.flatMap(m => Seq(
      sum(col(sumCol(m))).as(sumCol(m)),
      min(col(minCol(m))).as(minCol(m)),
      max(col(maxCol(m))).as(maxCol(m))))) ++
      distinctMeasures.map(m =>
        graft.functions.SketchFunctions.kmvUnion(col(ndvCol(m)), kmvK).as(ndvCol(m)))) ++
      topkMeasures.map(m =>
        graft.functions.HeavyHitterFunctions.mgUnion(col(hhCol(m)), topkK).as(hhCol(m)))) ++
      quantileMeasures.map(m =>
        graft.functions.QuantileFunctions.qUnion(col(qsCol(m)), quantBins).as(qsCol(m)))
    parts.groupBy(("cell" +: keys).map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  private def metaTable(name: String) = s"${name}__meta"

  // control-table schemas, KNOWN at the call site: reading them pinned
  // skips the footer-inference Spark job every unpinned parquet
  // directory read pays at plan time (guide §1.2 — metadata actions
  // are the fixed per-ingest cost at this scale). Old meta files
  // lacking the later-added columns read NULL; [[resolve]] defaults
  // them exactly as the former column-presence check did.
  private val MetaSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("n_shards",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("kmv_k",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("topk_k",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("quant_bins",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("physical",
      org.apache.spark.sql.types.StringType)))

  /** Operator recovery after a writer crashed holding the fence
    * ([[StoreTxn.fenced]] guards [[init]], [[ingest]] and [[reshard]]).
    */
  def clearWriterFence(store: TableStore, name: String): Unit =
    StoreTxn.clearFence(store, name)

  /** Resolved handle: shard count, sketch k, and the PHYSICAL state
    * table the logical name currently points at. All three live in
    * ONE meta row, so [[reshard]]'s generation flip publishes the new
    * shard map and the re-celled state in a single tiny-table
    * overwrite — there is no window where a reader can pair the new
    * count with the old rows (which would split keys across cells).
    */
  private case class Resolved(
      nShards: Int, kmvK: Int, topkK: Int, quantBins: Int, physical: String)

  private def resolve(store: TableStore, name: String): Resolved = {
    require(store.exists(metaTable(name)), s"rollup '$name' not initialized")
    val df = store.read(metaTable(name), MetaSchema)
    val r = df.head()
    // later-added columns: absent in old metas (pinned parquet reads
    // them NULL; a relational backend may omit them entirely) — the
    // same defaults the former column-presence check applied
    def intOr(c: String, d: Int): Int = {
      val i = df.columns.indexOf(c)
      if (i < 0 || r.isNullAt(i)) d else r.getInt(i)
    }
    Resolved(r.getAs[Int]("n_shards"), r.getAs[Int]("kmv_k"),
      intOr("topk_k", 256), intOr("quant_bins", 512),
      r.getAs[String]("physical"))
  }

  private def writeMeta(
      store: TableStore, name: String, spark: org.apache.spark.sql.SparkSession,
      nShards: Int, kmvK: Int, topkK: Int, quantBins: Int, physical: String): Unit = {
    import spark.implicits._
    store.overwrite(
      Seq((nShards, kmvK, topkK, quantBins, physical))
        .toDF("n_shards", "kmv_k", "topk_k", "quant_bins", "physical"),
      metaTable(name))
  }

  /** RAW-batch probe, computed BEFORE any partial build: ONE narrow
    * aggregate over the batch answers the touched cells, the exact
    * key-row count the ingest returns (struct-distinct so null-keyed
    * groups count — `count(distinct k)` would drop them), and an
    * order-independent (count, xor-of-row-hashes) content key over
    * exactly the columns the partial aggregation consumes. The raw
    * projection DETERMINES the partials (same multiset in, same
    * partials out — KMV/quantile sketches are merge-order-independent
    * by construction), so the raw key is at least as discriminating
    * as the former partials-content key — strictly more: the
    * heavy-hitter columns, excluded there because a saturated
    * Misra-Gries serialization is merge-order-dependent, participate
    * here through their raw values. The point of probing RAW is that
    * a REPLAYED batch is recognized before the sketch aggregation is
    * ever built (guide §1.2) — the replay path pays one ids-and-
    * measures scan, not the groupBy+sketch pass.
    */
  private def rawProbe(
      batch: DataFrame, keys: Seq[String], measures: Seq[String],
      distinctMeasures: Seq[String], topkMeasures: Seq[String],
      quantileMeasures: Seq[String], nShards: Int)
      : (Seq[String], String) = {
    val rawCols =
      (keys ++ measures ++ distinctMeasures ++ topkMeasures ++
        quantileMeasures).distinct
    // deliberately NO distinct aggregate here: the probe must stay a
    // single codegen pass with a one-row partial (an exact
    // key-distinct forces an Expand + wide shuffle that measured more
    // expensive than the partial build the probe exists to skip); the
    // returned key-row count comes from the already-persisted partials
    // on the non-replay path instead
    val r = batch.select(cellOf(keys, nShards).as("__cell"),
        xxhash64(rawCols.map(col): _*).as("__h"))
      .agg(collect_set(col("__cell").cast("string")).as("cells"),
        count(lit(1)).as("c"),
        coalesce(expr("bit_xor(__h)"), lit(0L)).as("h")).head()
    (r.getSeq[String](0), s"r${r.getLong(1)}h${r.getLong(2)}")
  }

  /** Create (or reset) the rollup from an initial batch. */
  def init(
      store: TableStore,
      name: String,
      batch: DataFrame,
      keys: Seq[String],
      measures: Seq[String],
      nShards: Int = 64,
      batchId: Option[String] = None,
      distinctMeasures: Seq[String] = Nil,
      kmvK: Int = 256,
      topkMeasures: Seq[String] = Nil,
      topkK: Int = 256,
      quantileMeasures: Seq[String] = Nil,
      quantBins: Int = 512): Unit = {
    val spark = batch.sparkSession
    StoreTxn.fenced(store, name, "init") {
      val bp = partial(batch, keys, measures, nShards, distinctMeasures, kmvK,
        topkMeasures, topkK, quantileMeasures, quantBins)
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val bk = batchId.getOrElse(rawProbe(batch, keys, measures,
          distinctMeasures, topkMeasures, quantileMeasures, nShards)._2)
        // state lands under a GENERATION name first, then the meta row
        // publishes it — a crash in between leaves the rollup simply
        // uninitialized, never half-pointed. The key→shard map must
        // outlive the batch that created it (a later ingest re-hashing
        // with a different shard count would split one key across two
        // cells), and so must the sketch parameter: unioning sketches
        // built at different k silently degrades the larger one — both
        // are state, not call arguments
        val phys = s"${name}__g0"
        store.overwritePartitioned(
          bp.withColumn("last_batch", lit(bk)), phys, "cell")
        writeMeta(store, name, spark, nShards, kmvK, topkK, quantBins, phys)
      } finally bp.unpersist()
    }
  }

  /** Fold a batch into the rollup. Returns the number of key rows
    * merged, or -1 when the batch was recognized as a replay (state
    * untouched). Only the batch's own shards are read and rewritten.
    */
  def ingest(
      store: TableStore,
      name: String,
      batch: DataFrame,
      keys: Seq[String],
      measures: Seq[String],
      batchId: Option[String] = None,
      distinctMeasures: Seq[String] = Nil,
      topkMeasures: Seq[String] = Nil,
      quantileMeasures: Seq[String] = Nil): Long = {
    val rs = resolve(store, name)
    require(store.exists(rs.physical), s"rollup '$name' not initialized")
    StoreTxn.fenced(store, name, "ingest") {
      // ONE single-pass raw aggregate answers the touched cells and
      // the content key, and runs BEFORE the partial build, so a
      // replayed batch skips the whole groupBy+sketch aggregation
      // (formerly built, probed, discarded: the dominant CPU of a
      // replayed ingest).
      val (touched, rawK) = rawProbe(batch, keys, measures,
        distinctMeasures, topkMeasures, quantileMeasures, rs.nShards)
      if (touched.isEmpty) 0L
      else {
        val bk = batchId.getOrElse(rawK)
        val stored = store.read(rs.physical)
          .filter(col("cell").cast("string").isin(touched: _*))
        // replay probe: the rewrite is atomic across the touched shards,
        // so ANY row stamped with this key proves the whole merge landed
        if (stored.filter(col("last_batch") === bk).limit(1).count() > 0) -1L
        else {
          val bp = partial(batch, keys, measures, rs.nShards, distinctMeasures,
            rs.kmvK, topkMeasures, rs.topkK, quantileMeasures, rs.quantBins)
            .persist(StorageLevel.MEMORY_AND_DISK)
          try {
            // the returned key-row count reads the persisted partials —
            // one metadata-cheap job on the non-replay path only
            val keyRows = bp.count()
            val merged = mergePartials(
              stored.drop("last_batch").unionByName(bp), keys, measures,
              distinctMeasures, rs.kmvK, topkMeasures, rs.topkK,
              quantileMeasures, rs.quantBins)
              .withColumn("last_batch", lit(bk))
            store.rewritePartitioned(merged, rs.physical, "cell", touched)
            keyRows
          } finally bp.unpersist()
        }
      }
    }
  }

  /** Re-shard the state onto `newNShards` cells — the capacity
    * actuator: shard count is frozen at [[init]] (the key→cell map is
    * state), so a rollup whose key cardinality outgrew its shards
    * re-hashes EVERY state row (one scan of the state — which is
    * ndv-of-keys-sized, never corpus-sized) into a fresh generation
    * table, then publishes count + generation in the single meta-row
    * overwrite. A crash before the flip leaves the old generation
    * fully live; the orphaned staging table is garbage, not state
    * (the [[graft.similarity.IndexStore.rotateIvf]] discipline).
    *
    * Administrative: run quiescent. A micro-batch replay from BEFORE
    * the reshard is outside the stamp-probe window afterwards (its
    * stamps moved cells with the rows; detection still works whenever
    * the replayed keys co-locate with any stamped row, but the
    * guarantee is the single-writer epoch one — same contract as the
    * shard stamps themselves).
    */
  def reshard(
      store: TableStore,
      name: String,
      keys: Seq[String],
      newNShards: Int): Unit = {
    require(newNShards > 0)
    val rs = resolve(store, name)
    val spark = store.read(rs.physical).sparkSession
    StoreTxn.fenced(store, name, "reshard") {
      val gen = "__g(\\d+)$".r.findFirstMatchIn(rs.physical)
        .map(_.group(1).toInt).getOrElse(0)
      val next = s"${name}__g${gen + 1}"
      val recelled = store.read(rs.physical)
        .drop("cell").withColumn("cell", cellOf(keys, newNShards))
      store.overwritePartitioned(recelled, next, "cell")
      writeMeta(store, name, spark, newNShards, rs.kmvK, rs.topkK, rs.quantBins, next)
    }
  }

  /** The physical state table the logical rollup currently reads —
    * for plan inspection and table-level tooling (compaction, audits).
    */
  def stateTable(store: TableStore, name: String): String =
    resolve(store, name).physical

  /** Whether the rollup is initialized. The meta row is written AFTER
    * the generation-0 state ([[init]]'s publish order), so its
    * presence implies a complete, pointed-at state table — the probe
    * streaming sinks ([[graft.streaming.RollupIngest]]) use to decide
    * init-vs-fold per epoch.
    */
  def exists(store: TableStore, name: String): Boolean =
    store.exists(metaTable(name))

  /** Shard-capacity report — the monitor for [[reshard]]: per-cell
    * state-row counts plus the `grow` flag and the power-of-two shard
    * count that would bring every cell under `targetRowsPerShard`.
    * One column-pruned aggregate of the state table.
    */
  def shardReport(
      store: TableStore,
      name: String,
      targetRowsPerShard: Long = 1L << 20): DataFrame = {
    val rs = resolve(store, name)
    val perCell = store.read(rs.physical)
      .groupBy(col("cell")).agg(count(lit(1)).as("rows"))
    val total = perCell.agg(sum(col("rows"))).head().getLong(0)
    val needed = math.max(rs.nShards,
      java.lang.Long.highestOneBit(
        math.max(1L, (total + targetRowsPerShard - 1) / targetRowsPerShard) * 2 - 1))
    perCell
      .withColumn("action",
        when(col("rows") > targetRowsPerShard, lit("grow")).otherwise(lit("ok")))
      .withColumn("recommended_shards",
        when(col("rows") > targetRowsPerShard, lit(needed.toInt))
          .otherwise(lit(rs.nShards)))
  }

  /** The rollup as a query result: keys + n + per-measure sum/min/max
    * + derived avg_m (sum/n) + ndv_d distinct estimates read out of
    * the sketch state. One scan of the state — the corpus the state
    * summarizes is never touched.
    */
  def finalize(
      store: TableStore,
      name: String,
      measures: Seq[String],
      distinctMeasures: Seq[String] = Nil,
      topkMeasures: Seq[String] = Nil,
      topJ: Int = 10,
      quantileMeasures: Seq[String] = Nil,
      quantiles: Seq[Double] = Seq(0.5)): DataFrame = {
    val rs = resolve(store, name)
    val st = store.read(rs.physical).drop("cell", "last_batch")
    val withAvg = measures.foldLeft(st)((df, m) =>
      df.withColumn(s"avg_$m", col(sumCol(m)) / col("n")))
    val withNdv = distinctMeasures.foldLeft(withAvg)((df, m) =>
      df.withColumn(s"ndv_$m",
        graft.functions.SketchFunctions.kmvEstimate(col(ndvCol(m)), rs.kmvK))
        .drop(ndvCol(m)))
    val withTopk = topkMeasures.foldLeft(withNdv)((df, m) =>
      df.withColumn(s"topk_keys_$m",
          graft.functions.HeavyHitterFunctions.mgTopKeys(col(hhCol(m)), rs.topkK, topJ))
        .withColumn(s"topk_counts_$m",
          graft.functions.HeavyHitterFunctions.mgTopCounts(col(hhCol(m)), rs.topkK, topJ))
        .drop(hhCol(m)))
    quantileMeasures.foldLeft(withTopk)((df, m) =>
      quantiles.foldLeft(df)((d, q) =>
        d.withColumn(s"p${math.round(q * 100)}_$m",
          graft.functions.QuantileFunctions.qQuantile(col(qsCol(m)), q, rs.quantBins)))
        .drop(qsCol(m)))
  }
}
