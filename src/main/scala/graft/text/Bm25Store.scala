package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ops.StoreTxn
import graft.sources.TableStore
import graft.similarity.IndexStore

/** Persisted, incrementally-ingested BM25 index — the text-retrieval
  * twin of the ANN index lifecycle in [[IndexStore]]. Four tables:
  *
  *  - `<name>`          postings (cell, id, term, tf, dl), PARTITIONED
  *                      BY term-hash bucket `cell` so query-time reads
  *                      partition-prune to the query's terms — the
  *                      read-optimized inverted-index layout.
  *  - `<name>__docs`    the doc registry (id, cell) sharded by id
  *                      hash — novelty decisions run through the SAME
  *                      hardened kernel as ANN ingest
  *                      ([[IndexStore.newById]]): an id-bloom sidecar
  *                      makes all-novel batches read zero corpus ids,
  *                      suspects exact-check only their shards.
  *                      (Postings cells are useless for novelty — a
  *                      doc's terms spray ALL buckets — which is
  *                      exactly why the registry is a separate,
  *                      id-sharded table.)
  *  - `<name>__ledger`  one (batch_key, n_docs, n_tokens) row per
  *                      ingested batch, batch_key derived from the
  *                      batch's id set — replay dedups by key, and
  *                      corpus stats (N, avgdl) are ledger sums, never
  *                      a corpus scan.
  *  - `<name>__pending` the in-flight-append marker: the batch key in
  *                      a [[TableStore]] marker slot (a `_HELD` file on
  *                      parquet, a 1-row table on JDBC), held through
  *                      [[graft.ops.StoreTxn.holding]].
  *
  * '''Crash contract''' (single-writer, at-least-once batch replay —
  * the same contract as streaming ANN ingest): the marker is set
  * before any mutation and cleared after the registry commit. A
  * replayed batch that finds the marker runs in RECOVERY mode: its
  * postings anti-join the stored postings on (cell, id, term) — row
  * exact, so partially-renamed files from [[TableStore.appendPartitioned]]'s
  * publish window are completed, never duplicated. That exact check
  * is the only corpus-postings read in the design and it runs only on
  * recovery; the happy path reads O(touched registry shards). The
  * registry commits LAST, so novelty can never be recorded for
  * postings that did not land. Ids are content-stable (the ANN ingest
  * contract): a re-sent id with different text is known and skipped.
  */
object Bm25Store {

  private def registryTable(name: String) = s"${name}__docs"
  private def ledgerTable(name: String) = s"${name}__ledger"
  private def metaTable(name: String) = s"${name}__meta"
  private def pendingTable(name: String) = s"${name}__pending"

  private def bucketOf(term: Column, nBuckets: Int): Column =
    pmod(xxhash64(term), lit(nBuckets.toLong)).cast("int")
  private def shardOf(id: Column, nShards: Int): Column =
    pmod(xxhash64(id), lit(nShards.toLong)).cast("int")

  // fixed control-table schemas: pinned reads skip the plan-time
  // footer-inference job every unpinned parquet directory read pays
  private val MetaSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("n_buckets",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("n_shards",
      org.apache.spark.sql.types.IntegerType)))
  private val LedgerSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("batch_key",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("n_docs",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("n_tokens",
      org.apache.spark.sql.types.LongType)))

  private def readMeta(store: TableStore, name: String): (Int, Int) = {
    require(store.exists(metaTable(name)), s"BM25 index '$name' not created")
    val r = store.read(metaTable(name), MetaSchema).collect().head
    (r.getAs[Int]("n_buckets"), r.getAs[Int]("n_shards"))
  }

  /** Create the index from an initial corpus: meta, first ingest, and
    * the registry's id-bloom sidecar (so every later batch gets the
    * zero-read all-novel fast path). Returns ingested doc count.
    */
  def create(
      store: TableStore,
      name: String,
      docs: DataFrame,
      nBuckets: Int = 64,
      nShards: Int = 64,
      idCol: String = "doc_id",
      textCol: String = "text",
      bloomIdsPerShard: Long = 1L << 20,
      bloomFpp: Double = 0.01): Long = {
    require(nBuckets > 0 && nShards > 0)
    val spark = docs.sparkSession
    import spark.implicits._
    store.overwrite(Seq((nBuckets, nShards)).toDF("n_buckets", "n_shards"), metaTable(name))
    val n = appendDocs(store, name, docs, idCol, textCol)
    if (n > 0)
      IndexStore.buildIdBloom(store, registryTable(name), bloomIdsPerShard, bloomFpp)
    n
  }

  /** Ingest a batch: novel docs (by registry) land their postings and
    * a ledger row; known ids are skipped. Idempotent under batch
    * replay, crash-safe per the protocol above. Returns the novel doc
    * count (0 for a pure replay).
    */
  def appendDocs(
      store: TableStore,
      name: String,
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): Long = {
    val (nBuckets, nShards) = readMeta(store, name)
    val recovering = store.markerHolder(pendingTable(name)).nonEmpty
    // REPLAY PRE-PROBE (guide §1.2): novelty is monotone over id sets
    // — the postings' ids are a subset of the raw batch's ids (an
    // empty-text doc yields no posting), so a batch whose RAW ids are
    // all registry-known cannot contribute a novel doc. One ids-only
    // bounded probe ([[IndexStore.anyNewById]]: a single bloom-
    // negative id decides in one limit-scan) decides the skip BEFORE
    // the tokenization + per-doc aggregate a replayed batch formerly
    // built and threw away. A batch with any novel id falls through
    // and pays exactly the former path (plus this probe).
    if (!recovering && store.exists(registryTable(name))) {
      // no distinct: duplicates cannot change an ANY-novel decision
      val rawIds = docs.select(col(idCol).as("id"))
        .withColumn("cell", shardOf(col("id"), nShards))
      if (!IndexStore.anyNewById(store, registryTable(name), rawIds))
        return 0L
    }
    val post = Bm25.index(docs, idCol, textCol)
      .select(
        bucketOf(col("term"), nBuckets).as("cell"),
        col("doc_id").as("id"), col("term"), col("tf"), col("dl"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val reg = post.select("id").distinct()
        .withColumn("cell", shardOf(col("id"), nShards))
      val fresh =
        (if (!store.exists(registryTable(name))) reg
         else IndexStore.newById(store, registryTable(name), reg))
          .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        // ONE per-doc pass answers BOTH bookkeeping aggregates the
        // ingest needs (guide §1.2): the novel-doc stats (formerly a
        // semi-join count_distinct + sum job) and the batch key over
        // the FULL id set (formerly a second distinct + xor job).
        // `fresh` is distinct by id (registry novelty), so the left
        // join pairs 1:1 — novel markers never multiply rows.
        // batch_key from the FULL batch's id set — stable across
        // replays even when the registry has partially landed.
        // bit_xor: order-independent and overflow-free under ANSI
        val perDoc = post.groupBy(col("id"))
          .agg(coalesce(sum("tf"), lit(0L)).as("__tf_doc"))
        val st = perDoc
          .join(fresh.select(col("id"), lit(1).as("__novel")),
            Seq("id"), "left_outer")
          .agg(
            coalesce(sum(when(col("__novel") === 1, lit(1L))), lit(0L))
              .as("n"),
            coalesce(sum(when(col("__novel") === 1, col("__tf_doc"))),
              lit(0L)).as("t"),
            count(lit(1)).as("c"),
            coalesce(bit_xor(xxhash64(col("id"))), lit(0L)).as("h"))
          .collect().head
        val (nDocs, nTokens) = (st.getAs[Long]("n"), st.getAs[Long]("t"))
        if (nDocs == 0 && !recovering) return 0L
        val batchKey = s"c${st.getAs[Long]("c")}h${st.getAs[Long]("h")}"
        StoreTxn.holding(store, pendingTable(name), batchKey) {
          if (nDocs > 0) {
            val spark = docs.sparkSession
            import spark.implicits._
            store.appendKeyed(
              Seq((batchKey, nDocs, nTokens)).toDF("batch_key", "n_docs", "n_tokens"),
              ledgerTable(name), "batch_key")
            val novelPost = post.join(fresh.select("id"), Seq("id"), "left_semi")
              .select("cell", "id", "term", "tf", "dl")
            // recovery: the one corpus-postings read in the design —
            // row-exact completion of a partially-published append
            val out =
              if (recovering && store.exists(name))
                novelPost.join(
                  store.read(name).select("cell", "id", "term"),
                  Seq("cell", "id", "term"), "left_anti")
              else novelPost
            store.appendPartitioned(out, name, "cell")
            // registry commits LAST: novelty is never recorded for
            // postings that did not land (bloom updates inside, before
            // its rows — the over-approximating safe direction)
            IndexStore.appendKnownNewById(store, registryTable(name), fresh)
          }
        }
        nDocs
      } finally fresh.unpersist()
    } finally post.unpersist()
  }

  /** Corpus stats as ledger sums (never a corpus scan): `n` docs,
    * `avgdl` = total tokens / docs — docs with ≥ 1 token, the only
    * docs BM25 can rank.
    */
  def stats(store: TableStore, name: String): DataFrame =
    store.read(ledgerTable(name), LedgerSchema).agg(
      sum("n_docs").as("n"),
      (sum("n_tokens") / sum("n_docs")).as("avgdl"))

  /** Top-k retrieval from the saved index. The postings scan
    * partition-prunes to the query terms' buckets (the point of the
    * cell layout) before [[Bm25.topKFromIndex]]'s term semi-join and
    * broadcast scoring.
    */
  /** The bucket-pruned postings scan behind [[topK]], exposed
    * pre-checkpoint so specs can assert the partition filter reaches
    * the scan (the checkpoint inside [[Bm25.topKFromIndex]] truncates
    * the visible plan).
    */
  private[graft] def prunedPostings(
      store: TableStore,
      name: String,
      queries: DataFrame,
      qtextCol: String): DataFrame = {
    val (nBuckets, _) = readMeta(store, name)
    val buckets = queries
      .select(explode(TextFunctions.tokens(col(qtextCol))).as("term"))
      .select(bucketOf(col("term"), nBuckets).cast("string").as("b"))
      .distinct().collect().map(_.getString(0)).toSeq
    // string-compared like IndexStore's prunedIds: a cast of the
    // partition attribute is still a partition filter
    store.read(name)
      .filter(col("cell").cast("string").isin(buckets: _*))
      .select(col("id").as("doc_id"), col("term"), col("tf"), col("dl"))
  }

  def topK(
      store: TableStore,
      name: String,
      queries: DataFrame,
      k: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75,
      qidCol: String = "query_id",
      qtextCol: String = "query_text"): DataFrame =
    Bm25.topKFromIndex(
      prunedPostings(store, name, queries, qtextCol),
      stats(store, name), queries, k, k1, b, qidCol, qtextCol)
}
