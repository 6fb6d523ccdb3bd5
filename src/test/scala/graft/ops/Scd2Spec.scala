package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sources.ParquetStore

class Scd2Spec extends SparkSpec {

  private def tmpStore() = new ParquetStore(
    spark, java.nio.file.Files.createTempDirectory("scd2_store").toString)

  private def cust = graft.Tables.customer(spark, sf("customer"))
    .select("c_custkey", "c_mktsegment", "c_acctbal")

  private val keys = Seq("c_custkey")
  private val attrs = Seq("c_mktsegment", "c_acctbal")

  test("three-version lifecycle: history intervals, asOf time travel, current view") {
    val store = tmpStore()
    val v1 = cust
    val v2 = v1.withColumn("c_mktsegment",
      when(pmod(col("c_custkey"), lit(3)) === 0,
        concat(lit("SEG_"), pmod(col("c_custkey"), lit(5))))
        .otherwise(col("c_mktsegment")))
    val v3 = v2.withColumn("c_acctbal",
      when(pmod(col("c_custkey"), lit(4)) === 0, col("c_acctbal") + 10)
        .otherwise(col("c_acctbal")))

    val s1 = Scd2.merge(store, "d", v1, keys, attrs, version = 1, nShards = 8)
    assert(s1 == Scd2.MergeStats(cust.count(), 0, 0))
    val s2 = Scd2.merge(store, "d", v2, keys, attrs, version = 2)
    val nSeg = cust.filter(pmod(col("c_custkey"), lit(3)) === 0).count()
    assert(s2 == Scd2.MergeStats(0, nSeg, cust.count() - nSeg))
    val s3 = Scd2.merge(store, "d", v3, keys, attrs, version = 3)
    val nBal = cust.filter(pmod(col("c_custkey"), lit(4)) === 0).count()
    assert(s3 == Scd2.MergeStats(0, nBal, cust.count() - nBal))

    // asOf each version reproduces that version's snapshot exactly
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("c_custkey", "c_mktsegment", "c_acctbal")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(canon(Scd2.asOf(store, "d", 1)) == canon(v1))
    assert(canon(Scd2.asOf(store, "d", 2)) == canon(v2))
    assert(canon(Scd2.asOf(store, "d", 3)) == canon(v3))
    assert(canon(Scd2.current(store, "d")) == canon(v3))

    // interval bookkeeping: one current row per key; closed rows chain
    val h = Scd2.history(store, "d")
    assert(h.filter(col("is_current")).count() == cust.count())
    assert(h.filter(!col("is_current") && col("valid_to").isNull).count() == 0)
    // a doubly-changed key (%12 == 0) has exactly 3 versions
    val k12 = h.filter(pmod(col("c_custkey"), lit(12)) === 0)
      .groupBy("c_custkey").count().select("count").distinct().collect()
    assert(k12.map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("replaying the same snapshot at the same version changes nothing") {
    val store = tmpStore()
    Scd2.merge(store, "r", cust, keys, attrs, version = 1, nShards = 4)
    val v2 = cust.withColumn("c_acctbal", col("c_acctbal") + 1)
    assert(Scd2.merge(store, "r", v2, keys, attrs, version = 2).changed == cust.count())
    val replay = Scd2.merge(store, "r", v2, keys, attrs, version = 2)
    assert(replay == Scd2.MergeStats(0, 0, cust.count()))
    assert(Scd2.history(store, "r").count() == 2 * cust.count())
  }

  /** Crash between the closed-row append and the current rewrite must
    * heal on replay without duplicating closed rows.
    */
  test("crash between closed append and current rewrite heals on replay") {
    val inner = tmpStore()
    class CrashOnRewrite extends graft.sources.TableStore {
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
      def rewritePartitioned(df: DataFrame, n: String, p: String, sv: Seq[String]): Unit =
        if (n.endsWith("__current"))
          throw new RuntimeException("simulated crash before current rewrite")
        else inner.rewritePartitioned(df, n, p, sv)
      def markerHolder(t: String): Option[String] = inner.markerHolder(t)
      def markerSet(t: String, tok: String): Unit = inner.markerSet(t, tok)
      def markerClear(t: String): Unit = inner.markerClear(t)
    }
    Scd2.merge(inner, "c", cust, keys, attrs, version = 1, nShards = 4)
    val v2 = cust.withColumn("c_mktsegment", lit("CHANGED"))
    intercept[RuntimeException] {
      Scd2.merge(new CrashOnRewrite, "c", v2, keys, attrs, version = 2)
    }
    // closed rows landed, current did not — the torn state
    assert(inner.exists("c__closed"))
    assert(Scd2.current(inner, "c").filter(col("c_mktsegment") === "CHANGED").count() == 0)
    // replay completes; closed rows are NOT duplicated
    val healed = Scd2.merge(inner, "c", v2, keys, attrs, version = 2)
    assert(healed.changed == cust.count())
    assert(inner.read("c__closed").count() == cust.count())
    assert(graft.similarity.IndexStore.duplicateIdAudit(inner, "c__closed").isEmpty)
    val canonCur = Scd2.current(inner, "c")
      .filter(col("c_mktsegment") =!= "CHANGED").count()
    assert(canonCur == 0)
  }

  test("asOfJoin enriches each fact with the version in force at the fact's own version") {
    import spark.implicits._
    val store = tmpStore()
    val small = cust.filter(col("c_custkey") <= 20)
    Scd2.merge(store, "aj", small, keys, attrs, version = 1, nShards = 4)
    val v2 = small.withColumn("c_mktsegment",
      when(col("c_custkey") <= 10, lit("NEWSEG")).otherwise(col("c_mktsegment")))
    Scd2.merge(store, "aj", v2, keys, attrs, version = 2)

    val origSeg = small.select("c_custkey", "c_mktsegment").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val facts = Seq(
      (1L, 1L), (1L, 2L),    // changed key seen at both versions
      (15L, 1L), (15L, 2L),  // unchanged key
      (999999L, 2L),         // key never in the dimension
      (2L, 0L)               // key exists, fact precedes every interval
    ).toDF("c_custkey", "fv")
    val got = Scd2.asOfJoin(store, "aj", facts, keys, "fv").collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (if (r.isNullAt(r.fieldIndex("c_mktsegment"))) null
         else r.getString(r.fieldIndex("c_mktsegment")))).toMap
    assert(got((1L, 1L)) == origSeg(1L)) // as of v1: pre-change segment
    assert(got((1L, 2L)) == "NEWSEG")    // as of v2: post-change
    assert(got((15L, 1L)) == origSeg(15L) && got((15L, 2L)) == origSeg(15L))
    assert(got((999999L, 2L)) == null)   // unknown key: left semantics
    assert(got((2L, 0L)) == null)        // before the key existed: NULL, not dropped
    assert(got.size == 6)                // exactly one row per fact
  }

  test("retire closes current rows, drops them from current, preserves time travel") {
    import spark.implicits._
    val store = tmpStore()
    val v1 = cust
    val v2 = v1.withColumn("c_acctbal", col("c_acctbal") + 1)
    Scd2.merge(store, "rt", v1, keys, attrs, version = 1, nShards = 4)
    Scd2.merge(store, "rt", v2, keys, attrs, version = 2)
    val dead = cust.filter(pmod(col("c_custkey"), lit(7)) === 0)
      .select("c_custkey")
    val nDead = dead.count()

    assert(Scd2.retire(store, "rt", dead, keys, version = 3) == nDead)
    // gone from current, closed at 3 with their v2 state
    assert(Scd2.current(store, "rt").count() == cust.count() - nDead)
    val closed = Scd2.history(store, "rt")
      .filter(col("valid_to") === 3)
    assert(closed.count() == nDead)
    assert(closed.filter(col("valid_from") =!= 2).count() == 0)
    // time travel before the retirement still sees them
    assert(Scd2.asOf(store, "rt", 2).count() == cust.count())
    assert(Scd2.asOf(store, "rt", 3).count() == cust.count() - nDead)

    // replay + retiring an unknown key are no-ops
    assert(Scd2.retire(store, "rt", dead, keys, version = 3) == 0)
    assert(Scd2.retire(store, "rt",
      Seq(999999L).toDF("c_custkey"), keys, version = 3) == 0)
    assert(graft.similarity.IndexStore.duplicateIdAudit(store, "rt__closed").isEmpty)

    // resurrection: a later merge re-introduces a retired key with a
    // fresh interval; the old closed interval is untouched
    val back = cust.filter(col("c_custkey") % 7 === 0)
      .withColumn("c_mktsegment", lit("BACK"))
    val s = Scd2.merge(store, "rt",
      Scd2.current(store, "rt").select("c_custkey", "c_mktsegment", "c_acctbal")
        .unionByName(back.select("c_custkey", "c_mktsegment", "c_acctbal")),
      keys, attrs, version = 4)
    assert(s.inserted == nDead)
    val k7 = Scd2.current(store, "rt")
      .filter(pmod(col("c_custkey"), lit(7)) === 0)
    assert(k7.count() == nDead &&
      k7.filter(col("c_mktsegment") =!= "BACK").count() == 0)
    assert(Scd2.history(store, "rt").filter(col("valid_to") === 3).count() == nDead)
  }

  test("changes: CDF classifies insert / update pre+post / delete per commit version") {
    import spark.implicits._
    val store = tmpStore()
    val small = cust.filter(col("c_custkey") <= 30)
    Scd2.merge(store, "cd", small, keys, attrs, version = 1, nShards = 4)
    val v2 = small.withColumn("c_acctbal",
      when(col("c_custkey") <= 10, col("c_acctbal") + 5)
        .otherwise(col("c_acctbal")))
    Scd2.merge(store, "cd", v2, keys, attrs, version = 2)
    Scd2.retire(store, "cd",
      Seq(15L).toDF("c_custkey"), keys, version = 3)

    val feed = Scd2.changes(store, "cd", keys, fromVersion = 0, toVersion = 3)
    val byType = feed.groupBy("change_type", "commit_version").count()
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val n = small.count()
    val nUpd = small.filter(col("c_custkey") <= 10).count()
    assert(byType(("insert", 1L)) == n)
    assert(byType(("update_preimage", 2L)) == nUpd)
    assert(byType(("update_postimage", 2L)) == nUpd)
    assert(byType(("delete", 3L)) == 1L)
    assert(byType.size == 4)
    // pre/post carry the right states
    val pre = feed.filter(col("change_type") === "update_preimage" &&
      col("c_custkey") === 1).head()
    val post = feed.filter(col("change_type") === "update_postimage" &&
      col("c_custkey") === 1).head()
    assert(post.getDouble(post.fieldIndex("c_acctbal")) ==
      pre.getDouble(pre.fieldIndex("c_acctbal")) + 5)
    // an incremental consumer reading only (2, 3] sees just the delete
    val tail = Scd2.changes(store, "cd", keys, fromVersion = 2, toVersion = 3)
    assert(tail.select("change_type").collect().map(_.getString(0)).toSeq ==
      Seq("delete"))
  }

  test("changes: the version-range filter reaches the history parquet scans") {
    val store = tmpStore()
    val v1 = cust
    val v2 = v1.withColumn("c_acctbal", col("c_acctbal") + 1)
    Scd2.merge(store, "pf", v1, keys, attrs, version = 1, nShards = 4)
    Scd2.merge(store, "pf", v2, keys, attrs, version = 2)
    val p = Scd2.changes(store, "pf", keys, fromVersion = 1, toVersion = 2)
      .queryExecution.executedPlan.toString
    // the incremental-cost claim: an (a,b] read filters BEFORE the
    // open/close join, and the predicate lands in the parquet scan
    assert(p.contains("PushedFilters"), p)
    assert("GreaterThan\\(valid_from,1\\)".r.findFirstIn(p).isDefined, p)
  }

  test("vacuum drops closed intervals at/before the cutoff; current untouched; rerun no-op") {
    val store = tmpStore()
    val v1 = cust
    val v2 = v1.withColumn("c_acctbal", col("c_acctbal") + 1)
    val v3 = v2.withColumn("c_acctbal", col("c_acctbal") + 1)
    Scd2.merge(store, "vc", v1, keys, attrs, version = 1, nShards = 4)
    Scd2.merge(store, "vc", v2, keys, attrs, version = 2)
    Scd2.merge(store, "vc", v3, keys, attrs, version = 3)
    val n = cust.count()
    assert(Scd2.history(store, "vc").count() == 3 * n)

    // drop the [1,2) generation only
    assert(Scd2.vacuum(store, "vc", beforeVersion = 2) == n)
    val h = Scd2.history(store, "vc")
    assert(h.count() == 2 * n)
    assert(h.filter(col("valid_to") === 2).count() == 0)
    assert(h.filter(col("valid_to") === 3).count() == n)
    assert(Scd2.current(store, "vc").count() == n)
    // time travel above the cutoff is intact
    assert(Scd2.asOf(store, "vc", 2).count() == n)
    // rerun finds nothing
    assert(Scd2.vacuum(store, "vc", beforeVersion = 2) == 0)
    assert(Scd2.history(store, "vc").count() == 2 * n)
  }

  test("compact collapses per-merge files; history content identical") {
    val store = tmpStore()
    Scd2.merge(store, "cp", cust, keys, attrs, version = 1, nShards = 4)
    (2 to 5).foreach { v =>
      Scd2.merge(store, "cp",
        cust.withColumn("c_acctbal", col("c_acctbal") + v), keys, attrs, version = v)
    }
    def canon() = Scd2.history(store, "cp")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getLong(3), if (r.isNullAt(4)) -1L else r.getLong(4))).toSet
    val before = canon()
    val files = store.read("cp__current").inputFiles.length
    assert(Scd2.compact(store, "cp") > 0)
    assert(store.read("cp__current").inputFiles.length <= files)
    assert(canon() == before)
  }

  test("merge of a single-key snapshot prunes the current read to its shard") {
    val store = tmpStore()
    Scd2.merge(store, "p", cust, keys, attrs, version = 1, nShards = 8)
    // the merge path itself collects/classifies eagerly; assert the
    // pruning contract on the equivalent stored read
    val one = cust.filter(col("c_custkey") === 7)
      .withColumn("cell", pmod(xxhash64(col("c_custkey")), lit(8L)).cast("int"))
    val cell = one.select(col("cell").cast("string")).head().getString(0)
    val plan = store.read("p__current")
      .filter(col("cell").cast("string").isin(Seq(cell): _*))
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined, plan)
  }
}
