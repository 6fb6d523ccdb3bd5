package graft.similarity

import java.nio.file.Files

import graft.SparkSpec
import graft.sources.ParquetStore
import org.apache.spark.sql.functions._

class IndexStoreSpec extends SparkSpec {

  private def emb = graft.Tables.embeddings(spark, sf("embeddings"))
  private def newStore() =
    new ParquetStore(spark, Files.createTempDirectory("graft_annidx").toString)

  test("IVF index round-trips through the store bit-exact") {
    val fresh = Ivf.build(emb, nLists = 8)
    val store = newStore()
    IndexStore.saveIvf(store, "ivf", fresh)
    val loaded = IndexStore.loadIvf(store, "ivf")

    assert(loaded.centroids.map(_.toSeq).toSeq == fresh.centroids.map(_.toSeq).toSeq)
    val q = emb.filter(col("vec_id") < 10)
    val a = Ivf.topK(loaded, q, k = 5, nProbe = 8).collect().toSet
    val b = Ivf.topK(fresh, q, k = 5, nProbe = 8).collect().toSet
    assert(a == b && a.size == 50)
  }

  test("PQ codebook round-trips: ADC ranking identical") {
    val cb = Pq.train(emb, m = 16, k = 16, maxTrain = 500)
    val store = newStore()
    IndexStore.savePqCodebook(spark, store, "pq", cb)
    val loaded = IndexStore.loadPqCodebook(store, "pq")

    assert(loaded.codebooks.map(_.map(_.toSeq).toSeq).toSeq ==
      cb.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    val q = emb.filter(col("vec_id") < 10)
    assert(Pq.adcTopK(loaded, emb, q, 5).collect().toSet ==
      Pq.adcTopK(cb, emb, q, 5).collect().toSet)
  }

  test("IVF-PQ: held-out batch appends against stored quantizers identically to a one-shot encode") {
    // quantizers train on the initial corpus; the batch arrives later
    val corpus = emb.filter(col("vec_id") < 400)
    val batch = emb.filter(col("vec_id") >= 400)
    val initial = IvfPq.build(corpus, nLists = 8, m = 16, k = 16)
    val store = newStore()
    IndexStore.saveIvfPq(store, "ivfpq", initial)

    val grown = IndexStore.appendIvfPqBatch(store, "ivfpq", batch)

    // the incremental index must equal encoding everything in one shot
    // with the SAME quantizers (per-row deterministic encode)
    val oneShot = initial.copy(encoded = IvfPq.encode(initial.centroids, initial.cb, emb))
    val q = emb.filter(col("vec_id") < 10)
    val a = IvfPq.topK(grown, emb, q, kNeighbors = 5, nProbe = 8).collect().toSet
    val b = IvfPq.topK(oneShot, emb, q, kNeighbors = 5, nProbe = 8).collect().toSet
    assert(a == b && a.size == 50)
    // and the batch's neighbors are findable through the stored index
    val batchHits = IvfPq.topK(grown, emb, emb.filter(col("vec_id") >= 490),
      kNeighbors = 3, nProbe = 8)
    assert(batchHits.count() == 30)
  }

  test("re-appending the same batch is a no-op (idempotent ingest)") {
    val corpus = emb.filter(col("vec_id") < 400)
    val batch = emb.filter(col("vec_id") >= 400)
    val store = newStore()
    IndexStore.saveIvfPq(store, "idem", IvfPq.build(corpus, nLists = 8, m = 16, k = 16))

    // codes is BINARY — compare by value, not Array[Byte] reference
    def rows(ix: IvfPq.Index) = ix.encoded.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getAs[Array[Byte]](2).toSeq)).toSet
    val once = IndexStore.appendIvfPqBatch(store, "idem", batch)
    val rows1 = rows(once)
    val twice = IndexStore.appendIvfPqBatch(store, "idem", batch)
    assert(rows(twice) == rows1)
    assert(rows1.size == 500)
  }

  test("drift report: in-distribution batches sit near ratio 1, shifted batches well above") {
    import spark.implicits._
    val corpus = emb.filter(col("vec_id") < 400)
    val store = newStore()
    val index = IvfPq.build(corpus, nLists = 8, m = 16, k = 16)
    IndexStore.saveIvfPq(store, "drift", index)
    IndexStore.saveCellStats(store, "drift", index, corpus)

    def meanRatio(batch: org.apache.spark.sql.DataFrame): Double =
      IndexStore.driftReport(store, "drift", batch)
        .agg(avg("drift_ratio")).head().getDouble(0)
    // held-out same-distribution batch: quantizers still fit
    val inDist = meanRatio(emb.filter(col("vec_id") >= 400))
    // distribution shift: every component displaced by a constant the
    // residual codebooks never saw → coarse coding, error blows up
    val shifted = meanRatio(
      emb.filter(col("vec_id") >= 400)
        .withColumn("embedding",
          transform(col("embedding"), x => (x + lit(3.0f)).cast("float"))))
    assert(inDist < 5.0, s"in-distribution drift ratio $inDist")
    assert(shifted > 4 * inDist, s"shifted $shifted vs in-dist $inDist")
    // the policy report turns the same shifted batch into a retrain
    // suggestion (drift_ratio above threshold)
    val shiftedBatch = emb.filter(col("vec_id") >= 400)
      .withColumn("embedding",
        transform(col("embedding"), x => (x + lit(3.0f)).cast("float")))
    val rb = IndexStore.rebalanceReport(store, "drift", Some(shiftedBatch))
      .collect()
    assert(rb.exists(_.getAs[String]("action") == "retrain"),
      rb.map(r => (r.getAs[Int]("cell"), r.getAs[String]("action"))).mkString(", "))
    // per-vector error is the exact distortion (non-negative everywhere)
    assert(IvfPq.quantizationError(index.centroids, index.cb, corpus)
      .filter(col("qerr") < -1e-6).isEmpty)
  }

  test("rotateIvfPq: retrain-flagged drift clears after rotation; logical name survives") {
    // VERDICT r6 item #3: rebalanceReport emitted `retrain` with no
    // actuator. The rotation retrains quantizers on the current
    // distribution under a new generation and atomically swaps the
    // logical name, so the SAME name serves queries before and after.
    import spark.implicits._
    val corpus = emb.filter(col("vec_id") < 400)
    val store = newStore()
    val index = IvfPq.build(corpus, nLists = 8, m = 16, k = 16)
    IndexStore.saveIvfPq(store, "rot", index)
    IndexStore.saveCellStats(store, "rot", index, corpus)

    // the incoming distribution shifts: flagged retrain
    val shifted = emb.filter(col("vec_id") >= 400)
      .withColumn("embedding",
        transform(col("embedding"), x => (x + lit(3.0f)).cast("float")))
    assert(IndexStore.rebalanceReport(store, "rot", Some(shifted)).collect()
      .exists(_.getAs[String]("action") == "retrain"))

    // act: retrain on the world as it now is (old corpus + shifted data)
    val world = corpus.unionByName(shifted)
    val rotated = IndexStore.rotateIvfPq(store, "rot", world, nLists = 8, m = 16, k = 16)
    assert(rotated.encoded.count() == 500)

    // the drift that triggered the retrain reads in-distribution now,
    // and the policy report carries no retrain action
    val after = IndexStore.driftReport(store, "rot", shifted)
      .agg(avg("drift_ratio")).head().getDouble(0)
    assert(after < 2.0, s"post-rotation drift ratio $after")
    assert(!IndexStore.rebalanceReport(store, "rot", Some(shifted)).collect()
      .exists(_.getAs[String]("action") == "retrain"))

    // the logical name still serves loads, appends and queries
    val loaded = IndexStore.loadIvfPq(store, "rot")
    assert(loaded.encoded.count() == 500)
    IndexStore.appendIvfPqBatch(store, "rot",
      shifted.withColumn("vec_id", col("vec_id") + lit(1000L)))
    assert(IndexStore.loadIvfPq(store, "rot").encoded.count() == 600)
    // a second rotation moves to generation 2 through the same flip
    IndexStore.rotateIvfPq(store, "rot",
      world.unionByName(shifted.withColumn("vec_id", col("vec_id") + lit(1000L))),
      nLists = 8, m = 16, k = 16)
    assert(IndexStore.resolveIndex(store, "rot").endsWith("__gen_2"))
    assert(IndexStore.loadIvfPq(store, "rot").encoded.count() == 600)
  }

  test("compactIndexTables collapses per-batch files per cell, contents identical") {
    val wh = Files.createTempDirectory("graft_idx_compact").toString
    val store = new ParquetStore(spark, wh)
    IndexStore.saveIvf(store, "ci",
      Ivf.build(emb.filter(col("vec_id") < 200), nLists = 4))
    // three batch appends -> several file sets per touched cell
    (0 until 3).foreach { b =>
      IndexStore.appendIvfBatch(store, "ci",
        emb.filter(col("vec_id") >= 200 + b * 100 && col("vec_id") < 300 + b * 100))
    }
    def cellFiles(): Map[String, Int] = {
      val root = new java.io.File(s"$wh/ci__assigned")
      root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("cell="))
        .map(d => d.getName -> d.list().count(f =>
          !f.startsWith("_") && !f.startsWith("."))).toMap
    }
    assert(cellFiles().values.max >= 2, cellFiles().toString)
    def snapshot() = store.read("ci__assigned")
      .select(col("id"), col("cell").cast("int")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val before = snapshot()
    val n = IndexStore.compactIndexTables(store, "ci", targetFileBytes = 1L << 30)
    assert(n > 0, "nothing compacted")
    assert(cellFiles().values.max == 1, cellFiles().toString)
    assert(snapshot() == before)
    // queries off the compacted index still work
    val loaded = IndexStore.loadIvf(store, "ci")
    assert(Ivf.topK(loaded, emb.filter(col("vec_id") < 5), k = 5, nProbe = 4)
      .count() == 25)
  }

  test("splitIvfCell: only the hot cell's rows move, full probe stays exact") {
    val store = newStore()
    IndexStore.saveIvf(store, "split", Ivf.build(emb, nLists = 4))
    val before = IndexStore.loadIvf(store, "split")
    val hot = before.assigned.groupBy("cell").count()
      .orderBy(col("count").desc, col("cell")).head().getInt(0)
    val others = before.assigned.filter(col("cell") =!= hot)
      .collect().map(r => (r.getLong(0), r.getInt(2))).toSet
    val hotIds = before.assigned.filter(col("cell") === hot)
      .select("id").collect().map(_.getLong(0)).toSet

    val grown = IndexStore.splitIvfCell(store, "split", hot, nSub = 3)
    assert(grown.centroids.length == 6) // 4 - 1 + 3
    val after = grown.assigned.collect().map(r => (r.getLong(0), r.getInt(2)))
    // untouched cells identical; hot rows land only in {hot, 4, 5}
    assert(after.filterNot(r => r._2 == hot || r._2 >= 4).toSet == others)
    val movedIds = after.filter(r => r._2 == hot || r._2 >= 4).map(_._1).toSet
    assert(movedIds == hotIds)
    assert(after.length == emb.count())
    // the oracle invariant: ANY partition of the corpus into cells is
    // exact at full probe
    val q = emb.filter(col("vec_id") < 10)
    val split = Ivf.topK(grown, q, k = 5, nProbe = 6).collect().toSet
    val brute = graft.similarity.Ann.bruteForceTopK(q, emb, k = 5).collect().toSet
    assert(split == brute)
    // a clobber attempt (rows targeting a live unlisted partition) aborts
    // with the table untouched
    val bogus = grown.assigned.filter(col("cell") === hot)
      .withColumn("cell", lit(if (hot == 0) 1 else 0))
    intercept[IllegalStateException] {
      store.rewritePartitioned(bogus, "split__assigned", "cell", Seq(hot.toString))
    }
    assert(store.read("split__assigned").count() == emb.count())
  }

  test("splitIvfPqCell: untouched cells keep their codes, recall preserved") {
    val store = newStore()
    IndexStore.saveIvfPq(store, "psplit", IvfPq.build(emb, nLists = 4, m = 16, k = 16))
    val before = IndexStore.loadIvfPq(store, "psplit")
    val hot = before.encoded.groupBy("cell").count()
      .orderBy(col("count").desc, col("cell")).head().getInt(0)
    def rows(ix: IvfPq.Index) = ix.encoded.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getAs[Array[Byte]](2).toSeq))
    val others = rows(before).filterNot(_._2 == hot).toSet
    val hotIds = rows(before).filter(_._2 == hot).map(_._1).toSet
    val q = emb.filter(col("vec_id") < 20)
    val brute = graft.similarity.Ann.bruteForceTopK(q, emb, k = 5)
    def recall(ix: IvfPq.Index, nProbe: Int) = graft.similarity.Ann
      .recallAgainst(IvfPq.topK(ix, emb, q, kNeighbors = 5, nProbe = nProbe), brute)
      .select("recall_at_k").head().getDouble(0)
    val recallBefore = recall(before, 4)

    val grown = IndexStore.splitIvfPqCell(store, "psplit", hot, nSub = 3, emb)
    assert(grown.centroids.length == 6)
    val after = rows(grown)
    // untouched cells byte-identical (codes included); split rows conserved
    assert(after.filterNot(r => r._2 == hot || r._2 >= 4).toSet == others)
    assert(after.filter(r => r._2 == hot || r._2 >= 4).map(_._1).toSet == hotIds)
    assert(after.length == emb.count())
    // full probe after the split must not lose recall
    assert(recall(grown, 6) >= recallBefore - 0.05,
      s"split degraded recall: ${recall(grown, 6)} vs $recallBefore")
    // a corpus frame missing the cell's vectors aborts before any write
    intercept[IllegalArgumentException] {
      IndexStore.splitIvfPqCell(store, "psplit", hot, 2,
        emb.filter(col("vec_id") < 3))
    }
  }

  /** Delegating store with a crash injected into one operation — the
    * split-recovery specs' harness.
    */
  private class CrashOn(inner: graft.sources.TableStore)(
      crashWhen: (String, String) => Boolean) extends graft.sources.TableStore {
    import org.apache.spark.sql.DataFrame
    private def maybeCrash(op: String, n: String): Unit =
      if (crashWhen(op, n)) throw new RuntimeException(s"simulated crash in $op($n)")
    def spark: org.apache.spark.sql.SparkSession = inner.spark
    def exists(n: String): Boolean = inner.exists(n)
    def read(n: String): DataFrame = inner.read(n)
    def overwrite(df: DataFrame, n: String): Unit = {
      maybeCrash("overwrite", n); inner.overwrite(df, n)
    }
    def overwritePartitioned(df: DataFrame, n: String, p: String): Unit =
      inner.overwritePartitioned(df, n, p)
    def appendKeyed(df: DataFrame, n: String, k: String): Unit =
      inner.appendKeyed(df, n, k)
    def appendPartitioned(df: DataFrame, n: String, p: String): Unit =
      inner.appendPartitioned(df, n, p)
    def rewritePartitioned(df: DataFrame, n: String, p: String, sv: Seq[String]): Unit = {
      maybeCrash("rewrite", n); inner.rewritePartitioned(df, n, p, sv)
    }
    def markerHolder(t: String): Option[String] = inner.markerHolder(t)
    def markerSet(t: String, tok: String): Unit = inner.markerSet(t, tok)
    def markerClear(t: String): Unit = inner.markerClear(t)
  }

  test("split recovery: crash between centroid publish and row rewrite completes, no duplicate centroids") {
    val store = newStore()
    IndexStore.saveIvf(store, "crash", Ivf.build(emb, nLists = 4))
    val hot = IndexStore.loadIvf(store, "crash").assigned.groupBy("cell").count()
      .orderBy(col("count").desc, col("cell")).head().getInt(0)
    // the row rewrite dies AFTER the centroid publish
    intercept[RuntimeException] {
      IndexStore.splitIvfCell(new CrashOn(store)((op, _) => op == "rewrite"),
        "crash", hot, nSub = 3)
    }
    // centroids grown, rows still in the old cell — the ADVICE r5 #1
    // window: a naive re-run would append 2 MORE centroids (8 total)
    assert(IndexStore.loadIvfCentroids(store, "crash").length == 6)
    val grown = IndexStore.splitIvfCell(store, "crash", hot, nSub = 3)
    assert(grown.centroids.length == 6, "re-run appended duplicate centroids")
    assert(grown.assigned.count() == emb.count())
    // no phantom empty duplicate cells: full probe stays exact
    val q = emb.filter(col("vec_id") < 10)
    assert(Ivf.topK(grown, q, k = 5, nProbe = 6).collect().toSet ==
      graft.similarity.Ann.bruteForceTopK(q, emb, k = 5).collect().toSet)
    // state cleared: a further split proceeds normally
    assert(IndexStore.splitIvfCell(store, "crash", hot, nSub = 2)
      .centroids.length == 7)
  }

  test("split recovery: crash before the centroid publish discards the marker, clean restart") {
    val store = newStore()
    IndexStore.saveIvf(store, "crash2", Ivf.build(emb, nLists = 4))
    val hot = IndexStore.loadIvf(store, "crash2").assigned.groupBy("cell").count()
      .orderBy(col("count").desc, col("cell")).head().getInt(0)
    // the centroid publish dies (split state already written)
    intercept[RuntimeException] {
      IndexStore.splitIvfCell(
        new CrashOn(store)((op, n) => op == "overwrite" && n.endsWith("__centroids")),
        "crash2", hot, nSub = 3)
    }
    assert(IndexStore.loadIvfCentroids(store, "crash2").length == 4) // nothing visible
    val grown = IndexStore.splitIvfCell(store, "crash2", hot, nSub = 3)
    assert(grown.centroids.length == 6)
    assert(grown.assigned.count() == emb.count())
  }

  test("split recovery: IVF-PQ crash mid-split resumes with stored sub-centroids and codebooks") {
    val store = newStore()
    IndexStore.saveIvfPq(store, "pcrash", IvfPq.build(emb, nLists = 4, m = 16, k = 16))
    val hot = IndexStore.loadIvfPq(store, "pcrash").encoded.groupBy("cell").count()
      .orderBy(col("count").desc, col("cell")).head().getInt(0)
    intercept[RuntimeException] {
      IndexStore.splitIvfPqCell(new CrashOn(store)((op, _) => op == "rewrite"),
        "pcrash", hot, nSub = 3, emb)
    }
    assert(IndexStore.loadIvfCentroids(store, "pcrash").length == 6)
    val grown = IndexStore.splitIvfPqCell(store, "pcrash", hot, nSub = 3, emb)
    assert(grown.centroids.length == 6, "re-run appended duplicate centroids")
    assert(grown.encoded.count() == emb.count())
  }

  test("split keeps the id-bloom sidecar honest: a batch replayed across the split appends nothing") {
    val store = newStore()
    val corpus = emb.filter(col("vec_id") < 400)
    val batch = emb.filter(col("vec_id") >= 400)
    IndexStore.saveIvf(store, "sbloom", Ivf.build(corpus, nLists = 4))
    IndexStore.buildIdBloom(store, "sbloom__assigned", expectedIdsPerCell = 256, fpp = 0.01)
    IndexStore.appendIvfBatch(store, "sbloom", batch)
    val n = store.read("sbloom__assigned").count()
    assert(n == emb.count())
    val hot = IndexStore.loadIvf(store, "sbloom").assigned.groupBy("cell").count()
      .orderBy(col("count").desc, col("cell")).head().getInt(0)
    IndexStore.splitIvfCell(store, "sbloom", hot, nSub = 3)
    // replay: part of the batch now re-assigns into the fresh sub-cells.
    // Un-maintained, those cells would have NO sidecar row, read as
    // "definitely new", skip the exact check, and append duplicates.
    IndexStore.appendIvfBatch(store, "sbloom", batch)
    assert(store.read("sbloom__assigned").count() == n,
      "replayed batch appended rows across the split")
    assert(IndexStore.duplicateIdAudit(store, "sbloom__assigned").isEmpty)
  }

  test("appendIvfBatch heals an in-flight crashed split before ingesting") {
    val store = newStore()
    IndexStore.saveIvf(store, "heal", Ivf.build(emb, nLists = 4))
    val hot = IndexStore.loadIvf(store, "heal").assigned.groupBy("cell").count()
      .orderBy(col("count").desc, col("cell")).head().getInt(0)
    // die between centroid publish and row rewrite — the window where a
    // replayed id assigns against refined centroids while its landed row
    // still sits in the old cell (empty target partition → phantom novel)
    intercept[RuntimeException] {
      IndexStore.splitIvfCell(new CrashOn(store)((op, _) => op == "rewrite"),
        "heal", hot, nSub = 3)
    }
    val idx = IndexStore.appendIvfBatch(store, "heal", emb) // full replay
    assert(idx.assigned.count() == emb.count(), "replay duplicated rows in the crash window")
    assert(IndexStore.duplicateIdAudit(store, "heal__assigned").isEmpty)
    assert(idx.centroids.length == 6, "the heal did not complete the split")
  }

  test("applyHealthActions grows flagged blooms and the health report clears") {
    val store = newStore()
    IndexStore.saveIvf(store, "act", Ivf.build(emb, nLists = 4))
    // deliberately undersized sidecar → saturated from day one
    IndexStore.buildIdBloom(store, "act__assigned", expectedIdsPerCell = 8, fpp = 0.03)
    // sizeFactor high enough that no size split competes — this test
    // isolates the grow actuator
    val before = IndexStore.indexHealthReport(store, "act", sizeFactor = 100.0)
      .filter(col("action") === "grow").count()
    assert(before > 0, "fixture failed to saturate any bloom")
    val applied = IndexStore.applyHealthActions(store, "act", sizeFactor = 100.0)
    assert(applied.nonEmpty && applied.forall(_._2 == "grow"), applied.toString)
    val after = IndexStore.indexHealthReport(store, "act", sizeFactor = 100.0)
      .filter(col("action") =!= "ok").count()
    assert(after == 0, "health did not clear after the sweep")
  }

  test("applyHealthActions splits the hot cell, capped at maxSplits per sweep") {
    import spark.implicits._
    def blob(start: Long, n: Int, cx: Float, cy: Float) =
      (0 until n).map { i =>
        val jit = (i % 100) * 0.001f
        (start + i, Array(cx + jit, cy - jit, 0f, 0f, jit, 0f, 0f, 0f).toSeq)
      }
    val vecs = (blob(0, 200, 10f, 0f) ++ blob(200, 200, -10f, 0f) ++
      blob(400, 200, 0f, -10f) ++ blob(1000, 100, 100f, 0f) ++
      blob(2000, 100, -100f, 0f) ++ blob(3000, 100, 0f, 100f))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val cens: Array[Array[Float]] = Array(
      Array.fill(8)(0f),
      Array(100f, 0f, 0f, 0f, 0f, 0f, 0f, 0f),
      Array(-100f, 0f, 0f, 0f, 0f, 0f, 0f, 0f),
      Array(0f, 100f, 0f, 0f, 0f, 0f, 0f, 0f))
    val store = newStore()
    IndexStore.saveIvf(store, "acts", Ivf.Index(cens, Ivf.assign(cens, vecs)))
    val applied = IndexStore.applyHealthActions(store, "acts", nSub = 3)
    assert(applied == Seq(0 -> "split"), applied.toString)
    // acted and cleared: the next sweep finds nothing to do
    assert(IndexStore.applyHealthActions(store, "acts", nSub = 3).isEmpty)
    assert(IndexStore.loadIvfCentroids(store, "acts").length == 6)
    // exactness preserved through the actuated split
    val q = vecs.filter(col("vec_id") < 10)
    assert(Ivf.topK(IndexStore.loadIvf(store, "acts"), q, k = 5, nProbe = 6)
      .collect().toSet ==
      graft.similarity.Ann.bruteForceTopK(q, vecs, k = 5).collect().toSet)
  }

  test("rebalanceReport flags the hot cell for split; the post-split report clears it") {
    import spark.implicits._
    // synthetic corpus with a KNOWN hot cell: blob A is 3 tight,
    // well-separated sub-blobs of 200 near the origin; B/C/D are 100
    // points each, far away. Coarse centroids are pinned (no training),
    // so cell 0 deterministically holds 600 of 900 rows.
    def blob(start: Long, n: Int, cx: Float, cy: Float) =
      (0 until n).map { i =>
        val jit = (i % 100) * 0.001f
        (start + i, Array(cx + jit, cy - jit, 0f, 0f, jit, 0f, 0f, 0f).toSeq)
      }
    val vecs = (blob(0, 200, 10f, 0f) ++ blob(200, 200, -10f, 0f) ++
      blob(400, 200, 0f, -10f) ++ blob(1000, 100, 100f, 0f) ++
      blob(2000, 100, -100f, 0f) ++ blob(3000, 100, 0f, 100f))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val cens: Array[Array[Float]] = Array(
      Array.fill(8)(0f),
      Array(100f, 0f, 0f, 0f, 0f, 0f, 0f, 0f),
      Array(-100f, 0f, 0f, 0f, 0f, 0f, 0f, 0f),
      Array(0f, 100f, 0f, 0f, 0f, 0f, 0f, 0f))
    val store = newStore()
    IndexStore.saveIvf(store, "rb", Ivf.Index(cens, Ivf.assign(cens, vecs)))

    val rep = IndexStore.rebalanceReport(store, "rb").collect()
    val flagged = rep.filter(_.getAs[String]("action") == "split")
      .map(_.getAs[Int]("cell")).toSeq
    assert(flagged == Seq(0), s"expected only the hot cell flagged, got $flagged")
    // severity order: the hot cell leads the report
    assert(rep.head.getAs[Int]("cell") == 0)

    // act on the suggestion, then the report clears
    val grown = IndexStore.splitIvfCell(store, "rb", 0, nSub = 3)
    assert(grown.centroids.length == 6)
    val rep2 = IndexStore.rebalanceReport(store, "rb").collect()
    assert(!rep2.exists(_.getAs[String]("action") == "split"),
      rep2.map(r => (r.getAs[Int]("cell"), r.getAs[Long]("n_rows"),
        r.getAs[String]("action"))).mkString(", "))
  }

  test("indexHealthReport: one row per cell across both axes, severity-ranked combined action") {
    import spark.implicits._
    def blob(start: Long, n: Int, cx: Float, cy: Float) =
      (0 until n).map { i =>
        val jit = (i % 100) * 0.001f
        (start + i, Array(cx + jit, cy - jit, 0f, 0f, jit, 0f, 0f, 0f).toSeq)
      }
    val vecs = (blob(0, 200, 10f, 0f) ++ blob(200, 200, -10f, 0f) ++
      blob(400, 200, 0f, -10f) ++ blob(1000, 100, 100f, 0f) ++
      blob(2000, 100, -100f, 0f) ++ blob(3000, 100, 0f, 100f))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val cens: Array[Array[Float]] = Array(
      Array.fill(8)(0f),
      Array(100f, 0f, 0f, 0f, 0f, 0f, 0f, 0f),
      Array(-100f, 0f, 0f, 0f, 0f, 0f, 0f, 0f),
      Array(0f, 100f, 0f, 0f, 0f, 0f, 0f, 0f))
    val store = newStore()
    IndexStore.saveIvf(store, "hl", Ivf.Index(cens, Ivf.assign(cens, vecs)))

    // no sidecar yet: bloom columns NULL, combined action = rebalance axis
    val noBloom = IndexStore.indexHealthReport(store, "hl").collect()
    assert(noBloom.forall(_.isNullAt(noBloom.head.fieldIndex("est_fpp"))))
    assert(noBloom.forall(_.getAs[String]("bloom_action") == "ok"))
    assert(noBloom.head.getAs[Int]("cell") == 0
      && noBloom.head.getAs[String]("action") == "split")

    // an undersized sidecar saturates on the hot cell: the combined
    // action keeps ranking split first, the grow stays visible on its
    // own axis; a small cool cell (100 ids, cap 64) flags plain grow
    IndexStore.buildIdBloom(store, "hl__assigned", expectedIdsPerCell = 64, fpp = 0.03)
    val rep = IndexStore.indexHealthReport(store, "hl").collect()
    val hot = rep.find(_.getAs[Int]("cell") == 0).get
    assert(hot.getAs[String]("rebalance_action") == "split")
    assert(hot.getAs[String]("bloom_action") == "grow")
    assert(hot.getAs[String]("action") == "split")
    val cool = rep.find(_.getAs[Int]("cell") == 1).get
    assert(cool.getAs[String]("rebalance_action") == "ok")
    assert(cool.getAs[String]("bloom_action") == "grow")
    assert(cool.getAs[String]("action") == "grow")
    // acting on both axes clears the report to all-ok
    IndexStore.splitIvfCell(store, "hl", 0, nSub = 3)
    IndexStore.growCellBlooms(store, "hl__assigned")
    val rep2 = IndexStore.indexHealthReport(store, "hl").collect()
    assert(rep2.forall(_.getAs[String]("action") == "ok"),
      rep2.map(r => (r.getAs[Int]("cell"), r.getAs[String]("action"))).mkString(", "))
  }

  test("ingest anti-join prunes the corpus id scan to the batch's cells") {
    val store = newStore()
    IndexStore.saveIvf(store, "prune", Ivf.build(emb, nLists = 8))
    val cens = IndexStore.loadIvfCentroids(store, "prune")
    // a one-vector batch touches exactly one cell; the anti-join's
    // corpus side must scan only that cell's partition
    val batch = Ivf.assign(cens, emb.filter(col("vec_id") === 0))
    val fresh = IndexStore.newById(store, "prune__assigned", batch)
    val plan = fresh.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined, plan)
    // the whole batch is already present -> nothing fresh, even though
    // the corpus side read one partition
    assert(fresh.isEmpty)
    // and a genuinely new id in the same cell still comes through
    val newRow = batch.withColumn("id", col("id") + lit(100000L))
    assert(IndexStore.newById(store, "prune__assigned", newRow).count() == 1)
  }

  test("id-bloom sidecar: all-novel batches skip the corpus id scan entirely; dedup still exact") {
    val store = newStore()
    val corpus = emb.filter(col("vec_id") < 400)
    IndexStore.saveIvf(store, "bl", Ivf.build(corpus, nLists = 8))
    IndexStore.buildIdBloom(store, "bl__assigned",
      expectedIdsPerCell = 4096, fpp = 0.01)
    val cens = IndexStore.loadIvfCentroids(store, "bl")

    // batch of 50 new + 50 already-ingested ids: suspects exact-check,
    // novels pass — table must equal a fresh one-shot assignment
    val mixed = Ivf.assign(cens,
      emb.filter(col("vec_id") >= 350 && col("vec_id") < 450))
    val plan1 = IndexStore.newById(store, "bl__assigned", mixed)
      .queryExecution.executedPlan.toString
    assert(plan1.contains("bl__assigned"), plan1) // suspects do read the corpus
    IndexStore.appendIvfBatch(store, "bl",
      emb.filter(col("vec_id") >= 350 && col("vec_id") < 450))
    def ids() = store.read("bl__assigned").select("id").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(ids() == (0L until 450L))

    // replay is still a no-op (blooms mark all ids suspect -> anti-join)
    IndexStore.appendIvfBatch(store, "bl",
      emb.filter(col("vec_id") >= 350 && col("vec_id") < 450))
    assert(ids() == (0L until 450L))

    // an ALL-NOVEL batch: the returned plan contains NO scan of the
    // corpus table at all — zero corpus id reads for novel streams
    val novel = Ivf.assign(cens, emb.filter(col("vec_id") >= 450))
    val fresh = IndexStore.newById(store, "bl__assigned", novel)
    val plan2 = fresh.queryExecution.executedPlan.toString
    assert(!plan2.contains("bl__assigned"), plan2)
    assert(fresh.count() == 50)
    IndexStore.appendIvfBatch(store, "bl", emb.filter(col("vec_id") >= 450))
    assert(ids() == (0L until 500L))

    // sidecar bookkeeping followed the appends
    val n = store.read("bl__assigned__idbloom")
      .agg(sum(col("n_ids"))).head().getLong(0)
    assert(n == 500L, s"sidecar counts $n")
    // and queries through the grown index still see everything
    val loaded = IndexStore.loadIvf(store, "bl")
    assert(Ivf.topK(loaded, emb.filter(col("vec_id") < 5), k = 5, nProbe = 8)
      .count() == 25)
  }

  test("wide batch across 600 cells: probe stays executor-side, dedup exact, audit clean") {
    // VERDICT r6 item #2: a bulk backfill spraying hundreds of cells
    // must not aggregate bloom bytes on the driver — the probe joins
    // each row against ITS cell's sidecar bloom where the row sits.
    import spark.implicits._
    val nCells = 600
    def rows(ids: Range) = ids
      .map(i => (i.toLong, Seq(i.toFloat, 1f), i % nCells))
      .toDF("id", "vec", "cell")
      .select(col("id"), col("vec").cast("array<float>").as("vec"), col("cell"))
    val store = newStore()
    store.overwritePartitioned(rows(0 until 1200), "wide__assigned", "cell")
    IndexStore.buildIdBloom(store, "wide__assigned", expectedIdsPerCell = 64, fpp = 0.03)

    // 600 already-ingested ids (all suspects) + 600 novel, one per cell
    val batch = rows(600 until 1800)
    // the probe's plan SCANS the sidecar (joined where the rows are)
    // instead of collapsing it into a driver-built literal — asserted
    // on the pre-pinning probe frame (newById checkpoints it so the
    // bloom join runs once, not once per downstream branch)
    val cells = batch.select("cell").distinct()
      .collect().map(r => String.valueOf(r.get(0))).toSeq
    val probePlan = IndexStore.bloomTagged(store, "wide__assigned", batch, cells)
      .queryExecution.executedPlan.toString
    assert(probePlan.contains("idbloom"), probePlan)
    assert(probePlan.contains("cell_bloom_might_contain"), probePlan)

    IndexStore.appendNewById(store, "wide__assigned", batch)
    def ids() = store.read("wide__assigned").select("id").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(ids() == (0L until 1800L))
    // replay of the wide batch is a no-op
    IndexStore.appendNewById(store, "wide__assigned", batch)
    assert(ids() == (0L until 1800L))
    assert(IndexStore.duplicateIdAudit(store, "wide__assigned").isEmpty)
  }

  test("sidecar update respects per-cell bloom parameters: a divergent cell merges, never torn down") {
    // ADVICE r6 follow-through: add-blooms now build with EACH CELL'S
    // stored (capacity, num_bits), so a cell whose declared parameters
    // differ from the sidecar's head (a partial rebuild, or a cell
    // grown by growCellBlooms) merges compatibly and KEEPS its size —
    // the add is never dropped (under-approximation re-appends landed
    // ids), the row never deleted (missing row reads as "no prior
    // ids"), and the parameters never clobbered back to the head's.
    import spark.implicits._
    def rows(ids: Range) = ids.map(i => (i.toLong, Seq(i.toFloat), i % 4))
      .toDF("id", "vec", "cell")
      .select(col("id"), col("vec").cast("array<float>").as("vec"), col("cell"))
    val store = newStore()
    store.overwritePartitioned(rows(0 until 100), "mix__assigned", "cell")
    IndexStore.buildIdBloom(store, "mix__assigned", expectedIdsPerCell = 256, fpp = 0.01)

    // replace cell 0's row with a bloom on DIFFERENT declared
    // (capacity, num_bits) that still holds the cell's landed ids
    val foreign = org.apache.spark.util.sketch.BloomFilter.create(32L, 192L)
    (0 until 100 by 4).foreach(i => foreign.putLong(
      spark.sql(s"SELECT xxhash64(CAST($i AS BIGINT))").head().getLong(0)))
    val bos = new java.io.ByteArrayOutputStream()
    foreign.writeTo(bos)
    store.rewritePartitioned(
      Seq((0, 25L, bos.toByteArray, 32L, foreign.bitSize()))
        .toDF("cell", "n_ids", "bloom", "capacity", "num_bits"),
      "mix__assigned__idbloom", "cell", Seq("0"))

    // a batch landing fresh rows in ALL cells (incl. the divergent one)
    val batch = rows(80 until 140) // 20 replayed + 40 novel
    IndexStore.appendNewById(store, "mix__assigned", batch)
    def ids() = store.read("mix__assigned").select("id").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(ids() == (0L until 140L))
    // the divergent cell kept its own parameters (no head tear-down)
    val kept = store.read("mix__assigned__idbloom")
      .filter(col("cell").cast("int") === 0)
      .select("capacity").head().getLong(0)
    assert(kept == 32L, s"cell 0 params clobbered to $kept")
    // and the merged bloom still dedups: replay is a no-op
    IndexStore.appendNewById(store, "mix__assigned", batch)
    assert(ids() == (0L until 140L))
  }

  test("bloom health flags a saturating cell; growCellBlooms doubles it; updates keep the grown size") {
    // the monitor→policy→actuator triple on the sidecar-efficiency
    // axis: est_fpp past threshold → grow → report clears — and the
    // grown cell's larger filter SURVIVES later batch updates (the
    // per-parameter-group add path), completing TODO r6 #3.
    import spark.implicits._
    def rows(ids: Range, cellOf: Int => Int) = ids
      .map(i => (i.toLong, Seq(i.toFloat), cellOf(i)))
      .toDF("id", "vec", "cell")
      .select(col("id"), col("vec").cast("array<float>").as("vec"), col("cell"))
    val store = newStore()
    // skew: cell 0 holds 240 ids (3.75x its 64 capacity), cells 1-3 hold 20
    store.overwritePartitioned(
      rows(0 until 300, i => if (i < 240) 0 else 1 + i % 3), "sat__assigned", "cell")
    IndexStore.buildIdBloom(store, "sat__assigned", expectedIdsPerCell = 64, fpp = 0.03)
    // pin the bit size the q_ann_bloom_health oracle embeds as a literal
    assert(org.apache.spark.util.sketch.BloomFilter.create(64, 0.03).bitSize() == 512L)

    val report = IndexStore.bloomHealthReport(store, "sat__assigned")
      .collect().map(r => r.getInt(0) -> r.getString(6)).toMap
    assert(report == Map(0 -> "grow", 1 -> "ok", 2 -> "ok", 3 -> "ok"), report)

    assert(IndexStore.growCellBlooms(store, "sat__assigned") == Seq(0))
    val caps = store.read("sat__assigned__idbloom")
      .select(col("cell").cast("int"), col("capacity")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(caps == Map(0 -> 480L, 1 -> 64L, 2 -> 64L, 3 -> 64L), caps) // max(2*240, 2*64)
    // post-grow report is clean, and re-growing is a no-op
    assert(IndexStore.bloomHealthReport(store, "sat__assigned")
      .filter(col("action") === "grow").isEmpty)
    assert(IndexStore.growCellBlooms(store, "sat__assigned").isEmpty)

    // a later batch landing FRESH rows in both the grown cell (novel
    // ids 300-309) and un-grown cells (310-319), replayed ids keeping
    // their original cells (content-stable contract): dedup stays
    // exact, replay a no-op, and cell 0 KEEPS its grown capacity
    val batch = rows(230 until 320,
      i => if (i < 240 || (i >= 300 && i < 310)) 0 else 1 + i % 3)
    IndexStore.appendNewById(store, "sat__assigned", batch)
    def ids() = store.read("sat__assigned").select("id").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(ids() == (0L until 320L))
    IndexStore.appendNewById(store, "sat__assigned", batch)
    assert(ids() == (0L until 320L))
    assert(IndexStore.duplicateIdAudit(store, "sat__assigned").isEmpty)
    val after = store.read("sat__assigned__idbloom")
      .select(col("cell").cast("int"), col("capacity")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(after(0) == 480L, s"grown cell torn down: $after")
    assert(after(1) == 64L)
  }

  test("IVF incremental append covers the batch without touching existing assignments") {
    val corpus = emb.filter(col("vec_id") < 450)
    val batch = emb.filter(col("vec_id") >= 450)
    val store = newStore()
    val initial = Ivf.build(corpus, nLists = 8)
    IndexStore.saveIvf(store, "ivf_inc", initial)
    val before = IndexStore.loadIvf(store, "ivf_inc").assigned.collect().toSet

    val grown = IndexStore.appendIvfBatch(store, "ivf_inc", batch)
    val after = grown.assigned.collect().toSet
    assert(after.size == 500)
    assert(before.subsetOf(after)) // existing rows byte-identical
    // batch rows got the same cells a fresh assignment would give
    val freshBatch = Ivf.assign(initial.centroids, batch).collect().toSet
    assert(freshBatch.subsetOf(after))
  }
}
