package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Metric names; `BENCHMARK.json` lists the same ones. */
object Metrics {
  /** Gated end to end. Tails, refresh and load timings are in the
    * report line: a run holds too few samples of them to be steady.
    */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "commit_s.p50" -> "s", "query_s.p50" -> "s",
    "rows_per_s" -> "rows/s", "storage_amp" -> "ratio")

  /** Spans opened around calls into the program, `<layer>.<call>`. */
  val spans: Seq[String] = Seq(
    "etl.run", "etl.rollup",
    "store.read", "store.overwrite", "store.appendKeyed", "store.appendPartitioned",
    "store.marker", "store.rewritePartitioned",
    "dblog.transact", "dbmv.refreshStar.lag1", "dbmv.refreshStar.lag5",
    "dbmv.readStar", "dblog.changes",
    "txlog.upsert", "txlog.delete", "txlog.snapshotPruned", "txlog.asOf",
    "txlog.changes", "joinmv.followStar", "compact.binPack")

  /** The spans whose peak execution memory is reported. */
  val heavy: Seq[String] = Seq("etl.run", "dbmv.refreshStar.lag5", "joinmv.followStar")

  val fields: Seq[(String, String)] = Seq(".s" -> "s", ".jobs" -> "count",
    ".tasks" -> "count", ".input_bytes" -> "B", ".shuffle_bytes" -> "B",
    ".spill_bytes" -> "B")

  val ratios: Seq[String] = Seq("etl.novel_ratio", "txlog.snapshotPruned.files_ratio",
    "storage.write_amp")

  val perLayer: Seq[(String, String)] =
    spans.flatMap(s => fields.map { case (f, u) => (s + f, u) }) ++
      heavy.map(s => (s + ".peak_exec_mem", "B")) ++ ratios.map(_ -> "ratio")
}

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
    size: Size, work: String, out: String, genOnly: Option[String], steps: Int)

object Main {
  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val w = need("workload")
    require(Workloads.names.contains(w), s"unknown workload '$w'")
    Opts(w, need("seed").toLong, m.getOrElse("seconds", "10").toInt,
      m.getOrElse("trace", "0") == "1", Size(m.getOrElse("size", "default")),
      m.getOrElse("work", ".bench_work/run"), m.getOrElse("out", ".bench_out"),
      m.get("gen-only"), m.getOrElse("steps", "3").toInt)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    o.genOnly match {
      case Some(dir) => GenDump.write(o.workload, o.seed, o.size, o.steps, dir)
      case None => bench(o)
    }
  }

  private def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    spark
  }

  private def timing(xs: Seq[Double]): String =
    if (xs.isEmpty) "null"
    else {
      val (t, pct, n) = Stats.tail(xs)
      Json.obj(Seq("p50" -> Json.num(Stats.p50(xs)), "tail" -> Json.num(t),
        "tail_pct" -> Json.num(pct), "n" -> n.toString))
    }

  private def bench(o: Opts): Unit = {
    val spark = session(o.work)
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val tracer = new Tracer
    val warm = new Run(tracer, accountWrites = false)

    // generate and seed-load several times, each in a fresh root, and
    // keep the last; then warm it up with untimed steps. Set-up time is
    // session start + the median seed load + the warm-up.
    val setups = mutable.ArrayBuffer.empty[Double]
    var w: Workload = null
    (0 until o.size.setupReps).foreach { i =>
      if (w != null) Disk.deleteTree(s"${o.work}/rep${i - 1}")
      val t0 = System.nanoTime()
      w = Workloads(o.workload, spark, s"${o.work}/rep$i", o.seed, o.size, tracer)
      w.prepare(warm)
      setups += (System.nanoTime() - t0) / 1e9
    }
    val t0 = System.nanoTime()
    (0 until w.warmSteps).foreach(_ => w.step(warm))
    val warmS = (System.nanoTime() - t0) / 1e9
    val setupS = sessionS + Stats.median(setups.toSeq) + warmS

    val listener = new JobListener
    if (o.trace) {
      spark.sparkContext.addSparkListener(listener)
      tracer.enabled = true
    }
    val run = new Run(tracer, accountWrites = o.trace)
    // closed loop, one client: the next op starts when the last ends
    val cycles = math.max(1L, math.round(o.seconds / w.nominalCycleS))
    (0L until cycles * w.cycleOps).foreach(_ => w.step(run))
    tracer.enabled = false
    w.finish(run)

    val stored = Disk.size(w.storageRoot)
    val failed = run.failed + warm.failed
    val correct = failed == 0 && run.attempted > 0
    val commit = run.samples("commit").toSeq
    val query = run.samples("query").toSeq
    val refresh = run.samples("refresh").toSeq
    val endToEnd: Map[String, Double] = Map(
      "setup_s" -> setupS,
      "commit_s.p50" -> Stats.p50(commit), "query_s.p50" -> Stats.p50(query),
      "rows_per_s" -> run.rowsCommitted / run.timedS,
      "storage_amp" -> stored.toDouble / w.userBytes)

    val report = mutable.ArrayBuffer[(String, String)](
      "workload" -> Json.str(o.workload), "seed" -> o.seed.toString,
      "size" -> Json.str(o.size.name), "seconds" -> o.seconds.toString,
      "trace" -> (if (o.trace) "1" else "0"),
      "cores" -> Runtime.getRuntime.availableProcessors.toString,
      "session_s" -> Json.num(sessionS),
      "seed_load_reps_s" -> setups.map(Json.num).mkString("[", ", ", "]"),
      "warm_up_s" -> Json.num(warmS),
      "commit_s" -> timing(commit), "query_s" -> timing(query),
      "refresh_s" -> timing(refresh)) ++
      run.extra.map { case (k, v) => k -> timing(v.toSeq) }
    report += "span_samples_s" -> Json.obj(run.bySpan.toSeq.map { case (k, v) =>
      k -> v.map(Json.num).mkString("[", ", ", "]") })
    report ++= Seq(
      "cycles" -> cycles.toString,
      "rows_committed" -> run.rowsCommitted.toString, "timed_s" -> Json.num(run.timedS),
      "stored_bytes" -> stored.toString, "user_bytes" -> w.userBytes.toString,
      "attempted" -> run.attempted.toString, "failed" -> failed.toString,
      "fail_ratio" -> Json.num(failed.toDouble / math.max(1L, run.attempted)),
      "failures" -> (warm.failureMessages ++ run.failureMessages).take(20)
        .map(Json.str).mkString("[", ", ", "]"))

    Files.createDirectories(Paths.get(o.out))
    val tag = s"${o.workload}-s${o.seed}-${o.size.name}"
    val untracedFile = Paths.get(o.out, s"$tag-untraced.json")
    val metrics: Seq[(String, String, Double)] =
      if (!o.trace) Metrics.endToEnd.map { case (n, u) => (n, u, endToEnd(n)) }
      else {
        org.apache.spark.perfbench.ListenerBusDrain(spark.sparkContext)
        val spans = tracer.spans
        val (tot, outside) = Attribution.totals(spans, listener.jobs)
        SpanDump.write(Paths.get(o.out, s"$tag-spans.jsonl"), spans, listener.jobs)
        report += "jobs_outside_spans" -> outside.length.toString
        if (Files.exists(untracedFile)) {
          val before = new String(Files.readAllBytes(untracedFile), "UTF-8").trim.toDouble
          val now = run.timedS / math.max(1L, run.attempted)
          report += "trace_overhead" -> Json.obj(Seq(
            "mean_op_s_untraced" -> Json.num(before), "mean_op_s_traced" -> Json.num(now),
            "ratio" -> Json.num(now / before)))
        }
        def perCall(s: String, f: LayerTotals => Double): Double =
          tot.get(s).filter(_.calls > 0).map(t => f(t) / t.calls).getOrElse(0.0)
        val layer = Metrics.spans.flatMap { s =>
          Seq(".s" -> perCall(s, _.selfS), ".jobs" -> perCall(s, _.jobs.toDouble),
            ".tasks" -> perCall(s, _.tasks.toDouble),
            ".input_bytes" -> perCall(s, _.inputBytes.toDouble),
            ".shuffle_bytes" -> perCall(s, _.shuffleBytes.toDouble),
            ".spill_bytes" -> perCall(s, _.spillBytes.toDouble)).map {
            case (f, v) => (s + f, v) }
        }.toMap ++ Metrics.heavy.map(s =>
          s + ".peak_exec_mem" -> tot.get(s).map(_.peakExecMem.toDouble).getOrElse(0.0)) ++
          Map(
            "etl.novel_ratio" -> ratio(run.appended, run.offered),
            "txlog.snapshotPruned.files_ratio" -> ratio(run.prunedFiles, run.prunedLive),
            "storage.write_amp" -> ratio(run.bytesWritten, run.bytesWrittenUser))
        report += "calls" -> Json.obj(Metrics.spans.map(s =>
          s -> tot.get(s).map(_.calls).getOrElse(0L).toString))
        Metrics.perLayer.map { case (n, u) => (n, u, layer(n)) }
      }
    if (!o.trace)
      Files.write(untracedFile, Json.num(run.timedS / math.max(1L, run.attempted)).getBytes("UTF-8"))

    spark.stop()
    println("PERFBENCH_REPORT " + Json.obj(report.toSeq))
    println("PERFBENCH_RESULT " + Json.obj(Seq(
      "correct" -> correct.toString, "attempted" -> run.attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, u, v) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }))))
    System.out.flush()
  }

  private def ratio(a: Long, b: Long): Double = if (b == 0) 0.0 else a.toDouble / b
}

/** Spans and jobs, one JSON object per line, written at exit. */
object SpanDump {
  def write(path: java.nio.file.Path, spans: Seq[Span], jobs: Seq[(Long, JobCost)]): Unit = {
    val (self, charged, _) = Attribution.attribute(spans, jobs)
    val lines = spans.map { s =>
      val js = charged.getOrElse(s.id, Nil)
      Json.obj(Seq("id" -> s.id.toString, "name" -> Json.str(s.name),
        "parent" -> s.parent.toString, "op" -> s.op.toString,
        "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
        "dur_s" -> Json.num(s.seconds), "self_s" -> Json.num(self(s.id)),
        "jobs" -> js.length.toString, "tasks" -> js.map(_.tasks).sum.toString,
        "input_bytes" -> js.map(_.inputBytes).sum.toString,
        "shuffle_bytes" -> js.map(_.shuffleBytes).sum.toString,
        "spill_bytes" -> js.map(_.spillBytes).sum.toString,
        "peak_exec_mem" -> js.map(_.peakExecMem).maxOption.getOrElse(0L).toString))
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** `--gen-only DIR`: write what the generator hands the program for the
  * seed and the first `steps` steps, without starting Spark.
  */
object GenDump {
  def write(workload: String, seed: Long, size: Size, steps: Int, dir: String): Unit = {
    def put(name: String, body: String) = Workloads.write(s"$dir/$name", body)
    workload match {
      case "daily_etl" =>
        val g = new EtlGen(seed, size)
        (0 to steps).foreach { d =>
          val day = g.day(d)
          put(f"day_$d%04d/drivers.csv", day.drivers)
          put(f"day_$d%04d/cars.csv", day.cars)
          put(f"day_$d%04d/logbook.csv", day.logbook)
        }
      case "star_refresh" =>
        val g = new StarGen(seed, size)
        put("seed.txt", StarTxn("seed", g.seedFact, Nil, g.seedCust, g.seedNat).script)
        put("txns.txt", (1 to steps).map(_ => g.next().script).mkString)
      case "log_mixed" =>
        val g = new LogGen(seed, size)
        put("seed.txt", LogUpsert("seed", g.seedFact, g.seedDim).script)
        put("ops.txt", (1 to steps).map(_ => g.next().script).mkString)
    }
  }
}
