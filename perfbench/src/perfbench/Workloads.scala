package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.EmissionEtl
import graft.ops.{Compact, DbLog, DbMv, DeleteWhere, JoinMv, TxLog, UpsertWhere}
import graft.sources.ParquetStore

/** One workload: seeded inputs, a seed load, and a fixed schedule of
  * ops, issued one per [[step]] through [[Run.op]] with their outputs
  * checked.
  */
trait Workload {
  /** Directory holding everything the program stores (storage_amp). */
  def storageRoot: String
  /** Generated user bytes handed to the program so far. */
  def userBytes: Long
  def prepare(run: Run): Unit
  /** The ops of the schedule's next cycle. */
  protected def cycle(): Seq[Run => Unit]
  /** Ops in one cycle. */
  def cycleOps: Int
  /** One cycle's duration on the reference machine (4 cores). It sizes
    * the measured work, never the stopping time: a run of `--seconds`
    * measures round(seconds / nominal) whole cycles, so every run, on
    * any machine, measures the same ops.
    */
  def nominalCycleS: Double
  def finish(run: Run): Unit
  /** Untimed warm-up ops. */
  def warmSteps: Int

  private val pending = scala.collection.mutable.Queue.empty[Run => Unit]

  final def step(run: Run): Unit = {
    if (pending.isEmpty) pending ++= cycle()
    pending.dequeue()(run)
  }
}

object Workloads {
  val names: Seq[String] = Seq("daily_etl", "star_refresh", "log_mixed")

  def apply(name: String, spark: SparkSession, root: String, seed: Long,
      size: Size, tr: Tracer): Workload = name match {
    case "daily_etl" => new DailyEtl(spark, root, seed, size, tr)
    case "star_refresh" => new StarRefresh(spark, root, seed, size, tr)
    case "log_mixed" => new LogMixed(spark, root, seed, size, tr)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b))

  def sameTotals[K](got: Map[K, Double], want: collection.Map[K, Double]): Boolean =
    got.keySet == want.keySet && got.forall { case (k, v) => close(v, want(k)) }

  def write(path: String, body: String): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.write(p, body.getBytes(StandardCharsets.UTF_8))
  }
}

/** The paper's batch: one `EmissionEtl.run` per generated day on a
  * ParquetStore warehouse, then the three headline rollups.
  */
final class DailyEtl(spark: SparkSession, root: String, seed: Long, size: Size,
    tr: Tracer) extends Workload {
  import Workloads._
  private val gen = new EtlGen(seed, size)
  private val wh = s"$root/warehouse"
  private val etl = new EmissionEtl(spark, wh,
    storeOpt = Some(new TracedStore(new ParquetStore(spark, wh), tr)))
  private var day = -1
  private var last: (String, String, String) = _
  var userBytes = 0L
  def storageRoot: String = wh

  private def load(run: Run): Unit = {
    day += 1
    val d = gen.day(day)
    val dir = f"$root/feeds/day_$day%04d"
    write(s"$dir/drivers.csv", d.drivers)
    write(s"$dir/cars.csv", d.cars)
    write(s"$dir/logbook.csv", d.logbook)
    last = (s"$dir/drivers.csv", s"$dir/cars.csv", s"$dir/logbook.csv")
    userBytes += d.bytes
    run.offered += d.offeredRows
    val want = Map("drivers" -> d.novelDrivers, "cars" -> d.novelCars,
      "country" -> d.novelCountries, "city" -> d.novelCities,
      "car_driver_log" -> d.novelTrips)
    run.op("commit", "etl.run", rows = d.expectedAppends, userBytes = d.bytes,
        root = Some(wh), also = Seq("load_s")) {
      etl.run(last._1, last._2, last._3)
    }.foreach { got =>
      run.appended += got.values.sum
      run.check(s"day $day appends $want, got $got")(got == want)
    }
  }

  private def byBrand(run: Run): Unit =
    run.op("query", "etl.rollup")(etl.emissionByBrand().collect()).foreach { rows =>
      run.check(s"day $day emission by brand")(sameTotals(
        rows.map(r => r.getString(0) -> r.getDouble(1)).toMap, gen.byBrand))
    }

  private def byCar(run: Run): Unit =
    run.op("query", "etl.rollup")(etl.emissionByCar().collect()).foreach { rows =>
      run.check(s"day $day emission by car")(rows.length == gen.byCar.size &&
        close(rows.map(_.getDouble(1)).sum, gen.byCar.values.sum))
    }

  private def byDriver(run: Run): Unit =
    run.op("query", "etl.rollup")(etl.emissionByDriver().collect()).foreach { rows =>
      run.check(s"day $day emission by driver")(sameTotals(
        rows.map(r => (r.getString(1), r.getString(2)) -> r.getDouble(3)).toMap,
        gen.byDriver))
    }

  def prepare(run: Run): Unit = load(run)

  /** One day: its load, then the three rollups, asked twice (a
    * dashboard's first view and a refresh of it).
    */
  protected def cycle(): Seq[Run => Unit] =
    Seq(load, byBrand, byCar, byDriver, byBrand, byCar, byDriver)
  def warmSteps: Int = 7
  def cycleOps: Int = 7
  def nominalCycleS: Double = 3.8

  def finish(run: Run): Unit = {
    // per-car totals keyed by the car's natural key (the generator
    // never sees surrogate ids): join the rollup to the cars dim
    run.check("emission by car, per natural key") {
      def d1(r: Row, i: Int) =
        if (r.isNullAt(i)) "" else Csv.d1(math.round(r.getDouble(i) * 10).toInt)
      val key = etl.readTable("cars").collect().map { r =>
        r.getAs[Any]("car_id").toString -> Seq(r.getAs[String]("brand"),
          r.getAs[String]("model"), d1(r, r.fieldIndex("engine_size_l")),
          d1(r, r.fieldIndex("cylinders")),
          Option(r.getAs[String]("fuel_type")).getOrElse(""),
          r.getAs[String]("transmission")).mkString("|")
      }.toMap
      sameTotals(etl.emissionByCar().collect()
        .map(r => key(r.get(0).toString) -> r.getDouble(1)).toMap, gen.byCar)
    }
    run.check("re-delivering the last day appends nothing") {
      etl.run(last._1, last._2, last._3).values.forall(_ == 0L)
    }
  }
}

/** A three-table DbLog star with a DbMv star view, churned by
  * single-kind transactions and refreshed at lag 1 or lag 5.
  */
final class StarRefresh(spark: SparkSession, root: String, seed: Long, size: Size,
    tr: Tracer) extends Workload {
  import Workloads._
  import spark.implicits._
  private val gen = new StarGen(seed, size)
  private val db = s"$root/db"
  private val view = DbMv.StarView("fact",
    Seq(("cust", Seq("o_custkey")), ("nat", Seq("c_nationkey"))),
    groupCols = Seq("seg", "nation_name"), sumCols = Seq("price"),
    minMaxCols = Seq("price"), reserveK = 8)
  private var refreshes = 0
  /** (version, model) of the last and the one-before-last refreshed view. */
  private var latest: Option[(Int, Map[(String, String), (Long, Long, Long, Long)])] = None
  private var previous: Option[(Int, Map[(String, String), (Long, Long, Long, Long)])] = None
  var userBytes = 0L
  def storageRoot: String = db

  private def factDf(rows: Seq[(Long, Long, Long)]): DataFrame =
    rows.map(r => (r._1, r._2, r._3 / 100.0)).toDF("o_orderkey", "o_custkey", "price")
  private def custDf(rows: Seq[(Long, String, Int)]): DataFrame =
    rows.toDF("o_custkey", "seg", "c_nationkey")
  private def natDf(rows: Seq[(Int, String)]): DataFrame =
    rows.toDF("c_nationkey", "nation_name")

  def prepare(run: Run): Unit = {
    DbLog.create(spark, db)
    DbLog.setStatsColumns(spark, db, "fact", Seq("o_orderkey", "o_custkey"))
    userBytes += gen.seedBytes
    DbLog.transact(spark, db, "seed") { txn =>
      txn.append("fact", factDf(gen.seedFact).repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey"))
      txn.append("cust", custDf(gen.seedCust).repartition(2))
      txn.append("nat", natDf(gen.seedNat).repartition(1))
    }
    DbMv.initStar(spark, db, "rev", view)
  }

  private def transact(t: StarTxn): Int =
    DbLog.transact(spark, db, t.kind) { txn =>
      if (t.factDeletes.nonEmpty)
        txn.applyKeyed("fact", Seq("o_orderkey"), factDf(t.factUpserts),
          t.factDeletes.toDF("o_orderkey"))
      else if (t.factUpserts.nonEmpty)
        txn.upsertKeyed("fact", Seq("o_orderkey"), factDf(t.factUpserts))
      if (t.custUpserts.nonEmpty)
        txn.upsertKeyed("cust", Seq("o_custkey"), custDf(t.custUpserts))
      if (t.natUpserts.nonEmpty)
        txn.upsertKeyed("nat", Seq("c_nationkey"), natDf(t.natUpserts))
    }

  private def sameView(rows: Seq[Row],
      want: Map[(String, String), (Long, Long, Long, Long)]): Boolean = {
    val got = rows.map(r => (r.getAs[String]("seg"), r.getAs[String]("nation_name")) ->
      (r.getAs[Long]("mv_count"), r.getAs[Double]("sum_price"),
        r.getAs[Double]("min_price"), r.getAs[Double]("max_price"))).toMap
    got.keySet == want.keySet && got.forall { case (g, (n, s, lo, hi)) =>
      val (wn, ws, wlo, whi) = want(g)
      n == wn && close(s, ws / 100.0) && lo == wlo / 100.0 && hi == whi / 100.0
    }
  }

  /** One cycle is a lag-1 round then a lag-5 round. A round: its
    * transactions, one refresh, the view now, six nations' tiles of
    * it, the view as the previous refresh left it (day-over-day), and
    * the fact's change feed over the last five commits.
    */
  protected def cycle(): Seq[Run => Unit] = {
    def round(lag: Int): Seq[Run => Unit] =
      Seq.fill(lag)(txn _) ++ Seq(refresh(lag) _, readNow _) ++
        (0 until nationsPerRound).map(i => (r: Run) => readNation(r, i)) ++
        Seq(readPrevious _, changes _)
    round(1) ++ round(5)
  }
  private val nationsPerRound = 6
  /** The first lag-1 round. */
  def warmSteps: Int = 5 + nationsPerRound
  def cycleOps: Int = 2 * 4 + 6 + 2 * nationsPerRound
  def nominalCycleS: Double = 13

  private def txn(run: Run): Unit = {
    val t = gen.next()
    userBytes += t.bytes
    run.op("commit", "dblog.transact", rows = t.rows, userBytes = t.bytes,
      root = Some(db))(transact(t))
  }

  private def refresh(lag: Int)(run: Run): Unit =
    run.op("refresh", s"dbmv.refreshStar.lag$lag", also = Seq(s"refresh_s.lag$lag")) {
      DbMv.refreshStar(spark, db, "rev")
    }.foreach { case (from, to) =>
      run.check(s"refresh $refreshes advances")(from < to)
      refreshes += 1
      previous = latest
      latest = Some((DbLog.currentVersion(spark, db), gen.view))
    }

  private def readNow(run: Run): Unit =
    run.op("query", "dbmv.readStar")(DbMv.readStar(spark, db, "rev").collect())
      .foreach(rows => run.check(s"star view after refresh $refreshes equals the model")(
        latest.exists(l => sameView(rows, l._2))))

  /** A nation's tile of the view (by the nation's current name). */
  private def readNation(run: Run, i: Int): Unit = {
    val name = gen.nat((nationsPerRound * refreshes + i) % gen.nat.length)
    run.op("query", "dbmv.readStar") {
      DbMv.readStar(spark, db, "rev").filter(col("nation_name") === name).collect()
    }.foreach(rows => run.check(s"star view of $name")(
      latest.exists(l => sameView(rows, l._2.filter(_._1._2 == name)))))
  }

  private def readPrevious(run: Run): Unit = previous.foreach { at =>
    run.op("query", "dbmv.readStar")(DbMv.readStar(spark, db, "rev", at._1).collect())
      .foreach(rows => run.check(s"star view at v${at._1}")(sameView(rows, at._2)))
  }

  private def changes(run: Run): Unit = {
    val v = DbLog.currentVersion(spark, db)
    run.op("query", "dblog.changes") {
      DbLog.changes(spark, db, "fact", math.max(0, v - 5), v, Seq("o_orderkey")).collect()
    }
  }

  def finish(run: Run): Unit = {
    run.check("a no-op refresh returns (v, v)") {
      // catch up on transactions the time cut left unrefreshed first
      DbMv.refreshStar(spark, db, "rev")
      val (a, b) = DbMv.refreshStar(spark, db, "rev")
      a == b
    }
    run.check("star view equals the aggregate of the snapshot join")(snapshotAgrees())
  }

  private def snapshotAgrees(): Boolean = {
    val s = DbLog.snapshot(spark, db, "fact")
      .join(DbLog.snapshot(spark, db, "cust"), "o_custkey")
      .join(DbLog.snapshot(spark, db, "nat"), "c_nationkey")
      .groupBy("seg", "nation_name")
      .agg(count(lit(1)).as("mv_count"), sum("price").as("sum_price"),
        min("price").as("min_price"), max("price").as("max_price"))
      .collect()
    val got = DbMv.readStar(spark, db, "rev")
      .select("seg", "nation_name", "mv_count", "sum_price", "min_price", "max_price")
      .collect()
    def keyed(rs: Seq[Row]) = rs.map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val (a, b) = (keyed(s), keyed(got))
    a.keySet == b.keySet && a.forall { case (g, r) =>
      val o = b(g)
      r.getLong(2) == o.getLong(2) && close(o.getDouble(3), r.getDouble(3)) &&
        r.getDouble(4) == o.getDouble(4) && r.getDouble(5) == o.getDouble(5)
    } && sameView(got, gen.view)
  }
}

/** Keyed TxLog writes beside reads: upserts, range deletes, pruned,
  * time-travel and change-feed reads, JoinMv star advances on a
  * ParquetStore, and a bin-pack every few writes.
  */
final class LogMixed(spark: SparkSession, root: String, seed: Long, size: Size,
    tr: Tracer) extends Workload {
  import Workloads._
  import spark.implicits._
  private val gen = new LogGen(seed, size)
  private val fact = s"$root/fact"
  private val dim = s"$root/dim"
  private val store = new TracedStore(new ParquetStore(spark, s"$root/state"), tr)
  private val dims = Seq((dim, Seq("cust")))
  /** (version, rows, Σ cents) after each fact commit. */
  private val history = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
  var userBytes = 0L
  def storageRoot: String = root

  private def factDf(rows: Seq[(Long, Long, Long)]): DataFrame =
    rows.map(r => (r._1, r._2, r._3 / 100.0)).toDF("k", "cust", "price")

  private def follow(): Seq[(Int, Int)] =
    JoinMv.followStar(store, "mv", fact, dims, Seq("seg"), Seq("price"))

  private def committed(): Unit = {
    val (n, s) = gen.totals
    history += ((TxLog.currentVersion(spark, fact), n, s))
  }

  private def agg(df: DataFrame): (Long, Double) = {
    val r = df.agg(count(lit(1)), coalesce(sum("price"), lit(0.0))).head()
    (r.getLong(0), r.getDouble(1))
  }

  private def sameAgg(got: (Long, Double), want: (Long, Long)): Boolean =
    got._1 == want._1 && close(got._2, want._2 / 100.0)

  def prepare(run: Run): Unit = {
    TxLog.convert(spark, fact)
    TxLog.setStatsColumns(spark, fact, Seq("k"))
    TxLog.setClusterColumns(spark, fact, Seq("k"))
    userBytes += gen.seedBytes
    TxLog.append(spark, fact, factDf(gen.seedFact).repartitionByRange(8, col("k"))
      .sortWithinPartitions("k"))
    gen.seedDim.toDF("cust", "seg").repartition(1).write.parquet(dim)
    TxLog.convert(spark, dim)
    committed()
    follow()
  }

  /** The generator's cycle; each op is scripted when it runs. */
  protected def cycle(): Seq[Run => Unit] = Seq.fill(cycleOps)(one _)
  /** One whole cycle: a first cycle still runs measurably slower. */
  def warmSteps: Int = cycleOps
  def cycleOps: Int = gen.cycle.length
  def nominalCycleS: Double = 7.5

  private def one(run: Run): Unit = gen.next() match {
    case u @ LogUpsert("fact", rows, _) =>
      userBytes += u.bytes
      run.op("commit", "txlog.upsert", rows = rows.length, userBytes = u.bytes,
        root = Some(root))(UpsertWhere.byKeys(spark, fact, "k", factDf(rows)))
      committed()
    case u @ LogUpsert(_, _, dimRows) =>
      userBytes += u.bytes
      run.op("commit", "txlog.upsert", rows = dimRows.length, userBytes = u.bytes,
        root = Some(root)) {
        UpsertWhere.byKeys(spark, dim, "cust", dimRows.toDF("cust", "seg"))
      }
    case LogDelete(lo, hi, n) =>
      run.op("commit", "txlog.delete", rows = n, root = Some(root)) {
        DeleteWhere.where(spark, fact, col("k").between(lo, hi))
      }.foreach(r => run.check(s"delete [$lo, $hi] removes $n rows")(r.deletedRows == n))
      committed()
    case LogCompact =>
      run.op("commit", "compact.binPack", root = Some(root)) {
        Compact.binPack(spark, fact, targetBytes = 1L << 20, smallBytes = 256L << 10)
      }
      committed()
    case LogPruned(lo, hi) =>
      if (run.accountWrites) {
        run.prunedFiles += TxLog.candidateFilesFromLog(spark, fact, "k", lo, hi).size
        run.prunedLive += TxLog.liveFiles(spark, fact).size
      }
      run.op("query", "txlog.snapshotPruned")(agg(TxLog.snapshotPruned(spark, fact, "k", lo, hi)))
        .foreach(g => run.check(s"pruned read [$lo, $hi]")(sameAgg(g, gen.range(lo, hi))))
    case LogAsOf(back) =>
      val (v, n, s) = history(math.max(0, history.length - 1 - back))
      run.op("query", "txlog.asOf")(agg(TxLog.snapshot(spark, fact, v)))
        .foreach(g => run.check(s"time travel to v$v")(sameAgg(g, (n, s))))
    case LogChanges(span) =>
      val to = history.last._1
      val from = history(math.max(0, history.length - 1 - span))._1
      run.op("query", "txlog.changes") {
        TxLog.changes(spark, fact, from, to, Seq("k")).collect()
      }
    case LogFollow =>
      run.op("refresh", "joinmv.followStar")(follow())
    case other => throw new IllegalStateException(s"unscripted op $other")
  }

  def finish(run: Run): Unit = {
    run.check("final snapshot equals the keyed model") {
      val got = TxLog.snapshot(spark, fact).select("k", "cust", "price").collect()
      got.length == gen.fact.size && got.forall { r =>
        val w = gen.fact.get(r.getLong(0))
        w != null && w._1 == r.getLong(1) && w._2 / 100.0 == r.getDouble(2)
      }
    }
    run.check("join view equals the model after a final advance") {
      follow()
      val want = gen.view
      val got = JoinMv.read(store, "mv").select("seg", "n", "sum_price").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
      got.keySet == want.keySet && got.forall { case (g, (n, s)) =>
        n == want(g)._1 && close(s, want(g)._2 / 100.0) }
    }
  }
}
