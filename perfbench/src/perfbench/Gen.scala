package perfbench

import java.util.Locale

import scala.collection.mutable

/** Input sizes. Every generated input is a pure function of
  * (workload, seed, size).
  */
final case class Size(
    name: String,
    etlSeedTrips: Int, etlTrips: Int,
    starFact: Int, starCust: Int, starBatch: Int,
    logFact: Int, logCust: Int, logBatch: Int,
    setupReps: Int)

object Size {
  val default: Size = Size("default",
    etlSeedTrips = 3000, etlTrips = 300,
    starFact = 20000, starCust = 2000, starBatch = 200,
    logFact = 20000, logCust = 500, logBatch = 200,
    setupReps = 3)
  val tiny: Size = Size("tiny",
    etlSeedTrips = 200, etlTrips = 40,
    starFact = 1000, starCust = 100, starBatch = 20,
    logFact = 1000, logCust = 50, logBatch = 20,
    setupReps = 1)
  def apply(name: String): Size = name match {
    case "default" => default
    case "tiny" => tiny
    case other => throw new IllegalArgumentException(s"unknown size '$other'")
  }
}

/** Seeded randomness; `SplittableRandom` is specified bit-for-bit, so
  * one seed yields one input sequence on every JVM.
  */
final class Rng(workload: String, seed: Long) {
  private val r = new java.util.SplittableRandom(
    seed * 0x9E3779B97F4A7C15L ^ scala.util.hashing.MurmurHash3.stringHash(workload))
  def int(n: Int): Int = r.nextInt(n)
  def between(lo: Int, hi: Int): Int = lo + r.nextInt(hi - lo + 1)
  def chance(p: Double): Boolean = r.nextDouble() < p
  def pick[T](xs: collection.IndexedSeq[T]): T = xs(r.nextInt(xs.length))
  def shuffled[T](xs: Seq[T]): Vector[T] = {
    val a = scala.collection.mutable.ArrayBuffer.from(xs)
    (a.length - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toVector
  }
}

object Csv {
  def d1(tenths: Int): String = String.format(Locale.ROOT, "%.1f", Double.box(tenths / 10.0))
  /** Generated values never hold a comma, quote or newline. */
  def line(fs: Seq[String]): String = fs.mkString("", ",", "\n")
  def bytes(fs: Seq[String]): Long = line(fs).getBytes("UTF-8").length.toLong
}

// ------------------------------------------------------------ daily_etl

final case class Car(
    brand: String, model: String, vclass: String, engineTenths: Int,
    cylinders: Option[Int], transmission: String, fuel: Option[String],
    fcTenths: Int, hwyTenths: Int, combTenths: Int, mpg: Int, co2: Int) {
  def naturalKey: String =
    Seq(brand, model, Csv.d1(engineTenths), cylinders.fold("")(c => Csv.d1(c * 10)),
      fuel.getOrElse(""), transmission).mkString("|")
  def rawCsv: Seq[String] = Seq(brand, model, vclass, Csv.d1(engineTenths),
    cylinders.fold("")(c => Csv.d1(c * 10)), transmission, fuel.getOrElse(""),
    Csv.d1(fcTenths), Csv.d1(hwyTenths), Csv.d1(combTenths), mpg.toString, co2.toString)
}

final case class Driver(name: String, firstName: String, city: String)
final case class City(name: String, country: String)
final case class Trip(car: Int, driver: Int, start: Int, target: Int,
    date: String, distTenths: Int)

/** One day's three feeds plus what the ETL must make of them. */
final case class EtlDay(
    index: Int,
    drivers: String, cars: String, logbook: String,
    offeredRows: Long,
    novelDrivers: Long, novelCars: Long, novelCountries: Long,
    novelCities: Long, novelTrips: Long) {
  def bytes: Long = Seq(drivers, cars, logbook).map(_.getBytes("UTF-8").length.toLong).sum
  def expectedAppends: Long =
    novelDrivers + novelCars + novelCountries + novelCities + novelTrips
}

/** The paper's daily feeds. Per day it varies, on fixed cycles: the share
  * of trips by novel drivers, cars and cities; the share of re-delivered
  * rows (exact copies of earlier deliveries, which the idempotent
  * anti-join must drop); the share of novel cars with a null join key
  * (`cylinders` or `fuel_type`, matched only by the null-safe join);
  * and how many monthly partitions the day's trips touch (late rows
  * land in earlier months). It keeps its own Σ distance×CO2 model.
  */
final class EtlGen(seed: Long, size: Size) {
  private val rng = new Rng("daily_etl", seed)
  private val brands = Vector("ACURA", "AUDI", "BMW", "FIAT", "FORD", "HONDA",
    "KIA", "MAZDA", "OPEL", "SEAT", "SKODA", "TOYOTA", "VOLVO", "VW")
  private val classes = Vector("COMPACT", "MID-SIZE", "SUV - SMALL", "PICKUP", "MINIVAN")
  private val transmissions = Vector("A6", "AM7", "AS8", "AV", "M6")
  private val fuels = Vector("X", "Z", "D", "E")
  val cars = mutable.ArrayBuffer.empty[Car]
  val drivers = mutable.ArrayBuffer.empty[Driver]
  val cities = mutable.ArrayBuffer.empty[City]
  private val countries = mutable.ArrayBuffer.empty[String]
  private val deliveredCars = mutable.BitSet.empty
  private val deliveredDrivers = mutable.BitSet.empty
  private val usedCities = mutable.BitSet.empty
  private val usedCountries = mutable.HashSet.empty[String]
  private val history = mutable.ArrayBuffer.empty[Trip]
  private val tripKeys = mutable.HashSet.empty[(Int, Int, Int, Int, String)]
  val byBrand = mutable.HashMap.empty[String, Double]
  val byDriver = mutable.HashMap.empty[(String, String), Double]
  val byCar = mutable.HashMap.empty[String, Double]

  private def newCar(pNull: Double): Int = {
    val nullKey = rng.chance(pNull)
    val whichNull = rng.int(2)
    val engine = rng.between(10, 60)
    val comb = rng.between(45, 180)
    cars += Car(rng.pick(brands), f"M${cars.length}%05d", rng.pick(classes), engine,
      if (nullKey && whichNull == 0) None else Some(Vector(3, 4, 6, 8)(rng.int(4))),
      rng.pick(transmissions),
      if (nullKey && whichNull == 1) None else Some(rng.pick(fuels)),
      comb + rng.between(5, 30), comb - rng.between(5, 30).min(comb - 10), comb,
      rng.between(15, 60), rng.between(90, 420))
    cars.length - 1
  }

  private def newDriver(): Int = {
    drivers += Driver(f"Name${drivers.length}%05d", f"First${rng.int(500)}%03d",
      f"Home${rng.int(50)}%02d")
    drivers.length - 1
  }

  private def newCity(pNewCountry: Double): Int = {
    if (countries.isEmpty || rng.chance(pNewCountry))
      countries += f"Country${countries.length}%03d"
    cities += City(f"City${cities.length}%05d", rng.pick(countries))
    cities.length - 1
  }

  private def month(m: Int): (Int, Int) = (2020 + m / 12, 1 + m % 12)

  /** Day 0 is the backfill that seeds the warehouse. */
  def day(d: Int): EtlDay = {
    val seedDay = d == 0
    val nTrips = if (seedDay) size.etlSeedTrips else size.etlTrips
    // property levels follow fixed cycles of co-prime lengths, so every
    // run sees the same mix of days; the seed picks the rows themselves
    val pDriver = if (seedDay) 0.05 else Vector(0.02, 0.05, 0.08)(d % 3)
    val pCar = if (seedDay) 0.03 else Vector(0.01, 0.03, 0.06)((d + 1) % 3)
    val pCity = if (seedDay) 0.02 else Vector(0.01, 0.03, 0.05)((d + 2) % 3)
    val pRedeliver = if (seedDay) 0.0 else Vector(0.05, 0.15, 0.25, 0.15)(d % 4)
    val pNull = Vector(0.1, 0.4)(d % 2)
    val nMonths = 1 + d % 3
    val baseMonth = 12 + d / 20
    val months = (0 until nMonths).map(j => month(baseMonth - j))
    val nRe = if (history.isEmpty) 0 else math.round(nTrips * pRedeliver).toInt
    val redelivered = Vector.fill(nRe)(history(rng.int(history.length)))
    val fresh = mutable.ArrayBuffer.empty[Trip]
    var attempts = 0
    while (fresh.length < nTrips - nRe && attempts < 20 * nTrips) {
      attempts += 1
      val car = if (cars.isEmpty || rng.chance(pCar)) newCar(pNull) else rng.int(cars.length)
      val drv = if (drivers.isEmpty || rng.chance(pDriver)) newDriver() else rng.int(drivers.length)
      val st = if (cities.isEmpty || rng.chance(pCity)) newCity(0.05) else rng.int(cities.length)
      val tg = if (rng.chance(pCity)) newCity(0.05) else rng.int(cities.length)
      val (y, m) = months(rng.int(months.length))
      val date = f"$y%04d-$m%02d-${rng.between(1, 28)}%02d"
      if (tripKeys.add((car, drv, st, tg, date)))
        fresh += Trip(car, drv, st, tg, date, rng.between(10, 9000))
    }
    // novelty as the warehouse sees it: first delivery / first use
    val novelCars = fresh.map(_.car).distinct.filterNot(deliveredCars)
    val novelDrivers = fresh.map(_.driver).distinct.filterNot(deliveredDrivers)
    val touched = fresh.flatMap(t => Seq(t.start, t.target)).distinct
    val novelCities = touched.filterNot(usedCities)
    val novelCountries = novelCities.map(c => cities(c).country).distinct
      .filterNot(usedCountries)
    val reCars = if (deliveredCars.isEmpty) Nil
      else Vector.fill((novelCars.length * pRedeliver * 4).toInt.min(deliveredCars.size))(
        rng.int(cars.length)).filter(deliveredCars).distinct
    val reDrivers = if (deliveredDrivers.isEmpty) Nil
      else Vector.fill((novelDrivers.length * pRedeliver * 4).toInt.min(deliveredDrivers.size))(
        rng.int(drivers.length)).filter(deliveredDrivers).distinct

    fresh.foreach { t =>
      val c = cars(t.car)
      val e = t.distTenths / 10.0 * c.co2
      byBrand(c.brand) = byBrand.getOrElse(c.brand, 0.0) + e
      val dr = drivers(t.driver)
      byDriver((dr.name, dr.firstName)) =
        byDriver.getOrElse((dr.name, dr.firstName), 0.0) + e
      byCar(c.naturalKey) = byCar.getOrElse(c.naturalKey, 0.0) + e
    }
    deliveredCars ++= novelCars
    deliveredDrivers ++= novelDrivers
    usedCities ++= novelCities
    usedCountries ++= novelCountries
    history ++= fresh

    val driverRows = (novelDrivers ++ reDrivers).toVector.map { i =>
      val x = drivers(i); Seq(x.name, x.firstName, x.city) }
    val carRows = (novelCars ++ reCars).toVector.map(i => cars(i).rawCsv)
    val logRows = rng.shuffled((fresh ++ redelivered).toVector).map { t =>
      val c = cars(t.car); val dr = drivers(t.driver)
      val s = cities(t.start); val g = cities(t.target)
      Seq(c.brand, c.model, Csv.d1(c.engineTenths),
        c.cylinders.fold("")(x => Csv.d1(x * 10)), c.fuel.getOrElse(""),
        c.transmission, dr.name, dr.firstName, s.name, s.country, g.name,
        g.country, Csv.d1(t.distTenths), t.date)
    }
    def csv(header: Seq[String], rows: Seq[Seq[String]]): String =
      (header +: rows).map(Csv.line).mkString
    EtlDay(d,
      csv(Seq("name", "first_name", "city"), driverRows),
      csv(Seq("BRAND", "MODEL", "VEHICLE CLASS", "ENGINE SIZE L", "CYLINDERS",
        "TRANSMISSION", "FUEL_TYPE", "FUEL CONSUMPTION (L/100 km)", "HWY (L/100 km)",
        "COMB (L/100 km)", "COMB (mpg)", "CO2_Emissions(g/km)"), carRows),
      csv(Seq("brand", "model", "engine_size_l", "cylinders", "fuel_type",
        "transmission", "name", "first_name", "start_city", "start_country",
        "target_city", "target_country", "distance_km", "date"), logRows),
      offeredRows = (driverRows.length + carRows.length + logRows.length).toLong,
      novelDrivers = novelDrivers.length, novelCars = novelCars.length,
      novelCountries = novelCountries.length, novelCities = novelCities.length,
      novelTrips = fresh.length)
  }
}

// --------------------------------------------------------- star_refresh

/** One DbLog churn transaction over the star's three tables. */
final case class StarTxn(
    kind: String,
    factUpserts: Seq[(Long, Long, Long)],
    factDeletes: Seq[Long],
    custUpserts: Seq[(Long, String, Int)],
    natUpserts: Seq[(Int, String)]) {
  def rows: Long = (factUpserts.length + factDeletes.length +
    custUpserts.length + natUpserts.length).toLong
  def bytes: Long =
    factUpserts.map(r => Csv.bytes(Seq(r._1.toString, r._2.toString, StarGen.price(r._3)))).sum +
      factDeletes.map(k => Csv.bytes(Seq(k.toString))).sum +
      custUpserts.map(r => Csv.bytes(Seq(r._1.toString, r._2, r._3.toString))).sum +
      natUpserts.map(r => Csv.bytes(Seq(r._1.toString, r._2))).sum
  def script: String =
    (s"txn $kind" +: (factUpserts.map(r => s"  fact+ ${r._1},${r._2},${StarGen.price(r._3)}") ++
      factDeletes.map(k => s"  fact- $k") ++
      custUpserts.map(r => s"  cust+ ${r._1},${r._2},${r._3}") ++
      natUpserts.map(r => s"  nat+ ${r._1},${r._2}"))).mkString("", "\n", "\n")
}

/** Star schema fact(o_orderkey, o_custkey, price) ⋈ cust(o_custkey,
  * seg, c_nationkey) ⋈ nat(c_nationkey, nation_name) and the churn
  * that moves it: clustered re-prices (a contiguous key run), scattered
  * re-prices (keys spread over every file), delete+insert batches,
  * customer moves (segment and nation) and nation renames. Prices are
  * whole cents so the model's sums are exact.
  */
final class StarGen(seed: Long, size: Size) {
  private val rng = new Rng("star_refresh", seed)
  private val segs = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val fact = new java.util.TreeMap[Long, (Long, Long)]()
  val cust = mutable.ArrayBuffer.empty[(String, Int)]
  val nat = mutable.ArrayBuffer.empty[String]
  private var nextKey = 1L
  private var renames = 0

  (0 until 25).foreach(n => nat += f"NATION_$n%02d")
  (0 until size.starCust).foreach(_ => cust += ((rng.pick(segs), rng.int(25))))
  (0 until size.starFact).foreach { _ => fact.put(nextKey, (rng.int(size.starCust).toLong,
    rng.between(100, 100000).toLong)); nextKey += 1 }

  def seedFact: Seq[(Long, Long, Long)] = rowsOf(fact)
  def seedCust: Seq[(Long, String, Int)] = cust.indices.map(i => (i.toLong, cust(i)._1, cust(i)._2))
  def seedNat: Seq[(Int, String)] = nat.indices.map(i => (i, nat(i)))
  def seedBytes: Long = StarTxn("seed", seedFact, Nil, seedCust, seedNat).bytes

  private def rowsOf(m: java.util.Map[Long, (Long, Long)]): Seq[(Long, Long, Long)] = {
    val b = Vector.newBuilder[(Long, Long, Long)]
    m.forEach((k, v) => b += ((k, v._1, v._2)))
    b.result()
  }

  private def randomLive(): Long = {
    var k = 0L
    while ({ k = 1L + rng.int(nextKey.toInt - 1); !fact.containsKey(k) }) ()
    k
  }

  /** Transaction kinds in a fixed rotation; the seed picks keys and values. */
  private val kinds = Vector("clustered_reprice", "scattered_reprice", "delete_insert",
    "clustered_reprice", "customer_move", "scattered_reprice", "delete_insert",
    "nation_rename")
  private var txns = 0

  def next(): StarTxn = {
    val b = size.starBatch
    val kind = kinds(txns % kinds.length)
    txns += 1
    val t =
      if (kind == "clustered_reprice") {
        val lo = randomLive()
        val run = fact.tailMap(lo, true).keySet.iterator
        val keys = Iterator.continually(run).takeWhile(_.hasNext).map(_.next()).take(b).toVector
        StarTxn("clustered_reprice", keys.map(k =>
          (k, fact.get(k)._1, rng.between(100, 100000).toLong)), Nil, Nil, Nil)
      } else if (kind == "scattered_reprice") {
        val keys = Vector.fill(b)(randomLive()).distinct
        StarTxn("scattered_reprice", keys.map(k =>
          (k, fact.get(k)._1, rng.between(100, 100000).toLong)), Nil, Nil, Nil)
      } else if (kind == "delete_insert") {
        val dead = Vector.fill(b / 2)(randomLive()).distinct
        val born = (0 until b / 2).map(i => (nextKey + i,
          rng.int(cust.length).toLong, rng.between(100, 100000).toLong))
        StarTxn("delete_insert", born, dead, Nil, Nil)
      } else if (kind == "customer_move") {
        val moved = Vector.fill(math.max(1, b / 10))(rng.int(cust.length)).distinct
        StarTxn("customer_move", Nil, Nil,
          moved.map(c => (c.toLong, rng.pick(segs), rng.int(25))), Nil)
      } else {
        val ns = Vector.fill(rng.between(1, 3))(rng.int(25)).distinct
        StarTxn("nation_rename", Nil, Nil, Nil, ns.map { n =>
          renames += 1; (n, f"NATION_$n%02d_r$renames") })
      }
    apply(t)
    t
  }

  private def apply(t: StarTxn): Unit = {
    t.factDeletes.foreach(fact.remove)
    t.factUpserts.foreach { case (k, c, p) =>
      fact.put(k, (c, p)); nextKey = math.max(nextKey, k + 1) }
    t.custUpserts.foreach { case (c, s, n) => cust(c.toInt) = (s, n) }
    t.natUpserts.foreach { case (n, name) => nat(n) = name }
  }

  /** (seg, nation_name) → (count, Σ cents, min cents, max cents). */
  def view: Map[(String, String), (Long, Long, Long, Long)] = {
    val m = mutable.HashMap.empty[(String, String), (Long, Long, Long, Long)]
    fact.forEach { (_, v) =>
      val (seg, n) = cust(v._1.toInt)
      val g = (seg, nat(n))
      val p = v._2
      m(g) = m.get(g).fold((1L, p, p, p))(o =>
        (o._1 + 1, o._2 + p, math.min(o._3, p), math.max(o._4, p)))
    }
    m.toMap
  }
}

object StarGen {
  def price(cents: Long): String = (cents / 100.0).toString
}

// ------------------------------------------------------------ log_mixed

/** One log_mixed op, as the generator scripts it. */
sealed trait LogOp { def script: String }
final case class LogUpsert(table: String, rows: Seq[(Long, Long, Long)],
    dimRows: Seq[(Long, String)]) extends LogOp {
  def script: String = (s"upsert $table" +: (rows.map(r => s"  ${r._1},${r._2},${StarGen.price(r._3)}") ++
    dimRows.map(r => s"  ${r._1},${r._2}"))).mkString("", "\n", "\n")
  def bytes: Long = rows.map(r => Csv.bytes(Seq(r._1.toString, r._2.toString,
    StarGen.price(r._3)))).sum + dimRows.map(r => Csv.bytes(Seq(r._1.toString, r._2))).sum
}
final case class LogDelete(lo: Long, hi: Long, n: Int) extends LogOp {
  def script = s"delete $lo $hi ($n rows)\n"
}
final case class LogPruned(lo: Long, hi: Long) extends LogOp {
  def script = s"pruned $lo $hi\n"
}
final case class LogAsOf(back: Int) extends LogOp { def script = s"asof -$back\n" }
final case class LogChanges(span: Int) extends LogOp { def script = s"changes $span\n" }
case object LogFollow extends LogOp { def script = "follow\n" }
case object LogCompact extends LogOp { def script = "binpack\n" }

/** Keyed TxLog traffic: fact(k, cust, price) with log-carried stats on
  * `k`, dim(cust, seg), and a JoinMv star view of Σ price by seg. Writes
  * (upserts mixing clustered re-prices with fresh keys, range deletes,
  * dim re-segmentations) interleave with pruned range reads,
  * time-travel reads, change-feed reads and view advances, with a
  * bin-pack once per cycle of five fact writes.
  */
final class LogGen(seed: Long, size: Size) {
  private val rng = new Rng("log_mixed", seed)
  private val segs = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val fact = new java.util.TreeMap[Long, (Long, Long)]()
  val dim = mutable.ArrayBuffer.empty[String]
  private var nextKey = 1L

  (0 until size.logCust).foreach(_ => dim += rng.pick(segs))
  (0 until size.logFact).foreach { _ => fact.put(nextKey, (rng.int(size.logCust).toLong,
    rng.between(100, 100000).toLong)); nextKey += 1 }

  def seedFact: Seq[(Long, Long, Long)] = {
    val b = Vector.newBuilder[(Long, Long, Long)]
    fact.forEach((k, v) => b += ((k, v._1, v._2)))
    b.result()
  }
  def seedDim: Seq[(Long, String)] = dim.indices.map(i => (i.toLong, dim(i)))
  def seedBytes: Long = LogUpsert("seed", seedFact, seedDim).bytes

  private def randomKey(): Long = 1L + rng.int(nextKey.toInt - 1)

  /** One cycle of op kinds, repeated: 7 commits (four fact upserts, a
    * dim upsert, a range delete, a bin-pack), 27 reads (three bursts of
    * six pruned reads, two of four time-travel reads, a change-feed
    * read) and a view advance. The seed picks keys, ranges and values.
    */
  val cycle: Vector[String] = {
    val pruned = Vector.fill(6)("pruned")
    val asOf = Vector.fill(4)("asof")
    Vector("upsert") ++ pruned ++ Vector("upsert") ++ asOf ++ Vector("delete") ++ pruned ++
      Vector("follow", "dim", "upsert") ++ asOf ++ Vector("binpack", "upsert") ++ pruned ++
      Vector("changes")
  }
  private var ops = 0

  def next(): LogOp = {
    val kind = cycle(ops % cycle.length)
    ops += 1
    val b = size.logBatch
    val op: LogOp = kind match {
      case "upsert" =>
        val run = fact.tailMap(randomKey(), true).keySet.iterator
        val old = Iterator.continually(run).takeWhile(_.hasNext).map(_.next())
          .take(b * 7 / 10).toVector
        val fresh = (0 until b - old.length).map(i => nextKey + i)
        LogUpsert("fact", (old ++ fresh).map(k =>
          (k, rng.int(dim.length).toLong, rng.between(100, 100000).toLong)), Nil)
      case "delete" =>
        val lo = Option(fact.floorKey(randomKey())).getOrElse(fact.firstKey)
        val keys = fact.tailMap(lo, true).keySet.iterator
        val hit = Iterator.continually(keys).takeWhile(_.hasNext).map(_.next())
          .take(b / 2).toVector
        LogDelete(lo, hit.last, hit.length)
      case "dim" =>
        val cs = Vector.fill(math.max(1, b / 10))(rng.int(dim.length)).distinct
        LogUpsert("dim", Nil, cs.map(c => (c.toLong, rng.pick(segs))))
      case "pruned" =>
        val lo = randomKey()
        LogPruned(lo, lo + size.logFact / 50)
      case "asof" => LogAsOf(rng.between(1, 5))
      case "changes" => LogChanges(5)
      case "follow" => LogFollow
      case "binpack" => LogCompact
    }
    apply(op)
    op
  }

  private def apply(op: LogOp): Unit = op match {
    case LogUpsert(_, rows, dimRows) =>
      rows.foreach { case (k, c, p) => fact.put(k, (c, p)); nextKey = math.max(nextKey, k + 1) }
      dimRows.foreach { case (c, s) => dim(c.toInt) = s }
    case LogDelete(lo, hi, _) =>
      fact.subMap(lo, true, hi, true).clear()
    case _ =>
  }

  /** (count, Σ cents) of keys in [lo, hi]. */
  def range(lo: Long, hi: Long): (Long, Long) = {
    var n = 0L; var s = 0L
    fact.subMap(lo, true, hi, true).forEach((_, v) => { n += 1; s += v._2 })
    (n, s)
  }

  def totals: (Long, Long) = range(Long.MinValue, Long.MaxValue)

  /** seg → (count, Σ cents) over fact ⋈ dim. */
  def view: Map[String, (Long, Long)] = {
    val m = mutable.HashMap.empty[String, (Long, Long)]
    fact.forEach { (_, v) =>
      val g = dim(v._1.toInt)
      m(g) = m.get(g).fold((1L, v._2))(o => (o._1 + 1, o._2 + v._2))
    }
    m.toMap
  }
}
