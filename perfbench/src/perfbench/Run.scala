package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** The closed loop's ledger: one client issues an op, waits for it,
  * records its wall time under its kind (`commit`, `refresh`, `query`),
  * then issues the next. Output checks run between ops, untimed; a
  * check that fails counts its op as failed.
  */
final class Run(tracer: Tracer, val accountWrites: Boolean) {
  val samples: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap("commit" -> mutable.ArrayBuffer.empty[Double],
      "refresh" -> mutable.ArrayBuffer.empty[Double],
      "query" -> mutable.ArrayBuffer.empty[Double])
  /** Extra per-workload sample sets (e.g. `load_s`, `refresh_s.lag5`). */
  val extra = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Wall times per span name, in issue order. */
  val bySpan = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0L
  var failed = 0L
  var rowsCommitted = 0L
  var timedS = 0.0
  var offered = 0L
  var appended = 0L
  var bytesWritten = 0L
  var bytesWrittenUser = 0L
  var prunedFiles = 0L
  var prunedLive = 0L
  private var ops = 0L
  private val failures = mutable.ArrayBuffer.empty[String]

  /** Run one timed op inside its span. `root` (when write accounting
    * is on) is listed before and after, outside the timed interval,
    * to charge the bytes the op wrote.
    */
  def op[T](kind: String, span: String, rows: Long = 0L,
      userBytes: Long = 0L, root: Option[String] = None,
      also: Seq[String] = Nil)(body: => T): Option[T] = {
    ops += 1
    attempted += 1
    tracer.op = ops
    val before = if (accountWrites) root.map(Disk.listing) else None
    val t0 = System.nanoTime()
    val res =
      try Some(tracer.span(span)(body))
      catch {
        case NonFatal(e) =>
          fail(s"$span: ${e.getClass.getSimpleName}: ${e.getMessage}")
          e.printStackTrace()
          None
      }
    val dt = (System.nanoTime() - t0) / 1e9
    timedS += dt
    samples(kind) += dt
    bySpan.getOrElseUpdate(span, mutable.ArrayBuffer.empty) += dt
    also.foreach(k => extra.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += dt)
    if (res.isDefined) rowsCommitted += rows
    for (b <- before; r <- root) {
      bytesWritten += Disk.written(b, Disk.listing(r))
      bytesWrittenUser += userBytes
    }
    res
  }

  /** An untimed output check charged to the op just run. */
  def check(what: String)(ok: => Boolean): Unit = {
    val good = try ok catch {
      case NonFatal(e) => e.printStackTrace(); false
    }
    if (!good) fail(s"check failed: $what")
  }

  def fail(msg: String): Unit = {
    failed += 1
    failures += msg
    System.err.println(s"[perfbench] FAIL $msg")
  }

  def failureMessages: Seq[String] = failures.toList
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Harrell–Davis estimate of the median: a weighted mean of every
    * order statistic, with Beta((n+1)/2, (n+1)/2) weights. Unlike the
    * sample median it does not jump between neighbouring samples (or
    * between op kinds of different cost) as a few samples move.
    */
  def p50(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "p50 of no samples")
    val s = xs.sorted
    val n = s.length
    val a = (n + 1) / 2.0
    def cdf(x: Double) =
      if (x <= 0) 0.0 else if (x >= 1) 1.0
      else org.apache.commons.math3.special.Beta.regularizedBeta(x, a, a)
    s.indices.map(i => s(i) * (cdf((i + 1).toDouble / n) - cdf(i.toDouble / n))).sum
  }

  /** The highest percentile with at least ten samples above it:
    * (value, percentile, sample count). Fewer than eleven samples have
    * no such percentile; the maximum stands in, at percentile 100.
    */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    if (n < 11) (s.last, 100.0, n)
    else (s(n - 11), 100.0 * (n - 10) / n, n)
  }
}

/** Directory accounting, always outside timed spans. */
object Disk {
  import java.nio.file.{Files, Path, Paths}

  def listing(root: String): Map[String, (Long, Long)] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) return Map.empty
    val it = Files.walk(p)
    try {
      val b = Map.newBuilder[String, (Long, Long)]
      it.forEach { (f: Path) =>
        if (Files.isRegularFile(f))
          b += f.toString -> ((Files.size(f), Files.getLastModifiedTime(f).toMillis))
      }
      b.result()
    } finally it.close()
  }

  def size(root: String): Long = listing(root).valuesIterator.map(_._1).sum

  /** Bytes of files that are new or changed between two listings. */
  def written(before: Map[String, (Long, Long)],
      after: Map[String, (Long, Long)]): Long =
    after.iterator.collect {
      case (f, (sz, mt)) if !before.get(f).contains((sz, mt)) => sz
    }.sum

  def deleteTree(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val it = Files.walk(p)
      try {
        val all = mutable.ArrayBuffer.empty[Path]
        it.forEach((f: Path) => all += f)
        all.reverseIterator.foreach(f => Files.deleteIfExists(f))
      } finally it.close()
    }
  }
}

/** Minimal JSON rendering for the result line and span dumps. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.result()
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
