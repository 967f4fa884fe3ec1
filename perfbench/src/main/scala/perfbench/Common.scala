package perfbench

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit, pmod}

/** Command line of one run. `work` is a fresh directory the run owns. */
final case class Conf(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      work: String) {
  /** Client threads and open connections: never more than the CPUs. */
  val clients: Int = math.max(1, Runtime.getRuntime.availableProcessors())
}

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: collection.Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)
  def ms(ns: Long): Double = ns / 1e6
}

/** What one run found: counted operations per route, correctness problems,
  * the gated metrics and the ungated detail. Printed as one JSON line. */
final class Report {
  private val routes = mutable.LinkedHashMap.empty[String, (AtomicLong, AtomicLong)]
  /** Wrong results: any one makes the run incorrect. */
  val problems = new ConcurrentLinkedQueue[String]()
  /** Failed operations (error status, timeout, exception), as they occurred. */
  val failures = new ConcurrentLinkedQueue[String]()
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val detail = mutable.LinkedHashMap.empty[String, String]

  private def route(r: String) = synchronized {
    routes.getOrElseUpdate(r, (new AtomicLong, new AtomicLong))
  }
  def attempt(r: String, ok: Boolean): Unit = {
    val (a, f) = route(r)
    a.incrementAndGet()
    if (!ok) f.incrementAndGet()
  }
  /** A wrong result found by a correctness check: fails the run and counts
    * the operation as failed. */
  def wrong(r: String, msg: String): Unit = {
    route(r)._2.incrementAndGet()
    problem(s"$r: $msg")
  }
  def problem(msg: String): Unit = if (problems.size < 50) problems.add(msg)
  def failure(msg: String): Unit = if (failures.size < 50) failures.add(msg)

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def num(name: String, value: Double, unit: String): Unit =
    detail(name) = s"""{"value":${Json.num(value)},"unit":"$unit"}"""

  def attempted: Long = synchronized(routes.values.map(_._1.get).sum)
  def failed: Long = synchronized(routes.values.map(_._2.get).sum)

  def json: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k":{"value":${Json.num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    val rs = synchronized(routes.map { case (k, (a, f)) =>
      s""""$k":{"attempted":${a.get},"failed":${f.get}}""" }).mkString("{", ",", "}")
    val det = detail.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    def list(q: ConcurrentLinkedQueue[String]) =
      q.asScala.map(p => "\"" + Json.str(p) + "\"").mkString("[", ",", "]")
    s"""{"correct":${problems.isEmpty},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":$ms,"routes":$rs,"problems":${list(problems)},"failures":${list(failures)},"detail":$det}"""
  }
}

object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  }
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  def parse(s: String): com.fasterxml.jackson.databind.JsonNode = mapper.readTree(s)
}

/** A minimal blocking HTTP GET on keep-alive connections. */
object Http {
  final case class Response(code: Int, body: String)
  val TimeoutMs = 15000

  def get(port: Int, path: String): Response = {
    val c = URI.create(s"http://127.0.0.1:$port$path").toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    c.setConnectTimeout(TimeoutMs)
    c.setReadTimeout(TimeoutMs)
    val code = c.getResponseCode
    val in = if (code < 400) c.getInputStream else c.getErrorStream
    val body = if (in == null) "" else try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
    Response(code, body)
  }
}

/** One timed operation: when it was due, sent and done (nanoTime). */
final case class Op(index: Int, route: String, dueNs: Long, endNs: Long, ok: Boolean, body: String) {
  def latencyMs: Double = Stats.ms(endNs - dueNs)
}

object Load {
  /**
   * Open loop: operation `i` is due at `start + i / rate` whatever the
   * earlier ones are doing, and its latency counts from that due time, so
   * a slow server shows as queueing instead of as a slower client. Up to
   * `threads` operations are in flight at once. `call` returns
   * (route, ok, body); `keepBody(i)` chooses the bodies kept for
   * the correctness check. Returns the operations and the generator lag
   * (how late each operation was handed to a client thread), in ms.
   */
  def openLoop(n: Int, ratePerS: Double, threads: Int, report: Report,
               keepBody: Int => Boolean)(call: Int => (String, Boolean, String))
      : (Vector[Op], Vector[Double]) = {
    val pool = Executors.newFixedThreadPool(threads)
    val done = new ConcurrentLinkedQueue[Op]()
    val lag = new Array[Double](n)
    val periodNs = (1e9 / ratePerS).toLong
    val start = System.nanoTime() + 20000000L
    try {
      var i = 0
      while (i < n) {
        val due = start + i * periodNs
        var now = System.nanoTime()
        while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
        lag(i) = Stats.ms(now - due)
        val idx = i
        pool.execute(() => done.add(timed(idx, due, report, keepBody(idx))(call(idx))))
        i += 1
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(Http.TimeoutMs * 4L, TimeUnit.MILLISECONDS)
    }
    (done.asScala.toVector.sortBy(_.index), lag.toVector)
  }

  /** Closed loop: `threads` clients issue operations back to back for
    * `seconds`. Returns the completion rate inside the window, measured
    * from the first completion to the last, so neither the ramp-up nor a
    * request cut off by the window's end quantizes it. */
  def closedLoop(seconds: Double, threads: Int, report: Report)
                (call: Int => (String, Boolean, String)): Double = {
    val next = new AtomicInteger(0)
    val completed = new AtomicInteger(0)
    val lastEnd = new AtomicLong(Long.MinValue)
    val firstEnd = new AtomicLong(Long.MaxValue)
    val start = System.nanoTime()
    val end = start + (seconds * 1e9).toLong
    val pool = Executors.newFixedThreadPool(threads)
    (0 until threads).foreach { _ =>
      pool.execute { () =>
        while (System.nanoTime() < end) {
          val i = next.getAndIncrement()
          val op = timed(i, System.nanoTime(), report, keep = false)(call(i))
          if (op.endNs <= end) {
            completed.incrementAndGet()
            lastEnd.accumulateAndGet(op.endNs, math.max)
            firstEnd.accumulateAndGet(op.endNs, math.min)
          }
        }
      }
    }
    pool.shutdown()
    pool.awaitTermination(Http.TimeoutMs * 4L + (seconds * 1000).toLong, TimeUnit.MILLISECONDS)
    if (completed.get < 2) 0.0 else (completed.get - 1) / ((lastEnd.get - firstEnd.get) / 1e9)
  }

  private def timed(i: Int, due: Long, report: Report, keep: Boolean)
                   (call: => (String, Boolean, String)): Op = {
    val (route, ok, body) =
      try call
      catch { case t: Throwable => ("error", false, t.toString) }
    val end = System.nanoTime()
    report.attempt(route, ok)
    if (!ok) report.failure(s"$route #$i: ${body.take(300)}")
    Op(i, route, due, end, ok, if (keep) body else null)
  }

  /** HTTP GET as a load operation: ok iff the status is 200. */
  def http(port: Int, route: String, path: String): (String, Boolean, String) = {
    val r = Http.get(port, path)
    (route, r.code == 200, r.body)
  }
}

object Host {
  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.util.Using.resource(scala.io.Source.fromFile("/proc/self/status")) { src =>
      src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    }

  /** The contention canary of graft.Bench (same expression, a quarter of
    * its rows): a pinned single-partition CPU-bound count that reads no
    * data, so only host load moves it. */
  def canary(spark: SparkSession, rows: Long = 50000000L): Double = {
    val t = System.nanoTime()
    spark.range(0L, rows, 1L, 1)
      .filter(pmod(col("id") * 2654435761L, lit(9973L)) < 3L).count()
    (System.nanoTime() - t) / 1e9
  }

  def time[T](f: => T): (T, Double) = {
    val t = System.nanoTime()
    val v = f
    (v, (System.nanoTime() - t) / 1e9)
  }

  /** Run `setup` `reps` times into fresh directories; returns the last
    * result and the median time, so set-up cost is gated on a stable
    * figure. */
  def repeatedSetup[T](conf: Conf, name: String, reps: Int)(setup: String => T): (T, Double, Vector[Double]) = {
    var last: Option[T] = None
    val times = (0 until reps).map { i =>
      val dir = s"${conf.work}/$name-$i"
      val (v, s) = time(setup(dir))
      last = Some(v)
      s
    }.toVector
    (last.get, Stats.median(times), times)
  }
}
