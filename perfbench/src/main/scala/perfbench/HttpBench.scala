package perfbench

import org.apache.spark.sql.SparkSession

/** A served workload as the HTTP load sees it: request `i` of the timed
  * list, its in-process twin for the traced run, and its correctness
  * check. */
trait Served {
  def port: Int
  /** (route, path) of timed request `i`; `warm` draws from a separate list. */
  def request(i: Int, warm: Boolean = false): (String, String)
  /** Run request `i` in-process through the same public calls the server
    * makes, under layer spans; returns the result rows. */
  def direct(i: Int, op: String, tracer: Tracer, layered: Layered): LayerSample
  /** None if `body` is the right answer to request `i`, else why not. */
  def check(i: Int, body: String): Option[String]
}

/**
 * The HTTP load shared by `serve` and `retrieve`: an open loop at a fixed
 * rate, then a closed-loop saturation phase, then the correctness check of
 * the kept responses. The traced run adds a single-client phase that
 * repeats each request in-process, layer by layer.
 */
object HttpBench {
  val WarmRequests = 16
  val OpenShare = 0.65

  /** Open-loop latency p50 and the generator lag of one untimed-check run. */
  final case class Open(p50Ms: Double, lagMs: Vector[Double])

  def run(spark: SparkSession, conf: Conf, report: Report, s: Served, ratePerS: Double): Open = {
    (0 until WarmRequests).foreach { i =>
      val (_, p) = s.request(i, warm = true)
      Http.get(s.port, p)
    }
    val openSec = conf.seconds * OpenShare
    val n = math.max(1, (ratePerS * openSec).toInt)
    val (ops, lag) = Load.openLoop(n, ratePerS, conf.clients, report, keepBody = _ % 2 == 0) { i =>
      val (route, path) = s.request(i)
      Load.http(s.port, route, path)
    }
    val maxRps = Load.closedLoop(conf.seconds - openSec, conf.clients, report) { i =>
      val (route, path) = s.request(n + i)
      Load.http(s.port, route, path)
    }
    val lat = ops.map(_.latencyMs)
    report.metric("latency_p50_ms", Stats.median(lat), "ms")
    report.metric("latency_p95_ms", Stats.quantile(lat, 0.95), "ms")
    report.metric("throughput_per_s", maxRps, "1/s")
    report.num("max_rps", maxRps, "1/s")
    report.num("open_loop_rate", ratePerS, "1/s")
    report.num("gen.lag_p95_ms", Stats.quantile(lag, 0.95), "ms")
    report.num("gen.lag_max_ms", lag.max, "ms")
    // correctness, outside the timed region
    ops.filter(o => o.ok && o.body != null).foreach { o =>
      s.check(o.index, o.body).foreach(why => report.wrong(o.route, s"#${o.index}: $why"))
    }
    report.num("checked_responses", ops.count(o => o.ok && o.body != null), "count")
    Open(Stats.median(lat), lag)
  }

  /**
   * Traced run: after the untraced phases, `m` requests from one client in
   * blocks of five. Each block runs once with tracing off (service time)
   * and once with the execution listener and spans on, each traced request
   * followed by its in-process twin; blocks alternate which goes first, so
   * the difference is the tracing overhead and not warm-up. Fills every
   * per-layer metric the HTTP layers give.
   */
  def traced(spark: SparkSession, s: Served, m: Int, open: Open,
             tracer: Tracer, layers: LayerReport): Unit = {
    val exec = new ExecListener
    val layered = new Layered(tracer)
    val plain = scala.collection.mutable.ArrayBuffer.empty[(Double, Int)]
    val tracedHttp = scala.collection.mutable.ArrayBuffer.empty[Double]
    val samples = scala.collection.mutable.ArrayBuffer.empty[LayerSample]
    def untraced(block: Range): Unit = block.foreach { i =>
      val t0 = System.nanoTime()
      val r = Http.get(s.port, s.request(i)._2)
      plain += ((Stats.ms(System.nanoTime() - t0), r.body.length))
    }
    def withTrace(block: Range): Unit = {
      spark.sparkContext.addSparkListener(exec)
      block.foreach { i =>
        val (route, path) = s.request(i)
        val op = s"$route-$i"
        tracedHttp += tracer.spanWith("serving.http", op)(Http.get(s.port, path))._2.ms
        samples += tracer.span("serving.direct", op)(
          ExecListener.as(spark, op)(s.direct(i, op, tracer, layered)))
      }
      exec.settle()
      spark.sparkContext.removeSparkListener(exec)
    }
    (0 until m).grouped(5).zipWithIndex.foreach { case (block, b) =>
      val r = block.head to block.last
      if (b % 2 == 0) { untraced(r); withTrace(r) } else { withTrace(r); untraced(r) }
    }
    val service = Stats.median(plain.map(_._1).toSeq)
    layers.set("serving.service_ms", service)
    layers.set("serving.http_overhead_ms", service - Stats.median(samples.map(_.totalMs)))
    layers.set("serving.queue_ms", open.p50Ms - service)
    layers.set("serving.response_bytes", Stats.median(plain.map(_._2.toDouble).toSeq))
    layers.set("trace.overhead_ms", Stats.median(tracedHttp.toSeq) - service)
    layers.set("gen.lag_ms", Stats.quantile(open.lagMs, 0.95))
    layers.fromSamples(samples.toSeq, tracer, exec)
  }
}
