package perfbench

import java.time.{Instant, ZoneOffset, ZonedDateTime}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.functions.GeoFunctions
import graft.operators.QueryBuilders
import graft.serving.RestServer
import graft.streaming.StreamingPipeline

/**
 * The hourly cells of a set of readings, aggregated in plain Scala without
 * the engine: (6-char prefix, hour start ms) → (count, exact sum). The
 * reference answer for `serve` responses and for the final `live` table.
 */
final class Truth(readings: Iterable[Gen.Reading], precision: Int = 6) {
  val cells: Map[(String, Long), (Long, BigDecimal)] =
    readings.iterator.filter(_.valid)
      .map(r => ((r.geohash.take(precision), r.ts - Math.floorMod(r.ts, Gen.HourMs)), r.temp))
      .foldLeft(Map.empty[(String, Long), (Long, BigDecimal)]) { case (m, (k, t)) =>
        val (c, s) = m.getOrElse(k, (0L, BigDecimal(0)))
        m.updated(k, (c + 1, s + BigDecimal(t)))
      }

  def value(op: String, c: Long, s: BigDecimal): Double = op match {
    case "count" => c.toDouble
    case "sum"   => s.toDouble
    case "avg"   => s.toDouble / c
  }

  private def merge(cs: Iterable[(Long, BigDecimal)]) =
    cs.foldLeft((0L, BigDecimal(0))) { case ((c, s), (c2, s2)) => (c + c2, s + s2) }

  def history(h: Gen.HistoryReq): Seq[(String, Double)] = {
    val from = h.interval match {
      case None => h.fromMs
      case Some(iv) =>
        val to = ZonedDateTime.ofInstant(Instant.ofEpochMilli(h.toMs), ZoneOffset.UTC)
        (iv match {
          case "1day" => to.minusDays(1); case "1week" => to.minusWeeks(1)
          case "all" => to.minusYears(30)
        }).toInstant.toEpochMilli
    }
    cells.toSeq
      .filter { case ((k, t), _) => t >= from && t <= h.toMs && h.prefixes.exists(k.startsWith) }
      .groupBy(_._1._2).toSeq.sortBy(_._1)
      .map { case (t, cs) => val (c, s) = merge(cs.map(_._2)); (t.toString, value(h.op, c, s)) }
  }

  def snapshot(op: String, tsMs: Long, cover: Seq[String]): Seq[(String, Double)] = {
    val hour = tsMs - Math.floorMod(tsMs, Gen.HourMs)
    cells.toSeq
      .filter { case ((k, t), _) => t == hour && cover.exists(k.startsWith) }
      .sortBy(_._1._1)
      .map { case ((k, _), (c, s)) => (k, value(op, c, s)) }
  }

  /** The rows a `RestServer` request should answer. Only the program's
    * bbox cover is reused, to choose the snapshot prefixes. */
  def answer(req: Gen.ServeReq): Seq[(String, Double)] = req match {
    case h: Gen.HistoryReq => history(h)
    case s: Gen.SnapshotReq =>
      snapshot(s.op, s.tsMs, GeoFunctions.coverBoundingBox(s.north, s.west, s.south, s.east))
  }

  /** None if the `Message` body's data rows equal `expected`. */
  def compare(body: String, expected: Seq[(String, Double)]): Option[String] = {
    val data = Json.parse(body).get("data").elements().asScala.toSeq
      .map(row => (row.get(0).asText, row.get(1).asDouble))
    if (data.size != expected.size) Some(s"${data.size} rows, expected ${expected.size}")
    else data.zip(expected).collectFirst {
      case ((k, v), (ek, ev)) if k != ek || math.abs(v - ev) > 1e-9 * math.max(1.0, math.abs(ev)) =>
        s"row ($k, $v), expected ($ek, $ev)"
    }
  }
}

/**
 * `serve`: a quiescent serving table built by backfill + sorted compaction,
 * served by `RestServer.live`, under an open loop of history and snapshot
 * requests and then a closed-loop saturation phase.
 */
object Serve {
  val Days = 4
  val Readings = 10000
  val RatePerS = 1.0

  def run(spark: SparkSession, conf: Conf, report: Report, trace: Option[(Tracer, LayerReport)]): Unit = {
    import spark.implicits._
    val (tableDir, setupS, times) = Host.repeatedSetup(conf, "serve", 3) { dir =>
      val raw = Gen.history(conf.seed, Readings, Days).map(_.json).toDF("json")
      StreamingPipeline.backfill(raw, s"$dir/table")
      StreamingPipeline.compact(spark, s"$dir/table", sortByKey = true)
      s"$dir/table"
    }
    report.metric("setup_s", setupS, "s")
    report.detail("setup_reps_s") = times.map(Json.num).mkString("[", ",", "]")

    val truth = new Truth(Gen.history(conf.seed, Readings, Days))
    val requests = Gen.serveRequests(conf.seed, 4000, Days)
    val warm = Gen.serveRequests(conf.seed ^ 0x5eed, HttpBench.WarmRequests, Days)
    val server = RestServer.live(spark, tableDir, port = 0)
    val served = new Served {
      val port: Int = server.start()
      def request(i: Int, warmUp: Boolean): (String, String) = {
        val r = if (warmUp) warm(i) else requests(i % requests.size)
        (route(r), r.path)
      }
      private def route(r: Gen.ServeReq) = r match {
        case _: Gen.HistoryReq => "history"; case _: Gen.SnapshotReq => "snapshot"
      }
      def check(i: Int, body: String): Option[String] =
        truth.compare(body, truth.answer(requests(i % requests.size)))
      def direct(i: Int, op: String, tracer: Tracer, layered: Layered): LayerSample =
        Serve.direct(spark, tableDir, requests(i % requests.size), op, tracer, layered)
    }
    try {
      val open = HttpBench.run(spark, conf, report, served, RatePerS)
      trace.foreach { case (tracer, layers) =>
        HttpBench.traced(spark, served, 40, open, tracer, layers)
      }
    } finally server.stop()
  }

  /** The in-process twin of a served request: the calls `RestServer` makes,
    * each under its layer's span. */
  def direct(spark: SparkSession, tableDir: String, req: Gen.ServeReq, op: String,
             tracer: Tracer, layered: Layered): LayerSample = {
    val t0 = System.nanoTime()
    val view = tracer.span("sources.listing", op)(StreamingPipeline.servingView(spark, tableDir))
    val df = req match {
      case h: Gen.HistoryReq => tracer.span("operators.build", op)(h.interval match {
        case Some(iv) => QueryBuilders.historyInterval(view, h.op, h.prefixes, h.toMs, iv)
        case None     => QueryBuilders.history(view, h.op, h.prefixes, h.fromMs, h.toMs)
      })
      case s: Gen.SnapshotReq =>
        val (cover, _) = tracer.spanWith("geo.cover", op,
          (c: Seq[String]) => Map("prefixes" -> c.size.toDouble))(
          GeoFunctions.coverBoundingBox(s.north, s.west, s.south, s.east))
        tracer.span("operators.build", op)(QueryBuilders.snapshotByPrefixes(view, s.op, cover, s.tsMs))
    }
    layered.run(op, t0, df)._2
  }
}
