package perfbench

import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

import graft.serving.RestServer
import graft.streaming.StreamingPipeline

/** One micro-batch as `StreamingQueryProgress` reported it. */
final case class Epoch(query: java.util.UUID, batchId: Long, endOffset: Long, startMs: Long, durations: Map[String, Long],
                       inputRows: Long, stateRows: Long, stateUpdated: Long, stateMemory: Long,
                       stateCommitMs: Long, dropped: Long, tableFiles: Long) {
  def endMs: Long = startMs + durations.getOrElse("triggerExecution", 0L)
}

/**
 * `live`: `StreamingPipeline.start` on a MemoryStream of the reference's
 * JSON wire format, unthrottled. Phase 1 drains a pre-generated backlog
 * (the earliest-offset replay of a restart); phase 2 feeds an open loop of
 * events at a fixed rate, with late and bad records, while one HTTP reader
 * queries a serving table through `RestServer.live`.
 *
 * The reader serves the settled table the warm-up stream left behind, so
 * its reads share the CPU and the Spark scheduler with the upserts and are
 * checked against the plain-Scala aggregation. With `race` (workload
 * `live-race`) it queries the newest hours of the table being written
 * instead, and races the upsert's day-directory swap: some of those reads
 * fail, a varying number per run, and are counted as they occur.
 */
object Live {
  val Backlog = 30000
  /** Catch-up drains per run: the first WarmDrains warm the JVM up and
    * are dropped, each going on with WarmBatches steady-sized batches so
    * phase 2's code path is warm as well; the rate is the median of the
    * last CatchupRounds. */
  val WarmDrains = 1
  val WarmBatches = 8
  val CatchupRounds = 3
  /** Backlog events the throwaway warm-up stream writes to its own table. */
  val WarmEvents = 2000
  val RatePerS = 2000.0
  val ChunkMs = 100L
  val ReaderRatePerS = 1.0

  private final class Progress(tableDir: String) extends StreamingQueryListener {
    val epochs = new ConcurrentLinkedQueue[Epoch]()
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.sources.nonEmpty && p.sources(0).endOffset != null) {
        val st = p.stateOperators.headOption
        epochs.add(Epoch(p.id, p.batchId, p.sources(0).endOffset.trim.toLong,
          Instant.parse(p.timestamp).toEpochMilli,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          p.numInputRows, st.map(_.numRowsTotal).getOrElse(0L),
          st.map(_.numRowsUpdated).getOrElse(0L), st.map(_.memoryUsedBytes).getOrElse(0L),
          st.map(_.commitTimeMs).getOrElse(0L), st.map(_.numRowsDroppedByWatermark).getOrElse(0L),
          parquetFiles(new java.io.File(tableDir))))
      }
    }
    /** The query whose epochs count; the warm-up query's are ignored. */
    @volatile var query: java.util.UUID = null
    def all: Vector[Epoch] = epochs.asScala.toVector.filter(_.query == query).sortBy(_.batchId)
    /** End (wall ms) of the first batch that committed offset `o`. */
    def committedAt(o: Long): Option[Long] = all.find(_.endOffset >= o).map(_.endMs)
  }

  private def parquetFiles(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(parquetFiles).sum).getOrElse(0L)
    else if (f.getName.endsWith(".parquet")) 1L else 0L

  private def waitFor(what: String, timeoutMs: Long)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond) {
      if (System.currentTimeMillis() > deadline) throw new IllegalStateException(s"timed out waiting for $what")
      Thread.sleep(5)
    }
  }

  def run(spark: SparkSession, conf: Conf, report: Report, trace: Option[(Tracer, LayerReport)],
          race: Boolean): Unit = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val steadySec = conf.seconds.toDouble
    val steadyN = (RatePerS * steadySec).toInt

    // set-up: the event lists, their wire form, and a short throwaway
    // stream over the first events so the timed one starts warm; its
    // settled table is what the reader serves
    val ((events, backlogJson, steadyJson, warmTable), setupS, times) = Host.repeatedSetup(conf, "live", 3) { dir =>
      val ev = Gen.liveEvents(conf.seed, Backlog, steadyN)
      val backlog = ev.backlog.map(_.json)
      warmUp(spark, dir, backlog.take(WarmEvents))
      (ev, backlog, ev.steady.map(_.json), s"$dir/table")
    }
    report.metric("setup_s", setupS, "s")
    report.detail("setup_reps_s") = times.map(Json.num).mkString("[", ",", "]")

    val tableDir = s"${conf.work}/live/table"
    val progress = new Progress(tableDir)
    spark.streams.addListener(progress)
    val exec = trace.map { _ => val e = new ExecListener; spark.sparkContext.addSparkListener(e); e }
    /** A stream on a fresh table under `dir` with the whole backlog queued:
      * (source, backlog end offset, query, start wall ms). */
    def restart(dir: String): (MemoryStream[String], Long, StreamingQuery, Long) = {
      val mem = MemoryStream[String]
      val end = backlogJson.grouped(5000).map(c => mem.addData(c).json().toLong).toVector.last
      val t = System.currentTimeMillis()
      val q = StreamingPipeline.start(mem.toDF().withColumnRenamed("value", "json"),
        s"$dir/table", s"$dir/checkpoint", trigger = Trigger.ProcessingTime(0L))
      progress.query = q.id
      (mem, end, q, t)
    }
    def drained(end: Long, t: Long): Double = {
      waitFor("catch-up", 120000)(progress.committedAt(end).isDefined)
      report.attempt("catchup", ok = true)
      (progress.committedAt(end).get - t) / 1000.0
    }

    // phase 1: catch-up, WarmDrains + CatchupRounds times into fresh
    // tables; the last round's stream goes on into phase 2
    val catchups = (1 until WarmDrains + CatchupRounds).map { i =>
      val (m, end, q, t) = restart(s"${conf.work}/live/catchup-$i")
      try {
        val s = drained(end, t)
        if (i <= WarmDrains)
          steadyJson.grouped(RatePerS.toInt).take(WarmBatches).foreach { c =>
            m.addData(c)
            q.processAllAvailable()
          }
        s
      } finally q.stop()
    }.drop(WarmDrains)
    val (mem, backlogEnd, query, startMs) = restart(s"${conf.work}/live")
    val warmEvents = events.backlog.take(WarmEvents)
    val readTable = if (race) tableDir else warmTable
    val server = RestServer.live(spark, readTable, port = 0)
    try {
      val catchupReps = catchups :+ drained(backlogEnd, startMs)
      val catchupS = Stats.median(catchupReps)
      val catchupRate = Backlog / catchupS
      report.metric("throughput_per_s", catchupRate, "1/s")
      report.num("catchup_events_per_s", catchupRate, "1/s")
      report.num("catchup_s", catchupS, "s")
      report.detail("catchup_reps_s") = catchupReps.map(Json.num).mkString("[", ",", "]")

      // phase 2: steady open loop of events, one reader beside it
      val port = server.start()
      val (readHead, readSpan) =
        if (race) (events.steady.headOption.map(_.ts).getOrElse(Gen.EpochStartMs), 6 * Gen.HourMs)
        else { val ts = warmEvents.filter(_.valid).map(_.ts); (ts.min, ts.max - ts.min) }
      val nReads = math.max(1, (ReaderRatePerS * steadySec).toInt)
      val reads = Gen.liveReads(conf.seed, math.max(nReads, 30), readHead, readSpan)
      var readerOut: (Vector[Op], Vector[Double]) = null // read after reader.join()
      val reader = new Thread(() => {
        readerOut = Load.openLoop(nReads, ReaderRatePerS, 1, report, _ => !race) { i =>
          Load.http(port, reads(i).route, reads(i).path)
        }
      })
      reader.start()
      val chunk = math.max(1, (RatePerS * ChunkMs / 1000).toInt)
      val chunks = steadyJson.grouped(chunk).toVector
      val periodNs = ChunkMs * 1000000L
      val t0 = System.nanoTime()
      val t0Ms = System.currentTimeMillis()
      val fed = chunks.zipWithIndex.map { case (c, i) =>
        val due = t0 + i * periodNs
        var now = System.nanoTime()
        while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
        val off = mem.addData(c).json().toLong
        report.attempt("ingest", ok = true)
        // (offset, due wall ms, generator lag ms, events pending before this chunk)
        val done = progress.all.lastOption.map(_.endOffset).getOrElse(backlogEnd)
        (off, t0Ms + (due - t0) / 1000000L, Stats.ms(now - due), (off - 1 - done) * chunk)
      }
      val steadyWallMs = Stats.ms(System.nanoTime() - t0)
      waitFor("steady drain", 120000)(progress.committedAt(fed.last._1).isDefined)
      reader.join()
      query.stop()

      val fresh = fed.map { case (o, stampMs, _, _) => (progress.committedAt(o).get - stampMs).toDouble }
      report.metric("latency_p50_ms", Stats.median(fresh), "ms")
      report.metric("latency_p95_ms", Stats.quantile(fresh, 0.95), "ms")
      report.num("freshness_p50_ms", Stats.median(fresh), "ms")
      report.num("freshness_p95_ms", Stats.quantile(fresh, 0.95), "ms")
      val (readOps, readLag) = readerOut
      val readLat = readOps.map(_.latencyMs)
      report.num("read_latency_p50_ms", Stats.median(readLat), "ms")
      report.num("read_latency_p95_ms", Stats.quantile(readLat, 0.95), "ms")
      val lag = fed.map(_._3) ++ readLag
      report.num("gen.lag_p95_ms", Stats.quantile(lag, 0.95), "ms")
      report.num("gen.lag_max_ms", lag.max, "ms")
      val epochs = progress.all
      val steadyEpochs = epochs.filter(_.endOffset > backlogEnd)
      report.num("epochs", epochs.size, "count")
      // [trigger ms, input rows] of each phase-2 micro-batch
      report.detail("steady_batches") = steadyEpochs
        .map(e => s"[${e.durations.getOrElse("triggerExecution", 0L)},${e.inputRows}]").mkString("[", ",", "]")

      // correctness, outside the timed region
      check(spark, report, tableDir, events, backlogJson ++ steadyJson, epochs)
      if (!race) {
        val truth = new Truth(warmEvents)
        val kept = readOps.filter(o => o.ok && o.body != null)
        kept.foreach { o =>
          truth.compare(o.body, truth.answer(reads(o.index).req))
            .foreach(why => report.wrong(o.route, s"#${o.index}: $why"))
        }
        report.num("checked_responses", kept.size, "count")
      }

      trace.foreach { case (tracer, layers) =>
        exec.foreach(_.settle())
        def med(f: Epoch => Double) = if (steadyEpochs.isEmpty) 0.0 else Stats.median(steadyEpochs.map(f))
        layers.set("streaming.batch_ms", med(_.durations.getOrElse("triggerExecution", 0L).toDouble))
        layers.set("streaming.add_batch_ms", med(_.durations.getOrElse("addBatch", 0L).toDouble))
        layers.set("streaming.query_planning_ms", med(_.durations.getOrElse("queryPlanning", 0L).toDouble))
        layers.set("streaming.commit_ms", med(e =>
          (e.durations.getOrElse("walCommit", 0L) + e.durations.getOrElse("commitOffsets", 0L)).toDouble))
        layers.set("streaming.input_rows_per_batch", med(_.inputRows.toDouble))
        layers.set("streaming.busy_share",
          steadyEpochs.map(_.durations.getOrElse("triggerExecution", 0L)).sum / steadyWallMs)
        layers.set("streaming.backlog_events", Stats.median(fed.map(_._4.toDouble)))
        layers.set("streaming.state_rows", med(_.stateRows.toDouble))
        layers.set("streaming.state_rows_updated", med(_.stateUpdated.toDouble))
        layers.set("streaming.state_memory_bytes", med(_.stateMemory.toDouble))
        layers.set("streaming.state_commit_ms", med(_.stateCommitMs.toDouble))
        layers.set("streaming.rows_dropped_by_watermark", epochs.map(_.dropped).sum.toDouble)
        layers.set("streaming.table_files", med(_.tableFiles.toDouble))
        epochs.foreach { e =>
          tracer.add(Span(tracer.nextId(), 0, "streaming.epoch", s"epoch-${e.batchId}",
            (e.startMs - startMs) * 1000000L, (e.endMs - startMs) * 1000000L,
            e.durations.map { case (k, v) => k -> v.toDouble } + ("input_rows" -> e.inputRows.toDouble)))
        }
        // the reader's layers, repeated in-process on its table
        val open = HttpBench.Open(Stats.median(readLat), lag)
        HttpBench.traced(spark, readerServed(spark, readTable, port, reads), 30, open, tracer, layers)
        // exec.* per micro-batch, read after the reader's per-request figures
        exec.foreach(e => layers.execFrom(steadyEpochs.map(ep => s"epoch-${ep.batchId}"), e))
      }
    } finally {
      if (query.isActive) query.stop()
      server.stop()
      spark.streams.removeListener(progress)
      exec.foreach(spark.sparkContext.removeSparkListener)
    }
  }

  /** A short throwaway stream so the timed one does not pay first-use
    * code generation; it writes to its own table under `dir`. */
  private def warmUp(spark: SparkSession, dir: String, json: Seq[String]): Unit = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[String]
    mem.addData(json)
    val q = StreamingPipeline.start(mem.toDF().withColumnRenamed("value", "json"),
      s"$dir/table", s"$dir/checkpoint",
      trigger = Trigger.ProcessingTime(0L))
    try q.processAllAvailable() finally q.stop()
  }

  private def check(spark: SparkSession, report: Report, tableDir: String, events: Gen.LiveEvents,
                    allJson: Seq[String], epochs: Vector[Epoch]): Unit = {
    import spark.implicits._
    val all = events.backlog ++ events.steady
    val truth = new Truth(all)
    val got = StreamingPipeline.servingView(spark, tableDir)
      .select(col("key"), col("window_start"), col("count"), col("sum"), col("avg")).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime) -> (r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    if (got.size != truth.cells.size)
      report.wrong("table", s"${got.size} cells, expected ${truth.cells.size}")
    truth.cells.foreach { case (k, (c, s)) =>
      got.get(k) match {
        case None => report.wrong("table", s"missing cell $k")
        case Some((gc, gs, ga)) =>
          if (gc != c || gs != s.toDouble || math.abs(ga - s.toDouble / c) > 1e-9 * math.max(1.0, math.abs(ga)))
            report.wrong("table", s"cell $k = ($gc, $gs, $ga), expected ($c, ${s.toDouble})")
      }
    }
    // the pipeline's own parse + validate rule must reject exactly the planted records
    val (valid, _) = StreamingPipeline.validate(StreamingPipeline.parseReadings(allJson.toDF("json")))
    val rejected = allJson.size - valid.count()
    val planted = all.count(!_.valid)
    report.num("invalid_planted", planted, "count")
    report.num("invalid_rejected", rejected.toDouble, "count")
    if (rejected != planted) report.wrong("invalid", s"rejected $rejected records, planted $planted")
    val dropped = epochs.map(_.dropped).sum
    if (dropped != 0) report.wrong("watermark", s"$dropped rows dropped by the watermark")
  }

  private def readerServed(spark: SparkSession, tableDir: String, p: Int, reads: IndexedSeq[Gen.LiveRead]) =
    new Served {
      val port: Int = p
      def request(i: Int, warm: Boolean): (String, String) = (reads(i).route, reads(i).path)
      def check(i: Int, body: String): Option[String] = None
      def direct(i: Int, op: String, tracer: Tracer, layered: Layered): LayerSample =
        Serve.direct(spark, tableDir, reads(i).req, op, tracer, layered)
    }
}
