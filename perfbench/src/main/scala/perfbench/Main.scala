package perfbench

import org.apache.spark.sql.SparkSession

/**
 * One benchmark run: `--workload serve|live|live-race|retrieve|curate --seed N
 * --seconds S --trace 0|1 --work DIR [--trace-out FILE]`. Prints one line
 * `PERFBENCH {...}` with the run's counts, correctness and metrics: the
 * end-to-end metrics untraced, the per-layer metrics traced.
 */
object Main {
  val Workloads = Seq("serve", "live", "live-race", "retrieve", "curate")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val conf = Conf(a("workload"), a("seed").toLong, a("seconds").toInt,
      a.getOrElse("trace", "0") == "1", a("work"))
    require(Workloads.contains(conf.workload), s"unknown workload ${conf.workload}")
    require(conf.seconds >= 1, "seconds must be >= 1")

    val t0 = System.nanoTime()
    val spark = session(conf)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val report = new Report
    report.num("session_start_s", sessionS, "s")
    val trace = if (conf.trace) Some((new Tracer, new LayerReport)) else None
    try {
      Host.canary(spark, 1000000L) // compile the canary outside its readings
      val canaryStart = Host.canary(spark)
      conf.workload match {
        case "serve"     => Serve.run(spark, conf, report, trace)
        case "live"      => Live.run(spark, conf, report, trace, race = false)
        case "live-race" => Live.run(spark, conf, report, trace, race = true)
        case "retrieve"  => Retrieve.run(spark, conf, report, trace)
        case "curate"    => Curate.run(spark, conf, report, trace)
      }
      val canaryEnd = Host.canary(spark)
      report.detail("canary_s") = s"[${Json.num(canaryStart)},${Json.num(canaryEnd)}]"
      report.metric("peak_rss_mb", Host.peakRssMb(), "MB")
      trace.foreach { case (tracer, layers) =>
        // a traced run reports the per-layer metrics in place of the end-to-end ones
        report.metrics.clear()
        layers.toReport(report)
        a.get("trace-out").foreach { f =>
          val summary = layers.values.map { case (k, v) => s""""$k":${Json.num(v)}""" }
            .mkString("{", ",", "}")
          tracer.write(f, summary)
        }
      }
    } catch {
      case t: Throwable =>
        report.problem(s"run aborted: $t")
        t.printStackTrace()
    } finally {
      println("PERFBENCH " + report.json)
      System.out.flush()
      spark.stop()
    }
  }

  /** The session graft.Bench uses: local[N], AQE on, the engine's
    * extensions, UTC. Scratch space stays inside the run's directory. */
  def session(conf: Conf): SparkSession = {
    val cpus = conf.clients
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${conf.workload}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", s"${conf.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${conf.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
