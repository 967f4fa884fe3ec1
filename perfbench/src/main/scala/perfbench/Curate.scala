package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/**
 * `curate`: repeated full passes over two oracle-checked LLM-curation
 * entries of `SparkEntry.queries` on a seeded corpus, each entry fully
 * collected: `winnow_spans` (near-duplicate copies, winnowing fingerprints,
 * shared-span regions) and `sparse_similar_docs` (exact dedup, then trigram
 * tf-idf cosine over an inverted-index self-join).
 * Correctness: every pass returns the same rows, no entry is empty, and
 * the entries with a DuckDB oracle are written out for `oracle.py` to
 * compare against `SparkEntry.oracleSql` after the run.
 */
object Curate {
  val Entries = Seq("winnow_spans", "sparse_similar_docs")
  val Docs = 300

  def run(spark: SparkSession, conf: Conf, report: Report, trace: Option[(Tracer, LayerReport)]): Unit = {
    import spark.implicits._
    val (sfDir, setupS, times) = Host.repeatedSetup(conf, "curate", 9) { dir =>
      Gen.documents(conf.seed, Docs).map(d => (d.id, d.text, d.lang, d.source, d.text.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.parquet(s"$dir/documents.parquet")
      dir
    }
    report.metric("setup_s", setupS, "s")
    report.detail("setup_reps_s") = times.map(Json.num).mkString("[", ",", "]")
    val fns = Entries.map(e => e -> SparkEntry.queries(e))

    final case class Run(name: String, rows: Array[Row], ms: Double, schema: StructType)
    def pass(): Seq[Run] = fns.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val (rows, schema) = try { val df = fn(spark, sfDir); (df.collect(), df.schema) } catch {
        case t: Throwable => report.failure(s"$name: $t"); (null, null)
      }
      report.attempt(name, rows != null)
      Run(name, rows, Stats.ms(System.nanoTime() - t0), schema)
    }

    pass() // warm-up: first-use code generation stays out of the timed passes
    val start = System.nanoTime()
    val deadline = start + conf.seconds * 1000000000L
    var passes = Vector.empty[Seq[Run]]
    while (passes.size < 2 || System.nanoTime() < deadline) passes :+= pass()
    val elapsed = (System.nanoTime() - start) / 1e9
    // the user-facing operation is one full pass: its wall time is the latency
    val passMs = passes.map(_.map(_.ms).sum)
    report.metric("latency_p50_ms", Stats.median(passMs), "ms")
    report.metric("latency_p95_ms", Stats.quantile(passMs, 0.95), "ms")
    report.metric("throughput_per_s", passes.size * Entries.size / elapsed, "1/s")
    report.num("job_s", Stats.median(passMs) / 1000, "s")
    report.num("passes", passes.size, "count")
    Entries.foreach { e =>
      report.num(s"$e.ms", Stats.median(passes.flatten.filter(_.name == e).map(_.ms)), "ms")
    }

    // correctness, outside the timed region
    val last = passes.last
    passes.foreach(_.zip(last).foreach { case (r, ref) =>
      if (r.rows != null && ref.rows != null && r.rows.toSeq != ref.rows.toSeq)
        report.wrong(r.name, "rows differ between passes")
    })
    val out = s"${conf.work}/curate-results"
    new java.io.File(out).mkdirs()
    last.filter(_.rows != null).foreach { r =>
      if (r.rows.isEmpty) report.wrong(r.name, "no rows")
      spark.createDataFrame(r.rows.toSeq.asJava, r.schema).coalesce(1).write.parquet(s"$out/${r.name}")
    }
    val oracles = Entries.flatMap(e => SparkEntry.oracleSql.get(e).map(e -> _))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle.json"),
      oracles.map { case (e, sql) => s""""$e":"${Json.str(sql)}"""" }.mkString("{", ",", "}"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/documents"), s"$sfDir/documents.parquet")

    trace.foreach { case (tracer, layers) =>
      val exec = new ExecListener
      spark.sparkContext.addSparkListener(exec)
      val layered = new Layered(tracer)
      val samples = (0 until 2).flatMap { k =>
        fns.map { case (name, fn) =>
          val op = s"$name-$k"
          ExecListener.as(spark, op) {
            val t0 = System.nanoTime()
            val df = tracer.span("operators.build", op)(fn(spark, sfDir))
            layered.run(op, t0, df)._2
          }
        }
      }
      exec.settle()
      spark.sparkContext.removeSparkListener(exec)
      layers.fromSamples(samples, tracer, exec)
    }
  }
}
