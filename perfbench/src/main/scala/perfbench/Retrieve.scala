package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.{Generations, Quantization, Retrieval, Similarity, TextAnalysis}
import graft.serving.RetrievalServer

/**
 * `retrieve`: a lexical BM25 index and an IVF-PQ index built from a seeded
 * corpus (1000 documents, one 64-d vector each, sharing ids so hybrid
 * search is defined), served by
 * `RetrievalServer` under an open loop of lexical, ANN and hybrid requests,
 * then a closed-loop saturation phase.
 */
object Retrieve {
  val Docs = 1000
  val Dim = 64
  val RatePerS = 1.25
  /** Kept responses re-derived in-process by the correctness check. */
  val Checked = 6

  final case class Artifacts(lex: String, ivfPq: String, corpus: String, server: RetrievalServer)

  def run(spark: SparkSession, conf: Conf, report: Report, trace: Option[(Tracer, LayerReport)]): Unit = {
    import spark.implicits._
    val (art, setupS, times) = Host.repeatedSetup(conf, "retrieve", 3) { dir =>
      val docs = Gen.documents(conf.seed, Docs)
      val vecs = Gen.embeddings(conf.seed, Docs, Dim)
      val corpus = vecs.map(v => (v.id, v.v.toSeq)).toDF("vec_id", "embedding")
      corpus.write.parquet(s"$dir/corpus")
      val stored = spark.read.parquet(s"$dir/corpus")
      TextAnalysis.saveLexicalIndex(docs.map(d => (d.id, d.text)).toDF("doc_id", "text"), s"$dir/lex",
        nBuckets = 16)
      val ivf = Similarity.buildIvfIndex(stored, 16, kmeansIters = 1)
      val books = Quantization.buildPqCodebooks(stored, 8, 32, kmeansIters = 1)
      Similarity.saveIvfPqWith(ivf, books, s"$dir/ivfpq")
      // construction loads the ANN quantizers: the server's own start-up cost
      Artifacts(s"$dir/lex", s"$dir/ivfpq", s"$dir/corpus",
        new RetrievalServer(spark, s"$dir/lex", s"$dir/ivfpq", s"$dir/corpus"))
    }
    report.metric("setup_s", setupS, "s")
    report.detail("setup_reps_s") = times.map(Json.num).mkString("[", ",", "]")

    val vecs = Gen.embeddings(conf.seed, Docs, Dim)
    val requests = Gen.retrieveRequests(conf.seed, 4000, vecs)
    val warm = Gen.retrieveRequests(conf.seed ^ 0x5eed, HttpBench.WarmRequests, vecs)
    val index = Similarity.loadIvfPq(spark, art.ivfPq)
    val corpus = spark.read.parquet(art.corpus)
    def lexPath = Generations.resolveIfPublished(spark, art.lex).getOrElse(art.lex)

    /** The library composition each endpoint answers with. */
    def library(req: Gen.RetrieveReq, lex: String, span: String => (=> DataFrame) => DataFrame): DataFrame = {
      def ann(v: Array[Float], k: Int) = Similarity.ivfPqQuery(index.encoded, index.centroids,
        index.books, corpus, Seq((0L, v.toSeq)).toDF("vec_id", "embedding"), k, 8,
        shortlist = math.max(50, k), excludeSelf = false)
      req match {
        case Gen.LexicalReq(terms, k) => span("operators.build")(TextAnalysis.bm25QueryIndex(spark, lex, terms, k))
        case Gen.AnnReq(v, k) => span("operators.build")(ann(v, k).orderBy(col("rnk")))
        case Gen.HybridReq(terms, v, k) => span("operators.build") {
          val depth = math.max(20, k)
          val l = Retrieval.ranked(TextAnalysis.bm25QueryIndex(spark, lex, terms, depth), "doc_id", "score")
            .select(col("doc_id"), col("rnk"))
          val a = ann(v, depth).select(col("cid").as("doc_id"), col("rnk"))
          Retrieval.rrfFuse(l, a, k, idCol = "doc_id").orderBy(col("rnk"))
        }
      }
    }
    def route(r: Gen.RetrieveReq) = r match {
      case _: Gen.LexicalReq => "lexical"; case _: Gen.AnnReq => "ann"; case _ => "hybrid"
    }
    def rowJson(r: Row): Seq[String] = (0 until r.length).map(i => r.get(i) match {
      case d: Double => d.toString; case x => x.toString })

    var checked = 0
    val served = new Served {
      val port: Int = art.server.start()
      def request(i: Int, warmUp: Boolean): (String, String) = {
        val r = if (warmUp) warm(i) else requests(i % requests.size)
        (route(r), r.path)
      }
      def check(i: Int, body: String): Option[String] =
        if (checked >= Checked) None
        else {
          checked += 1
          val req = requests(i % requests.size)
          // the ANN endpoint answers without the query-id column
          val skip = req match { case _: Gen.AnnReq => 1; case _ => 0 }
          val expected = library(req, lexPath, _ => df => df).collect().map(r => rowJson(r).drop(skip))
          val got = Json.parse(body).get("data").elements().asScala.toSeq
            .map(_.elements().asScala.toSeq.map(n => if (n.isNumber && !n.isIntegralNumber) n.asDouble.toString else n.asText))
          if (got.size != expected.length) Some(s"${got.size} rows, expected ${expected.length}")
          else got.zip(expected).collectFirst { case (g, e) if g != e => s"row $g, expected $e" }
        }
      def direct(i: Int, op: String, tracer: Tracer, layered: Layered): LayerSample = {
        val t0 = System.nanoTime()
        val lex = tracer.span("sources.listing", op)(lexPath)
        val df = library(requests(i % requests.size), lex, name => df => tracer.span(name, op)(df))
        layered.run(op, t0, df)._2
      }
    }
    try {
      val open = HttpBench.run(spark, conf, report, served, RatePerS)
      report.num("checked_responses", checked, "count")
      trace.foreach { case (tracer, layers) =>
        HttpBench.traced(spark, served, 40, open, tracer, layers)
      }
    } finally art.server.stop()
  }
}
