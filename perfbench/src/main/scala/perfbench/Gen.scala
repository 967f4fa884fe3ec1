package perfbench

import java.util.SplittableRandom

/**
 * Seeded input generators. Every event, document, vector and request a run
 * feeds the engine comes from here, so one seed fixes all inputs: the same
 * seed gives the same lists, another seed gives other lists (checked by
 * `GenSpec`). Each list draws from its own stream, so changing how many
 * values one list takes leaves the others as they were.
 */
object Gen {
  val Base32 = "0123456789bcdefghjkmnpqrstuvwxyz"
  val HourMs = 3600000L
  val DayMs: Long = 24 * HourMs
  /** Start of the generated event-time axis: 2024-03-04T00:00Z. */
  val EpochStartMs = 1709510400000L

  def rng(seed: Long, stream: Int): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L)

  /** Zipf(n, s) over 0 until n, drawn by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def draw(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  def gaussian(r: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian of its own
    val u = math.max(r.nextDouble(), 1e-300)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  def geohashChars(r: SplittableRandom, n: Int): String = {
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) { sb.append(Base32.charAt(r.nextInt(32))); i += 1 }
    sb.toString
  }

  /** Cell of a geohash as (south, north, west, east), decoded here rather
    * than by the engine so the requests do not depend on the code under test. */
  def cellBox(hash: String): (Double, Double, Double, Double) = {
    var latLo = -90.0; var latHi = 90.0; var lonLo = -180.0; var lonHi = 180.0
    var isLon = true
    hash.foreach { c =>
      val v = Base32.indexOf(c)
      require(v >= 0, s"not a geohash: $hash")
      for (b <- 4 to 0 by -1) {
        val set = ((v >> b) & 1) == 1
        if (isLon) { val m = (lonLo + lonHi) / 2; if (set) lonLo = m else lonHi = m }
        else { val m = (latLo + latHi) / 2; if (set) latLo = m else latHi = m }
        isLon = !isLon
      }
    }
    (latLo, latHi, lonLo, lonHi)
  }

  // ------------------------------------------------------------ readings

  /** One sensor reading in the reference's wire format. `valid = false`
    * marks a planted bad record (malformed JSON or negative timestamp). */
  final case class Reading(ts: Long, geohash: String, sensor: Int, temp: Double,
                           valid: Boolean = true, malformed: Boolean = false) {
    def json: String =
      if (malformed) s"""{"timestamp": $ts, "geohash": "$geohash", "sensorId": """
      else f"""{"timestamp": $ts, "geohash": "$geohash", "sensorId": "s$sensor%06d", "tempVal": $temp, "tempUnit": "c"}"""
  }

  /** The spatial layout of one seed: a few dense regions (4-char prefixes)
    * whose 6-char cells have Zipf popularity, plus a sparse background. */
  final class World(seed: Long) {
    private val r = rng(seed, 1)
    val regions: IndexedSeq[String] =
      Iterator.continually(geohashChars(r, 4)).distinct.take(5).toIndexedSeq
    val cellsPerRegion = 96
    /** Distinct 6-char cells per region, most popular first. */
    val cells: IndexedSeq[IndexedSeq[String]] = regions.map { reg =>
      Iterator.continually(reg + geohashChars(r, 2)).distinct.take(cellsPerRegion).toIndexedSeq
    }
    private val regionZipf = new Zipf(regions.size, 0.8)
    private val cellZipf = new Zipf(cellsPerRegion, 1.1)
    val denseShare = 0.85

    def geohash(r: SplittableRandom): String =
      if (r.nextDouble() < denseShare) {
        val reg = regionZipf.draw(r)
        cells(reg)(cellZipf.draw(r)) + geohashChars(r, 6)
      } else geohashChars(r, 12)

    def hotRegion(r: SplittableRandom): Int = regionZipf.draw(r)
    def hotCell(r: SplittableRandom, region: Int): String = cells(region)(cellZipf.draw(r))
  }

  def temp(r: SplittableRandom): Double = math.rint((18 + 7 * gaussian(r)) * 100) / 100

  /** Historical readings for the `serve` table: `n` readings spread over
    * `days` days from [[EpochStartMs]]. */
  def history(seed: Long, n: Int, days: Int): IndexedSeq[Reading] = {
    val w = new World(seed)
    val r = rng(seed, 2)
    IndexedSeq.fill(n) {
      Reading(EpochStartMs + (r.nextDouble() * days * DayMs).toLong,
        w.geohash(r), r.nextInt(5000), temp(r))
    }
  }

  // ------------------------------------------------------------ serve requests

  sealed trait ServeReq { def path: String }
  final case class HistoryReq(op: String, prefixes: Seq[String],
                              interval: Option[String], fromMs: Long, toMs: Long)
    extends ServeReq {
    def path: String = {
      val range = interval match {
        case Some(iv) => s"interval=$iv&to=$toMs"
        case None     => s"from=$fromMs&to=$toMs"
      }
      s"/api/temperature/aggregate/$op/history?geohashes=${prefixes.mkString(",")}&$range"
    }
  }
  final case class SnapshotReq(op: String, tsMs: Long,
                               north: Double, west: Double, south: Double, east: Double)
    extends ServeReq {
    def path: String =
      s"/api/temperature/aggregate/$op/snapshot?ts=$tsMs&bbox=$north,$west,$south,$east"
  }

  val Ops = IndexedSeq("count", "sum", "avg")

  /** Serving request `i` has kind `ServeKinds(i % 8)` and op `Ops(i % 3)`:
    * a fixed cycle, so every run has the same mix at the same cost and
    * only the places and times vary with the seed. History kinds fix the
    * interval and the number and length of prefixes; snapshot kinds fix the
    * box's shape, and with it the size of the engine's cover. */
  private val ServeKinds = IndexedSeq("1day", "cell", "all", "corner", "range", "region", "1week", "block")

  /** `n` serving requests over a table of `days` days: half history (1-3
    * prefixes of length 3-5; named intervals or a 24 h range), half
    * snapshot (a box inside one cell, over a corner of 2x2 cells, over 3x4
    * cells, or inside a whole region: covers of 1, 4, 12 and 1 prefixes),
    * recent hours favoured. */
  def serveRequests(seed: Long, n: Int, days: Int): IndexedSeq[ServeReq] = {
    val w = new World(seed)
    val r = rng(seed, 3)
    val endMs = EpochStartMs + days * DayMs
    val hours = days * 24
    def cell() = w.hotCell(r, w.hotRegion(r))
    IndexedSeq.tabulate(n) { i =>
      val op = Ops(i % 3)
      ServeKinds(i % ServeKinds.size) match {
        case "1day"  => HistoryReq(op, Seq(cell().take(4)), Some("1day"), 0L, endMs)
        case "all"   => HistoryReq(op, Seq(w.hotCell(r, 0).take(5), w.hotCell(r, 1).take(5)), Some("all"), 0L, endMs)
        case "1week" => HistoryReq(op, Seq(cell().take(5)), Some("1week"), 0L, endMs)
        case "range" =>
          val from = EpochStartMs + r.nextInt(hours - 24) * HourMs
          HistoryReq(op, w.regions.take(3).map(_.take(3)), None, from, from + DayMs)
        case shape =>
          // recent hours first: geometric draw back from the newest hour
          val back = math.min(hours - 1, (-math.log(1 - r.nextDouble()) * 10).toInt)
          val ts = endMs - (back + 1) * HourMs + r.nextInt(3600) * 1000L
          val c = cell()
          // the box in units of the cell it starts from: (x0, y0, x1, y1)
          val (hash, (x0, y0, x1, y1)) = shape match {
            case "cell"   => (c, (0.15, 0.15, 0.85, 0.85))
            case "corner" => (c, (0.6, 0.6, 1.4, 1.4))
            case "block"  => (c, (0.25, 0.25, 2.75, 3.75))
            case _        => (c.take(4), (0.15, 0.15, 0.85, 0.85))
          }
          val (s, nn, we, e) = cellBox(hash)
          val (cw, ch) = (e - we, nn - s)
          SnapshotReq(op, ts, s + y1 * ch, we + x0 * cw, s + y0 * ch, we + x1 * cw)
      }
    }
  }

  // ------------------------------------------------------------ live events

  /** The `live` stream: a backlog (event time over the 12 h before the
    * stream's start) and a steady tail (event time moving forward from
    * it), with `outOfOrderShare` of the tail stamped up to 6 h late — all
    * inside the pipeline's 24 h watermark — and `badShare` of all records
    * planted malformed or with a negative timestamp. */
  final case class LiveEvents(backlog: IndexedSeq[Reading], steady: IndexedSeq[Reading])

  def liveEvents(seed: Long, backlogN: Int, steadyN: Int,
                 outOfOrderShare: Double = 0.1, badShare: Double = 0.01): LiveEvents = {
    val w = new World(seed)
    val r = rng(seed, 4)
    val t0 = EpochStartMs + 2 * DayMs
    def planted(x: Reading): Reading =
      if (r.nextDouble() >= badShare) x
      else if (r.nextBoolean()) x.copy(valid = false, malformed = true)
      else x.copy(ts = -1 - r.nextInt(1000000), valid = false)
    val backlog = IndexedSeq.tabulate(backlogN) { i =>
      planted(Reading(t0 - 12 * HourMs + i * (12 * HourMs / backlogN),
        w.geohash(r), r.nextInt(5000), temp(r)))
    }
    val steady = IndexedSeq.tabulate(steadyN) { i =>
      val inOrder = t0 + i * (6 * HourMs / math.max(1, steadyN))
      val ts = if (r.nextDouble() < outOfOrderShare) inOrder - r.nextInt(6 * 3600) * 1000L else inOrder
      planted(Reading(ts, w.geohash(r), r.nextInt(5000), temp(r)))
    }
    LiveEvents(backlog, steady)
  }

  /** A read beside the `live` stream. */
  final case class LiveRead(req: ServeReq) {
    def route: String = req match { case _: HistoryReq => "live-history"; case _ => "live-snapshot" }
    def path: String = req.path
  }

  /** `n` reads of the newest hours while event time moves from `headMs`
    * over `spanMs`: the day before the head on hot prefixes, or the head's
    * hour in a hot cell or region. */
  def liveReads(seed: Long, n: Int, headMs: Long, spanMs: Long): IndexedSeq[LiveRead] = {
    val w = new World(seed)
    val r = rng(seed, 8)
    IndexedSeq.tabulate(n) { i =>
      val ts = headMs + (spanMs * i.toDouble / n).toLong
      val reg = w.hotRegion(r)
      val op = Ops(r.nextInt(3))
      LiveRead(
        if (r.nextBoolean()) HistoryReq(op, Seq(w.hotCell(r, reg).take(4 + r.nextInt(2))), Some("1day"), 0L, ts)
        else {
          val (s, nn, we, e) = cellBox(if (r.nextBoolean()) w.hotCell(r, reg) else w.regions(reg))
          SnapshotReq(op, ts, nn, we, s, e)
        })
    }
  }

  // ------------------------------------------------------------ corpus

  val Vocabulary: IndexedSeq[String] = IndexedSeq(
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "fast", "batch", "part", "scan", "query",
    "agg", "key", "row", "the", "a", "geohash", "sensor", "index", "shard",
    "cache", "plan", "epoch", "prefix", "bucket", "token", "shuffle", "stage",
    "task", "spill", "codec", "page", "footer", "schema", "offset", "commit")
  val Langs = IndexedSeq("en", "en", "en", "de", "es", "fr", "zh")

  final case class Doc(id: Long, text: String, lang: String, source: String)

  /** `n` documents of 12-70 Zipf-drawn words from [[Vocabulary]]. */
  def documents(seed: Long, n: Int): IndexedSeq[Doc] = {
    val r = rng(seed, 5)
    val z = new Zipf(Vocabulary.size, 0.7)
    IndexedSeq.tabulate(n) { i =>
      val len = 12 + r.nextInt(59)
      val text = Seq.fill(len)(Vocabulary(z.draw(r))).mkString(" ")
      Doc(i.toLong, text, Langs(r.nextInt(Langs.size)), s"src${r.nextInt(20)}")
    }
  }

  final case class Vec(id: Long, v: Array[Float], label: Int)

  /** `n` unit vectors of dimension `dim` around 10 seeded centres. */
  def embeddings(seed: Long, n: Int, dim: Int): IndexedSeq[Vec] = {
    val r = rng(seed, 6)
    val centres = IndexedSeq.fill(10)(Array.fill(dim)(gaussian(r)))
    IndexedSeq.tabulate(n) { i =>
      val label = r.nextInt(10)
      val raw = centres(label).map(_ + 0.8 * gaussian(r))
      val norm = math.sqrt(raw.map(x => x * x).sum)
      Vec(i.toLong, raw.map(x => (x / norm).toFloat), label)
    }
  }

  // ------------------------------------------------------------ retrieval requests

  sealed trait RetrieveReq { def path: String; def k: Int }
  final case class LexicalReq(terms: Seq[String], k: Int) extends RetrieveReq {
    def path = s"/api/retrieve/lexical?terms=${terms.mkString(",")}&k=$k"
  }
  final case class AnnReq(vector: Array[Float], k: Int) extends RetrieveReq {
    def path = s"/api/retrieve/ann?vector=${vector.mkString(",")}&k=$k"
  }
  final case class HybridReq(terms: Seq[String], vector: Array[Float], k: Int) extends RetrieveReq {
    def path = s"/api/retrieve/hybrid?terms=${terms.mkString(",")}&vector=${vector.mkString(",")}&k=$k"
  }

  /** Kind of retrieval request `i`, a fixed cycle: 4 lexical, 4 ANN, 2 hybrid. */
  private val RetrieveKinds = "LALHALALHA"

  /** `n` retrieval requests: lexical (1-4 Zipf-drawn corpus terms), ANN (a
    * perturbed corpus vector) and hybrid (both). */
  def retrieveRequests(seed: Long, n: Int, corpus: IndexedSeq[Vec]): IndexedSeq[RetrieveReq] = {
    val r = rng(seed, 7)
    val z = new Zipf(Vocabulary.size, 0.9)
    def terms() = Seq.fill(1 + r.nextInt(4))(Vocabulary(z.draw(r))).distinct
    def vector() = {
      val base = corpus(r.nextInt(corpus.size)).v
      // four decimals keep the URL short; the same string is what the server parses
      base.map(x => (math.rint((x + 0.05 * gaussian(r)) * 1e4) / 1e4).toFloat)
    }
    IndexedSeq.tabulate(n) { i =>
      RetrieveKinds(i % RetrieveKinds.length) match {
        case 'L' => LexicalReq(terms(), 10)
        case 'A' => AnnReq(vector(), 5)
        case _   => HybridReq(terms(), vector(), 10)
      }
    }
  }
}
