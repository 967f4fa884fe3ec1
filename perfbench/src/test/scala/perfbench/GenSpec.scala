package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The generators are deterministic per seed and differ across seeds, so a
  * claim measured on some seeds can be re-checked on a held-out one. */
class GenSpec extends AnyFunSuite {
  private val corpus = Gen.embeddings(7, 200, 16)

  /** Every list a run feeds the engine, rendered to comparable strings. */
  private def inputs(seed: Long): Map[String, Seq[String]] = {
    val live = Gen.liveEvents(seed, 500, 500)
    Map(
      "history" -> Gen.history(seed, 500, 4).map(_.json),
      "serveRequests" -> Gen.serveRequests(seed, 200, 4).map(_.path),
      "liveBacklog" -> live.backlog.map(_.json),
      "liveSteady" -> live.steady.map(_.json),
      "liveReads" -> Gen.liveReads(seed, 50, Gen.EpochStartMs, 6 * Gen.HourMs).map(_.path),
      "documents" -> Gen.documents(seed, 100).map(_.toString),
      "embeddings" -> Gen.embeddings(seed, 100, 16).map(v => s"${v.id} ${v.label} ${v.v.mkString(",")}"),
      "retrieveRequests" -> Gen.retrieveRequests(seed, 100, corpus).map(_.path))
  }

  test("the same seed gives the same inputs") {
    val (a, b) = (inputs(11), inputs(11))
    a.keys.foreach(k => assert(a(k) == b(k), k))
  }

  test("another seed gives other inputs") {
    val (a, b) = (inputs(11), inputs(12))
    a.keys.foreach(k => assert(a(k) != b(k), k))
  }

  test("live events: late ones stay inside the 24 h watermark, bad ones are planted") {
    val ev = Gen.liveEvents(3, 20000, 20000)
    var maxTs = Long.MinValue
    (ev.backlog ++ ev.steady).filter(_.valid).foreach { r =>
      maxTs = math.max(maxTs, r.ts)
      assert(r.ts > maxTs - 24 * Gen.HourMs)
    }
    val bad = (ev.backlog ++ ev.steady).count(!_.valid)
    assert(bad > 200 && bad < 600, bad)
    assert(ev.steady.exists(r => r.valid && r.ts < ev.steady.head.ts), "no late events")
  }

  test("requests are well formed") {
    Gen.serveRequests(5, 400, 4).foreach {
      case h: Gen.HistoryReq =>
        assert(h.prefixes.nonEmpty && h.prefixes.forall(p => p.length >= 3 && p.length <= 5))
        assert(h.interval.isDefined || h.fromMs < h.toMs)
      case s: Gen.SnapshotReq => assert(s.north >= s.south && s.east >= s.west)
    }
    Gen.retrieveRequests(5, 100, corpus).foreach {
      case Gen.LexicalReq(t, _)   => assert(t.nonEmpty && t.size <= 4)
      case Gen.AnnReq(v, _)       => assert(v.length == 16)
      case Gen.HybridReq(t, v, _) => assert(t.nonEmpty && v.length == 16)
    }
  }
}
