package perfbench

import org.scalatest.funsuite.AnyFunSuite

class InputsSpec extends AnyFunSuite {

  private def cycles(seed: Long, n: Int) = new Inputs.IngestPlan(seed).take(n).toVector

  test("the same seed gives the same request list, entry order and trade batches") {
    assert(Inputs.fetchRequests(7, 5) == Inputs.fetchRequests(7, 5))
    assert(Inputs.entryOrder(7, 0) == Inputs.entryOrder(7, 0))
    assert(Inputs.entryOrder(7, 3) == Inputs.entryOrder(7, 3))
    assert(cycles(7, 11) == cycles(7, 11))
  }

  test("a different seed gives different inputs") {
    assert(Inputs.fetchRequests(7, 5) != Inputs.fetchRequests(8, 5))
    assert(Inputs.entryOrder(7, 0) != Inputs.entryOrder(8, 0))
    assert(cycles(7, 6).map(_.trades) != cycles(8, 6).map(_.trades))
    assert(cycles(7, 6).map(_.corrections) != cycles(8, 6).map(_.corrections))
  }

  test("passes of one seed are shuffled differently but cover every entry once") {
    val all = (Inputs.AlphaSet ++ Inputs.CurationSet).sorted
    assert(Inputs.entryOrder(7, 0).sorted == all)
    assert(Inputs.entryOrder(7, 1).sorted == all)
    assert(Inputs.entryOrder(7, 0) != Inputs.entryOrder(7, 1))
  }

  test("fetch requests keep to the corpus and their block strata") {
    val qs = Inputs.fetchRequests(3, 4)
    assert(qs.size == 4 * Inputs.FetchBlock)
    qs.foreach { q =>
      val windowS = (q.endUs - q.startUs) / 1000000L
      assert(windowS >= 3600 && windowS <= 30 * 86400)
      assert(q.startUs >= Inputs.Epoch0Us)
      assert(q.endUs <= Inputs.Epoch0Us + Inputs.CorpusDays * Inputs.DayUs)
    }
    qs.grouped(Inputs.FetchBlock).foreach { b =>
      assert(b.count(_.limit.isDefined) == 4)
      assert(b.count(_.pruned) == 6)
      assert(b.count(_.underlying == "BTC") == 6)
      // one window from each twelfth of the log-range
      val lo = math.log(3600.0)
      val hi = math.log(30 * 86400.0)
      val strata = b.map(q => ((math.log((q.endUs - q.startUs) / 1e6) - lo) / (hi - lo) *
        Inputs.FetchBlock).toInt.min(Inputs.FetchBlock - 1))
      assert(strata.sorted == (0 until Inputs.FetchBlock))
    }
  }

  test("ingest batches re-deliver about a tenth of the previous batch and correct every 5th") {
    val cs = cycles(5, 11)
    assert(cs.head.trades.map(_.tradeId).distinct.size == Inputs.BatchSize)
    cs.sliding(2).foreach { case Seq(prev, cur) =>
      val prevIds = prev.trades.map(_.tradeId).toSet
      val again = cur.trades.count(t => prevIds(t.tradeId))
      assert(again == (Inputs.BatchSize * Inputs.RedeliveryShare).toInt)
      assert(cur.trades.forall(t => t.tsUs >= prev.startUs && t.tsUs < cur.endUs))
    }
    assert(cs.map(_.corrections.nonEmpty) ==
      (0 until 11).map(i => i > 0 && i % Inputs.CorrectionEvery == 0))
    val stored = cs.take(6).flatMap(_.trades).map(_.tradeId).toSet
    assert(cs(5).corrections.forall(c => stored(c.tradeId)))
  }
}
