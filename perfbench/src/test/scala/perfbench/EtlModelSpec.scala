package perfbench

import java.time.{LocalDate, LocalDateTime}

import org.scalatest.funsuite.AnyFunSuite

import Etl._

class EtlModelSpec extends AnyFunSuite {
  private val aapl = Asset("AAPL", "STOCK")
  private val btc = Asset("BTC", "CRYPTO")
  private val newCo = Asset("NEW", "STOCK")
  private val bad = Asset("BAD", "STOCK")
  private def q(a: Asset, p: Double, high: Option[Double] = Some(1e6)) = Quote(a, p, 0.0, 0.0, high, 0.0)
  private def iq(s: String, p: Double) = IndexQuote(s, p, 0.0, 0.0, p, p)
  private def at(y: Int, m: Int, d: Int) = LocalDateTime.of(y, m, d, 16, 0)
  private def month(y: Int, m: Int) = LocalDate.of(y, m, 1)

  /** A hand-built world small enough to check by eye. */
  private val world = Inputs(
    universe = IndexedSeq(aapl, btc),
    quotes = Map(aapl -> q(aapl, 1), btc -> q(btc, 2), newCo -> q(newCo, 3), bad -> q(bad, 4, high = None)),
    series = IndexedSeq(
      Point(aapl, at(2020, 1, 10), 10), Point(aapl, at(2020, 1, 20), 11),
      Point(aapl, at(2020, 2, 10), 12), Point(aapl, at(2020, 3, 10), 13),
      Point(aapl, at(2020, 4, 10), 14), Point(aapl, at(2020, 12, 10), 20),
      Point(btc, at(2020, 6, 1), 50)),
    indexQuotes = Map("^A" -> iq("^A", 100), "^B" -> iq("^B", 200)),
    marketStore = Seq(MarketRow(q(aapl, 0.5), Epoch.minusDays(1))),
    // AAPL holds Jan (current), Mar (stale) and Apr (current) of 2020
    historyStore = Map((aapl, month(2020, 1)) -> 11.0, (aapl, month(2020, 3)) -> 99.0, (aapl, month(2020, 4)) -> 14.0),
    indexStore = Seq(IndexRow(iq("^A", 90), Epoch.minusDays(1))),
    requests = IndexedSeq.empty)

  test("market update fetches only unseen, valid listings") {
    val m = new Model(world)
    assert(m(Market(0, Seq(aapl, newCo, bad))) == Expected(1, "complete", Map.empty, 1))
    assert(m.market(newCo) == MarketRow(q(newCo, 3), Market(0, Nil).now))
    assert(m.market(aapl).quote.price == 0.5) // already stored: not refetched
    assert(!m.market.contains(bad))            // rejected by validation
    assert(m(Market(1, Seq(newCo))) == Expected(0, "complete", Map.empty, 0))
  }

  test("historical backfill fetches each key's gap span and overwrites it") {
    val m = new Model(world)
    // AAPL misses Feb and May..Dec: one span Feb..Dec, which re-fetches the
    // stored Mar (stale, so changed) and Apr (current, so unchanged);
    // BTC misses everything: span Jan..Dec holds its single point
    val got = m(Historical(0, Seq(aapl, btc), 2020))
    assert(got.recordCount == 5) // Feb, Mar, Apr, Dec for AAPL; Jun for BTC
    assert(got.perBatch == Map(("STOCK", 1L) -> 4L, ("CRYPTO", 1L) -> 1L))
    assert(got.changedRows == 4)  // AAPL Feb, Mar (stale), Dec; BTC Jun
    assert(m.history((aapl, month(2020, 3))) == 13.0)
    assert(m.history((aapl, month(2020, 1))) == 11.0) // outside the span
    assert(m.history((btc, month(2020, 6))) == 50.0)
    // months without feed points stay missing: a repeat finds nothing new
    assert(m(Historical(1, Seq(aapl), 2020)) == Expected(0, "complete", Map(("STOCK", 1L) -> 0L), 0))
    assert(!m.history.contains((aapl, month(2020, 5))))
  }

  test("a wide backfill is cut into batches of 50 symbols per asset type, in symbol order") {
    val stocks = (0 until 55).map(i => Asset(f"W$i%02d", "STOCK"))
    // the first 50 symbols have one point each, the last five have two
    val series = stocks.zipWithIndex.flatMap { case (a, i) =>
      Point(a, at(2020, 5, 1), 1.0) +: (if (i >= 50) Seq(Point(a, at(2020, 6, 1), 2.0)) else Nil)
    } :+ Point(btc, at(2020, 6, 1), 50)
    val m = new Model(world.copy(universe = stocks.toIndexedSeq :+ btc, series = series.toIndexedSeq,
      historyStore = Map.empty))
    val got = m(Historical(0, scala.util.Random.shuffle(stocks) :+ btc, 2020, wide = true))
    assert(got.perBatch == Map(("STOCK", 1L) -> 50L, ("STOCK", 2L) -> 10L, ("CRYPTO", 1L) -> 1L))
    assert(got.recordCount == 61)
  }

  test("the last close of a month wins") {
    val m = new Model(world.copy(historyStore = Map.empty))
    m(Historical(0, Seq(aapl), 2020))
    assert(m.history((aapl, month(2020, 1))) == 11.0)
  }

  test("index requests are served from the store when it covers them") {
    val m = new Model(world)
    assert(m(Index(0, Seq("^A", "^A"))) == Expected(1, "complete_cached", Map.empty, 0))
    assert(m.index("^A").quote.price == 90)
    val uncached = Index(1, Seq("^A", "^B"))
    assert(m(uncached) == Expected(2, "complete", Map.empty, 2))
    assert(m.index("^A") == IndexRow(iq("^A", 100), uncached.now))
    assert(m(Index(2, Seq("^B"))).status == "complete_cached")
  }

  test("a tiny generated world is deterministic and keeps its promises") {
    val tiny = Scale(stocks = 10, cryptos = 4, indices = 4, firstYear = 2020, lastYear = 2021, blocks = 4,
      wideStocks = 3, wideCryptos = 1)
    val a = Etl.generate(7, tiny)
    assert(a == Etl.generate(7, tiny))
    assert(a.requests != Etl.generate(8, tiny).requests)
    assert(a.requests.map(_.id) == a.requests.indices)
    a.requests.grouped(BlockSize).foreach(b => assert(b.map(_.kind).sorted == Shapes.sorted))
    val m = new Model(a)
    val out = a.requests.map(r => r -> m(r))
    out.foreach {
      case (Market(_, assets), e) =>
        // each market request names exactly one new listing
        assert(assets.count(x => !a.universe.contains(x)) == 1 && e.recordCount <= 1)
      case (h: Historical, e) =>
        // after a backfill every requested month with feed data is stored
        assert(h.assets.forall(x => (1 to 12).forall(mm => m.history.contains((x, month(h.year, mm))))))
        assert(e.perBatch.values.sum == e.recordCount)
        if (h.wide) assert(h.assets.count(_.assetType == "STOCK") == 3 && h.assets.size == 4)
        else assert(h.assets.size == 3)
      case (i: Index, e) =>
        assert(e.status == (if (i.namesNew) "complete" else "complete_cached"))
    }
    // every (asset, year) cell is backfilled at most once
    val cells = a.requests.collect { case h: Historical => h.assets.map(x => (x, h.year)) }.flatten
    assert(cells.distinct.size == cells.size)
  }
}
