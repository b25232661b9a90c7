package perfbench

import java.time.{LocalDate, LocalDateTime}

import scala.collection.mutable

/** The `etl_daemon` workload's inputs and its reference model, in plain
  * Scala collections with no engine code.
  *
  * The inputs stand in for the reference daemon's world: a quote feed and
  * a weekly price series (the HTTP fetch), an index quote feed, a store
  * seeded to its steady size, and a request log. The log is cut into
  * blocks that hold one request of each shape in [[Shapes]], shuffled
  * within each block.
  *
  * The reference has no traffic log, so the mix and the sizes of the
  * small requests are assumptions. The wide backfill is sized from the
  * reference's batching instead: its 60 stocks fill one of the historical
  * job's 50-symbol batches and spill into a second
  * (`fetch_historical_market_data.py:194-215`).
  *
  * Every request does a similar amount of work however far into the log a
  * run gets: each market request names one never-seen listing, each
  * backfill covers (symbol, year) cells no earlier request touched, and
  * each `index_new` request names a never-seen index.
  */
object Etl {
  final case class Asset(symbol: String, assetType: String)

  /** A market quote; `high` is missing for some new listings, which the
    * job's required-field validation rejects.
    */
  final case class Quote(asset: Asset, price: Double, percentChange: Double, change: Double,
      high: Option[Double], low: Double)
  final case class Point(asset: Asset, datetime: LocalDateTime, close: Double)
  final case class IndexQuote(symbol: String, price: Double, change: Double, percentChange: Double,
      high: Double, low: Double)

  final case class MarketRow(quote: Quote, updatedAt: LocalDateTime)
  final case class IndexRow(quote: IndexQuote, updatedAt: LocalDateTime)

  sealed trait Request {
    def id: Int
    def topic: String
    def kind: String
    def json: String
    /** The job's pinned clock: one second per request after a fixed epoch. */
    def now: LocalDateTime = Epoch.plusSeconds(id.toLong)
  }
  final case class Market(id: Int, assets: Seq[Asset]) extends Request {
    def topic = "MARKET_DATA_UPDATE_REQUEST"
    def kind = "market"
    def json = s"""{"request_id":$id,"assets":${assetsJson(assets)}}"""
  }
  final case class Historical(id: Int, assets: Seq[Asset], year: Int, wide: Boolean = false) extends Request {
    def topic = "HISTORICAL_MARKET_DATA_REQUEST"
    def kind = if (wide) "historical_wide" else "historical"
    def start: LocalDate = LocalDate.of(year, 1, 1)
    def stop: LocalDate = LocalDate.of(year, 12, 1)
    def json = s"""{"request_id":$id,"assets":${assetsJson(assets)},""" +
      s""""start_date":"$start","end_date":"$stop"}"""
  }
  final case class Index(id: Int, symbols: Seq[String], namesNew: Boolean = false) extends Request {
    def topic = "MARKET_INDEX_DATA_UPDATE_REQUEST"
    def kind = if (namesNew) "index_new" else "index_cached"
    def json = s"""{"request_id":$id,"symbols":${symbols.map(Stats.jsonString).mkString("[", ",", "]")}}"""
  }

  private def assetsJson(as: Seq[Asset]): String = as
    .map(a => s"""{"symbol":${Stats.jsonString(a.symbol)},"asset_type":${Stats.jsonString(a.assetType)}}""")
    .mkString("[", ",", "]")

  val Epoch: LocalDateTime = LocalDateTime.of(2025, 1, 2, 0, 0)
  /** The request shapes, one of each per block:
    *  - `market`: three stored listings and one never-seen listing;
    *  - `historical`: three assets over one year;
    *  - `historical_wide`: [[Scale.wideStocks]] stocks and
    *    [[Scale.wideCryptos]] cryptos over one year;
    *  - `index_cached`: three indices the store holds, served without a fetch;
    *  - `index_new`: two stored indices and one never-seen index.
    */
  val Shapes: Seq[String] = Seq("market", "historical", "historical_wide", "index_cached", "index_new")
  val BlockSize: Int = Shapes.size

  /** The historical job's per-asset-type batch size, as in the reference. */
  val HistoricalBatch: Int = 50

  /** Sizes of the generated world. */
  final case class Scale(stocks: Int, cryptos: Int, indices: Int, firstYear: Int, lastYear: Int, blocks: Int,
      wideStocks: Int, wideCryptos: Int)
  val FullScale: Scale = Scale(stocks = 160, cryptos = 40, indices = 16, firstYear = 2013, lastYear = 2024,
    blocks = 24, wideStocks = 60, wideCryptos = 10)

  final case class Inputs(
      universe: IndexedSeq[Asset],
      quotes: Map[Asset, Quote],
      series: IndexedSeq[Point],
      indexQuotes: Map[String, IndexQuote],
      marketStore: Seq[MarketRow],
      historyStore: Map[(Asset, LocalDate), Double],
      indexStore: Seq[IndexRow],
      requests: IndexedSeq[Request])

  private def cents(x: Double): Double = math.round(x * 100.0) / 100.0

  def generate(seed: Long, scale: Scale = FullScale): Inputs = {
    val rnd = new scala.util.Random(seed)
    val universe =
      (0 until scale.stocks).map(i => Asset(f"S$i%03d", "STOCK")) ++
        (0 until scale.cryptos).map(i => Asset(f"C$i%03d", "CRYPTO"))
    val indices = (0 until scale.indices).map(i => f"^I$i%02d")
    val newListings = (0 until scale.blocks).map(i => Asset(f"N$i%04d", "STOCK"))
    val newIndices = (0 until scale.blocks).map(i => f"^N$i%03d")

    def quote(a: Asset, validHigh: Boolean): Quote = {
      val price = cents(5 + rnd.nextDouble() * 500)
      val change = cents((rnd.nextDouble() - 0.5) * price * 0.1)
      Quote(a, price, cents(100 * change / price), change,
        if (validHigh) Some(cents(price + math.abs(change) + 1)) else None, cents(price - math.abs(change) - 1))
    }
    val quotes = (universe.map(a => a -> quote(a, validHigh = true)) ++
      newListings.map(a => a -> quote(a, validHigh = rnd.nextDouble() >= 0.1))).toMap
    val marketStore = universe.map(a => MarketRow(quote(a, validHigh = true), Epoch.minusDays(1)))

    def indexQuote(s: String): IndexQuote = {
      val price = cents(1000 + rnd.nextDouble() * 9000)
      val change = cents((rnd.nextDouble() - 0.5) * price * 0.04)
      IndexQuote(s, price, change, cents(100 * change / price), cents(price + math.abs(change) + 5),
        cents(price - math.abs(change) - 5))
    }
    val indexQuotes = (indices ++ newIndices).map(s => s -> indexQuote(s)).toMap
    val indexStore = indices.map(s => IndexRow(indexQuote(s), Epoch.minusDays(1)))

    // weekly closes, four or five a month, for every asset and month
    val months = Iterator.iterate(LocalDate.of(scale.firstYear, 1, 1))(_.plusMonths(1))
      .takeWhile(_.getYear <= scale.lastYear).toIndexedSeq
    val series = universe.flatMap { a =>
      var level = 20 + rnd.nextDouble() * 400
      months.flatMap { m =>
        val days = if (rnd.nextBoolean()) Seq(2, 9, 16, 23, 28) else Seq(3, 10, 17, 24)
        days.map { d =>
          level = math.max(1.0, level * (1 + (rnd.nextDouble() - 0.5) * 0.05))
          Point(a, m.withDayOfMonth(d).atTime(16, 0), cents(level))
        }
      }
    }
    val lastClose = series.groupBy(p => (p.asset, p.datetime.toLocalDate.withDayOfMonth(1)))
      .map { case (k, ps) => k -> ps.maxBy(_.datetime.toEpochSecond(java.time.ZoneOffset.UTC)).close }
    // the store holds four in five months; one in ten held months is stale
    val historyStore = (for {
      a <- universe
      m <- months
      if rnd.nextDouble() < 0.8
    } yield (a, m) -> (if (rnd.nextDouble() < 0.1) cents(lastClose((a, m)) + 0.5) else lastClose((a, m)))).toMap

    // backfills: each year's stocks and cryptos are dealt out to wide
    // requests first, and the rest to three-asset requests, so that each
    // (asset, year) cell is requested at most once
    val years = scale.firstYear to scale.lastYear
    val widePerYear = (scale.blocks + years.size - 1) / years.size
    val (stocks, cryptos) = universe.partition(_.assetType == "STOCK")
    require(widePerYear * scale.wideStocks <= stocks.size && widePerYear * scale.wideCryptos <= cryptos.size,
      s"the universe cannot serve $widePerYear wide backfills a year")
    val dealt = years.map { y =>
      val (s, c) = (rnd.shuffle(stocks), rnd.shuffle(cryptos))
      val wide = (0 until widePerYear).map(i =>
        (y, s.slice(i * scale.wideStocks, (i + 1) * scale.wideStocks) ++
          c.slice(i * scale.wideCryptos, (i + 1) * scale.wideCryptos)))
      val rest = rnd.shuffle(s.drop(widePerYear * scale.wideStocks) ++ c.drop(widePerYear * scale.wideCryptos))
      (wide, rest.grouped(3).filter(_.size == 3).map(t => (y, t)).toSeq)
    }
    val wides = rnd.shuffle(dealt.flatMap(_._1))
    val triples = rnd.shuffle(dealt.flatMap(_._2))
    require(triples.size >= scale.blocks, s"${triples.size} historical cells cannot serve ${scale.blocks} blocks")

    val requests = (0 until scale.blocks).flatMap { b =>
      rnd.shuffle(Shapes).zipWithIndex.map { case (shape, i) =>
        val id = b * BlockSize + i
        shape match {
          case "market" => Market(id, rnd.shuffle(rnd.shuffle(universe).take(3) :+ newListings(b)))
          case "historical" => Historical(id, triples(b)._2, triples(b)._1)
          case "historical_wide" => Historical(id, rnd.shuffle(wides(b)._2), wides(b)._1, wide = true)
          case "index_cached" => Index(id, rnd.shuffle(indices).take(3))
          case _ => Index(id, rnd.shuffle(rnd.shuffle(indices).take(2) :+ newIndices(b)), namesNew = true)
        }
      }
    }
    Inputs(universe, quotes, series, indexQuotes, marketStore, historyStore, indexStore, requests)
  }

  /** What a request must report: its completion's record count and status,
    * the record count of each per-batch payload (historical only, keyed by
    * asset type and batch number), and how many store rows it changes.
    */
  final case class Expected(recordCount: Long, status: String, perBatch: Map[(String, Long), Long],
      changedRows: Long)

  /** The reference model: replays requests against an in-memory store. */
  final class Model(in: Inputs) {
    val market: mutable.Map[Asset, MarketRow] = mutable.Map.from(in.marketStore.map(r => r.quote.asset -> r))
    val history: mutable.Map[(Asset, LocalDate), Double] = mutable.Map.from(in.historyStore)
    val index: mutable.Map[String, IndexRow] = mutable.Map.from(in.indexStore.map(r => r.quote.symbol -> r))
    private val seriesByAsset = in.series.groupBy(_.asset)

    def apply(r: Request): Expected = r match {
      case Market(_, assets) =>
        val valid = assets.distinct.filterNot(market.contains).flatMap(in.quotes.get).filter(_.high.isDefined)
        valid.foreach(q => market(q.asset) = MarketRow(q, r.now))
        Expected(valid.size.toLong, "complete", Map.empty, valid.size.toLong)
      case h @ Historical(_, assets, _, _) =>
        val spine = Iterator.iterate(h.start)(_.plusMonths(1)).takeWhile(!_.isAfter(h.stop)).toSeq
        var changed = 0L
        val fetchedByAsset = mutable.Map.empty[Asset, Long].withDefaultValue(0L)
        assets.distinct.foreach { a =>
          val missing = spine.filterNot(m => history.contains((a, m)))
          if (missing.nonEmpty) {
            val from = missing.min.atStartOfDay
            val until = missing.max.plusMonths(1).atStartOfDay
            val fetched = seriesByAsset.getOrElse(a, Nil)
              .filter(p => !p.datetime.isBefore(from) && p.datetime.isBefore(until))
            fetchedByAsset(a) += fetched.size
            fetched.groupBy(_.datetime.toLocalDate.withDayOfMonth(1)).foreach { case (m, ps) =>
              val last = ps.reduce((x, y) =>
                if (x.datetime.isAfter(y.datetime) || (x.datetime == y.datetime && x.close >= y.close)) x else y)
              if (!history.get((a, m)).contains(last.close)) changed += 1
              history((a, m)) = last.close
            }
          }
        }
        // each asset type's symbols, in order, are cut into batches numbered from 1
        val perBatch = assets.distinct.groupBy(_.assetType).flatMap { case (t, as) =>
          as.sortBy(_.symbol).grouped(HistoricalBatch).zipWithIndex.map { case (batch, i) =>
            (t, i + 1L) -> batch.map(fetchedByAsset).sum
          }
        }
        Expected(fetchedByAsset.values.sum, "complete", perBatch, changed)
      case Index(_, symbols, _) =>
        val wanted = symbols.distinct
        if (wanted.forall(index.contains)) Expected(wanted.size.toLong, "complete_cached", Map.empty, 0L)
        else {
          val fetched = wanted.flatMap(in.indexQuotes.get)
          fetched.foreach(q => index(q.symbol) = IndexRow(q, r.now))
          Expected(fetched.size.toLong, "complete", Map.empty, fetched.size.toLong)
        }
    }
  }
}
