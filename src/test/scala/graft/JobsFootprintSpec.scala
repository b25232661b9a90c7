package graft

import java.sql.{Date, Timestamp}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFootprint.{jobsOf, plansOf}
import graft.jobs.Jobs
import graft.sources.JdbcUpsert
import graft.streaming.Streaming

/** The Spark footprint of one request of each ETL shape, run the way a
  * request/response daemon runs it: read the request's store slice over
  * JDBC → job → completion payload → upsert of the job's store → per-batch
  * payloads, against an in-memory Derby store.
  *
  * It pins the Spark jobs each shape runs, that no plan of the block
  * broadcasts, and that the completion and per-batch relations are local:
  * publishing them runs no Spark job.
  */
class JobsFootprintSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val url = "jdbc:derby:memory:jobs_footprint;create=true"

  private case class Table(name: String, keys: Seq[String], values: Seq[String], ddl: String)
  private val MarketTable = Table("market_data", Seq("symbol", "asset_type"),
    Seq("price", "percent_change", "change", "high", "low", "updated_at"),
    """CREATE TABLE "market_data" ("symbol" VARCHAR(16) NOT NULL, "asset_type" VARCHAR(16) NOT NULL,
      | "price" DOUBLE, "percent_change" DOUBLE, "change" DOUBLE, "high" DOUBLE, "low" DOUBLE,
      | "updated_at" TIMESTAMP, PRIMARY KEY ("symbol", "asset_type"))""".stripMargin)
  private val HistoryTable = Table("historical_data", Seq("symbol", "asset_type", "date"), Seq("price"),
    """CREATE TABLE "historical_data" ("symbol" VARCHAR(16) NOT NULL, "asset_type" VARCHAR(16) NOT NULL,
      | "date" DATE NOT NULL, "price" DOUBLE, PRIMARY KEY ("symbol", "asset_type", "date"))""".stripMargin)
  private val IndexTable = Table("market_index", Seq("symbol"),
    Seq("price", "price_change", "percent_change", "price_high", "price_low", "updated_at"),
    """CREATE TABLE "market_index" ("symbol" VARCHAR(16) NOT NULL PRIMARY KEY, "price" DOUBLE,
      | "price_change" DOUBLE, "percent_change" DOUBLE, "price_high" DOUBLE, "price_low" DOUBLE,
      | "updated_at" TIMESTAMP)""".stripMargin)

  private val stocks = (0 until 60).map(i => f"S$i%02d")
  private val cryptos = (0 until 10).map(i => f"C$i%02d")
  private val assets = stocks.map(_ -> "STOCK") ++ cryptos.map(_ -> "CRYPTO")
  private val indices = (0 until 4).map(i => s"^I$i")
  private val seededAt = Timestamp.valueOf("2024-12-01 00:00:00")

  /** Drops, re-creates and re-seeds the three tables over plain JDBC. */
  private def seedStore(): Unit = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      Seq(MarketTable, HistoryTable, IndexTable).foreach { t =>
        try st.execute(s"""DROP TABLE "${t.name}"""") catch { case _: java.sql.SQLException => () }
        st.execute(t.ddl)
      }
      st.close()
      def load(t: Table, rows: Seq[Seq[AnyRef]]): Unit = {
        val cols = t.keys ++ t.values
        val ps = conn.prepareStatement(
          s"""INSERT INTO "${t.name}" (${cols.map(c => "\"" + c + "\"").mkString(", ")}) """ +
            s"VALUES (${cols.map(_ => "?").mkString(", ")})")
        rows.foreach { r => r.zipWithIndex.foreach { case (v, i) => ps.setObject(i + 1, v) }; ps.addBatch() }
        ps.executeBatch()
        ps.close()
      }
      def d(x: Double): AnyRef = Double.box(x)
      load(MarketTable, assets.take(3).map { case (s, t) => Seq(s, t, d(10), d(1), d(0.1), d(11), d(9), seededAt) })
      // every asset holds Jan–Jun 2024 except March: one re-fetched hole
      load(HistoryTable, for {
        (s, t) <- assets; m <- Seq(1, 2, 4, 5, 6)
      } yield Seq(s, t, Date.valueOf(f"2024-$m%02d-01"), d(m.toDouble)))
      load(IndexTable, indices.take(3).map(s => Seq(s, d(100), d(1), d(1), d(101), d(99), seededAt)))
    } finally conn.close()
  }

  private lazy val quotes = spark.createDataFrame(
    assets.zipWithIndex.map { case ((s, t), i) =>
      // every fifth listing has no `high`: the job's validation rejects it
      Row(s, t, 20.0 + i, 1.0, 0.2, if (i % 5 == 4) null else Double.box(21.0 + i), 19.0 + i)
    }.asJava,
    StructType(Seq("symbol", "asset_type").map(StructField(_, StringType)) ++
      Seq("price", "percent_change", "change", "high", "low").map(StructField(_, DoubleType))))
    .localCheckpoint()
  private lazy val series = spark.createDataFrame(
    (for {
      ((s, t), i) <- assets.zipWithIndex; m <- 1 to 12; day <- Seq(3, 17)
    } yield Row(s, t, Timestamp.valueOf(f"2024-$m%02d-$day%02d 00:00:00"), i + m + day / 100.0)).asJava,
    StructType(Seq(StructField("symbol", StringType), StructField("asset_type", StringType),
      StructField("datetime", TimestampType), StructField("close", DoubleType))))
    .localCheckpoint()
  private lazy val indexQuotes = spark.createDataFrame(
    (indices :+ "^N0").zipWithIndex.map { case (s, i) => Row(s, 200.0 + i, 2.0, 1.0, 201.0 + i, 199.0 + i) }.asJava,
    StructType(StructField("symbol", StringType) +: Seq("regularMarketPrice", "regularMarketChange",
      "regularMarketChangePercent", "regularMarketDayHigh", "regularMarketDayLow").map(StructField(_, DoubleType))))
    .localCheckpoint()

  private def readSlice(t: Table, where: Column): DataFrame =
    spark.read.jdbc(url, "\"" + t.name + "\"", new java.util.Properties()).where(where).localCheckpoint()

  private def requestFrame(as: Seq[(String, String)]): DataFrame =
    spark.createDataFrame(as.map { case (s, t) => Row(s, t) }.asJava,
      StructType(Seq(StructField("symbol", StringType), StructField("asset_type", StringType))))

  private val now = lit(Timestamp.valueOf("2025-01-02 00:00:00"))
  private val (start, stop) = (lit(Date.valueOf("2024-01-01")), lit(Date.valueOf("2024-12-01")))

  /** The five request shapes, as (name, table, store slice, job) — the
    * market, historical and index sizes of a small daemon request, plus a
    * 60-stock + 10-crypto backfill that the job cuts into three batches.
    */
  private def shapes: Seq[(String, Table, () => DataFrame, DataFrame => Jobs.JobResult)] = {
    def history(as: Seq[(String, String)]) =
      () => readSlice(HistoryTable, col("symbol").isin(as.map(_._1): _*) && col("date").between(start, stop))
    def historical(as: Seq[(String, String)]) =
      (slice: DataFrame) => Jobs.historicalBackfill(requestFrame(as), slice, series, start, stop)
    def index(symbols: Seq[String]) = (
      () => readSlice(IndexTable, col("symbol").isin(symbols: _*)),
      (slice: DataFrame) => Jobs.indexUpdate(
        spark.createDataFrame(symbols.map(Row(_)).asJava, StructType(Seq(StructField("symbol", StringType)))),
        slice, indexQuotes, now))
    val market = assets.take(4)
    val small = Seq(assets(1), assets(7), assets(62))
    val (cachedRead, cachedJob) = index(indices.take(3))
    val (newRead, newJob) = index(Seq(indices(0), indices(1), "^N0"))
    Seq(
      ("market", MarketTable,
        () => readSlice(MarketTable, col("symbol").isin(market.map(_._1): _*)),
        (slice: DataFrame) => Jobs.marketDataUpdate(requestFrame(market), slice, quotes, now)),
      ("historical", HistoryTable, history(small), historical(small)),
      ("historical_wide", HistoryTable, history(assets), historical(assets)),
      ("index_cached", IndexTable, cachedRead, cachedJob),
      ("index_new", IndexTable, newRead, newJob))
  }

  /** One request of each shape; per shape, the jobs of the whole request,
    * the jobs of its payload collects, and its payload strings.
    */
  private def runBlock(): Seq[(String, Int, Int, Seq[String])] = {
    seedStore()
    shapes.map { case (name, t, read, job) =>
      var payloadJobs = 0
      val (jobs, payloads) = jobsOf {
        val slice = read()
        val r = job(slice)
        val (j1, completion) = jobsOf(
          Streaming.completionPayload(r.completion, "COMPLETE").select("value").collect().map(_.getString(0)).toSeq)
        if (!completion.head.contains("complete_cached"))
          JdbcUpsert.upsertBatch(r.store, url, t.name, t.keys, t.values)
        val (j2, batches) = jobsOf(r.perBatch.toSeq.flatMap(
          Streaming.completionPayload(_, "COMPLETE_BATCH").select("value").collect().map(_.getString(0))))
        payloadJobs = j1 + j2
        completion ++ batches.sorted
      }
      (name, jobs, payloadJobs, payloads)
    }
  }

  test("each request shape runs a bounded number of Spark jobs; publishing its payloads runs none") {
    val (block, plans) = plansOf(runBlock())
    val jobs = block.map(b => b._1 -> b._2).toMap
    info(s"Spark jobs per shape: $jobs")
    assert(block.forall(_._3 == 0), s"payload collects ran Spark jobs: ${block.map(b => b._1 -> b._3)}")
    // the jobs of the JDBC read and of the upsert included; each store probe
    // and fetch is one filter by an InSet of the request's keys (one job),
    // the historical counts are one job, and the upsert of a job's store
    // (an adaptive window plan) is a shuffle and a write
    val bounds =
      Map("market" -> 6, "historical" -> 7, "historical_wide" -> 6, "index_cached" -> 3, "index_new" -> 5)
    assert(jobs.forall { case (shape, n) => n <= bounds(shape) }, s"jobs $jobs over bounds $bounds")
    // no request-bounded relation is broadcast: broadcasting a local
    // relation is a Spark job of its own
    val broadcasts =
      plans.filter(SparkFootprint.collectWithSubqueries(_) { case b: BroadcastExchangeExec => b }.nonEmpty)
    assert(plans.nonEmpty)
    assert(broadcasts.isEmpty, s"plans that broadcast:\n${broadcasts.mkString("\n")}")
    val payloads = block.map(b => b._1 -> b._4).toMap
    assert(payloads("market").head.contains("\"record_count\":1,\"total_batches\":1,\"total_assets\":1"))
    assert(payloads("index_cached").head ==
      """{"record_count":3,"total_symbols":3,"total_batches":0,"status":"complete_cached"}""")
    assert(payloads("index_new").head ==
      """{"record_count":3,"total_batches":1,"total_symbols":3,"status":"complete"}""")
    // 60 stocks in two batches and 10 cryptos in one; each asset re-fetches
    // March..December (10 months × 2 feed rows) except the three that the
    // block's earlier historical request already filled
    assert(payloads("historical_wide").size == 4)
    assert(payloads("historical_wide").head ==
      """{"record_count":1340,"total_batches":3,"total_symbols":67,"status":"complete"}""")
  }
}
