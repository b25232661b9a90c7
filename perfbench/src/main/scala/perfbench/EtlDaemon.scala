package perfbench

import java.sql.{Date, Timestamp}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.jobs.Jobs
import graft.ops.Relational
import graft.sources.JdbcUpsert
import graft.streaming.Streaming

import Etl._

/** The request-driven ETL daemon the `etl_daemon` workload drives.
  *
  * Requests enter through a `MemoryStream` (standing in for the Kafka
  * topics) and go decode → route → `foreachBatch` → job → `JdbcUpsert` →
  * completion payload, one request per micro-batch. The store is an
  * in-memory Derby database, the stand-in for the reference's Postgres.
  * Each request reads only its slice of the store, runs its job against
  * the feeds, upserts the rows the job changed and publishes its
  * completion payloads.
  *
  * A request that throws is recorded as failed and the daemon goes on
  * serving, like the reference's consumer loop.
  */
final class EtlDaemon(spark: SparkSession, in: Inputs, dbName: String, checkpointDir: String, trace: Trace) {
  import EtlDaemon._

  val url = s"jdbc:derby:memory:$dbName;create=true"
  private val props = new java.util.Properties()

  val observed = new ConcurrentHashMap[Int, Either[Throwable, Observed]]()
  @volatile private var inFlight = -1

  private def ts(t: java.time.LocalDateTime) = Timestamp.valueOf(t)

  private def frame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema).localCheckpoint()

  // the feeds that stand in for the reference's HTTP fetches
  private val quotes = frame(
    in.quotes.values.toSeq.map(q => Row(q.asset.symbol, q.asset.assetType, q.price, q.percentChange, q.change,
      q.high.map(Double.box).orNull, q.low)),
    StructType(Seq(str("symbol"), str("asset_type"), dbl("price"), dbl("percent_change"), dbl("change"),
      dbl("high"), dbl("low"))))
  private val series = frame(
    in.series.map(p => Row(p.asset.symbol, p.asset.assetType, ts(p.datetime), p.close)),
    StructType(Seq(str("symbol"), str("asset_type"), StructField("datetime", TimestampType), dbl("close"))))
  private val indexQuotes = frame(
    in.indexQuotes.values.toSeq.map(q => Row(q.symbol, q.price, q.change, q.percentChange, q.high, q.low)),
    StructType(Seq(str("symbol"), dbl("regularMarketPrice"), dbl("regularMarketChange"),
      dbl("regularMarketChangePercent"), dbl("regularMarketDayHigh"), dbl("regularMarketDayLow"))))

  /** Creates the three tables and loads the seeded store. */
  def seedStore(): Unit = withConnection { conn =>
    val st = conn.createStatement()
    Tables.foreach { t =>
      try st.execute(s"""DROP TABLE "${t.name}"""") catch { case _: java.sql.SQLException => () }
      st.execute(t.ddl)
    }
    st.close()
    def load(t: Table, rows: Iterable[Seq[AnyRef]]): Unit = {
      val cols = t.keys ++ t.values
      val ps = conn.prepareStatement(
        s"""INSERT INTO "${t.name}" (${cols.map(c => "\"" + c + "\"").mkString(", ")}) """ +
          s"VALUES (${cols.map(_ => "?").mkString(", ")})")
      rows.foreach { r => r.zipWithIndex.foreach { case (v, i) => ps.setObject(i + 1, v) }; ps.addBatch() }
      ps.executeBatch()
      ps.close()
    }
    load(MarketTable, in.marketStore.map { r =>
      val q = r.quote
      Seq(q.asset.symbol, q.asset.assetType, Double.box(q.price), Double.box(q.percentChange),
        Double.box(q.change), q.high.map(Double.box).orNull, Double.box(q.low), ts(r.updatedAt))
    })
    load(HistoryTable, in.historyStore.map { case ((a, m), p) =>
      Seq(a.symbol, a.assetType, Date.valueOf(m), Double.box(p))
    })
    load(IndexTable, in.indexStore.map { r =>
      val q = r.quote
      Seq(q.symbol, Double.box(q.price), Double.box(q.change), Double.box(q.percentChange),
        Double.box(q.high), Double.box(q.low), ts(r.updatedAt))
    })
  }

  private def withConnection[A](body: java.sql.Connection => A): A = {
    val conn = java.sql.DriverManager.getConnection(url)
    try { conn.setAutoCommit(false); val out = body(conn); conn.commit(); out } finally conn.close()
  }

  private var stream: MemoryStream[(String, String)] = _
  private var query: StreamingQuery = _

  def start(): Unit = {
    stream = MemoryStream(Encoders.tuple(Encoders.STRING, Encoders.STRING), spark.sqlContext)
    val routed = Streaming.routeTopics(
      Streaming.decodeRequests(stream.toDF().toDF("topic", "value")), Routes)
    query = routed.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((batch: DataFrame, _: Long) => handle(batch))
      .start()
  }

  def stop(): Unit = if (query != null) { query.stop(); query = null }

  /** Serves one request and returns its latency in seconds, from the
    * moment it is offered to the moment its micro-batch has finished.
    */
  def serve(r: Request): Double = {
    inFlight = r.id
    val t0 = System.nanoTime()
    stream.addData((r.topic, r.json))
    query.processAllAvailable()
    (System.nanoTime() - t0) / 1e9
  }

  private def handle(batch: DataFrame): Unit = {
    val id = inFlight
    try {
      val payload = trace.span("streaming", "streaming.decode") {
        val rows = Relational.parsePayload(batch, "value_str", PayloadDdl)
          .select(col("job"), col("payload")).collect()
        require(rows.length == 1, s"expected one request per micro-batch, got ${rows.length}")
        rows.head
      }
      val p = payload.getStruct(1)
      require(p.getAs[Int]("request_id") == id, s"request ${p.getAs[Int]("request_id")} arrived while serving $id")
      val req = in.requests(id)
      val out = payload.getString(0) match {
        case "market_data" => market(req.asInstanceOf[Market], assetsOf(p))
        case "historical" =>
          val h = req.asInstanceOf[Historical]
          historical(h, assetsOf(p), p.getAs[Date]("start_date"), p.getAs[Date]("end_date"))
        case "index" => index(req.asInstanceOf[Index], p.getAs[scala.collection.Seq[String]]("symbols").toSeq)
        case other => throw new IllegalStateException(s"request $id routed to unknown job $other")
      }
      observed.put(id, Right(out))
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[etl_daemon] request $id failed: $e")
        observed.put(id, Left(e))
    }
  }

  private def assetsOf(p: Row): Seq[(String, String)] =
    p.getAs[scala.collection.Seq[Row]]("assets").map(a => (a.getString(0), a.getString(1))).toSeq

  private def readSlice(t: Table, where: Column): DataFrame =
    trace.span("sources", "sources.store_read") {
      spark.read.jdbc(url, "\"" + t.name + "\"", props).where(where).localCheckpoint()
    }

  private def requestFrame(assets: Seq[(String, String)]): DataFrame =
    spark.createDataFrame(assets.map { case (s, t) => Row(s, t) }.asJava,
      StructType(Seq(str("symbol"), str("asset_type"))))

  /** Runs a job's result through the sink and its completion payload. */
  private def finish(req: Request, t: Table, slice: DataFrame, r: Jobs.JobResult, topic: String): Observed = {
    val completion = trace.span("streaming", "streaming.completion") {
      parse(Streaming.completionPayload(r.completion, topic).select("value").collect().head.getString(0))
    }
    val status = completion.get("status").asText()
    if (status != "complete_cached") {
      val delta = trace.span("jobs", s"jobs.${req.kind}.result") { r.store.except(slice).localCheckpoint() }
      trace.span("sources", "sources.upsert") { JdbcUpsert.upsertBatch(delta, url, t.name, t.keys, t.values) }
    }
    val perBatch = r.perBatch.map { pb =>
      val batches = trace.span("streaming", "streaming.completion") {
        Streaming.completionPayload(pb, topic + "_BATCH").select("value").collect().toSeq
          .map(v => parse(v.getString(0)))
          .map(b => (b.get("asset_type").asText(), b.get("batch_id").asLong()) -> b.get("record_count").asLong())
      }
      require(batches.map(_._1).distinct.size == batches.size, s"duplicate per-batch payloads: $batches")
      batches.toMap
    }.getOrElse(Map.empty)
    Observed(completion.get("record_count").asLong(), status, perBatch)
  }

  private def market(r: Market, assets: Seq[(String, String)]): Observed = {
    val slice = readSlice(MarketTable, col("symbol").isin(assets.map(_._1): _*))
    val res = trace.span("jobs", s"jobs.${r.kind}.call") {
      Jobs.marketDataUpdate(requestFrame(assets), slice, quotes, lit(ts(r.now)))
    }
    finish(r, MarketTable, slice, res, "MARKET_DATA_COMPLETE")
  }

  private def historical(r: Historical, assets: Seq[(String, String)], start: Date, stop: Date): Observed = {
    val slice = readSlice(HistoryTable,
      col("symbol").isin(assets.map(_._1): _*) && col("date").between(lit(start), lit(stop)))
    val res = trace.span("jobs", s"jobs.${r.kind}.call") {
      Jobs.historicalBackfill(requestFrame(assets), slice, series, lit(start), lit(stop))
    }
    finish(r, HistoryTable, slice, res, "HISTORICAL_DATA_COMPLETE")
  }

  private def index(r: Index, symbols: Seq[String]): Observed = {
    val slice = readSlice(IndexTable, col("symbol").isin(symbols: _*))
    val requests = spark.createDataFrame(symbols.map(Row(_)).asJava, StructType(Seq(str("symbol"))))
    val res = trace.span("jobs", s"jobs.${r.kind}.call") {
      Jobs.indexUpdate(requests, slice, indexQuotes, lit(ts(r.now)))
    }
    finish(r, IndexTable, slice, res, "MARKET_INDEX_DATA_COMPLETE")
  }

  /** The store's final contents, read back over plain JDBC. */
  def storeContents(): (Set[Seq[Any]], Set[Seq[Any]], Set[Seq[Any]]) = withConnection { conn =>
    def read(t: Table): Set[Seq[Any]] = {
      val cols = t.keys ++ t.values
      val rs = conn.createStatement().executeQuery(
        s"""SELECT ${cols.map(c => "\"" + c + "\"").mkString(", ")} FROM "${t.name}"""")
      val out = Set.newBuilder[Seq[Any]]
      while (rs.next()) out += cols.indices.map(i => rs.getObject(i + 1) match {
        case t: Timestamp => t.toLocalDateTime
        case d: Date => d.toLocalDate
        case v => v
      })
      out.result()
    }
    (read(MarketTable), read(HistoryTable), read(IndexTable))
  }

  private def parse(json: String) = Mapper.readTree(json)
}

object EtlDaemon {
  /** What a request's completion payloads said, as read by the daemon. */
  final case class Observed(recordCount: Long, status: String, perBatch: Map[(String, Long), Long])

  val Routes: Seq[(String, String)] = Seq(
    "MARKET_DATA_UPDATE_REQUEST" -> "market_data",
    "HISTORICAL_MARKET_DATA_REQUEST" -> "historical",
    "MARKET_INDEX_DATA_UPDATE_REQUEST" -> "index")

  /** One schema for all three request shapes; absent fields parse as NULL. */
  val PayloadDdl: String = "request_id INT, assets ARRAY<STRUCT<symbol: STRING, asset_type: STRING>>, " +
    "symbols ARRAY<STRING>, start_date DATE, end_date DATE"

  final case class Table(name: String, keys: Seq[String], values: Seq[String], ddl: String)

  val MarketTable: Table = Table("market_data", Seq("symbol", "asset_type"),
    Seq("price", "percent_change", "change", "high", "low", "updated_at"),
    """CREATE TABLE "market_data" ("symbol" VARCHAR(16) NOT NULL, "asset_type" VARCHAR(16) NOT NULL,
      | "price" DOUBLE, "percent_change" DOUBLE, "change" DOUBLE, "high" DOUBLE, "low" DOUBLE,
      | "updated_at" TIMESTAMP, PRIMARY KEY ("symbol", "asset_type"))""".stripMargin)
  val HistoryTable: Table = Table("historical_data", Seq("symbol", "asset_type", "date"), Seq("price"),
    """CREATE TABLE "historical_data" ("symbol" VARCHAR(16) NOT NULL, "asset_type" VARCHAR(16) NOT NULL,
      | "date" DATE NOT NULL, "price" DOUBLE, PRIMARY KEY ("symbol", "asset_type", "date"))""".stripMargin)
  val IndexTable: Table = Table("market_index", Seq("symbol"),
    Seq("price", "price_change", "percent_change", "price_high", "price_low", "updated_at"),
    """CREATE TABLE "market_index" ("symbol" VARCHAR(16) NOT NULL PRIMARY KEY, "price" DOUBLE,
      | "price_change" DOUBLE, "percent_change" DOUBLE, "price_high" DOUBLE, "price_low" DOUBLE,
      | "updated_at" TIMESTAMP)""".stripMargin)
  val Tables: Seq[Table] = Seq(MarketTable, HistoryTable, IndexTable)

  private val Mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def str(n: String) = StructField(n, StringType)
  private def dbl(n: String) = StructField(n, DoubleType)

  /** The model's store in the same row shape as [[EtlDaemon.storeContents]]. */
  def modelContents(m: Model): (Set[Seq[Any]], Set[Seq[Any]], Set[Seq[Any]]) = (
    m.market.values.map { r =>
      val q = r.quote
      Seq(q.asset.symbol, q.asset.assetType, q.price, q.percentChange, q.change, q.high.map(Double.box).orNull, q.low, r.updatedAt)
    }.toSet,
    m.history.map { case ((a, month), p) => Seq(a.symbol, a.assetType, month, p) }.toSet,
    m.index.values.map { r =>
      val q = r.quote
      Seq(q.symbol, q.price, q.change, q.percentChange, q.high, q.low, r.updatedAt)
    }.toSet)
}
