package graft

import java.sql.{Date, Timestamp}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.Jobs
import graft.ops.{Batching, Incremental, Merge, Relational}
import graft.streaming.Streaming

/** Differential check of the jobs' driver-built bookkeeping against the
  * relational formulation it replaces: `Batching.assignBatches` +
  * `completionPerBatch` for the per-batch payloads, Spark aggregates for
  * the completion rows, and a monthly `lastWins` followed by a separate
  * upsert window for the historical store. Payloads are compared as the
  * `to_json` strings a completion topic carries, schemas field for field.
  */
class JobsBookkeepingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val start = lit(Date.valueOf("2024-01-01"))
  private val stop = lit(Date.valueOf("2024-12-01"))

  /** The historical job's outputs as whole-relation Spark plans. */
  private def historicalReference(requests: DataFrame, store: DataFrame, series: DataFrame, start: Column,
      stop: Column): Jobs.JobResult = {
    val gaps = Incremental.gapDetection(
      requests, store.select(col("symbol"), col("asset_type"), col("date")),
      Seq("symbol", "asset_type"), "date", start, stop)
    val fetched = series.join(gaps, Seq("symbol", "asset_type"))
      .filter(col("datetime") >= col("gap_start") && col("datetime") < add_months(col("gap_end"), 1))
    val monthly = Merge.lastWins(
      fetched.withColumn("date", to_date(date_trunc("month", col("datetime"))))
        .select(col("symbol"), col("asset_type"), col("date"), col("close").as("price"), col("datetime")),
      Seq("symbol", "asset_type", "date"), Seq(col("datetime"), col("price"))).drop("datetime")
    val updated = Merge.upsert(store.withColumn("__src", lit(0)), monthly.withColumn("__src", lit(1)),
      Seq("symbol", "asset_type", "date"), Seq(col("__src"))).drop("__src")
    val symbolBatches = Batching.assignBatches(
      requests.select(col("symbol"), col("asset_type")).distinct(), Seq("asset_type"), "symbol", 50)
    val nBatches = symbolBatches.select(col("asset_type"), col("batch_id")).distinct()
      .agg(count(lit(1)).as("total_batches"))
    val completion = fetched
      .agg(count(lit(1)).as("record_count"), countDistinct(col("symbol")).as("total_symbols"))
      .crossJoin(broadcast(nBatches))
      .select(col("record_count"), col("total_batches"), col("total_symbols"))
      .withColumn("status", lit("complete"))
    val perBatch = Batching
      .completionPerBatch(symbolBatches, fetched.select(col("symbol"), col("asset_type")), Seq("asset_type"), "symbol")
      .withColumn("start_date", to_date(start))
      .withColumn("end_date", to_date(stop))
    Jobs.JobResult(updated, completion, Some(perBatch))
  }

  private def payloads(df: DataFrame): Seq[String] =
    Streaming.completionPayload(df, "T").select("value").collect().map(_.getString(0)).toSeq.sorted

  private def assertSame(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.schema == want.schema, s"$what schema")
    assert(payloads(got) == payloads(want), s"$what payloads")
  }

  private def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  // ASCII, Latin-1, a BMP character above the surrogates (U+FF21), CJK and
  // two supplementary-plane characters: UTF-16 order puts the last two
  // BELOW U+FF21, UTF-8 (Spark's) order puts them above it
  private val alphabet = Seq("A", "B", "M", "Z", "é", "Ａ", "中", "😀", "𝔸")

  private case class Generated(requests: Seq[(String, String)], store: Seq[(String, String, Date, Double)],
      series: Seq[(String, String, Timestamp, Double)])

  /** `perType` distinct symbols per asset type; every fourth type shares its
    * first symbols with the previous type; ~10% of request rows repeat;
    * ~20% of keys have no feed rows; some feed rows share a timestamp.
    */
  private def generate(seed: Int, perType: Seq[(String, Int)]): Generated = {
    val rnd = new Random(seed)
    def symbol(): String = Seq.fill(1 + rnd.nextInt(4))(alphabet(rnd.nextInt(alphabet.size))).mkString
    var previous = Seq.empty[String]
    val keys = perType.zipWithIndex.flatMap { case ((t, n), i) =>
      val shared = if (i % 4 == 1) previous.take(3) else Nil
      val syms = (shared ++ Iterator.continually(symbol()).filterNot(shared.contains).distinct.take(n - shared.size))
      previous = syms
      syms.map(_ -> t)
    }
    val requests = rnd.shuffle(keys ++ keys.filter(_ => rnd.nextDouble() < 0.1))
    def day(m: Int) = Timestamp.valueOf(f"2024-$m%02d-${1 + rnd.nextInt(27)}%02d 12:00:00")
    val series = keys.filter(_ => rnd.nextDouble() < 0.8).flatMap { case (s, t) =>
      Seq.fill(1 + rnd.nextInt(4)) {
        val ts = day(1 + rnd.nextInt(12))
        Seq.fill(1 + (if (rnd.nextDouble() < 0.2) 1 else 0))((s, t, ts, rnd.nextInt(1000) / 4.0))
      }.flatten
    }
    val store = keys.filter(_ => rnd.nextDouble() < 0.5).flatMap { case (s, t) =>
      (1 to 12).filter(_ => rnd.nextDouble() < 0.4)
        .map(m => (s, t, Date.valueOf(f"2024-$m%02d-01"), rnd.nextInt(1000) / 8.0))
    }
    Generated(requests, store, series)
  }

  private def frames(g: Generated): (DataFrame, DataFrame, DataFrame) = {
    val str = (n: String) => StructField(n, StringType)
    (spark.createDataFrame(g.requests.map { case (s, t) => Row(s, t) }.asJava,
      StructType(Seq(str("symbol"), str("asset_type")))),
      spark.createDataFrame(g.store.map { case (s, t, d, p) => Row(s, t, d, p) }.asJava,
        StructType(Seq(str("symbol"), str("asset_type"), StructField("date", DateType), StructField("price", DoubleType)))),
      spark.createDataFrame(g.series.map { case (s, t, ts, c) => Row(s, t, ts, c) }.asJava,
        StructType(Seq(str("symbol"), str("asset_type"), StructField("datetime", TimestampType),
          StructField("close", DoubleType)))))
  }

  private val cases = Seq(
    1 -> Seq("STOCK" -> 50, "CRYPTO" -> 51, "FOREX" -> 120),
    2 -> Seq("STOCK" -> 120, "CRYPTO" -> 51, "ETF" -> 7, "FOREX" -> 50),
    3 -> Seq("STOCK" -> 51, "CRYPTO" -> 3),
    4 -> Seq("STOCK" -> 1))

  test("the driver-side B14 chunk rule is Spark's: UTF-8 binary order, not UTF-16") {
    val g = generate(1, cases.head._2)
    val (requests, _, _) = frames(g)
    val relational = Batching.assignBatches(requests.distinct(), Seq("asset_type"), "symbol", 50)
      .groupBy(col("asset_type"), col("batch_id")).agg(sort_array(collect_list(col("symbol"))).as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getSeq[String](2))).toSet
    assert(Batching.chunkPerGroup(g.requests.map(_.swap), 50).toSet == relational)
    // the generated symbols DO cut differently under String.compareTo, so
    // the equality above exercises the byte order
    val utf16 = g.requests.distinct.groupBy(_._2).toSeq.flatMap { case (t, ps) =>
      ps.map(_._1).sorted.grouped(50).zipWithIndex.map { case (ks, i) => (t, i + 1L, ks.sorted(Batching.sparkStringOrder)) }
    }.toSet
    assert(utf16 != relational)
  }

  test("historicalBackfill: driver-built completion, per-batch payloads and one-window store match the relational plans") {
    cases.foreach { case (seed, perType) =>
      val (requests, store, series) = frames(generate(seed, perType))
      val got = Jobs.historicalBackfill(requests, store, series, start, stop)
      val want = historicalReference(requests, store, series, start, stop)
      assertSame(got.completion, want.completion, s"case $seed completion")
      assertSame(got.perBatch.get, want.perBatch.get, s"case $seed per-batch")
      assert(got.store.schema == want.store.schema, s"case $seed store schema")
      assert(rowsOf(got.store) == rowsOf(want.store), s"case $seed store")
    }
  }

  test("historicalBackfill with nothing fetched still lists every requested batch") {
    val (requests, store, _) = frames(generate(5, Seq("STOCK" -> 51, "CRYPTO" -> 2)))
    val series = spark.createDataFrame(java.util.List.of[Row](), StructType(Seq(
      StructField("symbol", StringType), StructField("asset_type", StringType),
      StructField("datetime", TimestampType), StructField("close", DoubleType))))
    val got = Jobs.historicalBackfill(requests, store, series, start, stop)
    val want = historicalReference(requests, store, series, start, stop)
    assertSame(got.completion, want.completion, "completion")
    assertSame(got.perBatch.get, want.perBatch.get, "per-batch")
    assert(payloads(got.perBatch.get).size == 3)
  }

  test("market and index jobs: driver-side update planning and completions match the relational plans") {
    val now = lit(Timestamp.valueOf("2025-01-02 00:00:00"))
    def upsert(store: DataFrame, delta: DataFrame, keys: Seq[String]) = Merge.upsert(
      store.withColumn("__src", lit(0)), delta.withColumn("updated_at", now).withColumn("__src", lit(1)),
      keys, ("__src" +: "updated_at" +: delta.columns.filterNot(keys.contains)).map(col)).drop("__src")
    def sameStore(got: DataFrame, want: DataFrame, what: String): Unit = {
      assert(got.schema == want.schema, s"$what store schema")
      assert(rowsOf(got) == rowsOf(want), s"$what store")
    }
    Seq(1, 2, 3).foreach { seed =>
      val g = generate(seed, Seq("STOCK" -> 20, "CRYPTO" -> 12))
      val (requests, _, _) = frames(g)
      val rnd = new Random(seed)
      val keys = g.requests.distinct
      val store = spark.createDataFrame(keys.filter(_ => rnd.nextDouble() < 0.3)
        .map { case (s, t) => Row(s, t, 1.0, 0.0, 0.0, 1.0, 1.0, Timestamp.valueOf("2024-01-01 00:00:00")) }.asJava,
        StructType(Seq("symbol", "asset_type").map(StructField(_, StringType)) ++
          Seq("price", "percent_change", "change", "high", "low").map(StructField(_, DoubleType)) :+
          StructField("updated_at", TimestampType)))
      val quotes = spark.createDataFrame(keys.filter(_ => rnd.nextDouble() < 0.9).map { case (s, t) =>
        Row(s, t, 2.0, 0.1, 0.1, if (rnd.nextDouble() < 0.2) null else Double.box(3.0), 1.0)
      }.asJava, StructType(Seq("symbol", "asset_type").map(StructField(_, StringType)) ++
        Seq("price", "percent_change", "change", "high", "low").map(StructField(_, DoubleType))))
      val valid = Relational.filterValid(
        Incremental.needingUpdate(requests, store, Jobs.SnapshotKeys).join(quotes, Jobs.SnapshotKeys),
        Jobs.RequiredFields)
      val market = Jobs.marketDataUpdate(requests, store, quotes, now)
      assertSame(market.completion,
        valid.agg(
          count(lit(1)).as("record_count"),
          ceil(count(lit(1)) / lit(100.0)).cast("long").as("total_batches"),
          countDistinct(col("symbol"), col("asset_type")).as("total_assets"))
          .withColumn("status", lit("complete")),
        s"case $seed market")
      sameStore(market.store, upsert(store, valid, Jobs.SnapshotKeys), s"case $seed market")

      // index: the symbols alone, so a symbol listed under two types repeats
      val symbols = requests.select("symbol")
      val indexQuotes = quotes.select(col("symbol"), col("price").as("regularMarketPrice"),
        col("change").as("regularMarketChange"), col("percent_change").as("regularMarketChangePercent"),
        col("high").as("regularMarketDayHigh"), col("low").as("regularMarketDayLow"))
      val indexStore = quotes.filter(col("asset_type") === "STOCK").select(col("symbol"), col("price"),
        col("change").as("price_change"), col("percent_change"), col("high").as("price_high"),
        col("low").as("price_low"), lit(Timestamp.valueOf("2024-01-01 00:00:00")).as("updated_at"))
      assert(!IncrementalSpec.fullyCovered(symbols, indexStore, Seq("symbol")))
      val fetched = Relational.renameProject(symbols.join(indexQuotes, Seq("symbol")), Seq(
        "symbol" -> "symbol", "regularMarketPrice" -> "price", "regularMarketChange" -> "price_change",
        "regularMarketChangePercent" -> "percent_change", "regularMarketDayHigh" -> "price_high",
        "regularMarketDayLow" -> "price_low"))
      val index = Jobs.indexUpdate(symbols, indexStore, indexQuotes, now)
      assertSame(index.completion,
        fetched.agg(
          count(lit(1)).as("record_count"),
          ceil(count(lit(1)) / lit(100.0)).cast("long").as("total_batches"),
          countDistinct(col("symbol")).as("total_symbols"))
          .withColumn("status", lit("complete")),
        s"case $seed index")
      sameStore(index.store, upsert(indexStore, fetched, Seq("symbol")), s"case $seed index")

      // cached answers count the store's rows, so a duplicated one counts twice
      val dupStore = indexStore.unionByName(indexStore.orderBy("symbol").limit(1))
      def cached(status: String) = dupStore.join(symbols, Seq("symbol"), "left_semi")
        .agg(count(lit(1)).as("record_count"), countDistinct(col("symbol")).as("total_symbols"))
        .withColumn("total_batches", lit(0L))
        .withColumn("status", lit(status))
      val storedSymbols = symbols.join(indexStore, Seq("symbol"), "left_semi")
      assert(IncrementalSpec.fullyCovered(storedSymbols, dupStore, Seq("symbol")))
      assertSame(
        Jobs.indexUpdate(storedSymbols, dupStore, indexQuotes, now).completion,
        cached("complete_cached"),
        s"case $seed index cached")
      assertSame(
        Jobs.indexUpdateWithFallback(symbols, dupStore, () => throw new RuntimeException("outage"), now).completion,
        cached("stale_fallback"),
        s"case $seed index fallback")
    }
  }

  test("market and index jobs: two feed quotes for one key give one store, whatever the order, partitions or AQE") {
    val now = lit(Timestamp.valueOf("2025-01-02 00:00:00"))
    val str = (n: String) => StructField(n, StringType)
    val quoteSchema = StructType(Seq(str("symbol"), str("asset_type")) ++
      Seq("price", "percent_change", "change", "high", "low").map(StructField(_, DoubleType)))
    // AAA is quoted twice with different values and requested twice
    val quoteRows = Seq(
      Row("AAA", "STOCK", 10.0, 1.0, 0.1, 11.0, 9.0),
      Row("BBB", "CRYPTO", 5.0, 0.5, 0.05, 6.0, 4.0),
      Row("AAA", "STOCK", 12.0, 1.0, 0.1, 13.0, 9.5))
    val requests = spark.createDataFrame(
      Seq(Row("AAA", "STOCK"), Row("BBB", "CRYPTO"), Row("AAA", "STOCK")).asJava,
      StructType(Seq(str("symbol"), str("asset_type"))))
    val store = spark.createDataFrame(Seq(Row("CCC", "STOCK", 1.0, 0.0, 0.0, 1.0, 1.0,
      Timestamp.valueOf("2024-01-01 00:00:00"))).asJava, quoteSchema.add("updated_at", TimestampType))
    val indexStore = store.select(col("symbol"), col("price"), col("change").as("price_change"),
      col("percent_change"), col("high").as("price_high"), col("low").as("price_low"), col("updated_at"))
    val stores = for {
      rows <- Seq(quoteRows, quoteRows.reverse)
      partitions <- Seq("1", "4", "7")
      aqe <- Seq("true", "false")
    } yield TestSpark.withConf(
        "spark.sql.shuffle.partitions" -> partitions, "spark.sql.adaptive.enabled" -> aqe) {
      // a distributed feed, one quote per partition
      val quotes = spark.createDataFrame(spark.sparkContext.parallelize(rows, rows.size), quoteSchema)
      val indexQuotes = quotes.select(col("symbol"), col("price").as("regularMarketPrice"),
        col("change").as("regularMarketChange"), col("percent_change").as("regularMarketChangePercent"),
        col("high").as("regularMarketDayHigh"), col("low").as("regularMarketDayLow"))
      (rowsOf(Jobs.marketDataUpdate(requests, store, quotes, now).store),
        rowsOf(Jobs.indexUpdate(requests.select("symbol"), indexStore, indexQuotes, now).store))
    }
    assert(stores.distinct.size == 1, stores.distinct.mkString("\n"))
    val (market, index) = stores.head
    assert(market.filter(_.startsWith("[AAA,")) ==
      Seq("[AAA,STOCK,12.0,1.0,0.1,13.0,9.5,2025-01-02 00:00:00.0]"))
    assert(index.filter(_.startsWith("[AAA,")) == Seq("[AAA,12.0,0.1,1.0,13.0,9.5,2025-01-02 00:00:00.0]"))
  }
}
