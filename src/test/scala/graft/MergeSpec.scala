package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Merge

class MergeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ticks = Seq(
    // (symbol, asset_type, price, version)
    ("AAPL", "STOCK", 100.0, 1L),
    ("AAPL", "STOCK", 101.0, 3L),
    ("AAPL", "STOCK", 99.0, 2L),
    ("BTC", "CRYPTO", 7.0, 1L)
  ).toDF("symbol", "asset_type", "price", "v")

  test("lastWins keeps the NEWEST row per key, not an arbitrary one") {
    val got = Merge.lastWins(ticks, Seq("symbol", "asset_type"), Seq(col("v")))
      .select("symbol", "price").as[(String, Double)].collect().toMap
    assert(got == Map("AAPL" -> 101.0, "BTC" -> 7.0))
  }

  test("upsert: delta wins over store; re-delivered duplicates collapse (idempotent)") {
    val store = Seq(("AAPL", "STOCK", 100.0, 1L)).toDF("symbol", "asset_type", "price", "v")
    val delta = Seq(("AAPL", "STOCK", 105.0, 2L), ("ETH", "CRYPTO", 3.0, 2L))
      .toDF("symbol", "asset_type", "price", "v")
    val once = Merge.upsert(store, delta, Seq("symbol", "asset_type"), Seq(col("v")))
    val twice = Merge.upsert(once, delta, Seq("symbol", "asset_type"), Seq(col("v")))
    val got = twice.select("symbol", "price").as[(String, Double)].collect().toMap
    assert(got == Map("AAPL" -> 105.0, "ETH" -> 3.0))
    assert(once.count() == twice.count())
  }

  test("partitioned store write: month filter prunes partitions at the scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-store").toString
    val monthly = graft.SparkEntry.qMonthlyLastClose(spark, TestSpark.sf0001)
    Merge.writePartitionedStore(monthly, dir, Seq("date"))
    val oneMonth = spark.read.parquet(dir).filter(col("date") === lit("1997-03-01").cast("date"))
    val plan = oneMonth.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(500))
    assert(!plan.replaceAll("(?s)PartitionFilters: \\[[^\\]]*", "").contains("1997-03-01"),
      "date filter should be a partition filter, not a data filter")
    assert(oneMonth.count() > 0)
    // reading one month touches one partition directory
    val allMonths = new java.io.File(dir).listFiles().count(_.getName.startsWith("date="))
    assert(allMonths > 10)
  }

  test("z-order layout: ztile-partitioned store prunes files for two-column range reads") {
    import graft.ops.Layout
    val dir = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    val o = Tables.orders(spark, TestSpark.sf0001)
      .select(
        col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        pmod(col("o_custkey"), lit(65536L)).as("zx"),
        pmod(datediff(col("o_orderdate").cast("date"), lit("1992-01-01").cast("date"))
          .cast("long"), lit(65536L)).as("zy"))
      .withColumn("ztile", call_function("shiftright", Layout.zvalue(col("zx"), col("zy")), lit(16)))
    Merge.writePartitionedStore(o, dir, Seq("ztile"))
    val all = spark.read.parquet(dir)
    // an ALIGNED 256x256 box on BOTH clustering keys is exactly one curve
    // tile: zx in [0,256) and zy in [1280,1536) (mid-1995, data exists) has
    // ztile = interleave(zx>>8 = 0, zy>>8 = 5) = 0b100010 = 34
    val box = all.filter(col("ztile") === 34)
    val plan = box.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(500))
    assert(!plan.replaceAll("(?s)PartitionFilters: \\[[^\\]]*", "").contains("ztile = 34"),
      "ztile filter should be a partition filter, not a data filter")
    val nTiles = new java.io.File(dir).listFiles().count(_.getName.startsWith("ztile="))
    assert(nTiles > 1, s"need multiple tiles for pruning to mean anything, got $nTiles")
    // tile 34 contains exactly the rows of the aligned (zx, zy) box
    val full = o.filter(col("zx") < 256 && col("zy") >= 1280 && col("zy") < 1536).count()
    assert(full > 0)
    assert(box.count() == full)
  }

  test("bucketed store: aggregation on the bucket key has no Exchange for the store side") {
    val monthly = graft.SparkEntry.qMonthlyLastClose(spark, TestSpark.sf0001)
    Merge.writeBucketedStore(monthly, "monthly_bucketed", Seq("symbol"), 8)
    try {
      val store = spark.table("monthly_bucketed")
      // per-key aggregation over the bucketed store: bucketing satisfies the
      // required hash distribution, so no shuffle of the store
      val agg = store.groupBy("symbol").agg(max(col("price")).as("p"))
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan.take(800))
      assert(agg.count() > 0)
    } finally spark.sql("DROP TABLE IF EXISTS monthly_bucketed")
  }

  test("applyCdc: last delete removes the key, last upsert replaces, untouched keys persist") {
    val snapshot = Seq(
      ("AAPL", 100.0, 1L), ("MSFT", 50.0, 1L), ("GOOG", 75.0, 1L))
      .toDF("symbol", "price", "v")
    val changes = Seq(
      ("AAPL", 101.0, 2L, "U"), ("AAPL", 0.0, 3L, "D"),   // delete wins (later)
      ("MSFT", 0.0, 2L, "D"), ("MSFT", 55.0, 3L, "U"),    // upsert wins (later)
      ("NVDA", 500.0, 2L, "U"))                           // fresh insert
      .toDF("symbol", "price", "v", "op")
    val got = Merge.applyCdc(snapshot, changes, Seq("symbol"), Seq(col("v")), "op")
      .select("symbol", "price").as[(String, Double)].collect().toSet
    assert(got == Set(("MSFT", 55.0), ("GOOG", 75.0), ("NVDA", 500.0)))
  }

  test("applyCdc treats a NULL op as an upsert, never a silent delete") {
    val snapshot = Seq(("AAPL", 100.0, 1L)).toDF("symbol", "price", "v")
    val changes = Seq(("AAPL", 120.0, 2L, null.asInstanceOf[String]))
      .toDF("symbol", "price", "v", "op")
    val got = Merge.applyCdc(snapshot, changes, Seq("symbol"), Seq(col("v")), "op")
      .select("symbol", "price").as[(String, Double)].collect().toSet
    // a malformed (NULL-op) change row must apply as an upsert — the
    // three-valued-logic trap would otherwise DELETE the key
    assert(got == Set(("AAPL", 120.0)))
  }

  test("scd2History keeps a key's opening interval when its first value is NULL") {
    val rows = Seq(
      ("K", Option.empty[Double], 1L, 1L),
      ("K", Some(5.0), 2L, 2L)).toDF("symbol", "value", "ts", "event_id")
    val got = Merge.scd2History(rows, Seq("symbol"), "ts", "event_id", "value")
      .select("value", "valid_from", "valid_to")
      .as[(Option[Double], Long, Option[Long])].collect().toSet
    assert(got == Set((None, 1L, Some(2L)), (Some(5.0), 2L, None)))
  }

  test("lastWinsSalted equals lastWins on a hot-key distribution") {
    val hot = (1L to 5000L).map(i => ("WHALE", "STOCK", i.toDouble, i)) ++
      Seq(("AAPL", "STOCK", 1.0, 1L), ("AAPL", "STOCK", 2.0, 2L))
    val df = hot.toDF("symbol", "asset_type", "price", "v")
    val plain = Merge.lastWins(df, Seq("symbol", "asset_type"), Seq(col("v")))
      .select("symbol", "price").as[(String, Double)].collect().toSet
    val salted = Merge.lastWinsSalted(df, Seq("symbol", "asset_type"), Seq("v"), Seq("price"))
      .select("symbol", "price").as[(String, Double)].collect().toSet
    assert(salted == plain)
    assert(salted == Set(("WHALE", 5000.0), ("AAPL", 2.0)))
  }

  test("lastWinsSalted identity on the events table with a one-third whale remap") {
    // the construction README's salted-merge figures were timed on (sf0.1,
    // measured at 387020f): every 3rd event collapses onto user_id 0 (~33%
    // of rows on one key set) — identity here certifies those figures
    // compare equal answers
    val ev = Tables.events(spark, TestSpark.sf0001)
      .select(
        when(pmod(col("event_id"), lit(3)) === 0, lit(0L)).otherwise(col("user_id")).as("user_id"),
        col("event_type"), col("value"), col("ts"), col("event_id"))
    val plain = Merge.lastWins(ev, Seq("user_id", "event_type"), Seq(col("ts"), col("event_id")))
      .select("user_id", "event_type", "value")
      .as[(Long, String, Double)].collect().toSet
    val salted = Merge.lastWinsSalted(
      ev, Seq("user_id", "event_type"), Seq("ts", "event_id"), Seq("value"))
      .select("user_id", "event_type", "value")
      .as[(Long, String, Double)].collect().toSet
    assert(salted == plain)
    assert(plain.nonEmpty)
  }

  test("AQE splits the whale-key partition of a skewed sort-merge join (skew=true)") {
    // the join-side complement of lastWinsSalted: aggregation skew is
    // handled by salting, JOIN skew is AQE's runtime re-plan — verify the
    // optimized plan actually marks the skewed SMJ partition as split
    // (thresholds lowered so the toy-scale whale qualifies)
    val restore = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.adaptive.forceOptimizeSkewedJoin")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "2048")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2048")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
      // repartition(8) gives the join shuffle 8 MAP tasks: AQE's skew split
      // granularity is the map-output block, so a single-mapper stage (one
      // tiny parquet file) has unsplittable reduce partitions no matter how
      // skewed — at real scale the map side is always wide
      val ev = Tables.events(spark, TestSpark.sf0001)
        .select(
          when(pmod(col("event_id"), lit(10)) < 9, lit(0L))
            .otherwise(col("user_id")).as("user_id"),
          col("value"), col("event_id"))
        .repartition(8)
      // right side must be a PLAIN shuffled relation (Sort directly over
      // the exchange) — the skew rule doesn't match through an aggregate
      val recent = ev.filter(pmod(col("event_id"), lit(97)) === 0)
        .select(col("user_id"), col("value").as("v2"))
      val j = ev.join(recent, "user_id")
      // execute THIS dataset (not a count() wrapper) so the adaptive plan
      // finalizes, then read the re-planned SMJ
      assert(j.collect().nonEmpty)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"))
      assert(plan.contains("skew=true"), s"no skew split in:\n$plan")
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("MetricsListener records completed query executions (A14 log-sink parity)") {
    val listener = graft.tools.MetricsListener.attach(spark)
    try {
      ticks.count()
      // listener delivery is async; poll briefly
      val deadline = System.currentTimeMillis() + 10000
      while (listener.records.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(listener.records.nonEmpty)
      assert(listener.records.forall(_.error.isEmpty))
    } finally spark.listenerManager.unregister(listener)
  }

  test("latestByKey (max_by) agrees with the window form") {
    val a = Merge.lastWins(ticks, Seq("symbol"), Seq(col("v")))
      .select("symbol", "price").as[(String, Double)].collect().toSet
    val b = Merge.latestByKey(ticks, Seq("symbol"), Seq("v"), Seq("price"))
      .select("symbol", "price").as[(String, Double)].collect().toSet
    assert(a == b)
  }

  test("debounceConsecutive keeps each run's first row, alternations survive, nulls are one run") {
    val events = Seq(
      (1L, 1L, Some("A")), (1L, 2L, Some("A")), (1L, 3L, Some("B")),
      (1L, 4L, Some("A")), (1L, 5L, Some("A")), (1L, 6L, Some("A")),
      (2L, 1L, Some("X")),
      (3L, 1L, Some("A")), (3L, 2L, None), (3L, 3L, None), (3L, 4L, Some("A")),
      // leading NULL run: the first row must be kept (a null-safe compare
      // against lag's NULL would silently drop it)
      (4L, 1L, None), (4L, 2L, None), (4L, 3L, Some("A")))
      .toDF("user_id", "seq", "event_type")
    val got = Merge.debounceConsecutive(
      events, Seq("user_id"), Seq(col("seq")), Seq("event_type"))
      .select("user_id", "seq", "event_type", "run_seq")
      .as[(Long, Long, Option[String], Long)].collect().toSeq
      .sortBy(r => (r._1, r._2))
    assert(got == Seq(
      (1L, 1L, Some("A"), 1L), (1L, 3L, Some("B"), 2L), (1L, 4L, Some("A"), 3L),
      (2L, 1L, Some("X"), 1L),
      (3L, 1L, Some("A"), 1L), (3L, 2L, None, 2L), (3L, 4L, Some("A"), 3L),
      (4L, 1L, None, 1L), (4L, 3L, Some("A"), 2L)))
  }
}
