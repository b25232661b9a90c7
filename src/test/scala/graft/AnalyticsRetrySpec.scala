package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.Jobs
import graft.ops.Analytics

class AnalyticsRetrySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("interpolateMonthlyGaps fills interior gaps linearly, marks them, spans stay observation-bounded") {
    import graft.ops.Analytics
    def d(s: String) = java.sql.Date.valueOf(s)
    val series = Seq(
      ("A", d("2024-01-01"), 10.0),
      ("A", d("2024-04-01"), 40.0),   // gap: Feb, Mar → 20, 30
      ("A", d("2024-06-01"), 20.0),   // gap: May → 30
      ("B", d("2024-02-01"), 5.0)     // single point → one-row spine
    ).toDF("symbol", "date", "price")
    val got = Analytics.interpolateMonthlyGaps(series, "symbol", "date", "price")
      .as[(String, java.sql.Date, Double, Boolean)].collect()
      .map(r => (r._1, r._2.toString) -> ((r._3, r._4))).toMap
    assert(got(("A", "2024-01-01")) == ((10.0, false)))
    assert(got(("A", "2024-02-01")) == ((20.0, true)))
    assert(got(("A", "2024-03-01")) == ((30.0, true)))
    assert(got(("A", "2024-04-01")) == ((40.0, false)))
    assert(got(("A", "2024-05-01")) == ((30.0, true)))
    assert(got(("A", "2024-06-01")) == ((20.0, false)))
    assert(got(("B", "2024-02-01")) == ((5.0, false)))
    assert(got.size == 7, "spine never extends past the observed bounds")
    // month-END dated input (the last-trading-day convention) must normalize
    // onto the spine, not silently NULL every observation
    val monthEnd = Seq(
      ("C", d("2024-01-31"), 10.0), ("C", d("2024-03-29"), 30.0))
      .toDF("symbol", "date", "price")
    val filled = Analytics.interpolateMonthlyGaps(monthEnd, "symbol", "date", "price")
      .as[(String, java.sql.Date, Double, Boolean)].collect()
      .map(r => r._2.toString -> ((r._3, r._4))).toMap
    assert(filled == Map(
      "2024-01-01" -> ((10.0, false)), "2024-02-01" -> ((20.0, true)),
      "2024-03-01" -> ((30.0, false))))
  }

  test("interpolateMonthlyGaps: desc-ordered next-neighbor frame ≡ the (1, unboundedFollowing) reference") {
    // the r13 optimization replaced the O(rows²)-per-partition
    // (1, unboundedFollowing) FIRST frame with a running LAST over the
    // month-DESC order; this pins the equivalence on a randomized gappy
    // multi-key series (deterministic seed), including all-gap interiors,
    // leading/trailing observations and single-point keys
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(20260819L)
    def d(y: Int, m: Int) = java.sql.Date.valueOf(f"$y%04d-$m%02d-01")
    // one price per (symbol, month): interpolateMonthlyGaps requires unique
    // (key, month) rows — with a tied month both formulations would resolve
    // the tie in arbitrary sort order
    val rows = (1 to 25).flatMap { sym =>
      val months = 1 + rnd.nextInt(30)
      (0 until months).flatMap { i =>
        if (rnd.nextDouble() < 0.45)
          Some((sym.toLong, d(2020 + (i + rnd.nextInt(2)) / 12, 1 + (i % 12)), rnd.nextInt(2000) / 10.0))
        else None
      }
    }.distinctBy(r => (r._1, r._2))
    val series = rows.toDF("symbol", "date", "price")
    val got = Analytics.interpolateMonthlyGaps(series, "symbol", "date", "price")
      .as[(Long, java.sql.Date, Option[Double], Boolean)].collect().toSet
    // reference: the pre-r13 formulation, inlined verbatim
    val norm = series.select(
      col("symbol"),
      to_date(date_trunc("month", col("date"))).as("month"),
      col("price").as("__v")).cache()
    val bounds = norm.groupBy(col("symbol"))
      .agg(min(col("month")).as("__lo"), max(col("month")).as("__hi"))
    val spine = graft.ops.Incremental.monthSpine(bounds, col("__lo"), col("__hi"), "month")
      .select(col("symbol"), col("month"))
    val joined = spine.join(norm, Seq("symbol", "month"), "left")
    val mi = (year(col("month")) * 12 + month(col("month"))).cast("long")
    val w = Window.partitionBy(col("symbol")).orderBy(col("month"))
    val obs = when(col("__v").isNotNull, struct(mi.as("t"), col("__v").as("v")))
    val prevS = last(obs, ignoreNulls = true)
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val nextS = first(obs, ignoreNulls = true)
      .over(w.rowsBetween(1, Window.unboundedFollowing))
    val ref = joined
      .withColumn("__mi", mi)
      .withColumn("__p", prevS)
      .withColumn("__n", nextS)
      .withColumn("price",
        when(col("__v").isNotNull, col("__v"))
          .otherwise(when(col("__p").isNotNull && col("__n").isNotNull,
            col("__p.v") + (col("__n.v") - col("__p.v")) *
              ((col("__mi") - col("__p.t")).cast("double")
                / (col("__n.t") - col("__p.t")).cast("double")))))
      .withColumn("is_interpolated", col("__v").isNull && col("price").isNotNull)
      .select(col("symbol"), col("month"), col("price"), col("is_interpolated"))
      .as[(Long, java.sql.Date, Option[Double], Boolean)].collect().toSet
    norm.unpersist()
    assert(got == ref, "running desc LAST must equal the unboundedFollowing FIRST bit-for-bit")
  }

  test("fetchWithRetry re-drives only rate-limited symbols, bounded passes, skips 404s") {
    // symbol -> (passes needed before ok, terminal class)
    val behavior = Map(
      "OK1" -> 0, "OK2" -> 0, // succeed immediately
      "SLOW" -> 2,            // rate-limited twice, then ok
      "GONE" -> -1,           // always 404
      "DEAD" -> 99            // rate-limited forever
    )
    var passCount = 0
    val attemptsSeen = collection.mutable.ArrayBuffer.empty[Set[String]]
    def fetchOnce(req: DataFrame): DataFrame = {
      val syms = req.select("symbol").as[String].collect().toSet
      attemptsSeen += syms
      val p = passCount; passCount += 1
      syms.toSeq.map { s =>
        val b = behavior(s)
        val status =
          if (b == -1) "not_found"
          else if (p >= b) "ok"
          else "rate_limited"
        (s, status, 100.0 + p)
      }.toDF("symbol", "status", "price")
    }
    val requests = behavior.keys.toSeq.toDF("symbol")
    val ok = Jobs.fetchWithRetry(requests, fetchOnce, "status", maxRetries = 3)
      .select("symbol").as[String].collect().toSet
    assert(ok == Set("OK1", "OK2", "SLOW"))
    assert(attemptsSeen.head == behavior.keySet)          // first pass: everything
    assert(attemptsSeen(1) == Set("SLOW", "DEAD"))        // only retryables re-driven
    assert(attemptsSeen.last.contains("DEAD"))            // DEAD retried to the cap
    assert(attemptsSeen.length <= 4)                      // 1 initial + 3 retries
  }

  test("partitionByErrorClass splits the three classes") {
    val attempts = Seq(("A", "ok"), ("B", "rate_limited"), ("C", "not_found"))
      .toDF("symbol", "status")
    val (ok, retry, skip) = Jobs.partitionByErrorClass(attempts, "status")
    assert(ok.select("symbol").as[String].collect().toSeq == Seq("A"))
    assert(retry.select("symbol").as[String].collect().toSeq == Seq("B"))
    assert(skip.select("symbol").as[String].collect().toSeq == Seq("C"))
  }

  test("asOfCarry picks the latest strictly-prior matching value") {
    val ev = Seq(
      (1L, "click", 10.0, 1L), (1L, "error", 0.0, 2L),
      (1L, "click", 20.0, 3L), (1L, "error", 0.0, 4L),
      (2L, "error", 0.0, 1L) // no prior click
    ).toDF("user_id", "event_type", "value", "seq")
    val got = Analytics
      .asOfCarry(ev, Seq("user_id"), Seq("seq"), col("event_type") === "click", "value", "carried")
      .filter(col("event_type") === "error")
      .select("user_id", "seq", "carried")
      .as[(Long, Long, Option[Double])].collect().toSet
    assert(got == Set((1L, 2L, Some(10.0)), (1L, 4L, Some(20.0)), (2L, 1L, None)))
  }

  test("streaming event-time window with watermark matches the batch aggregate") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      ("2024-01-01 00:10:00", "click", 1.0), ("2024-01-01 00:50:00", "click", 2.0),
      ("2024-01-01 01:10:00", "view", 3.0), ("2024-01-01 02:05:00", "click", 4.0))
    val stream = MemoryStream[(String, String, Double)]
    val df = stream.toDF().toDF("ts_s", "event_type", "value")
      .withColumn("ts", col("ts_s").cast("timestamp"))
    val agg = df
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n_events"))
    val q = agg.writeStream.outputMode("complete").format("memory").queryName("win_out").start()
    stream.addData(rows)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("win_out")
      .select(col("window_start").cast("string"), col("event_type"), col("n_events"))
      .as[(String, String, Long)].collect().toSet
    // batch over the same static data
    val staticDf = rows.toDF("ts_s", "event_type", "value")
      .withColumn("ts", col("ts_s").cast("timestamp"))
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").cast("string"), col("event_type"), col("n_events"))
      .as[(String, String, Long)].collect().toSet
    assert(streamed == staticDf)
    assert(streamed == Set(
      ("2024-01-01 00:00:00", "click", 2L),
      ("2024-01-01 01:00:00", "view", 1L),
      ("2024-01-01 02:00:00", "click", 1L)))
  }

  test("streaming session_window agg with watermark matches the batch form") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, "2024-01-01 00:00:00", 1.0), (1L, "2024-01-01 00:10:00", 2.0), // session A
      (1L, "2024-01-01 01:00:00", 3.0),                                   // session B (50 min gap)
      (2L, "2024-01-01 00:05:00", 4.0))
    val stream = MemoryStream[(Long, String, Double)]
    val df = stream.toDF().toDF("user_id", "ts_s", "value")
      .withColumn("ts", col("ts_s").cast("timestamp"))
    val agg = df
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"), col("n_events"))
    val q = agg.writeStream.outputMode("complete").format("memory").queryName("sess_out").start()
    stream.addData(rows)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("sess_out")
      .select(col("user_id"), col("session_start").cast("string"), col("n_events"))
      .as[(Long, String, Long)].collect().toSet
    val batch = graft.ops.Analytics.sessionWindowAgg(
      rows.toDF("user_id", "ts_s", "value").withColumn("ts", col("ts_s").cast("timestamp")),
      "ts", Seq("user_id"), "value", "30 minutes")
      .select(col("user_id"), col("session_start").cast("string"), col("n_events"))
      .as[(Long, String, Long)].collect().toSet
    assert(streamed == batch)
    assert(streamed == Set(
      (1L, "2024-01-01 00:00:00", 2L),
      (1L, "2024-01-01 01:00:00", 1L),
      (2L, "2024-01-01 00:05:00", 1L)))
  }

  test("sketch merge of partials equals the one-pass sketch; estimate bounds exact distinct") {
    val ev = Tables.events(spark, TestSpark.sf0001)
      .select(col("event_type"), col("user_id"), col("ts").cast("date").as("d"))
    val merged = Analytics.sketchMergeEstimate(
      Analytics.sketchPartial(ev, Seq("event_type", "d"), "user_id"), Seq("event_type"))
      .as[(String, Long)].collect().toMap
    // one-pass sketch over the un-partitioned input: identical estimates,
    // because sketch union is exact on sketch state
    val onePass = ev.groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("approx_distinct"))
      .as[(String, Long)].collect().toMap
    assert(merged == onePass)
    // estimates within HLL error of the exact distinct (lgConfigK=12 → ~2% rsd)
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n")).as[(String, Long)].collect().toMap
    exact.foreach { case (k, n) =>
      assert(math.abs(merged(k) - n).toDouble / n < 0.05, s"$k: ${merged(k)} vs $n")
    }
  }

  test("topK returns exactly k under the total order") {
    val df = Tables.lineitem(spark, TestSpark.sf0001)
    val got = Analytics.topK(
      df.select(col("l_orderkey"), col("l_extendedprice")),
      5, Seq(col("l_extendedprice").desc, col("l_orderkey")))
      .as[(Long, Double)].collect()
    assert(got.length == 5)
    assert(got.map(_._2).sorted.reverse.toSeq == got.map(_._2).toSeq)
  }

  test("asofJoin: greatest right ts <= left ts per key; tie inclusive; NULL when no prior") {
    val l = Seq((1L, 5L, "p0"), (1L, 10L, "p1"), (1L, 20L, "p2"), (2L, 7L, "q1"))
      .toDF("k", "ts", "tag")
    val r = Seq((1L, 10L, 100.0), (1L, 15L, 150.0), (3L, 1L, 999.0))
      .toDF("k", "ts", "v")
    val got = Analytics.asofJoin(l, r, Seq("k"), "ts", "v")
      .select("k", "ts", "tag", "asof_v")
      .as[(Long, Long, String, Option[Double])].collect().toSet
    assert(got == Set(
      (1L, 5L, "p0", None),         // before any right row
      (1L, 10L, "p1", Some(100.0)), // same-instant tie is inclusive (≤)
      (1L, 20L, "p2", Some(150.0)), // picks the greatest prior, not the first
      (2L, 7L, "q1", None)))        // key absent from the right side
    // left row count is preserved exactly (left as-of join, no fan-out)
    assert(Analytics.asofJoin(l, r, Seq("k"), "ts", "v").count() == l.count())
    // a right row with a NULL value is still the as-of MATCH (yielding
    // NULL) — never skipped in favor of an older non-null row
    val rNull = Seq((1L, Some(10.0)), (1L, None)).zipWithIndex
      .map { case ((k, v), i) => (k, (i + 1) * 10L, v) }.toDF("k", "ts", "v")
    val lAfter = Seq((1L, 25L, "p")).toDF("k", "ts", "tag")
    val nullMatch = Analytics.asofJoin(lAfter, rNull, Seq("k"), "ts", "v")
      .select("asof_v").as[Option[Double]].head()
    assert(nullMatch.isEmpty, "ASOF matches on time, not on non-nullness")
  }

  test("asofJoinWithin: matches older than the tolerance are discarded, not substituted") {
    val l = Seq((1L, 100L, "p1"), (1L, 2000L, "p2")).toDF("k", "ts", "tag")
    val r = Seq((1L, 90L, 9.0), (1L, 1990L, 19.0)).toDF("k", "ts", "v")
    val got = Analytics.asofJoinWithin(l, r, Seq("k"), "ts", "v", toleranceMs = 50L)
      .select("tag", "asof_v").as[(String, Option[Double])].collect().toMap
    // p1's only prior (ts 90) is within 50ms → kept; p2's greatest prior
    // (1990) is within tolerance too
    assert(got == Map("p1" -> Some(9.0), "p2" -> Some(19.0)))
    val tight = Analytics.asofJoinWithin(l, r, Seq("k"), "ts", "v", toleranceMs = 5L)
      .select("tag", "asof_v").as[(String, Option[Double])].collect().toMap
    // both priors now too old: NULL, and crucially NOT the even-older row
    assert(tight == Map("p1" -> None, "p2" -> None))
  }

  test("seriesMotifMatch: exact argmin, lowest-offset ties, short-series NULLs") {
    import java.sql.Timestamp
    def t(i: Int) = Timestamp.valueOf(f"2001-01-01 00:00:$i%02d")
    val rows =
      // user 1: cents series [1,2,3,4,5]; pattern [3,4] has a zero-distance
      // match at offset 3
      (1 to 5).map(i => (1L, t(i), i.toLong, i / 100.0)) ++
      // user 2: [9,9,9] vs [9,9] -> zero distance at offsets 1 AND 2; the
      // tie must break to offset 1
      (1 to 3).map(i => (2L, t(i), i.toLong, 0.09)) ++
      // user 3: one point — shorter than the pattern
      Seq((3L, t(1), 1L, 0.42))
    val df = rows.toDF("user_id", "ts", "event_id", "value")
    val got = graft.ops.Analytics
      .seriesMotifMatch(df, "user_id", "ts", "event_id", "value", Seq(3L, 4L))
      .orderBy("user_id")
      .as[(Long, Long, Option[Long], Option[Long])].collect()
    assert(got(0) == ((1L, 5L, Some(3L), Some(0L))))
    assert(got(1) == ((2L, 3L, Some(1L), Some(61L)))) // (9-3)²+(9-4)² at both offsets; tie → offset 1
    assert(got(2) == ((3L, 1L, None, None)))
  }

  test("cohortRetention: exact integer periods, offset-0 complete, sparse zero cells") {
    def ts(day: Int, h: Int = 0) =
      java.sql.Timestamp.valueOf(f"2024-01-${day}%02d $h%02d:00:00")
    // epoch day of 2024-01-01 is 19723 → week (19723 div 7) = 2817; the
    // absolute week grid puts day 19733 (Jan 11) in the NEXT week of 19732
    val ev = Seq(
      (1L, ts(1)), (1L, ts(2)), (1L, ts(10)),   // u1: w 2817, 2817, 2818
      (2L, ts(3)), (2L, ts(20)),                // u2: w 2817, 2820
      (3L, ts(10)), (3L, ts(11))                // u3: w 2818, 2819
    ).toDF("user_id", "ts")
    val got = Analytics.cohortRetention(ev, "user_id", "ts", periodDays = 7)
      .select("cohort", "period_offset", "n_users", "cohort_size", "pct")
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    val w0 = 19723L / 7
    assert(got == Set(
      (w0, 0L, 2L, 2L, 1.0),       // both w0 users active in their first week
      (w0, 1L, 1L, 2L, 0.5),       // u1 returns in week +1
      (w0, 3L, 1L, 2L, 0.5),       // u2 returns in week +3; no (w0,2) row: sparse
      (w0 + 1, 0L, 1L, 1L, 1.0),
      (w0 + 1, 1L, 1L, 1L, 1.0)))  // u3 straddles the 19732/19733 week boundary
  }

  test("transitionMatrix: lead counts under (ts,id) order, fixed-point row shares") {
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val ev = Seq(
      (1L, ts(1), 1L, "view"), (1L, ts(2), 2L, "cart"), (1L, ts(3), 3L, "buy"),
      (2L, ts(1), 4L, "view"), (2L, ts(2), 5L, "view"), (2L, ts(3), 6L, "buy"),
      (3L, ts(1), 7L, "view")   // terminal-only user contributes no transition
    ).toDF("user_id", "ts", "event_id", "event_type")
    val got = Analytics.transitionMatrix(ev, "user_id", "ts", "event_id", "event_type")
      .select("src_type", "dst_type", "n", "p_fp")
      .as[(String, String, Long, Long)].collect().toSet
    assert(got == Set(
      ("view", "cart", 1L, 333333L),  // 1 of 3 view-transitions
      ("view", "view", 1L, 333333L),
      ("view", "buy", 1L, 333333L),
      ("cart", "buy", 1L, 1000000L)))
  }

  test("sequenceExamples: ordered k-contexts, head positions skipped, users isolated") {
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val ev = Seq(
      (1L, ts(1), 1L, "a"), (1L, ts(2), 2L, "b"), (1L, ts(3), 3L, "c"),
      (1L, ts(4), 4L, "d"), (1L, ts(5), 5L, "e"),
      // same-ts tie inside user 2 breaks by event_id
      (2L, ts(1), 6L, "x"), (2L, ts(1), 7L, "y"), (2L, ts(2), 8L, "z"),
      (2L, ts(3), 9L, "w")
    ).toDF("user_id", "ts", "event_id", "event_type")
    val got = Analytics.sequenceExamples(ev, "user_id", "ts", "event_id", "event_type", 3)
      .as[(Long, Long, String, String)].collect().toSet
    assert(got == Set(
      (1L, 4L, "a b c", "d"),
      (1L, 5L, "b c d", "e"),
      (2L, 9L, "x y z", "w"))) // user 2's context never sees user 1's events
    // k larger than any history → empty, not partial contexts
    assert(Analytics.sequenceExamples(ev, "user_id", "ts", "event_id", "event_type", 6).isEmpty)
  }

  test("sequenceExamples: NULL tokens are excluded rows, not silent context holes") {
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    // a NULL mid-stream: collect_list would silently skip it INSIDE the
    // frame (shifting/shrinking contexts vs the SQL oracle's list()); the
    // contract is that the row is excluded entirely — it is neither a
    // context member nor a label, and the stream closes over the gap
    val ev = Seq(
      (1L, ts(1), 1L, Some("a")), (1L, ts(2), 2L, Some("b")),
      (1L, ts(3), 3L, Option.empty[String]), (1L, ts(4), 4L, Some("c")),
      (1L, ts(5), 5L, Some("d")), (1L, ts(6), 6L, Some("e"))
    ).toDF("user_id", "ts", "event_id", "event_type")
    val got = Analytics.sequenceExamples(ev, "user_id", "ts", "event_id", "event_type", 3)
      .as[(Long, Long, String, String)].collect().toSet
    assert(got == Set(
      (1L, 5L, "a b c", "d"),
      (1L, 6L, "b c d", "e")),
      "the NULL row neither labels a position nor leaves a hole in any context")
  }

  test("temperatureAllocation: sum == slots exactly, sqrt-proportional, deterministic remainders") {
    import graft.ops.SamplingOps
    val docs = (1 to 100).map(i => (i.toLong, s"src${i % 4}")) ++
      (101 to 400).map(i => (i.toLong, "src4"))
    val df = docs.toDF("doc_id", "source")
    val got = SamplingOps.temperatureAllocation(df, "source", slots = 1000L)
      .select("source", "n_docs", "alloc").as[(String, Long, Long)].collect().toSeq
    assert(got.map(_._3).sum == 1000L, "Hamilton apportionment is exact")
    // reference: integer largest-remainder over quantized sqrt weights
    val wts = got.map(t => t._1 -> math.round(math.sqrt(t._2.toDouble) * 1e6)).toMap
    val tw = wts.values.sum
    val base = wts.view.mapValues(w => w * 1000L / tw).toMap
    val lo = 1000L - base.values.sum
    val order = wts.toSeq.sortBy { case (s, w) => (-(w * 1000L % tw), s) }.map(_._1)
    val expect = order.zipWithIndex.map { case (s, i) =>
      s -> (base(s) + (if (i < lo) 1L else 0L))
    }.toMap
    assert(got.map(t => t._1 -> t._3).toMap == expect)
    // τ=0.5 flattening: src4 holds 75% of docs but √-weights cap it near
    // √300/(√300+4·√25) ≈ 46% of slots — under raw share, above equal share
    val big = got.find(_._1 == "src4").get
    assert(big._3 > 300L && big._3 < 700L,
      s"sqrt flattening should land src4 near 46% of slots, got ${big._3}")
  }

  test("quotaSample draws exactly the allocation per source, md5-deterministic") {
    import graft.ops.SamplingOps
    val docs = ((1 to 100).map(i => (i.toLong, s"src${i % 4}")) ++
      (101 to 400).map(i => (i.toLong, "src4"))).toDF("doc_id", "source")
    val alloc = SamplingOps.temperatureAllocation(docs, "source", 50L)
      .select("source", "alloc").as[(String, Long)].collect().toMap
    val sample = SamplingOps.quotaSample(docs, "doc_id", "source", 50L)
      .select("doc_id", "source", "sample_rank").as[(Long, String, Long)].collect().toSeq
    assert(sample.size == 50, "sum of per-source draws is exactly the slot count")
    val bySource = sample.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    assert(bySource == alloc.filter(_._2 > 0), "each source contributes exactly alloc_i")
    // deterministic under repartition
    val again = SamplingOps.quotaSample(docs.repartition(7), "doc_id", "source", 50L)
      .select("doc_id").as[Long].collect().toSet
    assert(again == sample.map(_._1).toSet)
  }

  test("ewmaFixedPoint replays the integer recurrence exactly, regardless of input row order") {
    def d(s: String) = java.sql.Date.valueOf(s)
    // deliberately out of order; one single-point key
    val series = Seq(
      (1L, d("2024-03-01"), 30.0),
      (1L, d("2024-01-01"), 10.0),
      (1L, d("2024-02-01"), 20.5),
      (2L, d("2024-01-01"), 5.25)).toDF("symbol", "date", "price")
    val got = Analytics.ewmaFixedPoint(series, "symbol", "date", "price")
      .select("symbol", "date", "price", "ewma_fp", "ewma")
      .as[(Long, java.sql.Date, Double, Long, Double)].collect()
      .sortBy(r => (r._1, r._2.toString))

    def ref(vals: Seq[Double]): Seq[Long] =
      vals.map(v => math.round(v * 1e6)).scanLeft(Option.empty[Long]) {
        case (None, fp) => Some(fp)
        case (Some(s), fp) => Some(Math.floorDiv(fp + 3 * s, 4))
      }.flatten
    val exp1 = ref(Seq(10.0, 20.5, 30.0))
    assert(got.map(_._4).toSeq == exp1 ++ Seq(5250000L))
    assert(got.map(_._5).toSeq == (exp1 ++ Seq(5250000L)).map(_.toDouble / 1e6))
    assert(got.map(r => (r._1, r._3)).toSeq ==
      Seq((1L, 10.0), (1L, 20.5), (1L, 30.0), (2L, 5.25)))
  }

  test("ewmaResume from stored state == from-scratch trajectory; unseeded keys start fresh") {
    def d(s: String) = java.sql.Date.valueOf(s)
    val series = Seq(
      (1L, d("2024-01-01"), 10.0), (1L, d("2024-02-01"), 20.5),
      (1L, d("2024-03-01"), 30.0), (1L, d("2024-04-01"), 12.25),
      (2L, d("2024-03-01"), 7.5), (2L, d("2024-04-01"), 9.0)).toDF("symbol", "date", "price")
    val full = Analytics.ewmaFixedPoint(series, "symbol", "date", "price")
      .as[(Long, java.sql.Date, Double, Long, Double)].collect().toSet
    val pivot = d("2024-03-01")
    val pre = Analytics.ewmaFixedPoint(
      series.filter(col("date") < lit(pivot)), "symbol", "date", "price")
    val state = pre.groupBy(col("symbol"))
      .agg(max_by(col("ewma_fp"), col("date")).as("ewma_fp"))
    val post = Analytics.ewmaResume(
      series.filter(col("date") >= lit(pivot)), "symbol", "date", "price", state)
    val stitched = pre.unionByName(post)
      .as[(Long, java.sql.Date, Double, Long, Double)].collect().toSet
    // key 2 has NO pre-pivot rows: must start fresh inside ewmaResume
    assert(stitched == full, "resume-from-state must be lossless")
  }

  test("weightedMean: exact fixed-point sums; zero total weight yields NULL mean") {
    val rows = Seq(
      ("p1", 10.0, 2.0), ("p1", 20.0, 6.0),   // wmean = (20 + 120) / 8 = 17.5
      ("p2", 5.5, 0.0))                        // zero weight: NULL
      .toDF("part", "v", "w")
    val m = Analytics.weightedMean(rows, Seq("part"), "v", "w")
      .select("part", "wv_fp", "w_fp", "wmean")
      .as[(String, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(m("p1") == ((140000000L, 8000000L, Some(17.5))))
    assert(m("p2") == ((0L, 0L, None)))
  }

  test("bollingerBands: hand-computed cent moments, partial head frame, breach only outside bands") {
    def d(i: Int) = java.sql.Date.valueOf(f"2024-$i%02d-01")
    val series = Seq(
      (1L, d(1), 10.0), (1L, d(2), 12.0), (1L, d(3), 11.0), (1L, d(4), 40.0))
      .toDF("symbol", "date", "price")
    val got = Analytics.bollingerBands(series, "symbol", "date", "price", window = 3)
      .select("date", "n_window", "mid", "sigma", "breach_upper", "breach_lower")
      .as[(java.sql.Date, Long, Double, Double, Boolean, Boolean)].collect().sortBy(_._1.toString)
    assert(got.map(_._2).toSeq == Seq(1L, 2L, 3L, 3L), "head frames are partial, not NULL")
    // row 3 frame (1000,1200,1100)fp2: mid = 3300 div 3 = 1100 -> 11.0
    // sigma = sqrt(3*3650000 - 3300^2)/3/100 = sqrt(60000)/300
    assert(got(2)._3 == 11.0)
    assert(got(2)._4 == math.sqrt((3L * 3650000L - 3300L * 3300L).toDouble) / 3.0 / 100.0)
    assert(!got(2)._5 && !got(2)._6)
    // a 3-point frame can never 2-sigma-breach (max |z| = (n-1)/sqrt(n)):
    assert(got.forall(r => !r._5 && !r._6))

    // 11 flat closes then a spike, window 12: mean 12.5, sigma ~8.29,
    // upper ~29.1 < 40 -> the spike breaches its own frame's band
    val flatSpike = ((1 to 11).map(i => (2L, d(i), 10.0)) :+ ((2L, d(12), 40.0)))
      .toDF("symbol", "date", "price")
    val spike = Analytics.bollingerBands(flatSpike, "symbol", "date", "price", window = 12)
      .select("date", "breach_upper", "breach_lower")
      .as[(java.sql.Date, Boolean, Boolean)].collect().sortBy(_._1.toString)
    assert(spike.last._2 && !spike.last._3)
    assert(spike.init.forall(r => !r._2 && !r._3))
  }

  test("ohlcBars: open/close by total order, high/low exact, singleton bar collapses") {
    def d(s: String) = java.sql.Date.valueOf(s)
    val ticks = Seq(
      ("A", d("2024-01-03"), 2L, 105.0), ("A", d("2024-01-01"), 1L, 100.0),
      ("A", d("2024-01-05"), 3L, 95.0), ("A", d("2024-01-05"), 4L, 102.0),
      ("B", d("2024-01-02"), 9L, 7.5))
      .toDF("symbol", "date", "tick_id", "price")
    val got = Analytics.ohlcBars(ticks, Seq("symbol"), "date", "tick_id", "price")
      .select("symbol", "open", "high", "low", "close", "n")
      .as[(String, Double, Double, Double, Double, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    // A: open = first by (date, id) = 100; close = last = 102 (id 4 beats id 3 same day)
    assert(got("A") == ((100.0, 105.0, 95.0, 102.0, 4L)))
    assert(got("B") == ((7.5, 7.5, 7.5, 7.5, 1L)))
  }

  test("rollingZscore: hand-computed integer moments, constant-window NULL, spike flagged") {
    def t(i: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$i%02d")
    // constant run then a spike; window 4
    val events = Seq(
      (1L, t(1), 1L, 10.0), (1L, t(2), 2L, 10.0), (1L, t(3), 3L, 10.0),
      (1L, t(4), 4L, 10.0), (1L, t(5), 5L, 50.0))
      .toDF("user_id", "event_ts", "event_id", "value")
    val got = Analytics.rollingZscore(events, Seq("user_id"), "event_ts", "event_id", "value",
      window = 4, threshold = 3.0)
      .select("event_id", "n_window", "z", "is_anomaly")
      .as[(Long, Long, Option[Double], Boolean)].collect().sortBy(_._1)
    // rows 1-4: zero variance -> NULL z, no flag
    assert(got.take(4).forall(r => r._3.isEmpty && !r._4))
    // row 5: frame = (10,10,10,50) fp = (10000,10000,10000,50000)
    val (n, v, s) = (4L, 50000L, 80000L)
    val sq = 3 * 10000L * 10000L + 50000L * 50000L
    val expZ = (n * v - s).toDouble / math.sqrt((n * sq - s * s).toDouble)
    assert(got(4)._2 == 4L && got(4)._3.contains(expZ))
    assert(!got(4)._4 == (math.abs(expZ) <= 3.0))
  }

  test("kmvSketch: sub-k keys are exact, estimates within KMV error, merge == from-scratch") {
    // group "big": 2000 distinct values; group "small": 10 distinct
    val rows = (1 to 2000).map(i => ("big", i.toLong)) ++
      (1 to 10).flatMap(i => Seq(("small", i.toLong), ("small", i.toLong))) // dups absorbed
    val df = rows.toDF("g", "v")
    val sk = Analytics.kmvSketch(df, Seq("g"), "v", k = 64)
    val est = Analytics.kmvEstimate(sk, Seq("g"), k = 64)
      .select("g", "n_sketch", "est_distinct")
      .as[(String, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(est("small") == ((10L, 10.0)), "sub-k key must be exact")
    assert(est("big")._1 == 64L)
    assert(math.abs(est("big")._2 - 2000.0) / 2000.0 < 0.3,
      s"KMV estimate ${est("big")._2} outside 30% of 2000")

    // merge of overlapping halves == from-scratch sketch, rows and all
    val h1 = Analytics.kmvSketch(df.filter(col("v") % 2 === 0), Seq("g"), "v", k = 64)
    val h2 = Analytics.kmvSketch(df.filter(col("v") % 2 === 1 || col("v") < 100), Seq("g"), "v", k = 64)
    val merged = Analytics.kmvMerge(64, h1, h2)
      .select("g", "hv", "pos").as[(String, Long, Long)].collect().toSet
    val scratch = sk.select("g", "hv", "pos").as[(String, Long, Long)].collect().toSet
    assert(merged == scratch, "min-k of merged overlapping parts must equal from-scratch")
  }

  test("histogram: max in last bin, constant group collapses to bin 0, counts partition the group") {
    val df = (Seq.tabulate(10)(i => ("T", i.toDouble)) ++ Seq(("C", 5.0), ("C", 5.0)))
      .toDF("g", "v")
    val got = Analytics.histogram(df, Seq("g"), "v", nBins = 5)
      .select("g", "bin", "n", "bin_lo", "bin_hi")
      .as[(String, Long, Long, Double, Double)].collect()
    val t = got.filter(_._1 == "T").sortBy(_._2)
    // range [0,9], width 1.8: bins get 2 values each; v=9 clamps into bin 4
    assert(t.map(b => (b._2, b._3)).toSeq == Seq((0L, 2L), (1L, 2L), (2L, 2L), (3L, 2L), (4L, 2L)))
    assert(t.head._4 == 0.0 && t.last._5 == 9.0)
    assert(t.map(_._3).sum == 10L)
    val c = got.filter(_._1 == "C")
    assert(c.map(b => (b._2, b._3)).toSeq == Seq((0L, 2L)))
  }

  test("cusumFixedPoint: hand-traced two-sided accumulators, reset-at-zero, threshold alarm") {
    def d(s: String) = java.sql.Date.valueOf(s)
    // deviations: +300, -100, -400, +50 with slack 100
    val devs = Seq(
      (1L, d("2024-01-01"), 300L), (1L, d("2024-02-01"), -100L),
      (1L, d("2024-03-01"), -400L), (1L, d("2024-04-01"), 50L))
      .toDF("symbol", "date", "dev_fp")
    val got = Analytics.cusumFixedPoint(devs, "symbol", "date", "dev_fp",
      slackFp = 100L, thresholdFp = 350L)
      .select("date", "cusum_pos", "cusum_neg", "alarm")
      .as[(java.sql.Date, Long, Long, Boolean)].collect().sortBy(_._1.toString)
    // cp: max(0, 300-100)=200; max(0,200-100-100)=0; max(0,0-400-100)=0; max(0,0+50-100)=0
    // cn: min(0, 300+100)=0; min(0,0-100+100)=0; min(0,0-400+100)=-300; min(0,-300+50+100)=-150
    assert(got.map(r => (r._2, r._3)).toSeq ==
      Seq((200L, 0L), (0L, 0L), (0L, -300L), (0L, -150L)))
    // only the -300 breach is NOT an alarm at 350; none breach here
    assert(got.forall(!_._4))
    val alarmed = Analytics.cusumFixedPoint(devs, "symbol", "date", "dev_fp",
      slackFp = 0L, thresholdFp = 250L)
      .select("date", "alarm").as[(java.sql.Date, Boolean)].collect()
      .sortBy(_._1.toString).map(_._2).toSeq
    // slack 0: cp = 300, 200, 0, 50; cn = 0, -100, -500, -350 -> alarms rows 1,3,4
    assert(alarmed == Seq(true, false, true, true))
  }

  test("marketBeta: hand-computed moments — antisymmetric pair has beta 2/corr 1, flat symbol beta 0/corr NULL") {
    def d(s: String) = java.sql.Date.valueOf(s)
    // A returns: +1000bp, -1000bp; B returns: +500bp, +500bp
    // market (truncated-div mean): m2 = 750, m3 = -500 div 2 = -250
    val series = Seq(
      ("A", d("2024-01-01"), 100.0), ("A", d("2024-02-01"), 110.0), ("A", d("2024-03-01"), 99.0),
      ("B", d("2024-01-01"), 100.0), ("B", d("2024-02-01"), 105.0), ("B", d("2024-03-01"), 110.25))
      .toDF("symbol", "date", "price")
    val got = Analytics.marketBeta(series, "symbol", "date", "price")
      .select("symbol", "n", "beta", "corr")
      .as[(String, Long, Option[Double], Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // A: num = 2e6, dx = 1e6, dy = 4e6 -> beta 2.0, corr 1.0
    assert(got("A") == ((2L, Some(2.0), Some(1.0))))
    // B: num = 0 -> beta 0; dy = 0 -> corr NULL (zero variance)
    assert(got("B") == ((2L, Some(0.0), None)))
  }

  test("winsorizedStats: rank-exact clamps, fixed-point robust mean") {
    val vals = (0 to 20).map(i => ("T", i.toDouble, i.toLong)) :+ (("S", 7.0, 99L))
    val df = vals.toDF("event_type", "value", "event_id")
    val got = Analytics.winsorizedStats(df, Seq("event_type"), "value", "event_id")
      .select("event_type", "n", "lo", "hi", "wmean")
      .as[(String, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // n=21: loRank = floor(.05*20)+1 = 2 -> 1.0; hiRank = floor(.95*20)+1 = 20 -> 19.0
    // clamping 0->1 and 20->19 keeps the sum at 210 -> mean 10.0
    assert(got("T") == ((21L, 1.0, 19.0, 10.0)))
    // singleton group: both bounds are the single value
    assert(got("S") == ((1L, 7.0, 7.0, 7.0)))
  }

  test("drawdown: running peak and loss-from-high, flat at new highs") {
    def d(s: String) = java.sql.Date.valueOf(s)
    val series = Seq(
      (1L, d("2024-01-01"), 100.0), (1L, d("2024-02-01"), 80.0),
      (1L, d("2024-03-01"), 120.0), (1L, d("2024-04-01"), 90.0))
      .toDF("symbol", "date", "price")
    val got = Analytics.drawdown(series, "symbol", "date", "price")
      .select("date", "peak", "drawdown")
      .as[(java.sql.Date, Double, Double)].collect().sortBy(_._1.toString)
    assert(got.map(_._2).toSeq == Seq(100.0, 100.0, 120.0, 120.0))
    assert(got.map(_._3).toSeq == Seq(0.0, 80.0 / 100.0 - 1.0, 0.0, 90.0 / 120.0 - 1.0))
  }
}
