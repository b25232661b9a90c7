package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFootprint.jobCount
import graft.TestSpark.withConf

/** Pins the schema-adaptive events normalization: the driver has shipped
  * events.parquet in two layouts across regenerations (int64 nanosecond
  * `ts`, then µs TIMESTAMP_NTZ `ts`), and [[Tables.normalizeEvents]] must
  * map BOTH to the same engine contract — identical values, column order
  * and types — or every time-sliced events query silently changes meaning
  * with a data refresh.
  */
class TablesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // one logical event set, expressed in each storage layout
  private val microsValues = Seq(
    (1L, 1705276800000000L, 10L, "view", 1.5, "{}"),   // 2024-01-15T00:00:00Z
    (2L, 1705276800000001L, 11L, "click", 2.5, "{}"),  // +1µs
    (3L, 1704067199999999L, 12L, "view", 3.5, "{}"))   // 2023-12-31T23:59:59.999999Z

  private def nsLayout = microsValues
    .map { case (id, us, u, e, v, p) => (id, us * 1000L, u, e, v, p) }
    .toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  private def ntzLayout = microsValues
    .toDF("event_id", "us", "user_id", "event_type", "value", "props")
    .select(
      col("event_id"),
      timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"),
      col("user_id"), col("event_type"), col("value"), col("props"))

  test("both storage layouts normalize to identical values, order and types") {
    val a = Tables.normalizeEvents(nsLayout)
    val b = Tables.normalizeEvents(ntzLayout)
    assert(a.columns.toSeq ==
      Seq("event_id", "ts_ns", "user_id", "event_type", "value", "props", "ts"))
    assert(b.columns.toSeq == a.columns.toSeq)
    assert(a.schema("ts").dataType == TimestampType)
    assert(b.schema("ts").dataType == TimestampType)
    assert(a.schema("ts_ns").dataType == LongType)
    assert(b.schema("ts_ns").dataType == LongType)
    val ra = a.orderBy("event_id").collect().toSeq
    val rb = b.orderBy("event_id").collect().toSeq
    assert(ra == rb)
    // ts_ns round-trips the µs instants exactly (×1000)
    assert(ra.map(_.getLong(1)) == microsValues.map(_._2 * 1000L))
  }

  test("normalizeEvents rejects a non-UTC session for the NTZ layout") {
    // the NTZ->instant cast reads wall-clock in the SESSION zone; all
    // in-repo builders pin UTC, and the function enforces the invariant
    // where it is relied on rather than silently shifting ts/ts_ns
    val key = "spark.sql.session.timeZone"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "America/New_York")
    try {
      val ex = intercept[IllegalArgumentException] {
        Tables.normalizeEvents(ntzLayout)
      }
      assert(ex.getMessage.contains("UTC"))
    } finally spark.conf.set(key, prev)
    // the instant-typed layout stays tz-independent: ts_ns values computed
    // under a non-UTC session equal the UTC ones (instants, not wall-clock)
    val utcNs = Tables.normalizeEvents(nsLayout)
      .orderBy("event_id").select("ts_ns").as[Long].collect().toSeq
    spark.conf.set(key, "America/New_York")
    try assert(
      Tables.normalizeEvents(nsLayout)
        .orderBy("event_id").select("ts_ns").as[Long].collect().toSeq == utcNs)
    finally spark.conf.set(key, prev)
  }

  test("normalizeEvents on the instant-typed layout is also accepted") {
    val tz = ntzLayout.withColumn("ts", col("ts").cast("timestamp"))
    val out = Tables.normalizeEvents(tz)
    assert(out.columns.toSeq ==
      Seq("event_id", "ts_ns", "user_id", "event_type", "value", "props", "ts"))
    assert(out.orderBy("event_id").collect().toSeq ==
      Tables.normalizeEvents(nsLayout).orderBy("event_id").collect().toSeq)
  }

  test("eventsSplitAt pushes both slice predicates to the parquet scan") {
    val cutoff = java.time.Instant.parse("2024-01-15T00:00:00Z")
    val (before, after) = Tables.eventsSplitAt(spark, TestSpark.sf0001, cutoff)
    for ((df, cmp) <- Seq((before, "LessThan"), (after, "GreaterThanOrEqual"))) {
      val plan = df.queryExecution.executedPlan.toString
      val scan = plan.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")
      assert(scan.contains(s"$cmp(ts,"),
        s"slice predicate did not reach the scan as a pushed filter:\n$scan")
    }
    // the two slices partition the table exactly
    assert(before.count() + after.count() ==
      Tables.events(spark, TestSpark.sf0001).count())
  }

  test("eventsTsRange slices on the raw stored column in the shipped layout") {
    // against the real testdata: the slice equals a post-normalization filter
    val lo = java.time.Instant.parse("2024-01-10T00:00:00Z")
    val hi = java.time.Instant.parse("2024-01-20T00:00:00Z")
    val sliced = Tables.eventsTsRange(spark, TestSpark.sf0001, lo, hi)
    val manual = Tables.events(spark, TestSpark.sf0001)
      .filter(col("ts_ns") >= Tables.ns(lo.toString) && col("ts_ns") < Tables.ns(hi.toString))
    assert(sliced.count() == manual.count())
    assert(sliced.count() > 0)
    assert(
      sliced.select("event_id").collect().map(_.getLong(0)).toSet ==
        manual.select("event_id").collect().map(_.getLong(0)).toSet)
  }

  test("schema memo: a repeated read of a table starts no Spark job") {
    val dir = Files.createTempDirectory("graft-tables").toString
    Seq((1L, "a")).toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    assert(jobCount(Tables.documents(spark, dir)) >= 1, "the first read infers the schema")
    assert(jobCount(Tables.documents(spark, dir)) == 0, "the second read infers it again")
    assert(Tables.documents(spark, dir).as[(Long, String)].collect().toSeq == Seq((1L, "a")))
  }

  test("schema memo: a table rewritten with another schema is read with the new one") {
    val dir = Files.createTempDirectory("graft-tables").toString
    val path = s"$dir/documents.parquet"
    Seq((1L, "a")).toDF("doc_id", "text").write.parquet(path)
    assert(Tables.documents(spark, dir).columns.toSeq == Seq("doc_id", "text"))
    Seq((2L, "b", 3)).toDF("doc_id", "lang", "n").write.mode("overwrite").parquet(path)
    val df = Tables.documents(spark, dir)
    assert(df.schema == spark.read.parquet(path).schema)
    assert(df.columns.toSeq == Seq("doc_id", "lang", "n"))
    assert(df.collect().toSeq.map(_.toSeq) == Seq(Seq(2L, "b", 3)))
  }

  test("schema memo: flipping nanosAsLong infers again (ns timestamps as longs, else Spark's error)") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    // a nanosecond-timestamp parquet file, the layout `nanosAsLong` reads as longs
    val dir = Files.createTempDirectory("graft-tables").toString
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val writer = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1705276800000000001L))
    finally writer.close()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    def tsType(): DataType = Tables(spark, dir, "events").schema("ts").dataType
    def batchTsType(): Either[String, DataType] =
      scala.util.Try(spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType)
        .toEither.left.map(_.getClass.getName)
    for (flag <- Seq("true", "false", "true")) withConf(key -> flag) {
      assert(scala.util.Try(tsType()).toEither.left.map(_.getClass.getName) == batchTsType(),
        s"nanosAsLong=$flag")
    }
    assert(withConf(key -> "true")(tsType()) == LongType)
    assert(withConf(key -> "true")(Tables(spark, dir, "events").as[(Long, Long)].head()) ==
      (1L, 1705276800000000001L))
  }

  test("schema memo: every sf0.001 table's memoized schema is the inferred one") {
    withConf("spark.sql.legacy.parquet.nanosAsLong" -> "true") {
      for (t <- Tables.names) {
        val path = s"${TestSpark.sf0001}/$t.parquet"
        val inferred = spark.read.parquet(path).schema
        assert(Tables.schemaOf(spark, path) == inferred, t)
        assert(Tables(spark, TestSpark.sf0001, t).schema == inferred, t)
      }
    }
  }
}
