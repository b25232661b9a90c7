package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Parquet table loaders for the driver-generated testdata (TESTDATA.md).
  *
  * At cluster scale these would be catalog tables (partitioned parquet /
  * iceberg); the engine only ever sees `DataFrame`s, so the loader is the
  * single seam where storage layout changes. All reads go through here so
  * column pruning / predicate pushdown land on the parquet scan.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The table `name` under `dir`, read with its memoized schema (see
    * [[schemaOf]]), so a repeated read starts no schema-inference job.
    */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  private final case class SchemaKey(
      files: Vector[(String, Long, Long)], settings: Vector[(String, String)])

  /** path → (key, inferred schema); one entry per path, replaced when the
    * key changes. The key holds values only, no session.
    */
  private val schemas = new ConcurrentHashMap[String, (SchemaKey, StructType)]()

  /** The schema `spark.read.parquet(path)` infers, inferred once per key:
    * the table's files (path, length, mtime, from one listing) and the
    * session's `*parquet*` SQL settings, which decide how the footers map
    * to Spark types (`nanosAsLong` turns a ns timestamp into a long). A
    * rewritten table or a flipped setting therefore infers again. A
    * missing path raises Spark's own error.
    */
  private[graft] def schemaOf(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return spark.read.parquet(path).schema
    val files = Vector.newBuilder[(String, Long, Long)]
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next()
      files += ((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    val settings = spark.conf.getAll.filter(_._1.toLowerCase.contains("parquet")).toVector.sorted
    val key = SchemaKey(files.result(), settings)
    schemas.get(path) match {
      case (k, schema) if k == key => schema
      case _ =>
        val schema = spark.read.parquet(path).schema
        schemas.put(path, (key, schema))
        schema
    }
  }

  /** Normalized events relation: `ts` an instant-semantics TIMESTAMP and
    * `ts_ns` the epoch-nanosecond long, whatever the storage layout.
    *
    * The loader is SCHEMA-ADAPTIVE because the upstream generator has
    * shipped two layouts: (a) nanosecond-precision parquet, which Spark's
    * vectorized reader rejects outright ([PARQUET_TYPE_ILLEGAL]) — read as
    * raw ns-longs (`nanosAsLong`) and floored to microseconds, exactly what
    * DuckDB's reader does; (b) microsecond TIMESTAMP(NTZ) parquet — used
    * directly (session timezone is pinned UTC everywhere, so the NTZ→instant
    * cast is the identity on the stored datetimes) with `ts_ns` derived.
    * Both layouts yield identical `ts`/`ts_ns` values and column order.
    *
    * Pushdown: time predicates must hit the RAW stored column to reach the
    * parquet scan — the long `ts_ns` in layout (a), the NTZ `ts` in layout
    * (b); a filter on any DERIVED column stays above the scan. At 100 TB of
    * events that is the difference between scanning a time slice and
    * scanning the table — [[eventsTsRange]] picks the pushdown-safe raw
    * predicate per layout.
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeEvents(rawEvents(spark, dir))

  private def rawEvents(spark: SparkSession, dir: String): DataFrame = {
    // session-level BY DESIGN (the legacy flag has no per-read form): every
    // session built by this engine reads ns-precision parquet as raw longs.
    // Harmless for µs-precision files, which never trip the flag.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    apply(spark, dir, "events")
  }

  /** Normalize a raw events relation (either storage layout, batch or
    * stream) to the engine contract: columns `(event_id, ts_ns, user_id,
    * event_type, value, props, ts)` with `ts` TIMESTAMP and `ts_ns` LONG.
    */
  def normalizeEvents(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case _ =>
        // µs TIMESTAMP or TIMESTAMP_NTZ. For an instant-typed TIMESTAMP the
        // cast below is tz-independent; TIMESTAMP_NTZ carries wall-clock
        // only, and casting it to an instant reads that wall-clock in the
        // SESSION zone — correct for the engine contract (ts_ns = epoch
        // nanos of the recorded UTC wall-clock) only under a UTC session.
        // Every in-repo builder pins UTC; enforce it HERE, where it is
        // relied upon, so an external caller with a different session zone
        // fails loudly instead of silently shifting every ts/ts_ns.
        if (raw.schema("ts").dataType == org.apache.spark.sql.types.TimestampNTZType) {
          val tz = raw.sparkSession.sessionState.conf.sessionLocalTimeZone
          require(
            java.time.ZoneId.of(tz).normalized() == java.time.ZoneOffset.UTC,
            s"normalizeEvents needs spark.sql.session.timeZone=UTC to interpret " +
              s"TIMESTAMP_NTZ event times (session zone is '$tz'): the NTZ->instant " +
              "cast reinterprets the stored UTC wall-clock in the session zone")
        }
        // Column order mirrors layout (a).
        raw.select(
          col("event_id"),
          (unix_micros(col("ts").cast("timestamp")) * 1000L).as("ts_ns"),
          col("user_id"), col("event_type"), col("value"), col("props"),
          col("ts").cast("timestamp").as("ts"))
    }

  /** Epoch nanoseconds of an ISO-8601 UTC instant — the unit `ts_ns`
    * predicates must compare in so they push down to the parquet scan
    * (a predicate on the derived µs `ts` would not). Shared by every
    * time-sliced query cutoff.
    */
  def ns(isoUtc: String): Long = {
    val i = java.time.Instant.parse(isoUtc)
    i.getEpochSecond * 1000000000L + i.getNano
  }

  /** The raw-column cutoff predicate for one instant, phrased in the
    * stored layout's own type (ns-long, NTZ datetime, or instant) so a
    * comparison against it reaches the parquet scan as a pushed filter —
    * a predicate on the DERIVED ts/ts_ns stays above the scan and reads
    * the whole table.
    */
  private def rawTsLiteral(raw: DataFrame, atUtc: java.time.Instant): Column =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => lit(ns(atUtc.toString))
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        lit(java.time.LocalDateTime.ofInstant(atUtc, java.time.ZoneOffset.UTC))
      case _ => lit(atUtc)
    }

  /** Events within [start, end) wall-clock UTC, with the time predicate
    * phrased against the RAW stored column (ns-long or NTZ timestamp) so it
    * pushes down to the parquet scan in either storage layout.
    */
  def eventsTsRange(
      spark: SparkSession, dir: String,
      startUtc: java.time.Instant, endUtc: java.time.Instant): DataFrame = {
    val raw = rawEvents(spark, dir)
    normalizeEvents(raw.filter(
      col("ts") >= rawTsLiteral(raw, startUtc) && col("ts") < rawTsLiteral(raw, endUtc)))
  }

  /** (events before cutoff, events at/after cutoff) — the snapshot/delta
    * split every upsert/CDC/job query makes, with BOTH slices' predicates
    * on the raw stored column so each scan prunes to its own time range
    * (at 100 TB the snapshot and delta sides each read half the row
    * groups, not two full passes).
    */
  def eventsSplitAt(
      spark: SparkSession, dir: String,
      cutoffUtc: java.time.Instant): (DataFrame, DataFrame) = {
    val raw = rawEvents(spark, dir)
    val c = rawTsLiteral(raw, cutoffUtc)
    (normalizeEvents(raw.filter(col("ts") < c)),
      normalizeEvents(raw.filter(col("ts") >= c)))
  }
  def orders(spark: SparkSession, dir: String): DataFrame     = apply(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame   = apply(spark, dir, "lineitem")
  def customer(spark: SparkSession, dir: String): DataFrame   = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = apply(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame     = apply(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame     = apply(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame  = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")
}
