package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFootprint.{jobsOf, plansOf}
import graft.sources.JdbcUpsert

/** The JDBC upsert round trip ACTUALLY TAKEN against an in-process Derby
  * (the sandbox stand-in for the reference's Postgres): composite-key
  * ON-CONFLICT semantics, partition-parallel writes, idempotent replay, and
  * the foreachBatch streaming deploy path.
  */
class JdbcUpsertSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val url = "jdbc:derby:memory:graftdb;create=true"
  private val keyCols = Seq("symbol", "asset_type")
  private val valCols = Seq("price", "change")

  /** `body` over a fresh table; without `primaryKey` the database cannot
    * catch a key written twice, so only the sink's one-task-per-key rule
    * keeps it to one row.
    */
  private def withTable[A](name: String, primaryKey: Boolean = true)(body: String => A): A = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.execute(s"""DROP TABLE "$name"""") catch { case _: java.sql.SQLException => () }
      st.execute(
        s"""CREATE TABLE "$name" (
           |  "symbol" VARCHAR(32) NOT NULL,
           |  "asset_type" VARCHAR(16) NOT NULL,
           |  "price" DOUBLE,
           |  "change" DOUBLE${if (primaryKey) """,
           |  PRIMARY KEY ("symbol", "asset_type")""" else ""})""".stripMargin)
      st.close()
      body(name)
    } finally conn.close()
  }

  private def readAll(name: String): Set[(String, String, Double, Double)] = readRows(name).toSet

  private def readRows(name: String): Seq[(String, String, Double, Double)] = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(
        s"""SELECT "symbol", "asset_type", "price", "change" FROM "$name"""")
      val buf = Seq.newBuilder[(String, String, Double, Double)]
      while (rs.next()) buf += ((rs.getString(1), rs.getString(2), rs.getDouble(3), rs.getDouble(4)))
      buf.result()
    } finally conn.close()
  }

  private def exchanges(plans: Seq[SparkPlan]): Seq[Exchange] =
    plans.flatMap(SparkFootprint.collect(_) { case e: Exchange => e })

  private def keyShuffled(plans: Seq[SparkPlan]): Boolean = exchanges(plans).exists {
    case s: ShuffleExchangeExec => s.outputPartitioning.isInstanceOf[HashPartitioning]
    case _ => false
  }

  test("upsertBatch: insert-new + update-existing on the composite key (reference ON CONFLICT)") {
    withTable("market_data") { t =>
      val b1 = Seq(
        ("AAPL", "STOCK", 100.0, 1.0),
        ("BTC", "CRYPTO", 50000.0, -20.0),
        ("MSFT", "STOCK", 200.0, 2.0))
        .toDF("symbol", "asset_type", "price", "change")
      JdbcUpsert.upsertBatch(b1, url, t, keyCols, valCols)
      assert(readAll(t) == Set(
        ("AAPL", "STOCK", 100.0, 1.0), ("BTC", "CRYPTO", 50000.0, -20.0),
        ("MSFT", "STOCK", 200.0, 2.0)))
      // second batch: one conflict (AAPL updated), one new row; same symbol
      // under a DIFFERENT asset_type must NOT conflict (composite key)
      val b2 = Seq(
        ("AAPL", "STOCK", 101.5, 1.5),
        ("AAPL", "OPTION", 9.0, 0.1),
        ("ETH", "CRYPTO", 3000.0, 30.0))
        .toDF("symbol", "asset_type", "price", "change")
      JdbcUpsert.upsertBatch(b2, url, t, keyCols, valCols)
      assert(readAll(t) == Set(
        ("AAPL", "STOCK", 101.5, 1.5), ("AAPL", "OPTION", 9.0, 0.1),
        ("BTC", "CRYPTO", 50000.0, -20.0), ("MSFT", "STOCK", 200.0, 2.0),
        ("ETH", "CRYPTO", 3000.0, 30.0)))
      // replaying a batch verbatim is a no-op (idempotence — the property
      // foreachBatch checkpoint recovery leans on)
      JdbcUpsert.upsertBatch(b2, url, t, keyCols, valCols)
      assert(readAll(t).size == 5)
    }
  }

  test("upsertBatch: partition-parallel writes land every key exactly once") {
    withTable("market_par") { t =>
      val n = 2000
      val df = spark.range(n)
        .select(
          concat(lit("S"), col("id")).as("symbol"),
          lit("STOCK").as("asset_type"),
          col("id").cast("double").as("price"),
          lit(0.5).as("change"))
        .repartition(16) // many concurrent writer tasks against one Derby
      JdbcUpsert.upsertBatch(df, url, t, keyCols, valCols)
      val got = readAll(t)
      assert(got.size == n)
      assert(got.forall { case (s, _, p, _) => s == s"S${p.toLong}" })
      // update wave: every row conflicts, none duplicates
      JdbcUpsert.upsertBatch(
        df.withColumn("price", col("price") + 1000000.0), url, t, keyCols, valCols)
      val after = readAll(t)
      assert(after.size == n && after.forall(_._3 >= 1000000.0))
    }
  }

  test("upsertBatch: a one-partition input is written by one task, with no key shuffle") {
    val b1 = Seq(("AAPL", "STOCK", 100.0, 1.0), ("BTC", "CRYPTO", 50000.0, -20.0))
      .toDF("symbol", "asset_type", "price", "change")
    val rows = Seq(
      ("AAPL", "STOCK", 101.5, 1.5), ("AAPL", "OPTION", 9.0, 0.1),
      ("ETH", "CRYPTO", 3000.0, 30.0), ("SOL", "CRYPTO", 150.0, 5.0))
    // a shuffled result pinned by localCheckpoint, as a daemon's delta is:
    // one partition, and a plan that reports no partitioning
    val delta = rows.toDF("symbol", "asset_type", "price", "change").repartition(1).localCheckpoint()
    assert(PlanBridge.internalRows(delta).getNumPartitions == 1)
    def written(name: String, batch: DataFrame) = withTable(name) { t =>
      JdbcUpsert.upsertBatch(b1, url, t, keyCols, valCols)
      val ((jobs, _), plans) = plansOf(jobsOf(JdbcUpsert.upsertBatch(batch, url, t, keyCols, valCols)))
      (readAll(t), jobs, plans)
    }
    val (one, jobs, plans) = written("market_one", delta)
    assert(jobs == 1)
    assert(plans.nonEmpty && exchanges(plans).isEmpty, plans.mkString("\n"))
    // the same rows over three partitions take the key repartition
    val (many, _, manyPlans) =
      written("market_many", rows.toDF("symbol", "asset_type", "price", "change").repartition(3))
    assert(keyShuffled(manyPlans))
    assert(one == many)
    assert(one == Set(("AAPL", "STOCK", 101.5, 1.5), ("BTC", "CRYPTO", 50000.0, -20.0)) ++ rows.tail)
  }

  test("upsertBatch: a multi-partition input holding one key in two partitions is repartitioned by key") {
    withTable("market_split", primaryKey = false) { t =>
      val schema = StructType(Seq("symbol", "asset_type").map(StructField(_, StringType)) ++
        Seq("price", "change").map(StructField(_, DoubleType)))
      // AAPL is the first row of the first partition and the last row of the second
      val rows = Seq(Row("AAPL", "STOCK", 100.0, 1.0), Row("MSFT", "STOCK", 200.0, 2.0),
        Row("BTC", "CRYPTO", 3.0, 3.0), Row("AAPL", "STOCK", 100.0, 1.0))
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      assert(df.rdd.glom().collect().map(_.count(_.getString(0) == "AAPL")).toSeq == Seq(1, 1))
      val (_, plans) = plansOf(JdbcUpsert.upsertBatch(df, url, t, keyCols, valCols))
      assert(keyShuffled(plans), plans.mkString("\n"))
      assert(readRows(t).sorted ==
        Seq(("AAPL", "STOCK", 100.0, 1.0), ("BTC", "CRYPTO", 3.0, 3.0), ("MSFT", "STOCK", 200.0, 2.0)))
    }
  }

  test("upsertBatch: two concurrent attempts of the same rows converge (speculation/zombie race)") {
    // Speculative execution (or a retried task racing its zombie) puts two
    // attempts of the SAME partition in flight: both can see 0 updated
    // rows and both try to INSERT. With the PK declared, the loser's
    // duplicate-key error must resolve via the savepoint fallback into an
    // UPDATE — the job converges instead of failing or double-inserting.
    withTable("market_race") { t =>
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      (1 to 10).foreach { round =>
        val df = Seq(("AAPL", "STOCK", 100.0 + round, round.toDouble))
          .toDF("symbol", "asset_type", "price", "change")
        val threads = (1 to 2).map { _ =>
          new Thread(() =>
            try JdbcUpsert.upsertBatch(df, url, t, keyCols, valCols)
            catch { case e: Throwable => errs.add(e) })
        }
        threads.foreach(_.start())
        threads.foreach(_.join())
        assert(errs.isEmpty, s"racing attempt failed: ${Option(errs.peek())}")
        assert(readAll(t) == Set(("AAPL", "STOCK", 100.0 + round, round.toDouble)),
          "both attempts must land on the same single final row")
      }
    }
  }

  test("upsertBatch: deterministic zombie-insert interleaving takes the savepoint path") {
    // The thread-race test above exercises the window only by luck (it is
    // microseconds wide); this one FORCES the interleaving via the test
    // seam: after our attempt's UPDATE matched 0 rows, the "zombie" commits
    // the same key before our INSERT runs. The INSERT must fail on the PK,
    // roll back to the savepoint (not poison the transaction), and re-apply
    // as an UPDATE — exactly one final row, holding OUR values.
    withTable("market_zombie") { t =>
      val fired = new java.util.concurrent.atomic.AtomicInteger(0)
      JdbcUpsert.betweenUpdateAndInsert = () =>
        if (fired.incrementAndGet() == 1) {
          // the racing attempt wins the insert and commits inside our window
          val zc = java.sql.DriverManager.getConnection(url)
          try {
            zc.createStatement().executeUpdate(
              s"""INSERT INTO "$t" VALUES ('RACE', 'STOCK', 1.0, 0.0)""")
          } finally zc.close()
        }
      try {
        val df = Seq(("RACE", "STOCK", 42.0, 2.0))
          .toDF("symbol", "asset_type", "price", "change")
        JdbcUpsert.upsertBatch(df, url, t, keyCols, valCols)
        assert(fired.get() >= 1, "the interleaving hook must have run")
        assert(readAll(t) == Set(("RACE", "STOCK", 42.0, 2.0)),
          "duplicate-key loser must converge via savepoint + UPDATE to exactly one row")
        // and a second normal wave still works on the same (unpoisoned) path
        JdbcUpsert.upsertBatch(
          Seq(("RACE", "STOCK", 43.0, 3.0)).toDF("symbol", "asset_type", "price", "change"),
          url, t, keyCols, valCols)
        assert(readAll(t) == Set(("RACE", "STOCK", 43.0, 3.0)))
      } finally JdbcUpsert.betweenUpdateAndInsert = () => ()
    }
  }

  test("onConflictSql generates the reference's exact Postgres statement shape") {
    // reference: fetch_market_data.py:36-47 — INSERT … VALUES … ON
    // CONFLICT (symbol, asset_type) DO UPDATE SET col = EXCLUDED.col.
    // Pinned verbatim (modulo quoting and ? placeholders) so the Postgres
    // deployment path executes the same statement the reference does.
    assert(JdbcUpsert.onConflictSql("market_data", keyCols, valCols) ==
      """INSERT INTO "market_data" ("symbol", "asset_type", "price", "change") """ +
        """VALUES (?, ?, ?, ?) ON CONFLICT ("symbol", "asset_type") DO UPDATE SET """ +
        """"price" = EXCLUDED."price", "change" = EXCLUDED."change"""")
  }

  test("upsertViaStagedMerge: set-based MERGE round trip against live Derby") {
    withTable("merge_target") { t =>
      withTable("merge_staging") { s =>
        // wave 1: all inserts through the NOT MATCHED branch
        val b1 = Seq(
          ("AAPL", "STOCK", 100.0, 1.0),
          ("BTC", "CRYPTO", 50000.0, -20.0))
          .toDF("symbol", "asset_type", "price", "change")
        JdbcUpsert.upsertViaStagedMerge(b1, url, t, s, keyCols, valCols)
        assert(readAll(t) == Set(
          ("AAPL", "STOCK", 100.0, 1.0), ("BTC", "CRYPTO", 50000.0, -20.0)))
        // wave 2: one MATCHED update, one new key, composite key respected
        val b2 = Seq(
          ("AAPL", "STOCK", 101.5, 1.5),
          ("AAPL", "OPTION", 9.0, 0.1))
          .toDF("symbol", "asset_type", "price", "change")
        JdbcUpsert.upsertViaStagedMerge(b2, url, t, s, keyCols, valCols)
        assert(readAll(t) == Set(
          ("AAPL", "STOCK", 101.5, 1.5), ("AAPL", "OPTION", 9.0, 0.1),
          ("BTC", "CRYPTO", 50000.0, -20.0)))
        // replay of the same batch is a no-op (idempotence) and the
        // staging table is left empty for the next batch
        JdbcUpsert.upsertViaStagedMerge(b2, url, t, s, keyCols, valCols)
        assert(readAll(t).size == 3)
        assert(readAll(s).isEmpty, "staging must be cleared after the merge")
        // many-partition wave: the staged form handles parallel writers too
        val wide = spark.range(500)
          .select(
            concat(lit("W"), col("id")).as("symbol"),
            lit("STOCK").as("asset_type"),
            col("id").cast("double").as("price"),
            lit(0.25).as("change"))
          .repartition(8)
        JdbcUpsert.upsertViaStagedMerge(wide, url, t, s, keyCols, valCols)
        assert(readAll(t).size == 503)
      }
    }
  }

  test("foreachBatchUpsert: MemoryStream micro-batches reach the table with last-wins state") {
    withTable("market_stream") { t =>
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[(String, String, Double, Double)]
      val q = in.toDF().toDF("symbol", "asset_type", "price", "change")
        .writeStream
        .outputMode("append")
        .foreachBatch(JdbcUpsert.foreachBatchUpsert(url, t, keyCols, valCols))
        .start()
      try {
        in.addData(("AAPL", "STOCK", 100.0, 1.0), ("BTC", "CRYPTO", 50000.0, -20.0))
        q.processAllAvailable()
        assert(readAll(t) == Set(
          ("AAPL", "STOCK", 100.0, 1.0), ("BTC", "CRYPTO", 50000.0, -20.0)))
        // a later micro-batch re-quotes AAPL: the table must hold the new
        // value, not a second row — the reference's poll-upsert loop parity
        in.addData(("AAPL", "STOCK", 103.0, 3.0))
        q.processAllAvailable()
        assert(readAll(t) == Set(
          ("AAPL", "STOCK", 103.0, 3.0), ("BTC", "CRYPTO", 50000.0, -20.0)))
      } finally q.stop()
    }
  }
}
