package graft.sources

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.col

/** JDBC upsert sink — the deploy seam for the reference's Postgres
  * `INSERT ... ON CONFLICT (symbol, asset_type) DO UPDATE`
  * (`/root/reference/etl/jobs/fetch_market_data/fetch_market_data.py:30-55`):
  * Spark has no built-in JDBC upsert (`DataFrameWriter.jdbc` only appends or
  * overwrites), so this runs the portable row-level equivalent — UPDATE, and
  * INSERT when no row matched — in one transaction per partition over
  * executor-local connections.
  *
  * Correctness under parallelism: a given key is written by exactly ONE
  * task, so the update-then-insert pair can never race itself across
  * partitions (no cross-partition deadlocks, no duplicate-key insert
  * races). A frame whose planned input is one partition already has that
  * property and is written as it is, by one task; any other frame (more
  * partitions, or a plan with an exchange, whose partition count is only
  * known once it runs) is repartitioned by the key columns first. That
  * one-task-per-key claim does NOT cover two attempts of the SAME task —
  * speculative execution, or a retried task racing its zombie, can put two
  * copies of one partition in flight at once, and both can observe
  * `executeUpdate() == 0` before either inserts. The insert is therefore
  * conflict-safe: with a unique/primary-key constraint on the key columns
  * (which a Postgres `ON CONFLICT` target requires anyway), the losing
  * attempt's duplicate-key error (SQLState class 23) is caught behind a
  * savepoint — so a Postgres transaction isn't poisoned by the failed
  * statement — and the row re-applies as an UPDATE. Without such a
  * constraint the database cannot detect the race, so either declare one
  * or run the sink with `spark.speculation=false`. Within a
  * batch, rows sharing a key would still apply in arbitrary order — callers
  * wanting last-wins semantics dedupe first (ops.Merge.lastWins, exactly the
  * engine's B18 operator). Re-running the same batch is idempotent, which is
  * what makes [[foreachBatchUpsert]] + checkpointing effectively-once for
  * deterministic batches (the standard Structured Streaming JDBC posture).
  *
  * Scale shape: one connection + one prepared-statement pair per partition,
  * rows streamed (never materialized); the only data movement is the key
  * repartition, which a one-partition frame skips. At warehouse scale a
  * set-based `MERGE INTO` from a staged temp table amortizes round trips
  * further — same contract, swap the per-row loop; the row loop is the
  * reference-parity form and works on any JDBC target (tested against
  * in-process Derby, the sandbox stand-in for Postgres).
  *
  * Identifiers are double-quoted verbatim in the generated SQL, so `table`,
  * `keyCols` and `valueCols` must match the DDL case exactly.
  */
object JdbcUpsert {

  private def q(c: String) = "\"" + c + "\""

  /** TEST SEAM — invoked between a 0-row UPDATE and the INSERT attempt in
    * [[upsertBatch]]. The speculation/zombie race window (both attempts
    * observe `executeUpdate() == 0` before either inserts) is microseconds
    * wide, so a thread-race test exercises the savepoint fallback only by
    * luck; the seam lets JdbcUpsertSpec commit a competing row INSIDE the
    * window and prove the duplicate-key loser re-applies as an UPDATE.
    * Default no-op; production behavior unchanged. Local-mode tests only
    * (executors share the driver JVM — a cluster executor would see the
    * default).
    */
  private[graft] var betweenUpdateAndInsert: () => Unit = () => ()

  /** The reference's exact Postgres statement shape — one `INSERT … ON
    * CONFLICT (keys) DO UPDATE SET v = EXCLUDED.v` per row
    * (`/root/reference/etl/jobs/fetch_market_data/fetch_market_data.py:36-47`),
    * with `?` parameter slots in `keyCols ++ valueCols` order. Generated
    * here (and pinned by a spec against the reference's text shape) so a
    * Postgres deployment runs the native conflict-safe statement rather
    * than the portable update-then-insert pair; the sandbox cannot execute
    * it (Derby has no ON CONFLICT), so the portable pair stays the tested
    * default and this is the documented swap-in.
    */
  def onConflictSql(table: String, keyCols: Seq[String], valueCols: Seq[String]): String = {
    require(keyCols.nonEmpty && valueCols.nonEmpty, "need key and value columns")
    val cols = keyCols ++ valueCols
    s"INSERT INTO ${q(table)} (${cols.map(q).mkString(", ")}) " +
      s"VALUES (${cols.map(_ => "?").mkString(", ")}) " +
      s"ON CONFLICT (${keyCols.map(q).mkString(", ")}) DO UPDATE SET " +
      valueCols.map(c => s"${q(c)} = EXCLUDED.${q(c)}").mkString(", ")
  }

  /** Set-based upsert statement: one `MERGE INTO target USING staging`
    * covering the whole staged batch — the warehouse-scale form the
    * per-row loop's Scaladoc promises, and standard SQL (Derby 10.11+,
    * Postgres 15+, every warehouse engine), so [[upsertViaStagedMerge]]
    * can exercise the statement text LIVE against the in-process Derby.
    */
  def mergeSql(
      table: String,
      staging: String,
      keyCols: Seq[String],
      valueCols: Seq[String]): String = {
    require(keyCols.nonEmpty && valueCols.nonEmpty, "need key and value columns")
    val cols = keyCols ++ valueCols
    s"MERGE INTO ${q(table)} t USING ${q(staging)} s ON " +
      keyCols.map(c => s"t.${q(c)} = s.${q(c)}").mkString(" AND ") +
      " WHEN MATCHED THEN UPDATE SET " +
      valueCols.map(c => s"${q(c)} = s.${q(c)}").mkString(", ") +
      s" WHEN NOT MATCHED THEN INSERT (${cols.map(q).mkString(", ")})" +
      s" VALUES (${cols.map(c => s"s.${q(c)}").mkString(", ")})"
  }

  /** Upsert via staged set-based MERGE: executors stream the (key-deduped
    * — MERGE rejects a source with two rows matching one target row, so
    * last-wins dedupe first, the same B18 precondition as the row loop)
    * batch into `staging` with JDBC batch inserts, then the driver runs
    * ONE [[mergeSql]] statement and clears the staging table in the same
    * transaction. Compared to the per-row loop this trades a second write
    * of the batch for set-based target maintenance — the right exchange
    * when the target is indexed and the round-trip latency dominates
    * (warehouse deployments); the per-row pair remains the lowest-footprint
    * portable default. Caller owns the staging table's DDL and exclusivity
    * (two jobs staging into one table would merge each other's rows).
    *
    * Crash safety: a failure between staging and MERGE leaves orphan
    * staging rows but an untouched target; the defensive pre-clear makes
    * the retry see only its own rows, so the operation stays idempotent.
    */
  def upsertViaStagedMerge(
      df: DataFrame,
      url: String,
      table: String,
      staging: String,
      keyCols: Seq[String],
      valueCols: Seq[String]): Unit = {
    require(keyCols.nonEmpty && valueCols.nonEmpty, "need key and value columns")
    val cols = keyCols ++ valueCols
    val insertSql =
      s"INSERT INTO ${q(staging)} (${cols.map(q).mkString(", ")}) " +
        s"VALUES (${cols.map(_ => "?").mkString(", ")})"
    withConn(url) { conn =>
      // defensive pre-clear: a previous crashed attempt's orphans must not
      // leak into this batch's MERGE
      conn.createStatement().executeUpdate(s"DELETE FROM ${q(staging)}")
      conn.commit()
    }
    df.select(cols.map(col): _*)
      .repartition(keyCols.map(col): _*)
      .foreachPartition { (it: Iterator[Row]) =>
        if (it.hasNext) {
          withConn(url) { conn =>
            val ins = conn.prepareStatement(insertSql)
            try {
              var n = 0
              it.foreach { r =>
                keyCols.indices.foreach { i =>
                  if (r.isNullAt(i)) throw new IllegalArgumentException(
                    s"upsert key ${keyCols(i)} is NULL — null keys break upsert idempotence")
                }
                cols.indices.foreach(i => ins.setObject(i + 1, r.get(i)))
                ins.addBatch()
                n += 1
                if (n % 1000 == 0) ins.executeBatch()
              }
              ins.executeBatch()
            } finally ins.close()
            conn.commit()
          }
        }
      }
    withConn(url) { conn =>
      val st = conn.createStatement()
      try {
        st.executeUpdate(mergeSql(table, staging, keyCols, valueCols))
        st.executeUpdate(s"DELETE FROM ${q(staging)}")
      } finally st.close()
      conn.commit()
    }
  }

  private def withConn[A](url: String)(body: java.sql.Connection => A): A = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      conn.setAutoCommit(false)
      try body(conn)
      catch {
        case e: Throwable =>
          try conn.rollback() catch { case _: Exception => () }
          throw e
      }
    } finally conn.close()
  }

  def upsertBatch(
      df: DataFrame,
      url: String,
      table: String,
      keyCols: Seq[String],
      valueCols: Seq[String]): Unit = {
    require(keyCols.nonEmpty && valueCols.nonEmpty, "need key and value columns")
    val cols = keyCols ++ valueCols
    val updateSql =
      s"UPDATE ${q(table)} SET ${valueCols.map(c => s"${q(c)} = ?").mkString(", ")} " +
        s"WHERE ${keyCols.map(c => s"${q(c)} = ?").mkString(" AND ")}"
    val insertSql =
      s"INSERT INTO ${q(table)} (${cols.map(q).mkString(", ")}) " +
        s"VALUES (${cols.map(_ => "?").mkString(", ")})"
    val planned = df.select(cols.map(col): _*)
    // one partition already has every key in one task (Spark's
    // SinglePartition). Counted on the planned RDD, since a checkpointed
    // input reports no partitioning, and only when the plan has no exchange
    // or subquery: then it is not adaptive, so the count is final, and
    // building its RDD runs no job
    val onePartition = !planned.queryExecution.executedPlan.exists {
      case _: AdaptiveSparkPlanExec | _: Exchange => true
      case p => p.subqueries.nonEmpty
    } && planned.queryExecution.toRdd.getNumPartitions == 1
    (if (onePartition) planned else planned.repartition(keyCols.map(col): _*))
      .foreachPartition { (it: Iterator[Row]) =>
        if (it.hasNext) {
          val conn = java.sql.DriverManager.getConnection(url)
          try {
            conn.setAutoCommit(false)
            val upd = conn.prepareStatement(updateSql)
            val ins = conn.prepareStatement(insertSql)
            try {
              it.foreach { r =>
                // NULL never equals anything in SQL, so UPDATE WHERE k = NULL
                // matches zero rows and every replay would INSERT a duplicate
                // — a silent break of the idempotence the streaming path
                // leans on. Fail loudly instead; upstream validation (B1)
                // owns null keys.
                keyCols.indices.foreach { i =>
                  if (r.isNullAt(i)) throw new IllegalArgumentException(
                    s"upsert key ${keyCols(i)} is NULL — null keys break upsert idempotence")
                }
                valueCols.indices.foreach { i =>
                  upd.setObject(i + 1, r.get(keyCols.length + i))
                }
                keyCols.indices.foreach { i =>
                  upd.setObject(valueCols.length + i + 1, r.get(i))
                }
                if (upd.executeUpdate() == 0) {
                  betweenUpdateAndInsert()
                  cols.indices.foreach(i => ins.setObject(i + 1, r.get(i)))
                  // A racing attempt of this same partition (speculation /
                  // zombie retry) may have inserted this key between our
                  // UPDATE and INSERT. The savepoint confines the failed
                  // INSERT (Postgres aborts the whole transaction on any
                  // statement error otherwise); the duplicate-key loser
                  // re-applies as an UPDATE so both attempts converge on
                  // identical final rows.
                  val sp = conn.setSavepoint()
                  try {
                    ins.executeUpdate()
                    conn.releaseSavepoint(sp)
                  } catch {
                    case e: java.sql.SQLException
                        if Option(e.getSQLState).exists(_.startsWith("23")) =>
                      conn.rollback(sp)
                      if (upd.executeUpdate() == 0) throw e
                  }
                }
              }
              conn.commit()
            } finally { upd.close(); ins.close() }
          } catch {
            case e: Throwable =>
              try conn.rollback() catch { case _: Exception => () }
              throw e
          } finally conn.close()
        }
      }
  }

  /** `writeStream.foreachBatch` adapter: every micro-batch upserts into the
    * JDBC table — the engine's deploy path for the reference's
    * poll-Kafka-upsert-Postgres loop (`etl/main.py:86-209`), with
    * effectively-once semantics from idempotent upserts + checkpointed
    * batch replay.
    */
  def foreachBatchUpsert(
      url: String,
      table: String,
      keyCols: Seq[String],
      valueCols: Seq[String]): (DataFrame, Long) => Unit =
    (batch, _) => upsertBatch(batch, url, table, keyCols, valueCols)
}
