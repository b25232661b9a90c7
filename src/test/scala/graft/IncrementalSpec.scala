package graft

import java.sql.Date

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Incremental

object IncrementalSpec {

  /** B9, the cache-first guard, as a relational reference: true iff every
    * requested key is stored — an `isEmpty` probe of the
    * [[Incremental.needingUpdate]] anti-join. `Jobs.indexUpdate` applies
    * the rule on the driver.
    */
  def fullyCovered(requested: DataFrame, stored: DataFrame, keys: Seq[String]): Boolean =
    Incremental.needingUpdate(requested, stored, keys).isEmpty
}

class IncrementalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("gapDetection: fully-covered symbol dropped; partial coverage yields min/max of missing") {
    val requested = Seq("FULL", "PARTIAL", "EMPTY").toDF("symbol")
    val stored = Seq(
      // FULL covers Jan..Apr; PARTIAL covers only Feb
      ("FULL", Date.valueOf("2024-01-15")), ("FULL", Date.valueOf("2024-02-15")),
      ("FULL", Date.valueOf("2024-03-15")), ("FULL", Date.valueOf("2024-04-15")),
      ("PARTIAL", Date.valueOf("2024-02-10"))
    ).toDF("symbol", "d")
    val got = Incremental
      .gapDetection(
        requested, stored, Seq("symbol"), "d",
        lit("2024-01-01").cast("date"), lit("2024-04-01").cast("date"))
      .as[(String, Date, Date, Long)].collect().map(r => r._1 -> ((r._2.toString, r._3.toString, r._4))).toMap
    assert(!got.contains("FULL"))
    assert(got("PARTIAL") == (("2024-01-01", "2024-04-01", 3L))) // Jan, Mar, Apr missing
    assert(got("EMPTY") == (("2024-01-01", "2024-04-01", 4L)))   // everything missing
  }

  test("gapDetection: a mid-month start still matches month-truncated coverage") {
    // spine months must normalize to the 1st like coverage does — a
    // 15th-of-month spine would never equal truncated coverage and every
    // month would read as missing forever (incrementality destroyed)
    val requested = Seq("A").toDF("symbol")
    val stored = Seq(("A", Date.valueOf("2024-01-20"))).toDF("symbol", "d")
    val got = Incremental
      .gapDetection(
        requested, stored, Seq("symbol"), "d",
        lit("2024-01-15").cast("date"), lit("2024-03-15").cast("date"))
      .as[(String, Date, Date, Long)].collect().toSeq
      .map(r => (r._1, r._2.toString, r._3.toString, r._4))
    // January is COVERED despite the mid-month bounds; only Feb+Mar missing
    assert(got == Seq(("A", "2024-02-01", "2024-03-01", 2L)))
  }

  test("adjustDateRange truncates start, clamps end to today, flags single-month") {
    val df = Seq(
      ("A", Date.valueOf("2024-03-17"), Date.valueOf("2024-09-30")), // end clamped
      ("B", Date.valueOf("2024-06-02"), Date.valueOf("2024-06-20"))  // single month
    ).toDF("symbol", "start_date", "end_date")
    val got = Incremental
      .adjustDateRange(df, "start_date", "end_date", lit("2024-06-15").cast("date"))
      .select("symbol", "adj_start", "adj_end", "single_month")
      .as[(String, Date, Date, Boolean)].collect()
      .map(r => r._1 -> ((r._2.toString, r._3.toString, r._4))).toMap
    assert(got("A") == (("2024-03-01", "2024-06-15", false)))
    assert(got("B") == (("2024-06-01", "2024-06-15", true)))
  }

  test("needingUpdate/existing partition the request set") {
    val requested = Seq(1L, 2L, 3L).toDF("k")
    val stored = Seq(2L, 3L, 9L).toDF("k")
    assert(Incremental.needingUpdate(requested, stored, Seq("k")).as[Long].collect().toSet == Set(1L))
    assert(Incremental.existing(requested, stored, Seq("k")).as[Long].collect().toSet == Set(2L, 3L))
    assert(!IncrementalSpec.fullyCovered(requested, stored, Seq("k")))
    assert(IncrementalSpec.fullyCovered(Seq(2L, 3L).toDF("k"), stored, Seq("k")))
  }
}
