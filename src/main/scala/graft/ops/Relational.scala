package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Projection / validation / coercion / dispatch operators — the set-based
  * restatement of the reference's per-row dict manipulation (SURVEY.md §2.B).
  *
  * Reference semantics covered here:
  *  - required-field validate+project (`etl/fetch_utils.py:30-43`) → B1
  *  - rename/extract projection (`fetch_market_index_data.py:49-69`) → B2
  *  - type coercion string→double / string→date
  *    (`fetch_market_data.py:50-54`, `fetch_historical_market_data.py:57-58`) → B3
  *  - asset-type dispatch with unknown-type skip (`etl/fetch_utils.py:6-27`) → B4
  *  - forex symbol split (`etl/fetch_utils.py:20`) → B5
  *  - payload shape guard / JSON parse (`etl/main.py:170`,
  *    `fetch_market_data.py:71-81`) → B6
  *
  * Every function is a pure `DataFrame => DataFrame`; all expressions are
  * built-in Catalyst expressions, so they stay inside whole-stage codegen and
  * the filters push down to the parquet scan.
  */
object Relational {

  /** B1 — required-field validation as a single-pass split: rows keep their
    * required projection plus a `valid` flag. The reference raises on first
    * miss; set-based form tags instead, so downstream can route rejects to a
    * side output without a second scan. `null`s in ANY required column ⇒
    * invalid.
    */
  def validateRequired(df: DataFrame, required: Seq[String]): DataFrame = {
    // fold from lit(true), not reduce: an empty required list (config-driven
    // per asset type) means vacuously valid, not an empty.reduce crash
    val allPresent: Column =
      required.map(c => col(c).isNotNull).foldLeft(lit(true))(_ && _)
    df.select(required.map(col) :+ allPresent.as("valid"): _*)
  }

  /** B1 valid-only variant (the reference's happy path after `process_data`). */
  def filterValid(df: DataFrame, required: Seq[String]): DataFrame =
    df.filter(required.map(c => col(c).isNotNull).foldLeft(lit(true))(_ && _))
      .select(required.map(col): _*)

  /** B2 — rename/extract projection: map source-document field names onto the
    * engine schema (Yahoo `regularMarketPrice` → `price` etc.). Missing fields
    * pass through as nulls, matching the reference's `.get` tolerance.
    */
  def renameProject(df: DataFrame, mapping: Seq[(String, String)]): DataFrame =
    df.select(mapping.map { case (from, to) => col(from).as(to) }: _*)

  /** B3 — type coercion. API documents deliver numerics as strings; coerce
    * with `cast`, which Catalyst folds into the projection (no UDF).
    */
  def coerceDouble(c: Column): Column = c.cast("double")

  /** B4 — asset-type dispatch. The reference's STOCK/CRYPTO/FOREX switch with
    * unknown-type skip becomes an `isin` filter plus a `when` routing column;
    * one pass, no per-type driver loop.
    */
  def dispatchAssetType(
      df: DataFrame,
      typeCol: String,
      routes: Seq[(String, String)]): DataFrame = {
    require(routes.nonEmpty, "dispatchAssetType needs at least one route")
    val known = routes.map(_._1)
    val route = routes.tail.foldLeft(
      when(col(typeCol) === routes.head._1, lit(routes.head._2))) {
      case (acc, (t, r)) => acc.when(col(typeCol) === t, lit(r))
    }
    df.filter(col(typeCol).isin(known: _*))
      .withColumn("route", route)
  }

  /** B5 — symbol pair split (`"EUR/USD"` → legs). */
  def splitPair(pair: Column): (Column, Column) = {
    val parts = split(pair, "/")
    (parts.getItem(0), parts.getItem(1))
  }

  /** B6 — payload parse + shape guard: `from_json` with an explicit schema;
    * rows whose payload fails to parse (or misses required keys) surface as
    * a NULL `payload` struct — the tag-don't-throw convention (like B1's
    * `valid` flag), so downstream routes rejects to a side output in the
    * same pass, mirroring the reference's reject-and-log. This operator
    * does NOT drop them itself.
    */
  def parsePayload(df: DataFrame, jsonCol: String, ddl: String): DataFrame =
    df.withColumn("payload", from_json(col(jsonCol), DataType.fromDDL(ddl)))
}
