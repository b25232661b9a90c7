package graft
import java.nio.file.{Files, Paths}

/** Hand-rolled JSON output helpers shared by the Verify/Bench mains (no
  * JSON library in the dependency set).
  */
object JsonOut {
  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL (or an exotic path in an env
    * var) would otherwise make the driver's json.load fail and silently
    * zero the round's results.
    */
  def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. The output dir
  * is cleaned first so a query that fails (or was renamed) cannot leave a
  * previous run's parquet behind for the compare to mistake for a pass.
  */
object Verify {
  /** The driver-harness CELL CONTRACT: the compare sorts result cells with
    * pandas, which requires hashable scalars — an array/map/struct column
    * crashes the sort (`TypeError: unhashable type: numpy.ndarray`) and
    * reads as a correctness ERR (round 7's q_unigram_segment/assign).
    * Registered queries therefore emit atomic top-level columns only;
    * list-shaped results pack to a scalar (`array_join`, the qCoverageMap
    * convention). Enforced here at dump time AND in OutputContractSpec at
    * CI time, so the in-repo gate can never pass a query the driver ERRs.
    */
  def isAtomic(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case _: org.apache.spark.sql.types.ArrayType => false
    case _: org.apache.spark.sql.types.MapType => false
    case _: org.apache.spark.sql.types.StructType => false
    case _ => true
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional: extra args name specific queries (dev loop); the driver
    // passes exactly two args and gets the full dump
    val only = args.drop(2).toSet
    val unknown = only.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.mkString(", ")}")
    val spark = GraftSession.local(GraftSession.cpus)
    val out = new java.io.File(outDir)
    if (out.isDirectory) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(): Unit
      }
      out.listFiles().foreach(rm)
    }
    out.mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val bad = df.schema.fields.filterNot(f => isAtomic(f.dataType))
        require(bad.isEmpty,
          s"non-atomic output column(s) ${bad.map(f => s"${f.name}: ${f.dataType.simpleString}")
            .mkString(", ")} — the driver harness cannot hash container cells")
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${JsonOut.q(k)}: ${JsonOut.q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
