package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.DataType

import graft.functions.GopherRepStats
import graft.ops.{DedupOps, TextOps}

/** The built-in / interpreted formulations that the native text kernels
  * replaced, kept as differential baselines: TextKernelSpec and
  * DedupTextSpec assert the production kernels reproduce them exactly.
  */
object TextReference {

  /** `TextOps.tokens` as a regex split plus a lambda filter. */
  def tokens(text: Column): Column =
    filter(split(trim(text), "\\s+"), t => t =!= "")

  /** Gopher's line array: split on `\n`, trim ` \t\r`, drop empties. */
  def lines(t: Column): Column =
    filter(transform(split(t, "\n"), l => trim(l, " \t\r")), l => l =!= "")

  /** Gopher's paragraph array: split on `\n\n`, trim ` \t\r\n`, drop empties. */
  def paragraphs(t: Column): Column =
    filter(transform(split(t, "\n\n"), p => trim(p, " \t\r\n")), p => p =!= "")

  /** Gopher's token array over the whitespace-collapsed lowercased text. */
  def gopherTokens(t: Column): Column =
    filter(split(TextOps.normalize(t), " "), x => x =!= "")

  /** `TextOps.gopherStats` with one string-keyed kernel call per n, the
    * n = 2..10 calls let-bound inside a `bindOnce` struct.
    */
  def gopherStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    df.select(
      col(idCol),
      repStats(lines(t), 1).as("l"),
      repStats(paragraphs(t), 1).as("p"),
      DedupOps.bindOnce(gopherTokens(t)) { w =>
        struct((2 to 10).map(n => repStats(w, n).as(s"g$n")): _*)
      }.as("g"))
  }

  def repStats(items: Column, n: Int): Column =
    ColumnBridge.column(RepStatsRef(ColumnBridge.expression(items), n))

  /** `DedupOps.hashedShingles` with an interpreted lambda per shingle. */
  def hashedShinglesHof(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(
      col(idCol),
      DedupOps.bindOnce(TextOps.tokens(col(textCol))) { toks =>
        when(
          size(toks) >= n,
          array_distinct(transform(
            sequence(lit(1), size(toks) - lit(n - 1)),
            i => xxhash64(concat_ws(" ", slice(toks, i, lit(n)))))))
          .otherwise(array().cast("array<bigint>"))
      }.as("sh"))

  /** Band buckets as `"<band>:<xxhash64 of the band's slice>"` strings. */
  def bandBuckets(sig: Column, bands: Int, rows: Int): Column =
    explode(transform(
      sequence(lit(0), lit(bands - 1)),
      b => concat(
        b.cast("string"), lit(":"),
        xxhash64(slice(sig, b * rows + 1, lit(rows))).cast("string"))))

  private def banded(sh: DataFrame, idCol: String, numHashes: Int, bands: Int): DataFrame =
    sh.select(col(idCol), DedupOps.minhashSignature(col("sh"), numHashes).as("sig"))
      .select(col(idCol), bandBuckets(col("sig"), bands, numHashes / bands).as("bucket"))
      .distinct()

  /** `DedupOps.lshCandidates` over string buckets, de-duplicated. */
  def lshCandidates(sh: DataFrame, idCol: String, numHashes: Int, bands: Int): DataFrame =
    DedupOps.bucketPairs(banded(sh, idCol, numHashes, bands), idCol, "bucket")

  /** `DedupOps.crossLshCandidates` over string buckets, de-duplicated. */
  def crossLshCandidates(
      shA: DataFrame, shB: DataFrame, idCol: String, numHashes: Int, bands: Int): DataFrame =
    banded(shA, idCol, numHashes, bands).select(col(idCol).as("doc_a"), col("bucket"))
      .join(banded(shB, idCol, numHashes, bands).select(col(idCol).as("doc_b"), col("bucket")),
        Seq("bucket"))
      .select(col("doc_a"), col("doc_b")).distinct()
}

/** The string-keyed Gopher kernel: one call per n, each window's gram
  * built as a joined `String` key in a `java.util.HashMap`. Field meanings
  * as in [[graft.functions.RepetitionKernel]].
  */
object RepetitionKernelRef {

  def compute(a: ArrayData, n: Int): InternalRow = {
    val len = a.numElements()
    val strs = new Array[String](len)
    val lens = new Array[Int](len)
    var tot = 0L
    var i = 0
    while (i < len) {
      val s = if (a.isNullAt(i)) "" else a.getUTF8String(i).toString
      strs(i) = s
      val cp = s.codePointCount(0, s.length)
      lens(i) = cp
      tot += cp
      i += 1
    }
    if (len < n)
      return new GenericInternalRow(Array[Any](0L, 0L, 0L, 0L, 0L, tot))
    val windows = len - n + 1
    val counts = new java.util.HashMap[String, Array[Long]]()
    val keys = new Array[String](windows)
    var j = 0
    while (j < windows) {
      val key = (0 until n).map(k => strs(j + k)).mkString(" ")
      keys(j) = key
      val gramChars = (0 until n).map(k => lens(j + k).toLong).sum
      val slot = counts.get(key)
      if (slot == null) counts.put(key, Array(1L, gramChars))
      else slot(0) += 1L
      j += 1
    }
    var rep = 0L
    var top = 0L
    counts.values().forEach { slot =>
      rep += (slot(0) - 1L) * slot(1)
      if (slot(0) > 1L) top = math.max(top, slot(0) * slot(1))
    }
    val covered = new Array[Boolean](len)
    j = 0
    while (j < windows) {
      if (counts.get(keys(j))(0) > 1L) (0 until n).foreach(k => covered(j + k) = true)
      j += 1
    }
    val cov = (0 until len).filter(covered(_)).map(lens(_).toLong).sum
    new GenericInternalRow(
      Array[Any](windows.toLong, counts.size.toLong, rep, cov, top, tot))
  }
}

/** Interpreted expression over [[RepetitionKernelRef]]. */
case class RepStatsRef(child: Expression, n: Int) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = GopherRepStats.statsType
  override def nullSafeEval(input: Any): Any =
    RepetitionKernelRef.compute(input.asInstanceOf[ArrayData], n)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
