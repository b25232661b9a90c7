package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFootprint.jobCount
import graft.ops.{Caching, SimilarityOps}

/** The driver-held Lloyd fit (`SimilarityOps.lloyd` / `pqLloyd`) against
  * the relational reference [[RelationalLloyd]]: the same centroids, row
  * for row and schema for schema, and the same `kmeansFixedPoint`
  * assignments — on seeded corpora and on the edge cases the arithmetic
  * has to get right. Also pins the fit's Spark job count.
  */
class LloydSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private type Vec = Seq[java.lang.Long]

  private def vec(xs: Any*): Vec = xs.map {
    case null => null
    case x: Int => Long.box(x.toLong)
  }

  private val vecType = ArrayType(LongType, containsNull = true)

  private def flat(rows: Seq[(Long, Vec)], partitions: Int = 4): DataFrame =
    spark.createDataFrame(rows.map { case (id, v) => Row(id, v) }.asJava,
      StructType(Seq(StructField("id", LongType, nullable = false), StructField("vfp", vecType))))
      .repartition(partitions)

  private def grouped(rows: Seq[(Long, Long, Vec)], partitions: Int = 4): DataFrame =
    spark.createDataFrame(rows.map { case (id, sub, v) => Row(id, sub, v) }.asJava,
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("sub", LongType, nullable = false), StructField("svfp", vecType))))
      .repartition(partitions)

  /** The same vectors as embeddings, which `quantizeFp` maps back exactly. */
  private def embeddings(rows: Seq[(Long, Vec)]): DataFrame =
    spark.createDataFrame(
      rows.map { case (id, v) =>
        Row(id, if (v == null) null else v.map(x => if (x == null) null else Double.box(x / 1e6)))
      }.asJava,
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("emb", ArrayType(DoubleType, containsNull = true)))))

  /** Rows sorted by their leading key columns, the vector column last. */
  private def sortedRows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)
      .sortBy(_.init.map(_.asInstanceOf[Long]))(Ordering.Implicits.seqOrdering[Seq, Long])

  private def assertSameFit(got: DataFrame, ref: DataFrame, clue: String): Unit = {
    assert(got.schema == ref.schema, s"$clue: schema")
    assert(sortedRows(got) == sortedRows(ref), clue)
  }

  private def checkFlat(rows: Seq[(Long, Vec)], k: Int, iters: Int, clue: String): Unit = {
    val v = flat(rows)
    assertSameFit(SimilarityOps.lloyd(v, "id", k, iters), RelationalLloyd.lloyd(v, "id", k, iters), clue)
    val q = RelationalLloyd.quantizeFp(embeddings(rows), "id", "emb")
    val refAssign = RelationalLloyd.assignFp(q, "id", RelationalLloyd.lloyd(q, "id", k, iters))
    val gotAssign = SimilarityOps.kmeansFixedPoint(embeddings(rows), "id", "emb", k, iters)
    assert(sortedRows(gotAssign.select("id", "cid", "dist_fp")) == sortedRows(refAssign), s"$clue: assignments")
  }

  /** `n` vectors with ids drawn without replacement from 1..3n, entries in
    * [-range, range] (a small range forces equal distances), `nullRate` of
    * elements NULL, and lengths dim, dim-1 or dim-2 when ragged; one
    * vector in 20 is NULL.
    */
  private def corpus(seed: Long, n: Int, dim: Int, range: Int, nullRate: Double,
      ragged: Boolean): Seq[(Long, Vec)] = {
    val rnd = new scala.util.Random(seed)
    rnd.shuffle((1L to 3L * n).toList).take(n).map { id =>
      val len = if (ragged) dim - rnd.nextInt(3) else dim
      id -> (if (rnd.nextInt(20) == 0) null
             else Seq.fill(len)(
               if (rnd.nextDouble() < nullRate) null else Long.box(rnd.nextInt(2 * range + 1) - range)))
    }
  }

  test("driver fit equals the relational reference on seeded corpora, with their assignments") {
    val cases = Seq(
      // (seed, n, dim, range, nullRate, ragged, k, iters)
      (1L, 60, 4, 1000000, 0.0, false, 5, 3),
      (2L, 80, 3, 2, 0.0, false, 6, 3),
      (3L, 50, 5, 40, 0.1, true, 4, 2),
      (4L, 40, 2, 1, 0.2, true, 8, 4),
      (5L, 30, 6, 500, 0.3, false, 3, 1))
    for ((seed, n, dim, range, nullRate, ragged, k, iters) <- cases)
      checkFlat(corpus(seed, n, dim, range, nullRate, ragged), k, iters, s"seed $seed")
  }

  test("fewer vectors than k: one centroid per vector") {
    val rows = Seq(5L -> vec(3, -4), 9L -> vec(-7, 1), 2L -> vec(0, 0))
    checkFlat(rows, k = 5, iters = 2, "n < k")
    assert(SimilarityOps.lloyd(flat(rows), "id", 5, 2).count() == 3)
  }

  test("a cluster that empties in round 2 keeps its centroid") {
    // seeds: c0 = -17 (id 1), c1 = 19, c2 = -17 (id 3; it ties with c0 and
    // loses). Round 1 pulls c0 to -11, so in round 2 both -17s go to c2
    // and c0 has no member.
    val rows = Seq(-17, 19, -17, 8, 9, 1).zipWithIndex.map { case (x, i) => (i + 1L) -> vec(x) }
    val v = flat(rows)
    val seeds = spark.createDataFrame(
      Seq(Row(0L, vec(-17)), Row(1L, vec(19)), Row(2L, vec(-17))).asJava,
      StructType(Seq(StructField("cid", LongType), StructField("cfp", vecType))))
    def members(cs: DataFrame): Set[Long] =
      RelationalLloyd.assignFp(v, "id", cs).select("cid").collect().map(_.getLong(0)).toSet
    assert(members(seeds).contains(0L))
    assert(!members(RelationalLloyd.lloyd(v, "id", 3, 1)).contains(0L))
    for (iters <- 1 to 3) checkFlat(rows, k = 3, iters, s"iters $iters")
    assert(sortedRows(SimilarityOps.lloyd(v, "id", 3, 2)).map(_.last) ==
      Seq(Seq(-11L), Seq(9L), Seq(-17L)))
  }

  test("equal distances go to the lowest cid; negative means truncate toward zero") {
    // [5,0] is as far from c0 = [0,0] as from c1 = [10,0] and must join c0;
    // c0's members then sum to [-3,-1] over 3, which is [-1,0] truncated
    // (flooring would give [-1,-1], the tie going to c1 [-4,0] and [7,0])
    val rows = Seq(1L -> vec(0, 0), 2L -> vec(10, 0), 3L -> vec(5, 0), 4L -> vec(-8, -1))
    assert(sortedRows(SimilarityOps.lloyd(flat(rows), "id", 2, 1)) ==
      Seq(Seq(0L, Seq(-1L, 0L)), Seq(1L, Seq(10L, 0L))))
    for (iters <- 1 to 3) checkFlat(rows, k = 2, iters, s"iters $iters")
  }

  test("null elements, ragged lengths, empty and null vectors") {
    // position 1 of c0's members is NULL in each: it stays NULL; [] and the
    // NULL vector have no position and move nothing
    val rows = Seq(1L -> vec(4, null, 3), 2L -> vec(100, 7), 3L -> null, 4L -> vec(6, null),
      5L -> vec(), 6L -> vec(null, null, null, 9), 7L -> vec(101, null, 5), 8L -> vec(-3))
    for (k <- Seq(2, 3, 6); iters <- Seq(1, 3)) checkFlat(rows, k, iters, s"k $k iters $iters")
    // a NULL seed: every distance to it is NULL, which orders first, so
    // round 1 gives it every vector and leaves c1 with none
    val nullSeed = Seq(1L -> null, 2L -> vec(1, 2), 3L -> vec(5, 6))
    assert(sortedRows(SimilarityOps.lloyd(flat(nullSeed), "id", 2, 1)) ==
      Seq(Seq(0L, Seq(3L, 4L)), Seq(1L, Seq(1L, 2L))))
    for (iters <- 1 to 3) checkFlat(nullSeed, k = 2, iters, s"null seed, iters $iters")
  }

  test("grouped fit equals the reference, with and without per-group caps") {
    val rows = (0L until 5L).flatMap { sub =>
      corpus(10L + sub, 25, 3, if (sub % 2 == 0) 3 else 300, 0.1, ragged = sub == 4L)
        .map { case (id, v) => (id, sub, v) }
    }
    val s = grouped(rows)
    // sub 0 capped to 1, sub 1 above k, sub 2 a NULL cap (least() ignores
    // it), sub 3 capped to 0, sub 4 absent: no codewords
    val caps = spark.createDataFrame(
      Seq(Row(0L, 1L), Row(1L, 50L), Row(2L, null), Row(3L, 0L)).asJava,
      StructType(Seq(StructField("sub", LongType), StructField("__cap", LongType))))
    for (iters <- Seq(1, 3)) {
      assertSameFit(SimilarityOps.pqLloyd(s, "id", 4, iters),
        RelationalLloyd.pqLloyd(s, "id", 4, iters), s"uncapped, iters $iters")
      val got = SimilarityOps.pqLloyd(s, "id", 4, iters, Some(caps))
      assertSameFit(got, RelationalLloyd.pqLloyd(s, "id", 4, iters, Some(caps)), s"capped, iters $iters")
      assert(got.groupBy("sub").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
        Map(0L -> 1L, 1L -> 4L, 2L -> 4L))
    }
  }

  test("the fit does not depend on input or shuffle partition counts") {
    val rows = corpus(20L, 70, 3, 5, 0.1, ragged = true)
    val grows = (0L until 3L).flatMap(sub => rows.map { case (id, v) => (id, sub, v) })
    val ref = sortedRows(RelationalLloyd.lloyd(flat(rows), "id", 6, 3))
    val gref = sortedRows(RelationalLloyd.pqLloyd(grouped(grows), "id", 5, 3))
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      for (p <- Seq(1, 4, 7)) {
        spark.conf.set("spark.sql.shuffle.partitions", p.toString)
        assert(sortedRows(SimilarityOps.lloyd(flat(rows, p), "id", 6, 3)) == ref, s"flat, $p partitions")
        assert(sortedRows(SimilarityOps.pqLloyd(grouped(grows, p), "id", 5, 3)) == gref,
          s"grouped, $p partitions")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("a fit runs one job to seed, which also caches its input, and one per round") {
    for (iters <- Seq(1, 3)) {
      // a fresh corpus per fit, so its cache is built inside the count
      val rows = corpus(30L + iters, 200, 8, 1000, 0.0, ragged = false)
      val flatJobs = jobCount(Caching.withCached {
        SimilarityOps.kmeansCentroids(embeddings(rows), "id", "emb", 8, iters).collect()
      })
      assert(flatJobs == 1 + iters, s"kmeansCentroids, iters $iters")
      val pqJobs = jobCount(Caching.withCached {
        SimilarityOps.pqTrain(embeddings(rows), "id", "emb", dim = 8, m = 4, kSub = 4, iters).collect()
      })
      assert(pqJobs == 1 + iters, s"pqTrain, iters $iters")
    }
  }

  /** (id, v) rows over a `v: array<elem>` column that may hold NULLs. */
  private def arrays(rows: Seq[(Long, Seq[Any])], elem: DataType): DataFrame =
    spark.createDataFrame(rows.map { case (id, v) => Row(id, v) }.asJava,
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("v", ArrayType(elem, containsNull = true)))))

  private def raisesCastOverflow(body: => Any): Boolean = {
    val e = intercept[Throwable](body)
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("CAST_OVERFLOW"))
  }

  test("graft_quantize_fp == round(x.cast(double) * 1e6).cast(long) on both paths; NaN/Inf raise") {
    import graft.functions.VectorFunctions.graft_quantize_fp
    def quantized(df: DataFrame): DataFrame = df.select(col("id"), graft_quantize_fp(col("v")).as("vfp"))
    def check(df: DataFrame, clue: String): Unit =
      assertSameFit(quantized(df), RelationalLloyd.quantizeFp(df, "id", "v"), clue)
    val rnd = new scala.util.Random(41L)
    // HALF_UP ties at the sixth decimal, values one ulp off them, sub-unit
    // values, signed zeros, magnitudes where the product is integral or
    // close to the long range, the smallest double
    val edges: Seq[Double] = Seq(0.5e-6, -0.5e-6, 1.5e-6, -1.5e-6, 2.5e-6, -2.5e-6,
      Math.nextUp(0.5e-6), Math.nextDown(0.5e-6), 0.1234565, -0.1234565, 1e-7, -1e-7, 0.0, -0.0,
      4503599627.3704995, 1e12, -1e12, 9.2233720368547e12, -9.2233720368547e12, Double.MinPositiveValue)
    val random = Seq.fill(200)(
      if (rnd.nextBoolean()) (rnd.nextInt(2000001) - 1000000 + 0.5) / 1e6 else rnd.nextGaussian() * 10)
    val rows: Seq[(Long, Seq[Any])] =
      edges.zipWithIndex.map { case (x, i) => (i.toLong, Seq(x)) } ++ Seq(
        (100L, edges ++ random),
        (101L, Seq(null, 0.5e-6, null, -2.5e-6)),
        (102L, null),
        (103L, Seq.empty),
        (104L, Seq(null)))
    TestSpark.onBothPaths {
      check(arrays(rows, DoubleType), "array<double>")
      check(arrays(rows.map { case (id, v) =>
        (id, if (v == null) null else v.map(x => if (x == null) null else x.asInstanceOf[Double].toFloat))
      }, FloatType), "array<float>")
      // NaN and ±Inf pass round unchanged; the ANSI cast then raises, as it
      // does for a product outside the long range
      for (x <- Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, 1e13, -1e13)) {
        val one = arrays(Seq((1L, Seq(0.25, x))), DoubleType)
        assert(raisesCastOverflow(quantized(one).collect()), s"kernel on $x")
        assert(raisesCastOverflow(RelationalLloyd.quantizeFp(one, "id", "v").collect()), s"reference on $x")
      }
    }
    // without ANSI the cast saturates and NaN becomes 0, in both forms
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    try {
      spark.conf.set("spark.sql.ansi.enabled", "false")
      val outOfRange = arrays(Seq((1L, Seq(Double.NaN, Double.PositiveInfinity,
        Double.NegativeInfinity, 1e13, -1e13, 0.25))), DoubleType)
      assert(sortedRows(quantized(outOfRange)) ==
        sortedRows(RelationalLloyd.quantizeFp(outOfRange, "id", "v")))
      assert(quantized(outOfRange).head().getSeq[Long](1) ==
        Seq(0L, Long.MaxValue, Long.MinValue, Long.MaxValue, Long.MinValue, 250000L))
    } finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }
}
