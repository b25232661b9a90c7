package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The curation workload's corpus, generated from the seed in the shape of
  * the engine's test data (`documents`, `embeddings` parquet tables):
  * documents of 10 to 100 words from a 30-word vocabulary over five
  * languages and twenty sources, and unit-norm 64-dimensional embeddings
  * around ten labelled centres. A stated share of each table is near
  * duplicates: a document copied with one word appended, an embedding
  * copied with a small perturbation.
  */
object Corpus {
  final case class Size(docs: Int, vectors: Int, dupShare: Double)

  val Vocabulary: IndexedSeq[String] = IndexedSeq(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter", "group",
    "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan",
    "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window")
  private val Langs = Seq("en" -> 0.41, "zh" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "de" -> 0.14)
  val Dim = 64

  def documents(seed: Long, size: Size): Seq[Row] = {
    val rnd = new scala.util.Random(seed)
    val texts = new Array[String](size.docs)
    (0 until size.docs).map { id =>
      texts(id) =
        if (id > 0 && rnd.nextDouble() < size.dupShare) texts(rnd.nextInt(id)) + " dup"
        else Seq.fill(10 + rnd.nextInt(91))(Vocabulary(rnd.nextInt(Vocabulary.size))).mkString(" ")
      val u = rnd.nextDouble()
      val lang = Langs.scanLeft(("", 0.0)) { case ((_, acc), (l, p)) => (l, acc + p) }.tail
        .find(_._2 > u).map(_._1).getOrElse("en")
      Row(id.toLong, texts(id), lang, s"src${id % 20}", texts(id).length.toLong)
    }
  }

  def embeddings(seed: Long, size: Size): Seq[Row] = {
    val rnd = new scala.util.Random(seed ^ 0x5eedL)
    def unit(v: Array[Double]): Array[Double] = { val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n) }
    val centres = Array.fill(10)(unit(Array.fill(Dim)(rnd.nextGaussian())))
    val vecs = new Array[Array[Double]](size.vectors)
    val labels = new Array[Int](size.vectors)
    (0 until size.vectors).map { id =>
      if (id > 0 && rnd.nextDouble() < size.dupShare) {
        val src = rnd.nextInt(id)
        vecs(id) = unit(vecs(src).map(_ + rnd.nextGaussian() * 0.001))
        labels(id) = labels(src)
      } else {
        labels(id) = rnd.nextInt(10)
        vecs(id) = unit(centres(labels(id)).zip(Array.fill(Dim)(rnd.nextGaussian() * 0.12)).map { case (c, e) => c + e })
      }
      Row(id.toLong, vecs(id).map(_.toFloat).toSeq, labels(id))
    }
  }

  val DocumentSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType), StructField("lang", StringType),
    StructField("source", StringType), StructField("n_chars", LongType)))
  val EmbeddingSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Writes `documents.parquet` and `embeddings.parquet` under `dir`. */
  def write(spark: SparkSession, dir: String, seed: Long, size: Size): Unit = {
    spark.createDataFrame(spark.sparkContext.parallelize(documents(seed, size), 4), DocumentSchema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    spark.createDataFrame(spark.sparkContext.parallelize(embeddings(seed, size), 4), EmbeddingSchema)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }
}
