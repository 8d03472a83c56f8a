package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The batch workloads' input tables, in the layout
  * `graft.Tables` reads: `documents` (doc_id, text, lang, source,
  * n_chars) and `embeddings` (vec_id, embedding, label).
  *
  * The CONTENT comes from a fixed content seed, so every run computes
  * the same answers and one recorded digest per operation checks
  * them. The run's `--seed` decides the row order the tables are
  * written in, and with it the scan order every plan sees: a plan
  * whose answer depends on input order then fails its digest.
  *
  * Texts are space-separated words from a small vocabulary, as in the
  * sf test tables (FIXTURES.md). About 8% of documents are
  * near-duplicates (a few words replaced) and 1% exact duplicates of an
  * earlier document, so the dedup gates have pairs to find.
  */
object Corpus {
  val ContentSeed = 42L

  private val Vocab = Array("the", "a", "fast", "slow", "big", "small", "key", "value",
    "order", "sort", "table", "scan", "merge", "part", "window", "hash", "join", "batch",
    "stream", "spark", "data", "row", "column", "filter", "group", "agg", "query", "line",
    "customer", "vector", "dup")
  private val Langs = Array("en", "en", "en", "en", "en", "en", "es", "es", "es",
    "zh", "zh", "zh", "de", "de", "de", "fr", "fr", "fr")

  def documentRows(n: Int): IndexedSeq[Row] = {
    val rng = new java.util.SplittableRandom(ContentSeed)
    val texts = new Array[String](n)
    (0 until n).map { id =>
      val r = rng.nextDouble()
      val text =
        if (id > 10 && r < 0.01) texts(rng.nextInt(id))
        else if (id > 10 && r < 0.09) {
          val toks = texts(rng.nextInt(id)).split(" ")
          (0 until 1 + rng.nextInt(3)).foreach(_ => toks(rng.nextInt(toks.length)) = Vocab(rng.nextInt(Vocab.length)))
          toks.mkString(" ")
        } else Array.fill(8 + rng.nextInt(83))(Vocab(rng.nextInt(Vocab.length))).mkString(" ")
      texts(id) = text
      Row(id.toLong, text, Langs(rng.nextInt(Langs.length)), s"src${id % 20}", text.length.toLong)
    }
  }

  def embeddingRows(n: Int, dim: Int = 64): IndexedSeq[Row] = {
    val rng = new java.util.SplittableRandom(ContentSeed + 1)
    val centers = Array.fill(10, dim)(rng.nextDouble() * 0.4 - 0.2)
    (0 until n).map { id =>
      val label = rng.nextInt(10)
      val v = Array.tabulate(dim)(d => (centers(label)(d) + (rng.nextDouble() - 0.5) * 0.2).toFloat)
      Row(id.toLong, v.toSeq, label)
    }
  }

  val DocumentSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
  val EmbeddingSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))

  /** Rows in a seeded order: a hash of the id under the run seed. */
  def seededOrder(df: DataFrame, idCol: String, seed: Long): DataFrame =
    df.orderBy(xxhash64(col(idCol), lit(seed)), col(idCol))

  /** Write `documents` and `embeddings` as single-file tables under `dir`. */
  def write(spark: SparkSession, dir: String, docs: Int, vecs: Int, seed: Long): Unit = {
    def one(rows: IndexedSeq[Row], schema: StructType, idCol: String, name: String): Unit =
      seededOrder(spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema), idCol, seed)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    one(documentRows(docs), DocumentSchema, "doc_id", "documents")
    one(embeddingRows(vecs), EmbeddingSchema, "vec_id", "embeddings")
  }
}
