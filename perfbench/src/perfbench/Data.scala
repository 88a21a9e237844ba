package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Generator of the base tables the benchmark's pipelines and indexes
  * read, `documents` and `embeddings`, with the column layout of the
  * engine's test tables, as two datasets of the same size. A dataset
  * fixes the row counts and the first document id, and a fixed seed every
  * value. The two differ in every `doc_id`, so each query the task trees
  * run gives a different result on each. The tables are written once per
  * build (`perfbench.Data <dir>`); a run's `--seed` only chooses the task
  * trees, edits and id sets the program is given.
  */
object Data {

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[1]").appName("perfbench-data")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.hadoop.hadoop.tmp.dir", System.getProperty("java.io.tmpdir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (set <- datasets.values; t <- Seq("documents", "embeddings"))
      write(spark, set, 42L, s"${args(0)}/${set.name}", t)
    spark.stop()
  }

  /** Row counts and first document id of one dataset. */
  final case class Dataset(name: String, docs: Int, vectors: Int, firstDoc: Long)

  val datasets: Map[String, Dataset] = Seq(
    Dataset("set_a", 500, 500, 0L), Dataset("set_b", 500, 500, 100000L))
    .map(d => d.name -> d).toMap

  private val words = Vector("the", "a", "fast", "slow", "key", "order",
    "sort", "table", "scan", "merge", "part", "window", "small", "big",
    "hash", "join", "batch", "stream", "spark", "dup", "group", "query",
    "row", "data", "filter", "customer", "line", "value", "agg", "column",
    "vector")
  private val langs = Vector("en", "en", "en", "fr", "es", "zh", "de")
  val dim = 64

  /** Write `table` of `set` as `dir/<table>.parquet`, the layout every
    * query's `path` points at. Each table has its own random stream, so
    * a table's contents do not depend on which others are written. */
  def write(spark: SparkSession, set: Dataset, seed: Long, dir: String,
            table: String): Unit = {
    val rnd = new java.util.Random(
      seed * 1000003L + (set.name + table).hashCode)
    def save(rows: => Seq[Row], schema: StructType, name: String): Unit =
      if (name == table)
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
          .write.mode("overwrite").parquet(s"$dir/$table.parquet")

    // documents: word salad over a small vocabulary, with every 97th
    // document an exact copy of its predecessor (the dedup stages'
    // duplicates)
    lazy val texts = {
      val t = new Array[String](set.docs)
      for (i <- 0 until set.docs) t(i) =
        if (i % 97 == 96) t(i - 1)
        else Seq.fill(8 + rnd.nextInt(80))(words(rnd.nextInt(words.size)))
          .mkString(" ")
      t
    }
    save((0 until set.docs).map { i =>
      Row(set.firstDoc + i, texts(i), langs(rnd.nextInt(langs.size)), s"src${i % 20}",
        texts(i).length.toLong)
    }, StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType))),
      "documents")

    // embeddings: isotropic random unit vectors with a random label of 8,
    // as in the engine's test tables
    save((0 until set.vectors).map { i =>
      val v = Array.fill(dim)(rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, rnd.nextInt(8))
    }, StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType))), "embeddings")

  }
}
