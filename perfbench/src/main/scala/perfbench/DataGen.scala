package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The benchmark's fixed synthetic corpus, in the engine's table schemas
  * (`documents`, `embeddings`, `lineitem`; see TESTDATA.md for the
  * originals). Generated from [[DataSeed]], never from the run's `--seed`:
  * the corpus is the dataset a deployment already holds, the run seed
  * drives only the request stream, so pinned analytics digests hold on
  * every run.
  *
  * Shape follows the engine's sf0.1 fixture: documents of 10–100 words
  * over a 30-word vocabulary, about 5% near-duplicates carrying a `dup`
  * token, five languages, 20 sources; 64-d unit embeddings around ten
  * labelled centres for 40% of the documents.
  */
object DataGen {
  val DataSeed = 42L

  val Vocab: IndexedSeq[String] = IndexedSeq(
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch")

  final case class Scale(docs: Int, lineitems: Int) {
    def vectors: Int = docs * 2 / 5
  }

  /** The corpus every workload reads. */
  val Corpus: Scale = Scale(docs = 1000, lineitems = 120000)

  private val langs = IndexedSeq("en", "en", "en", "en", "zh", "zh",
    "es", "es", "fr", "fr", "de")
  val Dim = 64

  /** Document texts by doc id: the corpus the serving workloads index. */
  def documentTexts(n: Int): IndexedSeq[String] = {
    val rnd = new scala.util.Random(DataSeed)
    val out = new scala.collection.mutable.ArrayBuffer[String](n)
    for (i <- 0 until n) {
      val text =
        if (i > 20 && rnd.nextInt(20) == 0) {
          // near-duplicate: an earlier text with one word swapped + a marker
          val src = out(rnd.nextInt(i)).split(' ')
          src(rnd.nextInt(src.length)) = Vocab(rnd.nextInt(Vocab.length))
          (src :+ "dup").mkString(" ")
        } else Seq.fill(10 + rnd.nextInt(91))(Vocab(rnd.nextInt(Vocab.length)))
          .mkString(" ")
      out += text
    }
    out.toIndexedSeq
  }

  def write(spark: SparkSession, dir: String, scale: Scale): Unit = {
    val texts = documentTexts(scale.docs)
    val rnd = new scala.util.Random(DataSeed + 1)
    val docRows = texts.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, langs(rnd.nextInt(langs.length)), s"src${i % 20}",
        t.length.toLong)
    }
    spark.createDataFrame(docRows).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")

    val centres = Array.fill(10)(unit(Array.fill(Dim)(rnd.nextGaussian())))
    val vecRows = (0 until scale.vectors).map { i =>
      val label = rnd.nextInt(10)
      val v = unit(centres(label).map(_ + 0.35 * rnd.nextGaussian()))
      (i.toLong, v.map(_.toFloat).toSeq, label)
    }
    spark.createDataFrame(vecRows).toDF("vec_id", "embedding", "label")
      .select(col("vec_id"), col("embedding").cast(ArrayType(FloatType, false)),
        col("label").cast(IntegerType))
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/embeddings.parquet")

    // lineitem: hash-derived columns, so the table is a pure function of
    // (DataSeed, row) and generates in parallel
    def h(salt: Int, mod: Long) =
      pmod(xxhash64(lit(DataSeed), lit(salt), col("id")), lit(mod))
    val shipBase = Timestamp.valueOf("1995-01-01 00:00:00").getTime / 1000
    spark.range(scale.lineitems).select(
        (col("id") / 4).cast(LongType).as("l_orderkey"),
        (h(1, scale.lineitems / 30 + 1) + 1).as("l_partkey"),
        (h(2, 1000) + 1).as("l_suppkey"),
        (pmod(col("id"), lit(4)) + 1).cast(IntegerType).as("l_linenumber"),
        (h(3, 50) + 1).cast(DoubleType).as("l_quantity"),
        round((h(4, 9000000) + 100000).cast(DoubleType) / 100, 2).as("l_extendedprice"),
        (h(5, 11).cast(DoubleType) / 100).as("l_discount"),
        (h(6, 9).cast(DoubleType) / 100).as("l_tax"),
        element_at(array(lit("A"), lit("N"), lit("R")),
          (h(7, 3) + 1).cast(IntegerType)).as("l_returnflag"),
        element_at(array(lit("F"), lit("O")),
          (h(8, 2) + 1).cast(IntegerType)).as("l_linestatus"),
        timestamp_seconds(lit(shipBase) + h(9, 6L * 365 * 86400)).as("l_shipdate"))
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/lineitem.parquet")
  }

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }
}

/** Writes the corpus once per checkout, before any timed run:
  * `perfbench.GenData <dir>`. The `_READY` marker commits it. */
object GenData {
  def main(argv: Array[String]): Unit = {
    val dir = argv(0)
    val spark = SparkSession.builder().appName("perfbench-gendata").master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      DataGen.write(spark, dir, DataGen.Corpus)
      java.nio.file.Files.createFile(java.nio.file.Paths.get(dir, "_READY"))
    } finally spark.stop()
  }
}
