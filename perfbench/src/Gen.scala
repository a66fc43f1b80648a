package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded inputs in the schemas of the repo's parquet tables (see
  * graft.Tables). The same seed gives the same tables. */
object Gen {

  private val Words = ("batch part spark line column order small sort fast value scan " +
    "query agg table hash join key group stream filter customer vector index shard " +
    "merge split window rank token count state record commit offset event guest " +
    "email match image score delta slow page cache block level union range plan").split(" ")
  private val Langs = Seq("en", "en", "en", "zh", "de", "fr", "es")

  /** `n` documents. About 6% repeat an earlier text exactly and 10%
    * copy an earlier text with a few words replaced, so exact and
    * near-duplicate suppression both have work to do. */
  def documents(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    val rnd = new Random(seed * 31 + 7)
    val texts = new Array[String](n)
    for (i <- 0 until n) {
      val u = rnd.nextDouble()
      texts(i) =
        if (i > 10 && u < 0.06) texts(rnd.nextInt(i))
        else if (i > 10 && u < 0.16) {
          val ws = texts(rnd.nextInt(i)).split(" ")
          ws.indices.foreach(j => if (rnd.nextDouble() < 0.05) ws(j) = Words(rnd.nextInt(Words.length)))
          ws.mkString(" ")
        } else Seq.fill(12 + rnd.nextInt(80))(Words(rnd.nextInt(Words.length))).mkString(" ")
    }
    val rows = (0 until n).map { i =>
      (i.toLong, texts(i), Langs(rnd.nextInt(Langs.size)), s"src${i % 20}", texts(i).length.toLong)
    }
    spark.createDataFrame(rows).toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  /** `n` 64-dim vectors around 10 labelled centres; about 5% are a
    * slightly perturbed copy of an earlier vector (semantic
    * near-duplicates). */
  def embeddings(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    val rnd = new Random(seed * 131 + 11)
    val dim = 64
    val centres = Array.fill(10, dim)(rnd.nextGaussian().toFloat)
    val vecs = new Array[Array[Float]](n)
    val labels = new Array[Int](n)
    for (i <- 0 until n) {
      if (i > 10 && rnd.nextDouble() < 0.05) {
        val j = rnd.nextInt(i)
        vecs(i) = vecs(j).map(x => x + (rnd.nextGaussian() * 1e-3).toFloat)
        labels(i) = labels(j)
      } else {
        val c = rnd.nextInt(10)
        vecs(i) = centres(c).map(x => x + (rnd.nextGaussian() * 0.6).toFloat)
        labels(i) = c
      }
    }
    val rows = (0 until n).map(i => (i.toLong, vecs(i).toSeq, labels(i)))
    spark.createDataFrame(rows).toDF("vec_id", "embedding", "label")
  }

  /** `n` customers with consecutive keys from `k0`: the input
    * graft.pipeline.MatchFixture derives stream envelopes from. */
  def customer(spark: SparkSession, k0: Long, n: Int): DataFrame =
    spark.range(k0, k0 + n).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"))
}
