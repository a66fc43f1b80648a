package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-rehearsal data generator: writes an N× replica of a driver
  * testdata directory so the "survives 10×/100×" claims in PLANS.md can
  * be *measured*, not argued.
  *
  * Replication is structure-preserving — a 10× corpus must look like 10×
  * more *entities*, not 10 copies of the same entities (verbatim copies
  * would grow every duplicate group 10×, so pair-generating queries
  * would blow up quadratically — a 100× cost the real 10× corpus does
  * not have). Per replica r = 0..R-1:
  *
  *  - join keys are offset by `r * (max(key)+1)` consistently across
  *    tables (orders.o_custkey moves with customer.c_custkey, etc.), so
  *    join fan-outs and group sizes are invariant and only the number of
  *    groups grows;
  *  - `documents.text` gets a per-replica word salt (`w` → `w_r3`):
  *    every shingle/digest relation *within* a replica is preserved
  *    exactly (dup clusters keep their size) while no shingle matches
  *    across replicas;
  *  - `embeddings.embedding` gets a per-replica dense random orthogonal
  *    rotation: intra-replica cosines/norms are preserved to float
  *    rounding (cluster and near-dup structure intact) while
  *    cross-replica dot products decorrelate to N(0, 1/dim);
  *  - `events.user_id`/`event_id` are offset; timestamps are untouched,
  *    so per-user session shape is invariant;
  *  - fixed-cardinality dims (region, nation) are copied as-is — at any
  *    real scale factor those stay 5 / 25 rows.
  *
  * Run: runMain graft.tools.ScaleGen <srcDir> <destDir> <replicas>
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dest = args.drop(1).headOption.getOrElse("target/scaled/sf1")
    val reps = args.drop(2).headOption.map(_.toInt).getOrElse(10)
    val spark = graft.GraftSession.start(
      graft.GraftSession.builder(graft.GraftSession.cores))

    def tbl(n: String): DataFrame = spark.read.parquet(s"$src/$n.parquet")
    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c).cast("long"))).head().getLong(0)

    // key ceilings, computed once; +1 so offsets never collide
    val custCeil = maxOf(tbl("customer"), "c_custkey") + 1
    val suppCeil = maxOf(tbl("supplier"), "s_suppkey") + 1
    val partCeil = maxOf(tbl("part"), "p_partkey") + 1
    val ordCeil = maxOf(tbl("orders"), "o_orderkey") + 1
    val docCeil = maxOf(tbl("documents"), "doc_id") + 1
    val vecCeil = maxOf(tbl("embeddings"), "vec_id") + 1
    val evtCeil = maxOf(tbl("events"), "event_id") + 1
    val userCeil = maxOf(tbl("events"), "user_id") + 1

    /** union of R replicas of `df`, each transformed by `f(df, r)` */
    def replicate(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until reps).map(r => f(df, r)).reduce(_ unionAll _)

    // cast back to the column's source type so the scaled parquet has
    // the same schema the driver's generator produces
    def shifted(df: DataFrame, c: String, ceil: Long, r: Int) =
      df.withColumn(c, (col(c) + lit(ceil * r)).cast(df.schema(c).dataType))

    def write(n: String, df: DataFrame, parts: Int): Unit = {
      df.repartition(parts).write.mode("overwrite").parquet(s"$dest/$n.parquet")
      println(s"[scalegen] $n: ${spark.read.parquet(s"$dest/$n.parquet").count()} rows")
    }

    // fixed dims: real scale factors do not grow these
    write("region", tbl("region"), 1)
    write("nation", tbl("nation"), 1)

    write("customer", replicate(tbl("customer")) { (df, r) =>
      shifted(df, "c_custkey", custCeil, r)
    }, 8)
    write("supplier", replicate(tbl("supplier")) { (df, r) =>
      shifted(df, "s_suppkey", suppCeil, r)
    }, 4)
    write("part", replicate(tbl("part")) { (df, r) =>
      shifted(df, "p_partkey", partCeil, r)
    }, 8)
    write("orders", replicate(tbl("orders")) { (df, r) =>
      shifted(shifted(df, "o_orderkey", ordCeil, r), "o_custkey", custCeil, r)
    }, 16)
    write("lineitem", replicate(tbl("lineitem")) { (df, r) =>
      shifted(shifted(shifted(df,
        "l_orderkey", ordCeil, r), "l_partkey", partCeil, r), "l_suppkey", suppCeil, r)
    }, 32)
    write("events", replicate(tbl("events")) { (df, r) =>
      shifted(shifted(df, "event_id", evtCeil, r), "user_id", userCeil, r)
    }, 32)

    // documents: replica-0 verbatim; others word-salted (text relations
    // preserved within a replica, broken across). n_chars re-derived so
    // profile stats stay consistent with the text they describe.
    write("documents", replicate(tbl("documents")) { (df, r) =>
      val salted =
        if (r == 0) df
        else df.withColumn("text",
          concat_ws(" ", transform(split(col("text"), " "),
            w => concat(w, lit(s"_r$r")))))
      shifted(salted, "doc_id", docCeil, r)
        .withColumn("n_chars", length(col("text")).cast("int"))
    }, 16)

    // embeddings: per-replica DENSE random orthogonal rotation (seeded
    // Gram-Schmidt over Gaussian rows). An exact isometry, so every
    // intra-replica cosine/norm — cluster structure, near-dup pairs,
    // top-k rankings — is preserved to float rounding; and because the
    // rotation is dense-random, any cross-replica structure (cluster
    // directions, a common mean component) maps to generic directions,
    // so cross-replica cosines concentrate at N(0, 1/dim). A structured
    // transform (coordinate shift + sign mask) was measurably NOT
    // enough here: LSH candidate pairs grew 97× instead of 10× because
    // replica hot buckets coincided. A UDF is fine in this *generator
    // tool* — it runs once, offline; nothing engine-side uses it.
    val dim = tbl("embeddings").select(size(col("embedding"))).head().getInt(0)
    def orthogonal(seed: Long): Array[Array[Float]] = {
      val rnd = new java.util.Random(seed)
      val m = Array.fill(dim, dim)(rnd.nextGaussian())
      for (i <- 0 until dim) {
        for (j <- 0 until i) {
          var d = 0.0
          for (k <- 0 until dim) d += m(i)(k) * m(j)(k)
          for (k <- 0 until dim) m(i)(k) -= d * m(j)(k)
        }
        var n2 = 0.0
        for (k <- 0 until dim) n2 += m(i)(k) * m(i)(k)
        val inv = 1.0 / math.sqrt(n2)
        for (k <- 0 until dim) m(i)(k) *= inv
      }
      m.map(_.map(_.toFloat))
    }
    val mats: Map[Int, Array[Array[Float]]] =
      (1 until reps).map(r => r -> orthogonal(0xC0FFEEL + r)).toMap
    val rotate = udf { (v: Seq[Float], r: Int) =>
      val m = mats(r)
      Array.tabulate(dim) { i =>
        var acc = 0.0f
        val row = m(i)
        var k = 0
        while (k < dim) { acc += row(k) * v(k); k += 1 }
        acc
      }.toSeq
    }
    write("embeddings", replicate(tbl("embeddings")) { (df, r) =>
      val iso =
        if (r == 0) df
        else df.withColumn("embedding", rotate(col("embedding"), lit(r)))
      shifted(iso, "vec_id", vecCeil, r)
    }, 16)

    spark.stop()
  }
}
