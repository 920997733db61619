package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{Bpe, KMeans, TextFunctions, VectorFunctions}
import graft.sources.Tables

/** Kernel probes: each runs one `graft.functions` / `graft.expressions`
  * kernel over the workload's own documents or embeddings and folds its
  * output into a single hash aggregate (`bit_xor(xxhash64(...))`), so no
  * column can be pruned away.
  * The probe reports input rows (or pairs) per second of wall time.
  */
object Probes {

  /** name -> (work items, DataFrame producing one row) */
  private def probes(spark: SparkSession, dir: String): Seq[(String, Long, DataFrame)] = {
    val docs = Tables(spark, dir, "documents")
    val emb = Tables(spark, dir, "embeddings")
    val vecs = emb.select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val nDocs = docs.count()
    val nVecs = vecs.count()
    def fold(df: DataFrame, c: org.apache.spark.sql.Column): DataFrame =
      df.agg(bit_xor(xxhash64(c)).as("h"), count(lit(1)).as("n"))

    val chars = docs.select(explode(TextFunctions.tokens(col("text"))).as("tok"))
      .select(split(col("tok"), "").as("syms"))
    val merges = Bpe.train(chars.limit(20000), 10)
    val nTokens = chars.count()

    val queries = emb.filter(col("vec_id") < 50).select(col("embedding").as("q"))
    val cents = vecs.filter(col("vec_id") < 10).select(col("vec_id").as("cid"), col("v").as("cvec"))

    Seq(
      ("expressions.minhash_rows_per_s", nDocs,
        fold(docs, TextFunctions.minhashSignature(col("text"), 64))),
      ("expressions.shingles_rows_per_s", nDocs,
        fold(docs, TextFunctions.tokenShingles(col("text"), 3))),
      ("expressions.simhash_rows_per_s", nDocs,
        fold(docs, TextFunctions.simhash32(col("text")))),
      ("expressions.cosine_pairs_per_s", nVecs * 50,
        fold(emb.crossJoin(broadcast(queries)), VectorFunctions.cosine(col("embedding"), col("q")))),
      ("functions.bpe_encode_rows_per_s", nTokens,
        fold(chars, Bpe.encodeFast(col("syms"), merges))),
      ("functions.kmeans_assign_rows_per_s", nVecs,
        fold(KMeans.assign(vecs, cents), col("cid"))))
  }

  /** One warm-up and three timed runs per probe; median work/s each. */
  def run(spark: SparkSession, dir: String): Seq[(String, Double)] =
    probes(spark, dir).map { case (name, work, df) =>
      df.collect()
      val secs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        df.collect()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      name -> work / secs(secs.size / 2)
    }
}
