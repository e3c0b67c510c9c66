package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Kernel throughput of graft's SQL functions over cached inputs built
  * from the sf0.1 tables, so the figure is the expression's own cost and
  * not the scan's. Each kernel runs three times; the median is kept. */
object Kernels {
  private val Reps = 3

  def measure(spark: SparkSession, dataDir: String, tracer: Tracer,
              parent: Int): Seq[(String, Double)] = {
    VectorFunctions.register(spark)
    val parts = spark.sparkContext.defaultParallelism
    // 20 copies of the documents and 50 of the embeddings: ~100k rows each
    spark.read.parquet(s"$dataDir/documents.parquet").select("text")
      .crossJoin(spark.range(20)).drop("id").repartition(parts)
      .cache().createOrReplaceTempView("k_docs")
    spark.read.parquet(s"$dataDir/embeddings.parquet").select("embedding")
      .crossJoin(spark.range(50)).drop("id").repartition(parts)
      .withColumn("sig", expr("vec_sign_bits(embedding, 1013, 256)"))
      .crossJoin(broadcast(spark.read.parquet(s"$dataDir/embeddings.parquet")
        .limit(1).select(col("embedding").as("q"))))
      .cache().createOrReplaceTempView("k_emb")
    spark.read.parquet(s"$dataDir/events.parquet").select("user_id")
      .repartition(parts).cache().createOrReplaceTempView("k_events")
    val rows = Map(
      "k_docs" -> spark.table("k_docs").count().toDouble,
      "k_emb" -> spark.table("k_emb").count().toDouble,
      "k_events" -> spark.table("k_events").count().toDouble)
    val kernels = Seq(
      ("vec_dot", "k_emb", "SELECT sum(vec_dot(embedding, q)) FROM k_emb"),
      ("word_ngrams", "k_docs", "SELECT sum(size(word_ngrams(text, 3))) FROM k_docs"),
      ("winnow_fps", "k_docs", "SELECT sum(size(winnow_fps(text, 8, 4))) FROM k_docs"),
      ("vec_lsh_keys", "k_emb", "SELECT sum(size(vec_lsh_keys(sig, 2027, 256, 8, 8))) FROM k_emb"),
      ("kmv_distinct", "k_events", "SELECT kmv_distinct(user_id, 256) FROM k_events"))
    val out = kernels.map { case (k, table, sql) =>
      val secs = (1 to Reps).map { _ =>
        val span = tracer.open(parent, "kernel", k)
        val t0 = System.nanoTime()
        spark.sql(sql).collect()
        tracer.close(span)
        (System.nanoTime() - t0) / 1e9
      }.sorted
      s"kernel.${k}_rows_per_s" -> rows(table) / secs(Reps / 2)
    }
    spark.catalog.clearCache()
    out
  }
}
