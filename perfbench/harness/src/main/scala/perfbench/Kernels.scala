package perfbench

import org.apache.spark.sql.SparkSession

/** Per-row cost of the program's six codegen SQL functions, from timed
  * micro-queries over the documents and embeddings of the run. Each input
  * is cached first, so a query times the function and not the scan. */
object Kernels {
  /** Repetitions of each micro-query; the median is reported. */
  val Reps = 3

  def nsPerRow(spark: SparkSession, in: String): Map[String, Double] = {
    spark.read.parquet(s"$in/documents.parquet").createOrReplaceTempView("k_docs")
    spark.read.parquet(s"$in/embeddings.parquet").createOrReplaceTempView("k_emb")
    // 4 copies of each document, so a query runs long enough to time
    val docs = spark.sql("""
      SELECT lower(text) AS text, shingle_hashes(text, 5) AS shingles,
             transform(array_distinct(split(lower(text), ' ')), t -> xxhash64(t)) AS tokens
      FROM k_docs CROSS JOIN range(4)""").cache()
    docs.createOrReplaceTempView("k_docs_x")
    val pairs = spark.sql(
      "SELECT a.embedding AS x, b.embedding AS y FROM k_emb a CROSS JOIN k_emb b").cache()
    pairs.createOrReplaceTempView("k_pairs")
    val nDocs = docs.count().toDouble
    val nPairs = pairs.count().toDouble
    def time(sql: String, rows: Double): Double = {
      spark.sql(sql).collect() // first run compiles
      val ns = (1 to Reps).map { _ =>
        val t = System.nanoTime(); spark.sql(sql).collect(); System.nanoTime() - t
      }.sorted
      ns(Reps / 2) / rows
    }
    val out = Map(
      "vec_dot" -> time("SELECT sum(vec_dot(x, y)) FROM k_pairs", nPairs),
      "vec_cos" -> time("SELECT sum(vec_cos(x, y)) FROM k_pairs", nPairs),
      "shingle_hashes" -> time("SELECT sum(size(shingle_hashes(text, 5))) FROM k_docs_x", nDocs),
      "minhash_sig" -> time("SELECT sum(hash(minhash_sig(shingles))) FROM k_docs_x", nDocs),
      "simhash64" -> time("SELECT max(simhash64(tokens)) FROM k_docs_x", nDocs),
      "winnow_fingerprints" ->
        time("SELECT sum(size(winnow_fingerprints(text, 8, 4))) FROM k_docs_x", nDocs))
    docs.unpersist(); pairs.unpersist()
    out
  }
}
