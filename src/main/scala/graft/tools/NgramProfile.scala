package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scratch diagnostic for dedup_ngram_jaccard stage costs at a given SF. */
object NgramProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[prof] $label: ${(System.nanoTime() - t0) / 1e9}%.3f s"); r
    }
    // warm: builds the index + candidate artifacts
    t("full (cold: index+cand build)") {
      graft.operators.Dedup.ngramJaccard(spark, sfDir).count()
    }
    t("full (warm rep)") { graft.operators.Dedup.ngramJaccard(spark, sfDir).count() }
    val cdir = graft.operators.Dedup.ngramCandidatesDir(spark, sfDir,
      graft.operators.Dedup.NgramTau)
    val nc = t("read candidates") { spark.read.parquet(cdir).count() }
    println(s"[prof] candidates: $nc")
    val docs = graft.core.Tables.documents(spark, sfDir)
    println(s"[prof] docs: ${docs.count()}")
    val pairs = spark.read.parquet(cdir)
    val ids = pairs.select(col("a").as("doc_id"))
      .union(pairs.select(col("b").as("doc_id"))).distinct()
    println(s"[prof] distinct cand docs: ${ids.count()}")
    t("shingle candidate docs once") {
      docs.join(ids, "doc_id")
        .select(graft.operators.Dedup.wordShingles(col("text"), 3).as("sh"))
        .select(sum(size(col("sh")))).collect()
    }
    t("full (warm rep 2)") { graft.operators.Dedup.ngramJaccard(spark, sfDir).count() }
    spark.stop()
  }
}
