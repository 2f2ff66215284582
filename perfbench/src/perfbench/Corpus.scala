package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Inputs of the registry workload: the `tools.ScaleGen` document and
  * embedding corpus, plus seeded `orders` and `events` tables for the
  * two relational queries (q07, q08).
  */
object Corpus {

  /** ScaleGen documents and embedding vectors; rows of `orders` and
    * `events`.
    */
  val Docs = 600L
  val Vecs = 300L
  val Orders = 20000L
  val Events = 20000L

  /** ScaleGen draws its vocabulary from a `documents.parquet` text
    * column; this one is a fixed synthetic word list, so the corpus
    * depends on its size only.
    */
  private def vocabText(n: Int): Seq[String] = {
    val syl = Array("ka", "lo", "mi", "ne", "ru", "ta", "vo", "zi", "be", "do",
      "fa", "gu", "he", "ji", "po", "se")
    (0 until n).map { i =>
      val w = new StringBuilder
      var x = i + n
      while (x > 0) { w ++= syl(x % syl.length); x /= syl.length }
      w.toString
    }.grouped(50).map(_.mkString(" ")).toSeq
  }

  /** Builds the corpus under `cache` once per size and returns its
    * directory. ScaleGen stops the SparkContext it used, so this
    * runs before the measured session is built.
    */
  def ensure(cache: File, session: () => SparkSession): File = {
    val dir = new File(cache, s"scalegen-$Docs-$Vecs")
    val done = new File(dir, "_COMPLETE")
    if (!done.exists()) {
      val spark = session()
      import spark.implicits._
      val vocab = new File(cache, "vocab")
      vocabText(4000).toDF("text").coalesce(1).write.mode("overwrite")
        .parquet(new File(vocab, "documents.parquet").getPath)
      graft.tools.ScaleGen.main(Array(dir.getPath, Docs.toString, Vecs.toString, vocab.getPath))
      // ScaleGen links the harness tables it does not generate; none
      // exist beside the vocabulary, so drop the dangling links.
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events").foreach(t =>
        Files.deleteIfExists(Paths.get(dir.getPath, s"$t.parquet")))
      Files.createFile(done.toPath)
    }
    dir
  }

  /** One registry data directory: links to the cached corpus plus
    * freshly generated `orders` and `events`, each row a pure function
    * of (seed, row id).
    */
  def dataDir(spark: SparkSession, corpus: File, dir: File, seed: Long): File = {
    dir.mkdirs()
    Seq("documents", "embeddings").foreach { t =>
      Files.createSymbolicLink(Paths.get(dir.getPath, s"$t.parquet"),
        Paths.get(corpus.getAbsolutePath, s"$t.parquet"))
    }
    def hv(tag: Int) = pmod(xxhash64(lit(seed), col("id"), lit(tag)), lit(Long.MaxValue))
    val day = 86400L * 1000000L
    val t0 = 1704067200L * 1000000L // 2024-01-01
    spark.range(Orders).select(
        (col("id") + 1).as("o_orderkey"),
        (pmod(hv(1), lit(Orders / 10)) + 1).as("o_custkey"),
        lit("O").as("o_orderstatus"),
        round(pmod(hv(2), lit(50000000L)) / 100.0 + 1000, 2).as("o_totalprice"),
        timestamp_micros(lit(t0) + pmod(hv(3), lit(700L)) * day).cast("timestamp_ntz")
          .as("o_orderdate"),
        lit("1-URGENT").as("o_orderpriority"))
      .coalesce(1).write.parquet(new File(dir, "orders.parquet").getPath)
    val types = array(Seq("view", "click", "cart", "buy", "share").map(lit): _*)
    spark.range(Events).select(
        (col("id") + 1).as("event_id"),
        timestamp_micros(lit(t0) + pmod(hv(4), lit(2 * day))).cast("timestamp_ntz").as("ts"),
        pmod(hv(5), lit(2000L)).as("user_id"),
        element_at(types, (pmod(hv(6), lit(5L)) + 1).cast("int")).as("event_type"),
        (pmod(hv(7), lit(600L)) / 10.0).as("value"),
        lit("{}").as("props"))
      .coalesce(1).write.parquet(new File(dir, "events.parquet").getPath)
    dir
  }
}
