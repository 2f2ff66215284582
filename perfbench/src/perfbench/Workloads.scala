package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.etl.Pipeline

/** One timed operation. `run` returns false when its output is wrong. */
final case class Op(kind: String, run: Tracer => Boolean)

/** A workload: seeded input generation, an untimed warm-up, an endless
  * op sequence drawn from the seed, and output checks after the timed
  * loop.
  */
trait Workload {
  def minOps: Int
  def prepare(): Unit
  def warmup(): Unit
  def op(i: Int): Op
  def afterOp(i: Int): Unit = ()
  /** Untimed checks after the loop; returns the ops that passed in the
    * loop but fail a check, and every problem found.
    */
  def finish(): (Int, Seq[String])
  /** Files the checker reads, as JSON object fields. */
  def checkFiles: Seq[(String, String)] = Nil
}

object Workloads {
  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def bytesUnder(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L)
    else f.length()
}

/** The paper's job: every family loaded by `Pipeline.run` and written
  * by `Pipeline.writeObserved` into a fresh directory.
  */
final class EtlLoad(spark: SparkSession, seed: Long, work: File) extends Workload {
  var gen: EtlGen.Output = _
  var genSeconds: Double = 0
  val problems = mutable.ArrayBuffer.empty[String]
  private val failedOps = mutable.Set.empty[Int]
  private def outDir(i: Int) = new File(work, s"etl_out_$i")
  val minOps = 3

  def prepare(): Unit = {
    val t0 = System.nanoTime()
    gen = EtlGen.write(new File(work, "etl_in"), seed)
    genSeconds = (System.nanoTime() - t0) / 1e9
  }

  /** Loads into `out`, one `writeObserved` per table. */
  def load(tr: Tracer, out: File): Map[String, Long] = {
    val tables = tr("etl.construct")(Pipeline.run(spark, gen.inputs))
    tables.toSeq.sortBy(_._1).map { case (t, df) =>
      tr(s"etl.write.$t")(Pipeline.writeObserved(Map(t -> df), out.getPath))
    }.reduce(_ ++ _)
  }

  def rowsMatch(rows: Map[String, Long], what: String): Boolean = {
    val ok = rows == gen.expectedRows
    if (!ok) problems += s"$what: rows $rows != expected ${gen.expectedRows}"
    ok
  }

  /** A cold load and a warm one, so every timed load is warm. */
  def warmup(): Unit = Seq(-2, -1).foreach { i =>
    rowsMatch(load(Tracer.off, outDir(i)), s"etl warm-up $i")
    Workloads.deleteTree(outDir(i))
  }

  /** Output and rows of the last traced load; the layer sweep reuses it. */
  var traced: Option[(File, Map[String, Long])] = None

  def op(i: Int): Op = Op("etl_load", tr => {
    val rows = load(tr, outDir(i))
    if (tr.enabled) traced = Some((outDir(i), rows))
    val ok = rowsMatch(rows, s"etl op $i")
    if (!ok) failedOps += i
    ok
  })

  // keep op 0's output for the closure check, and the traced one
  override def afterOp(i: Int): Unit =
    if (i > 0 && !traced.exists(_._1 == outDir(i))) Workloads.deleteTree(outDir(i))

  /** Closure pairs per term in op 0's `on_pairs` against the generator. */
  def finish(): (Int, Seq[String]) = {
    val got = spark.read.parquet(new File(outDir(0), "on_pairs").getPath)
      .groupBy("child").count().collect()
      .map(r => r.getString(0) -> r.getLong(1).toInt).toMap
    val want = gen.ancestorsPerTerm.filter(_._2 > 0)
    val closureOk = got == want
    if (!closureOk) {
      val bad = (want.keySet ++ got.keySet).filter(t => got.get(t) != want.get(t)).take(3)
      problems += s"closure pairs per term differ, e.g. " +
        bad.map(t => s"$t: ${got.get(t)} != ${want.get(t)}").mkString(", ")
    }
    (if (closureOk || failedOps(0)) 0 else 1, problems.toSeq)
  }
}

/** Genome-browser lookups over one `etl_load` output: the access paths
  * the reference's indexes served.
  */
final class BrowserReads(spark: SparkSession, seed: Long, work: File) extends Workload {
  import BrowserReads._
  private val etl = new EtlLoad(spark, seed, work)
  private var tables: Map[String, DataFrame] = Map.empty
  private val record = mutable.ArrayBuffer.empty[String]
  private var tablesDir: File = _
  val minOps = 210

  def prepare(): Unit = etl.prepare()

  /** Loads the generated inputs once, then reads each kind ten times:
    * read latency keeps falling for about that long as the JIT compiles.
    */
  def warmup(): Unit = {
    val dir = new File(work, "browser_tables")
    etl.rowsMatch(etl.load(Tracer.off, dir), "browser load")
    open(dir)
    (0 until 10 * Kinds.size).foreach(j => run(query(j % Kinds.size, -1 - j)))
  }
  /** Serves reads from the tables `Pipeline.write` left in `dir`. */
  def open(dir: File): Unit = {
    tablesDir = dir
    tables = Tables.map(t => t -> spark.read.parquet(new File(dir, t).getPath)).toMap
  }


  /** Op `i` of the given kind: its DataFrame and the same lookup as
    * DuckDB SQL over the same parquet, for the output check.
    */
  private def query(kind: Int, i: Int): (String, DataFrame, String) = {
    val taxon = EtlGen.Taxa((EtlGen.h(seed, 41, i) % 3).toInt)
    val g = (EtlGen.h(seed, 42, i) % EtlGen.Genes).toInt
    val chr = EtlGen.geneChr(g).toString
    val from = EtlGen.geneStart(seed, taxon, g) - 1
    val to = from + 50000
    val id = EtlGen.geneId(taxon, g)
    def t(name: String) = tables(name)
    def sql(cols: Seq[String], table: String, where: String) =
      s"SELECT ${cols.mkString(", ")} FROM $table WHERE $where"
    Kinds(kind) match {
      case k @ "gene_by_id" => (k,
        t("gene").filter(col("gene_taxonid") === taxon && col("gene_id") === id)
          .select(GeneCols.map(col): _*),
        sql(GeneCols, "gene", s"gene_taxonid = $taxon AND gene_id = '$id'"))
      case k @ "genes_in_region" => (k,
        t("gene").filter(col("gene_taxonid") === taxon && col("gene_chr") === chr &&
          col("gene_start_pos") < to && col("gene_end_pos") > from)
          .select(GeneCols.map(col): _*),
        sql(GeneCols, "gene", s"gene_taxonid = $taxon AND gene_chr = '$chr' AND " +
          s"gene_start_pos < $to AND gene_end_pos > $from"))
      case k @ "exons_of_gene" => (k,
        t("exon").filter(col("taxonid") === taxon && col("parent_gene") === id)
          .select(ExonCols.map(col): _*).orderBy("exon_start_pos"),
        sql(ExonCols, "exon", s"taxonid = $taxon AND parent_gene = '$id'"))
      case k @ "blocks_in_region" => (k,
        t("syntenic_block").filter(col("ref_taxonid") === taxon && col("ref_chr") === chr &&
          col("ref_start_pos") < to * 2 && col("ref_end_pos") > from)
          .select(BlockCols.map(col): _*),
        sql(BlockCols, "syntenic_block", s"ref_taxonid = $taxon AND ref_chr = '$chr' AND " +
          s"ref_start_pos < ${to * 2} AND ref_end_pos > $from"))
      case k @ "homologs_of_gene" => (k,
        t("homolog").filter(col("ref_taxon_id") === taxon && col("ref_gene_id") === id)
          .select(HomologCols.map(col): _*),
        sql(HomologCols, "homolog", s"ref_taxon_id = $taxon AND ref_gene_id = '$id'"))
      case k @ "snps_in_region" => (k,
        t("snp_variant").filter(col("taxon_id") === taxon && col("chr") === chr &&
          col("pos").between(from, to))
          .select(SnpCols.map(col): _*),
        sql(SnpCols, "snp_variant", s"taxon_id = $taxon AND chr = '$chr' AND " +
          s"pos BETWEEN $from AND $to"))
      case k @ "genes_for_term" =>
        // an inner term of the 4-ary tree, so the answer is non-empty
        // and small
        val term = EtlGen.termId(EtlGen.Terms / 16 +
          (EtlGen.h(seed, 43, i) % (EtlGen.Terms / 4 - EtlGen.Terms / 16)).toInt)
        (k,
          t("on_pairs").filter(col("parent") === term)
            .join(t("gene_ontology_map"), col("child") === col("ontology_id"))
            .select(col("gene_id"), col("ontology_id"), col("taxonid")),
          "SELECT m.gene_id, m.ontology_id, m.taxonid FROM on_pairs p " +
            s"JOIN gene_ontology_map m ON p.child = m.ontology_id WHERE p.parent = '$term'")
    }
  }

  private def run(q: (String, DataFrame, String)): Array[Row] = q._2.collect()

  // kinds rotate so every run reads the same mix; the seed draws the
  // species, gene, region and term of each read
  def op(i: Int): Op = {
    val kind = i % Kinds.size
    Op(Kinds(kind), tr => {
      val q = query(kind, i)
      last = (i, q._1, q._3, tr(s"browser.${q._1}")(run(q)))
      true
    })
  }

  private var last: (Int, String, String, Array[Row]) = _

  // serialized outside the timed region
  override def afterOp(i: Int): Unit = if (last != null && last._1 == i) {
    val (_, kind, sql, rows) = last
    record += s"""{"i":$i,"kind":"$kind","sql":${Json.str(sql)},"rows":${Json.rows(rows)}}"""
  }

  /** Runs `n` ops of each kind; the layer sweep's browser section. */
  def probe(tr: Tracer, n: Int): Seq[(String, Int)] =
    for (k <- Kinds.indices; j <- 0 until n) yield {
      val q = query(k, 1000000 + k * n + j)
      Kinds(k) -> tr(s"browser.${Kinds(k)}")(run(q)).length
    }

  def finish(): (Int, Seq[String]) = {
    val f = new File(work, "browser_ops.jsonl")
    val w = new java.io.PrintWriter(f, "UTF-8")
    try record.foreach(w.println) finally w.close()
    (0, etl.problems.toSeq)
  }

  override def checkFiles: Seq[(String, String)] = Seq(
    "browser_ops" -> new File(work, "browser_ops.jsonl").getPath,
    "browser_tables" -> tablesDir.getPath)
}

object BrowserReads {
  val Kinds: IndexedSeq[String] = IndexedSeq("gene_by_id", "genes_in_region",
    "exons_of_gene", "blocks_in_region", "homologs_of_gene", "snps_in_region",
    "genes_for_term")
  val Tables: Seq[String] = Seq("gene", "exon", "syntenic_block", "homolog",
    "snp_variant", "on_pairs", "gene_ontology_map")
  val GeneCols = Seq("gene_id", "gene_taxonid", "gene_symbol", "gene_chr",
    "gene_start_pos", "gene_end_pos", "gene_strand", "gene_type", "gene_name")
  val ExonCols = Seq("exon_id", "parent_gene", "taxonid", "exon_chr",
    "exon_start_pos", "exon_end_pos")
  val BlockCols = Seq("ref_taxonid", "ref_chr", "ref_start_pos", "ref_end_pos",
    "comp_taxonid", "comp_chr", "comp_start_pos", "comp_end_pos",
    "same_orientation", "symbol")
  val HomologCols = Seq("ref_gene_id", "ref_gene_sym", "ref_taxon_id",
    "ref_seq_id", "ref_start", "ref_end", "comp_gene_id", "comp_gene_sym",
    "comp_taxon_id", "comp_seq_id", "comp_start", "comp_end")
  val SnpCols = Seq("chr", "pos", "id", "ref_base", "alt_allele", "quality",
    "filter", "frequency", "gene", "trait_id", "taxon_id")
}

/** Near-duplicate and LSH registry queries over the ScaleGen corpus,
  * run by the layer sweep: one query is `impl(spark, dir)` then
  * `.count()`, as in `graft.Bench`.
  */
final class RegistryQueries(spark: SparkSession, seed: Long, corpus: File, work: File) {
  import RegistryQueries._
  private val dir = Corpus.dataDir(spark, corpus, new File(work, "registry_data"), seed).getPath

  private def q(name: String) = graft.queries.Registry.all(name)

  def release(): Unit = {
    graft.functions.PersistLeases.releaseAll()
    spark.catalog.clearCache()
  }

  /** One query, split into construction (eager sub-jobs inside `impl`)
    * and the final action.
    */
  def run(tr: Tracer, name: String): Long = {
    graft.queries.Registry.timingPrep.get(name).foreach(_(spark, dir))
    val df = tr(s"queries.$name.construct")(q(name).impl(spark, dir))
    try tr(s"queries.$name.exec")(df.count()) finally release()
  }

  /** The cold pass: writes each result and its declared oracle SQL for
    * the DuckDB check. Returns the queries that declare no oracle.
    */
  def checkPass(): Seq[String] = {
    val out = new File(work, "registry_check")
    val sql = Queries.map { name =>
      q(name).impl(spark, dir).write.mode("overwrite").parquet(new File(out, name).getPath)
      release()
      name -> q(name).oracle.orElse(q(name).oracleGen.map(_(spark, dir))).getOrElse("")
    }
    val w = new java.io.PrintWriter(new File(work, "registry_oracle.json"), "UTF-8")
    try w.print(sql.map { case (n, s) => Json.str(n) + ":" + Json.str(s) }.mkString("{", ",", "}"))
    finally w.close()
    sql.collect { case (n, "") => s"$n declares no oracle" }
  }

  def checkFiles: Seq[(String, String)] = Seq(
    "registry_oracle" -> new File(work, "registry_oracle.json").getPath,
    "registry_out" -> new File(work, "registry_check").getPath,
    "registry_data" -> dir)
}

object RegistryQueries {
  val Queries: IndexedSeq[String] = IndexedSeq("q26_minhash_sig", "q27_lsh_pairs",
    "q29_simhash", "q53_embed_neardup", "q61_lsh_components", "q105_chunk_dedup",
    "q185_minhash_calibration", "q186_calibrated_neardup", "q189_calibrated_simhash",
    "q08_lastwins_upsert", "q07_interval_join_binned")
}
