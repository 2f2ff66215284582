package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{MinHashLsh, SimHash, TextFns}
import graft.operators.Closure
import graft.sources.{Gff3, Obo}

/** The traced run's layer sweep: every module's public calls, each run
  * once untraced to warm it and once inside a span, on the seed's
  * inputs. It runs the same way whatever the workload, so every
  * per-layer metric is measured in every traced run.
  */
object Sweep {

  val EtlTables: Seq[String] = Seq("gene", "exon", "syntenic_block",
    "cytogenetic_band", "feature", "snp_variant", "on_terms", "on_pairs",
    "gene_ontology_map", "homolog")

  private def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Warm once, then time inside span `name`. */
  private def probe[T](tr: Tracer, name: String)(body: => T): (T, Span) = {
    body
    val r = tr(name)(body)
    (r, tr.last(name))
  }

  private def short(q: String) = q.takeWhile(_ != '_')

  /** Runs the sweep into `m`; returns the problems its checks found
    * and the files the DuckDB checker reads.
    */
  def run(spark: SparkSession, a: Main.Args, corpus: File, tr: Tracer,
      tracedLoad: Option[(File, Map[String, Long])],
      m: Main.Metrics): (Seq[String], Seq[(String, String)]) = {
    val problems = mutable.ArrayBuffer.empty[String]
    val checks = mutable.ArrayBuffer.empty[(String, String)]
    val work = new File(a.work, "sweep")
    tr.op = -2

    // etl: one load with a span per table write, unless the workload
    // traced one already
    val etl = new EtlLoad(spark, a.seed, work)
    etl.prepare()
    val gen = etl.gen
    m("bench.gen_s", "s") = etl.genSeconds
    val (out, rows, load) = tracedLoad match {
      case Some((dir, rows)) => (dir, rows, tr.last("op:etl_load"))
      case None =>
        val dir = new File(work, "etl_out")
        val rows = tr("etl.load")(etl.load(tr, dir))
        if (!etl.rowsMatch(rows, "sweep etl")) problems += s"sweep etl rows $rows"
        (dir, rows, tr.last("etl.load"))
    }
    val lc = tr.counts(load)
    m("etl.construct_s", "s") = tr.last("etl.construct").durNs / 1e9
    EtlTables.foreach(t => m(s"etl.write_s.$t", "s") = tr.last(s"etl.write.$t").durNs / 1e9)
    EtlTables.foreach(t => m(s"etl.rows.$t", "count") = rows.getOrElse(t, 0L).toDouble)
    m("etl.core_busy", "ratio") = lc.runMs / (load.durNs / 1e6 * Main.cpus)
    m("etl.bytes_out_per_in", "ratio") = Workloads.bytesUnder(out).toDouble / gen.inputBytes

    // sources
    val in = gen.inputs
    val gff3 = in.genes.map(_.path) ++ in.features.map(_.path) ++ in.cytobands.map(_.path)
    m("sources.gff3_read_s", "s") =
      probe(tr, "sources.gff3_read")(gff3.foreach(p => force(Gff3.read(spark, p))))._2.durNs / 1e9
    m("sources.obo_read_s", "s") =
      probe(tr, "sources.obo_read")(force(Obo.read(spark, in.obo.head).toDF()))._2.durNs / 1e9
    m("sources.read_amplification", "ratio") = lc.input.toDouble / gen.inputBytes

    // operators
    val edges = Obo.read(spark, in.obo.head).toDF().filter(col("kind") === "isa")
      .select(col("parent"), col("id").as("child")).localCheckpoint()
    val want = gen.expectedRows("on_pairs")
    val (pairs, local) = probe(tr, "operators.closure")(
      Closure.transitiveClosure(edges, "parent", "child").count())
    val (pairsD, dist) = probe(tr, "operators.closure_distributed")(
      Closure.transitiveClosure(edges, "parent", "child", localThreshold = 0).count())
    if (pairs != want || pairsD != want)
      problems += s"closure pairs local=$pairs distributed=$pairsD expected=$want"
    m("operators.closure_s", "s") = local.durNs / 1e9
    m("operators.closure_jobs", "count") = tr.counts(local).jobs.toDouble
    m("operators.closure_pairs", "count") = pairs.toDouble
    m("operators.closure_distributed_s", "s") = dist.durNs / 1e9

    // browser: three reads of each kind over the load above
    val browser = new BrowserReads(spark, a.seed, work)
    browser.open(out)
    browser.probe(Tracer.off, 1)
    val firstSpan = tr.spans.size
    val returned = browser.probe(tr, 3)
    val reads = tr.spans.drop(firstSpan).filter(_.parent == -1).toSeq
    BrowserReads.Kinds.foreach { k =>
      val ss = reads.filter(_.name == s"browser.$k")
      val got = returned.filter(_._1 == k).map(_._2).sum
      m(s"browser.$k.p50_ms", "ms") = Main.median(ss.map(_.durNs / 1e6))
      m(s"browser.$k.rows_read_per_row", "ratio") =
        ss.map(tr.counts(_).recordsRead).sum.toDouble / math.max(got, 1)
    }
    m("browser.driver_ms", "ms") =
      Main.median(reads.map(s => s.durNs / 1e6 - tr.counts(s).jobWallMs))

    // functions: the two signature kernels over the corpus documents
    val docs = graft.Tables.docsParallel(spark, corpus.getPath)
      .withColumn("t", TextFns.tokens(col("text")))
    m("functions.minhash_sig_s", "s") = probe(tr, "functions.minhash_sig")(
      force(MinHashLsh.signaturesFromTokens(docs, "doc_id", "t", 3, 12)))._2.durNs / 1e9
    m("functions.simhash_fp_s", "s") = probe(tr, "functions.simhash_fp")(
      force(SimHash.fingerprintsFromTokens(docs, "doc_id", "t", 1)))._2.durNs / 1e9

    // queries: a cold pass that also writes the oracle-check outputs,
    // then one traced pass. q190 is left out: its DuckDB oracle alone
    // takes ~10 s, which a traced run cannot afford.
    val reg = new RegistryQueries(spark, a.seed, corpus, work)
    problems ++= reg.checkPass()
    checks ++= reg.checkFiles
    val pass = RegistryQueries.Queries.map { q =>
      tr(s"queries.$q")(reg.run(tr, q))
      val span = tr.last(s"queries.$q")
      m(s"queries.${short(q)}.construct_s", "s") = tr.last(s"queries.$q.construct").durNs / 1e9
      m(s"queries.${short(q)}.exec_s", "s") = tr.last(s"queries.$q.exec").durNs / 1e9
      m(s"queries.${short(q)}.jobs", "count") = tr.counts(span).jobs.toDouble
      span.durNs / 1e9
    }
    m("queries.pass_s", "s") = pass.sum
    tr.op = -1
    (problems.toSeq, checks.toSeq)
  }
}
