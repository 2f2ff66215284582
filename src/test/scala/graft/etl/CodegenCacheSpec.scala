package graft.etl

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

import graft.{SessionTuning, TestSpark}

/** The ETL's generated code is compiled once per JVM, not once per
  * load: `SessionTuning.scaleAdaptive` sizes Catalyst's JVM-wide
  * codegen cache above one load's working set, so an identical second
  * load finds every class cached. Janino compiles are counted through
  * `CodegenMetrics` — a deterministic counter, not a timing — so this
  * trips if the static cache setting stops reaching `CodeGenerator`
  * (the cache falls back to Spark's 100 entries and the second load
  * recompiles in a cycle) or if a change makes generated code differ
  * from one identical load to the next.
  */
class CodegenCacheSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  def fx(n: String) = TestSpark.fixture(n)

  private def inputs = Pipeline.Inputs(
    genes = Seq(Pipeline.SpeciesFile(fx("genes_human.gff3"), 9606)),
    blocks = Seq(fx("blocks_humanrat.txt")),
    cytobands = Seq(Pipeline.SpeciesFile(fx("cytoband_human.gff3"), 9606)),
    features = Seq(Pipeline.SpeciesFile(fx("features_mouse.gff3"), 10090),
      Pipeline.SpeciesFile(fx("features_rat.gff3.gz"), 10116)),
    variants = Seq(Pipeline.SpeciesFile(fx("variants_human.vcf"), 9606)),
    obo = Seq(fx("ontology_go.obo"), fx("ontology_mp.obo")),
    gaf = Seq((fx("annotations_go_human.gaf"), 9606)),
    homologs = Seq(fx("homologs_mousehuman.tsv"), fx("homologs_rathuman.tsv")))

  /** Classes Janino compiled during one full load (cache misses). */
  private def compilesOfOneLoad(): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val out = TestSpark.scratchDir("graft_codegen")
    val rows = Pipeline.writeObserved(Pipeline.run(spark, inputs), out)
    assert(rows.size === 10)
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("an identical second ETL load compiles no new classes") {
    val first = compilesOfOneLoad()
    val second = compilesOfOneLoad()
    assert(first < SessionTuning.CodegenCacheEntries,
      s"one load compiled $first classes, more than the " +
        s"${SessionTuning.CodegenCacheEntries}-entry cache holds")
    assert(second === 0L,
      s"the second identical load recompiled $second classes " +
        s"(the first compiled $first)")
  }
}
