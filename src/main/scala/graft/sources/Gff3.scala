package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** GFF3 source (SURVEY.md §2.1 S1/S2): a GFF3 file is tab-separated
  * lines of 9 fixed columns after `#`-comment stripping, so the scan
  * is a plain distributed csv read — no custom DataSource needed.
  * Attribute access and gene↔exon nesting are rebuilt relationally
  * (`Parent`/`ID` self-join) instead of via a nested parser.
  *
  * Spark's csv source decompresses `.gz` transparently, which covers
  * the reference's `flex_open` (S8, reference `flex_open.py:10-20`).
  */
object Gff3 {

  val columns: Seq[String] = Seq(
    "seq_id", "source", "type", "start", "end", "score", "strand", "phase",
    "attributes")

  private val schema = StructType(columns.map(StructField(_, StringType)))

  /** Raw 9-column read; one output row per feature line. An `__ord`
    * column carries file order for order-sensitive downstream dedup
    * (narrow read — no shuffle before the ordinal is assigned).
    */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("sep", "\t")
      .option("comment", "#")
      .schema(schema)
      .csv(path)
      .withColumn("__ord", monotonically_increasing_id())

  /** V4 — `##gff-version 3` pragma check on the first line (reference
    * `import_features.py:72-76`). Driver-side single-line read, no
    * Spark job.
    */
  def assertVersionPragma(spark: SparkSession, path: String): Unit = {
    val first = FirstLine(spark, path)
    require(first.exists(_.trim.endsWith("gff-version 3")),
      s"$path: expected first line to end with 'gff-version 3'")
  }

  /** C5 — extract one attribute from the `;`-separated, `=`-split,
    * whitespace-trimmed GFF3 attributes column. Repeated keys: last
    * occurrence wins (dict-overwrite semantics of the reference,
    * `import_features.py:176-185`). Missing → null.
    */
  def attr(attributes: Column, name: String): Column = {
    val hits = filter(split(attributes, ";"),
      a => trim(element_at(split(a, "="), 1)) === name)
    when(size(hits) > 0,
      trim(element_at(split(element_at(hits, -1), "="), 2)))
  }

  /** First value of a comma-separated multi-valued attribute (BCBio
    * surfaces qualifiers as lists; the reference takes `[0]`).
    */
  def attrFirst(attributes: Column, name: String): Column =
    element_at(split(attr(attributes, name), ","), 1)

  /** C1 — replace-all, case-sensitive `chr` strip (reference
    * `import_genes_exons.py:115`, `import_variants.py:84`).
    */
  def chrStripReplaceAll(c: Column): Column = regexp_replace(c, "chr", "")

  /** C2 — anchored, case-insensitive `chr` strip (reference
    * `import_features.py:167-168`, `import_homologs.py:124-127`).
    * Two deliberately different semantics — both preserved.
    */
  def chrStripAnchored(c: Column): Column = regexp_replace(c, "(?i)^chr", "")

  /** C6 — GFF3 `.` placeholder → null. */
  def dotToNull(c: Column): Column = nullif(c, lit("."))
}
