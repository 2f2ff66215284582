package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.sources.{FirstLine, Gff3}

/** Homolog table from header-validated TSV (reference
  * `import_homologs.py:79-150`).
  *
  * Header handling (S4/V3/C9): the first line (optionally `##`
  * prefixed) must *contain* the 13 required lowercase names; extra
  * columns warn. Data rows are then mapped POSITIONALLY to the 13
  * expected names — column order is assumed, exactly like the
  * reference's `csv.DictReader(fieldnames=…)` (`:111`).
  *
  * Semantics: C2 anchored chr strip on both seqids (`:124-127`);
  * V5 non-'orthologue' type warns but loads (`:129-132`); U2 each row
  * lands both ways (`:134-141`); D1 `INSERT OR REPLACE` on
  * (ref_gene_id, ref_taxon_id, comp_gene_id, comp_taxon_id) — last in
  * file order wins, reverse copy after its forward twin.
  */
object HomologsEtl {

  val requiredColumns: Seq[String] = Seq(
    "type", "taxonid1", "id1", "symbol1", "seqid1", "start1", "end1",
    "taxonid2", "id2", "symbol2", "seqid2", "start2", "end2")

  /** Counters are lazy — they each cost a Spark action (A4/V5 are
    * informational in the reference), so callers that only need the
    * table shouldn't pay for them.
    */
  final class Result(val homologs: DataFrame,
      numRecordsDf: => Long, unexpectedTypesDf: => Long) {
    lazy val numRecords: Long = numRecordsDf
    lazy val unexpectedTypes: Long = unexpectedTypesDf
  }

  def load(spark: SparkSession, path: String): Result = {
    // V3 — header-set validation (driver-side single line, no Spark job).
    val headerLine = FirstLine(spark, path)
      .getOrElse(throw new IllegalArgumentException(s"$path: empty homolog file"))
    val header = headerLine.stripPrefix("##").split("\t").map(_.trim.toLowerCase).toSeq
    val missing = requiredColumns.filterNot(header.contains)
    require(missing.isEmpty, s"$path: missing homolog header column(s): " +
      missing.mkString(", "))
    header.filterNot(requiredColumns.contains)
      .foreach(c => System.err.println(s"[homologs] ignoring extra column $c"))

    // Positional mapping of data rows to the 13 expected names, in one
    // projection (a withColumn per name re-analyzes the growing plan).
    val fields = spark.read.textFile(path)
      .withColumn("__ord", monotonically_increasing_id())
      .filter(col("value") =!= headerLine)
      .select(col("__ord"), split(col("value"), "\t", -1).as("f"))
    val named = fields.select(col("__ord") +: requiredColumns.zipWithIndex.map {
      case (name, i) => trim(col("f")(i)).as(name)
    }: _*)

    def side(n: Int, prefix: String) = Seq(
      col(s"id$n").as(s"${prefix}_gene_id"),
      col(s"symbol$n").as(s"${prefix}_gene_sym"),
      col(s"taxonid$n").cast("int").as(s"${prefix}_taxon_id"),
      Gff3.chrStripAnchored(col(s"seqid$n")).as(s"${prefix}_seq_id"),
      col(s"start$n").cast("long").as(s"${prefix}_start"),
      col(s"end$n").cast("long").as(s"${prefix}_end"))

    val fwd = named.select(side(1, "ref") ++ side(2, "comp")
      :+ (col("__ord") * 2).as("__ord2"): _*)
    val rev = named.select(side(2, "ref") ++ side(1, "comp")
      :+ (col("__ord") * 2 + 1).as("__ord2"): _*)
    val both = fwd.unionByName(rev)

    val deduped = Dedup.lastWins(both,
      keys = Seq("ref_gene_id", "ref_taxon_id", "comp_gene_id", "comp_taxon_id"),
      ord = Seq(col("__ord2")),
      keep = both.columns.filterNot(_ == "__ord2").toSeq)
    new Result(deduped,
      both.count(),
      named.filter(upper(trim(col("type"))) =!= "ORTHOLOGUE").count())
  }
}
