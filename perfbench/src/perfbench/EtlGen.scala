package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import scala.collection.mutable
import graft.etl.Pipeline

/** Seeded input generator for the paper's ETL: three species in all
  * eight reference formats (genes/exons GFF3, features GFF3, cytoband
  * GFF3, VCF, synteny-block TSV, homolog TSV, OBO, GAF).
  *
  * Every value is a pure function of (seed, species, row id) through
  * [[h]], so one seed always yields byte-identical files. Alongside the
  * files it returns the rows each of the ten output tables must hold,
  * derived in closed form from the same functions (not by re-parsing
  * the files), and the ontology's ancestor count per term.
  */
object EtlGen {

  val Taxa: Seq[Int] = Seq(9606, 10090, 10116)
  private val Prefix = Map(9606 -> "HGNC", 10090 -> "MGI", 10116 -> "RGD")
  val Chromosomes = 5
  private val BandsPerChr = 10
  private val FeatureTypes = Array("QTL", "gene", "lncRNA_gene", "mRNA", "CDS")
  private val Bases = Array("A", "C", "G", "T")

  /** Genes per species; every other family's size follows from it. */
  val Genes = 1000
  val Features: Int = Genes / 2
  val Variants: Int = Genes
  val BlocksPerPair: Int = Genes / 10
  val HomologsPerPair: Int = Genes / 2
  val Terms: Int = Genes

  final case class Output(
      inputs: Pipeline.Inputs,
      expectedRows: Map[String, Long],
      ancestorsPerTerm: Map[String, Int],
      inputBytes: Long)

  /** splitmix64 over (seed, kind, a, b): the only source of variation. */
  def h(seed: Long, kind: Int, a: Long, b: Long = 0L): Long = {
    var z = seed * 0x9e3779b97f4a7c15L + kind * 0xbf58476d1ce4e5b9L +
      a * 0x94d049bb133111ebL + b * 0x2545f4914f6cdd1dL
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    (z ^ (z >>> 31)) & Long.MaxValue
  }

  // ---- genes (shared by the GFF3, VCF, GAF and homolog families) ----
  def geneId(taxon: Int, i: Int): String = s"${Prefix(taxon)}:$i"
  def geneChr(i: Int): Int = 1 + i % Chromosomes
  def geneStart(seed: Long, taxon: Int, i: Int): Long = // 1-based (GFF3)
    (i / Chromosomes).toLong * 10000 + 1 + h(seed, 1, taxon, i) % 3000
  def geneLen(seed: Long, taxon: Int, i: Int): Long =
    500 + h(seed, 2, taxon, i) % 5000
  def hasDbxref(seed: Long, taxon: Int, i: Int): Boolean =
    h(seed, 3, taxon, i) % 40 != 0
  def exonCount(seed: Long, taxon: Int, i: Int): Int =
    1 + (h(seed, 4, taxon, i) % 4).toInt
  def termId(t: Int): String = f"GO:$t%07d"

  /** Term t > 0 has a GO-like primary parent (4-ary tree) and, for 30%
    * of terms, a second parent drawn from the earlier terms; parents
    * always precede children, so the graph is a DAG.
    */
  def termParents(seed: Long, t: Int): Seq[Int] =
    if (t == 0) Nil
    else {
      val p1 = (t - 1) / 4
      val r = h(seed, 20, t)
      if (r % 10 < 3) {
        val p2 = (h(seed, 21, t) % t).toInt
        if (p2 != p1) Seq(p1, p2) else Seq(p1)
      } else Seq(p1)
    }

  private def writer(f: File): BufferedWriter =
    new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(f), StandardCharsets.UTF_8), 1 << 16)

  private def file(dir: File, name: String)(body: BufferedWriter => Unit): String = {
    val f = new File(dir, name)
    val w = writer(f)
    try body(w) finally w.close()
    f.getPath
  }

  def write(dir: File, seed: Long): Output = {
    dir.mkdirs()
    val g = Genes
    val rows = mutable.Map.empty[String, Long].withDefaultValue(0L)

    val genes = Taxa.map { taxon =>
      val path = file(dir, s"genes_$taxon.gff3") { w =>
        w.write("##gff-version 3\n")
        for (i <- 0 until g) {
          val start = geneStart(seed, taxon, i)
          val end = start + geneLen(seed, taxon, i)
          val strand = if (h(seed, 5, taxon, i) % 2 == 0) "+" else "-"
          val dbx = if (hasDbxref(seed, taxon, i)) s"Dbxref=${geneId(taxon, i)},X:$i;" else ""
          w.write(s"chr${geneChr(i)}\tENSEMBL\tgene\t$start\t$end\t.\t$strand\t.\t" +
            s"ID=g$i;${dbx}Symbol=S${taxon}_$i;Name=gene $i\n")
          val n = exonCount(seed, taxon, i)
          val step = (end - start) / n
          for (j <- 0 until n) {
            val es = start + j * step
            w.write(s"chr${geneChr(i)}\tENSEMBL\texon\t$es\t${es + step / 2}\t.\t" +
              s"$strand\t.\tID=g$i.e$j;Parent=g$i\n")
          }
          if (hasDbxref(seed, taxon, i)) {
            rows("gene") += 1
            rows("exon") += n
          }
        }
      }
      Pipeline.SpeciesFile(path, taxon)
    }

    val bandLen = (g / Chromosomes + 1).toLong * 10000 / BandsPerChr + 1
    val bands = Taxa.map { taxon =>
      val path = file(dir, s"cytoband_$taxon.gff3") { w =>
        w.write("##gff-version 3\n")
        for (c <- 1 to Chromosomes; b <- 0 until BandsPerChr) {
          val color = Seq("gneg", "gpos25", "gpos50", "acen")((h(seed, 6, taxon, c * 100 + b) % 4).toInt)
          w.write(s"chr$c\tUCSC\tcytoband\t${b * bandLen + 1}\t${(b + 1) * bandLen}\t.\t.\t.\t" +
            s"ID=b$c.$b;source=UCSC;Location=p$c.$b;Color=$color\n")
          rows("cytogenetic_band") += 1
        }
      }
      Pipeline.SpeciesFile(path, taxon)
    }

    // Every 25th feature repeats its predecessor's key (source, id,
    // dbxref) and type; keep-first drops it. CDS rows are blacklisted.
    val features = Taxa.map { taxon =>
      def typeOf(k: Int) = FeatureTypes((h(seed, 7, taxon, k) % FeatureTypes.length).toInt)
      val path = file(dir, s"features_$taxon.gff3") { w =>
        w.write("##gff-version 3\n")
        for (k <- 0 until Features) {
          val dup = k % 25 == 24
          val key = if (dup) k - 1 else k
          val tpe = typeOf(key)
          val start = 1 + h(seed, 8, taxon, k) % 1000000
          w.write(s"chr${1 + k % Chromosomes}\tMGI\t$tpe\t$start\t${start + 5000}\t.\t+\t.\t" +
            s"ID=F$key;Name=Feat$k;Dbxref=MGI:F$key;bioType=$tpe\n")
          if (!dup && tpe != "CDS") rows("feature") += 1
        }
      }
      Pipeline.SpeciesFile(path, taxon)
    }

    val variants = Taxa.map { taxon =>
      val path = file(dir, s"variants_$taxon.vcf") { w =>
        w.write("##fileformat=VCFv4.2\n#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n")
        for (v <- 0 until Variants) {
          val r = h(seed, 9, taxon, v)
          val nGenes = if (r % 3 == 0) 2 else 1
          val cg = (0 until nGenes).map(j => geneId(taxon, (h(seed, 10, taxon, v * 2 + j) % g).toInt))
          val id = if (r % 7 == 0) "." else s"rs${taxon}_$v"
          val alt = if (r % 11 == 0) "." else Bases(((r >>> 8) % 4).toInt)
          w.write(s"chr${1 + v % Chromosomes}\t${v.toLong * 200 + 1 + r % 100}\t$id\t" +
            s"${Bases(((r >>> 4) % 4).toInt)}\t$alt\t${(r >>> 12) % 100}.5\tPASS\t" +
            s"CG=${cg.mkString(",")};AF=0.${(r >>> 16) % 100};LT=Trait${(r >>> 20) % 50}\n")
          rows("snp_variant") += nGenes
        }
      }
      Pipeline.SpeciesFile(path, taxon)
    }

    val pairs = Seq((9606, 10090), (9606, 10116), (10090, 10116))

    // Every 20th block repeats its predecessor's ref and comp
    // coordinates; last-wins keeps it, on both the forward and the
    // swapped copy.
    val blocks = pairs.map { case (rt, ct) =>
      file(dir, s"blocks_${rt}_$ct.tsv") { w =>
        def coords(k: Int) = (1 + k % Chromosomes, (k / Chromosomes).toLong * 50000 + 1 +
          h(seed, 11, rt * 7 + ct, k) % 1000, 1 + (k * 3) % Chromosomes,
          k.toLong * 40000 + 1 + h(seed, 12, rt * 7 + ct, k) % 1000)
        for (k <- 0 until BlocksPerPair) {
          val dup = k % 20 == 19
          val (rc, rs, cc, cs) = coords(if (dup) k - 1 else k)
          val o = if (h(seed, 13, rt * 7 + ct, k) % 2 == 0) "+" else "-"
          w.write(s"$rc\t$rt\t$rs\t${rs + 20000 + k}\t$cc\t$ct\t$cs\t${cs + 20000 + k}\t" +
            s"$o\tID=SynBlock$k\n")
          if (!dup) rows("syntenic_block") += 2
        }
      }
    }

    // Gene a = k of the first species pairs with a permuted gene of the
    // second; every 30th row repeats its predecessor's ids.
    val homologs = pairs.map { case (t1, t2) =>
      file(dir, s"homologs_${t1}_$t2.tsv") { w =>
        w.write("##" + graft.etl.HomologsEtl.requiredColumns.mkString("\t") + "\n")
        def partner(k: Int) = ((k.toLong * 7919 + t2) % g).toInt
        for (k <- 0 until HomologsPerPair) {
          val dup = k % 30 == 29
          val a = if (dup) k - 1 else k
          val b = partner(a)
          w.write(s"orthologue\t$t1\t${geneId(t1, a)}\tA$k\tchr${geneChr(a)}\t" +
            s"${geneStart(seed, t1, a)}\t${geneStart(seed, t1, a) + 100}\t$t2\t" +
            s"${geneId(t2, b)}\tB$k\t${geneChr(b)}\t${geneStart(seed, t2, b)}\t" +
            s"${geneStart(seed, t2, b) + 100}\n")
          if (!dup) rows("homolog") += 2
        }
      }
    }

    val nTerms = Terms
    val ancestors = new Array[java.util.BitSet](nTerms)
    val obo = file(dir, "ontology.obo") { w =>
      w.write("format-version: 1.2\n\n")
      for (t <- 0 until nTerms) {
        val ps = termParents(seed, t)
        val anc = new java.util.BitSet(t)
        ps.foreach { p => anc.set(p); anc.or(ancestors(p)) }
        ancestors(t) = anc
        w.write(s"[Term]\nid: ${termId(t)}\nname: term $t\nnamespace: biological_process\n")
        ps.foreach(p => w.write(s"is_a: ${termId(p)} ! term $p\n"))
        w.write("\n")
      }
      w.write("[Typedef]\nid: part_of\nname: part of\n")
    }
    rows("on_terms") = nTerms
    val ancestorsPerTerm = (0 until nTerms).map(t => termId(t) -> ancestors(t).cardinality).toMap
    rows("on_pairs") = ancestorsPerTerm.values.map(_.toLong).sum

    // 0–2 annotations per gene (repeats collapse in the last-wins
    // upsert); every 50th gene also gets a foreign-taxon row that the
    // per-file taxon filter drops.
    val mapped = mutable.HashSet.empty[(String, Int)]
    val gaf = Taxa.map { taxon =>
      val path = file(dir, s"annotations_$taxon.gaf") { w =>
        w.write("!gaf-version: 2.1\n")
        def line(gene: String, term: Int, tx: Int) =
          w.write(s"DB\t$gene\tSYM\t\t${termId(term)}\tREF\tEV\t\tP\tname\t\tprotein\t" +
            s"taxon:$tx\t20210101\tAA\t\t\n")
        for (i <- 0 until g if hasDbxref(seed, taxon, i)) {
          val n = (h(seed, 14, taxon, i) % 3).toInt
          for (j <- 0 until n) {
            val term = (h(seed, 15, taxon, i * 4L + j) % nTerms).toInt
            line(geneId(taxon, i), term, taxon)
            mapped += ((geneId(taxon, i), term))
          }
          if (i % 50 == 0) line(geneId(taxon, i), 0, 7227)
        }
      }
      (path, taxon)
    }
    rows("gene_ontology_map") = mapped.size

    val inputs = Pipeline.Inputs(genes = genes, blocks = blocks,
      cytobands = bands, features = features, variants = variants,
      obo = Seq(obo), gaf = gaf, homologs = homologs)
    val bytes = dir.listFiles().map(_.length).sum
    Output(inputs, rows.toMap, ancestorsPerTerm, bytes)
  }
}
