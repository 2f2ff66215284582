package graft.plans

import java.sql.Date

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.etl.{GenesExonsEtl, Pipeline}

/** `ParamLiterals` (installed by `SessionTuning.scaleAdaptive`) binds
  * the numeric bounds of filter comparisons as codegen parameters. It
  * must change neither results nor scans, and it must make reads that
  * differ only in their bounds share one generated class.
  *
  * "Without the rule" is the same comparison evaluated in a projection:
  * the rule rewrites only `FilterExec` conditions, so a projected
  * predicate keeps its inlined `Literal`.
  */
class ParamLiteralsSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSpark.spark
  private val fx = TestSpark.fixture _

  private def params(p: SparkPlan): Seq[ParamLiteral] =
    collect(p) { case f: FilterExec => f.condition.collect { case q: ParamLiteral => q } }
      .flatten

  private def withConf[T](kv: (String, String)*)(f: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Partitioned by taxon, like the ETL's tables; every value column
    * holds nulls and the extremes of its type, `n` holds only nulls.
    */
  private lazy val typed: DataFrame = {
    val ints = Seq(Int.MinValue, -1, 0, 1, 7, 42, Int.MaxValue)
    val longs = Seq(Long.MinValue, -5L, 0L, 972533L, 972534L, Long.MaxValue)
    val dates = Seq("1970-01-01", "1999-12-31", "2000-01-01", "2024-02-29").map(Date.valueOf)
    val dbls = Seq(Double.NegativeInfinity, -0.5, 0.0, 0.25, 1e300,
      Double.PositiveInfinity, Double.NaN)
    def pick[T](xs: Seq[T], i: Int): Any = if (i % 5 == 4) null else xs(i % xs.size)
    val rows = (0 until 60).map { i =>
      Row(if (i % 2 == 0) 9606 else 10090, pick(ints, i), pick(longs, i / 2),
        pick(dates, i / 3), pick(dbls, i / 4), null)
    }
    val schema = StructType(Seq(StructField("taxon", IntegerType),
      StructField("i", IntegerType), StructField("l", LongType),
      StructField("d", DateType), StructField("x", DoubleType),
      StructField("n", LongType)))
    val out = TestSpark.scratchDir("graft_paramlit") + "/typed"
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
      .write.partitionBy("taxon").parquet(out)
    spark.read.parquet(out)
  }

  /** Every comparison operator against a value present in the data,
    * plus ranges at the type's extremes.
    */
  private def conditions: Seq[Column] = {
    def ops(c: Column, v: Any): Seq[Column] =
      Seq(c < v, c <= v, c > v, c >= v, c === v, c <=> v)
    ops(col("i"), 7) ++ ops(col("l"), 972533L) ++
      ops(col("d"), Date.valueOf("2000-01-01")) ++ ops(col("x"), 0.25) ++
      Seq(col("i").between(Int.MinValue, 0), col("i") > Int.MaxValue,
        col("l").between(-5L, Long.MaxValue), col("l") < Long.MinValue,
        col("d").between(Date.valueOf("1970-01-01"), Date.valueOf("1999-12-31")),
        col("x") > Double.NegativeInfinity && col("x") < Double.PositiveInfinity,
        col("x") === Double.NaN, col("n") < 5L, col("n") <=> 5L,
        col("taxon") === 9606 && col("l") >= 0L && col("i") < 42)
  }

  private val modes = Seq(
    "default codegen" -> Nil,
    "no whole-stage codegen" -> Seq("spark.sql.codegen.wholeStage" -> "false"),
    "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  for ((mode, confs) <- modes)
    test(s"range filters keep their results with bound parameters ($mode)") {
      withConf(confs: _*) {
        val cols = typed.columns.toSeq.map(col)
        val conds = conditions
        // the same predicates as projected columns: literals inlined
        val projected = typed.select(cols ++ conds.zipWithIndex.map {
          case (c, k) => c.as(s"k$k")
        }: _*)
        assert(params(projected.queryExecution.executedPlan).isEmpty)
        val all = projected.collect()
        val width = cols.size
        conds.zipWithIndex.foreach { case (c, k) =>
          val filtered = typed.filter(c)
          // rows as text: NaN never equals itself as a boxed number
          val got = filtered.collect().map(_.toSeq.mkString(",")).sorted.toSeq
          val want = all.filter(r => !r.isNullAt(width + k) && r.getBoolean(width + k))
            .map(_.toSeq.take(width).mkString(",")).sorted.toSeq
          assert(got === want, s"$c under $mode")
          assert(params(filtered.queryExecution.executedPlan).nonEmpty,
            s"$c: no bound became a parameter")
        }
      }
    }

  test("the rule reaches filters inside adaptive query stages") {
    val q = typed.filter(col("l") > 0L && col("d") < Date.valueOf("2024-01-01"))
      .groupBy("taxon").count()
    val want = typed.collect().count { r =>
      val (l, d) = (r.getAs[Any]("l"), r.getAs[Date]("d"))
      l != null && l.asInstanceOf[Long] > 0L && d != null && d.before(Date.valueOf("2024-01-01"))
    }
    assert(q.collect().map(_.getLong(1)).sum === want)
    val p = params(q.queryExecution.executedPlan)
    assert(p.map(_.dataType).toSet === Set(LongType, DateType), q.queryExecution.executedPlan)
  }

  /** The ETL's gene table in its written layout (partitioned by taxon,
    * sorted on chr and start), as `LayoutSpec` writes it.
    */
  private lazy val genes: DataFrame = {
    val out = TestSpark.scratchDir("graft_paramlit_genes")
    val human = GenesExonsEtl.load(spark, fx("genes_human.gff3"), 9606).genes
    val mouse = GenesExonsEtl.load(spark, fx("genes_human.gff3"), 10090).genes
      .withColumn("gene_taxonid", lit(10090))
    Pipeline.write(Map("gene" -> human.unionByName(mouse)), out)
    spark.read.parquet(s"$out/gene")
  }

  private def region(from: Long, to: Long): DataFrame =
    genes.filter(col("gene_taxonid") === 9606 && col("gene_chr") === "1" &&
      col("gene_start_pos") < to && col("gene_end_pos") > from)
      .select("gene_id", "gene_start_pos", "gene_end_pos")

  test("a region read with new bounds compiles no new class") {
    def compiles(q: DataFrame): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      q.collect()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    assert(region(0L, 5000L).count() === 1L)
    compiles(region(0L, 5000L))
    val second = compiles(region(500L, 1500L))
    assert(second === 0L, s"the second region read compiled $second classes")
  }

  test("scans keep their literal pushed filters and partition filters") {
    val (from, to) = (500L, 1500L)
    val plan = region(from, to).queryExecution.executedPlan
    val scan = collect(plan) { case s: FileSourceScanExec => s }.head
    val pushed = scan.metadata("PushedFilters")
    assert(pushed.contains(s"LessThan(gene_start_pos,$to)"), pushed)
    assert(pushed.contains(s"GreaterThan(gene_end_pos,$from)"), pushed)
    assert(scan.partitionFilters.exists(_.references.exists(_.name == "gene_taxonid")),
      scan.partitionFilters)
    val scanLits = (scan.dataFilters ++ scan.partitionFilters).flatMap(_.collect {
      case l: Literal => l.value
    })
    assert(scanLits.contains(to) && scanLits.contains(from) && scanLits.contains(9606),
      scanLits)
    assert(!(scan.dataFilters ++ scan.partitionFilters).exists(_.exists(_.isInstanceOf[ParamLiteral])))
    assert(params(plan).map(_.value).toSet === Set(from, to), plan)
    // explain text renders the parameters as the literals they replaced
    val filter = collect(plan) { case f: FilterExec => f.condition.toString }.mkString
    assert(filter.contains(s" < $to)") && filter.contains(s" > $from)"), filter)
  }
}
