package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `run.py` builds it and calls
  *
  * {{{
  *   perfbench.Main --workload <etl_load|browser_reads|corpus>
  *     --seed <n> --seconds <s> --trace <0|1> --work <dir> --cache <dir>
  *     --tracedir <dir>
  * }}}
  *
  * and finishes the DuckDB checks on the `result.json` it leaves in
  * `--work`. One process, one client, closed loop: the next op starts
  * when the previous one returns.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: File, cache: File, traceDir: File)

  val cpus: Int = Runtime.getRuntime.availableProcessors

  final case class Sample(ns: Long, cpuNs: Long, ok: Boolean, traced: Boolean)

  private val threads = ManagementFactory.getThreadMXBean

  /** Metric name -> (value, unit), in report order. */
  final class Metrics {
    val values = mutable.LinkedHashMap.empty[String, (Double, String)]
    def update(name: String, unit: String, v: Double): Unit = values(name) = (v, unit)
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linearly interpolated quantile of the sorted sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def get(k: String, d: String) = m.getOrElse(k, d)
    Args(m("workload"), m("seed").toLong, get("seconds", "10").toDouble,
      get("trace", "0") == "1", new File(m("work")), new File(m("cache")),
      new File(get("tracedir", m("work") + "/trace")))
  }

  /** The `graft.Bench` session shape: local[cpus], shuffle partitions =
    * cpus, scale-adaptive AQE; scratch stays inside the work directory.
    */
  def session(a: Args): SparkSession = {
    val spark = graft.SessionTuning.scaleAdaptive(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(a.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getPath))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val bootS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val a = parse(argv)
    a.work.mkdirs()
    // `--workload corpus` only builds the cached registry corpus
    val corpus =
      if (a.trace || a.workload == "corpus")
        Some(Corpus.ensure(a.cache, () => session(a)))
      else None
    if (a.workload == "corpus") return
    val t0 = System.nanoTime()
    val spark = session(a)
    val startupS = bootS + secs(t0)
    try run(spark, a, corpus, startupS)
    finally spark.stop()
  }

  def workload(spark: SparkSession, a: Args): Workload =
    a.workload match {
      case "etl_load" => new EtlLoad(spark, a.seed, a.work)
      case "browser_reads" => new BrowserReads(spark, a.seed, a.work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  /** Closed loop for `seconds` and at least `minOps`. A traced run
    * traces every other op and ends on an untraced one, so untraced ops
    * bracket the traced ones and a drift over the run (JIT, neighbours)
    * weighs on both sides alike.
    */
  def loop(w: Workload, tr: Tracer, counters: Counters, sc: SparkContext,
      seconds: Double): Seq[Sample] = {
    val out = mutable.ArrayBuffer.empty[Sample]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (i < w.minOps || System.nanoTime() < deadline || (tr.enabled && i % 2 == 0)) {
      val traced = tr.enabled && i % 2 == 1
      val t = if (traced) tr else Tracer.off
      tr.op = if (traced) i else -1
      val op = w.op(i)
      val cpu0 = threads.getCurrentThreadCpuTime + counters.cpuNs(sc)
      val t0 = System.nanoTime()
      val ok =
        try t(s"op:${op.kind}")(op.run(t))
        catch { case NonFatal(e) =>
          System.err.println(s"[perfbench] op $i (${op.kind}) failed: $e")
          e.printStackTrace()
          false
        }
      val ns = System.nanoTime() - t0
      val cpuNs = threads.getCurrentThreadCpuTime + counters.cpuNs(sc) - cpu0
      System.err.println(f"[perfbench] op $i%d ${op.kind}%s wall_ms=${ns / 1e6}%.1f cpu_ms=${cpuNs / 1e6}%.1f")
      tr.op = -1
      w.afterOp(i)
      out += Sample(ns, cpuNs, ok, traced)
      i += 1
    }
    out.toSeq
  }

  def run(spark: SparkSession, a: Args, corpus: Option[File], startupS: Double): Unit = {
    val w = workload(spark, a)
    val t1 = System.nanoTime()
    w.prepare()
    w.warmup()
    val setupS = startupS + secs(t1)

    val sc = spark.sparkContext
    val counters = new Counters
    sc.addSparkListener(counters)
    val tr = new Tracer(sc, a.trace, counters)
    val samples = loop(w, tr, counters, sc, a.seconds)
    val (checkFailed, problems) = w.finish()
    var failed = samples.count(!_.ok) + checkFailed
    val allProblems = mutable.ArrayBuffer.from(problems)
    val checks = mutable.ArrayBuffer.from(w.checkFiles)
    val m = new Metrics
    if (!a.trace) {
      val ok = samples.filter(_.ok)
      m("setup_s", "s") = setupS
      m("op_cpu_ms", "ms") = median(ok.map(_.cpuNs / 1e6))
      m("op_wall_ms", "ms") = median(ok.map(_.ns / 1e6))
    } else {
      val wallMs = samples.filter(s => s.ok && !s.traced).map(_.ns / 1e6)
      m("op.samples", "count") = wallMs.size
      m("op.wall_p50_ms", "ms") = median(wallMs)
      m("op.wall_p90_ms", "ms") = quantile(wallMs, 0.9)
      m("jvm.peak_rss_mb", "MB") = peakRssMb()
      ownLayers(tr, samples, m)
      val tracedLoad = w match { case e: EtlLoad => e.traced; case _ => None }
      val (sweepProblems, sweepChecks) = Sweep.run(spark, a, corpus.get, tr, tracedLoad, m)
      allProblems ++= sweepProblems ++ tr.nestingProblems
      checks ++= sweepChecks
      a.traceDir.mkdirs()
      tr.writeJsonl(new File(a.traceDir, "spans.jsonl"), new File(a.traceDir, "counters.jsonl"))
    }
    writeResult(new File(a.work, "result.json"), samples.size, failed,
      allProblems.toSeq, m, checks.toSeq)
  }

  /** Per-op Spark counters, driver time and tracing cost of the
    * workload's own traced ops.
    */
  def ownLayers(tr: Tracer, samples: Seq[Sample], m: Metrics): Unit = {
    val roots = tr.spans.filter(s => s.parent == -1 && s.op >= 0).toSeq
    val n = math.max(roots.size, 1).toDouble
    val cs = roots.map(tr.counts)
    val total = cs.foldLeft(new Counts)(_ += _)
    m("spark.jobs", "count") = total.jobs / n
    m("spark.stages", "count") = total.stages / n
    m("spark.tasks", "count") = total.tasks / n
    m("spark.executor_run_s", "s") = total.runMs / 1e3 / n
    m("spark.executor_cpu_s", "s") = total.cpuNs / 1e9 / n
    m("spark.gc_s", "s") = total.gcMs / 1e3 / n
    m("spark.shuffle_write_mb", "MB") = total.shuffleWrite / 1e6 / n
    m("spark.shuffle_read_mb", "MB") = total.shuffleRead / 1e6 / n
    m("spark.spill_mb", "MB") = total.spill / 1e6 / n
    m("spark.input_mb", "MB") = total.input / 1e6 / n
    m("spark.output_mb", "MB") = total.output / 1e6 / n
    m("op.driver_ms", "ms") =
      median(roots.zip(cs).map { case (s, c) => s.durNs / 1e6 - c.jobWallMs })
    val ok = samples.filter(_.ok)
    val on = ok.filter(_.traced).map(_.ns.toDouble)
    val off = ok.filterNot(_.traced).map(_.ns.toDouble)
    m("trace.overhead_pct", "%") = (median(on) - median(off)) / median(off) * 100
    m("trace.unspanned_pct", "%") = roots.map(tr.selfNs).sum.toDouble / on.sum * 100
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(Double.NaN)

  def writeResult(f: File, attempted: Int, failed: Int, problems: Seq[String],
      m: Metrics, checks: Seq[(String, String)]): Unit = {
    val metrics = m.values.map { case (k, (v, u)) =>
      s"""${Json.str(k)}:{"value":${Json.value(v)},"unit":${Json.str(u)}}"""
    }.mkString("{", ",", "}")
    val files = checks.map { case (k, v) => Json.str(k) + ":" + Json.str(v) }.mkString("{", ",", "}")
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.print(s"""{"attempted":$attempted,"failed":$failed,"problems":""" +
      problems.map(Json.str).mkString("[", ",", "]") +
      s""","metrics":$metrics,"checks":$files}""")
    finally w.close()
  }
}
