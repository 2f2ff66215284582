package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work counters for one span (or a sum of spans). */
final class Counts {
  var jobs, stages, tasks = 0L
  var jobWallMs, runMs, cpuNs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill, input, recordsRead, output = 0L

  def +=(o: Counts): Counts = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    jobWallMs += o.jobWallMs; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    input += o.input; recordsRead += o.recordsRead; output += o.output
    this
  }

  def json: String =
    s"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,"job_wall_ms":$jobWallMs,""" +
      s""""executor_run_ms":$runMs,"executor_cpu_ns":$cpuNs,"gc_ms":$gcMs,""" +
      s""""shuffle_write_bytes":$shuffleWrite,"shuffle_read_bytes":$shuffleRead,""" +
      s""""spill_bytes":$spill,"input_bytes":$input,"records_read":$recordsRead,""" +
      s""""output_bytes":$output}"""
}

/** One listener that attributes every job, stage and task to the job
  * group it ran under. The tracer sets the group to the innermost open
  * span, so a span's counters are the sum over its subtree.
  */
final class Counters extends SparkListener {
  private val byGroup = mutable.Map.empty[String, Counts]
  private val jobGroup = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]

  private var executorCpuNs = 0L

  private def of(group: String) = byGroup.getOrElseUpdate(group, new Counts)
  private def groupOfStage(stage: Int) =
    stageJob.get(stage).flatMap(jobGroup.get).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobGroup(e.jobId) = g
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(stageJob(_) = e.jobId)
    of(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val g = jobGroup.getOrElse(e.jobId, "")
    of(g).jobWallMs += e.time - jobStart.getOrElse(e.jobId, e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    of(groupOfStage(e.stageInfo.stageId)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(groupOfStage(e.stageId))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      executorCpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.diskBytesSpilled
      c.input += m.inputMetrics.bytesRead
      c.recordsRead += m.inputMetrics.recordsRead
      c.output += m.outputMetrics.bytesWritten
    }
  }

  /** CPU time of every task so far, after the bus has delivered every
    * pending event.
    */
  def cpuNs(sc: SparkContext): Long = {
    org.apache.spark.BusDrain(sc)
    synchronized(executorCpuNs)
  }

  /** Counters of the given job groups, after the bus has delivered
    * every pending event.
    */
  def sum(sc: SparkContext, groups: Iterable[String]): Counts = {
    org.apache.spark.BusDrain(sc)
    synchronized {
      val total = new Counts
      groups.foreach(g => byGroup.get(g).foreach(total += _))
      total
    }
  }

  def snapshot(sc: SparkContext): Map[String, Counts] = {
    org.apache.spark.BusDrain(sc)
    synchronized(byGroup.toMap)
  }
}

final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
  def group: String = s"span-$id"
}

/** In-memory span tracer. Each span sets the Spark job group before its
  * body runs so the [[Counters]] listener can attribute jobs to it; a
  * disabled tracer runs the body and records nothing.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean, counters: Counters) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String)]
  private var nextId = 0
  /** Op id stamped on the spans opened while it is set; -1 = none. */
  var op: Int = -1

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, name) :: stack
      sc.setJobGroup(s"span-$id", name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(id, parent, op, name, t0, t1)
        stack.headOption match {
          case Some((p, pn)) => sc.setJobGroup(s"span-$p", pn, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  def subtree(id: Int): Seq[Span] =
    spans.find(_.id == id).toSeq.flatMap(s => s +: children(s.id).flatMap(c => subtree(c.id)))

  /** Duration minus the part its children cover; [[nestingProblems]]
    * checks that they run one after another inside it.
    */
  def selfNs(s: Span): Long = s.durNs - children(s.id).map(_.durNs).sum

  /** Spans whose children leave their interval or overlap each other;
    * either would make self times wrong.
    */
  def nestingProblems: Seq[String] = {
    val byId = spans.map(s => s.id -> s).toMap
    spans.groupBy(_.parent).toSeq.flatMap { case (p, cs) =>
      val sorted = cs.sortBy(_.startNs)
      val outside = byId.get(p).toSeq.flatMap(ps =>
        sorted.filter(c => c.startNs < ps.startNs || c.endNs > ps.endNs)
          .map(c => s"span ${c.name} (${c.id}) leaves its parent ${ps.name} (${ps.id})"))
      val overlap = sorted.zip(sorted.drop(1)).collect {
        case (a, b) if b.startNs < a.endNs => s"spans ${a.name} (${a.id}) and ${b.name} (${b.id}) overlap"
      }
      outside ++ overlap
    }
  }

  /** Counters of a span's whole subtree. */
  def counts(s: Span): Counts = counters.sum(sc, subtree(s.id).map(_.group))

  def last(name: String): Span = spans.filter(_.name == name).last

  def writeJsonl(spansFile: java.io.File, countersFile: java.io.File): Unit = {
    val sw = new java.io.PrintWriter(spansFile, "UTF-8")
    try spans.sortBy(_.id).foreach { s =>
      sw.println(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${Json.str(s.name)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${selfNs(s)}}""")
    } finally sw.close()
    val cw = new java.io.PrintWriter(countersFile, "UTF-8")
    try counters.snapshot(sc).toSeq.sortBy(_._1).foreach { case (g, c) =>
      cw.println(s"""{"group":${Json.str(g)},"counts":${c.json}}""")
    } finally cw.close()
  }
}

object Tracer {
  /** Runs bodies untouched; for untraced ops. */
  val off: Tracer = new Tracer(null, enabled = false, null)
}
