package pipebench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One call into a layer. Spans of one op share `op`; `parent` is -1 for an
  * op's root span. Times are `System.nanoTime`. */
final case class Span(id: Int, op: Int, round: Int, name: String, parent: Int,
    startNs: Long, var endNs: Long = 0L) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark work of one job, summed over its tasks. `module` is the layer that
  * launched it, read from the job's call site; `span` is the benchmark span
  * that was open on the submitting thread. */
final class JobStat(val jobId: Int, val span: Int, val module: String, val site: String,
    val startMs: Long) {
  var endMs = 0L
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var bytesWritten = 0L
  def ms: Double = (endMs - startMs).toDouble
}

object Trace {
  /** Local property carrying the open span id into every job submitted
    * from the thread (Spark copies local properties into each job). */
  val SpanKey = "pipebench.span"

  /** Local property carrying the round whose EP1/EP2 submitted a job. */
  val WriteRoundKey = "pipebench.write_round"

  /** Layer of the first program or benchmark frame in a job's long call
    * site, or None when the job was submitted from a thread with no such
    * frame (then the open span decides). */
  def moduleOf(callSite: String): Option[String] =
    callSite.split('\n').iterator.map(_.trim.takeWhile(_ != '(')).collectFirst {
      case f if f.startsWith("graft.io.Lake") => "io.write"
      case f if f.startsWith("graft.io.") => "io.read"
      case f if f.startsWith("graft.clean.") => "clean"
      case f if f.startsWith("graft.gold.") => "gold"
      case f if f.startsWith("graft.Pipeline") => "pipeline"
      case f if f.startsWith("graft.Serve") => "serve"
      case f if f.startsWith("graft.queries.") => "queries"
      case f if f.startsWith("graft.ops.") || f.startsWith("graft.functions.") ||
        f.startsWith("graft.plans.") => "ops"
      case f if f.startsWith("graft.") => "graft"
      case f if f.startsWith("pipebench.") => "exec"
    }
}

/** Records spans (from the benchmark thread and the Serve handler thread it
  * waits on) and, through a SparkListener, every job's work. Everything
  * stays in memory until the run ends. */
final class Tracer(sc: SparkContext) extends SparkListener {
  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.LinkedHashMap.empty[Int, JobStat]
  private val stageJob = mutable.HashMap.empty[Int, JobStat]
  // AQE submits a query's stage jobs from a pool thread whose stack holds no
  // program frame; the SQL execution's own call site, taken on the calling
  // thread, names the layer for them
  private val executionModule = mutable.HashMap.empty[String, String]
  private val open = mutable.Stack.empty[Span]
  @volatile var enabled = false
  private var nextOp = 0

  /** Round that new spans belong to; set by the benchmark loop. */
  @volatile var round = 0

  /** Open an op (a root span) or a child span of the innermost open span.
    * The benchmark is a single closed-loop client: while the Serve handler
    * thread runs the pipeline, the benchmark thread is blocked waiting for
    * the response, so at most one thread opens or closes spans at a time.
    * The open span's id goes into the calling thread's local properties,
    * and from there into every job that thread submits. */
  def span[T](name: String, root: Boolean = false)(body: => T): T =
    if (!enabled) body
    else {
      val s = synchronized {
        val parent = if (root || open.isEmpty) -1 else open.top.id
        val op = if (parent < 0) { nextOp += 1; nextOp } else open.top.op
        val s = Span(spans.size, op, round, name, parent, System.nanoTime())
        spans += s
        open.push(s)
        s
      }
      val outer = sc.getLocalProperty(Trace.SpanKey)
      sc.setLocalProperty(Trace.SpanKey, s.id.toString)
      try body
      finally {
        sc.setLocalProperty(Trace.SpanKey, outer)
        synchronized {
          s.endNs = System.nanoTime()
          open.pop()
        }
      }
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    val last = e.stageInfos.maxByOption(_.stageId)
    val execution = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    val module = last.flatMap(s => Trace.moduleOf(s.details))
      .orElse(execution.flatMap(executionModule.get)).getOrElse("span")
    val js = new JobStat(e.jobId, span, module, last.map(s => s.name + "\n" + s.details).getOrElse(""), e.time)
    jobs(e.jobId) = js
    e.stageIds.foreach(stageJob(_) = js)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized {
      Trace.moduleOf(x.details).foreach(executionModule(x.executionId.toString) = _)
    }
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { js =>
      js.tasks += 1
      val m = e.taskMetrics
      val ti = e.taskInfo
      if (m != null) {
        js.runMs += m.executorRunTime
        js.cpuNs += m.executorCpuTime
        js.gcMs += m.jvmGCTime
        js.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        js.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        js.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        js.bytesWritten += m.outputMetrics.bytesWritten
        if (ti != null && ti.finishTime > 0)
          js.schedMs += math.max(0L, ti.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            (if (ti.gettingResultTime > 0) ti.finishTime - ti.gettingResultTime else 0L))
      }
    }
  }

  /** Jobs whose span lies in `spanIds`. */
  def jobsIn(spanIds: Set[Int]): Seq[JobStat] = synchronized {
    jobs.values.filter(j => spanIds.contains(j.span)).toSeq
  }
}

/** Output bytes of the jobs EP1 and EP2 submit, by round: what `write_amp`
  * is measured from, in every run. A job counts when it was submitted
  * inside `during`. */
final class WriteBytes(sc: SparkContext) extends SparkListener {
  private val stageRound = mutable.HashMap.empty[Int, Int]
  private val byRound = mutable.HashMap.empty[Int, Long]

  def during[T](round: Int)(body: => T): T = {
    val outer = sc.getLocalProperty(Trace.WriteRoundKey)
    sc.setLocalProperty(Trace.WriteRoundKey, round.toString)
    try body
    finally sc.setLocalProperty(Trace.WriteRoundKey, outer)
  }

  def of(round: Int): Long = synchronized(byRound.getOrElse(round, 0L))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Trace.WriteRoundKey)))
      .foreach(r => e.stageIds.foreach(stageRound(_) = r.toInt))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (r <- stageRound.get(e.stageId); m <- Option(e.taskMetrics))
      byRound(r) = byRound.getOrElse(r, 0L) + m.outputMetrics.bytesWritten
  }
}
