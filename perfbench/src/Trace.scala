package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.PerfbenchSql
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One timed interval at a layer boundary. `req` ties the spans of one
  * request together; `parent` is the enclosing span on the same thread
  * (0 at the top). */
final case class Span(id: Long, parent: Long, req: String, name: String,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Off by default: untraced runs pay one
  * volatile read per call. */
object Trace {
  @volatile var on = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[A](name: String, req: String)(f: => A): A =
    if (!on) f
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, parent, req, name, t0, System.nanoTime()))
        stack.set(stack.get.tail)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** Duration minus the part of it covered by direct children. */
  def selfMs(s: Span, all: Seq[Span]): Double = {
    val kids = all.filter(_.parent == s.id).map(k =>
      (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
      .filter(k => k._2 > k._1).sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    ((s.endNs - s.startNs) - covered) / 1e6
  }

  /** One JSON object per span, times in ms from the first span. */
  def writeJsonl(path: java.nio.file.Path): Unit = {
    val ss = all
    val t0 = ss.headOption.map(_.startNs).getOrElse(0L)
    val lines = ss.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"req":${Gen.jsonStr(s.req)},""" +
        s""""name":${Gen.jsonStr(s.name)},"start_ms":${(s.startNs - t0) / 1e6},""" +
        s""""end_ms":${(s.endNs - t0) / 1e6},"self_ms":${selfMs(s, ss)}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Spark-side counters keyed by job group. The benchmark sets one job
  * group per request on the client thread; a streaming query's jobs
  * carry its run id as their group. Jobs are also attributed to the
  * program module of the innermost `graft.<module>` frame on the stack
  * that submitted them (Spark's long call site). Planning time is the
  * analysis, optimization and planning phases of each SQL execution's
  * QueryExecution tracker, read from its execution-end event. */
final class Meter extends SparkListener {
  final class Group {
    var jobs = 0
    var stages = 0
    var tasks = 0L
    var schedDelayMs = 0.0
    var cpuMs = 0.0
    var shuffleBytes = 0L
    var spillBytes = 0L
    var planMs = 0.0
    val jobMsByModule = mutable.Map[String, Double]().withDefaultValue(0.0)
  }

  private final case class Job(group: String, exec: Option[Long],
                               module: Option[String], t0: Long, var ms: Double)

  private val groups = mutable.Map[String, Group]()
  private val stageGroup = mutable.Map[Int, String]()
  private val jobs = mutable.Map[Int, Job]()
  private val execGroup = mutable.Map[Long, String]()
  private val execModule = mutable.Map[Long, String]()
  private val execPlanMs = mutable.Map[Long, Double]().withDefaultValue(0.0)
  private var cpuMsTotal = 0.0

  private def group(g: String): Group = groups.getOrElseUpdate(g, new Group)

  private val GraftFrame = """^graft\.([a-z]+)\.""".r.unanchored

  /** Module of the innermost `graft.<module>.` frame of a call site. */
  private def moduleOf(details: String): Option[String] =
    Option(details).iterator.flatMap(_.split("\n")).map(_.trim).collectFirst {
      case GraftFrame(m) => m
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val g = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val gr = group(g)
    gr.jobs += 1
    gr.stages += e.stageInfos.size
    e.stageInfos.foreach(s => stageGroup(s.stageId) = g)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    jobs(e.jobId) = Job(g, exec, e.stageInfos.headOption.flatMap(s => moduleOf(s.details)),
      e.time, 0.0)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => j.ms = (e.time - j.t0).toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val gr = group(stageGroup.getOrElse(e.stageId, ""))
    gr.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      val cpu = m.executorCpuTime / 1e6
      gr.cpuMs += cpu
      cpuMsTotal += cpu
      gr.schedDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        e.taskInfo.gettingResultTime)
      gr.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten
      gr.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execGroup(s.executionId) = s.jobGroupId.getOrElse("")
      moduleOf(s.details).foreach(execModule(s.executionId) = _)
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      PerfbenchSql.queryExecution(s).foreach(qe => execPlanMs(s.executionId) +=
        qe.tracker.phases.values.map(_.durationMs).sum.toDouble)
    }
    case _ =>
  }

  /** Counters of the groups matching `keep`, summed. Planning time is
    * joined in here from execution id to group, and job time goes to
    * the job's own module, else its SQL execution's (jobs a query runs
    * on Spark's helper threads carry no program frame), else "other". */
  def sum(keep: String => Boolean): Group = synchronized {
    val out = new Group
    groups.foreach { case (g, gr) if keep(g) =>
      out.jobs += gr.jobs; out.stages += gr.stages; out.tasks += gr.tasks
      out.schedDelayMs += gr.schedDelayMs; out.cpuMs += gr.cpuMs
      out.shuffleBytes += gr.shuffleBytes
      out.spillBytes += gr.spillBytes
    case _ => }
    jobs.values.filter(j => keep(j.group)).foreach { j =>
      val m = j.module.orElse(j.exec.flatMap(execModule.get)).getOrElse("other")
      out.jobMsByModule(m) += j.ms
    }
    out.planMs = execPlanMs.collect {
      case (x, ms) if keep(execGroup.getOrElse(x, "")) => ms
    }.sum
    out
  }

  def unattributedJobs: Int = synchronized(groups.get("").map(_.jobs).getOrElse(0))
  def cpuMs: Double = synchronized(cpuMsTotal)
}
