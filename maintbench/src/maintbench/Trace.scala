package maintbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed call from the client into the engine. `traced` spans ran with
 * the job listener attached; their Spark jobs carry the span id. */
final case class Span(id: Long, op: String, round: Int, startMs: Long, endMs: Long,
                      wallNs: Long, traced: Boolean) {
  def wallMs: Double = wallNs / 1e6
}

/** Spark work attributed to one span. */
final case class SpanWork(jobs: Int, jobCoveredMs: Long, tasks: Long, cpuMs: Double,
                          runMs: Long, gcMs: Long, shuffleWriteBytes: Long,
                          outputBytes: Long)

/**
 * Benchmark-owned listener. The client sets the local property [[SpanKey]]
 * before each traced call; Spark copies local properties into every job the
 * call starts, including adaptive-execution stage jobs submitted from pool
 * threads, so each job lands in its op's span. Events are kept in memory and
 * read once the run ends.
 */
final class JobListener extends SparkListener {
  private final class Job(val span: Long, val start: Long, val execId: Long,
                          val stageName: String) {
    @volatile var end: Long = -1L
  }
  private final class Acc {
    var tasks = 0L; var cpuNs = 0L; var runMs = 0L; var gcMs = 0L
    var shuffleW = 0L; var out = 0L
  }

  private val jobs = new ConcurrentHashMap[Integer, Job]()
  private val stageJob = new ConcurrentHashMap[Integer, Integer]()
  private val acc = new ConcurrentHashMap[Integer, Acc]()
  /** SQL execution id -> (call-site description, root execution id). */
  private val execs = new ConcurrentHashMap[java.lang.Long, (String, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String): Option[String] =
      Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val span = prop(JobListener.SpanKey).map(_.toLong).getOrElse(-1L)
    val exec = prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L)
    // the result stage carries the job's call site as its name
    val name = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    jobs.put(e.jobId, new Job(span, e.time, exec, name))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val job = stageJob.get(e.stageId)
    val m = e.taskMetrics
    if (job != null && m != null) {
      val a = acc.computeIfAbsent(job, _ => new Acc)
      a.synchronized {
        a.tasks += 1
        a.cpuNs += m.executorCpuTime
        a.runMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.shuffleW += m.shuffleWriteMetrics.bytesWritten
        a.out += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execs.put(s.executionId, (s.description, s.rootExecutionId.getOrElse(s.executionId)))
    case _ =>
  }

  /** Spark work of `span`: its jobs, the part of its interval they cover,
   * and the task metrics of their stages. */
  def work(span: Span): SpanWork = {
    val mine = jobs.asScala.toSeq.filter(_._2.span == span.id)
    val intervals = mine.map { case (_, j) =>
      (math.max(j.start, span.startMs), math.min(if (j.end < 0) span.endMs else j.end, span.endMs))
    }.filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    intervals.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    val accs = mine.flatMap { case (id, _) => Option(acc.get(id)) }
    SpanWork(mine.size, covered, accs.map(_.tasks).sum, accs.map(_.cpuNs).sum / 1e6,
      accs.map(_.runMs).sum, accs.map(_.gcMs).sum, accs.map(_.shuffleW).sum,
      accs.map(_.out).sum)
  }

  /** Job count and summed job time per source file of the job's call site,
   * over the jobs of `spans`. A job started from a pool thread (adaptive
   * stage jobs, async subqueries) names a JDK frame as its call site; it is
   * charged to the call site of its SQL execution, or of that execution's
   * root. */
  def byCallSiteFile(spans: Iterable[Span]): Map[String, (Int, Long)] = {
    val ids = spans.map(_.id).toSet
    val out = mutable.Map[String, (Int, Long)]()
    jobs.asScala.values.filter(j => ids(j.span)).foreach { j =>
      val exec = Option(execs.get(j.execId))
      val root = exec.flatMap(x => Option(execs.get(x._2)))
      val file = (Iterator(j.stageName) ++ exec.map(_._1) ++ root.map(_._1))
        .flatMap(JobListener.sourceFile).find(!_.endsWith(".java")).getOrElse("other")
      val (n, ms) = out.getOrElse(file, (0, 0L))
      out(file) = (n + 1, ms + math.max(0L, j.end - j.start))
    }
    out.toMap
  }
}

object JobListener {
  val SpanKey = "maintbench.span"
  private val CallSite = """ at ([A-Za-z0-9_$.\-]+\.(?:scala|java)):\d+""".r

  def sourceFile(callSite: String): Option[String] =
    Option(callSite).flatMap(s => CallSite.findFirstMatchIn(s)).map(_.group(1))
}
