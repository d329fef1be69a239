package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed call into graft, recorded from the benchmark's side. Times
  * are epoch nanoseconds so they line up with Spark's listener events.
  */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      start: Long, end: Long) {
  def dur: Long = end - start
}

/** Spans and counts, kept in memory and written once at the end. With
  * tracing off every method is a pass-through and nothing is recorded.
  */
final class Tracer(val enabled: Boolean) {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def now(): Long = baseMs * 1000000L + (System.nanoTime() - baseNs)

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val counts = new ConcurrentLinkedQueue[(String, Int, Double)]()
  private val ids = new AtomicInteger(0)
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  /** The operation (cycle, query, pass, batch) spans are tagged with. */
  @volatile var op: Int = 0

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val s = now()
      try f
      finally {
        stack.set(stack.get.tail)
        spans.add(Span(id, name, parent, op, s, now()))
      }
    }

  def count(name: String, v: Double): Unit =
    if (enabled) counts.add((name, op, v))

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)
  def named(n: String): Seq[Span] = all.filter(_.name == n)
  def counted(n: String): Seq[Double] =
    counts.asScala.filter(_._1 == n).map(_._3).toSeq

  def write(path: String, jobs: Seq[JobRec]): Unit = {
    val sb = new StringBuilder("{\"spans\":[")
    sb.append(all.map(s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""op":${s.op},"start":${s.start},"end":${s.end}}""").mkString(","))
    sb.append("],\"counts\":[")
    sb.append(counts.asScala.map { case (n, o, v) =>
      s"""{"name":"$n","op":$o,"value":$v}""" }.mkString(","))
    sb.append("],\"jobs\":[")
    sb.append(jobs.map(j =>
      s"""{"id":${j.id},"module":"${j.module}","method":"${j.method}",""" +
        s""""site":"${j.site.replace("\\", "/").replace("\"", "'")}",""" +
        s""""start":${j.start},"end":${j.end},"stages":${j.stagesRun},""" +
        s""""tasks":${j.tasks},"task_ms":${j.taskMs}}""").mkString(","))
    sb.append("]}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}

/** One Spark job with its call site's graft module and the task totals
  * of its stages. Mutable totals are only written by the listener thread.
  */
final class JobRec(val id: Int, val start: Long, val module: String,
                   val method: String, val site: String) {
  @volatile var end: Long = 0L
  @volatile var stagesRun: Int = 0
  @volatile var tasks: Int = 0
  @volatile var taskMs: Long = 0L
  @volatile var taskMaxMs: Long = 0L
  @volatile var shuffleRead: Long = 0L
  @volatile var shuffleWrite: Long = 0L
  @volatile var spill: Long = 0L
  @volatile var inputBytes: Long = 0L
  @volatile var inputRecords: Long = 0L
  def interval: (Long, Long) = (start, end)
}

/** Attributes every Spark job, stage and task to the graft module of the
  * first `graft.*` frame in the job's call site (the innermost graft code
  * that started it). Jobs started by the benchmark itself on a lazy graft
  * DataFrame carry no graft frame and are attributed to "bench"; spans
  * place them in a layer by time.
  */
final class JobListener extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val execSite = new ConcurrentHashMap[Long, String]()

  // AQE submits a query's jobs from its own threads, whose stacks hold no
  // user frames; the SQL execution that owns them keeps the caller's site
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      execSite.put(s.executionId, s.details)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val stageSite = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
    val execId = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    val details =
      if (JobListener.callSite(stageSite)._1 != "bench") stageSite
      else execId.flatMap(id => Option(execSite.get(id))).getOrElse(stageSite)
    val (module, method) = JobListener.callSite(details)
    jobs.put(e.jobId, new JobRec(e.jobId, e.time * 1000000L, module, method,
      details.linesIterator.take(8).mkString(" | ")))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time * 1000000L)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    job(e.stageInfo.stageId).foreach(j => j.stagesRun += 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    job(e.stageId).foreach { j =>
      val ms = Option(e.taskInfo).map(_.duration).getOrElse(0L)
      j.tasks += 1
      j.taskMs += ms
      j.taskMaxMs = math.max(j.taskMaxMs, ms)
      Option(e.taskMetrics).foreach { m =>
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.inputBytes += m.inputMetrics.bytesRead
        j.inputRecords += m.inputMetrics.recordsRead
      }
    }
  private def job(stage: Int): Option[JobRec] =
    Option(stageJob.get(stage)).flatMap(id => Option(jobs.get(id)))

  /** Finished jobs, after the listener bus has caught up. */
  def finished(): Seq[JobRec] = {
    var last = -1
    var stable = 0
    while (stable < 3) { // the bus is asynchronous: wait until it is quiet
      Thread.sleep(100)
      val n = jobs.values.asScala.count(_.end > 0)
      if (n == last) stable += 1 else { stable = 0; last = n }
    }
    jobs.values.asScala.filter(_.end > 0).toSeq.sortBy(_.start)
  }
}

object JobListener {
  private val Frame = """^\s*(?:at\s+)?(graft\.[\w.$]+?)\.([\w$]+)\(.*""".r

  /** (module, method) of the first graft frame of a long call site, e.g.
    * `graft.sources.DeltaWrite$.merge(DeltaWrite.scala:220)` →
    * (`graft.sources.DeltaWrite`, `merge`).
    */
  def callSite(details: String): (String, String) =
    details.linesIterator.collectFirst { case Frame(cls, m) =>
      val module = cls.takeWhile(_ != '$')
      val method = m.split('$').filter(_.nonEmpty)
        .find(p => p != "anonfun" && !p.forall(_.isDigit)).getOrElse(m)
      (module, method)
    }.getOrElse(("bench", ""))
}

/** Per-layer numbers computed from spans and jobs after a traced run. */
object Layers {
  def jobsIn(jobs: Seq[JobRec], s: Span): Seq[JobRec] =
    jobs.filter(j => j.start >= s.start && j.end <= s.end)

  /** Span duration minus the time its Spark jobs cover. */
  def driverNs(jobs: Seq[JobRec], s: Span): Long =
    Stats.selfTime(s.start, s.end, jobsIn(jobs, s).map(_.interval))

  private def sec(ns: Double): Double = ns / 1e9
  def medianS(spans: Seq[Span]): Double =
    if (spans.isEmpty) 0.0 else sec(Stats.median(spans.map(_.dur.toDouble)))

  /** The `spark.*` set over the workload's operation spans, per unit of
    * work (`units`: cycles, queries, passes or batches).
    */
  def spark(ops: Seq[Span], jobs: Seq[JobRec], cores: Int, gcNs: Long,
            units: Int): Map[String, Double] = {
    val n = math.max(1, units).toDouble
    val js = ops.flatMap(jobsIn(jobs, _)).distinct
    val wall = ops.map(_.dur).sum.toDouble
    Map(
      "spark.jobs" -> js.size / n,
      "spark.stages" -> js.map(_.stagesRun).sum / n,
      "spark.tasks" -> js.map(_.tasks).sum / n,
      "spark.task_s" -> js.map(_.taskMs).sum / 1e3 / n,
      "spark.task_max_s" -> (if (js.isEmpty) 0.0 else js.map(_.taskMaxMs).max / 1e3),
      "spark.core_util" -> (if (wall == 0) 0.0 else js.map(_.taskMs).sum * 1e6 / (wall * cores)),
      "spark.shuffle_read_bytes" -> js.map(_.shuffleRead).sum / n,
      "spark.shuffle_write_bytes" -> js.map(_.shuffleWrite).sum / n,
      "spark.spill_bytes" -> js.map(_.spill).sum / n,
      "spark.input_bytes" -> js.map(_.inputBytes).sum / n,
      "spark.gc_s" -> sec(gcNs.toDouble) / n,
      "spark.driver_s" -> sec(ops.map(driverNs(jobs, _).toDouble).sum) / n)
  }

  /** The jobs inside the spans that a matching module started. */
  def moduleJobs(ops: Seq[Span], jobs: Seq[JobRec], module: String => Boolean): Seq[JobRec] =
    ops.flatMap(jobsIn(jobs, _)).distinct.filter(j => module(j.module))
}
