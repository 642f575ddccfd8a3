package graft.cdcbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Process-wide samplers: CPU, GC and peak resident memory. */
object Proc {
  private lazy val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNanos(): Long = os.getProcessCpuTime

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  /** `VmHWM` of this process in MB (Linux `/proc/self/status`). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
    finally src.close()
  }

  /** JVM start time (epoch ms), so set-up can be timed from process start. */
  def startMillis(): Long = ManagementFactory.getRuntimeMXBean.getStartTime
}

/** A timed region of the benchmark: a call into one layer, a pass, a poll
  * or a query. Kept in memory and written out as JSON at the end.
  */
final case class Span(
    id: Int, name: String, parent: Int, run: String, startNs: Long, var endNs: Long = -1L) {
  def group: String = s"span-$id"
  def seconds: Double = Stats.s(endNs - startNs)
}

/** In-memory span recorder. Spark jobs started inside a span carry the
  * span's id as their job group, which is how the listener attributes
  * them. A few spans per operation; cheap enough for every run.
  */
object Tracer {
  /** The local property Spark keeps a thread's job group in. */
  val JobGroupKey = "spark.jobGroup.id"
}

final class Tracer(val run: String) {
  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]

  def byId(id: Int): Option[Span] = synchronized(spans.lift(id))

  def span[T](name: String, sc: SparkContext)(f: Span => T): T = {
    val sp = synchronized {
      val s = Span(spans.size, name, stack.headOption.getOrElse(-1), run, System.nanoTime())
      spans += s
      stack = s.id :: stack
      s
    }
    val prevGroup = Option(sc.getLocalProperty(Tracer.JobGroupKey))
    sc.setJobGroup(sp.group, name, interruptOnCancel = false)
    try f(sp)
    finally {
      sp.endNs = System.nanoTime()
      synchronized { stack = stack.tail }
      prevGroup match {
        case Some(g) => sc.setJobGroup(g, g, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Records a span whose bounds were observed elsewhere (a poll). */
  def record(name: String, parent: Int, startNs: Long, endNs: Long): Span = synchronized {
    val s = Span(spans.size, name, parent, run, startNs, endNs)
    spans += s
    s
  }

  def toJson: String = synchronized {
    spans.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"run":"${s.run}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

/** Maps a Spark job to the layer that caused it. A job run inside a
  * benchmark span belongs to that span's layer; a job started inside a
  * whole-program call (`runOnce`, a catalog query) is placed by the call
  * site Spark recorded for its stages and the RDD scopes it ran.
  */
object Attribution {
  /** (marker in a stage's call-site stack, layer), first match wins. */
  val CallSites: Seq[(String, String)] = Seq(
    "AvroCdcReader$.schemaFingerprints" -> "fingerprint",
    "AvroCdcReader$.probe" -> "probe",
    "AvroToParquetJob$.write" -> "write",
  )

  /** `spanLayer`: the layer of the benchmark span the job ran in, if that
    * span is a single-layer call; `details`: the stages' call-site stacks;
    * `scopes`: the names of the RDD operation scopes the stages ran.
    */
  def layer(spanLayer: Option[String], details: Seq[String], scopes: Seq[String]): String =
    spanLayer.getOrElse {
      CallSites.collectFirst { case (marker, l) if details.exists(_.contains(marker)) => l }
        .orElse(if (scopes.exists(_.startsWith("BatchScan"))) Some("scan") else None)
        .getOrElse("unattributed")
    }

  /** The layer a benchmark span name stands for (`layer.convert` →
    * `convert`; the benchmark's own read-back checks → `check`), None for
    * whole-program spans.
    */
  def spanLayer(spanName: String): Option[String] =
    if (spanName.startsWith("layer.")) Some(spanName.stripPrefix("layer.").takeWhile(_ != '.'))
    else if (spanName.startsWith("check.")) Some("check")
    else None
}

final case class TaskRec(
    stageId: Int, runMs: Long, cpuNs: Long, schedDelayMs: Long, recordsRead: Long)

final case class JobRec(
    jobId: Int, group: Option[String], startMs: Long, var endMs: Long, stageIds: Seq[Int],
    details: Seq[String], scopes: Seq[String])

/** Per job group totals, kept in every run (the catalog check and the
  * scan row counts need them).
  */
final class GroupAgg {
  val jobsEnded = new AtomicLong()
  val recordsRead = new AtomicLong()
  val bytesRead = new AtomicLong()
}

/** Outside-in SparkListener. Always: job counters and per-job-group input
  * totals. When `recording()` holds (traced runs): every job and task.
  */
final class BenchListener(recording: () => Boolean) extends SparkListener {
  val jobsStarted = new AtomicLong()
  val jobsEnded = new AtomicLong()
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val jobById = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val groupOfJob = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val groupOfStage = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val groups = new java.util.concurrent.ConcurrentHashMap[String, GroupAgg]()

  def group(name: String): GroupAgg = groups.computeIfAbsent(name, _ => new GroupAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.JobGroupKey)))
    group.foreach { g =>
      groupOfJob.put(e.jobId, g)
      e.stageIds.foreach(groupOfStage.put(_, g))
    }
    if (recording()) {
      val rec = JobRec(e.jobId, group, e.time, -1L, e.stageInfos.map(_.stageId),
        e.stageInfos.map(_.details), e.stageInfos.flatMap(_.rddInfos.flatMap(_.scope.map(_.name))))
      jobById.put(e.jobId, rec)
      jobs.add(rec)
    }
    jobsStarted.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobById.get(e.jobId)).foreach(_.endMs = e.time)
    Option(groupOfJob.get(e.jobId)).foreach(g => group(g).jobsEnded.incrementAndGet())
    jobsEnded.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    if (e.taskInfo == null || e.taskMetrics == null) return
    val m = e.taskMetrics
    Option(groupOfStage.get(e.stageId)).foreach { g =>
      val agg = group(g)
      agg.recordsRead.addAndGet(m.inputMetrics.recordsRead)
      agg.bytesRead.addAndGet(m.inputMetrics.bytesRead)
    }
    if (recording()) {
      val i = e.taskInfo
      val sched = i.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - i.gettingResultTime
      tasks.add(TaskRec(e.stageId, m.executorRunTime, m.executorCpuTime, math.max(0L, sched),
        m.inputMetrics.recordsRead))
    }
  }

  /** Waits until the listener has seen at least `minJobs` jobs of `group`
    * end and every started job end: events arrive in order, so every task
    * of those jobs has been counted by then.
    */
  def awaitGroup(group: String, minJobs: Long = 1, timeoutMs: Long = 60000): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < deadline) {
      if (this.group(group).jobsEnded.get() >= minJobs && jobsStarted.get() == jobsEnded.get())
        return true
      Thread.sleep(2)
    }
    false
  }

  def awaitIdle(): Boolean = awaitGroup("", minJobs = 0)
}
