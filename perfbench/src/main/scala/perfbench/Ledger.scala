package perfbench

import org.apache.spark.scheduler._

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One traced interval. Times are microseconds since the Unix epoch, so
  * spans from the benchmark, from Spark jobs and from the engine's run log
  * share one clock.
  */
final case class Span(id: Long, parent: Long, name: String, runId: String,
                      startUs: Long, endUs: Long,
                      attrs: Map[String, Any] = Map.empty) {
  def seconds: Double = (endUs - startUs) / 1e6
}

/** In-memory span buffer, written out once when the run ends. The
  * benchmark's timed loop runs on a single thread, so the open-span stack
  * is plain driver state; spans for Spark jobs and for files are added
  * after the fact with [[Spans.add]] and parented by time containment.
  */
final class Spans {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val open = mutable.Stack[(Long, String, String, Long)]()
  @volatile var enabled = false

  def nowUs: Long = System.currentTimeMillis() * 1000 +
    (System.nanoTime() / 1000) % 1000

  def nextId(): Long = ids.incrementAndGet()

  /** Run `f` inside a span named `name` that belongs to run `runId` (one
    * run id per file or query). A no-op wrapper while tracing is off.
    */
  def span[T](name: String, runId: String = "")(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId()
      val parent = open.headOption.map(_._1).getOrElse(0L)
      val rid = if (runId.nonEmpty) runId else open.headOption.map(_._3).getOrElse("")
      open.push((id, name, rid, nowUs))
      try f
      finally {
        val (_, _, _, t0) = open.pop()
        done.add(Span(id, parent, name, rid, t0, nowUs))
      }
    }

  def add(s: Span): Unit = if (enabled) done.add(s)

  def all: Seq[Span] = done.asScala.toSeq.sortBy(s => (s.startUs, s.id))

  /** The innermost benchmark span that contains `tUs`, for parenting
    * spans recorded outside the driver thread.
    */
  def enclosing(tUs: Long, among: Seq[Span]): Option[Span] =
    among.filter(s => s.startUs <= tUs && tUs <= s.endUs)
      .sortBy(s => s.endUs - s.startUs).headOption

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.foreach { s =>
      w.write(Json.write(Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "run_id" -> s.runId, "start_us" -> s.startUs,
        "end_us" -> s.endUs) ++ s.attrs))
      w.newLine()
    } finally w.close()
  }
}

/** Per-job record kept by [[JobLedger]]. `label` is the layer label taken
  * from the job description the engine sets (`pipeline:<stage> <file>`),
  * or the benchmark's own phase when the engine set none.
  */
final class JobRec(val id: Int, val desc: String, val phase: String,
                   val startUs: Long) {
  @volatile var endUs: Long = 0L
  var tasks = 0L
  var taskMs = 0L
  var runMs = 0L
  var gcMs = 0L
  var maxTaskMs = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var outputBytes = 0L
  var outputRecords = 0L
  var stages = 0
  var singleTaskStages = 0
  var stageMaxTaskMs = 0L

  /** `pipeline:validate f.csv` -> `validate`; unlabelled -> the phase. */
  def label: String =
    if (desc != null && desc.startsWith("pipeline:"))
      desc.stripPrefix("pipeline:").takeWhile(_ != ' ')
    else phase

  /** The file or table the engine named in the job description. */
  def subject: String =
    if (desc != null && desc.startsWith("pipeline:") && desc.contains(' '))
      desc.substring(desc.indexOf(' ') + 1)
    else ""

  def seconds: Double = math.max(0L, endUs - startUs) / 1e6
}

/** The benchmark's SparkListener: one [[JobRec]] per job, with task metrics
  * folded in by stage. The benchmark phase (`construct`, `exec`,
  * `target-read`, ...) rides on a local property of the driver thread.
  */
final class JobLedger extends SparkListener {
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageTasks = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val rec = new JobRec(e.jobId,
      p.map(_.getProperty("spark.job.description")).orNull,
      p.flatMap(x => Option(x.getProperty(JobLedger.PhaseKey))).getOrElse("other"),
      e.time * 1000)
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, rec))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endUs = e.time * 1000)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val rec = stageJob.get(e.stageId)
    if (rec == null || e.taskInfo == null) return
    val dur = e.taskInfo.duration
    rec.synchronized {
      rec.tasks += 1
      rec.taskMs += dur
      rec.maxTaskMs = math.max(rec.maxTaskMs, dur)
      val m = e.taskMetrics
      if (m != null) {
        rec.runMs += m.executorRunTime
        rec.gcMs += m.jvmGCTime
        rec.inputBytes += m.inputMetrics.bytesRead
        rec.inputRecords += m.inputMetrics.recordsRead
        rec.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        rec.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        rec.spill += m.diskBytesSpilled
        rec.outputBytes += m.outputMetrics.bytesWritten
        rec.outputRecords += m.outputMetrics.recordsWritten
      }
    }
    stageTasks.merge(e.stageId, (1L, dur, dur),
      (a, b) => (a._1 + b._1, a._2 + b._2, math.max(a._3, b._3)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val rec = stageJob.get(e.stageInfo.stageId)
    val t = stageTasks.remove(e.stageInfo.stageId)
    if (rec == null || t == null) return
    rec.synchronized {
      rec.stages += 1
      if (t._1 == 1) rec.singleTaskStages += 1
      rec.stageMaxTaskMs += t._3
    }
  }

  def all: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.id)
}

/** Start times (epoch microseconds) of every Spark job and task: the
  * untraced run's only listener, cheap enough to leave on while timing.
  */
final class WorkCounter extends SparkListener {
  val jobStarts = new ConcurrentLinkedQueue[java.lang.Long]()
  val taskStarts = new ConcurrentLinkedQueue[java.lang.Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobStarts.add(e.time * 1000); () }
  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    taskStarts.add(e.taskInfo.launchTime * 1000); ()
  }

  /** Wait until no event has arrived for half a second (events reach
    * listeners asynchronously), at most ten seconds.
    */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    var last = -1
    while (jobStarts.size + taskStarts.size != last && System.nanoTime() < deadline) {
      last = jobStarts.size + taskStarts.size
      Thread.sleep(500)
    }
  }

  /** Events in [fromUs, toUs]; event times have millisecond resolution. */
  def count(q: ConcurrentLinkedQueue[java.lang.Long], fromUs: Long, toUs: Long): Long =
    q.asScala.count(t => t >= fromUs - 1000 && t <= toUs).toLong
}

object JobLedger {
  val PhaseKey = "perfbench.phase"

  /** Run `f` with the benchmark phase set on this thread's jobs (and on
    * pool threads the engine creates while `f` runs).
    */
  def phase[T](spark: org.apache.spark.sql.SparkSession, name: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(PhaseKey)
    sc.setLocalProperty(PhaseKey, name)
    try f finally sc.setLocalProperty(PhaseKey, prev)
  }
}

/** Length of the union of intervals, in seconds. */
object Intervals {
  def covered(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1e6
  }
}
