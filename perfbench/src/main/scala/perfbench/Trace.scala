package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval. `op` is the operation id the span belongs to
  * (0 for the run and pass spans); `parent` is the id of the enclosing
  * span, 0 at the root.
  */
final case class Span(id: Long, parent: Long, name: String, op: Long,
                      startMs: Long, endMs: Long)

/** Spark-side counters of one job group (one phase of one operation). */
final class GroupCounters {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val schedDelayMs = new AtomicLong
  val shuffleWrite = new AtomicLong
  val spill = new AtomicLong
  val input = new AtomicLong
  val singleTaskStages = new AtomicLong
}

/** Catalyst phase times of one executed query, with the wall-clock start
  * used to attribute it to the operation whose window contains it.
  */
final case class Phases(startMs: Long, analysisMs: Long,
                        optimizationMs: Long, planningMs: Long)

/** In-memory tracer. Spans are recorded by the harness around its calls
  * into the library; Spark jobs, stages and tasks arrive through a
  * [[SparkListener]] and are attributed by job group (the harness sets
  * the group `op<id>:<phase>` before every construct and execute call);
  * Catalyst phases arrive through a [[QueryExecutionListener]] and are
  * attributed by time window. Nothing is written until [[dump]].
  */
final class Tracer(spark: SparkSession) {
  private val nextId = new AtomicLong(1)
  val spans = new ConcurrentLinkedQueue[Span]()
  val groups = new ConcurrentHashMap[String, GroupCounters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  val jobSpans = new ConcurrentLinkedQueue[(String, Int, Long, Long)]()
  val phases = new ConcurrentLinkedQueue[Phases]()
  private val started = new AtomicLong
  private val ended = new AtomicLong

  def newId(): Long = nextId.getAndIncrement()

  def record(parent: Long, name: String, op: Long, startMs: Long,
             endMs: Long): Long = {
    val id = newId()
    spans.add(Span(id, parent, name, op, startMs, endMs))
    id
  }

  def counters(group: String): GroupCounters =
    groups.computeIfAbsent(group, _ => new GroupCounters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      started.incrementAndGet()
      val g = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("untracked")
      jobGroup.put(e.jobId, g)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(s => stageGroup.putIfAbsent(s, g))
      counters(g).jobs.incrementAndGet()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val g = jobGroup.getOrDefault(e.jobId, "untracked")
      jobSpans.add((g, e.jobId, jobStart.getOrDefault(e.jobId, e.time),
        e.time))
      ended.incrementAndGet()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val c = counters(stageGroup.getOrDefault(si.stageId, "untracked"))
      if (si.numTasks == 1) c.singleTaskStages.incrementAndGet()
      val m = si.taskMetrics
      if (m != null) {
        c.cpuNs.addAndGet(m.executorCpuTime)
        c.gcMs.addAndGet(m.jvmGCTime)
        c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.spill.addAndGet(m.diskBytesSpilled)
        c.input.addAndGet(m.inputMetrics.bytesRead)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = counters(stageGroup.getOrDefault(e.stageId, "untracked"))
      c.tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null && e.taskInfo != null) {
        val busy = m.executorRunTime + m.executorDeserializeTime +
          m.resultSerializationTime
        c.schedDelayMs.addAndGet(math.max(0L, e.taskInfo.duration - busy))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = note(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = note(qe)
    private def note(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
      val start =
        if (ph.isEmpty) System.currentTimeMillis()
        else ph.values.map(_.startTimeMs).min
      phases.add(Phases(start, ms("analysis"), ms("optimization"),
        ms("planning")))
    }
  }

  private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    attached = false
  }

  /** Wait until every job seen has also ended and the event stream has
    * been quiet for a moment, so the counters are complete.
    */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    var quiet = 0
    var last = -1L
    while (quiet < 3 && System.currentTimeMillis() < deadline) {
      Thread.sleep(50)
      val seen = started.get() + ended.get() + phases.size
      if (started.get() == ended.get() && seen == last) quiet += 1
      else quiet = 0
      last = seen
    }
  }

  /** Write every span, job span and Catalyst phase record as JSON lines. */
  def dump(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.asScala.foreach { s =>
      sb ++= s"""{"kind":"span","id":${s.id},"parent":${s.parent},""" +
        s""""name":${Json.str(s.name)},"op":${s.op},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs}}""" + "\n"
    }
    jobSpans.asScala.foreach { case (g, id, a, b) =>
      sb ++= s"""{"kind":"job","group":${Json.str(g)},"job":$id,""" +
        s""""start_ms":$a,"end_ms":$b}""" + "\n"
    }
    phases.asScala.foreach { p =>
      sb ++= s"""{"kind":"catalyst","start_ms":${p.startMs},""" +
        s""""analysis_ms":${p.analysisMs},""" +
        s""""optimization_ms":${p.optimizationMs},""" +
        s""""planning_ms":${p.planningMs}}""" + "\n"
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}
