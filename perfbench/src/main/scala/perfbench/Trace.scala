package perfbench

import java.io.File
import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory spans around the benchmark's calls into each layer, and
  * the Spark jobs, stages and tasks that ran inside them.
  *
  * A span sets the SparkContext local property [[Trace.Property]] to its
  * id, so every job submitted from the span's thread carries it. A job
  * submitted from a pooled thread (Api.geojson runs its fetches as
  * Futures on the global execution context) may carry the id of an
  * earlier span instead; such a job is given to the one open span that
  * was opened with `adoptOrphans`, which is why the traced serve run
  * never has two geojson requests in flight.
  *
  * All times are wall-clock microseconds, so span intervals and job
  * intervals (which Spark stamps in wall-clock milliseconds) compare.
  */
final class Trace(sc: SparkContext) {
  import Trace._

  private val baseWallUs = System.currentTimeMillis() * 1000L
  private val baseNano = System.nanoTime()
  private def nowUs: Long = baseWallUs + (System.nanoTime() - baseNano) / 1000L

  private val nextId = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageCounters = new ConcurrentHashMap[Int, Counters]()
  private val completedStages = ConcurrentHashMap.newKeySet[Int]()
  private val drainSeen = ConcurrentHashMap.newKeySet[String]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val prop = Option(e.properties).flatMap(p => Option(p.getProperty(Property)))
      prop.filter(_.startsWith("drain-")).foreach(drainSeen.add)
      jobs.put(e.jobId, Job(prop.flatMap(_.toLongOption).getOrElse(0L), e.time * 1000L, e.time * 1000L))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(j => j.endUs = e.time * 1000L)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (e.stageInfo.failureReason.isEmpty) completedStages.add(e.stageInfo.stageId)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val c = stageCounters.computeIfAbsent(e.stageId, _ => new Counters)
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.taskMs += m.executorRunTime
          c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.diskBytesSpilled
          c.peakTaskMem = math.max(c.peakTaskMem, m.peakExecutionMemory)
          c.inputRecords += m.inputMetrics.recordsRead
          c.outputBytes += m.outputMetrics.bytesWritten
          c.outputRecords += m.outputMetrics.recordsWritten
        }
      }
    }
  }
  sc.addSparkListener(listener)

  /** Runs `body` inside a span named `name`; `req` groups the spans of
    * one request. Nested spans record their parent.
    */
  def span[T](name: String, req: Long = 0L, adoptOrphans: Boolean = false)(body: => T): T = {
    val id = nextId.incrementAndGet()
    val parents = stack.get()
    val parent = parents.headOption.getOrElse(0L)
    val prevProp = sc.getLocalProperty(Property)
    sc.setLocalProperty(Property, id.toString)
    stack.set(id :: parents)
    val start = nowUs
    try body
    finally {
      spans.add(Span(id, name, parent, req, start, nowUs, adoptOrphans))
      stack.set(parents)
      sc.setLocalProperty(Property, prevProp)
    }
  }

  /** Blocks until the listener has seen every event posted so far: the
    * bus delivers in order, so once a marker job is seen, all earlier
    * jobs and tasks are counted.
    */
  def drain(): Unit = {
    val marker = "drain-" + nextId.incrementAndGet()
    val prev = sc.getLocalProperty(Property)
    sc.setLocalProperty(Property, marker)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Property, prev)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!drainSeen.contains(marker) && System.nanoTime() < deadline) Thread.sleep(5)
    // the marker's own task-end events follow its job start
    Thread.sleep(50)
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.startUs)

  /** Spark work attributed to each span id (call [[drain]] first). */
  def bySpan(): Map[Long, Agg] = {
    val all = allSpans
    val byId = all.map(s => s.id -> s).toMap
    val adopters = all.filter(_.adoptOrphans)
    def owner(j: Job): Long = byId.get(j.span) match {
      case Some(s) if j.startUs >= s.startUs - 1000 && j.startUs <= s.endUs + 1000 => s.id
      case _ =>
        adopters.filter(s => j.startUs >= s.startUs - 1000 && j.startUs <= s.endUs + 1000) match {
          case Seq(one) => one.id
          case _ => 0L
        }
    }
    val jobOwner = jobs.asScala.map { case (id, j) => id -> owner(j) }
    val aggs = scala.collection.mutable.Map.empty[Long, Agg]
    def agg(span: Long) = aggs.getOrElseUpdate(span, new Agg)
    jobs.asScala.foreach { case (id, j) =>
      val a = agg(jobOwner(id))
      a.jobs += 1
      a.jobIntervals += ((j.startUs, math.max(j.startUs, j.endUs)))
    }
    stageJob.asScala.foreach { case (stage, job) =>
      val a = agg(jobOwner.getOrElse(job, 0L))
      if (completedStages.contains(stage)) a.stages += 1
      Option(stageCounters.get(stage)).foreach { c =>
        a.tasks += c.tasks
        a.taskMs += c.taskMs
        a.shuffleBytes += c.shuffleBytes
        a.spillBytes += c.spillBytes
        a.peakTaskMem = math.max(a.peakTaskMem, c.peakTaskMem)
        a.inputRecords += c.inputRecords
        a.outputBytes += c.outputBytes
        a.outputRecords += c.outputRecords
      }
    }
    aggs.toMap
  }

  /** Writes every span as one JSON line with its self time (duration
    * minus the part covered by child spans) and its Spark counters, and
    * a per-name summary; returns the summary file.
    */
  def write(dir: File): File = {
    dir.mkdirs()
    val all = allSpans
    val aggs = bySpan()
    val children = all.groupBy(_.parent)
    def selfUs(s: Span): Long =
      (s.endUs - s.startUs) - Stats.unionLength(children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs))))
    val lines = all.map { s =>
      val a = aggs.getOrElse(s.id, new Agg)
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"req":${s.req},""" +
        s""""start_us":${s.startUs},"end_us":${s.endUs},"self_us":${selfUs(s)},""" +
        s""""jobs":${a.jobs},"stages":${a.stages},"tasks":${a.tasks},"task_ms":${a.taskMs}}"""
    }
    Files.write(new File(dir, "spans.jsonl").toPath, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    val summary = all.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      val total = ss.map(s => s.endUs - s.startUs).sum
      s""""$name":{"count":${ss.size},"total_ms":${total / 1000.0},"self_ms":${ss.map(selfUs).sum / 1000.0}}"""
    }
    val out = new File(dir, "summary.json")
    Files.write(out.toPath, summary.mkString("{\n", ",\n", "\n}\n").getBytes("UTF-8"))
    out
  }
}

object Trace {
  val Property = "perfbench.span"

  final case class Span(id: Long, name: String, parent: Long, req: Long,
                        startUs: Long, endUs: Long, adoptOrphans: Boolean) {
    def ms: Double = (endUs - startUs) / 1000.0
  }

  final case class Job(span: Long, startUs: Long, var endUs: Long)

  final class Counters {
    var tasks = 0L
    var taskMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var peakTaskMem = 0L
    var inputRecords = 0L
    var outputBytes = 0L
    var outputRecords = 0L
  }

  final class Agg {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var taskMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var peakTaskMem = 0L
    var inputRecords = 0L
    var outputBytes = 0L
    var outputRecords = 0L
    val jobIntervals = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]

    /** Wall time of `s` not covered by any of its jobs, in microseconds. */
    def driverGapUs(s: Span): Long =
      (s.endUs - s.startUs) - Stats.unionLength(jobIntervals.toSeq
        .map { case (a, b) => (math.max(a, s.startUs), math.min(b, s.endUs)) }
        .filter { case (a, b) => b > a })
  }
}
