package perfbench

import java.io.File
import java.util.concurrent.{Callable, ExecutorService, Executors, ThreadFactory, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** What one workload run shares: the session, its own work directory,
  * the seed, the measuring window and, in a traced run, the trace.
  */
final class Run(
    val spark: SparkSession,
    val work: File,
    val seed: Long,
    val seconds: Double,
    val trace: Option[Trace],
    val nproc: Int) {

  private val attemptedN = new AtomicLong
  private val failedN = new AtomicLong
  val metrics: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty

  private val counts = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Adds to a named work count (traced runs report these per layer). */
  def add(name: String, n: Long): Unit = counts.merge(name, n, (a, b) => a + b)
  def count(name: String): Long = Option(counts.get(name)).map(_.longValue).getOrElse(0L)

  def attempted: Long = attemptedN.get
  def failed: Long = failedN.get

  def put(name: String, value: Double): Unit = metrics.synchronized {
    metrics(name) = value
  }

  /** One output check: counts as attempted, and as failed when false. */
  def check(ok: Boolean, what: => String): Boolean = {
    attemptedN.incrementAndGet()
    if (!ok) {
      failedN.incrementAndGet()
      System.err.println(s"[perfbench] check failed: $what")
    }
    ok
  }

  private val pool: ExecutorService = Executors.newCachedThreadPool(new ThreadFactory {
    private val n = new AtomicLong
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"perfbench-call-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  })

  /** Runs one timed operation on a pooled thread under a client-side
    * deadline. Returns the result and the latency in milliseconds, or
    * None when it threw or missed the deadline; either way it counts as
    * one attempted and one failed operation, and the run goes on.
    * A call that missed its deadline has its Spark jobs cancelled.
    */
  def timed[T](what: String, deadlineS: Double)(body: => T): Option[(T, Double)] = {
    attemptedN.incrementAndGet()
    val group = s"perfbench-${attemptedN.get}-${Thread.currentThread.getId}"
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    val fut = pool.submit(new Callable[T] {
      def call(): T = {
        sc.setJobGroup(group, what, interruptOnCancel = true)
        try body finally sc.clearJobGroup()
      }
    })
    try {
      val v = fut.get((deadlineS * 1e9).toLong, TimeUnit.NANOSECONDS)
      Some((v, (System.nanoTime() - t0) / 1e6))
    } catch {
      case _: TimeoutException =>
        failedN.incrementAndGet()
        sc.cancelJobGroup(group)
        fut.cancel(true)
        System.err.println(s"[perfbench] deadline of $deadlineS s missed: $what")
        None
      case e: java.util.concurrent.ExecutionException =>
        failedN.incrementAndGet()
        System.err.println(s"[perfbench] failed: $what: ${e.getCause}")
        None
    }
  }

  /** Untimed step whose failure is counted, not fatal. */
  def step[T](what: String)(body: => T): Option[T] = {
    attemptedN.incrementAndGet()
    try Some(body)
    catch { case NonFatal(e) =>
      failedN.incrementAndGet()
      System.err.println(s"[perfbench] failed: $what: $e")
      None
    }
  }

  def span[T](name: String, req: Long = 0L, adoptOrphans: Boolean = false)(body: => T): T =
    trace match {
      case Some(t) => t.span(name, req, adoptOrphans)(body)
      case None => body
    }

  private var liveHeap = 0L

  /** Heap in use after a full collection, in MB: the memory the session
    * retains at this point. The run reports the larger of the readings
    * taken after set-up and after the measurement.
    */
  def heapCheckpoint(): Unit = {
    // the second collection also frees what Spark's ContextCleaner
    // released once the first one had cleared its weak references
    System.gc()
    Thread.sleep(300)
    System.gc()
    liveHeap = math.max(liveHeap,
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    put("live_heap_mb", liveHeap / (1024.0 * 1024.0))
  }

  def shutdown(): Unit = {
    pool.shutdownNow()
    pool.awaitTermination(30, TimeUnit.SECONDS)
  }
}

object Run {
  def deleteRec(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRec)
    f.delete()
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}
