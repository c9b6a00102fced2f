package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicLongArray}

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine-wide counters fed by a SparkListener and a
  * QueryExecutionListener. Read at span boundaries, their differences
  * say how much work a span caused. */
final class Counters {
  import Counters._
  private val c = new AtomicLongArray(Names.length)
  def add(i: Int, v: Long): Unit = c.addAndGet(i, v)
  def snapshot(): Array[Long] = Array.tabulate(Names.length)(c.get)

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add(Jobs, 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add(Stages, 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add(Tasks, 1)
      val m = e.taskMetrics
      if (m != null) {
        add(TaskMs, m.executorRunTime)
        add(GcMs, m.jvmGCTime)
        add(ShuffleRead, m.shuffleReadMetrics.totalBytesRead)
        add(ShuffleWrite, m.shuffleWriteMetrics.bytesWritten)
        add(Spill, m.memoryBytesSpilled + m.diskBytesSpilled)
        add(InRows, m.inputMetrics.recordsRead)
        add(InBytes, m.inputMetrics.bytesRead)
        add(OutRows, m.outputMetrics.recordsWritten)
        add(OutBytes, m.outputMetrics.bytesWritten)
      }
    }
  }

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    private def planned(qe: QueryExecution): Unit = {
      add(Queries, 1)
      add(PlanningMs, qe.tracker.phases.values.map(_.durationMs).sum)
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      planned(qe)
    override def onFailure(f: String, qe: QueryExecution,
                           e: Exception): Unit = planned(qe)
  }
}

object Counters {
  val Names: Vector[String] = Vector("jobs", "stages", "tasks", "task_ms",
    "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "input_rows", "input_bytes", "output_rows", "output_bytes",
    "queries", "planning_ms")
  val Jobs = 0; val Stages = 1; val Tasks = 2; val TaskMs = 3; val GcMs = 4
  val ShuffleRead = 5; val ShuffleWrite = 6; val Spill = 7; val InRows = 8
  val InBytes = 9; val OutRows = 10; val OutBytes = 11; val Queries = 12
  val PlanningMs = 13
}

/** One timed call into a layer: name, request id, parent span, wall
  * interval and the counter deltas it caused. */
final case class Span(id: Long, parent: Long, name: String, req: String,
                      startNs: Long, endNs: Long, counts: Array[Long]) {
  def ms: Double = (endNs - startNs) / 1e6
  def count(i: Int): Long = counts(i)
}

/** Spans recorded by the benchmark's own code around each call it makes
  * into a layer's public function. Disabled, [[span]] only runs its body.
  * Enabled, the listeners are registered, spans are kept in memory, and
  * each span drains the listener bus at both ends so its deltas hold
  * every event it caused; spans are only taken where nothing else runs. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val counters = new Counters
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private val epoch = System.nanoTime()

  if (enabled) {
    spark.sparkContext.addSparkListener(counters.listener)
    spark.listenerManager.register(counters.qeListener)
  }

  private def drain(): Unit =
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)

  def span[A](name: String, req: String = "")(body: => A): A =
    if (!enabled) body
    else {
      drain()
      val before = counters.snapshot()
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        drain()
        val delta = counters.snapshot().zip(before).map { case (a, b) =>
          a - b }
        spans.add(Span(id, parent, name, req, t0, t1, delta))
      }
    }

  def all: Seq[Span] = {
    val b = Seq.newBuilder[Span]
    spans.forEach(s => b += s)
    b.result()
  }

  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** Spans as JSON lines (times in ms since the tracer started). */
  def write(path: String): Unit = {
    val lines = all.sortBy(_.id).map { s =>
      val counts = Counters.Names.zip(s.counts)
        .map { case (n, v) => s""""$n":$v""" }.mkString("{", ",", "}")
      f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""req":${Json.str(s.req)},""" +
        f""""start_ms":${(s.startNs - epoch) / 1e6}%.3f,""" +
        f""""end_ms":${(s.endNs - epoch) / 1e6}%.3f,"counts":$counts}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Samples the staged-frame registry and the block manager's cached
  * bytes while the traced run serves requests. */
final class CacheSampler(spark: SparkSession) extends AutoCloseable {
  @volatile private var running = true
  @volatile var liveMax = 0
  @volatile var bytesMax = 0L
  private val thread = new Thread(() => {
    while (running) {
      liveMax = math.max(liveMax, graft.StageCache.liveCount)
      bytesMax = math.max(bytesMax, cachedBytes(spark))
      Thread.sleep(50)
    }
  }, "perfbench-cache-sampler")
  thread.setDaemon(true)
  thread.start()
  def close(): Unit = { running = false; thread.join() }

  private def cachedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
}
