package perfbench

import java.io.{InputStream, OutputStream}
import java.net.{InetAddress, ServerSocket, Socket}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `parent` is -1 for an operation's root span. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Spans recorded around the benchmark's calls into each layer, kept in
  * memory and written out at the end. Disabled, it only runs the body:
  * the untraced run pays nothing for the instrumentation. */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var op = -1

  def beginOp(id: Int): Unit = op = id

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += null // reserve the id; filled in when the span closes
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans(id) = Span(id, parent, op, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Adds spans that were timed elsewhere (Spark jobs from the listener).
    * Each becomes a child of the innermost recorded span containing its
    * start. */
  def addExternal(name: String, intervals: Seq[(Long, Long)]): Unit = {
    val own = spans.toVector
    intervals.foreach { case (s, e) =>
      val host = own.filter(sp => sp.startNs <= s && s < sp.endNs)
        .sortBy(_.durNs).headOption
      spans += Span(spans.size, host.map(_.id).getOrElse(-1),
        host.map(_.op).getOrElse(-1), name, s, math.max(s, e))
    }
  }

  /** Durations in seconds of the spans called `name` in timed operations. */
  def durations(name: String): Seq[Double] =
    spans.filter(s => s.name == name && s.op >= 0).map(_.durNs / 1e9).toSeq

  /** Self time: a span's duration minus the part of it its children
    * cover (children clipped to the parent, overlaps counted once). */
  def selfNs: Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { sp =>
      val iv = kids.getOrElse(sp.id, Nil)
        .map(c => (math.max(c.startNs, sp.startNs), math.min(c.endNs, sp.endNs)))
        .filter { case (s, e) => e > s }.sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      iv.foreach { case (s, e) =>
        if (s > curE) {
          if (curE > curS) covered += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
      if (curE > curS) covered += curE - curS
      sp.id -> (sp.durNs - covered)
    }.toMap
  }

  def writeJson(path: java.nio.file.Path): Unit = {
    val self = selfNs
    val rows = spans.map(sp => Map(
      "id" -> sp.id, "parent" -> sp.parent, "op" -> sp.op, "name" -> sp.name,
      "start_ns" -> sp.startNs, "end_ns" -> sp.endNs, "self_ns" -> self(sp.id)))
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, Stats.json(Map("spans" -> rows)))
  }

  /** Total and self seconds per span name, largest self time first. */
  def summary: Seq[(String, Int, Double, Double)] = {
    val self = selfNs
    spans.groupBy(_.name).toSeq.map { case (n, ss) =>
      (n, ss.size, ss.map(_.durNs).sum / 1e9, ss.map(s => self(s.id)).sum / 1e9)
    }.sortBy(-_._4)
  }
}

/** Cumulative Spark counters; per-operation numbers are differences of
  * two snapshots taken with the listener bus drained. */
final case class SparkCounters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0, planMs: Long = 0,
    runMs: Long = 0, cpuMs: Double = 0, shuffleWrite: Long = 0, spill: Long = 0,
    gcMs: Long = 0, recordsRead: Long = 0, bytesWritten: Long = 0) {
  def -(o: SparkCounters): SparkCounters = SparkCounters(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks, planMs - o.planMs,
    runMs - o.runMs, cpuMs - o.cpuMs, shuffleWrite - o.shuffleWrite,
    spill - o.spill, gcMs - o.gcMs, recordsRead - o.recordsRead,
    bytesWritten - o.bytesWritten)
}

/** The benchmark's own Spark listener and query-execution listener. */
final class BenchListener extends SparkListener with QueryExecutionListener {
  @volatile private var c = SparkCounters()
  private val jobStarts = scala.collection.concurrent.TrieMap.empty[Int, Long]
  private val jobSpans = ArrayBuffer.empty[(Long, Long)]
  // converts the events' wall-clock milliseconds onto the nanoTime axis
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def snapshot: SparkCounters = synchronized(c)

  def drainJobSpans(): Seq[(Long, Long)] = synchronized {
    val out = jobSpans.toSeq; jobSpans.clear(); out
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobStarts.put(e.jobId, e.time)
    synchronized { c = c.copy(jobs = c.jobs + 1) }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStarts.remove(e.jobId).foreach { s =>
      synchronized { jobSpans += ((s * 1000000L - offsetNs, e.time * 1000000L - offsetNs)) }
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { c = c.copy(stages = c.stages + 1) }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    synchronized {
      c = if (m == null) c.copy(tasks = c.tasks + 1)
      else c.copy(tasks = c.tasks + 1,
        runMs = c.runMs + m.executorRunTime,
        cpuMs = c.cpuMs + m.executorCpuTime / 1e6,
        shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        spill = c.spill + m.memoryBytesSpilled + m.diskBytesSpilled,
        gcMs = c.gcMs + m.jvmGCTime,
        recordsRead = c.recordsRead + m.inputMetrics.recordsRead,
        bytesWritten = c.bytesWritten + m.outputMetrics.bytesWritten)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ms = qe.tracker.phases.values.map(_.durationMs).sum
    synchronized { c = c.copy(planMs = c.planMs + ms) }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** A loopback TCP relay that forwards to one kvbin server and counts the
  * bytes it carries each way. Each protocol request is one connection,
  * so a half-close on one side is passed on to the other. */
final class Relay(target: String) extends AutoCloseable {
  val toServer = new AtomicLong
  val toClient = new AtomicLong
  private val server = new ServerSocket(0, 64, InetAddress.getLoopbackAddress)
  private val closed = new AtomicBoolean(false)
  private val Array(host, port) = target.split(":")

  val address: String =
    s"${InetAddress.getLoopbackAddress.getHostAddress}:${server.getLocalPort}"

  def bytes: Long = toServer.get + toClient.get

  private def daemon(name: String)(body: => Unit): Unit = {
    val t = new Thread(() => body, name)
    t.setDaemon(true)
    t.start()
  }

  private def pump(in: InputStream, out: OutputStream, count: AtomicLong,
                   done: () => Unit): Unit = {
    val buf = new Array[Byte](1 << 16)
    try {
      var n = in.read(buf)
      while (n >= 0) {
        out.write(buf, 0, n)
        count.addAndGet(n)
        n = in.read(buf)
      }
      out.flush()
    } catch { case scala.util.control.NonFatal(_) => () }
    finally done()
  }

  daemon("perfbench-relay-accept") {
    while (!closed.get()) {
      try {
        val client = server.accept()
        val upstream = new Socket(host, port.toInt)
        val open = new java.util.concurrent.atomic.AtomicInteger(2)
        def finish(): Unit = if (open.decrementAndGet() == 0) {
          client.close(); upstream.close()
        }
        daemon("perfbench-relay-up")(pump(client.getInputStream, upstream.getOutputStream,
          toServer, () => { try upstream.shutdownOutput() catch { case _: Exception => () }; finish() }))
        daemon("perfbench-relay-down")(pump(upstream.getInputStream, client.getOutputStream,
          toClient, () => { try client.shutdownOutput() catch { case _: Exception => () }; finish() }))
      } catch {
        case scala.util.control.NonFatal(_) => ()
      }
    }
  }

  override def close(): Unit = if (closed.compareAndSet(false, true)) server.close()
}
