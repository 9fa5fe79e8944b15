package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}

/** Shared plumbing of the harness mains: the Spark session every in-process
  * workload uses, JSON in/out, spans and the Spark counters listener.
  */
object Common {
  implicit val formats: Formats = DefaultFormats

  def cpus: Int = Runtime.getRuntime.availableProcessors()

  /** A session built like `graft.Bench`'s: local[cpus], shuffle
    * partitions = cpus. Scratch locations come from system properties the
    * launcher sets, so nothing lands outside the run's own directory.
    */
  def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def readJson(path: String): JValue =
    JsonMethods.parse(new String(Files.readAllBytes(Paths.get(path)), UTF_8))

  def writeJson(path: String, v: AnyRef): Unit =
    Files.write(Paths.get(path), Serialization.write(v).getBytes(UTF_8))

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = f; (a, secs(t0))
  }
}

/** In-memory span log of one traced run: (name, start, end, parent,
  * request id), written once when the run ends.
  */
final class Spans {
  import Spans.Span
  private val log = new ConcurrentLinkedQueue[Span]()
  private val notes = new ConcurrentLinkedQueue[(String, Long, Long)]()

  def apply[A](name: String, req: Long, parent: String = "")(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally log.add(Span(name, t0, System.nanoTime(), parent, req))
  }

  /** A measured quantity (a count, a size) attached to a request. */
  def note(name: String, req: Long, value: Long): Unit = notes.add((name, req, value))

  def all: Seq[Span] = log.asScala.toSeq

  def dump(path: String): Unit = {
    val sb = new StringBuilder
    all.foreach { s =>
      sb.append(s"""{"name":"${s.name}","start":${s.start},"end":${s.end},""" +
        s""""parent":"${s.parent}","req":${s.req}}""").append('\n')
    }
    notes.asScala.foreach { case (n, r, v) =>
      sb.append(s"""{"name":"$n","req":$r,"value":$v}""").append('\n')
    }
    Files.write(Paths.get(path), sb.toString.getBytes(UTF_8))
  }
}

object Spans {
  final case class Span(name: String, start: Long, end: Long,
                        parent: String, req: Long)
}

/** Spark counters summed over every job the listener sees: the per-layer
  * source for jobs/stages/tasks, task time, shuffle, spill, input and
  * output. `firstJobMs` (epoch ms) lets a caller time what happens before a gate's
  * first job.
  */
final class Counters extends SparkListener {
  val jobs, stages, tasks, taskBusyNs, shuffleRead, shuffleWrite, spill,
      inputBytes, outputBytes, outputFiles = new AtomicLong()
  @volatile var firstJobMs: Long = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    if (firstJobMs == 0L) firstJobMs = e.time
    jobs.incrementAndGet()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskBusyNs.addAndGet(m.executorRunTime * 1000000L)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      outputBytes.addAndGet(m.outputMetrics.bytesWritten)
      outputFiles.addAndGet(
        if (m.outputMetrics.recordsWritten > 0) 1L else 0L)
    }
  }

  def snapshot: Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "task_busy_ns" -> taskBusyNs.get, "shuffle_read" -> shuffleRead.get,
    "shuffle_write" -> shuffleWrite.get, "spill" -> spill.get,
    "input_bytes" -> inputBytes.get, "output_bytes" -> outputBytes.get,
    "output_files" -> outputFiles.get)

  def reset(): Unit = {
    Seq(jobs, stages, tasks, taskBusyNs, shuffleRead, shuffleWrite, spill,
      inputBytes, outputBytes, outputFiles).foreach(_.set(0))
    firstJobMs = 0L
  }
}
