package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. Times are epoch
  * milliseconds with sub-millisecond precision, so they line up with
  * the program's own millisecond stamps (the run ledger, Spark's task
  * info). `parent` is 0 for a root span. */
final case class Span(
    id: Long, name: String, startMs: Double, endMs: Double,
    parent: Long, requestId: String, attrs: Map[String, Double]) {
  def ms: Double = endMs - startMs
  def attr(k: String): Double = attrs.getOrElse(k, 0.0)
}

/** In-memory span recorder; written out once, when the run ends.
  * Disabled, it records nothing. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()

  /** Span id of the run executing on this thread (0 outside a run). */
  val current: ThreadLocal[java.lang.Long] =
    ThreadLocal.withInitial(() => java.lang.Long.valueOf(0L))

  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
  def newId(): Long = ids.incrementAndGet()

  def record(name: String, startMs: Double, endMs: Double,
      parent: Long = 0L, requestId: String = "",
      attrs: Map[String, Double] = Map.empty, id: Long = 0L): Long =
    if (!enabled) 0L
    else {
      val sid = if (id != 0L) id else newId()
      spans.add(Span(sid, name, startMs, endMs, parent, requestId, attrs))
      sid
    }

  def all: Seq[Span] = spans.asScala.toSeq

  def writeJson(path: java.nio.file.Path, extra: Map[String, Double]): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def obj(m: Map[String, Double]) =
      m.toSeq.sortBy(_._1).map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
    val sb = new java.lang.StringBuilder()
    sb.append("{\"summary\":").append(obj(extra)).append(",\"spans\":[\n")
    all.sortBy(_.startMs).zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(s"""{"id":${s.id},"name":${q(s.name)},"start_ms":${s.startMs},""" +
        s""""end_ms":${s.endMs},"parent":${s.parent},"request_id":${q(s.requestId)},""" +
        s""""attrs":${obj(s.attrs)}}""")
    }
    sb.append("\n]}\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** Records every Spark job and task as a span (task spans carry the
  * task's metrics as attributes). Registered only on traced runs. */
final class SparkSpans(tracer: Tracer) extends SparkListener {
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Double]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStarts.put(e.jobId, e.time.toDouble)

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach { s =>
      tracer.record("spark.job", s, e.time.toDouble)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val info = e.taskInfo
    val m = e.taskMetrics
    val attrs =
      if (m == null) Map.empty[String, Double]
      else Map(
        "executor_run_ms" -> m.executorRunTime.toDouble,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
        "shuffle_read_bytes" -> (m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead).toDouble,
        "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime.toDouble,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
        "input_bytes" -> m.inputMetrics.bytesRead.toDouble)
    tracer.record("spark.task", info.launchTime.toDouble,
      info.finishTime.toDouble, attrs = attrs + ("stage" -> e.stageId.toDouble))
  }
}
