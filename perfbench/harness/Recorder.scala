package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, so
  * JVM-side times line up with the generator's `time.time()` stamps. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** In-memory spans around the benchmark's calls into each layer. Spans
  * are kept only in a traced run; `time` always returns the duration
  * because the untraced run needs it for its end-to-end metrics. */
final class Spans(runId: String, keep: Boolean) {
  final case class Span(id: Long, name: String, parent: Long,
      startMs: Double, endMs: Double)
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()

  /** Runs `f`, returns (result, duration ms). `f` gets the span id so
    * nested calls can name it as their parent. */
  def time[T](name: String, parent: Long = 0)(f: Long => T): (T, Double) = {
    val id = ids.incrementAndGet()
    val s = Clock.nowMs
    val r = f(id)
    val e = Clock.nowMs
    if (keep) done.add(Span(id, name, parent, s, e))
    (r, e - s)
  }

  def write(p: Path): Unit =
    Files.writeString(p, done.asScala.toSeq.sortBy(_.id).map { s =>
      f"""{"run":"$runId","id":${s.id},"name":"${s.name}","parent":${s.parent},"start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}"""
    }.mkString("", "\n", "\n"))
}

/** Collects every streaming progress event as its JSON, stamped with the
  * time it arrived. Batch commit times and per-batch durations come from
  * these, in traced and untraced runs alike. */
final class ProgressLog(onProgress: (String, Long) => Unit = (_, _) => ())
    extends StreamingQueryListener {
  private val lines = new ConcurrentLinkedQueue[String]()
  val names = new ConcurrentHashMap[String, String]() // query id -> name
  val terminated = new ConcurrentLinkedQueue[String]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    names.put(e.id.toString, Option(e.name).getOrElse(e.id.toString))
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    lines.add(f"""{"recv_ms":${Clock.nowMs}%.3f,"progress":${p.json}}""")
    onProgress(p.name, p.batchId)
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    e.exception.foreach(msg => terminated.add(s"${names.get(e.id.toString)}: $msg"))

  def write(p: Path): Unit =
    Files.writeString(p, lines.asScala.mkString("", "\n", "\n"))
}

/** Scheduler-level counters, tagged by the measured streaming query that
  * ran the job (`sql.streaming.queryId` in `measured`, named after the
  * query; other queries' jobs are tagged "warmup"), by a benchmark tag the
  * harness sets on its own threads (`perfbench.tag`), or "other".
  * Installed in traced runs only. */
final class EngineLog(queryNames: ConcurrentHashMap[String, String],
    measured: java.util.Set[String]) extends SparkListener {
  final class Agg {
    val jobs, tasks, shuffleWrite, shuffleRead, spill, gcMs, runMs,
      bytesWritten = new AtomicLong(0)
  }
  val byTag = new ConcurrentHashMap[String, Agg]()
  // (tag, batch id) -> (jobs, tasks)
  val byBatch = new ConcurrentHashMap[(String, Long), (AtomicLong, AtomicLong)]()
  private val stageOwner = new ConcurrentHashMap[Int, (String, Long)]()

  private def agg(tag: String) = byTag.computeIfAbsent(tag, _ => new Agg)
  private def batch(k: (String, Long)) =
    byBatch.computeIfAbsent(k, _ => (new AtomicLong(0), new AtomicLong(0)))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val tag = prop("perfbench.tag")
      .orElse(prop("sql.streaming.queryId").map(id =>
        if (measured.contains(id)) queryNames.get(id) else "warmup"))
      .getOrElse("other")
    val b = prop("streaming.sql.batchId").flatMap(_.toLongOption).getOrElse(-1L)
    agg(tag).jobs.incrementAndGet()
    batch((tag, b))._1.incrementAndGet()
    e.stageIds.foreach(s => stageOwner.put(s, (tag, b)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val owner = Option(stageOwner.get(e.stageId)).getOrElse(("other", -1L))
    val a = agg(owner._1)
    a.tasks.incrementAndGet()
    batch(owner)._2.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      a.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      a.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      a.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      a.gcMs.addAndGet(m.jvmGCTime)
      a.runMs.addAndGet(m.executorRunTime)
      a.bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  def json: String = {
    val tags = byTag.asScala.toSeq.sortBy(_._1).map { case (t, a) =>
      s""""$t":{"jobs":${a.jobs},"tasks":${a.tasks},"shuffle_write_bytes":${a.shuffleWrite},""" +
        s""""shuffle_read_bytes":${a.shuffleRead},"spill_bytes":${a.spill},"gc_ms":${a.gcMs},""" +
        s""""executor_run_ms":${a.runMs},"bytes_written":${a.bytesWritten}}"""
    }.mkString(",")
    val batches = byBatch.asScala.toSeq.sortBy(_._1).map { case ((t, b), (j, k)) =>
      s"""{"tag":"$t","batch":$b,"jobs":$j,"tasks":$k}"""
    }.mkString(",")
    s"""{"by_tag":{$tags},"by_batch":[$batches]}"""
  }
}
