package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval around a call into a layer. `traceId` links the
  * spans of one append batch (its `lsn`) across producer, replicator and
  * consumer; `replay` marks spans that re-run a public call outside the
  * pipeline to measure one layer's share (they are not part of any wall). */
final case class Span(id: Long, parent: Long, name: String, traceId: Long,
    thread: String, startNs: Long, endNs: Long, replay: Boolean) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Disabled, every call is a plain pass-through
  * (one boolean test), so untraced runs measure the library alone. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  private val bookkeepingNs = new AtomicLong(0)

  def span[A](name: String, replay: Boolean = false)(body: => A): A =
    spanWith[A](name, (_: A) => -1L, replay)(body)

  /** [[span]] whose trace id is read off the call's result (an append's
    * `lsn` is known only once it returns). */
  def spanWith[A](name: String, traceOf: A => Long, replay: Boolean = false)(body: => A): A =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      val id = ids.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val start = System.nanoTime()
      bookkeepingNs.addAndGet(start - t0)
      var traceId = -1L
      try { val a = body; traceId = traceOf(a); a }
      finally {
        val end = System.nanoTime()
        stack.set(parents)
        spans.add(Span(id, parents.headOption.getOrElse(0L), name, traceId,
          Thread.currentThread().getName, start, end, replay))
        bookkeepingNs.addAndGet(System.nanoTime() - end)
      }
    }

  /** A span whose interval was measured elsewhere (a streaming batch
    * reported by a listener, or one delivered batch inside a poll). */
  def record(name: String, traceId: Long, thread: String, startNs: Long, endNs: Long,
      parent: Long = 0L): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), parent, name, traceId, thread,
      startNs, endNs, replay = false))

  /** Id of the innermost open span on this thread (0 when none). */
  def current: Long = stack.get().headOption.getOrElse(0L)

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Drops what was recorded so far (a warm-up's spans). */
  def clear(): Unit = { spans.clear(); bookkeepingNs.set(0) }
  def overheadMs: Double = bookkeepingNs.get() / 1e6

  /** Self time per span: its duration minus the union of its children's
    * intervals (clipped to the parent). */
  def selfTimes: Map[Long, Long] = {
    val all = this.all
    val kids = all.filter(_.parent != 0L).groupBy(_.parent)
    all.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var sum = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      covered.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) sum += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) sum += curB - curA
      s.id -> (s.durNs - sum)
    }.toMap
  }

  /** Sum of self time (ms) per span name. */
  def selfMsByName: Map[String, Double] = {
    val self = selfTimes
    all.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum / 1e6 }
  }

  def totalMs(name: String): Double =
    all.filter(_.name == name).map(_.durNs).sum / 1e6

  def writeJson(path: java.nio.file.Path): Unit = {
    val self = selfTimes
    val sb = new StringBuilder("[\n")
    all.zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""trace":${s.traceId},"thread":${Json.str(s.thread)},"start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"self_ns":${self(s.id)},"replay":${s.replay}}""")
    }
    sb.append("\n]\n")
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** Spark task and job counters attributed to a layer by the submitting
  * thread's job group (the benchmark sets the group to the layer name
  * around each call; streaming queries run under their run id, which
  * [[StreamCounters]] maps back to a layer). */
final class SparkCounters extends SparkListener {
  final class Acc {
    var jobs = 0L; var tasks = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var spill = 0L
  }
  private val byGroup = mutable.Map.empty[String, Acc]
  private val stageGroup = mutable.Map.empty[Int, String]
  @volatile var groupAlias: Map[String, String] = Map.empty

  private def groupOf(props: java.util.Properties): String = {
    val g = Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("none")
    groupAlias.getOrElse(g, g)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    byGroup.getOrElseUpdate(g, new Acc).jobs += 1
    e.stageIds.foreach(s => stageGroup(s) = g)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = stageGroup.getOrElse(e.stageId, "none")
    val a = byGroup.getOrElseUpdate(g, new Acc)
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Jobs attributed to one group so far (resolving aliases now). */
  def jobs(group: String): Long = synchronized {
    byGroup.iterator.filter { case (g, _) => groupAlias.getOrElse(g, g) == group }
      .map(_._2.jobs).sum
  }

  def snapshot: Map[String, Acc] = synchronized {
    val out = mutable.Map.empty[String, Acc]
    byGroup.foreach { case (g, a) =>
      val t = out.getOrElseUpdate(groupAlias.getOrElse(g, g), new Acc)
      t.jobs += a.jobs; t.tasks += a.tasks; t.cpuNs += a.cpuNs; t.gcMs += a.gcMs
      t.shuffleWrite += a.shuffleWrite; t.spill += a.spill
    }
    out.toMap
  }

  def reset(): Unit = synchronized { byGroup.clear(); stageGroup.clear() }
}

/** Micro-batch progress of every streaming query, kept per batch. */
final class StreamCounters(tracer: Tracer) extends StreamingQueryListener {
  import StreamCounters.Batch
  private val batches = new ConcurrentLinkedQueue[Batch]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  /** Set by the live tail in a traced run: the path whose sink cursor
    * tells which append batches a micro-batch committed. */
  @volatile var path: Option[EventPath] = None
  private var lastLsn = 0L

  /** Listener events arrive in batch order on one thread. The sink cursor
    * is read when the event arrives, so a batch that commits before the
    * previous batch's event is handled is linked to that earlier batch. */
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    val b = Batch(p.runId.toString, p.numInputRows, d("triggerExecution"),
      d("addBatch"), d("latestOffset"))
    batches.add(b)
    val endNs = System.nanoTime()
    val lsn = path.filter(_ => tracer.enabled && b.rows > 0).map(_.sinkCursor.lsn).getOrElse(-1L)
    tracer.record("replicate.stream_batch", lsn, "stream-" + p.runId.toString.take(8),
      endNs - b.triggerMs * 1000000L, endNs)
    if (lsn > lastLsn) {
      path.foreach(_.markReplicated(lastLsn, lsn, endNs))
      lastLsn = lsn
    }
  }

  def all: Seq[Batch] = batches.asScala.toSeq
  def reset(): Unit = batches.clear()
}

object StreamCounters {
  final case class Batch(runId: String, rows: Long, triggerMs: Long,
      addBatchMs: Long, latestOffsetMs: Long)
}
