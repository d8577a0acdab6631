package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.crypto.{AeadPrimitive, AesGcmAead, KeyProvider}

/** Decrypts with keys the writer never used: the self-test's wrong key. */
final class WrongKeys extends KeyProvider {
  override def aead(keyUri: String): AeadPrimitive = new AesGcmAead(Array.fill[Byte](32)(7))
}

object EventWorkloads {
  val BulkBatches = 4
  val BulkBatchSize = 1500

  /** Tail: the nominal rate (events/s) fills the run but for its last
    * NominalGapMs + TailTickMs, where a top step offers TailTopRate events/s:
    * one tick of TailTickMs of them, sent as one batch after the same idle
    * gap as a nominal batch. It probes the path's capacity: the rate at
    * which a producer appending batches of that size back-to-back keeps up,
    * as long as their delivery p99 stays within TailP99LimitMs. The nominal
    * rate lies far below that capacity. At the nominal rate a batch goes
    * out every NominalGapMs on average, longer than a warm path takes to
    * append and deliver it (about 2 s), so each batch meets an idle path;
    * with 2-s gaps a batch often waited for the micro-batch in flight, and
    * delivery latency jumped between about 2.5 and 5.5 s with the machine's
    * speed. */
  val TailNominal = 200
  val NominalGapMs = 3000L
  val TailTopRate = 30000
  val TailTickMs = 1500L
  val TailP99LimitMs = 12000.0
  /** Batches sent before the clock starts, so that the JIT and the
    * stream's first triggers warm up on the measured path itself: the
    * first (cold) one alone, the others TailWarmGapMs apart. The JIT keeps
    * compiling through the run (30-50 s of compile time in a 30-s nominal
    * step), so appends still speed up by about a quarter over the nominal
    * batches; eight warm-up batches did not flatten that and cost 10 s more. */
  val TailWarmBatches = 4
  val TailWarmGapMs = 1500L
  /** The tail's consumer waits this long after a poll that found nothing,
    * as a Kafka fetch waits up to `fetch.max.wait.ms` (500 ms by default)
    * for data, and the replication stream triggers at most this often.
    * Polling back-to-back and triggering every 10 ms kept 2.7 of 4 cores
    * busy through the nominal step (2.1 with these waits), so latencies
    * followed how the OS shared the cores with the JIT. */
  val ConsumerIdleMs = 200L
  val StreamTriggerMs = 200L

  /** Closed-loop backfill: cycles of BulkBatches × BulkBatchSize events,
    * each on a fresh store: saveAll per batch, one drain, one poll. */
  def bulk(ctx: Ctx, fault: Option[String] = None): Unit = {
    val appendMs = mutable.Buffer[Double]()
    val deliverMs = mutable.Buffer[Double]()
    val pollMs = mutable.Buffer[Double]()
    val cycleS = mutable.Buffer[Double]()
    val bytesPerEvent = mutable.Buffer[Double]()
    val logBytesPerEvent = mutable.Buffer[Double]()
    var polls, usefulPolls, retries, appends, consumerPolls, consumerUseful = 0L
    var filesAdded, segments = 0L
    var replicateJobs, storeJobs, sourcesJobs = 0L
    var manifestBytes, sinkFiles = 0L
    var events = 0L
    val t0 = System.nanoTime()
    var cycle = 0
    // whole cycles only: start another while it is expected to end in time
    var lastWall = 0.0
    while (cycle < 2 || (System.nanoTime() - t0) / 1e9 + lastWall <= ctx.seconds) {
      val batches = (0 until BulkBatches).map { b =>
        val idx = cycle * BulkBatches + b
        (EventGen.batch(ctx.seed, idx, BulkBatchSize, idx.toLong * BulkBatchSize),
          EventGen.keyUriFor(ctx.seed, idx))
      }
      val expected = batches.map { case (gs, uri) => gs.map(EventGen.expectedHash(_, uri)).sum }.sum
      val n = batches.map(_._1.size).sum.toLong
      val dir = ctx.work.resolve(s"bulk-$cycle")
      val keys = if (fault.contains("wrong_key")) new WrongKeys else new graft.crypto.InMemoryKms
      val path = new EventPath(ctx.spark, dir, ctx.tracer, decryptKeys = keys)
      val jobs0 = (ctx.counters.jobs("store"), ctx.counters.jobs("replicate"), ctx.counters.jobs("sources"))
      val c0 = System.nanoTime()
      val starts = mutable.Buffer[Long]()
      var delivered = Seq.empty[Delivered]
      var deliveredAt = 0L
      val ok = ctx.op("bulk cycle") {
        ctx.tracer.span("bulk.cycle") {
          batches.zipWithIndex.foreach { case ((gs, uri), b) =>
            val s = System.nanoTime()
            starts += s
            val before = path.log.segmentFileCount(EventGen.Topic)
            path.append(gs, uri)
            appendMs += (System.nanoTime() - s) / 1e6
            filesAdded += path.log.segmentFileCount(EventGen.Topic) - before
            appends += 1
            if (b == 0 && fault.contains("dropped_batch")) {
              // retention drops the first batch's segments before replication
              path.log.truncateBefore(EventGen.Topic, path.sourceCursor)
            }
          }
          var sent = 1L
          while (sent > 0) {
            val backlog = path.sinkCursor.id < path.sourceCursor.id
            sent = path.replicatePoll()
            polls += 1
            if (sent > 0) usefulPolls += 1
            else if (backlog && path.sinkCursor.id < path.sourceCursor.id) retries += 1
          }
          val p0 = System.nanoTime()
          val (got, at) = path.consume()
          pollMs += (System.nanoTime() - p0) / 1e6
          consumerPolls += 1
          if (got.nonEmpty) consumerUseful += 1
          delivered = got
          deliveredAt = at
        }
      }
      val wall = (System.nanoTime() - c0) / 1e9
      lastWall = wall
      if (ok.isDefined) {
        cycleS += wall
        events += n
        batches.indices.foreach { b =>
          val lat = (deliveredAt - starts(b)) / 1e6
          (0 until batches(b)._1.size).foreach(_ => deliverMs += lat)
        }
        EventChecks.run(n, expected, delivered).foreach { case (name, pass, detail) =>
          ctx.check(s"cycle $cycle $name", pass, detail)
        }
      }
      storeJobs += ctx.counters.jobs("store") - jobs0._1
      replicateJobs += ctx.counters.jobs("replicate") - jobs0._2
      sourcesJobs += ctx.counters.jobs("sources") - jobs0._3
      bytesPerEvent += path.storedBytes.toDouble / n
      logBytesPerEvent += path.logBytes.toDouble / n
      segments = path.log.segmentFileCount(EventGen.Topic)
      manifestBytes = path.sinkManifestBytes
      sinkFiles = path.sinkFiles
      Files2.deleteRecursively(dir)
      cycle += 1
    }
    val wallS = cycleS.sum
    ctx.metric("events_per_s", events / wallS, "1/s", cycleS.size)
    ctx.latency("append", appendMs.toSeq, 90)
    ctx.latency("deliver", deliverMs.toSeq)
    ctx.latency("query", pollMs.toSeq, 90)
    ctx.metric("job_s", Stats.median(cycleS.toSeq), "s", cycleS.size)
    ctx.metric("stored_bytes_per_event", bytesPerEvent.sum / bytesPerEvent.size, "B", bytesPerEvent.size)

    if (ctx.tracer.enabled) {
      val tr = ctx.tracer
      replayedLayers(ctx)
      ctx.layer("store.append_ms", tr.totalMs("store.saveAll"), "ms")
      ctx.layer("store.appends", appends.toDouble, "count")
      ctx.layer("store.jobs_per_append", storeJobs.toDouble / appends, "count")
      ctx.layer("store.files_per_append", filesAdded.toDouble / appends, "count")
      ctx.layer("store.segments", segments.toDouble, "count")
      ctx.layer("store.bytes_per_event", logBytesPerEvent.sum / logBytesPerEvent.size, "B")
      ctx.layer("replicate.busy_ms", tr.totalMs("replicate.poll"), "ms")
      ctx.layer("replicate.polls", polls.toDouble, "count")
      ctx.layer("replicate.jobs_per_poll", replicateJobs.toDouble / polls, "count")
      ctx.layer("replicate.useful_poll_ratio", usefulPolls.toDouble / polls, "ratio")
      ctx.layer("replicate.retries", retries.toDouble, "count")
      ctx.layer("sources.consumer_poll_ms", tr.selfMsByName.getOrElse("sources.poll", 0.0), "ms")
      ctx.layer("sources.consumer_jobs_per_poll", sourcesJobs.toDouble / consumerPolls, "count")
      ctx.layer("sources.consumer_useful_poll_ratio", consumerUseful.toDouble / consumerPolls, "ratio")
      ctx.layer("sources.manifest_bytes", manifestBytes.toDouble, "B")
      ctx.layer("sources.sink_files", sinkFiles.toDouble, "count")
      ctx.layer("sources.redelivered", 0, "count")
      ctx.accountWall(Seq("bulk.cycle"))
    }
  }

  /** Open-loop live tail: a producer appends on a fixed schedule at each
    * offered rate in turn while `Replicator.replicateStream` tails the log
    * and a consumer polls back-to-back. */
  def tail(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val dir = ctx.work.resolve("tail")
    val path = new EventPath(spark, dir, ctx.tracer)
    path.log.createTopic(EventGen.Topic)
    if (ctx.tracer.enabled) ctx.streams.path = Some(path)
    // the schedule: (step, due offset ns, events) — generated before timing.
    // A nominal batch holds the events that arrived since the previous one,
    // with gaps uniform over ±0.5 s around NominalGapMs (seeded); the top
    // step's batch is due one NominalGapMs after the last nominal one.
    // TailWarmBatches warm-up batches (step -1) of the mean nominal size
    // come first; they have no due time.
    val rates = Seq(TailNominal, TailTopRate)
    val nominalBatches = math.max(2,
      ((ctx.seconds * 1000 - NominalGapMs - TailTickMs) / NominalGapMs).toInt)
    val gaps = new java.util.SplittableRandom(ctx.seed * 7919L + 17)
    var dueNs = 0L
    val nominalSize = (TailNominal * NominalGapMs / 1000).toInt
    val plan = Seq.fill(TailWarmBatches)((-1, 0L, nominalSize)) ++ (0 until nominalBatches).map { _ =>
      val gapMs = NominalGapMs - 500 + gaps.nextInt(1001)
      dueNs += gapMs * 1000000L
      (0, dueNs, math.max(1, math.round(TailNominal * gapMs / 1000.0).toInt))
    } :+ ((1, dueNs + NominalGapMs * 1000000L, (TailTopRate * TailTickMs / 1000).toInt))
    var seq = 0L
    val batches = plan.zipWithIndex.map { case ((step, due, n), i) =>
      val gs = EventGen.batch(ctx.seed, i, n, seq)
      seq += n
      (step, due, gs, EventGen.keyUriFor(ctx.seed, i))
    }
    val expected = batches.map { case (_, _, gs, uri) => gs.map(EventGen.expectedHash(_, uri)).sum }.sum
    val total = batches.map(_._3.size).sum.toLong

    // ack record per batch: (first id, last id, due ns, send start ns, ack ns, lsn)
    val acks = new ConcurrentLinkedQueue[(Long, Long, Long, Long, Long, Long)]()
    val delivered = new ConcurrentLinkedQueue[(Delivered, Long)]()
    val deliveredCount = new AtomicLong(0)
    val stop = new AtomicBoolean(false)
    val consumerPolls = new AtomicLong(0)
    val consumerUseful = new AtomicLong(0)
    val errors = new ConcurrentLinkedQueue[String]()
    // every poll: (start ns, ms, 0 idle path / 1 delivered / 2 other)
    val pollTimes = new ConcurrentLinkedQueue[(Long, Double, Int)]()
    val sentCount = new AtomicLong(0) // events whose append has begun

    val ckpt = dir.resolve("checkpoint").toString
    val query = ctx.op("start replicateStream") {
      spark.sparkContext.setJobGroup("replicate", "replicate")
      val q = path.replicator.replicateStream(EventGen.Topic, ckpt,
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(StreamTriggerMs))
      ctx.counters.groupAlias = ctx.counters.groupAlias + (q.runId.toString -> "replicate")
      q
    }
    val consumerThread = new Thread(() => {
      try {
        while (!stop.get()) {
          val sent0 = sentCount.get()
          val idle0 = sent0 == deliveredCount.get()
          val p0 = System.nanoTime()
          val (got, at) = path.consume()
          val kind = if (got.nonEmpty) 1 else if (idle0 && sentCount.get() == sent0) 0 else 2
          pollTimes.add((p0, (System.nanoTime() - p0) / 1e6, kind))
          consumerPolls.incrementAndGet()
          if (got.nonEmpty) consumerUseful.incrementAndGet()
          got.foreach(d => delivered.add((d, at)))
          deliveredCount.addAndGet(got.size)
          if (got.isEmpty) ctx.tracer.span("sources.idle_wait") { Thread.sleep(ConsumerIdleMs) }
        }
      } catch { case e: Throwable => errors.add("consumer: " + e) }
    }, "bench-consumer")

    // warm-up (the end of set-up): nominal-size batches through the whole
    // path; the first, cold one alone, the others TailWarmGapMs apart
    consumerThread.start()
    val (warmUp, timed) = batches.partition(_._1 < 0)
    var warmed = 0L
    def awaitDelivered(): Unit = {
      val until = System.nanoTime() + 60L * 1000000000L
      while (deliveredCount.get() < warmed && System.nanoTime() < until && errors.isEmpty)
        Thread.sleep(10)
    }
    warmUp.zipWithIndex.foreach { case ((_, _, gs, uri), i) =>
      val s = System.nanoTime()
      sentCount.addAndGet(gs.size)
      ctx.op("tail warm-up append") {
        val c = path.append(gs, uri)
        acks.add((c.id - gs.size + 1, c.id, s, s, System.nanoTime(), c.lsn))
        warmed += gs.size
      }
      if (i == 0) awaitDelivered()
      else Thread.sleep(math.max(0L, TailWarmGapMs - (System.nanoTime() - s) / 1000000L))
    }
    awaitDelivered()
    ctx.setupEndMs = System.currentTimeMillis()
    ctx.counters.reset()
    ctx.streams.reset()
    ctx.tracer.clear()

    val backlog = mutable.Buffer[Long]() // due but not yet delivered, every 100 ms
    val lateMs = mutable.Buffer[Double]()           // per batch, in schedule order
    val appendMs = mutable.Buffer[(Int, Double)]()  // (step, ms) per acknowledged append
    val start = System.nanoTime()
    val monitor = new Thread(() => {
      while (!stop.get()) {
        val now = System.nanoTime() - start
        val due = batches.takeWhile(_._2 <= now).map(_._3.size.toLong).sum
        backlog.synchronized { backlog += due - deliveredCount.get() }
        Thread.sleep(100)
      }
    }, "bench-monitor")
    monitor.setDaemon(true)
    monitor.start()

    // what the process spent during the nominal step, for the run's notes
    val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    def jitMs = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    val (cpu0, gc0, jit0) = (os.getProcessCpuTime, gcMs, jitMs)
    var nominalLoad = ""
    timed.foreach { case (step, due, gs, uri) =>
      if (step == 1 && nominalLoad.isEmpty)
        nominalLoad = f"${(os.getProcessCpuTime - cpu0) / (System.nanoTime() - start).toDouble}%.2f cores " +
          s"busy, JIT compiling ${jitMs - jit0} ms, GC ${gcMs - gc0} ms"
      val wait = (start + due - System.nanoTime()) / 1000000L
      if (wait > 0) ctx.tracer.span("load.wait") { Thread.sleep(wait) }
      val s = System.nanoTime()
      lateMs += math.max(0L, s - (start + due)) / 1e6
      sentCount.addAndGet(gs.size)
      ctx.op("tail append") {
        val c = path.append(gs, uri)
        val a = System.nanoTime()
        appendMs += ((step, (a - s) / 1e6))
        acks.add((c.id - gs.size + 1, c.id, start + due, s, a, c.lsn))
      }
    }
    val sendEnd = System.nanoTime()
    // drain: wait until everything appended has been delivered
    val deadline = System.nanoTime() + 30L * 1000000000L
    val appended = acks.asScala.map(a => a._2 - a._1 + 1).sum
    while (deliveredCount.get() < appended && System.nanoTime() < deadline && errors.isEmpty)
      Thread.sleep(20)
    val drainS = (System.nanoTime() - sendEnd) / 1e9
    stop.set(true)
    consumerThread.join(60000)
    monitor.join(5000)
    query.foreach { q => q.stop(); q.awaitTermination(30000) }
    errors.asScala.foreach(e => ctx.check("tail threads", pass = false, e))
    ctx.opsAttempted(consumerPolls.get())

    // latency per event: due time of its batch → its decoded delivery
    val ackSeq = acks.asScala.toSeq.sortBy(_._1)
    val firstIds = ackSeq.map(_._1).toArray
    def batchOf(id: Long): Int = {
      val i = java.util.Arrays.binarySearch(firstIds, id)
      if (i >= 0) i else -i - 2
    }
    val stepOfBatch = batches.map(_._1)
    val got = delivered.asScala.toSeq
    val latByStep = mutable.Map.empty[Int, mutable.Buffer[Double]]
    got.foreach { case (d, at) =>
      val b = batchOf(d.id)
      if (b >= 0) latByStep.getOrElseUpdate(stepOfBatch(b), mutable.Buffer()) += (at - ackSeq(b)._3) / 1e6
    }
    val dedup = got.map(_._1).groupBy(d => (d.partition, d.offset))
    val redelivered = got.size - dedup.size
    EventChecks.run(total, expected, dedup.values.map(_.head).toSeq).foreach {
      case (name, pass, detail) => ctx.check(s"tail $name", pass, detail)
    }
    if (redelivered != 0) ctx.check("tail redelivery", pass = false, s"$redelivered records delivered twice")

    // per step, in the run's notes: its pressure, the larger of its deliver
    // p99 over the limit and its append time over the time its batches'
    // events took to arrive (past 1 the producer falls further behind at
    // every batch), and the rate its batches sustain: events per second of
    // append time (a producer appending such batches back-to-back just keeps
    // up), scaled down when their deliver p99 exceeds the limit
    val bl = backlog.synchronized(backlog.toSeq)
    rates.indices.foreach { s =>
      val lat = latByStep.getOrElse(s, mutable.Buffer()).toSeq
      val p99 = Stats.pct(lat, 99)
      val ofStep = ackSeq.zipWithIndex.collect { case (a, b) if stepOfBatch(b) == s => a }
      val appendMs = Stats.median(ofStep.map(a => (a._5 - a._4) / 1e6))
      val events = Stats.median(ofStep.map(a => (a._2 - a._1 + 1).toDouble))
      val late = Stats.median(ofStep.map(a => math.max(0L, a._4 - a._3) / 1e6))
      val pressure = math.max(p99 / TailP99LimitMs, appendMs / (events / rates(s) * 1000.0))
      val sustains = events / appendMs * 1000.0 * math.min(1.0, TailP99LimitMs / p99)
      ctx.note(f"tail step ${rates(s)}/s: deliver p99 $p99%.0f ms over ${lat.size} events, " +
        f"append $appendMs%.0f ms for $events%.0f events, producer late $late%.0f ms (medians), " +
        f"pressure $pressure%.2f, sustains $sustains%.0f/s" + (if (pressure > 1.0) " (fails)" else ""))
    }

    val nominal = latByStep.getOrElse(0, mutable.Buffer()).toSeq
    val topDue = start + batches.collectFirst { case (1, due, _, _) => due }.get
    val nominalAppend = appendMs.filter(_._1 == 0).map(_._2).toSeq
    val window = pollTimes.asScala.toSeq.filter { case (t, _, _) => t >= start && t < topDue }
    def pollMs(kinds: Int*): Seq[Double] = window.collect { case (_, ms, k) if kinds.contains(k) => ms }
    ctx.note(s"tail nominal step: $nominalLoad; consumer polls (count p50/p90 ms): " +
      Seq("idle path" -> pollMs(0), "delivering" -> pollMs(1), "all" -> pollMs(0, 1, 2)).map { case (n, xs) =>
        f"$n ${xs.size} ${Stats.pct(xs, 50)}%.0f/${Stats.pct(xs, 90)}%.0f" }.mkString(", "))
    ctx.note("tail appends ms: " + nominalAppend.map(x => f"$x%.0f").mkString(" "))
    val perBatch = got.groupBy { case (d, _) => batchOf(d.id) }.toSeq.sortBy(_._1)
      .map { case (b, ds) => f"${(ds.map(_._2).max - ackSeq(b)._3) / 1e6}%.0f" }
    ctx.note("tail deliver ms per batch: " + perBatch.mkString(" "))
    // the top step's batch: its events per second from when it was due to
    // its last delivery, the rate the path appends, replicates and delivers
    // a burst at (at the nominal rate the delivered rate is the offered one)
    val top = latByStep.getOrElse(1, mutable.Buffer()).toSeq
    ctx.metric("events_per_s", if (top.isEmpty) 0.0 else top.size / (top.max / 1e3), "1/s", top.size)
    ctx.latency("append", nominalAppend, 90)
    ctx.latency("deliver", nominal)
    // the consumer polls before the top step was due that found nothing
    // while nothing was in flight: the subscriber's per-poll cost on an idle
    // path, 25-40 a run. Over every poll, about half of them overlapped an
    // append or a micro-batch, by chance, and the p90 spread 0.34 over five
    // seeds; the polls that deliver, whose decode time shows in deliver_*,
    // are only nine
    ctx.latency("query", pollMs(0), 90)
    ctx.metric("job_s", (sendEnd - start) / 1e9 + drainS, "s", 1)
    ctx.metric("stored_bytes_per_event", path.storedBytes.toDouble / math.max(1L, appended), "B", 1)

    val polls = ctx.streams.all
    if (ctx.tracer.enabled) {
      val tr = ctx.tracer
      replayedLayers(ctx)
      val appends = timed.size // the warm-up's spans and jobs were dropped
      ctx.layer("store.append_ms", tr.totalMs("store.saveAll"), "ms")
      ctx.layer("store.appends", appends.toDouble, "count")
      ctx.layer("store.jobs_per_append", ctx.counters.jobs("store").toDouble / appends, "count")
      ctx.layer("store.files_per_append", path.log.segmentFileCount(EventGen.Topic).toDouble / acks.size, "count")
      ctx.layer("store.segments", path.log.segmentFileCount(EventGen.Topic), "count")
      ctx.layer("store.bytes_per_event", path.logBytes.toDouble / appended, "B")
      val nonEmpty = polls.filter(_.rows > 0)
      ctx.layer("replicate.busy_ms", polls.map(_.triggerMs).sum.toDouble, "ms")
      ctx.layer("replicate.polls", polls.size, "count")
      ctx.layer("replicate.jobs_per_poll", ctx.counters.jobs("replicate").toDouble / math.max(1, polls.size), "count")
      ctx.layer("replicate.useful_poll_ratio", nonEmpty.size.toDouble / math.max(1, polls.size), "ratio")
      ctx.layer("replicate.retries", 0, "count")
      ctx.layer("streaming.batches", polls.size, "count")
      ctx.layer("streaming.add_batch_ms", mean(polls.map(_.addBatchMs.toDouble)), "ms")
      ctx.layer("streaming.latest_offset_ms", mean(polls.map(_.latestOffsetMs.toDouble)), "ms")
      ctx.layer("streaming.rows_per_batch", mean(nonEmpty.map(_.rows.toDouble)), "count")
      ctx.layer("sources.consumer_poll_ms", tr.selfMsByName.getOrElse("sources.poll", 0.0), "ms")
      ctx.layer("sources.consumer_jobs_per_poll",
        ctx.counters.jobs("sources").toDouble / math.max(1L, consumerPolls.get()), "count")
      ctx.layer("sources.consumer_useful_poll_ratio",
        consumerUseful.get().toDouble / math.max(1L, consumerPolls.get()), "ratio")
      ctx.layer("sources.manifest_bytes", path.sinkManifestBytes.toDouble, "B")
      ctx.layer("sources.sink_files", path.sinkFiles, "count")
      ctx.layer("sources.redelivered", redelivered, "count")
      ctx.layer("load.gen_late_p99_ms", Stats.pct(lateMs.toSeq, 99), "ms")
      ctx.layer("load.backlog_max_events", if (bl.isEmpty) 0.0 else bl.max.toDouble, "count")
      ctx.accountThreads(Seq(Thread.currentThread().getName, "bench-consumer"), start, sendEnd)
    }
    Files2.deleteRecursively(dir)
  }

  /** codec and crypto run inside saveAll and the decode UDFs; their time
    * comes from the traced run's replays of the same public calls. */
  private def replayedLayers(ctx: Ctx): Unit =
    Seq("codec.serialize" -> "codec.serialize_ms", "crypto.encrypt" -> "crypto.encrypt_ms",
      "functions.decode" -> "functions.decode_ms", "crypto.decrypt" -> "crypto.decrypt_ms")
      .foreach { case (span, metric) => ctx.layer(metric, ctx.tracer.totalMs(span), "ms") }

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
