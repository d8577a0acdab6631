package graft.replicate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.codec.Cursor
import graft.functions.expressions.LongParam
import graft.sources.KafkaShapedLog
import graft.store.EventLog

/** Event replication: native log → Kafka-shaped sink, in `(lsn, id)` order,
  * exactly-once — the Spark re-expression of the reference's
  * EventReplicator/EventReplicatorWorker pipeline (SURVEY §3-C).
  *
  * Per poll (`pollAndSendBatch`, EventReplicatorWorker.java:174-209):
  *  1. S4 keyset scan: `(lsn,id) > cursor ORDER BY lsn,id LIMIT batchSize`;
  *  2. T10 key projection + T9 header build (`id`, `lsn`, then stored
  *     metadata entries, all sorted by header key);
  *  3. S12 transactional send: records + progress cursor commit atomically
  *     (KafkaShapedLog.appendTxn);
  *  4. G2/G3: after a crash the cursor re-filter makes the retry
  *     idempotent — same-LSN siblings split across batches resume cleanly
  *     because the cursor is the row-value pair, not the LSN alone.
  *
  * `run()` mirrors the drain loop (EventReplicatorWorker.java:148-160):
  * poll until an empty batch. `replicateAll` discovers topics via the
  * `_events` suffix filter (S8/F4, EventReplicator.java:197-204).
  */
final class Replicator(
    source: EventLog,
    sink: KafkaShapedLog,
    batchSize: Int = Replicator.DefaultBatchSize) {

  /** Build sink records from scanned event rows (T9/T10/T5). Metadata
    * decode → headers happens columnar: the canonical Avro map bytes are
    * decoded on executors, never on the driver. */
  private[replicate] def toRecords(batch: DataFrame): DataFrame = {
    // T4 decode via the native DecodeMetadata expression (stays in the
    // codegen stage; the old per-row Scala UDF boxed every metadata map and
    // was rebuilt on each toRecords call)
    graft.GraftExtensions.register(batch.sparkSession)
    val decodeMeta = (c: org.apache.spark.sql.Column) =>
      graft.functions.EventFunctions.decodeMetadata(c)
    // Headers: id + lsn + stored metadata, sorted by header key
    // (EventReplicatorWorker.java:219-230; byte encoding of id/lsn matches
    // the reference's UTF-8-of-toString transport form). Built as an ARRAY
    // concat, never through a map: Kafka headers legally repeat keys, and
    // a user metadata entry named 'lsn' (allowed — Event reserves only
    // id/kid) would make map_concat throw on the duplicate and poison the
    // topic's replication forever.
    batch
      .withColumn("meta", decodeMeta(col("metadata")))
      .select(
        col("key"),
        col("data").as("value"),
        array_sort(concat(
          map_entries(col("meta")),
          array(
            struct(lit("id").as("key"),
              encode(col("id").cast("string"), "UTF-8").as("value")),
            struct(lit("lsn").as("key"),
              encode(col("lsn").cast("string"), "UTF-8").as("value"))))).as("headers"),
        col("timestamp"),
        col("id").as("_seq"))
  }

  /** One S12 transactional send of `batch`, the source rows above
    * `cursor`. The batch flows through ONE Spark job — emptiness, cursor
    * AND density stats are all harvested by `observe` DURING the sink's
    * staged write (appendTxn commits nothing for an empty batch and
    * evaluates its cursor argument only after the write completes; a throw
    * there aborts before the manifest commit).
    *
    * DENSITY GATE (G3): ids are dense per topic, so a batch covering
    * (cursor.id, mx] holds exactly mx - cursor.id rows. Reads are gated on
    * the source manifest and never see half an append, so fewer rows means
    * ids gone from the source (retention). A drain (`skipGaps`) steps over
    * them, as the ordered scan always did; the stream fails fast instead
    * (G8), since its checkpoint would move past rows it never delivered. */
  private def pollWith(topic: String, cursor: Cursor, batch: DataFrame,
      skipGaps: Boolean): Replicator.Poll = {
    val obs = org.apache.spark.sql.Observation()
    val observed = batch.observe(obs,
      max(struct(col("lsn"), col("id"))).as("m"),
      count(lit(1)).as("n"))
    var windowFull = false
    val sent = sink.appendTxn(topic, toRecords(observed), topic, {
      val m = obs.get("m").asInstanceOf[org.apache.spark.sql.Row]
      // zero rows at write time is handled inside appendTxn (no commit);
      // this guard only survives as belt-and-braces for a null max
      if (m == null || m.isNullAt(0)) cursor
      else {
        val (mxLsn, mx) = (m.getLong(0), m.getLong(1))
        val n = obs.get("n").asInstanceOf[Long]
        if (n != mx - cursor.id && !skipGaps)
          throw new IllegalStateException(
            s"gapped delivery for $topic: $n rows for ids (${cursor.id}, $mx] — " +
              "recover with Replicator.run() then restart the stream")
        windowFull = mx >= cursor.id + batchSize
        Cursor(mxLsn, mx)
      }
    })
    Replicator.Poll(sent, windowFull)
  }

  /** Topics whose source cursor this instance has reconciled against data
    * (once per boot, and only for PRE-manifest-cursor topics — a crashed
    * writer's standalone cursor file could lag its committed data and make
    * [[sourceIdle]] under-report the backlog until the topic's next
    * append; manifest-embedded cursors are atomic with the data).
    * Concurrent: the lag gauge reads cursors from a metrics thread. */
  private val sourceReconciled =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** The source's committed append cursor: a metadata file read, no
    * Spark job (a pre-manifest-cursor topic is reconciled from data once
    * per boot). A cursor written concurrently with this read is seen one
    * poll late — the same staleness window any fixed-cadence poller has. */
  private def sourceCursor(topic: String): Cursor =
    source.manifestCursor(topic).getOrElse {
      if (sourceReconciled.add(topic)) source.reconcile(topic)
      else source.currentCursor(topic)
    }

  /** Zero-job idle check: ids are dense per topic, so the sink holds every
    * source row once its cursor id reaches the source's. The common
    * steady-state poll (reference cadence: every second,
    * EventReplicator.java:138) costs nothing when there is nothing to
    * drain — also after an empty append, which takes an lsn but no id. */
  private def sourceIdle(topic: String, sinkCursor: Cursor): Boolean =
    sourceCursor(topic).id <= sinkCursor.id

  /** Dense-window poll (drainRange — no global sort, both bounds pushed). */
  private def densePoll(topic: String): Replicator.Poll = {
    val cursor = sink.cursorFor(topic)
    pollWith(topic, cursor, source.drainRange(topic, cursor, batchSize), skipGaps = true)
  }

  /** General ordered-scan poll: the fallback that sees past a retention
    * gap right above the cursor (where the dense window is empty forever). */
  private def scanPoll(topic: String): Replicator.Poll = {
    val cursor = sink.cursorFor(topic)
    pollWith(topic, cursor, source.scan(topic, cursor, batchSize), skipGaps = true)
  }

  /** One S4 poll + S12 transactional send. @return events sent.
    *
    * First polls the dense id window (drainRange); if that commits
    * nothing, re-probes with the general ordered scan before declaring the
    * backlog drained: retention may have deleted the ids right above a
    * lagging sink cursor, and without the fallback the poll would wedge on
    * the gap forever. */
  def pollAndSendBatch(topic: String): Long = {
    if (sourceIdle(topic, sink.cursorFor(topic))) return 0L
    val d = densePoll(topic)
    if (d.sent > 0) d.sent else scanPoll(topic).sent
  }

  /** Drain loop: poll until drained (EventReplicatorWorker.java:148-160).
    *
    * Termination exploits dense ids: a dense-window poll that commits but
    * does NOT fill its window (`mx < cursor.id + batchSize` with the
    * density gate passed) proves no live ids remain above the new cursor
    * inside the window — the backlog is drained, with no trailing
    * empty-probe or fallback-scan jobs. The ordered-scan fallback runs
    * only when a dense poll commits nothing (idle or a whole-window
    * retention gap); a retention gap that opens ABOVE the stop point
    * mid-drain is caught by the next run()'s fallback. */
  def run(topic: String): Long = {
    var total = 0L
    var done = false
    while (!done) {
      if (sourceIdle(topic, sink.cursorFor(topic))) done = true
      else {
        val d = densePoll(topic)
        total += d.sent
        if (d.sent > 0) done = !d.windowFull
        else {
          val f = scanPoll(topic)
          total += f.sent
          done = f.sent == 0
        }
      }
    }
    total
  }

  /** Replicate every `_events` topic (S8 discovery + F4 filter). */
  def replicateAll(): Map[String, Long] =
    source.topics().map(t => t -> run(t)).toMap

  /** A1 lag gauge for monitoring, with zero Spark jobs per read. */
  def lag(topic: String): Long = EventLog.lag(sourceCursor(topic), sink.cursorFor(topic))

  /** Continuous replication as a Structured Streaming job: tail the source
    * log through its manifest ([[graft.streaming.Subscribe.stream]]) and
    * commit each micro-batch to the sink transactionally. Exactly-once
    * WITHOUT relying on the Spark checkpoint alone: every batch is
    * re-filtered by the sink's committed cursor, so a replayed batch (crash
    * after sink commit, before checkpoint commit — or a deleted checkpoint)
    * re-commits nothing. The re-filter's cursor is a pair of
    * [[LongParam]]s (the batch's files are already lsn-bounded), so each
    * micro-batch runs the first one's compiled code. Micro-batches are
    * whole committed appends in lsn order, so the cursor always covers a
    * complete id prefix; an id gap
    * (retention) FAILS FAST (G8) — recover with a [[run]] drain and a
    * stream restart. This is the always-on form of [[runLoop]];
    * `Trigger.AvailableNow` turns it into a one-shot drain. */
  def replicateStream(topic: String, checkpointDir: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      maxAppendsPerTrigger: Int = 100)
      : org.apache.spark.sql.streaming.StreamingQuery =
    replicateStreamAll(Seq(topic), checkpointDir, trigger, maxAppendsPerTrigger)

  /** Multi-topic continuous replication: ONE streaming query (one source,
    * one checkpoint) tails every listed topic and commits each topic's
    * slice with its own cursor, exactly as [[replicateStream]] does for
    * one (EventReplicator.java:168-184 runs all topics in one process the
    * same way). Topics commit in sorted order per batch for determinism;
    * one the source manifest shows idle costs no job. */
  def replicateStreamAll(topics: Seq[String], checkpointDir: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      maxAppendsPerTrigger: Int = 100)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.Subscribe.streamTopics(
        sink.spark, source.root.toString, topics, maxAppendsPerTrigger)
      .writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (df: DataFrame, _: Long) =>
        // one topic reads its batch once (the commit's write); several
        // share one cached read
        val batch = if (topics.size > 1) df.persist() else df
        try topics.sorted.foreach { t =>
          val cursor = sink.cursorFor(t)
          if (!sourceIdle(t, cursor))
            pollWith(t, cursor, batch.filter(col("topic") === t &&
              struct(col("lsn"), col("id")) >
                struct(LongParam.col(cursor.lsn), LongParam.col(cursor.id)))
              .drop("topic"), skipGaps = false)
        } finally { if (batch ne df) batch.unpersist(); () }
      }
      .start()

  /** Fixed-delay scheduling loop — the reference's per-topic worker
    * cadence (EventReplicator.java:138, 174-183: schedule at
    * `poll.interval.ms`, each tick drains the backlog fully). Bounded by
    * `maxTicks` so bounded deployments/tests terminate; a service passes
    * Int.MaxValue. @return events replicated per tick. */
  def runLoop(topic: String, intervalMillis: Long, maxTicks: Int): Seq[Long] =
    (1 to maxTicks).map { tick =>
      val n = run(topic)
      if (tick < maxTicks && intervalMillis > 0) Thread.sleep(intervalMillis)
      n
    }
}

object Replicator {
  /** Reference default batch size (EventReplicatorWorker.java:134). */
  val DefaultBatchSize = 100

  /** One drain poll's outcome: events committed + whether the committed
    * window reached its upper bound (more backlog may exist). */
  private[replicate] final case class Poll(sent: Long, windowFull: Boolean)
}
