package graft.streaming

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

import graft.store.{Commit, FileTree}

/** Unbounded subscribe (S5/S6) over the native event log, plus the
  * exactly-once projection helper (G4).
  *
  * `stream` tails a topic through its segment manifest ([[EventLogSource]]):
  * the Spark analog of the reference's
  * `subscribe(topic): Flux<Mono<Event>>` (ReactorKafkaEventStore.java:233-246).
  * The stream offset is the topic's committed lsn, so micro-batches hold
  * whole committed appends in lsn order. Downstream gets a typed decode
  * pipeline via graft.functions.EventFunctions (F5→E2→T2→T7).
  *
  * `EosProjection` mirrors G4 (offsets stored transactionally with the
  * user's effects — usage pattern ReactorKafkaEventStore.java:218-225):
  * the reference commits per record; Structured Streaming commits per
  * micro-batch — same end state, coarser commit unit (SURVEY §3-B). The
  * user's output and the batch id commit together: the batch dir moves in
  * first, and the `last_batch` marker replace is the commit point, so
  * replayed batches after a crash are detected and skipped — effects apply
  * exactly once.
  */
object Subscribe {

  /** Tail a topic as a stream of event rows, in whole appends. */
  def stream(spark: SparkSession, logRoot: String, topic: String,
      maxAppendsPerTrigger: Int = 100): DataFrame =
    streamTopics(spark, logRoot, Seq(topic), maxAppendsPerTrigger).drop("topic")

  /** Tail SEVERAL topics as ONE stream, each row tagged with its `topic`.
    * N topics cost one source + one checkpoint instead of N queries — the
    * fan-in the reference runs as one replicator process over all
    * discovered topics (EventReplicator.java:168-184). The topic set is
    * fixed: a topic created later does not join mid-checkpoint. At most
    * `maxAppendsPerTrigger` appends per topic go into one micro-batch. */
  def streamTopics(spark: SparkSession, logRoot: String, topics: Seq[String],
      maxAppendsPerTrigger: Int = 100): DataFrame = {
    require(topics.nonEmpty, "streamTopics needs at least one topic")
    spark.readStream
      .format(classOf[EventLogSourceProvider].getName)
      .option("path", logRoot)
      .option("topics", topics.mkString("/"))
      .option("maxAppendsPerTrigger", maxAppendsPerTrigger)
      .load()
  }

  /** Event-time tumbling aggregation with a watermark — the §2.7 extension
    * surface (the reference has no windowing; Structured Streaming gives it
    * on the same subscribe stream). */
  def windowedCounts(events: DataFrame, watermark: String, window_ : String): DataFrame =
    events
      .withWatermark("timestamp", watermark)
      .groupBy(window(col("timestamp"), window_))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("n"))
}

/** Exactly-once micro-batch projection: user effects + progress marker
  * commit as one transaction, and replays are skipped.
  *
  * A batch stages its output in `stage-<id>`, which moves to `batch-<id>`
  * and is forced; then [[graft.store.Commit.replace]] of the `last_batch`
  * marker commits it. A `batch-<id>` beyond the marker is a crashed
  * attempt: its replay deletes and rewrites it. Readers gate on
  * [[lastCommitted]] and never read a batch dir beyond it.
  *
  * @param stateDir directory holding the last-committed batch id
  */
final class EosProjection(stateDir: Path) {
  Files.createDirectories(stateDir)
  private val marker = stateDir.resolve("last_batch")

  def lastCommitted: Long =
    if (Files.exists(marker)) Files.readString(marker).trim.toLong else -1L

  /** Wrap a foreachBatch body with idempotence: `effects` stages its
    * output under the given dir, and the marker replace commits it. */
  def foreachBatch(effects: (DataFrame, Long, Path) => Unit)(df: DataFrame, batchId: Long): Unit = {
    if (batchId <= lastCommitted) return // replay after restart → skip (G4)
    val stage = stateDir.resolve(s"stage-$batchId")
    FileTree.deleteRecursively(stage)
    Files.createDirectories(stage)
    effects(df, batchId, stage)
    val committed = stateDir.resolve(s"batch-$batchId")
    FileTree.deleteRecursively(committed)
    Files.move(stage, committed)
    Commit.force(FileTree.all(committed))
    Commit.replace(marker, batchId.toString)
  }

  def attach(w: DataStreamWriter[org.apache.spark.sql.Row])(
      effects: (DataFrame, Long, Path) => Unit): DataStreamWriter[org.apache.spark.sql.Row] =
    w.foreachBatch(foreachBatch(effects) _)
}

object EosProjection {
  def apply(stateDir: String): EosProjection = new EosProjection(Paths.get(stateDir))

  /** Run a stream to completion over currently-available data (tests /
    * bounded replays): AvailableNow + awaitTermination. Update output mode
    * so windowed aggregations emit in-progress windows too (append mode
    * would hold back windows the watermark hasn't closed). */
  def runAvailableNow(
      df: DataFrame,
      checkpoint: String,
      proj: EosProjection)(effects: (DataFrame, Long, Path) => Unit): StreamingQuery = {
    val q = df.writeStream
      .trigger(Trigger.AvailableNow())
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch(proj.foreachBatch(effects) _)
      .start()
    q.awaitTermination()
    q
  }
}
