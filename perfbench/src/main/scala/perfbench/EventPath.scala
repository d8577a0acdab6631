package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentSkipListSet

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.codec.{ConfluentAvro, Cursor, SchemaCatalog}
import graft.crypto.{EventEncryptor, InMemoryKms, KeyProvider}
import graft.functions.EventFunctions
import graft.replicate.Replicator
import graft.sources.{KafkaShapedConsumer, KafkaShapedLog}
import graft.store.{EventLog, GraftEventStore, TopicOffsets}

/** One delivered record as the consumer decoded it. */
final case class Delivered(partition: Int, offset: Long, id: Long, lsn: Long, hash: Long)

/** The append → replicate → subscribe path over one fresh directory,
  * wired only through the library's public module functions. */
final class EventPath(val spark: SparkSession, val root: Path, tracer: Tracer,
    decryptKeys: KeyProvider = new InMemoryKms) {
  import EventGen._
  import EventPath._

  val catalog: SchemaCatalog = SchemaCatalog(SchemaId -> schema)
  val encryptor = new EventEncryptor(new InMemoryKms)
  private val decryptor = new EventEncryptor(decryptKeys)
  val log: EventLog = EventLog(root.resolve("log").toString, spark)
  val store = new GraftEventStore(log, catalog, Some(encryptor))
  val sink: KafkaShapedLog = KafkaShapedLog(root.resolve("sink").toString, spark, Partitions)
  val replicator = new Replicator(log, sink, ReplicateBatch)
  val consumer = new KafkaShapedConsumer(sink, Topic,
    TopicOffsets(root.resolve("offsets").toString))
  /** Traced runs: the lsn of every append batch, to link its replication. */
  private val appendedLsns = new ConcurrentSkipListSet[java.lang.Long]()

  /** `GraftEventStore.saveAll` of one batch under one key URI. In a traced
    * run the two per-event calls saveAll makes (`ConfluentAvro.serialize`,
    * `EventEncryptor.encrypt`) are replayed on the same records first, so
    * their share can be reported; the replay is tracing overhead. */
  def append(batch: IndexedSeq[Gen], keyUri: String): Cursor = {
    if (tracer.enabled) {
      val framed = tracer.span("codec.serialize", replay = true) {
        batch.map(g => ConfluentAvro.serialize(SchemaId, g.record))
      }
      tracer.span("crypto.encrypt", replay = true) {
        batch.indices.foreach { i =>
          val g = batch(i)
          encryptor.encrypt(framed(i), g.key, g.ts.toEpochMilli, g.metadata, keyUri)
        }
      }
    }
    spark.sparkContext.setJobGroup("store", "store")
    val c = tracer.spanWith("store.saveAll", (c: Cursor) => c.lsn) {
      store.saveAll(Topic, batch.map(g => (g.key, g.record, g.ts, g.metadata)), Some(keyUri))
    }
    if (tracer.enabled) appendedLsns.add(c.lsn)
    c
  }

  /** One drain poll; returns events committed to the sink. */
  def replicatePoll(): Long = {
    spark.sparkContext.setJobGroup("replicate", "replicate")
    val before = if (tracer.enabled) sinkCursor.lsn else 0L
    tracer.span("replicate.poll") {
      val sent = replicator.pollAndSendBatch(Topic)
      if (tracer.enabled && sent > 0)
        markReplicated(before, sinkCursor.lsn, System.nanoTime(), tracer.current)
      sent
    }
  }

  /** Traced runs: a zero-length `replicate.commit` mark (trace id = lsn)
    * for every append batch with an lsn in (fromLsn, toLsn]. */
  def markReplicated(fromLsn: Long, toLsn: Long, atNs: Long, parent: Long = 0L): Unit =
    if (toLsn > fromLsn) appendedLsns.subSet(fromLsn, false, toLsn, true).asScala.foreach { lsn =>
      tracer.record("replicate.commit", lsn, Thread.currentThread().getName, atNs, atNs, parent)
    }

  /** Decrypt + decode a sink batch the way a subscriber does: the metadata
    * map is the record headers minus the transport `id` and `lsn`. */
  def decode(df: DataFrame): Array[Row] = {
    val hm = map_from_entries(col("headers"))
    val meta = map_filter(hm, (k, _) => !k.isin("id", "lsn"))
    val plain = EventFunctions.decryptPayload(decryptor)(
      col("value"), col("key"), col("timestamp"), col("meta"))
    val base = df.select(col("partition"), col("offset"), col("key"), col("timestamp"),
      col("value"), hm("id").cast("string").cast("long").as("id"),
      hm("lsn").cast("string").cast("long").as("lsn"), meta.as("meta"))
    val decoded = base.withColumn("json", EventFunctions.decodePayloadJson(catalog)(plain))
    decoded.select("partition", "offset", "id", "lsn", "key", "timestamp", "meta", "json",
      "value").collect()
  }

  /** One consumer poll that decodes and collects what it delivers. */
  def consume(): (Seq[Delivered], Long) = {
    spark.sparkContext.setJobGroup("sources", "sources")
    var rows = Array.empty[Row]
    var handlerEnd = 0L
    tracer.span("sources.poll") {
      val poll = tracer.current
      consumer.poll { df =>
        spark.sparkContext.setJobGroup("functions", "functions")
        rows = tracer.span("functions.handler") { decode(df) }
        handlerEnd = System.nanoTime()
        spark.sparkContext.setJobGroup("sources", "sources")
      }
      // a zero-length deliver mark per append batch (its lsn) delivered
      if (tracer.enabled) rows.map(_.getLong(3)).distinct.foreach { lsn =>
        tracer.record("sources.deliver", lsn, Thread.currentThread().getName,
          handlerEnd, handlerEnd, poll)
      }
    }
    if (tracer.enabled && rows.nonEmpty) replayDecode(rows)
    (rows.toSeq.map(Delivered.from), handlerEnd)
  }

  /** Traced runs only: time the two per-record public calls the decode
    * UDFs make, on the delivered ciphertexts. */
  private def replayDecode(rows: Array[Row]): Unit = {
    def meta(r: Row): Map[String, Array[Byte]] = r.getMap[String, Array[Byte]](6).toMap
    val plains = tracer.span("crypto.decrypt", replay = true) {
      rows.map(r => decryptor.decrypt(r.getAs[Array[Byte]](8), r.getAs[Array[Byte]](4),
        r.getTimestamp(5).getTime, meta(r)))
    }
    tracer.span("functions.decode", replay = true) {
      plains.foreach(p => ConfluentAvro.deserialize(p, catalog).toString)
    }
  }

  def logBytes: Long = Files2.bytesUnder(root.resolve("log"))
  def storedBytes: Long = logBytes + Files2.bytesUnder(root.resolve("sink"))
  def sinkManifestBytes: Long = {
    val m = root.resolve("sink").resolve("manifest.json")
    if (Files.exists(m)) Files.size(m) else 0L
  }
  def sinkFiles: Int = sink.manifest().files.size
  def sourceCursor: Cursor = log.currentCursor(Topic)
  def sinkCursor: Cursor = sink.cursorFor(Topic)
}

object EventPath {
  val Partitions = 4
  val ReplicateBatch = 5000
}

object Delivered {
  def from(r: Row): Delivered = {
    val meta = r.getMap[String, Array[Byte]](6).toMap
    Delivered(r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
      EventGen.eventHash(r.getAs[Array[Byte]](4), r.getString(7), r.getTimestamp(5).getTime, meta))
  }
}

/** The three event-path correctness gates over everything appended and
  * delivered in one unit of work. */
object EventChecks {
  def run(expectedCount: Long, expectedDigest: Long, got: Seq[Delivered]): Seq[(String, Boolean, String)] = {
    val distinct = got.map(d => (d.partition, d.offset)).distinct.size
    val digest = got.map(_.hash).sum
    val ordered = got.groupBy(_.partition).forall { case (_, ds) =>
      val ids = ds.sortBy(_.offset).map(_.id)
      ids.zip(ids.drop(1)).forall { case (a, b) => a < b }
    }
    Seq(
      ("exactly_once", distinct == expectedCount && got.size == expectedCount,
        s"distinct (partition, offset) $distinct, delivered ${got.size}, appended $expectedCount"),
      ("digest", digest == expectedDigest && got.size == expectedCount,
        f"decoded digest $digest%016x, generator digest $expectedDigest%016x"),
      ("partition_order", ordered, "offsets follow source id order within each partition"))
  }
}
