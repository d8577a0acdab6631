package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.codec.Cursor
import graft.store.{Commit, FileTree}

/** A Kafka-shaped record log with transactional appends — the replication
  * sink (S2/S12) re-expressed without a broker.
  *
  * Record schema mirrors a Kafka `ProducerRecord`: (topic, partition,
  * offset, key binary, value binary, headers array<struct<key,value>>,
  * timestamp). Offsets are per-(topic,partition) monotone.
  *
  * Exactly-once (G3 analog of EventReplicatorWorker.java:184-208, where one
  * Kafka transaction = N event sends + 1 progress-cursor send): an append
  * writes parquet files to an uncommitted staging dir, then commits by
  * atomically replacing `manifest.json` — which lists the committed files,
  * the per-partition next offsets, AND the per-source-table progress cursor.
  * Readers only see manifest-listed files (`read_committed`), so a crash
  * between staging and commit leaves invisible orphans and an unchanged
  * cursor; the replicator's resume re-filter makes the retry idempotent.
  * This is the same atomicity shape as Kafka's txn marker + the compacted
  * `_event_replicator_progress` topic (EventReplicator.java:79,158) fused
  * into one commit point.
  *
  * Scale: the manifest holds file names and counters only (O(appends), and
  * compactable); record data never passes through the driver — one Spark
  * task writes a transaction's staged file and commit is a metadata rename.
  */
final class KafkaShapedLog(val root: Path, val spark: SparkSession, val numPartitions: Int = 1) {

  import KafkaShapedLog._

  private val manifestPath = root.resolve("manifest.json")

  Files.createDirectories(root.resolve("staging"))

  def manifest(): Manifest =
    if (Files.exists(manifestPath)) Manifest.parse(Files.readString(manifestPath))
    else Manifest(Nil, Map.empty, Map.empty)

  /** Force the staged transaction dir, then replace the manifest that
    * names its files: the one commit point of an append or a compaction. */
  private def commitManifest(stage: Path, m: Manifest): Unit = {
    Commit.force(FileTree.all(stage))
    Commit.replace(manifestPath, m.render)
  }

  /** Progress cursor for a source table (S9 bootstrap scan analog — but a
    * map lookup, not a topic replay). */
  def cursorFor(sourceTable: String): Cursor =
    manifest().cursors.getOrElse(sourceTable, Cursor.zero)

  /** One transaction: append `records` (key, value, headers, timestamp and
    * `_seq` columns) to `topic` and advance the progress cursor of
    * `sourceTable` — atomically. A record's partition is its key hash; its
    * offset is dense per partition and follows `_seq` order (the source's
    * (lsn,id) order, preserving G1's total order per partition).
    *
    * The transaction is one Spark job with no exchange: `coalesce(1)`
    * gives the offset window a single-partition child, which satisfies its
    * distribution, so the window only sorts locally and the transaction
    * stages one parquet file sorted by (partition, offset). A partition's
    * base offset is looked up in a literal array of this topic's next
    * offsets, from the manifest snapshot the commit extends. The
    * per-partition counts ride the write as `observe` metrics, so the next
    * offsets need no second pass.
    *
    * `newCursor` is by-name and evaluated exactly once, AFTER the staged
    * write has completed — so callers may derive it from `observe` metrics
    * harvested during that write (Replicator.pollAndSendBatch), paying a
    * single pass over the batch. An EMPTY batch commits nothing at all
    * (`newCursor` is never evaluated, no manifest write) and returns 0 —
    * so callers need no pre-write emptiness probe; the probe's job is
    * folded into the write's own metrics. */
  def appendTxn(topic: String, records: DataFrame, sourceTable: String,
      newCursor: => Cursor): Long = synchronized {
    val m = manifest()
    val next = (0 until numPartitions).map(p => m.offsets.getOrElse((topic, p), 0L))
    val partition = col("partition")
    val obs = org.apache.spark.sql.Observation()
    val stage = root.resolve("staging").resolve(UUID.randomUUID().toString)
    records
      .withColumn("partition", pmod(xxhash64(col("key")), lit(numPartitions)).cast("int"))
      .coalesce(1)
      .withColumn("offset", row_number().over(Window.partitionBy(partition).orderBy(col("_seq")))
        .cast("long") - 1 + element_at(typedLit(next), partition + 1))
      .observe(obs, count(lit(1)).as("n"),
        (0 until numPartitions).map(p => count(when(partition === p, 1)).as(s"n$p")): _*)
      .select(lit(topic).as("topic"), partition, col("offset"), col("key"), col("value"),
        col("headers"), col("timestamp"))
      .write.parquet(stage.toString)
    val n = obs.get("n").asInstanceOf[Long]
    if (n == 0) {
      // empty transaction: nothing staged, nothing to commit — drop the
      // (file-less) stage dir and leave the manifest untouched
      FileTree.deleteRecursively(stage)
      return 0L
    }
    val files = {
      val s = Files.list(stage)
      try s.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(p => root.relativize(p).toString).toList
      finally s.close()
    }
    val offsets = (0 until numPartitions).foldLeft(m.offsets) { (acc, p) =>
      val np = obs.get(s"n$p").asInstanceOf[Long]
      if (np == 0) acc else acc + ((topic, p) -> (next(p) + np))
    }
    commitManifest(stage, Manifest(m.files ++ files, offsets,
      m.cursors + (sourceTable -> newCursor)))
    n
  }

  /** read_committed view of one topic, as of manifest `at`. */
  def read(topic: String, at: Manifest = manifest()): DataFrame = {
    val files = at.files.map(f => root.resolve(f).toString)
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], recordSchema)
        .filter(col("topic") === topic)
    else spark.read.schema(recordSchema).parquet(files: _*).filter(col("topic") === topic)
  }

  /** S2/S3 direct publish: typed events → records, bypassing the source
    * log (the reference's Kafka-backed `EventStore.save`,
    * ReactorKafkaEventStore.java:188-212). T5 projection + T6 header
    * preparation: metadata entries as headers sorted by key — `kid`
    * included when present, exactly as the transformer appends it
    * (ReactorKafkaEventTransformer.java:147-167). */
  def publishEvents(topic: String, events: Seq[graft.model.Event]): Long = {
    import java.sql.Timestamp
    val rows = events.zipWithIndex.map { case (e, i) =>
      org.apache.spark.sql.Row(
        e.key,
        e.payload,
        e.metadata.toSeq.sortBy(_._1).map { case (k, v) => org.apache.spark.sql.Row(k, v) },
        Timestamp.from(e.timestamp),
        i.toLong)
    }
    val schema = StructType(Seq(
      StructField("key", BinaryType, nullable = true),
      StructField("value", BinaryType, nullable = true),
      recordSchema("headers"),
      StructField("timestamp", TimestampType, nullable = false),
      StructField("_seq", LongType, nullable = false)))
    val df = spark.createDataFrame(rows.asJava, schema)
    // the cursor read rides the BY-NAME argument so it evaluates inside
    // appendTxn's lock — reading it here would let two concurrent
    // publishers both advance from the same stale cursor
    appendTxn(topic, df, s"_publish.$topic", {
      val cur = manifest().cursors.getOrElse(s"_publish.$topic", Cursor.zero)
      Cursor(cur.lsn + 1, cur.id + events.size)
    })
  }

  /** Next offset to be written for a partition (committed view). */
  def nextOffset(topic: String, partition: Int): Long =
    manifest().offsets.getOrElse((topic, partition), 0L)

  /** A2: consumer lag gauge = committed end − last processed − 1
    * (ReactorKafkaEventStore.java:379-400; the reference subtracts 2
    * because Kafka's read_committed end offset sits past the transaction
    * marker — this log has no marker records, so the adjustment is 1). */
  def consumerLag(topic: String, partition: Int, lastProcessed: Long): Long =
    math.max(nextOffset(topic, partition) - lastProcessed - 1, 0L)

  /** Uncommitted staged files: parquet under staging/ NOT referenced by
    * the manifest (committed files stay in their staging dir — only the
    * manifest defines visibility, so membership, not location, is what
    * separates a crash orphan from committed data). */
  def stagedFileCount(): Int = {
    val committed = manifest().files.toSet
    val s = Files.walk(root.resolve("staging"))
    try s.iterator().asScala.count(p =>
      p.getFileName.toString.endsWith(".parquet") &&
        !committed.contains(root.relativize(p).toString))
    finally s.close()
  }

  /** Compact the committed record files into `targetFiles`
    * (topic, partition, offset)-range-partitioned files: thousands of
    * small per-transaction files make the read_committed scan
    * file-open-bound at scale; compaction restores big sorted segments
    * whose min/max stats still prune offset-resumed consumers. Offsets
    * and progress cursors are untouched — only the `files` list swaps, in the same atomic manifest commit as every transaction,
    * so in-flight readers keep their old generation until [[vacuum]]. */
  def compact(targetFiles: Int = 1): Unit = synchronized {
    val m = manifest()
    if (m.files.isEmpty) return
    val stage = root.resolve("staging").resolve(s"compact-${UUID.randomUUID()}")
    spark.read.schema(recordSchema)
      .parquet(m.files.map(f => root.resolve(f).toString): _*)
      .repartitionByRange(targetFiles, col("topic"), col("partition"), col("offset"))
      .sortWithinPartitions(col("topic"), col("partition"), col("offset"))
      .write.parquet(stage.toString)
    val files = {
      val s = Files.list(stage)
      try s.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(p => root.relativize(p).toString).toList.sorted
      finally s.close()
    }
    commitManifest(stage, m.copy(files = files))
  }

  /** Reclaim staged parquet no committed reader can reach: files under
    * staging/ that are not manifest-listed, older than `graceMs` (size the
    * grace to the longest-running read, as with EventLog.vacuum). Returns
    * files deleted. */
  def vacuum(graceMs: Long = 0L): Int = synchronized {
    val live = manifest().files.toSet
    val cutoff = System.currentTimeMillis() - graceMs
    val s = Files.walk(root.resolve("staging"))
    val dead =
      try s.iterator().asScala.filter(p =>
        p.getFileName.toString.endsWith(".parquet") &&
          !live.contains(root.relativize(p).toString) &&
          Files.getLastModifiedTime(p).toMillis <= cutoff).toList
      finally s.close()
    dead.foreach(Files.deleteIfExists(_))
    // drop transaction dirs left with no data files (only _SUCCESS/crc
    // markers) so the staging tree stays bounded
    val d = Files.list(root.resolve("staging"))
    try d.iterator().asScala
      .filter(p => Files.isDirectory(p))
      .foreach { p =>
        val c = Files.walk(p)
        val hasParquet =
          try c.iterator().asScala.exists(_.getFileName.toString.endsWith(".parquet"))
          finally c.close()
        if (!hasParquet) FileTree.deleteRecursively(p)
      }
    finally d.close()
    dead.size
  }
}

object KafkaShapedLog {
  val recordSchema: StructType = StructType(Seq(
    StructField("topic", StringType, nullable = false),
    StructField("partition", IntegerType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("key", BinaryType, nullable = true),
    StructField("value", BinaryType, nullable = true),
    StructField("headers", ArrayType(StructType(Seq(
      StructField("key", StringType, nullable = false),
      StructField("value", BinaryType, nullable = true))), containsNull = false),
      nullable = true),
    StructField("timestamp", TimestampType, nullable = false)))

  /** Committed state: files + per-(topic,partition) next offsets + per-source
    * progress cursors. Hand-rolled JSON (flat, driver-side, tiny). */
  final case class Manifest(
      files: List[String],
      offsets: Map[(String, Int), Long],
      cursors: Map[String, Cursor]) {
    def render: String = {
      def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      val fs = files.map(q).mkString("[", ",", "]")
      val os = offsets.toSeq.sortBy(_._1)
        .map { case ((t, p), o) => s"${q(s"$t/$p")}: $o" }.mkString("{", ",", "}")
      val cs = cursors.toSeq.sortBy(_._1)
        .map { case (t, c) => s"${q(t)}: ${q(c.encoded)}" }.mkString("{", ",", "}")
      s"""{"files": $fs, "offsets": $os, "cursors": $cs}"""
    }
  }

  object Manifest {
    /** Minimal parser for the exact shape [[Manifest.render]] emits (other
      * sections, such as the `pending` one older manifests carry, are
      * ignored). */
    def parse(s: String): Manifest = {
      def strings(arr: String): List[String] =
        "\"((?:[^\"\\\\]|\\\\.)*)\"".r.findAllMatchIn(arr)
          .map(_.group(1).replace("\\\"", "\"").replace("\\\\", "\\")).toList
      def section(name: String): String = {
        val i = s.indexOf("\"" + name + "\"")
        require(i >= 0, s"manifest missing $name")
        val start = s.indexOf(if (name == "files") '[' else '{', i)
        val end = s.indexOf(if (name == "files") ']' else '}', start)
        s.substring(start + 1, end)
      }
      val files = strings(section("files"))
      val offsets = "\"([^\"]+)/(\\d+)\"\\s*:\\s*(\\d+)".r
        .findAllMatchIn(section("offsets"))
        .map(m => (m.group(1), m.group(2).toInt) -> m.group(3).toLong).toMap
      // strict: a malformed cursor value must fail init, not be skipped
      // (EventReplicatorIT.java:251-277 — Cursor.parse throws
      // IllegalStateException on anything but "<lsn>:<id>")
      val cursors = "\"([^\"]+)\"\\s*:\\s*\"([^\"]*)\"".r
        .findAllMatchIn(section("cursors"))
        .map(m => m.group(1) -> Cursor.parse(m.group(2))).toMap
      Manifest(files, offsets, cursors)
    }
  }

  def apply(root: String, spark: SparkSession, numPartitions: Int = 1): KafkaShapedLog =
    new KafkaShapedLog(Paths.get(root), spark, numPartitions)
}
