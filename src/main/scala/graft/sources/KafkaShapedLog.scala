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
  * The manifest also records, per file, the (topic, partition, first
  * offset, last offset) ranges it holds, committed with the file list, so
  * a consumer opens only the files its unconsumed offsets fall in. Files
  * without recorded ranges (listed by a manifest written before ranges
  * were kept) are opened by every read.
  *
  * Scale: the manifest holds file names, ranges and counters only
  * (O(appends), and compactable); record data never passes through the
  * driver — one Spark task writes a transaction's staged file and commit
  * is a metadata rename.
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
    * offsets, and the file's offset ranges, need no second pass. Row
    * groups are bounded at [[RowGroupBytes]], so a large transaction's
    * file is several row groups that a read splits across cores.
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
      .write.option("parquet.block.size", RowGroupBytes).parquet(stage.toString)
    val n = obs.get("n").asInstanceOf[Long]
    if (n == 0) {
      // empty transaction: nothing staged, nothing to commit — drop the
      // (file-less) stage dir and leave the manifest untouched
      FileTree.deleteRecursively(stage)
      return 0L
    }
    val files = stagedFiles(stage)
    val ranges = (0 until numPartitions).map(p => p -> obs.get(s"n$p").asInstanceOf[Long])
      .collect { case (p, np) if np > 0 => OffsetRange(topic, p, next(p), next(p) + np - 1) }
      .toList
    val offsets = ranges.foldLeft(m.offsets)((acc, r) => acc + ((topic, r.partition) -> (r.last + 1)))
    commitManifest(stage, Manifest(m.files ++ files, offsets,
      m.cursors + (sourceTable -> newCursor), m.ranges ++ files.map(_ -> ranges)))
    n
  }

  /** The parquet files of a staged dir, relative to the log root. */
  private def stagedFiles(stage: Path): List[String] = {
    val s = Files.list(stage)
    try s.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(p => root.relativize(p).toString).toList.sorted
    finally s.close()
  }

  /** read_committed view of one topic. */
  def read(topic: String): DataFrame = scan(topic, manifest().files)

  /** The records of `topic` in the committed `files` (manifest names). */
  def scan(topic: String, files: Seq[String]): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], recordSchema)
        .filter(col("topic") === topic)
    else parquet(files).filter(col("topic") === topic)

  /** The records of every topic in `files` (names relative to the root). */
  private def parquet(files: Seq[String]): DataFrame =
    spark.read.schema(recordSchema).parquet(files.map(f => root.resolve(f).toString): _*)

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
    * whose min/max stats still prune offset-resumed consumers. The new
    * files' offset ranges come from one grouped aggregate over the staged
    * output. Offsets and progress cursors are untouched — only the files
    * and their ranges swap, in the same atomic manifest commit as every
    * transaction, so in-flight readers keep their old generation until
    * [[vacuum]]. */
  def compact(targetFiles: Int = 1): Unit = synchronized {
    val m = manifest()
    if (m.files.isEmpty) return
    val stage = root.resolve("staging").resolve(s"compact-${UUID.randomUUID()}")
    parquet(m.files)
      .repartitionByRange(targetFiles, col("topic"), col("partition"), col("offset"))
      .sortWithinPartitions(col("topic"), col("partition"), col("offset"))
      .write.parquet(stage.toString)
    val files = stagedFiles(stage)
    val byName = files.map(f => Paths.get(f).getFileName.toString -> f).toMap
    val found = parquet(files)
      .groupBy(col("_metadata.file_name"), col("topic"), col("partition"))
      .agg(min(col("offset")), max(col("offset")))
      .collect().toList
      .map(r => byName(r.getString(0)) ->
        OffsetRange(r.getString(1), r.getInt(2), r.getLong(3), r.getLong(4)))
      .groupMap(_._1)(_._2)
    commitManifest(stage, m.copy(files = files,
      ranges = files.map(f => f -> found.getOrElse(f, Nil)).toMap))
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

  /** Row-group bound of a transaction's staged file. */
  val RowGroupBytes: Long = 1L << 20

  /** The offsets `first..last` of one (topic, partition) held by a file. */
  final case class OffsetRange(topic: String, partition: Int, first: Long, last: Long)

  /** Committed state: files, their offset ranges, per-(topic,partition)
    * next offsets and per-source progress cursors. A file with no entry in
    * `ranges` may hold any record. */
  final case class Manifest(
      files: List[String],
      offsets: Map[(String, Int), Long],
      cursors: Map[String, Cursor],
      ranges: Map[String, List[OffsetRange]] = Map.empty) {

    /** The files that may hold a record of `topic` with
      * `after < offset < before` in `partition`, for some
      * (partition, after, before) of `due`. */
    def filesMeeting(topic: String, due: Seq[(Int, Long, Long)]): List[String] =
      files.filter(f => ranges.get(f).forall(_.exists(r => r.topic == topic && due.exists {
        case (p, after, before) => r.partition == p && r.last > after && r.first < before
      })))

    /** The manifest's JSON text. Ranges of a file `files` does not list
      * are dropped. */
    def render: String = {
      def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      def obj(kvs: Seq[(String, String)]) =
        kvs.map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ",", "}")
      val fs = files.map(q).mkString("[", ",", "]")
      val os = obj(offsets.toSeq.sortBy(_._1).map { case ((t, p), o) => s"$t/$p" -> o.toString })
      val cs = obj(cursors.toSeq.sortBy(_._1).map { case (t, c) => t -> q(c.encoded) })
      // one entry per listed file, in `files` order (null: no ranges)
      val rs = files.map(f => ranges.get(f).fold("null")(_.map(r =>
        s"[${q(r.topic)},${r.partition},${r.first},${r.last}]").mkString("[", ",", "]")))
        .mkString("[", ",", "]")
      s"""{"files": $fs, "offsets": $os, "cursors": $cs, "ranges": $rs}"""
    }
  }

  object Manifest {
    private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

    /** Parses what [[Manifest.render]] emits. `ranges` may be absent (a
      * manifest written before ranges were kept); other sections, such as
      * the `pending` one older manifests carry, are ignored. */
    def parse(s: String): Manifest = {
      val json = mapper.readTree(s)
      def section(name: String) = {
        val n = json.get(name)
        require(n != null, s"manifest missing $name")
        n
      }
      def entries(n: com.fasterxml.jackson.databind.JsonNode) =
        n.properties().asScala.toList.map(e => e.getKey -> e.getValue)
      val files = section("files").asScala.map(_.asText).toList
      val offsets = entries(section("offsets")).map { case (k, v) =>
        val i = k.lastIndexOf('/')
        (k.substring(0, i), k.substring(i + 1).toInt) -> v.asLong
      }.toMap
      // strict: a malformed cursor value must fail init, not be skipped
      // (EventReplicatorIT.java:251-277 — Cursor.parse throws
      // IllegalStateException on anything but "<lsn>:<id>")
      val cursors = entries(section("cursors")).map { case (t, c) => t -> Cursor.parse(c.asText) }.toMap
      val ranges = Option(json.get("ranges")).fold(Map.empty[String, List[OffsetRange]]) { rs =>
        require(rs.size == files.size, s"manifest lists ${files.size} files but ${rs.size} ranges")
        files.zip(rs.asScala).collect { case (f, fileRanges) if !fileRanges.isNull =>
          f -> fileRanges.asScala.toList.map(r =>
            OffsetRange(r.get(0).asText, r.get(1).asInt, r.get(2).asLong, r.get(3).asLong))
        }.toMap
      }
      Manifest(files, offsets, cursors, ranges)
    }
  }

  def apply(root: String, spark: SparkSession, numPartitions: Int = 1): KafkaShapedLog =
    new KafkaShapedLog(Paths.get(root), spark, numPartitions)
}
