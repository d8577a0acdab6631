package graft.store

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.codec.Cursor
import graft.model.{Event, KeyType}

/** Native per-topic event log: an append-ordered parquet directory with
  * driver-allocated monotone `(lsn, id)` — the Spark-first replacement for
  * the reference's Postgres event table + LsnUpdater CDC stage (SURVEY §7.1
  * step 4). Because the log itself assigns the commit sequence at append
  * time, the whole "stamp commit LSN via logical replication" pipeline
  * (/root/reference tech.kage.event.postgres.lsnupdater) disappears — G1's
  * ordering guarantee is held by construction under a single writer per
  * topic (enforced in-process here; across processes use [[LockFile]], the
  * advisory-lock analog of LockManager.java:45-84).
  *
  * Semantics preserved:
  *  - all rows of one append batch share one `lsn` (a multi-insert
  *    transaction gets one commit LSN — LsnUpdaterIT.java:132-174);
  *  - `id` is unique and monotone within the topic (bigserial);
  *  - scans resume from a row-value `(lsn, id)` cursor, so same-LSN
  *    siblings are never skipped or re-read (G2,
  *    EventReplicatorWorker.java:53-59);
  *  - topic names must end `_events` (F4, EventReplicator.java:74).
  *
  * Scale design: each append writes its own parquet files, so files are
  * naturally lsn-ranged; the cursor filter prunes all but the tail files
  * via parquet min/max stats — a resumed replicator never rescans history.
  * Readers resolve segments through the `_graft_meta/segments` MANIFEST
  * (its [[Commit.replace]] is the commit point), so compaction and retention are
  * concurrent-reader safe: they swap the manifest and leave superseded
  * files on disk until [[vacuum]]. The committed cursor rides the
  * manifest's first line, so cursor and file list commit in ONE atomic
  * rename — a reader who can see the data always sees the matching
  * cursor. Pre-manifest topics keep a standalone `_graft_meta/cursor`
  * file whose separate move had a crash window; [[reconcile]] heals those
  * by reading max(lsn,id) back from the committed data — the data, not
  * the cursor file, is the source of truth (files staged but never
  * manifested are invisible and carry no allocated ids).
  */
final class EventLog(val root: Path, spark: SparkSession) {

  private def topicDir(topic: String): Path = {
    require(topic.endsWith("_events"), s"topic must end with '_events': $topic")
    root.resolve(topic)
  }

  private def metaDir(topic: String): Path = topicDir(topic).resolve("_graft_meta")

  /** This topic's in-process writer lock — keyed on the NORMALIZED
    * (root, topic) pair so two EventLog instances over the same directory
    * share it, while different topics (G1 is per topic) and different
    * roots never contend. */
  private def writeLock(topic: String): Object =
    EventLog.writeLocks.computeIfAbsent(
      root.toAbsolutePath.normalize().toString + "#" + topic, _ => new Object)

  private def cursorFile(topic: String): Path = metaDir(topic).resolve("cursor")

  // ---- segment manifest ------------------------------------------------
  // Readers resolve the topic through `_graft_meta/segments` (one live
  // parquet file name per line, committed by Commit.replace), NOT by
  // directory listing — so compaction/retention swap the manifest and
  // leave old generation files on disk for in-flight readers; [[vacuum]]
  // is the only operation that deletes data files. "Committed" = listed:
  // a crash between file staging and the manifest move leaves orphans
  // that were never visible and are reclaimed by vacuum. (The same
  // manifest-commit model as KafkaShapedLog's EOS sink, applied to the
  // native log.)

  private def segmentsFile(topic: String): Path = metaDir(topic).resolve("segments")

  private def listParquet(d: Path): Seq[Path] = {
    if (!Files.isDirectory(d)) return Seq.empty
    val s = Files.list(d)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .toSeq.sortBy(_.getFileName.toString)
    } finally s.close()
  }

  /** Live segment files. Pre-manifest (legacy) topic dirs fall back to a
    * directory listing; the first mutation writes the manifest. */
  private def liveFiles(topic: String): Seq[Path] = {
    val sf = segmentsFile(topic)
    if (Files.exists(sf))
      Files.readString(sf).split('\n').iterator.map(_.trim)
        .filter(l => l.nonEmpty && !l.startsWith(EventLog.CursorLine))
        .map(topicDir(topic).resolve(_)).toSeq
    else listParquet(topicDir(topic))
  }

  /** Committed segment files that can hold an lsn in `(after, upTo]`: each
    * append's `seg-<lsn>-…` files by name, each compacted generation's
    * `compacted-upto-<lsn>-…` files when they hold an lsn above `after`,
    * and every other file (legacy files and older compacted generations
    * carry no lsn in their name). All but appends' files span many lsns,
    * so readers must filter their rows on lsn. */
  private[graft] def segmentsBetween(topic: String, after: Long, upTo: Long): Seq[Path] =
    liveFiles(topic).filter { f =>
      f.getFileName.toString match {
        case EventLog.SegmentName(l) => l.toLong > after && l.toLong <= upTo
        case EventLog.CompactedName(l) => l.toLong > after
        case _ => true
      }
    }

  /** The manifest's first line carries the append cursor, committed in the
    * SAME atomic rename as the file list — so a reader who sees the data
    * always sees the matching cursor (no crash window between a parquet
    * commit and a separate cursor move; Replicator.sourceIdle trusts this
    * without a data reconciliation pass). */
  private def writeSegments(topic: String, files: Seq[Path],
      cursor: Cursor): Unit = {
    Files.createDirectories(metaDir(topic))
    Commit.replace(segmentsFile(topic),
      (Seq(EventLog.CursorLine + cursor.encoded) ++
        files.map(_.getFileName.toString).sorted).mkString("", "\n", "\n"))
  }

  /** Cursor committed atomically with the segment manifest, when present
    * (pre-manifest-cursor topics need [[reconcile]] once instead). */
  def manifestCursor(topic: String): Option[Cursor] = {
    val sf = segmentsFile(topic)
    if (!Files.exists(sf)) None
    else Files.readString(sf).split('\n').iterator.map(_.trim)
      .find(_.startsWith(EventLog.CursorLine))
      .map(l => Cursor.parse(l.stripPrefix(EventLog.CursorLine)))
  }

  /** Writer-side: establish the manifest (legacy migration) and return the
    * live set. Call only under the write lock. */
  private def ensureManifest(topic: String): Seq[Path] = {
    if (!Files.exists(segmentsFile(topic)))
      writeSegments(topic, listParquet(topicDir(topic)), currentCursor(topic))
    liveFiles(topic)
  }

  /** Topics present in the log (S8 catalog scan + F4 suffix filter). */
  def topics(): Seq[String] = {
    if (!Files.isDirectory(root)) return Seq.empty
    val s = Files.list(root)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .filter(p => Files.isDirectory(p) && p.getFileName.toString.endsWith("_events"))
        .map(_.getFileName.toString).toSeq.sorted
    } finally s.close()
  }

  def createTopic(topic: String, keyType: KeyType = KeyType.Bytea): Unit = {
    Files.createDirectories(metaDir(topic))
    val kt = metaDir(topic).resolve("keytype")
    if (!Files.exists(kt)) Commit.replace(kt, keyType.name)
  }

  def keyTypeOf(topic: String): KeyType = {
    val kt = metaDir(topic).resolve("keytype")
    if (Files.exists(kt)) KeyType(Files.readString(kt).trim) else KeyType.Bytea
  }

  /** Committed append cursor = highest (lsn, id) in the topic. The
    * manifest-embedded cursor wins (atomic with the data); the standalone
    * cursor file is the legacy/pre-manifest fallback. */
  def currentCursor(topic: String): Cursor =
    manifestCursor(topic).getOrElse {
      val f = cursorFile(topic)
      if (Files.exists(f)) Cursor.parse(Files.readString(f).trim) else Cursor.zero
    }

  private def writeCursor(topic: String, c: Cursor): Unit = writeLock(topic).synchronized {
    // committed via the manifest so cursor and file list stay one atomic
    // unit; the legacy cursor file is left behind (manifest wins on read)
    writeSegments(topic, ensureManifest(topic), c)
  }

  /** Recompute the cursor from data (crash recovery for PRE-manifest
    * topics, whose cursor file was a separate move; manifest-cursor topics
    * are consistent by construction). Data wins over meta. */
  def reconcile(topic: String): Cursor = {
    val dataMax =
      if (hasData(topic))
        read(topic).agg(max(struct(col("lsn"), col("id"))).as("m"))
          .select(col("m.lsn"), col("m.id")).collect().headOption
          .filterNot(_.isNullAt(0))
          .map(r => Cursor(r.getLong(0), r.getLong(1)))
          .getOrElse(Cursor.zero)
      else Cursor.zero
    val meta = currentCursor(topic)
    val fixed = if (dataMax.lsn > meta.lsn || (dataMax.lsn == meta.lsn && dataMax.id > meta.id))
      dataMax else meta
    if (fixed != meta) writeCursor(topic, fixed)
    fixed
  }

  private def hasData(topic: String): Boolean = liveFiles(topic).nonEmpty

  /** Append a distributed batch as one transaction: every row gets
    * `lsn = cursor.lsn+1` and a consecutive `id` in the batch's row order
    * (G9). Single-writer per topic (synchronized in-process; see class doc
    * for the cross-process lock). Costs a sizes job plus the write job —
    * driver-side batches use [[saveAll]], which needs only the write. */
  def append(topic: String, batch: DataFrame): Cursor = commit(topic) { (cur, stage) =>
    // Two passes: (1) per-partition sizes, (2) id-stamped write. Ids are
    // cursor id + cumulative-partition-offset + within-partition position,
    // preserving the caller's row order deterministically (G9). Fully
    // columnar — `spark_partition_id` + `monotonically_increasing_id`
    // (= partitionId·2³³ + position) pin each row's (partition, position)
    // inside whole-stage codegen.
    // The persist guards against a NONDETERMINISTIC input plan changing
    // partition sizes between the two passes (which would corrupt the id
    // allocation). A fully deterministic plan — reads + pure projections —
    // re-evaluates identically (file splits are frozen in the resolved
    // relation), so the sizes pass just re-scans and decodes no data
    // columns at all.
    val deterministicInput = batch.queryExecution.analyzed.find(p =>
      p.expressions.exists(e => e.find(!_.deterministic).isDefined)).isEmpty
    val projected = batch.selectExpr("key", "data", "metadata", "timestamp")
      .withColumn("_p", spark_partition_id())
      .withColumn("_m", monotonically_increasing_id())
    val staged =
      if (deterministicInput) projected
      else projected.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // partial agg: one row per input partition reaches the driver
      val sizes = staged.groupBy(col("_p")).agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
      val offsets = {
        var acc = 0L
        sizes.map { case (p, c) => val o = (p, acc); acc += c; o }
      }
      // offsets join is |partitions|-sized — broadcast hash lookup, O(1)
      // per row at any partition count (a map literal would scan linearly)
      import scala.jdk.CollectionConverters._
      val offDf = spark.createDataFrame(
        offsets.map { case (p, o) => Row(p, o) }.toList.asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("_p2",
            org.apache.spark.sql.types.IntegerType, nullable = false),
          org.apache.spark.sql.types.StructField("_off",
            org.apache.spark.sql.types.LongType, nullable = false))))
      staged.join(broadcast(offDf), col("_p") === col("_p2"))
        .select(
          (lit(cur.id) + col("_off") +
            (col("_m") - col("_p").cast("long") * lit(1L << 33)) + lit(1L)).as("id"),
          col("key"), col("data"), col("metadata"), col("timestamp"),
          lit(cur.lsn + 1).as("lsn"))
        .write.mode("overwrite").parquet(stage.toString)
      sizes.map(_._2).sum
    } finally { if (!deterministicInput) staged.unpersist(); () }
  }

  /** Topics whose cursor has been reconciled against data by this
    * instance (crash-recovery check runs once per topic per boot).
    * Concurrent set: appends to DIFFERENT topics run under different
    * per-topic locks and race on this instance-level registry. */
  private val reconciled =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Driver-side append (S1 `save`/`saveAll` analog), one transaction with
    * the same rows and cursor as [[append]] of the same events. The rows
    * are already on the driver, so each is stamped here with
    * `id = cursor.id + 1 + i` and `lsn = cursor.lsn + 1`, and the commit
    * costs one Spark job: the staged write. */
  def saveAll(topic: String, events: Seq[Event]): Cursor = commit(topic) { (cur, stage) =>
    import scala.jdk.CollectionConverters._
    val lsn = cur.lsn + 1
    val rows = events.iterator.zipWithIndex
      .map { case (e, i) => EventLogSchema.storedRow(e, lsn, cur.id + 1 + i) }.toList
    spark.createDataFrame(rows.asJava, EventLogSchema.schema)
      .write.mode("overwrite").parquet(stage.toString)
    events.size.toLong
  }

  /** One append transaction around `writeStage(cursor, stageDir)`, which
    * writes the batch's rows, stamped `lsn = cursor.lsn + 1` and ids
    * `cursor.id + 1 …`, as parquet into `stageDir` and returns their count.
    *
    * The first append to a topic per EventLog instance reconciles the
    * cursor from data first when the topic predates the manifest cursor: a
    * previous process may have crashed between the parquet commit and the
    * cursor move, and allocating from the stale cursor would mint
    * duplicate (lsn, id) pairs — breaking the dense-id invariant
    * everything downstream relies on. A manifest-embedded cursor is
    * data-consistent by construction (one atomic rename commits both), so
    * it needs no repair scan.
    *
    * The write lands in a staging dir and [[publish]] commits it: readers
    * never see partial task output, and a crash anywhere before the
    * manifest replace leaves the cursor untouched, so no (lsn,id) was ever
    * visible. */
  private def commit(topic: String)(writeStage: (Cursor, Path) => Long): Cursor =
    writeLock(topic).synchronized {
      createTopic(topic)
      if (!reconciled.contains(topic)) {
        if (manifestCursor(topic).isEmpty) reconcile(topic)
        reconciled.add(topic)
      }
      val cur = currentCursor(topic)
      val live = ensureManifest(topic)
      val stage = topicDir(topic).resolve("_graft_stage_append")
      FileTree.deleteRecursively(stage)
      val n = writeStage(cur, stage)
      val next = Cursor(cur.lsn + 1, cur.id + n)
      publish(topic, stage, s"seg-${next.lsn}", live, next)
      next
    }

  /** Move `stage`'s parquet into the topic dir as
    * `<prefix>-<stamp>-<i>.parquet`, force them, and commit `keep` plus
    * them with `cursor` in ONE manifest replace; then clear the stage. A
    * crash before the replace leaves only unlisted, vacuum-able files. */
  private def publish(topic: String, stage: Path, prefix: String,
      keep: Seq[Path], cursor: Cursor): Unit = {
    val dir = topicDir(topic)
    val stamp = System.nanoTime()
    val moved = listParquet(stage).zipWithIndex.map { case (f, i) =>
      Files.move(f, dir.resolve(s"$prefix-$stamp-$i.parquet"))
    }
    Commit.force(moved :+ dir)
    writeSegments(topic, keep ++ moved, cursor)
    FileTree.deleteRecursively(stage)
  }

  /** Full bounded read of a topic (unordered; order with scan()) —
    * manifest-gated: only committed segment files are visible, never
    * staged/orphaned ones or superseded compaction generations. */
  def read(topic: String): DataFrame = {
    val files = liveFiles(topic)
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], EventLogSchema.schema)
    else
      spark.read.schema(EventLogSchema.schema).parquet(files.map(_.toString): _*)
  }

  /** Analytics offload: export a topic to a DATE-PARTITIONED lake layout
    * (`outPath/event_date=YYYY-MM-DD/part-*.parquet`) — SURVEY §9.1's
    * time-travel layout. The operational log itself stays (lsn,id)-ordered
    * segments (cursor scans prune on lsn/id stats); time-bounded analytics
    * instead read this export, where a date predicate prunes at FILE level
    * before any row group is opened (EventLogSpec pins the pruning via the
    * scan's numFiles metric). At 100 TB the export runs incrementally off
    * the replication cursor (drainRange → append to the partitioned
    * table); the one-shot form here is the full-rewrite spelling. */
  def exportPartitioned(topic: String, outPath: String): Unit =
    read(topic)
      .withColumn("event_date", date_format(col("timestamp"), "yyyy-MM-dd"))
      .write.mode("overwrite").partitionBy("event_date").parquet(outPath)

  /** S4: resumable total-order keyset scan —
    * `WHERE lsn IS NOT NULL AND (lsn,id) > cursor ORDER BY lsn,id LIMIT n`
    * (EventReplicatorWorker.java:66-72). The struct comparison gives
    * row-value semantics but is not a parquet-pushable predicate, so the
    * equivalent scalar disjunction
    * `lsn > c.lsn OR (lsn = c.lsn AND id > c.id)` is conjoined — parquet
    * pushes OR-of-range predicates, so min/max stats prune BOTH all
    * non-tail-lsn files AND, within the cursor's own lsn (one giant append
    * drained in batches), all row groups whose id range is already
    * consumed. That keeps a drain loop O(tail) per poll instead of
    * re-scanning the whole segment each time. */
  def scan(topic: String, after: Cursor, limit: Int): DataFrame =
    read(topic)
      .filter(col("lsn").isNotNull && col("lsn") >= after.lsn &&
        (col("lsn") > after.lsn || (col("lsn") === after.lsn && col("id") > after.id)) &&
        struct(col("lsn"), col("id")) > struct(lit(after.lsn), lit(after.id)))
      .orderBy(col("lsn"), col("id"))
      .limit(limit)

  /** Bounded drain read: the rows of [[scan]]`(topic, after, limit)` but
    * UNORDERED and with the exact upper bound `id <= after.id + limit`
    * conjoined. Sound and tight because EventLog ids are DENSE and
    * globally monotone by construction — `append` allocates
    * `cur.id+1 … cur.id+n` under the single-writer lock, and nothing ever
    * renumbers (retention deletes whole files but never re-uses ids, so
    * any gap it creates is strictly BELOW every live cursor). Both bounds
    * are parquet-pushable, so a poll touches only the row groups of its
    * own id window — and skipping the global ORDER BY means a drain loop
    * never sorts the whole remaining tail per poll; consumers that need
    * total order apply it downstream (the replication sink orders per
    * partition, which is the Kafka-parity guarantee G9). A store without
    * dense ids must use [[scan]]. */
  def drainRange(topic: String, after: Cursor, limit: Int): DataFrame =
    read(topic)
      .filter(col("lsn").isNotNull && col("lsn") >= after.lsn &&
        (col("lsn") > after.lsn || (col("lsn") === after.lsn && col("id") > after.id)) &&
        col("id") <= after.id + limit &&
        struct(col("lsn"), col("id")) > struct(lit(after.lsn), lit(after.id)))

  /** [[scan]] with the dense-id upper bound of [[drainRange]] — ordered,
    * for callers that need the S4 total-order contract AND know the store
    * has dense ids (the sort input is at most `limit` rows). */
  def scanRange(topic: String, after: Cursor, limit: Int): DataFrame =
    drainRange(topic, after, limit)
      .orderBy(col("lsn"), col("id"))
      .limit(limit)

  /** A1: replication lag of `cursor` behind the topic's committed append
    * cursor, with no Spark job (see [[EventLog.lag]]). */
  def lag(topic: String, cursor: Cursor): Long = EventLog.lag(currentCursor(topic), cursor)

  /** Point-in-time replay bound: all events with `(lsn,id) <= asOf`, in
    * order — the bounded-replay complement of [[scan]] (an event-sourced
    * projection rebuilt "as of" a past cursor). */
  def readAsOf(topic: String, asOf: Cursor): DataFrame =
    read(topic)
      .filter(col("lsn").isNotNull && col("lsn") <= asOf.lsn &&
        !(struct(col("lsn"), col("id")) > struct(lit(asOf.lsn), lit(asOf.id))))
      .orderBy(col("lsn"), col("id"))

  /** Retention: drop whole segment files whose events all precede `before`
    * (Kafka `retention.ms` analog, file-granular so it never rewrites
    * data; events straddling the bound are kept). Reader-safe: expired
    * segments leave the MANIFEST immediately but stay on disk for
    * in-flight readers until [[vacuum]]. */
  def truncateBefore(topic: String, before: Cursor): Int = writeLock(topic).synchronized {
    val files = ensureManifest(topic)
    if (files.isEmpty) return 0
    // one job for all segments (groupBy input_file_name), not one Spark
    // job per file — retention over thousands of small appends would
    // otherwise be driver-bound on job-scheduling overhead
    val perFile = spark.read.schema(EventLogSchema.schema)
      .parquet(files.map(_.toString): _*)
      .groupBy(input_file_name().as("f"))
      .agg(max(struct(col("lsn"), col("id"))).as("m"))
      .select(col("f"), col("m.lsn"), col("m.id")).collect()
      .map(r => {
        val name = r.getString(0).split('/').last
        name -> (r.getLong(1), r.getLong(2))
      }).toMap
    val deletable = files.filter { f =>
      perFile.get(f.getFileName.toString).exists { case (l, i) =>
        l < before.lsn || (l == before.lsn && i <= before.id)
      }
    }
    writeSegments(topic, files.diff(deletable), currentCursor(topic))
    deletable.size
  }

  /** Compact a topic's segment files: rewrite history into `targetFiles`
    * lsn-range-partitioned files. Many small appends → many small parquet
    * files; at scale the scan cost becomes file-open-bound, and compaction
    * restores big, lsn-ordered segments whose min/max stats still prune
    * cursor scans (S4). Data content and the (lsn,id) order are unchanged.
    * The new files are named for the highest lsn they hold (an `observe`
    * metric of the write), so a stream batch past it skips them unopened.
    *
    * CONCURRENT-READER SAFE: the rewrite lands in a staging dir, the new
    * generation moves in under fresh names, and the manifest swap is the
    * single commit point — plans resolved before the swap keep reading the
    * old generation's files, which stay on disk until [[vacuum]]. A crash
    * mid-compaction leaves the manifest on the old generation and only
    * vacuum-able orphans. */
  def compact(topic: String, targetFiles: Int = 1): Unit = writeLock(topic).synchronized {
    val dir = topicDir(topic)
    val oldFiles = ensureManifest(topic)
    if (oldFiles.isEmpty) return
    val stage = dir.resolve("_graft_compact_tmp")
    FileTree.deleteRecursively(stage)
    val obs = org.apache.spark.sql.Observation()
    read(topic)
      .repartitionByRange(targetFiles, col("lsn"), col("id"))
      .sortWithinPartitions(col("lsn"), col("id"))
      .observe(obs, max(col("lsn")).as("hi"))
      .write.parquet(stage.toString)
    val hi = Option(obs.get("hi")).fold(0L)(_.asInstanceOf[Long])
    publish(topic, stage, s"compacted-upto-$hi", Nil, currentCursor(topic))
  }

  /** Reclaim disk from files no committed reader can reach: parquet files
    * in the topic dir that are NOT in the manifest (superseded compaction
    * generations, truncated segments, crash orphans) and are older than
    * `graceMs`. The grace window covers plans resolved against a previous
    * manifest that are still executing — size it to the longest-running
    * read (the lakehouse vacuum-retention contract). Returns the number of
    * files deleted. */
  def vacuum(topic: String, graceMs: Long = 0L): Int = writeLock(topic).synchronized {
    val dir = topicDir(topic)
    if (!Files.isDirectory(dir)) return 0
    val live = ensureManifest(topic).map(_.getFileName.toString).toSet
    val cutoff = System.currentTimeMillis() - graceMs
    val dead = listParquet(dir).filter { f =>
      !live.contains(f.getFileName.toString) &&
        Files.getLastModifiedTime(f).toMillis <= cutoff
    }
    dead.foreach(Files.delete)
    // stale staging dirs (crashed append/compact) age out the same way
    Seq("_graft_stage_append", "_graft_compact_tmp").foreach { n =>
      val s = dir.resolve(n)
      if (Files.isDirectory(s) && Files.getLastModifiedTime(s).toMillis <= cutoff)
        FileTree.deleteRecursively(s)
    }
    // a legacy _SUCCESS marker from the pre-manifest direct-append layout
    val succ = dir.resolve("_SUCCESS")
    if (Files.isRegularFile(succ)) Files.delete(succ)
    dead.size
  }

  /** Number of parquet segment files in a topic (compaction observability). */
  def segmentFileCount(topic: String): Int = liveFiles(topic).size

  /** Maintenance policy in one call: compact when the live segment count
    * exceeds `maxSegments` (many small appends make scans
    * file-open-bound), then vacuum superseded/orphaned files older than
    * `graceMs`. Returns the number of files vacuumed. Run it from the
    * ingest cadence (e.g. every N appends) — compact and vacuum are both
    * concurrent-reader safe, so no coordination with readers or the
    * replicator is needed; size `graceMs` to the longest-running read. */
  def maintain(topic: String, maxSegments: Int = 64,
      targetFiles: Int = 8, graceMs: Long = 0L): Int = {
    if (segmentFileCount(topic) > maxSegments) compact(topic, targetFiles)
    vacuum(topic, graceMs)
  }

  /** Ordered driver-side materialization — a test/small-replay
    * convenience, NOT a query path. HARD-CAPPED at `maxRows` (the collect
    * itself is limit-bounded, so a mistaken call on a production-sized
    * topic fails loud instead of materializing it on the driver —
    * round-10 review); use [[scan]]/[[scanRange]]/[[drainRange]] for real
    * reads. Raise the cap only for replays known to be bounded. */
  def typedRead(topic: String, maxRows: Int = 100000): Seq[(Cursor, Event)] = {
    val rows = read(topic).orderBy(col("lsn"), col("id")).limit(maxRows + 1).collect()
    require(rows.length <= maxRows,
      s"typedRead('$topic') exceeds $maxRows rows — driver-side helper only; " +
        "use scan()/scanRange() for production reads")
    rows.toSeq
      .map(r => (Cursor(r.getAs[Long]("lsn"), r.getAs[Long]("id")), EventLogSchema.toEvent(r)))
  }
}

object EventLog {
  /** In-process single-writer guards, one per (root, topic) — G1 needs a
    * single writer PER TOPIC, so two topics (even in one JVM, even under
    * one root) append concurrently; only same-topic mutators serialize.
    * Cross-process exclusion stays with [[LockFile]]. */
  private val writeLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Manifest line prefix for the atomically-committed append cursor. */
  private val CursorLine = "cursor="

  /** An append's segment file name, `seg-<lsn>-<stamp>-<i>.parquet`. */
  private val SegmentName = "seg-(\\d+)-.*".r

  /** A compacted generation's file name,
    * `compacted-upto-<lsn>-<stamp>-<i>.parquet`: it holds lsns up to
    * `<lsn>`. */
  private val CompactedName = "compacted-upto-(\\d+)-.*".r

  /** A1: replication lag in sequence units (EventReplicatorWorker.java:77,
    * 242-248): `head.lsn − cursor.lsn` while some id above `cursor` is
    * committed at `head`, else 0. Ids are dense, so an id comparison tells
    * pending rows apart from empty appends, which take an lsn but no id. */
  def lag(head: Cursor, cursor: Cursor): Long =
    if (head.id <= cursor.id) 0L else math.max(head.lsn - cursor.lsn, 0L)

  def apply(root: String, spark: SparkSession): EventLog =
    new EventLog(Paths.get(root), spark)
}
