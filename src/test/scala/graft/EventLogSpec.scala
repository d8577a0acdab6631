package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.time.Instant

import org.scalatest.funsuite.AnyFunSuite

import graft.codec.Cursor
import graft.model.Event
import graft.store.EventLog

/** Native event log semantics: monotone (lsn,id), shared-LSN batches,
  * row-value cursor scans, crash reconcile (G1/G2, SURVEY §5 cat 6-7). */
class EventLogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def newLog(): EventLog =
    EventLog(Files.createTempDirectory("graft-log-").toString, spark)

  private def ev(i: Int): Event =
    Event(s"key-$i".getBytes(UTF_8), s"payload-$i".getBytes(UTF_8),
      Instant.parse("2024-01-01T00:00:00Z").plusSeconds(i),
      Map("n" -> i.toString.getBytes(UTF_8)))

  test("topic name must end _events (F4)") {
    val log = newLog()
    intercept[IllegalArgumentException](log.saveAll("bad_topic", Seq(ev(1))))
  }

  test("append assigns one lsn per batch, consecutive ids (G1; LsnUpdaterIT multi-insert txn)") {
    val log = newLog()
    val c1 = log.saveAll("t1_events", (1 to 3).map(ev))
    assert(c1 == Cursor(1, 3))
    val c2 = log.saveAll("t1_events", (4 to 5).map(ev))
    assert(c2 == Cursor(2, 5))
    val rows = log.read("t1_events").orderBy("id").collect()
    assert(rows.map(_.getAs[Long]("id")).toSeq == (1L to 5L))
    assert(rows.map(_.getAs[Long]("lsn")).toSeq == Seq(1L, 1L, 1L, 2L, 2L))
  }

  test("scan resumes after row-value cursor within a shared lsn (G2)") {
    val log = newLog()
    log.saveAll("t2_events", (1 to 5).map(ev)) // all share lsn=1
    // batch smaller than the same-LSN group (EventReplicatorWorkerIT.java:222-279)
    val b1 = log.scan("t2_events", Cursor.zero, 2).collect()
    assert(b1.map(_.getAs[Long]("id")).toSeq == Seq(1L, 2L))
    val b2 = log.scan("t2_events", Cursor(1, 2), 2).collect()
    assert(b2.map(_.getAs[Long]("id")).toSeq == Seq(3L, 4L))
    val b3 = log.scan("t2_events", Cursor(1, 4), 2).collect()
    assert(b3.map(_.getAs[Long]("id")).toSeq == Seq(5L))
    assert(log.scan("t2_events", Cursor(1, 5), 2).isEmpty)
  }

  test("drainRange returns exactly scan's rows (dense-id window, no order) and pushes both bounds") {
    val log = newLog()
    log.saveAll("t2b_events", (1 to 9).map(ev))   // lsn=1, ids 1-9
    log.saveAll("t2b_events", (10 to 12).map(ev)) // lsn=2, ids 10-12
    for (cursor <- Seq(Cursor.zero, Cursor(1, 4), Cursor(1, 9), Cursor(2, 11)); n <- Seq(3, 100)) {
      val viaScan = log.scan("t2b_events", cursor, n)
        .collect().map(_.getAs[Long]("id")).toSet
      val viaDrain = log.drainRange("t2b_events", cursor, n)
        .collect().map(_.getAs[Long]("id")).toSet
      assert(viaDrain == viaScan, s"cursor=$cursor n=$n")
    }
    // both the lsn disjunction and the id upper bound reach the parquet scan
    val p = log.drainRange("t2b_events", Cursor(1, 4), 3)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    val pushed = "PushedFilters: \\[[^\\]]*\\]".r.findFirstIn(p).getOrElse("")
    assert(pushed.contains("LessThanOrEqual(id"), pushed)
    assert(pushed.contains("Or(GreaterThan(lsn"), pushed)
  }

  test("scanRange is ordered and limit-bounded like scan (dense-id fast path)") {
    val log = newLog()
    log.saveAll("t2c_events", (1 to 8).map(ev))
    val got = log.scanRange("t2c_events", Cursor(1, 2), 3)
      .collect().map(_.getAs[Long]("id")).toSeq
    assert(got == Seq(3L, 4L, 5L), "ordered, exactly limit rows after the cursor")
  }

  test("scan is (lsn,id)-ordered across batches") {
    val log = newLog()
    log.saveAll("t3_events", Seq(ev(1), ev(2)))
    log.saveAll("t3_events", Seq(ev(3)))
    log.saveAll("t3_events", Seq(ev(4), ev(5)))
    val all = log.scan("t3_events", Cursor.zero, 100).collect()
    assert(all.map(r => (r.getAs[Long]("lsn"), r.getAs[Long]("id"))).toSeq ==
      Seq((1L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (3L, 5L)))
  }

  test("events roundtrip through the log byte-identically, metadata canonical") {
    val log = newLog()
    val events = (1 to 4).map(ev)
    log.saveAll("t4_events", events)
    val back = log.typedRead("t4_events").map(_._2)
    assert(back == events)
  }

  test("empty metadata stored as NULL column (PostgresEventStore.java:128-138)") {
    val log = newLog()
    log.saveAll("t5_events", Seq(Event(key = "k".getBytes(UTF_8),
      payload = Array[Byte](1), timestamp = Instant.now(), metadata = Map.empty)))
    val r = log.read("t5_events").collect()(0)
    assert(r.getAs[Array[Byte]]("metadata") == null)
  }

  test("append after a crash-stale cursor reconciles first: no duplicate (lsn,id) minted") {
    val root = Files.createTempDirectory("graft-crash-")
    val log1 = EventLog(root.toString, spark)
    log1.saveAll("tc_events", (1 to 3).map(ev))
    // simulate the crash window: data committed, cursor move lost
    Files.writeString(root.resolve("tc_events/_graft_meta/cursor"), Cursor.zero.encoded)
    // a NEW instance (fresh boot) must not reuse ids 1-3
    val log2 = EventLog(root.toString, spark)
    log2.saveAll("tc_events", Seq(ev(4), ev(5)))
    val rows = log2.read("tc_events").orderBy("id").collect()
    assert(rows.map(_.getAs[Long]("id")).toSeq == (1L to 5L), "dense unique ids after recovery")
    assert(rows.map(_.getAs[Long]("lsn")).distinct.length == 2, "second append got its own lsn")
  }

  test("reconcile repairs a stale LEGACY cursor from data (pre-manifest-cursor topic)") {
    // Current appends commit cursor + file list in ONE manifest rename, so
    // the old crash window (data committed, cursor move lost) cannot occur.
    // reconcile's remaining job is pre-manifest-cursor topics: simulate one
    // by stripping the cursor line out of the manifest and leaving no
    // standalone cursor file either.
    val log = newLog()
    log.saveAll("t6_events", (1 to 3).map(ev))
    val meta = log.root.resolve("t6_events").resolve("_graft_meta")
    val segments = meta.resolve("segments")
    val legacy = Files.readString(segments).linesIterator
      .filterNot(_.startsWith("cursor=")).mkString("", "\n", "\n")
    Files.writeString(segments, legacy)
    assert(log.currentCursor("t6_events") == Cursor.zero)
    assert(log.reconcile("t6_events") == Cursor(1, 3))
    // the repair is durable (re-committed through the manifest) and the
    // next append continues the sequence, no id reuse
    assert(log.currentCursor("t6_events") == Cursor(1, 3))
    val c = log.saveAll("t6_events", Seq(ev(4)))
    assert(c == Cursor(2, 4))
  }

  test("saveAll launches exactly one Spark job per append") {
    val log = newLog()
    assert(TestSpark.jobsDuring(log.saveAll("sj_events", (1 to 3).map(ev))) == ((Cursor(1, 3), 1)))
    assert(TestSpark.jobsDuring(log.saveAll("sj_events", (4 to 600).map(ev))) ==
      ((Cursor(2, 600), 1)))
  }

  /** Stored rows as comparable values: (lsn, id, key, data, metadata, timestamp). */
  private def stored(log: EventLog, topic: String) =
    log.read(topic).orderBy("lsn", "id").collect().toSeq.map(r => (
      r.getAs[Long]("lsn"), r.getAs[Long]("id"), r.getAs[Array[Byte]]("key").toSeq,
      r.getAs[Array[Byte]]("data").toSeq, Option(r.getAs[Array[Byte]]("metadata")).map(_.toSeq),
      r.getAs[java.sql.Timestamp]("timestamp")))

  private def appendDf(events: Seq[Event]) = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(events.map(graft.store.EventLogSchema.appendRow).asJava,
      graft.store.EventLogSchema.appendSchema)
  }

  test("saveAll stores the same rows and cursor as append(DataFrame): 1-event and empty batches") {
    val (a, b) = (newLog(), newLog())
    val noMeta = Event("k".getBytes(UTF_8), Array[Byte](1, 2), Instant.parse("2024-01-02T00:00:00Z"))
    assert(a.saveAll("pa_events", (1 to 3).map(ev)) == b.append("pa_events", appendDf((1 to 3).map(ev))))
    assert(a.saveAll("pa_events", Seq(noMeta)) == Cursor(2, 4))
    assert(b.append("pa_events", appendDf(Seq(noMeta))) == Cursor(2, 4))
    assert(stored(a, "pa_events") == stored(b, "pa_events"))
    // an empty batch still takes an lsn and allocates no id
    assert(a.saveAll("pa_events", Seq.empty) == Cursor(3, 4))
    assert(b.append("pa_events", appendDf(Seq.empty)) == Cursor(3, 4))
    assert(stored(a, "pa_events") == stored(b, "pa_events"))
    assert(a.saveAll("pa_events", Seq(ev(5))) == b.append("pa_events", appendDf(Seq(ev(5)))))
    assert(stored(a, "pa_events") == stored(b, "pa_events"))
    assert(stored(a, "pa_events").map(r => (r._1, r._2)) ==
      Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 4L), (4L, 5L)))
  }

  test("saveAll and append(DataFrame) both reconcile a pre-manifest-cursor topic on first append") {
    val base = Files.createTempDirectory("graft-legacy-")
    EventLog(base.toString, spark).saveAll("pm_events", (1 to 3).map(ev))
    val segments = base.resolve("pm_events/_graft_meta/segments")
    Files.writeString(segments, Files.readString(segments).linesIterator
      .filterNot(_.startsWith("cursor=")).mkString("", "\n", "\n"))
    val copy = Files.createTempDirectory("graft-legacy-copy-")
    Files.walk(base).sorted().forEach { p =>
      val t = copy.resolve(base.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    }
    val (a, b) = (EventLog(base.toString, spark), EventLog(copy.toString, spark))
    assert(a.currentCursor("pm_events") == Cursor.zero)
    assert(a.saveAll("pm_events", Seq(ev(4))) == Cursor(2, 4))
    assert(b.append("pm_events", appendDf(Seq(ev(4)))) == Cursor(2, 4))
    assert(stored(a, "pm_events") == stored(b, "pm_events"))
    assert(stored(a, "pm_events").map(_._2) == (1L to 4L))
  }

  test("concurrent appends: different topics parallelize, same topic stays single-writer (G1)") {
    // the write lock is per (root, topic) — a JVM-global lock would also
    // pass this, but the per-topic correctness contract is what matters:
    // every topic ends with dense ids 1..n and one lsn per append batch,
    // under concurrent mixed-topic append pressure
    val log = newLog()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val tasks = for {
        t <- Seq("ca_events", "cb_events")
        chunk <- (1 to 12).grouped(4).toSeq
      } yield pool.submit(new Runnable {
        def run(): Unit = { log.saveAll(t, chunk.map(ev)); () }
      })
      tasks.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    for (t <- Seq("ca_events", "cb_events")) {
      val rows = log.read(t).orderBy("id").collect()
      assert(rows.map(_.getAs[Long]("id")).toSeq == (1L to 12L),
        s"$t: ids not dense under concurrency")
      assert(rows.map(_.getAs[Long]("lsn")).distinct.length == 3,
        s"$t: each append batch must get its own lsn")
      assert(log.currentCursor(t) == Cursor(3, 12))
    }
  }

  test("maintain: compacts above the segment cap, vacuums superseded files, data unchanged") {
    val log = newLog()
    (1 to 6).foreach(i => log.saveAll("mt_events", Seq(ev(i)))) // 6 small segments
    val before = log.typedRead("mt_events")
    assert(log.segmentFileCount("mt_events") >= 6)
    // below the cap: no compaction, nothing to vacuum
    assert(log.maintain("mt_events", maxSegments = 64) == 0)
    assert(log.segmentFileCount("mt_events") >= 6)
    // above the cap: compaction to targetFiles, old generation vacuumed
    val vacuumed = log.maintain("mt_events", maxSegments = 4, targetFiles = 1)
    assert(vacuumed >= 6, s"expected the old generation reclaimed, got $vacuumed")
    assert(log.segmentFileCount("mt_events") == 1)
    assert(log.typedRead("mt_events") == before, "maintenance must not change data")
    assert(log.currentCursor("mt_events") == Cursor(6, 6))
  }

  test("lag gauge = max lsn - cursor lsn, empty → 0 (A1)") {
    val log = newLog()
    log.createTopic("t7_events")
    assert(log.lag("t7_events", Cursor.zero) == 0L)
    log.saveAll("t7_events", Seq(ev(1)))
    log.saveAll("t7_events", Seq(ev(2)))
    assert(log.lag("t7_events", Cursor.zero) == 2L)
    assert(log.lag("t7_events", Cursor(2, 2)) == 0L)
  }

  test("key-type matrix: topic tag round-trips typed keys (uuid/text/integer/bytea)") {
    import graft.model.KeyType
    val log = newLog()
    val cases: Seq[(KeyType, Any)] = Seq(
      KeyType.Uuid -> java.util.UUID.fromString("123e4567-e89b-12d3-a456-426614174000"),
      KeyType.Text -> "string-key",
      KeyType.Integer -> 42,
      KeyType.Bytea -> Array[Byte](1, 2, 3))
    cases.foreach { case (kt, key) =>
      val topic = s"kt_${kt.name}_events"
      log.createTopic(topic, kt)
      log.saveAll(topic, Seq(Event(kt.toBytes(key), Array[Byte](9), Instant.now())))
      assert(log.keyTypeOf(topic) == kt)
      val back = log.keyTypeOf(topic).fromBytes(log.typedRead(topic).head._2.key)
      (key, back) match {
        case (a: Array[Byte], b: Array[Byte]) => assert(a.sameElements(b))
        case (a, b) => assert(a == b)
      }
    }
  }

  test("compaction merges segments; data, order, and cursor scans unchanged") {
    val log = newLog()
    (1 to 6).grouped(2).foreach(g => log.saveAll("cp_events", g.map(ev)))
    assert(log.segmentFileCount("cp_events") >= 3, "one append = at least one file")
    val before = log.typedRead("cp_events")
    log.compact("cp_events", targetFiles = 1)
    assert(log.segmentFileCount("cp_events") == 1)
    assert(log.typedRead("cp_events") == before, "content and order preserved")
    // cursor scans still resume correctly over the compacted layout
    val b2 = log.scan("cp_events", graft.codec.Cursor(2, 4), 10).collect()
    assert(b2.map(_.getAs[Long]("id")).toSeq == Seq(5L, 6L))
    // appends continue after compaction
    assert(log.saveAll("cp_events", Seq(ev(7))) == Cursor(4, 7))
  }

  test("compaction and retention are concurrent-reader safe; vacuum reclaims superseded generations") {
    val log = newLog()
    (1 to 6).grouped(2).foreach(g => log.saveAll("cr_events", g.map(ev)))
    // resolve a plan against the pre-compaction generation
    val preCompact = log.scan("cr_events", Cursor.zero, 10)
    log.compact("cr_events", targetFiles = 1)
    // the old generation is unreferenced but still on disk — the
    // in-flight plan reads it unharmed
    assert(preCompact.collect().map(_.getAs[Long]("id")).toSeq == (1L to 6L))
    assert(log.segmentFileCount("cr_events") == 1, "live view is the compacted generation")
    val onDisk = new java.io.File(log.root.resolve("cr_events").toString)
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(onDisk > 1, "superseded generation retained for in-flight readers")
    // retention: manifest-only removal, file stays for readers
    val preTruncate = log.scan("cr_events", Cursor.zero, 10)
    // compacted to one file, nothing is whole-file expired — re-split first
    log.compact("cr_events", targetFiles = 3)
    val dropped = log.truncateBefore("cr_events", Cursor(1, 2))
    assert(dropped >= 1)
    assert(preTruncate.collect().map(_.getAs[Long]("id")).toSeq == (1L to 6L),
      "pre-retention plan still reads the full history")
    // vacuum with a huge grace keeps everything; grace 0 reclaims
    assert(log.vacuum("cr_events", graceMs = 3600000L) == 0)
    val reclaimed = log.vacuum("cr_events")
    assert(reclaimed >= 1, "unreferenced generations deleted")
    val live = log.read("cr_events").collect().map(_.getAs[Long]("id")).sorted
    assert(live.toSeq == (3L to 6L), "live view = retained tail")
    // appends continue on the vacuumed topic
    assert(log.saveAll("cr_events", Seq(ev(7))) == Cursor(4, 7))
  }

  test("exportPartitioned writes a date-partitioned layout; date predicates prune at file level") {
    import org.apache.spark.sql.functions._
    val log = newLog()
    // events straddling midnight: i=86399 lands on 2024-01-01, the rest on 01-02
    log.saveAll("xp_events", Seq(86399, 86400, 86401).map(ev))
    val out = Files.createTempDirectory("graft-export-").toString
    log.exportPartitioned("xp_events", out)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq == Seq("event_date=2024-01-01", "event_date=2024-01-02"), dirs.toSeq)
    val all = spark.read.parquet(out)
    val day1 = all.filter(col("event_date") === "2024-01-01")
    assert(day1.count() == 1 && all.count() == 3)
    assert(TestSpark.filesRead(day1) < TestSpark.filesRead(all),
      "date predicate must prune files")
    // content round-trips (id/lsn/key preserved through the export)
    assert(all.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("readAsOf replays history up to a cursor, inclusive") {
    val log = newLog()
    log.saveAll("pt_events", (1 to 3).map(ev)) // lsn 1
    log.saveAll("pt_events", (4 to 6).map(ev)) // lsn 2
    val asOf = log.readAsOf("pt_events", Cursor(1, 3)).collect()
    assert(asOf.map(_.getAs[Long]("id")).toSeq == Seq(1L, 2L, 3L))
    val mid = log.readAsOf("pt_events", Cursor(2, 5)).collect()
    assert(mid.map(_.getAs[Long]("id")).toSeq == (1L to 5L))
  }

  test("truncateBefore drops only whole expired segments (retention)") {
    val log = newLog()
    log.saveAll("tr_events", (1 to 2).map(ev)) // file 1: lsn 1
    log.saveAll("tr_events", (3 to 4).map(ev)) // file 2: lsn 2
    log.saveAll("tr_events", (5 to 6).map(ev)) // file 3: lsn 3
    val dropped = log.truncateBefore("tr_events", Cursor(2, 4))
    assert(dropped >= 1, "expired segments removed")
    val remaining = log.read("tr_events").collect().map(_.getAs[Long]("id")).sorted
    assert(remaining.toSeq == Seq(5L, 6L), "only the live tail remains")
    // appends continue; cursor untouched by retention
    assert(log.saveAll("tr_events", Seq(ev(7))) == Cursor(4, 7))
  }

  test("concurrent appends serialize: unique consecutive ids, one lsn per batch (G1)") {
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val log = newLog()
    log.createTopic("cc_events")
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fs = (1 to 8).map { b =>
        Future { log.saveAll("cc_events", (1 to 3).map(i => ev(b * 10 + i))) }
      }
      Await.result(Future.sequence(fs), 120.seconds)
      val rows = log.read("cc_events").collect()
      assert(rows.length == 24)
      assert(rows.map(_.getAs[Long]("id")).sorted.toSeq == (1L to 24L),
        "ids dense and unique under contention")
      // each append batch carries exactly one lsn and 3 rows
      val byLsn = rows.groupBy(_.getAs[Long]("lsn"))
      assert(byLsn.size == 8)
      assert(byLsn.values.forall(_.length == 3))
      assert(log.currentCursor("cc_events") == Cursor(8, 24))
    } finally pool.shutdown()
  }

  test("topic discovery lists only _events dirs sorted (S8)") {
    val log = newLog()
    log.createTopic("b_events")
    log.createTopic("a_events")
    Files.createDirectories(log.root.resolve("not_a_topic"))
    assert(log.topics() == Seq("a_events", "b_events"))
  }
}
