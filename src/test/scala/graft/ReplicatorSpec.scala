package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.time.Instant

import org.scalatest.funsuite.AnyFunSuite

import graft.codec.{Cursor, MetadataCodec}
import graft.model.Event
import graft.replicate.Replicator
import graft.sources.KafkaShapedLog
import graft.store.EventLog

/** Replication pipeline: drain loop, EOS commit, resume, header build
  * (SURVEY §3-C, §5 cat 6; EventReplicatorWorkerIT analogs). */
class ReplicatorSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def fixture(): (EventLog, KafkaShapedLog, Replicator) = {
    val log = EventLog(Files.createTempDirectory("graft-src-").toString, spark)
    val sink = KafkaShapedLog(Files.createTempDirectory("graft-sink-").toString, spark)
    (log, sink, new Replicator(log, sink, batchSize = 2))
  }

  private def ev(i: Int): Event =
    Event(s"key-$i".getBytes(UTF_8), s"payload-$i".getBytes(UTF_8),
      Instant.parse("2024-01-01T00:00:00Z").plusSeconds(i),
      Map("mk" -> s"mv-$i".getBytes(UTF_8)))

  test("drain loop replicates everything in multiple polls (multi-poll drain)") {
    val (log, sink, rep) = fixture()
    log.saveAll("t_events", (1 to 5).map(ev))
    assert(rep.run("t_events") == 5L)
    val rows = sink.read("t_events").orderBy("offset").collect()
    assert(rows.length == 5)
    assert(rows.map(_.getAs[Long]("offset")).toSeq == (0L to 4L))
    assert(rows.map(r => new String(r.getAs[Array[Byte]]("key"), UTF_8)).toSeq ==
      (1 to 5).map(i => s"key-$i"))
    // cursor persisted as (lsn,id) of the last replicated row
    assert(sink.cursorFor("t_events") == Cursor(1, 5))
    // idempotent: nothing new → zero
    assert(rep.run("t_events") == 0L)
  }

  test("same-LSN siblings with batch < group size replicate exactly once (G2)") {
    val (log, sink, rep) = fixture() // batchSize = 2
    log.saveAll("t_events", (1 to 5).map(ev)) // one lsn for all 5
    assert(rep.run("t_events") == 5L)
    val offsets = sink.read("t_events").collect().map(_.getAs[Long]("offset")).sorted
    assert(offsets.toSeq == (0L to 4L), "no duplicates, no gaps")
  }

  test("resume from cursor after new appends (EventReplicatorWorkerIT.java:282-326)") {
    val (log, sink, rep) = fixture()
    log.saveAll("t_events", (1 to 3).map(ev))
    assert(rep.run("t_events") == 3L)
    log.saveAll("t_events", (4 to 6).map(ev))
    assert(rep.lag("t_events") == 1L) // sink at lsn 1, source at lsn 2
    assert(rep.run("t_events") == 3L)
    assert(sink.read("t_events").count() == 6L)
    assert(sink.cursorFor("t_events") == Cursor(2, 6))
  }

  test("headers carry id, lsn and stored metadata, sorted by key (T9)") {
    val (log, sink, rep) = fixture()
    log.saveAll("t_events", Seq(ev(1)))
    rep.run("t_events")
    val r = sink.read("t_events").collect()(0)
    val headers = r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("headers"))
      .map(h => h.getAs[String]("key") -> new String(h.getAs[Array[Byte]]("value"), UTF_8))
    assert(headers.map(_._1) == Seq("id", "lsn", "mk"), "sorted header keys")
    assert(headers.toMap == Map("id" -> "1", "lsn" -> "1", "mk" -> "mv-1"))
  }

  test("value bytes and timestamp pass through verbatim (T5)") {
    val (log, sink, rep) = fixture()
    val e = ev(7)
    log.saveAll("t_events", Seq(e))
    rep.run("t_events")
    val r = sink.read("t_events").collect()(0)
    assert(r.getAs[Array[Byte]]("value").sameElements(e.payload))
    assert(r.getAs[java.sql.Timestamp]("timestamp").toInstant == e.timestamp)
  }

  test("replicateAll discovers topics and drains each (S8/F4)") {
    val (log, sink, rep) = fixture()
    log.saveAll("a_events", (1 to 2).map(ev))
    log.saveAll("b_events", (3 to 4).map(ev))
    val res = rep.replicateAll()
    assert(res == Map("a_events" -> 2L, "b_events" -> 2L))
    assert(sink.read("a_events").count() == 2)
    assert(sink.read("b_events").count() == 2)
  }

  test("direct publish (S2): headers sorted, kid included, timestamps verbatim") {
    val spark2 = TestSpark.spark
    val sink = KafkaShapedLog(Files.createTempDirectory("graft-pub-").toString, spark2)
    val e = Event("k1".getBytes(UTF_8), "payload".getBytes(UTF_8),
      Instant.parse("2024-02-01T10:00:00.123Z"),
      Map("zk" -> "z".getBytes(UTF_8), "ak" -> "a".getBytes(UTF_8)))
    // storage layer adds kid for encrypted events — publish must carry it through
    val withKid = new Event(e.key, e.payload, e.timestamp,
      e.metadata + ("kid" -> "test-kms://k/1".getBytes(UTF_8)))
    assert(sink.publishEvents("pub_events", Seq(withKid)) == 1L)
    val r = sink.read("pub_events").collect()(0)
    val headerKeys = r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("headers"))
      .map(_.getAs[String]("key"))
    assert(headerKeys == Seq("ak", "kid", "zk"), "headers sorted by key, kid present")
    assert(r.getAs[java.sql.Timestamp]("timestamp").toInstant == withKid.timestamp)
    // successive publishes advance offsets
    assert(sink.publishEvents("pub_events", Seq(e)) == 1L)
    assert(sink.read("pub_events").count() == 2)
    assert(sink.nextOffset("pub_events", 0) == 2L)
  }

  test("concurrent publishes serialize: cursor counts every transaction, offsets dense") {
    val sink = KafkaShapedLog(Files.createTempDirectory("graft-pub2-").toString, TestSpark.spark)
    def e(i: Int) = Event(s"ck-$i".getBytes(UTF_8), s"p-$i".getBytes(UTF_8),
      Instant.parse("2024-02-01T10:00:00Z").plusSeconds(i))
    val threads = (0 until 4).map { t =>
      new Thread(() => { sink.publishEvents("cpub_events", Seq(e(2 * t), e(2 * t + 1))); () })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    // the by-name cursor evaluates inside appendTxn's lock, so all four
    // transactions count — a pre-lock read would lose lsn/id advances
    val cur = sink.manifest().cursors("_publish.cpub_events")
    assert(cur == Cursor(4, 8), s"lost publish cursor update: $cur")
    val offs = sink.read("cpub_events").collect()
      .groupBy(_.getAs[Int]("partition"))
      .map { case (p, rs) => p -> rs.map(_.getAs[Long]("offset")).sorted.toSeq }
    offs.foreach { case (p, os) =>
      assert(os == (0L until os.length), s"partition $p offsets not dense: $os")
    }
    assert(offs.values.map(_.size).sum == 8)
  }

  test("runLoop drains per tick at the configured cadence") {
    val (log, sink, rep) = fixture()
    log.saveAll("t_events", (1 to 3).map(ev))
    val perTick = rep.runLoop("t_events", intervalMillis = 0, maxTicks = 3)
    assert(perTick.head == 3L)
    assert(perTick.tail.forall(_ == 0L), "subsequent ticks see an empty backlog")
  }

  test("user metadata key 'lsn' replicates (duplicate header keys are legal, like Kafka)") {
    val (log, sink, rep) = fixture()
    log.saveAll("tl_events", Seq(
      Event("k".getBytes(UTF_8), "p".getBytes(UTF_8),
        Instant.parse("2024-01-01T00:00:00Z"),
        Map("lsn" -> "user-set".getBytes(UTF_8)))))  // 'lsn' is user-settable; id/kid are not (F2)
    assert(rep.run("tl_events") == 1L)
    val headers = sink.read("tl_events").collect()(0)
      .getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("headers")
      .map(h => h.getString(0) -> new String(h.getAs[Array[Byte]](1), UTF_8))
    // both the user entry and the system-stamped one survive, sorted by key
    assert(headers.count(_._1 == "lsn") == 2, headers)
    assert(headers.map(_._2).contains("user-set"))
    assert(headers.map(_._1) == headers.map(_._1).sorted)
  }

  test("streaming replication: AvailableNow drain is exactly-once, even with a wiped checkpoint") {
    val (log, sink, rep) = fixture()
    log.saveAll("ts_events", (1 to 5).map(ev))
    val ckpt = Files.createTempDirectory("graft-repl-ckpt-")
    val q1 = rep.replicateStream("ts_events", ckpt.resolve("c1").toString)
    q1.awaitTermination()
    assert(sink.read("ts_events").count() == 5)
    // new appends → second run picks up only the tail
    log.saveAll("ts_events", (6 to 8).map(ev))
    val q2 = rep.replicateStream("ts_events", ckpt.resolve("c1").toString)
    q2.awaitTermination()
    val rows = sink.read("ts_events").orderBy("offset").collect()
    assert(rows.length == 8)
    assert(rows.map(r => new String(r.getAs[Array[Byte]]("key"), UTF_8)).toSeq ==
      (1 to 8).map(i => s"key-$i"))
    // wiped checkpoint = full source replay; the sink cursor re-filter
    // must drop every already-committed row (EOS without the checkpoint)
    val q3 = rep.replicateStream("ts_events", ckpt.resolve("c2-fresh").toString)
    q3.awaitTermination()
    assert(sink.read("ts_events").count() == 8)
  }

  test("streaming replication stays exactly-once across mid-stream compaction and vacuum") {
    // compaction republishes EVERY row inside a fresh file generation; the
    // stream must still commit each row exactly once — committed rows are
    // not re-committed, genuinely new ones are — and vacuuming the old
    // generation (already-processed files) must not disturb the stream.
    val (log, sink, rep) = fixture()
    val ckpt = Files.createTempDirectory("graft-repl-cv-")
    log.saveAll("cv_events", (1 to 4).map(ev))
    rep.replicateStream("cv_events", ckpt.resolve("c").toString).awaitTermination()
    assert(sink.read("cv_events").count() == 4)
    // append more, then compact BEFORE the stream drains the tail: the
    // compacted generation carries committed rows 1-4 AND new rows 5-8
    log.saveAll("cv_events", (5 to 8).map(ev))
    log.compact("cv_events", targetFiles = 1)
    assert(log.vacuum("cv_events") > 0) // old generation reclaimed
    rep.replicateStream("cv_events", ckpt.resolve("c").toString).awaitTermination()
    val rows = sink.read("cv_events").orderBy("offset").collect()
    assert(rows.length == 8, s"exactly-once violated: ${rows.length} rows")
    assert(rows.map(r => new String(r.getAs[Array[Byte]]("key"), UTF_8)).toSeq ==
      (1 to 8).map(i => s"key-$i"), "order or content corrupted")
    // another compact+vacuum with NOTHING new: a full re-delivery of the
    // compacted file must commit zero rows
    log.compact("cv_events", targetFiles = 2)
    assert(log.vacuum("cv_events") > 0)
    rep.replicateStream("cv_events", ckpt.resolve("c").toString).awaitTermination()
    assert(sink.read("cv_events").count() == 8)
  }

  test("drain heals a retention gap above the sink cursor (fallback to ordered scan)") {
    val log = EventLog(Files.createTempDirectory("graft-src-").toString, spark)
    val sink = KafkaShapedLog(Files.createTempDirectory("graft-sink-").toString, spark)
    val rep = new Replicator(log, sink, batchSize = 2)
    log.saveAll("tg_events", (1 to 3).map(ev))  // lsn 1, ids 1-3
    log.saveAll("tg_events", (4 to 6).map(ev))  // lsn 2, ids 4-6
    log.saveAll("tg_events", (7 to 9).map(ev))  // lsn 3, ids 7-9
    // retention drops the first two appends' segment files entirely (ids 1-6)
    assert(log.truncateBefore("tg_events", Cursor(2, 6)) > 0)
    assert(log.read("tg_events").agg(org.apache.spark.sql.functions.min("id"))
      .collect()(0).getLong(0) == 7L)
    // fresh sink (cursor zero): the dense window (0, 2] is all-deleted —
    // without the scan fallback this would wedge at 0 forever
    assert(rep.run("tg_events") == 3L)
    val keys = sink.read("tg_events").collect()
      .map(r => new String(r.getAs[Array[Byte]]("key"), UTF_8)).sorted.toSeq
    assert(keys == (7 to 9).map(i => s"key-$i"))
  }

  test("streaming replication fails fast on a gap instead of silently dropping rows") {
    val log = EventLog(Files.createTempDirectory("graft-src-").toString, spark)
    val sink = KafkaShapedLog(Files.createTempDirectory("graft-sink-").toString, spark)
    val rep = new Replicator(log, sink)
    log.saveAll("tf_events", (1 to 3).map(ev))  // lsn 1, ids 1-3
    log.saveAll("tf_events", (4 to 6).map(ev))  // lsn 2, ids 4-6
    assert(log.truncateBefore("tf_events", Cursor(1, 3)) > 0) // ids 1-3 expire
    // retention drops the files from the manifest (the stream's view);
    // vacuum then removes them from disk too
    assert(log.vacuum("tf_events") > 0)
    val ckpt = Files.createTempDirectory("graft-repl-gap-")
    val q = rep.replicateStream("tf_events", ckpt.toString)
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(err).exists(c => c.isInstanceOf[IllegalStateException] &&
      c.getMessage.contains("gapped delivery")))
    assert(sink.read("tf_events").count() == 0) // nothing half-committed
  }

  test("streaming replication survives out-of-order file delivery (park + promote, EOS)") {
    import org.apache.spark.sql.functions.{col, input_file_name, max => smax, min => smin}
    val srcDir = Files.createTempDirectory("graft-ooo-src-")
    val log = EventLog(srcDir.toString, spark)
    val sink = KafkaShapedLog(Files.createTempDirectory("graft-ooo-sink-").toString, spark)
    val rep = new Replicator(log, sink)
    log.saveAll("oo_events", (1 to 3).map(ev)) // lsn 1, ids 1-3
    log.saveAll("oo_events", (4 to 6).map(ev)) // lsn 2, ids 4-6
    // Invert modification times so a reader ordering files by mtime would
    // deliver later-id files BEFORE earlier-id ones (coarse-mtime
    // reordering); delivery must stay in (lsn, id) order regardless.
    val perFile = log.read("oo_events")
      .groupBy(input_file_name().as("f")).agg(smin(col("id")).as("lo")).collect()
      .map(r => r.getString(0).stripPrefix("file:") -> r.getLong(1))
      .sortBy(_._2)
    val t0 = java.time.Instant.now().minusSeconds(600)
    perFile.zipWithIndex.foreach { case ((f, _), i) =>
      // earliest ids get the NEWEST mtime → delivered last
      Files.setLastModifiedTime(java.nio.file.Paths.get(f),
        java.nio.file.attribute.FileTime.from(
          t0.plusSeconds((perFile.length - i) * 60L)))
    }
    val ckpt = Files.createTempDirectory("graft-ooo-ckpt-")
    val q = rep.replicateStream("oo_events", ckpt.resolve("c1").toString,
      maxAppendsPerTrigger = 1)
    q.awaitTermination()
    val rows = sink.read("oo_events").orderBy("offset").collect()
    assert(rows.map(_.getAs[Long]("offset")).toSeq == (0L to 5L), "offsets dense")
    assert(rows.map(r => new String(r.getAs[Array[Byte]]("key"), UTF_8)).toSeq ==
      (1 to 6).map(i => s"key-$i"), "offset order == (lsn,id) order despite reordering")
    assert(sink.cursorFor("oo_events") == Cursor(2, 6))
    // crash-replay: fresh checkpoint = full source replay → no duplicates
    val q2 = rep.replicateStream("oo_events", ckpt.resolve("c2").toString,
      maxAppendsPerTrigger = 1)
    q2.awaitTermination()
    assert(sink.read("oo_events").count() == 6)
  }

  test("a segment a crashed append left unlisted is never published (stream == drain)") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    val srcDir = Files.createTempDirectory("graft-crash-src-")
    EventLog(srcDir.toString, spark).saveAll("cr_events", (1 to 3).map(ev)) // lsn 1, ids 1-3
    // The crash: an append moved its file into the topic dir, carrying the
    // next range (lsn 2, ids 4-6), and died before its manifest write. A
    // throwaway log sharing the committed prefix mints that file.
    val other = EventLog(Files.createTempDirectory("graft-crash-other-").toString, spark)
    other.saveAll("cr_events", (1 to 3).map(ev))
    other.saveAll("cr_events", (4 to 6).map(i =>
      Event(s"phantom-$i".getBytes(UTF_8), s"phantom-$i".getBytes(UTF_8),
        Instant.parse("2024-01-01T00:00:00Z"), Map.empty[String, Array[Byte]])))
    val phantoms = {
      val s = Files.list(other.root.resolve("cr_events"))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(_.getFileName.toString.startsWith("seg-2-")).toList
      } finally s.close()
    }
    assert(phantoms.nonEmpty)
    phantoms.foreach(f => Files.copy(f, srcDir.resolve("cr_events").resolve(f.getFileName)))
    // restart the writer and append: the real lsn 2 reuses ids 4-6
    val log = EventLog(srcDir.toString, spark)
    log.saveAll("cr_events", (4 to 6).map(ev))
    log.saveAll("cr_events", (7 to 8).map(ev))
    assert(phantoms.forall(f => Files.exists(srcDir.resolve("cr_events").resolve(f.getFileName))))

    def records(k: KafkaShapedLog): Seq[(Int, Long, String, String, String)] =
      k.read("cr_events").orderBy("partition", "offset").collect().toSeq.map { r =>
        (r.getAs[Int]("partition"), r.getAs[Long]("offset"),
          new String(r.getAs[Array[Byte]]("key"), UTF_8),
          new String(r.getAs[Array[Byte]]("value"), UTF_8),
          r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("headers"))
            .map(h => h.getString(0) + "=" + new String(h.getAs[Array[Byte]](1), UTF_8))
            .mkString(","))
      }
    val drained = KafkaShapedLog(Files.createTempDirectory("graft-crash-run-").toString, spark)
    assert(new Replicator(log, drained).run("cr_events") == 8L)
    val streamed = KafkaShapedLog(Files.createTempDirectory("graft-crash-str-").toString, spark)
    new Replicator(log, streamed).replicateStream("cr_events",
      Files.createTempDirectory("graft-crash-ckpt-").toString).awaitTermination()
    assert(records(drained).map(_._3) == (1 to 8).map(i => s"key-$i"))
    assert(records(streamed) == records(drained), "stream must publish what run() does")
    assert(streamed.cursorFor("cr_events") == Cursor(3, 8))

    val keys = scala.collection.mutable.ArrayBuffer.empty[String]
    graft.streaming.Subscribe.stream(spark, srcDir.toString, "cr_events")
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", Files.createTempDirectory("graft-crash-sub-").toString)
      .foreachBatch { (df: DataFrame, _: Long) =>
        keys ++= df.select("key").collect().map(r => new String(r.getAs[Array[Byte]](0), UTF_8))
        ()
      }
      .start().awaitTermination()
    assert(keys.sorted.toSeq == (1 to 8).map(i => s"key-$i"), "no phantom, none dropped")
  }

  test("multi-topic streaming replication: one query, per-topic cursors exact (≥3 topics, interleaved)") {
    val log = EventLog(Files.createTempDirectory("graft-mt-src-").toString, spark)
    val sink = KafkaShapedLog(Files.createTempDirectory("graft-mt-sink-").toString, spark)
    val rep = new Replicator(log, sink)
    // interleaved appends across three topics (distinct per-topic lsn/id spaces)
    log.saveAll("ma_events", (1 to 2).map(ev))   // a: lsn1 ids1-2
    log.saveAll("mb_events", (1 to 3).map(ev))   // b: lsn1 ids1-3
    log.saveAll("mc_events", Seq(ev(1)))         // c: lsn1 id1
    log.saveAll("ma_events", (3 to 4).map(ev))   // a: lsn2 ids3-4
    log.saveAll("mc_events", (2 to 3).map(ev))   // c: lsn2 ids2-3
    log.saveAll("mb_events", Seq(ev(4)))         // b: lsn2 id4
    val topics = Seq("ma_events", "mb_events", "mc_events")
    val ckpt = Files.createTempDirectory("graft-mt-ckpt-")
    val q = rep.replicateStreamAll(topics, ckpt.resolve("c1").toString,
      maxAppendsPerTrigger = 2) // several micro-batches, topics interleaved within them
    q.awaitTermination()
    assert(sink.cursorFor("ma_events") == Cursor(2, 4))
    assert(sink.cursorFor("mb_events") == Cursor(2, 4))
    assert(sink.cursorFor("mc_events") == Cursor(2, 3))
    for ((t, n) <- Seq(("ma_events", 4), ("mb_events", 4), ("mc_events", 3))) {
      val rows = sink.read(t).orderBy("offset").collect()
      assert(rows.length == n, t)
      assert(rows.map(_.getAs[Long]("offset")).toSeq == (0L until n.toLong), s"$t offsets dense")
      assert(rows.map(r => new String(r.getAs[Array[Byte]]("key"), UTF_8)).toSeq ==
        (1 to n).map(i => s"key-$i"), s"$t in (lsn,id) order")
    }
    // resume: new appends on two topics → second run commits only the deltas
    log.saveAll("ma_events", Seq(ev(5)))
    log.saveAll("mc_events", Seq(ev(4)))
    val q2 = rep.replicateStreamAll(topics, ckpt.resolve("c1").toString)
    q2.awaitTermination()
    assert(sink.cursorFor("ma_events") == Cursor(3, 5))
    assert(sink.cursorFor("mb_events") == Cursor(2, 4))
    assert(sink.cursorFor("mc_events") == Cursor(3, 4))
    assert(sink.read("ma_events").count() == 5)
    assert(sink.read("mc_events").count() == 4)
    // wiped checkpoint → full replay → cursor re-filter drops everything
    val q3 = rep.replicateStreamAll(topics, ckpt.resolve("c2-fresh").toString)
    q3.awaitTermination()
    assert(topics.map(t => sink.read(t).count()).sum == 13)
  }

  test("consumer tails the committed log with offset resume (S5 read_committed)") {
    import graft.sources.KafkaShapedConsumer
    import graft.store.TopicOffsets
    val (log, sink, rep) = fixture()
    val offsets = TopicOffsets(Files.createTempDirectory("graft-cons-").toString)
    val consumer = new KafkaShapedConsumer(sink, "t_events", offsets)

    log.saveAll("t_events", (1 to 4).map(ev))
    rep.run("t_events")
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    assert(consumer.poll(df => seen ++= df.collect().map(_.getAs[Long]("offset"))) == 4L)
    assert(seen.sorted.toSeq == (0L to 3L))

    // nothing new → empty poll, offsets untouched
    assert(consumer.poll(_ => fail("no batch expected")) == 0L)

    // new events → only the delta is delivered
    log.saveAll("t_events", (5 to 6).map(ev))
    rep.run("t_events")
    seen.clear()
    assert(consumer.poll(df => seen ++= df.collect().map(_.getAs[Long]("offset"))) == 2L)
    assert(seen.sorted.toSeq == Seq(4L, 5L))

    // crash inside handler → offsets NOT advanced → redelivery
    log.saveAll("t_events", Seq(ev(7)))
    rep.run("t_events")
    intercept[RuntimeException](consumer.poll(_ => throw new RuntimeException("boom")))
    seen.clear()
    assert(consumer.poll(df => seen ++= df.collect().map(_.getAs[Long]("offset"))) == 1L)
    assert(seen.toSeq == Seq(6L), "failed batch redelivered exactly")
  }

  private def consumerFixture(partitions: Int)
      : (EventLog, KafkaShapedLog, Replicator, graft.sources.KafkaShapedConsumer) = {
    val log = EventLog(Files.createTempDirectory("graft-src-").toString, spark)
    val sink = KafkaShapedLog(Files.createTempDirectory("graft-sink-").toString, spark,
      partitions)
    val offsets = graft.store.TopicOffsets(Files.createTempDirectory("graft-cons-").toString)
    (log, sink, new Replicator(log, sink, batchSize = 2),
      new graft.sources.KafkaShapedConsumer(sink, "t_events", offsets))
  }

  test("consumer poll: an idle poll launches no Spark job, a delivering one only its handler's") {
    val (log, _, rep, consumer) = consumerFixture(partitions = 3)
    log.saveAll("t_events", (1 to 6).map(ev))
    rep.run("t_events")
    var handlerJobs = -1
    val (n, ownJobs) = TestSpark.jobsDuring(consumer.poll { df =>
      handlerJobs = TestSpark.jobsDuring(df.collect())._2
    })
    assert(n == 6L)
    assert(handlerJobs >= 1, "the handler's collect is a job")
    assert(ownJobs == 0, s"poll launched $ownJobs jobs beside its handler's")
    assert(TestSpark.jobsDuring(consumer.poll(_ => fail("no batch expected"))) == ((0L, 0)))
  }

  test("consumer poll delivers one manifest snapshot: a commit during the handler waits for the next poll") {
    val (log, sink, rep, consumer) = consumerFixture(partitions = 3)
    log.saveAll("t_events", (1 to 5).map(ev))
    rep.run("t_events")
    log.saveAll("t_events", (6 to 9).map(ev))
    val first = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    val n = consumer.poll { df =>
      assert(rep.run("t_events") == 4L) // commits before the handler reads
      first ++= df.collect().map(r => (r.getAs[Int]("partition"), r.getAs[Long]("offset")))
    }
    assert(n == 5L, "the poll counts only its snapshot")
    assert(first.size == 5, "the handler sees only its snapshot")
    val rest = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    assert(consumer.poll(df =>
      rest ++= df.collect().map(r => (r.getAs[Int]("partition"), r.getAs[Long]("offset")))) == 4L)
    assert(rest.size == 4)
    assert(consumer.poll(_ => fail("no batch expected")) == 0L)
    val all = sink.read("t_events").collect()
      .map(r => (r.getAs[Int]("partition"), r.getAs[Long]("offset")))
    assert((first ++ rest).sorted.toSeq == all.sorted.toSeq, "every record exactly once")
  }

  test("consumer pending() is one snapshot: unconsumed records bounded by its next offsets") {
    val (log, sink, rep, consumer) = consumerFixture(partitions = 3)
    log.saveAll("t_events", (1 to 5).map(ev))
    rep.run("t_events")
    val pending = consumer.pending()
    log.saveAll("t_events", (6 to 9).map(ev))
    rep.run("t_events")
    assert(pending.count() == 5L, "records committed after the snapshot stay out")
    assert(consumer.poll(_ => ()) == 9L)
    assert(consumer.pending().count() == 0L)
    assert(sink.read("t_events").count() == 9L)
  }

  test("sink compaction: files collapse, rows/offsets/cursor stay, vacuum reclaims") {
    val (log, sink, rep) = fixture() // batchSize = 2 → several transactions
    log.saveAll("t_events", (1 to 7).map(ev))
    assert(rep.run("t_events") == 7L)
    val before = sink.read("t_events").orderBy("partition", "offset").collect().toSeq
    val filesBefore = sink.manifest().files.size
    assert(filesBefore >= 3, s"fixture should commit several files, got $filesBefore")
    sink.compact(targetFiles = 1)
    assert(sink.manifest().files.size == 1, "one compacted segment")
    assert(sink.manifest().ranges == Map(sink.manifest().files.head ->
      List(KafkaShapedLog.OffsetRange("t_events", 0, 0, 6))), "compaction records ranges")
    assert(sink.read("t_events").orderBy("partition", "offset").collect().toSeq == before,
      "compaction must not change committed records")
    assert(sink.cursorFor("t_events") == Cursor(1, 7), "cursor untouched")
    val reclaimed = sink.vacuum()
    assert(reclaimed >= filesBefore, s"old generation reclaimed, got $reclaimed")
    assert(sink.read("t_events").orderBy("partition", "offset").collect().toSeq == before,
      "read_committed view intact after vacuum")
    // idempotent append continues on the compacted generation
    log.saveAll("t_events", Seq(ev(8)))
    assert(rep.run("t_events") == 1L)
    assert(sink.read("t_events").count() == 8L)
  }

  test("appendTxn: two topics share one 4-partition sink, offsets dense per topic") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val sink = KafkaShapedLog(Files.createTempDirectory("graft-mt-").toString, spark, numPartitions = 4)
    val schema = StructType(Seq(
      StructField("key", BinaryType, nullable = true),
      StructField("value", BinaryType, nullable = true),
      KafkaShapedLog.recordSchema("headers"),
      StructField("timestamp", TimestampType, nullable = false),
      StructField("_seq", LongType, nullable = false)))
    // rows arrive in descending `_seq`: offsets must follow `_seq`, not input order
    def txn(topic: String, seqs: Range): Long = sink.appendTxn(topic,
      spark.createDataFrame(seqs.reverse.map(q => Row(s"k${q % 7}".getBytes(UTF_8),
        q.toString.getBytes(UTF_8), Seq.empty[Row],
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), q.toLong)).asJava, schema),
      topic, Cursor(1, seqs.last))
    assert(txn("mta_events", 0 until 20) == 20L)
    assert(txn("mtb_events", 100 until 112) == 12L)
    assert(txn("mta_events", 20 until 30) == 10L)
    assert(txn("mtb_events", 112 until 117) == 5L)
    assert(sink.cursorFor("mta_events") == Cursor(1, 29))
    for ((topic, total) <- Seq("mta_events" -> 30, "mtb_events" -> 17)) {
      val byPartition = sink.read(topic).collect()
        .map(r => (r.getAs[Int]("partition"), r.getAs[Long]("offset"),
          new String(r.getAs[Array[Byte]]("value"), UTF_8).toLong))
        .groupBy(_._1)
      assert(byPartition.size > 1, s"$topic: fixture keys should span partitions")
      byPartition.foreach { case (p, rs) =>
        val byOffset = rs.sortBy(_._2)
        assert(byOffset.map(_._2).toSeq == (0L until rs.length), s"$topic/$p offsets not dense")
        assert(byOffset.map(_._3).toSeq == byOffset.map(_._3).sorted.toSeq, s"$topic/$p offsets not in _seq order")
        assert(sink.nextOffset(topic, p) == rs.length.toLong)
      }
      assert(byPartition.values.map(_.length).sum == total)
    }
    // layout: one file per transaction, one topic each, rows in (partition, offset) order
    val files = sink.manifest().files
    assert(files.size == 4, s"one file per transaction, got $files")
    files.foreach { f =>
      val rows = spark.read.schema(KafkaShapedLog.recordSchema)
        .parquet(sink.root.resolve(f).toString).collect()
        .map(r => (r.getAs[String]("topic"), r.getAs[Int]("partition"), r.getAs[Long]("offset")))
      assert(rows.map(_._1).distinct.length == 1, s"$f mixes topics")
      val keys = rows.map(r => (r._2, r._3)).toSeq
      assert(keys == keys.sorted, s"$f is not in (partition, offset) order")
    }
  }

  test("malformed manifest fails fast (EventReplicatorIT.java:251-277 analog)") {
    import graft.sources.KafkaShapedLog.Manifest
    intercept[Exception](Manifest.parse("{}"))
    intercept[Exception](Manifest.parse("""{"files": [], "offsets": {}}""")) // missing cursors
    val m = Manifest.parse(
      """{"files": [], "offsets": {}, "cursors": {"t_events": "12:34"}}""")
    assert(m.cursors("t_events") == Cursor(12, 34))
    // malformed cursor value must fail init, not be silently skipped
    // (EventReplicatorIT.java:251-277)
    intercept[IllegalStateException](Manifest.parse(
      """{"files": [], "offsets": {}, "cursors": {"t_events": "1234"}}"""))
    intercept[IllegalStateException](Manifest.parse(
      """{"files": [], "offsets": {}, "cursors": {"t_events": "a:b"}}"""))
  }

  test("manifest renders and reparses losslessly") {
    import graft.sources.KafkaShapedLog.{Manifest, OffsetRange}
    val m = Manifest(
      List("staging/x/part-0.parquet", "staging/y/part-1.parquet"),
      Map(("a_events", 0) -> 5L, ("b_events", 2) -> 9L),
      Map("a_events" -> Cursor(3, 17)),
      Map("staging/x/part-0.parquet" -> List(OffsetRange("a_events", 0, 0, 4)),
        "staging/y/part-1.parquet" -> List(OffsetRange("b_events", 0, 0, 8),
          OffsetRange("b\"]}/events", 2, 3, 8))))
    assert(Manifest.parse(m.render) == m)
    // a file without ranges, and a file recorded as holding none
    val mixed = m.copy(ranges = Map("staging/y/part-1.parquet" -> Nil))
    assert(Manifest.parse(mixed.render) == mixed)
    // older manifests carry a `pending` section; it is ignored
    assert(Manifest.parse(m.render.stripSuffix("}") +
      """, "pending": {"a_events": ["18:25:4:staging/pending-1/part.parquet"]}}""") == m)
    // a manifest written before ranges were kept has no ranges section
    val legacy = withoutRanges(m.render)
    assert(!legacy.contains("ranges"))
    assert(Manifest.parse(legacy) == m.copy(ranges = Map.empty))
    // ranges are positional: one entry per listed file
    intercept[IllegalArgumentException](Manifest.parse(
      """{"files": ["a.parquet"], "offsets": {}, "cursors": {}, "ranges": []}"""))
  }

  /** `rendered` as a manifest written before ranges were kept. */
  private def withoutRanges(rendered: String): String =
    rendered.substring(0, rendered.indexOf(""", "ranges": """)) + "}"

  test("files a manifest lists without ranges are read on every poll") {
    val (_, sink, _, consumer) = consumerFixture(partitions = 4)
    sink.publishEvents("t_events", (1 to 8).map(ev))
    sink.publishEvents("t_events", (9 to 16).map(ev))
    val path = sink.root.resolve("manifest.json")
    Files.writeString(path, withoutRanges(Files.readString(path)))
    assert(consumer.poll(_.count()) == 16L)
    sink.publishEvents("t_events", (17 to 24).map(ev))
    assert(sink.manifest().ranges.size == 1, "the new transaction's file has ranges")
    var files = -1L
    var delivered = Seq.empty[Long]
    assert(consumer.poll { df =>
      files = TestSpark.filesRead(df)
      delivered = df.collect().toSeq.map(r =>
        new String(r.getAs[Array[Byte]]("value"), UTF_8).stripPrefix("payload-").toLong)
    } == 8L)
    assert(files == 3L, "both files without ranges and the new file are opened")
    assert(delivered.sorted == (17L to 24L))
  }

  test("a poll one transaction behind 40 opens one file and runs no job of its own") {
    val (_, sink, _, consumer) = consumerFixture(partitions = 4)
    (0 until 39).foreach(i => sink.publishEvents("t_events", (8 * i + 1 to 8 * i + 8).map(ev)))
    assert(consumer.poll(_ => ()) == 39L * 8)
    sink.publishEvents("t_events", (313 to 320).map(ev))
    assert(sink.manifest().files.size == 40)
    var files = -1L
    val (n, ownJobs) = TestSpark.jobsDuring(consumer.poll { df =>
      files = TestSpark.jobsDuring(TestSpark.filesRead(df))._1
    })
    assert(n == 8L)
    assert(ownJobs == 0, s"poll launched $ownJobs jobs beside its handler's")
    assert(files == 1L, s"the poll read $files files")
  }

  test("a transaction larger than the row-group bound stages one file of several row groups") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val sink = KafkaShapedLog(Files.createTempDirectory("graft-rg-").toString, spark, numPartitions = 4)
    def rowGroups(file: String): Int = {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(sink.root.resolve(file).toString),
        spark.sparkContext.hadoopConfiguration))
      try r.getRowGroups.size finally r.close()
    }
    val rnd = new scala.util.Random(7)
    val big = (1 to 3000).map(i => Event(s"key-$i".getBytes(UTF_8), rnd.nextBytes(1024),
      Instant.parse("2024-01-01T00:00:00Z").plusSeconds(i)))
    assert(sink.publishEvents("rg_events", big) == 3000L)
    assert(sink.publishEvents("rg_events", (1 to 40).map(ev)) == 40L)
    val Seq(large, small) = sink.manifest().files
    assert(rowGroups(large) > 1, "3 MiB of records in one row group")
    assert(rowGroups(small) == 1)
    assert(sink.read("rg_events").count() == 3040L)
  }

  test("a warm replicateStream micro-batch and its delivering poll compile no code") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val (log, sink, _, consumer) = consumerFixture(partitions = 4)
    val rep = new Replicator(log, sink, batchSize = 100)
    // one running query: Spark keys its compiled classes by class loader,
    // and a restarted query runs under a new one
    val q = rep.replicateStream("t_events",
      Files.createTempDirectory("graft-repl-cg-").resolve("c").toString,
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
    /** Append 40 events, replicate them and deliver them in one poll;
      * returns the classes compiled meanwhile. */
    def round(i: Int): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      log.saveAll("t_events", (40 * i + 1 to 40 * i + 40).map(ev))
      q.processAllAvailable()
      assert(consumer.poll(_.collect()) == 40L)
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    try {
      round(0)
      round(1)
      assert(round(2) == 0L, "the third micro-batch and poll compiled new classes")
      assert(q.recentProgress.count(_.numInputRows > 0) == 3, "one micro-batch per append")
    } finally q.stop()
  }

  test("drain job budget: full drain = ONE Spark job, idle poll = ZERO (scale: poll cadence)") {
    // The 100 TB shape of the drain loop: a backlog that fits one window
    // commits in a single observed write job (no pre-probe, no trailing
    // empty-window probe, no fallback scan — dense ids prove drained-ness,
    // and the sink write has no exchange), and the steady-state idle poll
    // is two metadata file reads, no job at all.
    val log = EventLog(Files.createTempDirectory("graft-src-").toString, spark)
    val sink = KafkaShapedLog(Files.createTempDirectory("graft-sink-").toString, spark)
    val rep = new Replicator(log, sink, batchSize = 100)
    log.saveAll("jb_events", (1 to 7).map(ev))
    assert(TestSpark.jobsDuring(rep.run("jb_events")) == ((7L, 1)),
      "a one-window drain must cost only the observed staged write's job")
    assert(TestSpark.jobsDuring(rep.pollAndSendBatch("jb_events")) == ((0L, 0)),
      "idle polls must cost zero Spark jobs (cursor-vs-cursor metadata check)")
    assert(TestSpark.jobsDuring(rep.run("jb_events")) == ((0L, 0)))
  }

  test("a non-empty poll into a 4-partition sink is one Spark job") {
    val log = EventLog(Files.createTempDirectory("graft-src-").toString, spark)
    val sink = KafkaShapedLog(Files.createTempDirectory("graft-sink-").toString, spark, numPartitions = 4)
    val rep = new Replicator(log, sink, batchSize = 100)
    log.saveAll("pj_events", (1 to 40).map(ev))
    assert(rep.pollAndSendBatch("pj_events") == 40L)
    log.saveAll("pj_events", (41 to 80).map(ev))
    assert(TestSpark.jobsDuring(rep.pollAndSendBatch("pj_events")) == ((40L, 1)))
    assert((0 until 4).map(sink.nextOffset("pj_events", _)).sum == 80L)
  }

  test("one AvailableNow micro-batch of replicateStream is one Spark job") {
    val log = EventLog(Files.createTempDirectory("graft-src-").toString, spark)
    val sink = KafkaShapedLog(Files.createTempDirectory("graft-sink-").toString, spark, numPartitions = 4)
    val rep = new Replicator(log, sink, batchSize = 100)
    val ckpt = Files.createTempDirectory("graft-repl-jobs-").resolve("c").toString
    log.saveAll("sj_events", (1 to 40).map(ev))
    rep.replicateStream("sj_events", ckpt).awaitTermination()
    log.saveAll("sj_events", (41 to 80).map(ev))
    val (q, jobs) = TestSpark.jobsInGroup {
      val q = rep.replicateStream("sj_events", ckpt)
      q.awaitTermination()
      q
    }(_.runId.toString)
    assert(q.recentProgress.count(_.numInputRows > 0) == 1, "the run should be one micro-batch")
    assert(jobs == 1, s"one micro-batch ran $jobs jobs")
    assert(sink.read("sj_events").count() == 80L)
  }

  test("after an empty append a poll runs no Spark job and the stream commits nothing") {
    val (log, sink, rep) = fixture()
    log.saveAll("ea_events", (1 to 3).map(ev))
    assert(rep.run("ea_events") == 3L)
    log.saveAll("ea_events", Seq.empty)
    assert(log.currentCursor("ea_events") == Cursor(2, 3), "an empty append takes an lsn, no id")
    assert(TestSpark.jobsDuring(rep.pollAndSendBatch("ea_events")) == ((0L, 0)))
    assert(TestSpark.jobsDuring(rep.run("ea_events")) == ((0L, 0)))
    val manifest = sink.root.resolve("manifest.json")
    val before = Files.readString(manifest)
    rep.replicateStream("ea_events",
      Files.createTempDirectory("graft-repl-ea-").resolve("c").toString).awaitTermination()
    assert(Files.readString(manifest) == before, "the stream committed to the sink")
  }

  test("lag gauge reads with zero Spark jobs; pending ids count from the source head") {
    val (log, _, rep) = fixture()
    log.saveAll("lz_events", (1 to 3).map(ev))
    assert(rep.run("lz_events") == 3L)
    assert(TestSpark.jobsDuring(rep.lag("lz_events")) == ((0L, 0)))
    log.saveAll("lz_events", (4 to 6).map(ev))
    assert(TestSpark.jobsDuring(rep.lag("lz_events")) == ((1L, 0)))
    // a trailing empty append moves the head lsn while ids are pending
    log.saveAll("lz_events", Seq.empty)
    assert(rep.lag("lz_events") == 2L)
    assert(rep.run("lz_events") == 3L)
    assert(TestSpark.jobsDuring(rep.lag("lz_events")) == ((0L, 0)))
  }

  test("idle check heals a stale LEGACY source cursor via reconcile (no wedged drain)") {
    // pre-manifest-cursor topic whose standalone cursor file went stale
    // (writer crashed before the cursor move): the zero-job idle check
    // would read source cursor == sink cursor == 0 and never drain — the
    // once-per-boot reconcile must repair it first
    val log = EventLog(Files.createTempDirectory("graft-src-").toString, spark)
    val sink = KafkaShapedLog(Files.createTempDirectory("graft-sink-").toString, spark)
    log.saveAll("lg_events", (1 to 5).map(ev))
    val meta = log.root.resolve("lg_events").resolve("_graft_meta")
    val legacy = Files.readString(meta.resolve("segments")).linesIterator
      .filterNot(_.startsWith("cursor=")).mkString("", "\n", "\n")
    Files.writeString(meta.resolve("segments"), legacy)
    Files.writeString(meta.resolve("cursor"), Cursor.zero.encoded)
    assert(log.currentCursor("lg_events") == Cursor.zero, "fixture: cursor is stale")
    val rep = new Replicator(log, sink, batchSize = 100)
    assert(rep.run("lg_events") == 5L, "stale legacy cursor wedged the drain")
    assert(sink.cursorFor("lg_events") == Cursor(1, 5))
    assert(rep.pollAndSendBatch("lg_events") == 0L)
  }

  test("per-key partition assignment preserves source order per partition (G9)") {
    val log = EventLog(Files.createTempDirectory("graft-src-").toString, spark)
    val sink = KafkaShapedLog(Files.createTempDirectory("graft-sink-").toString, spark, numPartitions = 4)
    val rep = new Replicator(log, sink, batchSize = 100)
    // several events per key so per-key order is observable
    val events = (1 to 20).map(i => Event(s"key-${i % 3}".getBytes(UTF_8),
      s"p-$i".getBytes(UTF_8), Instant.parse("2024-01-01T00:00:00Z").plusSeconds(i)))
    log.saveAll("t_events", events)
    rep.run("t_events")
    val rows = sink.read("t_events").collect()
    // same key → same partition
    val byKey = rows.groupBy(r => new String(r.getAs[Array[Byte]]("key"), UTF_8))
    byKey.foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Int]("partition")).distinct.length == 1)
      // offsets within the partition follow id order: payload seq increases
      val ordered = rs.sortBy(_.getAs[Long]("offset"))
        .map(r => new String(r.getAs[Array[Byte]]("value"), UTF_8).drop(2).toInt)
      assert(ordered.toSeq == ordered.sorted.toSeq, "per-key order preserved")
    }
  }
}
