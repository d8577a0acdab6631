package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.time.Instant

import org.scalatest.funsuite.AnyFunSuite

import graft.model.Event
import graft.store.EventLog
import graft.streaming.{EosProjection, Subscribe}

/** Structured-Streaming subscribe (S5 analog) + exactly-once projection
  * (G4: ReactorKafkaEventStoreIT.java:263-317 resume semantics, at
  * micro-batch granularity). */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ev(i: Int, minute: Int): Event =
    Event(s"key-$i".getBytes(UTF_8), s"p-$i".getBytes(UTF_8),
      Instant.parse("2024-01-01T00:00:00Z").plusSeconds(minute * 60L + i))

  test("subscribe tails the log and a projection sees every event exactly once") {
    val logDir = Files.createTempDirectory("graft-stream-").toString
    val log = EventLog(logDir, spark)
    log.saveAll("s_events", (1 to 6).map(ev(_, 0)))

    val stateDir = Files.createTempDirectory("graft-proj-")
    val proj = new EosProjection(stateDir)
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val checkpoint = Files.createTempDirectory("graft-ckpt-").toString

    EosProjection.runAvailableNow(
      Subscribe.stream(spark, logDir, "s_events"), checkpoint, proj) { (df, _, stage) =>
      val ids = df.select("id").collect().map(_.getLong(0))
      seen ++= ids
      Files.writeString(stage.resolve("out"), ids.sorted.mkString(","))
    }
    assert(seen.sorted.toSeq == (1L to 6L))
    assert(proj.lastCommitted >= 0)

    // new events + second run from the same checkpoint: only the new batch
    log.saveAll("s_events", (7 to 9).map(ev(_, 1)))
    val before = seen.size
    EosProjection.runAvailableNow(
      Subscribe.stream(spark, logDir, "s_events"), checkpoint, proj) { (df, _, stage) =>
      val ids = df.select("id").collect().map(_.getLong(0))
      seen ++= ids
      Files.writeString(stage.resolve("out"), ids.sorted.mkString(","))
    }
    assert(seen.sorted.toSeq == (1L to 9L), "resume processes only the delta")
  }

  test("subscribe resumed after compaction + vacuum re-delivers nothing") {
    val logDir = Files.createTempDirectory("graft-stream-cv-").toString
    val log = EventLog(logDir, spark)
    log.saveAll("cv_events", (1 to 4).map(ev(_, 0)))
    log.saveAll("cv_events", (5 to 6).map(ev(_, 1)))
    val checkpoint = Files.createTempDirectory("graft-ckpt-cv-").toString
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    var scanned = 0L
    def drain(): Int = {
      val before = seen.size
      val q = Subscribe.stream(spark, logDir, "cv_events")
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", checkpoint)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          seen ++= df.select("id").collect().map(_.getLong(0)); ()
        }
        .start()
      q.awaitTermination()
      scanned = q.recentProgress.map(_.numInputRows).sum
      seen.size - before
    }
    assert(drain() == 6)
    log.compact("cv_events", targetFiles = 1)
    assert(log.vacuum("cv_events") > 0)
    assert(drain() == 0, "the compacted generation must not be re-delivered")
    assert(seen.sorted.toSeq == (1L to 6L), "no event id seen twice")
    // a batch after the compaction skips the compacted generation
    log.saveAll("cv_events", (7 to 8).map(ev(_, 2)))
    assert(drain() == 2)
    assert(scanned == 2L, s"the batch scanned $scanned rows for 2 new events")
  }

  test("replayed batch ids are skipped (idempotent foreachBatch)") {
    val stateDir = Files.createTempDirectory("graft-proj2-")
    val proj = new EosProjection(stateDir)
    var applied = 0
    val df = spark.range(3).toDF()
    proj.foreachBatch { (_, _, _) => applied += 1 }(df, 0L)
    proj.foreachBatch { (_, _, _) => applied += 1 }(df, 0L) // replay
    proj.foreachBatch { (_, _, _) => applied += 1 }(df, 1L)
    assert(applied == 2, "batch 0 replay must be skipped")
    assert(proj.lastCommitted == 1L)
  }

  test("crash inside effects leaves no committed marker; retry applies cleanly") {
    val stateDir = Files.createTempDirectory("graft-proj3-")
    val proj = new EosProjection(stateDir)
    val df = spark.range(3).toDF()
    intercept[RuntimeException] {
      proj.foreachBatch { (_, _, _) => throw new RuntimeException("boom") }(df, 0L)
    }
    assert(proj.lastCommitted == -1L)
    proj.foreachBatch { (_, _, stage) =>
      Files.writeString(stage.resolve("out"), "ok")
    }(df, 0L)
    assert(proj.lastCommitted == 0L)
    assert(Files.exists(stateDir.resolve("batch-0").resolve("out")))
  }

  test("flatMapGroupsWithState: per-key state survives across micro-batches") {
    import graft.streaming.StatefulOps
    val logDir = Files.createTempDirectory("graft-state-").toString
    val log = EventLog(logDir, spark)
    // two appends → (with maxAppendsPerTrigger=1) at least two micro-batches
    log.saveAll("st_events", (1 to 4).map(ev(_, 0)))
    log.saveAll("st_events", (5 to 6).map(ev(_, 1)))

    // key = id % 2 (derive a keyed column from the event rows)
    val keyed = Subscribe.stream(spark, logDir, "st_events", maxAppendsPerTrigger = 1)
      .selectExpr("id % 2 AS user_id", "CAST(id AS DOUBLE) AS value", "timestamp")
    val finalCounts = scala.collection.mutable.Map.empty[Long, Long]
    val q = StatefulOps.runningCountPerKey(keyed)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .outputMode("update")
      .option("checkpointLocation", Files.createTempDirectory("graft-ckpt3-").toString)
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[StatefulOps.KeyCount], _: Long) =>
        ds.collect().foreach(kc => finalCounts(kc.key) = kc.events)
      }
      .start()
    q.awaitTermination()
    // ids 1..6 → key 1: ids 1,3,5 (3 events); key 0: ids 2,4,6 (3 events)
    assert(finalCounts == Map(0L -> 3L, 1L -> 3L),
      "state must accumulate across batches, not reset per batch")
  }

  test("streaming exact-dedup drops same-key duplicates within the watermark") {
    import graft.streaming.StatefulOps
    val logDir = Files.createTempDirectory("graft-dedup-").toString
    val log = EventLog(logDir, spark)
    // duplicate keys+timestamps across two appends
    val e = (1 to 3).map(ev(_, 0))
    log.saveAll("dd_events", e)
    log.saveAll("dd_events", e) // exact duplicates (same key, same ts)

    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val q = StatefulOps.dedupStream(
        Subscribe.stream(spark, logDir, "dd_events").selectExpr("key", "timestamp"),
        keyCols = Seq("key"), eventTimeCol = "timestamp", watermark = "1 hour")
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .outputMode("update")
      .option("checkpointLocation", Files.createTempDirectory("graft-ckpt4-").toString)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        seen ++= df.collect().map(r => new String(r.getAs[Array[Byte]]("key"), UTF_8))
        ()
      }
      .start()
    q.awaitTermination()
    assert(seen.sorted.toSeq == Seq("key-1", "key-2", "key-3"),
      "each duplicated key must surface exactly once")
  }

  test("session windows on the stream: append mode emits watermark-closed sessions only") {
    import org.apache.spark.sql.functions._
    val logDir = Files.createTempDirectory("graft-sess-").toString
    val log = EventLog(logDir, spark)
    // burst at minutes 0-2 (one session), burst at minute 60-61 (another)
    log.saveAll("ss_events", Seq(ev(1, 0), ev(2, 1), ev(3, 2), ev(4, 60), ev(5, 61)))
    val sessions = scala.collection.mutable.Map.empty[String, Long]
    val q = Subscribe.stream(spark, logDir, "ss_events")
      .selectExpr("id % 2 AS user_id", "timestamp")
      .withWatermark("timestamp", "10 minutes")
      // keyed session windows (streaming rejects the global form)
      .groupBy(session_window(col("timestamp"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(concat(col("user_id"), lit("@"), col("session_window.start")).as("s"), col("n"))
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .outputMode("append") // session windows require append on streams
      .option("checkpointLocation", Files.createTempDirectory("graft-ckpt6-").toString)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().foreach(r => sessions(r.getAs[String]("s")) = r.getAs[Long]("n"))
        ()
      }
      .start()
    q.awaitTermination()
    // watermark settles at max(ts)-10min = 51:05 → the early sessions
    // (user 1: ids 1,3; user 0: id 2) close and emit; the minute-60/61
    // sessions stay open in state, exactly as append semantics specify.
    assert(sessions.values.toSeq.sorted == Seq(1L, 2L),
      s"only watermark-closed sessions emit under append mode, got $sessions")
  }

  test("stream-stream interval join with watermarks (click ⋈ follow-up within 10 min)") {
    import org.apache.spark.sql.functions._
    val logDir = Files.createTempDirectory("graft-ssj-").toString
    val log = EventLog(logDir, spark)
    // "clicks" topic: events at minutes 0, 1; "acts" topic: minute 5 (joins), minute 30 (too late)
    log.saveAll("clicks_events", Seq(ev(1, 0), ev(2, 1)))
    log.saveAll("acts_events", Seq(ev(1, 5), ev(2, 30)))

    val clicks = Subscribe.stream(spark, logDir, "clicks_events")
      .selectExpr("key AS ckey", "timestamp AS cts").withWatermark("cts", "1 hour")
    val acts = Subscribe.stream(spark, logDir, "acts_events")
      .selectExpr("key AS akey", "timestamp AS ats").withWatermark("ats", "1 hour")
    val joined = clicks.join(acts,
      expr("ckey = akey AND ats > cts AND ats <= cts + INTERVAL 10 MINUTES"))

    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val q = joined.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", Files.createTempDirectory("graft-ckpt7-").toString)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        out ++= df.collect().map(r => new String(r.getAs[Array[Byte]]("ckey"), UTF_8))
        ()
      }
      .start()
    q.awaitTermination()
    assert(out.toSeq == Seq("key-1"),
      s"only the within-window pair joins; got $out")
  }

  test("columnar decode pipeline (enrich) runs on the subscribe stream") {
    import org.apache.avro.Schema
    import org.apache.avro.generic.GenericData
    import graft.codec.{ConfluentAvro, SchemaCatalog}
    val schema = new Schema.Parser().parse(
      """{"type":"record","name":"StreamPayload","namespace":"graft.test",
        |"fields":[{"name":"text","type":"string"}]}""".stripMargin)
    val catalog = SchemaCatalog(5 -> schema)
    val logDir = Files.createTempDirectory("graft-streamdec-").toString
    val log = EventLog(logDir, spark)
    log.saveAll("sd_events", (1 to 3).map { i =>
      val r = new GenericData.Record(schema)
      r.put("text", s"msg $i")
      Event(s"k$i".getBytes(UTF_8), ConfluentAvro.serialize(5, r),
        Instant.parse("2024-01-01T00:00:00Z").plusSeconds(i))
    })
    val decoded = scala.collection.mutable.ArrayBuffer.empty[String]
    EosProjection.runAvailableNow(
      graft.functions.EventFunctions.enrich(
        Subscribe.stream(spark, logDir, "sd_events"), catalog),
      Files.createTempDirectory("graft-ckpt5-").toString,
      new EosProjection(Files.createTempDirectory("graft-proj5-"))) { (df, _, _) =>
      decoded ++= df.orderBy("id").collect().map(_.getAs[String]("payload_json"))
    }
    assert(decoded.toSeq == (1 to 3).map(i => s"""{"text": "msg $i"}"""))
  }

  test("event-time tumbling window with watermark over the subscribe stream") {
    val logDir = Files.createTempDirectory("graft-stream2-").toString
    val log = EventLog(logDir, spark)
    // 4 events in minute-0 window, 2 in minute-60 window (1h tumble)
    log.saveAll("w_events", Seq(ev(1, 0), ev(2, 1), ev(3, 2), ev(4, 3), ev(5, 60), ev(6, 61)))

    val out = Files.createTempDirectory("graft-wout-")
    val proj = new EosProjection(Files.createTempDirectory("graft-proj4-"))
    val counts = scala.collection.mutable.Map.empty[String, Long]
    EosProjection.runAvailableNow(
      Subscribe.windowedCounts(
        Subscribe.stream(spark, logDir, "w_events"), watermark = "10 minutes", window_ = "1 hour"),
      Files.createTempDirectory("graft-ckpt2-").toString, proj) { (df, _, _) =>
      df.collect().foreach(r =>
        counts(r.getAs[java.sql.Timestamp]("window_start").toString) = r.getAs[Long]("n"))
    }
    // AvailableNow + watermark: the final watermark closes both windows
    assert(counts.values.sum == 6L)
    assert(counts.size == 2)
  }

  test("graft_kmv runs inside a watermarked streaming window agg (sketch state survives batches)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftExtensions.register(spark)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // two tumbling 1h windows; duplicate keys within a window must not
    // inflate the sketch (the buffer is a set), and the minima must match
    // the batch spelling over the same rows regardless of batch splits
    val base = Instant.parse("2024-01-01T00:00:00Z")
    val rows = (0 until 40).map { i =>
      (java.sql.Timestamp.from(base.plusSeconds((i % 2) * 3600L + i)), s"u${i % 7}")
    }
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val q = mem.toDF().toDF("ts", "uid")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "1 hour").as("w"))
      .agg(call_function("graft_kmv", call_function("graft_h60", $"uid"), lit(4)).as("mins"))
      .select($"w.start".as("ws"), $"mins")
    // update mode: every batch re-emits the windows it touched; the LAST
    // emission per window is the fully-merged sketch (state-store merge of
    // the two batches' partial buffers)
    val got = scala.collection.mutable.Map.empty[java.sql.Timestamp, Seq[Long]]
    val sq = q.writeStream
      .option("checkpointLocation", Files.createTempDirectory("graft-kmvckpt-").toString)
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        df.collect().foreach(r =>
          got(r.getAs[java.sql.Timestamp]("ws")) = r.getAs[Seq[Long]]("mins"))
      }
    // split across two batches so partial sketches merge through the store
    mem.addData(rows.take(25): _*); mem.addData(rows.drop(25): _*)
    val run = sq.start(); run.awaitTermination()
    val expect = rows.toDF("ts", "uid")
      .groupBy(window($"ts", "1 hour").as("w"))
      .agg(call_function("graft_kmv", call_function("graft_h60", $"uid"), lit(4)).as("mins"))
      .select($"w.start".as("ws"), $"mins")
      .as[(java.sql.Timestamp, Seq[Long])].collect().toMap
    assert(got == expect, s"streaming sketch diverged: $got vs $expect")
    assert(expect.values.forall(m => m.size == 4 && m == m.sorted), expect.toString)
  }

  test("graft_topk merges through the streaming state store in its exact regime") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftExtensions.register(spark)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // k=8 > 5 distinct tokens: the SpaceSaving summary must equal the
    // exact frequency table (err 0) no matter how batches split, because
    // exact-regime merge is order-independent (SpaceSavingSpec sweeps the
    // algebra; this pins the state-store serialize/merge path end-to-end)
    val base = Instant.parse("2024-01-01T00:00:00Z")
    val rows = (0 until 60).map { i =>
      (java.sql.Timestamp.from(base.plusSeconds(i)), s"tok${i % 5}")
    }
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val q = mem.toDF().toDF("ts", "tok")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "1 hour").as("w"))
      .agg(call_function("graft_topk", $"tok", lit(8)).as("tk"))
      .select($"w.start".as("ws"), $"tk".cast("string").as("tk"))
    val got = scala.collection.mutable.Map.empty[java.sql.Timestamp, String]
    val sq = q.writeStream
      .option("checkpointLocation", Files.createTempDirectory("graft-topkckpt-").toString)
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        df.collect().foreach(r =>
          got(r.getAs[java.sql.Timestamp]("ws")) = r.getString(1))
      }
    mem.addData(rows.take(17): _*); mem.addData(rows.drop(17): _*)
    val run = sq.start(); run.awaitTermination()
    val expect = rows.toDF("ts", "tok")
      .groupBy(window($"ts", "1 hour").as("w"))
      .agg(call_function("graft_topk", $"tok", lit(8)).as("tk"))
      .select($"w.start".as("ws"), $"tk".cast("string").as("tk"))
      .as[(java.sql.Timestamp, String)].collect().toMap
    assert(got == expect, s"streaming topk diverged: $got vs $expect")
    assert(expect.values.forall(_.contains(", 12, 0")), // 60 rows / 5 toks, err 0
      s"exact-regime counts expected: $expect")
  }

  test("MergeableStats.merge: NULL event_type groups on BOTH sides merge into one row") {
    // dirty streams carry NULL event_type; a non-null-safe join would emit
    // two unmatched NULL rows (the r6 advisor's finding) — the merge
    // identity must hold with the NULL group split across the sides
    import spark.implicits._
    GraftExtensions.register(spark)
    val rows = (0 until 40).map { i =>
      (if (i % 5 == 0) null else s"t${i % 3}", (i % 7) * 2.0, (i % 11).toLong)
    }
    val (l, r) = rows.splitAt(20) // NULL-type rows land on both sides
    assert(l.exists(_._1 == null) && r.exists(_._1 == null), "split must cover both sides")
    def df(xs: Seq[(String, Double, Long)]) = xs.toDF("event_type", "value", "user_id")
    def snap(d: org.apache.spark.sql.DataFrame) =
      graft.operators.MergeableStats.publish(d).collect()
        .map(row => Option(row.getString(0)) ->
          (row.getLong(1), row.getDouble(2), row.getDouble(3), row.getDouble(4),
            row.getLong(5), row.getLong(6), row.getDouble(7))).toMap
    val merged = snap(graft.operators.MergeableStats.merge(
      graft.operators.MergeableStats.statsOf(df(l)),
      graft.operators.MergeableStats.statsOf(df(r))))
    val full = snap(graft.operators.MergeableStats.statsOf(df(rows)))
    assert(merged.size == full.size, s"duplicate NULL group: $merged vs $full")
    assert(merged == full, s"merge != recompute with NULL groups: $merged vs $full")
  }

  test("StatsView: incrementally-maintained view equals full recompute; replayed batch is a no-op") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    GraftExtensions.register(spark)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = (0 until 60).map(i =>
      (s"t${i % 4}", (i % 13) * 1.5, (i % 9).toLong))
    val view = new graft.streaming.StatsView(
      Files.createTempDirectory("graft-statsview-"), spark)
    val mem = MemoryStream[(String, Double, Long)]
    val sq = mem.toDF().toDF("event_type", "value", "user_id")
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("graft-svckpt-").toString)
      .foreachBatch(view.update _)
      .start()
    // two separate micro-batches so the merge path (not just the bootstrap) runs
    mem.addData(rows.take(20): _*); sq.processAllAvailable()
    mem.addData(rows.drop(20): _*); sq.processAllAvailable()
    sq.stop()
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getLong(5), r.getLong(6), r.getDouble(7))).toMap
    val got = snap(view.view().get)
    val full = snap(graft.operators.MergeableStats.publish(
      graft.operators.MergeableStats.statsOf(
        rows.toDF("event_type", "value", "user_id"))))
    assert(got == full, s"incremental view diverged: $got vs $full")
    // crash-replay: re-applying an already-committed batch id must be a no-op
    val before = snap(view.view().get)
    view.update(rows.take(20).toDF("event_type", "value", "user_id"), 0L)
    assert(snap(view.view().get) == before, "replayed batch double-merged")
    // vacuum keeps only the live commit and the view still reads
    view.vacuum()
    assert(snap(view.view().get) == before, "vacuum removed the live state")
    // cold restart: a NEW instance over the same state dir resumes from the
    // on-disk marker — same view, replay still skipped, fresh batch merges
    val revived = new graft.streaming.StatsView(view.stateDir, spark)
    assert(snap(revived.view().get) == before, "restart lost the view")
    revived.update(rows.take(20).toDF("event_type", "value", "user_id"), 1L)
    assert(snap(revived.view().get) == before, "restart re-applied a committed batch")
    val extra = Seq(("tX", 9.0, 99L)).toDF("event_type", "value", "user_id")
    revived.update(extra, 2L)
    val after = snap(revived.view().get)
    assert(after.contains("tX") && after.size == before.size + 1,
      "restarted view must keep merging fresh deltas")
  }

  test("streaming near-dup probe equals batch IncrementalDedup restricted to stream-vs-corpus pairs") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import graft.streaming.StreamingDedup
    import graft.queries.CrossHash._
    import spark.implicits._
    GraftExtensions.register(spark)
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six"),
      (3L, "red green blue yellow purple orange")).toDF("doc_id", "text")
    val index = StreamingDedup.corpusIndex(corpus).cache()

    val ms = MemoryStream[(Long, Long, String)]
    val docs = ms.toDF().toDF("doc_id", "sec", "text")
      .withColumn("ts", timestamp_seconds($"sec"))
    val got = scala.collection.mutable.Set.empty[(Long, Long, Double)]
    val q = StreamingDedup.nearDupProbe(docs, index, 0.3)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("graft-ckpt-ndp-").toString)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        ()
      }
      .start()
    // doc 10 near-copies corpus doc 1 (3 of 4 shingles shared); doc 11
    // matches nothing; doc 99 is the watermark flush (far-future ts closes
    // the first window; its own window legitimately stays open)
    ms.addData((10L, 60L, "alpha beta gamma delta epsilon eta"),
      (11L, 70L, "cats dogs birds fish mice voles"))
    q.processAllAvailable()
    ms.addData((99L, 1000000L, "totally unrelated flush document words"))
    q.processAllAvailable()
    q.stop()

    // expected = the batch incremental-dedup pair set for the same split,
    // restricted to cross (stream, corpus) pairs — canonical (min, max)
    def sh(df: org.apache.spark.sql.DataFrame) = df
      .select($"doc_id", tokens($"text").as("w"))
      .select($"doc_id", explode(shingles3("w")).as("sg"))
      .select($"doc_id", h60($"sg").as("h")).distinct()
    val streamed = Seq((10L, "alpha beta gamma delta epsilon eta"),
      (11L, "cats dogs birds fish mice voles")).toDF("doc_id", "text")
    val expected = graft.operators.IncrementalDedup.newPairs(sh(corpus), sh(streamed), 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => a <= 3L || b <= 3L } // cross pairs only
      .toSet
    val gotCanonical = got.map { case (a, b, j) => (math.min(a, b), math.max(a, b), j) }.toSet
    assert(expected.nonEmpty, "no cross near-dup pair — test would be vacuous")
    assert(gotCanonical == expected,
      s"stream probe != batch incremental: got $gotCanonical expected $expected")
  }

  test("streaming semantic probe equals the brute-force cell-restricted corpus verdicts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import graft.streaming.StreamingDedup
    import spark.implicits._
    GraftExtensions.register(spark)
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

    val (bits, dim, theta) = (2, 4, 0.9)
    val corpusVecs = Seq(
      1L -> Array(1.0, 0.0, 0.0, 0.1),
      2L -> Array(0.0, 1.0, 0.0, 0.0),
      3L -> Array(-1.0, 0.0, 0.2, 0.0),
      4L -> Array(0.9, 0.1, 0.0, 0.1))
    val corpus = corpusVecs.toDF("vec_id", "embedding")
    val index = StreamingDedup.semanticIndex(corpus, bits, dim).cache()

    // 10 ≈ corpus 1/4 (same direction), 11 matches nothing, 99 flushes
    val streamVecs = Seq(
      (10L, 60L, Array(0.95, 0.05, 0.0, 0.1)),
      (11L, 70L, Array(0.0, 0.0, 1.0, 0.0)))
    val ms = MemoryStream[(Long, Long, Array[Double])]
    val vecs = ms.toDF().toDF("vec_id", "sec", "embedding")
      .withColumn("ts", timestamp_seconds($"sec"))
    val got = scala.collection.mutable.Set.empty[(Long, Long, Long)]
    val q = StreamingDedup.semanticProbe(vecs, index, theta, bits, dim)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ckpt-sem-").toString)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        ()
      }
      .start()
    ms.addData(streamVecs: _*)
    q.processAllAvailable()
    ms.addData((99L, 1000000L, Array(0.0, 0.0, 0.0, 1.0)))
    q.processAllAvailable()
    q.stop()

    // independent brute force: same planes, same cells, exact cosine
    val planes = graft.queries.CrossHash.embPlanesFor(1, bits, dim)
    def cell(v: Array[Double]): Long =
      (0 until bits).map { j =>
        val dot = v.zip(planes(j)).map { case (x, p) => x * p }.sum
        if (dot > 0) 1L << j else 0L
      }.sum
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val expected = streamVecs.map { case (id, _, v) =>
      val partners = corpusVecs.filter { case (_, bv) =>
        cell(bv) == cell(v) && cos(v, bv) >= theta }
      id -> partners
    }.filter(_._2.nonEmpty)
      .map { case (id, ps) => (id, ps.map(_._1).min, ps.size.toLong) }.toSet
    assert(expected.nonEmpty, "no qualifying stream-vs-corpus partner — vacuous")
    assert(got.toSet == expected,
      s"stream semantic probe: got ${got.toSet} expected $expected")
  }

  test("streaming semantic probe at a second geometry (6 bits): streamed verdicts equal brute force, and the stream sizing rule IS the batch rule") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import graft.streaming.StreamingDedup
    import spark.implicits._
    GraftExtensions.register(spark)
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

    // the streaming twins must agree with the batch pass at EVERY cell
    // width the auto-geometry rule can pick, not just the gate's 4 bits:
    // pin (a) the sizing rule is shared verbatim, (b) index+probe at a
    // non-default width still equal the brute-force verdicts
    for (n <- Seq(50L, 512L, 2000L, 200000L))
      assert(StreamingDedup.semanticBitsFor(n) ==
        graft.queries.CrossHash.semGeometryFor(n), s"rule diverged at n=$n")

    val (bits, dim, theta) = (6, 8, 0.9)
    val corpusVecs = Seq(
      1L -> Array(1.0, 0.0, 0.0, 0.1, 0.0, 0.0, 0.05, 0.0),
      2L -> Array(0.0, 1.0, 0.0, 0.0, 0.2, 0.0, 0.0, 0.0),
      3L -> Array(-1.0, 0.0, 0.2, 0.0, 0.0, 0.1, 0.0, 0.0),
      4L -> Array(0.9, 0.1, 0.0, 0.1, 0.0, 0.0, 0.05, 0.0))
    val corpus = corpusVecs.toDF("vec_id", "embedding")
    val index = StreamingDedup.semanticIndex(corpus, bits, dim).cache()

    val streamVecs = Seq(
      (10L, 60L, Array(0.95, 0.05, 0.0, 0.1, 0.0, 0.0, 0.05, 0.0)),
      (11L, 70L, Array(0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.5)))
    val ms = MemoryStream[(Long, Long, Array[Double])]
    val vecs = ms.toDF().toDF("vec_id", "sec", "embedding")
      .withColumn("ts", timestamp_seconds($"sec"))
    val got = scala.collection.mutable.Set.empty[(Long, Long, Long)]
    val q = StreamingDedup.semanticProbe(vecs, index, theta, bits, dim)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ckpt-sem6-").toString)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        ()
      }
      .start()
    ms.addData(streamVecs: _*)
    q.processAllAvailable()
    ms.addData((99L, 1000000L, Array(0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1.0)))
    q.processAllAvailable()
    q.stop()

    val planes = graft.queries.CrossHash.embPlanesFor(1, bits, dim)
    def cell(v: Array[Double]): Long =
      (0 until bits).map { j =>
        val dotp = v.zip(planes(j)).map { case (x, p) => x * p }.sum
        if (dotp > 0) 1L << j else 0L
      }.sum
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val expected = streamVecs.map { case (id, _, v) =>
      val partners = corpusVecs.filter { case (_, bv) =>
        cell(bv) == cell(v) && cos(v, bv) >= theta }
      id -> partners
    }.filter(_._2.nonEmpty)
      .map { case (id, ps) => (id, ps.map(_._1).min, ps.size.toLong) }.toSet
    assert(expected.nonEmpty, "no qualifying stream-vs-corpus partner — vacuous")
    assert(got.toSet == expected,
      s"stream semantic probe at 6 bits: got ${got.toSet} expected $expected")
  }

  test("streaming perceptual probe equals the quadratic stream-vs-corpus verdicts (multi-band pair counted once)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import graft.streaming.StreamingDedup
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

    val (bands, maxH) = (3, 2)
    // corpus fingerprints: 0x00 base, one near it, some far; 21 is
    // IDENTICAL to stream 107's fp — matches in EVERY band, pinning the
    // first-matching-band dedup (must count once, not three times)
    val corpusFps = Seq(
      20L -> 0x0000000000000000L,
      21L -> 0x0F0F000011110000L,
      22L -> -1L,
      23L -> 0x0000000000000003L)
    val index = StreamingDedup.perceptualIndex(
      corpusFps.toDF("asset_id", "fp"), bands).cache()

    val streamFps = Seq(
      (105L, 60L, 0x0000000000000001L), // 1 bit from 20, 2 from 23
      (106L, 70L, 0x00FF00FF00FF00FFL), // far from everything
      (107L, 80L, 0x0F0F000011110000L)) // identical to 21
    val ms = MemoryStream[(Long, Long, Long)]
    val hashes = ms.toDF().toDF("asset_id", "sec", "fp")
      .withColumn("ts", timestamp_seconds($"sec"))
    val got = scala.collection.mutable.Set.empty[(Long, Long, Long)]
    val q = StreamingDedup.perceptualProbe(hashes, index, maxH, bands)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ckpt-perc-").toString)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        ()
      }
      .start()
    ms.addData(streamFps: _*)
    q.processAllAvailable()
    ms.addData((199L, 1000000L, 0x0L)) // watermark flush
    q.processAllAvailable()
    q.stop()

    val expected = streamFps.map { case (id, _, fp) =>
      val partners = corpusFps.filter { case (_, bfp) =>
        java.lang.Long.bitCount(fp ^ bfp) <= maxH }
      id -> partners
    }.filter(_._2.nonEmpty)
      .map { case (id, ps) => (id, ps.map(_._1).min, ps.size.toLong) }.toSet
    assert(expected.exists(_._1 == 107L), "identical-fp case missing — vacuous")
    assert(got.toSet == expected,
      s"stream perceptual probe: got ${got.toSet} expected $expected")
  }
}
