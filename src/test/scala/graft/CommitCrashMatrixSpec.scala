package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.Instant

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Event
import graft.operators.{Bm25Index, CatalogCommit, ShingleIndex}
import graft.replicate.Replicator
import graft.sources.{KafkaShapedConsumer, KafkaShapedLog}
import graft.store.{Commit, EventLog, FileTree, TopicOffsets}
import graft.streaming.{CompactSwap, EosProjection, MaintainedVectorIndex}

/** Crash matrix over every commit protocol built on [[Commit]].
  *
  * For each protocol a clean run records the [[Commit.hook]] step trace.
  * Then, for every step k of that trace, a fresh fixture runs the
  * operation with a crash injected at step k and checks:
  *  - each unit of reader-visible state equals its pre-state or its
  *    post-state exactly (a protocol whose commit spans several files, the
  *    consumer's per-partition offsets, has one unit per file);
  *  - recovery (rerun the operation: always when it is idempotent,
  *    otherwise only if the crash left the pre-state) reaches the clean
  *    run's post-state, with no record lost or duplicated;
  *  - no `*.tmp` file is left behind;
  * and the clean trace shows every path the new manifest, pointer or
  * marker names was forced before that replace's move or that seal's
  * create.
  */
class CommitCrashMatrixSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private final class InjectedCrash(k: Int) extends RuntimeException(s"injected crash at step $k")

  /** One fresh fixture of a protocol, its pre-state already committed. */
  private trait Fixture {
    /** Every file the protocol writes lives under here. */
    def root: Path
    /** The operation under test. */
    def op(): Unit
    /** Rerunning `op` after a committed attempt is a no-op. */
    def idempotent: Boolean
    /** Reader-visible state, read from disk by fresh readers, per unit
      * that commits atomically. */
    def units(): Map[String, Any]
    /** Effects the protocol delivered exactly once (none by default). */
    def effects(): Seq[Any] = Nil
    /** Called after each attempt of `op`, crashed or not. */
    def settle(): Unit = ()
    /** (target, the paths its committed content names): a replaced file,
      * or a sealed marker and the data it commits. */
    def publishes(): Seq[(Path, Set[Path])]
  }

  /** Run `body` with the hook recording steps; throw at step `crashAt`. */
  private def traced(crashAt: Int)(body: => Unit): (Boolean, Vector[Commit.Step]) = {
    val steps = Vector.newBuilder[Commit.Step]
    var i = 0
    Commit.hook.set { s =>
      if (i == crashAt) throw new InjectedCrash(i)
      steps += s
      i += 1
    }
    val crashed =
      try { body; false }
      catch {
        case e: Throwable if Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
            .exists(_.isInstanceOf[InjectedCrash]) => true
      } finally Commit.hook.remove()
    (crashed, steps.result())
  }

  private def abs(p: Path): Path = p.toAbsolutePath.normalize()

  private def tmpFiles(root: Path): Seq[Path] =
    FileTree.all(root).filter(_.getFileName.toString.endsWith(".tmp"))

  private def matrix(name: String)(fresh: () => Fixture): Unit = {
    val clean = fresh()
    val pre = clean.units()
    val prePublished = clean.publishes().toMap
    val (failed, trace) = traced(-1)(clean.op())
    clean.settle()
    assert(!failed)
    val post = clean.units()
    val postEffects = clean.effects()
    assert(trace.nonEmpty, s"$name: no commit step recorded")
    assert(post != pre, s"$name: the operation changed nothing")
    assert(postEffects.distinct.size == postEffects.size, s"$name: clean run duplicated effects")
    assert(tmpFiles(clean.root).isEmpty, s"$name: clean run left tmp files")

    // every path a commit newly names was forced before its replace's move
    // or its seal's create
    for ((target, named) <- clean.publishes()) {
      val fresh = named -- prePublished.getOrElse(target, Set.empty)
      assert(fresh.nonEmpty, s"$name: ${target.getFileName} names nothing new")
      val move = trace.lastIndexWhere(s =>
        (s.op == "move" || s.op == "create") && abs(s.paths.head) == abs(target))
      assert(move >= 0, s"$name: ${target.getFileName} was not replaced or sealed")
      val forced = trace.take(move).filter(_.op == "force").flatMap(_.paths).map(abs).toSet
      val unforced = fresh.map(abs) -- forced
      assert(unforced.isEmpty, s"$name: named before forced: $unforced")
    }

    for (k <- trace.indices) {
      val f = fresh()
      val (crashed, _) = traced(k)(f.op())
      f.settle()
      val at = s"$name: crash before ${trace(k).op} of ${trace(k).paths.map(_.getFileName).mkString(",")} (step $k)"
      assert(crashed, s"$at: the injected crash did not fire")
      val mid = f.units()
      assert(mid.keySet == pre.keySet, at)
      for (u <- pre.keys)
        assert(mid(u) == pre(u) || mid(u) == post(u), s"$at: unit $u is neither pre- nor post-state")
      if (f.idempotent || mid == pre) {
        val (again, _) = traced(-1)(f.op())
        f.settle()
        assert(!again, at)
      }
      assert(f.units() == post, s"$at: recovery differs from the clean run")
      assert(f.effects() == postEffects, s"$at: effects lost or duplicated")
      assert(tmpFiles(f.root).isEmpty, s"$at: tmp files left: ${tmpFiles(f.root)}")
    }
  }

  private def ev(i: Int): Event =
    Event(s"key-$i".getBytes(UTF_8), s"payload-$i".getBytes(UTF_8),
      Instant.parse("2024-01-01T00:00:00Z").plusSeconds(i),
      Map("mk" -> s"mv-$i".getBytes(UTF_8)))

  private def tempDir(prefix: String): Path = Files.createTempDirectory(prefix)

  /** A copy of the tree at `from` in a fresh temp dir. */
  private def copyTree(from: Path): Path = {
    val to = tempDir("graft-cm-copy-")
    FileTree.all(from).foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    }
    to
  }

  /** Manifest-named files of an EventLog topic (the cursor line names none). */
  private def segmentNames(segments: Path): Set[Path] =
    if (!Files.exists(segments)) Set.empty
    else Files.readString(segments).split('\n').map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("cursor="))
      .map(n => segments.getParent.getParent.resolve(n)).toSet

  test("EventLog.saveAll: every crash step leaves pre or post, retry completes it") {
    matrix("saveAll") { () =>
      new Fixture {
        val root = tempDir("graft-cm-log-")
        private val topic = "cm_events"
        private def log = EventLog(root.toString, spark)
        log.saveAll(topic, (1 to 3).map(ev))
        def op(): Unit = log.saveAll(topic, (4 to 6).map(ev))
        def idempotent = false
        def units() = {
          val l = log
          val rows = l.read(topic).collect().map(r => (r.getAs[Long]("lsn"), r.getAs[Long]("id"),
            new String(r.getAs[Array[Byte]]("key"), UTF_8))).sorted.toSeq
          Map("log" -> (l.currentCursor(topic), rows))
        }
        def publishes() = {
          val seg = root.resolve(topic).resolve("_graft_meta").resolve("segments")
          Seq(seg -> segmentNames(seg))
        }
      }
    }
  }

  test("sink appendTxn through Replicator.pollAndSendBatch: every crash step leaves pre or post") {
    matrix("appendTxn") { () =>
      new Fixture {
        val root = tempDir("graft-cm-sink-")
        private val topic = "cm_events"
        private val log = EventLog(tempDir("graft-cm-src-").toString, spark)
        private def sink = KafkaShapedLog(root.toString, spark, numPartitions = 2)
        private def poll(): Long = new Replicator(log, sink, batchSize = 4).pollAndSendBatch(topic)
        log.saveAll(topic, (1 to 4).map(ev))
        assert(poll() == 4L)
        log.saveAll(topic, (5 to 8).map(ev))
        def op(): Unit = poll()
        def idempotent = true
        def units() = {
          val s = sink
          val rows = s.read(topic).collect().map(r => (r.getAs[Int]("partition"),
            r.getAs[Long]("offset"), new String(r.getAs[Array[Byte]]("key"), UTF_8))).sorted.toSeq
          assert(rows.map(r => (r._1, r._2)).distinct.size == rows.size, "duplicate (partition, offset)")
          val m = s.manifest()
          // each listed file's offset ranges (file names are fresh per
          // run, so the ranges are compared without them)
          val ranges = m.files.map(f => m.ranges.get(f).toString).sorted
          Map("sink" -> (rows, m.offsets, m.cursors, ranges))
        }
        def publishes() =
          Seq(root.resolve("manifest.json") -> sink.manifest().files.map(root.resolve).toSet)
      }
    }
  }

  test("KafkaShapedConsumer.poll over 4 partitions: each partition's offset is pre or post") {
    val parts = 4
    matrix("consumer") { () =>
      new Fixture {
        val root = tempDir("graft-cm-cons-")
        private val topic = "cm_events"
        private val sink = KafkaShapedLog(tempDir("graft-cm-csink-").toString, spark, parts)
        private val offsetsDir = root.resolve("offsets")
        private def offsets = TopicOffsets(offsetsDir.toString)
        private val delivered = ArrayBuffer.empty[(Int, Long)]
        private val attempt = ArrayBuffer.empty[(Int, Long)]
        private def consumer = new KafkaShapedConsumer(sink, topic, offsets)
        sink.publishEvents(topic, (1 to 16).map(ev))
        consumer.poll(_ => ())
        sink.publishEvents(topic, (17 to 64).map(ev))
        require((0 until parts).forall(p => sink.nextOffset(topic, p) - 1 > offsets.offsetFor(topic, p)),
          "every partition must have records to deliver")
        def op(): Unit = consumer.poll { df =>
          attempt ++= df.collect().map(r => (r.getAs[Int]("partition"), r.getAs[Long]("offset")))
        }
        def idempotent = true
        /** At-least-once: what an attempt delivered counts only where its
          * partition's offset committed; the rest is redelivered. */
        override def settle(): Unit = {
          val committed = offsets.all()
          delivered ++= attempt.filter { case (p, o) => committed.get((topic, p)).exists(o <= _) }
          attempt.clear()
        }
        def units() = {
          val committed = offsets.all()
          (0 until parts).map(p => s"p$p" -> committed.getOrElse((topic, p), -1L)).toMap
        }
        override def effects() = delivered.sorted.toSeq
        def publishes() = Nil
      }
    }
  }

  test("EosProjection.foreachBatch: every crash step leaves pre or post, replay commits once") {
    matrix("foreachBatch") { () =>
      new Fixture {
        val root = tempDir("graft-cm-eos-")
        private def proj = new EosProjection(root)
        private def write(df: DataFrame, b: Long, stage: Path): Unit =
          Files.writeString(stage.resolve("out"),
            df.collect().map(_.getLong(0)).sorted.mkString(","))
        proj.foreachBatch(write)(spark.range(0, 3).toDF(), 0L)
        def op(): Unit = proj.foreachBatch(write)(spark.range(3, 7).toDF(), 1L)
        def idempotent = true
        /** What a reader gated on lastCommitted sees. */
        private def committedBatches: Seq[Long] = 0L to proj.lastCommitted
        def units() = Map("proj" -> (proj.lastCommitted,
          committedBatches.map(b => Files.readString(root.resolve(s"batch-$b").resolve("out")))))
        def publishes() = Seq(root.resolve("last_batch") ->
          committedBatches.flatMap(b => FileTree.all(root.resolve(s"batch-$b"))).toSet)
      }
    }
  }

  test("Bm25Index.append: every crash step leaves the index pre or post, retry completes it") {
    GraftExtensions.register(spark)
    val ss = spark
    import ss.implicits._
    val words = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    def docs(ids: Range): DataFrame =
      ids.map(i => (i.toLong, (0 to i % 5).map(j => words((i + 3 * j) % words.size)).mkString(" ")))
        .toDF("doc_id", "text")
    val queries = Seq((1L, "alpha"), (1L, "gamma"), (2L, "theta"), (3L, "beta")).toDF("query_id", "term")
    matrix("Bm25Index.append") { () =>
      new Fixture {
        val root = tempDir("graft-cm-bm25-")
        private val path = root.toString
        Bm25Index.build(docs(0 until 10), path, buckets = 4)
        def op(): Unit = Bm25Index.append(docs(10 until 15), path, buckets = 4)
        def idempotent = false
        def units() = {
          val scores = Bm25Index.probe(spark, path, queries, buckets = 4).collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
          val stats = spark.read.parquet(Bm25Index.statsPath(path)).collect().map(_.toSeq).toSeq
          Map("index" -> (scores, stats))
        }
        /** The pointer names its smalls snapshot and last committed batch. */
        def publishes() = {
          val ptr = root.resolve("_current")
          val f = Files.readString(ptr).trim.split("\t")
          Seq(ptr -> (FileTree.all(root.resolve(f(1))) ++
            FileTree.all(root.resolve(f(2)).resolve(s"batch=${f(3)}"))).toSet)
        }
      }
    }
  }

  test("ShingleIndex.append: every crash step leaves the index pre or post, retry completes it") {
    GraftExtensions.register(spark)
    val ss = spark
    import ss.implicits._
    val words = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    def docs(ids: Range): DataFrame =
      ids.map(i => (i.toLong, (0 to 8).map(j => words((i * 5 + 3 * j) % words.size)).mkString(" ")))
        .toDF("doc_id", "text")
    matrix("ShingleIndex.append") { () =>
      new Fixture {
        private val name = s"cm_shingle_${java.util.UUID.randomUUID().toString.replace("-", "")}"
        private val tables = Seq(name, s"${name}_counts")
        ShingleIndex.materialize(docs(0 until 10), name, buckets = 4)
        private def loc(t: String) = CatalogCommit.tableLocation(spark, t)
        /** The warehouse dir holding both tables. */
        val root = loc(name).getParent
        def op(): Unit = ShingleIndex.append(docs(10 until 15), name, buckets = 4)
        def idempotent = false
        def units() = {
          def rows(df: DataFrame) = df.collect().map(_.toSeq.mkString(",")).sorted.toSeq
          Map("index" -> (rows(ShingleIndex.pairs(spark, name)), rows(ShingleIndex.counts(spark, name))))
        }
        /** The pointer names the `batch=<n>` dirs of both tables. */
        def publishes() = {
          val ptr = loc(name).resolve("_current")
          val b = Files.readString(ptr).trim
          Seq(ptr -> tables.flatMap(t => FileTree.all(loc(t).resolve(s"batch=$b"))).toSet)
        }
      }
    }
  }

  test("MaintainedVectorIndex.compact: a crash before the seal reads pre, after it rolls forward") {
    GraftExtensions.register(spark)
    val ss = spark
    import ss.implicits._
    def vecs(ids: Range): DataFrame = ids.map { i =>
      val r = new scala.util.Random(i)
      (i.toLong, Array.fill(64)(r.nextGaussian()))
    }.toDF("vec_id", "embedding")
    val queries = vecs(0 until 3).withColumnRenamed("vec_id", "query_id")
    matrix("MaintainedVectorIndex.compact") { () =>
      new Fixture {
        val root = tempDir("graft-cm-vcompact-")
        private val marker = root.resolve("_compact_staged")
        private val live = root.resolve("vectors")
        private val staged = root.resolve("vectors_compact")
        private val idx = new MaintainedVectorIndex(root, spark)
        idx.update(vecs(0 until 12), 0L)
        idx.update(vecs(12 until 24), 1L)
        idx.delete(Seq(3L, 15L).toDF("vec_id"))
        def op(): Unit = idx.compact()
        def idempotent = true
        /** The layout (batch ids, tombstones present) and the probe. A
          * present marker commits the fold: probes fail loud until
          * compact() rolls it forward, so the state it reads as is that of
          * a rolled-forward copy. */
        def units() = {
          val dir =
            if (!Files.exists(marker)) root
            else {
              intercept[IllegalArgumentException](idx.probe(queries, k = 3))
              val c = copyTree(root)
              new MaintainedVectorIndex(c, spark).compact()
              c
            }
          val hits = new MaintainedVectorIndex(dir, spark).probe(queries, k = 3, nprobe = 2)
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
          Map("index" -> (CompactSwap.batchIds(dir.resolve("vectors")),
            Files.exists(dir.resolve("tombstones")), hits))
        }
        /** The marker names every file of the staged dir, which the roll
          * moves to the live dir. */
        def publishes() =
          Seq(marker -> FileTree.all(live).map(p => staged.resolve(live.relativize(p))).toSet)
      }
    }
  }
}
