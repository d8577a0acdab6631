package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ShingleIndex
import graft.streaming.MaintainedShingleIndex

/** The continuously-maintained shingle index: streamed ingestion must
  * land EXACTLY the batch [[ShingleIndex]] state (probe and novelty
  * equalities vs a from-scratch materialize on the union corpus),
  * replayed batch ids must be no-ops, and stream-carried `op='del'` rows
  * must equal a batch delete — the StreamingRetrievalSpec three-pin shape
  * on the dedup surface. */
// multi-minute integration suite (~49 s of the 36:46 full run, r18
// timing) - excluded from the default budgeted `sbt test`, runs
// under SPARK_GRAFT_FULL_TESTS=1 (the round-close full tally)
@graft.Slow
class MaintainedShingleIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("streamed ingestion == batch materialize on the union; replays and stream-dels exact") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    GraftExtensions.register(spark)
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

    val docs = Tables.load(spark, dir, "documents")
      .select($"doc_id", $"text").filter($"text".isNotNull)
    val corpus = docs.filter($"doc_id" < 350)
    val probeBatch = docs.filter($"doc_id" >= 350).cache()
    val rows = corpus.as[(Long, String)].collect()
    val (first, second) = rows.splitAt(rows.length / 2)

    val idx = new MaintainedShingleIndex(Files.createTempDirectory("shidxm"), spark)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def novSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet

    // before any commit: only within-probe-batch pairs (empty corpus)
    val selfOnly = pairSet(idx.probe(probeBatch, 0.6))

    val ms = MemoryStream[(Long, String)]
    val q = ms.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", Files.createTempDirectory("graft-ckpt-shidxm-").toString)
      .foreachBatch(idx.update _)
      .start()
    ms.addData(first.toSeq: _*)
    q.processAllAvailable()
    ms.addData(second.toSeq: _*)
    q.processAllAvailable()
    q.stop()
    assert(idx.lastCommitted >= 1, s"expected >=2 committed batches, got ${idx.lastCommitted}")

    try {
      ShingleIndex.materialize(corpus, "graft_shidxm_ref")
      val wantPairs = pairSet(ShingleIndex.probe(spark, "graft_shidxm_ref", probeBatch, 0.6))
      assert(wantPairs.nonEmpty && wantPairs != selfOnly,
        "vacuous: no batch-vs-corpus pair in the probe")
      assert(pairSet(idx.probe(probeBatch, 0.6)) == wantPairs,
        "maintained probe != batch materialize on the union")
      val wantNov = novSet(ShingleIndex.noveltyProbe(spark, "graft_shidxm_ref", probeBatch))
      assert(pairSet(idx.probe(probeBatch, 0.6)) == wantPairs)
      assert(novSet(idx.noveltyProbe(probeBatch)) == wantNov,
        "maintained novelty != batch materialize on the union")
      val wantCont = pairSet(
        ShingleIndex.containmentProbe(spark, "graft_shidxm_ref", probeBatch, 0.9))
      assert(pairSet(idx.containmentProbe(probeBatch, 0.9)) == wantCont,
        "maintained containment != batch materialize on the union")
      def kfSet(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
      val wantKf = kfSet(
        ShingleIndex.spanKeepFirstProbe(spark, "graft_shidxm_ref", probeBatch))
      assert(wantKf.exists(_._3 > 0L), "vacuous: keep-first scrubbed nothing")
      assert(kfSet(idx.spanKeepFirstProbe(probeBatch)) == wantKf,
        "maintained keep-first scrub != batch materialize on the union")

      // a replayed batch id — even with DIFFERENT data — must be a no-op
      idx.update(Seq((999999L, "spark spark spark spark spark")).toDF("doc_id", "text"), 0L)
      assert(pairSet(idx.probe(probeBatch, 0.6)) == wantPairs,
        "replayed batch mutated the index")

      // STREAM-CARRIED takedown: del rows remove committed docs exactly —
      // probes equal a batch index materialized without them, so
      // right-to-be-forgotten never pauses ingestion
      val removed = rows.map(_._1).filter(_ % 7 == 3).toSeq
      assert(removed.nonEmpty, "takedown set empty — vacuous")
      val nextId = idx.lastCommitted + 1
      idx.update(removed.map(id => (id, "", "del")).toDF("doc_id", "text", "op"), nextId)
      ShingleIndex.materialize(corpus.filter(!$"doc_id".isin(removed: _*)), "graft_shidxm_rem")
      val afterDel = pairSet(idx.probe(probeBatch, 0.6))
      assert(afterDel == pairSet(
        ShingleIndex.probe(spark, "graft_shidxm_rem", probeBatch, 0.6)),
        "maintained probe after stream-del != rebuild on remaining corpus")
      assert(afterDel != wantPairs, "vacuous: the del batch changed no pair")
      assert(novSet(idx.noveltyProbe(probeBatch)) == novSet(
        ShingleIndex.noveltyProbe(spark, "graft_shidxm_rem", probeBatch)),
        "novelty after stream-del did not release first-occurrence claims")
      assert(kfSet(idx.spanKeepFirstProbe(probeBatch)) == kfSet(
        ShingleIndex.spanKeepFirstProbe(spark, "graft_shidxm_rem", probeBatch)),
        "keep-first scrub after stream-del did not release the forgotten passages")

      // del replay and re-request are no-ops
      idx.update(removed.map(id => (id, "", "del")).toDF("doc_id", "text", "op"), nextId)
      assert(pairSet(idx.probe(probeBatch, 0.6)) == afterDel,
        "replayed del batch mutated the index")
      idx.update(removed.take(1).map(id => (id, "", "del")).toDF("doc_id", "text", "op"),
        nextId + 1)
      assert(pairSet(idx.probe(probeBatch, 0.6)) == afterDel,
        "re-requested del id changed the index")

      // add+del of one id in one batch fails fast
      intercept[IllegalArgumentException] {
        idx.update(Seq((1L, "x y z w", "add"), (1L, "", "del")).toDF("doc_id", "text", "op"),
          nextId + 2)
      }
    } finally {
      for (t <- Seq("graft_shidxm_ref", "graft_shidxm_ref_counts",
          "graft_shidxm_rem", "graft_shidxm_rem_counts"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.catalog.clearCache()
    }
  }

  test("compact: partitions fold to one base, probes identical, crashed swap fails loud then rolls forward, feed continues ≡ uncompacted twin") {
    import spark.implicits._
    GraftExtensions.register(spark)
    val docs = Tables.load(spark, dir, "documents")
      .select($"doc_id", $"text").filter($"text".isNotNull)
    def rowsOf(lo: Long, hi: Long) = docs
      .filter($"doc_id" >= lo && $"doc_id" < hi)
      .withColumn("op", lit("add"))
    val probeBatch = docs.filter($"doc_id" >= 350).cache()
    val delId = docs.filter($"doc_id" < 150).agg(min($"doc_id")).head.getLong(0)

    val rootA = Files.createTempDirectory("shidxmc-a-")
    val rootB = Files.createTempDirectory("shidxmc-b-")
    val a = new MaintainedShingleIndex(rootA, spark)
    val b = new MaintainedShingleIndex(rootB, spark)
    def feed(idx: MaintainedShingleIndex, id: Long, df: org.apache.spark.sql.DataFrame) =
      idx.update(df, id)
    // batches 0,1 — batch 1 carries adds AND a stream-del of a batch-0 doc
    for (idx <- Seq(a, b)) {
      feed(idx, 0L, rowsOf(0, 150))
      feed(idx, 1L, rowsOf(150, 350)
        .unionByName(Seq((delId, "", "del")).toDF("doc_id", "text", "op")))
    }
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def novSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    def kfSet(df: org.apache.spark.sql.DataFrame) = df
      .select($"doc_id", $"n_removed", $"scrub_text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    def batchParts(root: java.nio.file.Path, rel: String): Seq[String] = {
      val d = root.resolve(rel)
      import scala.jdk.CollectionConverters._
      val s = Files.list(d)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("batch=")).toSeq.sorted
      finally s.close()
    }
    val prePairs = pairSet(a.probe(probeBatch, 0.6))
    val preNov = novSet(a.noveltyProbe(probeBatch))
    val preKf = kfSet(a.spanKeepFirstProbe(probeBatch))
    assert(prePairs.nonEmpty && preKf.exists(_._2 > 0), "vacuous probe geometry")
    assert(batchParts(rootA, "pairs") == Seq("batch=0", "batch=1"),
      "expected one partition per fed batch before the fold")
    assert(Files.exists(rootA.resolve("eos/batch-1/tombstones")),
      "the stream-del should have staged a tombstone set")

    // crash after the seal, before any swap: probes/updates fail loud, the
    // retry rolls the staged dirs forward
    intercept[IllegalStateException](
      TestSpark.crashAt(TestSpark.compactSealed)(a.compact()))
    assert(Files.exists(rootA.resolve("pairs_compact")) &&
      Files.exists(rootA.resolve("counts_compact")) &&
      batchParts(rootA, "pairs") == Seq("batch=0", "batch=1"),
      "the crash should leave the staged dirs unswapped")
    intercept[IllegalArgumentException](a.probe(probeBatch, 0.6))
    intercept[IllegalArgumentException](
      feed(a, 2L, rowsOf(350, 360)))
    a.compact()
    assert(batchParts(rootA, "pairs") == Seq("batch=0") &&
      batchParts(rootA, "counts") == Seq("batch=0"),
      "committed batches did not fold to the single base")
    assert(!Files.exists(rootA.resolve("eos/batch-1/tombstones")),
      "applied tombstones survived the fold")
    assert(pairSet(a.probe(probeBatch, 0.6)) == prePairs, "probe changed")
    assert(novSet(a.noveltyProbe(probeBatch)) == preNov, "novelty changed")
    assert(kfSet(a.spanKeepFirstProbe(probeBatch)) == preKf, "keep-first changed")
    // idempotent fast path: an immediate re-compact of the folded base
    // (exactly the retry-right-after-recover shape) must not re-stage
    // and re-roll the already-folded layout
    val foldStamp = Files.getLastModifiedTime(rootA.resolve("pairs"))
    a.compact()
    assert(Files.getLastModifiedTime(rootA.resolve("pairs")) == foldStamp,
      "re-compact of an already-folded base rewrote it")
    // a staged dir with no marker is a crashed stage's leftover: cleared
    // even when the layout is up to date
    Files.createDirectories(rootA.resolve("pairs_compact"))
    a.compact()
    assert(!Files.exists(rootA.resolve("pairs_compact")),
      "an up-to-date compact kept a pre-seal leftover staged dir")

    // the feed continues over the folded base exactly like the twin that
    // never compacted — including a re-requested del of the folded-away id
    for (idx <- Seq(a, b))
      feed(idx, 2L, rowsOf(350, 400)
        .unionByName(Seq((delId, "", "del")).toDF("doc_id", "text", "op")))
    val probe2 = docs.filter($"doc_id" >= 400).cache()
    assert(pairSet(a.probe(probe2, 0.6)) == pairSet(b.probe(probe2, 0.6)),
      "post-compact feed diverged from the uncompacted twin")
    assert(novSet(a.noveltyProbe(probe2)) == novSet(b.noveltyProbe(probe2)),
      "post-compact novelty diverged")
    assert(kfSet(a.spanKeepFirstProbe(probe2)) == kfSet(b.spanKeepFirstProbe(probe2)),
      "post-compact keep-first diverged")
    // double-compact is a no-op at the probe level
    a.compact()
    assert(pairSet(a.probe(probe2, 0.6)) == pairSet(b.probe(probe2, 0.6)),
      "double compact changed the probe")
    probeBatch.unpersist(); probe2.unpersist()
  }

  test("compact under a LIVE query: between-trigger folds invisible, a mid-swap marker fails the trigger loud, compact() recovers and the restarted stream continues") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    GraftExtensions.register(spark)
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Tables.load(spark, dir, "documents")
      .select($"doc_id", $"text").filter($"text".isNotNull)
    val corpus = docs.filter($"doc_id" < 300)
    val probeBatch = docs.filter($"doc_id" >= 350).cache()
    val rows = corpus.as[(Long, String)].collect()
    val third = rows.length / 3
    val (b1, rest) = rows.splitAt(third)
    val (b2, b3) = rest.splitAt(third)
    val lateDoc = (900001L, "omega psi chi phi upsilon")

    val root = Files.createTempDirectory("shidxm-live-")
    val idx = new MaintainedShingleIndex(root, spark)
    val ckpt = Files.createTempDirectory("graft-ckpt-shidxm-live-").toString
    val ms = MemoryStream[(Long, String)]
    def start() = ms.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch(idx.update _)
      .start()
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val q = start()
    try {
      ms.addData(b1.toSeq: _*); q.processAllAvailable()
      ms.addData(b2.toSeq: _*); q.processAllAvailable()

      // BETWEEN triggers (query alive, idle) — the documented maintenance
      // window: the fold is invisible to the next probe and the stream
      // keeps appending onto the folded base
      val pre = pairSet(idx.probe(probeBatch, 0.6))
      assert(q.isActive, "fixture: the query must be live here")
      idx.compact()
      assert(pairSet(idx.probe(probeBatch, 0.6)) == pre,
        "between-trigger compact changed the probe")
      ms.addData(b3.toSeq: _*); q.processAllAvailable()
      ShingleIndex.materialize(corpus, "graft_shidxm_live_ref")
      val want = pairSet(
        ShingleIndex.probe(spark, "graft_shidxm_live_ref", probeBatch, 0.6))
      assert(want.nonEmpty, "vacuous probe geometry")
      assert(pairSet(idx.probe(probeBatch, 0.6)) == want,
        "stream over a between-trigger fold != batch rebuild on the union")

      // DURING a trigger: a mid-swap marker (the crashed-compact state)
      // must fail the arriving micro-batch LOUD — an update must never
      // append into a half-swapped layout
      Files.createFile(root.resolve("_compact_staged"))
      ms.addData(lateDoc)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def rootCause(t: Throwable): Throwable =
        if (t.getCause == null) t else rootCause(t.getCause)
      assert(rootCause(e).getMessage.contains("crashed compact"),
        s"wrong failure: ${rootCause(e).getMessage}")
      assert(!q.isActive, "the failed trigger should have stopped the query")

      // compact() rolls the swap forward and clears the marker; the
      // restarted query replays the failed batch and the state equals a
      // batch rebuild over everything delivered
      idx.compact()
      val q2 = start()
      try { q2.processAllAvailable() } finally q2.stop()
      ShingleIndex.materialize(
        corpus.unionByName(Seq(lateDoc).toDF("doc_id", "text")),
        "graft_shidxm_live_ref2")
      assert(pairSet(idx.probe(probeBatch, 0.6)) == pairSet(
        ShingleIndex.probe(spark, "graft_shidxm_live_ref2", probeBatch, 0.6)),
        "restart after a recovered swap diverged from the batch rebuild")
    } finally {
      if (q.isActive) q.stop()
      for (t <- Seq("graft_shidxm_live_ref", "graft_shidxm_live_ref_counts",
          "graft_shidxm_live_ref2", "graft_shidxm_live_ref2_counts"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.catalog.clearCache()
      probeBatch.unpersist()
    }
  }
}
