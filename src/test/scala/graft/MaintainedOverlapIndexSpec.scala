package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.OverlapIndex
import graft.queries.CorpusQueries
import graft.streaming.MaintainedOverlapIndex

/** The continuously-maintained positioned (overlap-run) index: streamed
  * ingestion must land EXACTLY the batch [[OverlapIndex]] state (runsProbe
  * equality vs a from-scratch materialize on the union corpus), replayed
  * batch ids must be no-ops, and stream-carried `op='del'` rows must equal
  * a batch delete — the MaintainedShingleIndexSpec three-pin shape on the
  * run-decontamination surface. */
class MaintainedOverlapIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("streamed ingestion == batch materialize on the union; replays and stream-dels exact") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    GraftExtensions.register(spark)
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

    val docs = Tables.load(spark, dir, "documents")
      .select($"doc_id", $"text").filter($"text".isNotNull)
    val corpus = docs.filter($"doc_id" % CorpusQueries.EvalMod =!= 0)
    val evalDocs = docs.filter($"doc_id" % CorpusQueries.EvalMod === 0).cache()
    val rows = corpus.as[(Long, String)].collect()
    val (first, second) = rows.splitAt(rows.length / 2)

    val idx = new MaintainedOverlapIndex(Files.createTempDirectory("ovidxm"), spark)
    def runsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

    // before any commit: the standing corpus is empty → no runs
    assert(runsOf(idx.runsProbe(evalDocs, CorpusQueries.MinRunTokens)).isEmpty)

    val ms = MemoryStream[(Long, String)]
    val q = ms.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", Files.createTempDirectory("graft-ckpt-ovidxm-").toString)
      .foreachBatch(idx.update _)
      .start()
    ms.addData(first.toSeq: _*)
    q.processAllAvailable()
    ms.addData(second.toSeq: _*)
    q.processAllAvailable()
    q.stop()
    assert(idx.lastCommitted >= 1, s"expected >=2 committed batches, got ${idx.lastCommitted}")

    try {
      OverlapIndex.materialize(corpus, "graft_ovidxm_ref")
      val want = runsOf(OverlapIndex.runsProbe(spark, "graft_ovidxm_ref",
        evalDocs, CorpusQueries.MinRunTokens))
      assert(want.nonEmpty, "vacuous: no overlap run in the probe")
      assert(runsOf(idx.runsProbe(evalDocs, CorpusQueries.MinRunTokens)) == want,
        "maintained runsProbe != batch materialize on the union")

      // the mirrored-roles scrub: streamed occurrences as the benchmark
      // side equal the batch index's scrubProbe on the same frames
      def scrubOf(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
      val wantScrub = scrubOf(OverlapIndex.scrubProbe(spark, "graft_ovidxm_ref",
        evalDocs, CorpusQueries.MinRunTokens))
      assert(wantScrub.exists(_._3 > 0), "vacuous: streamed scrub cut nothing")
      assert(scrubOf(idx.scrubProbe(evalDocs, CorpusQueries.MinRunTokens)) == wantScrub,
        "maintained scrubProbe != batch index scrub")

      // a replayed batch id — even with DIFFERENT data — must be a no-op
      idx.update(Seq((999999L, "spark spark spark spark spark")).toDF("doc_id", "text"), 0L)
      assert(runsOf(idx.runsProbe(evalDocs, CorpusQueries.MinRunTokens)) == want,
        "replayed batch mutated the index")

      // STREAM-CARRIED takedown: a forgotten doc must stop flagging runs
      // exactly — probes equal a batch index materialized without it
      val removed = want.map(_._2).toSeq // t_docs currently flagging runs
      assert(removed.nonEmpty, "takedown set empty — vacuous")
      val nextId = idx.lastCommitted + 1
      idx.update(removed.map(id => (id, "", "del")).toDF("doc_id", "text", "op"), nextId)
      OverlapIndex.materialize(corpus.filter(!$"doc_id".isin(removed: _*)),
        "graft_ovidxm_rem")
      val afterDel = runsOf(idx.runsProbe(evalDocs, CorpusQueries.MinRunTokens))
      assert(afterDel == runsOf(OverlapIndex.runsProbe(spark, "graft_ovidxm_rem",
        evalDocs, CorpusQueries.MinRunTokens)),
        "maintained runsProbe after stream-del != rebuild on remaining corpus")
      assert(afterDel != want, "vacuous: the del batch changed no run")

      // del replay and re-request are no-ops
      idx.update(removed.map(id => (id, "", "del")).toDF("doc_id", "text", "op"), nextId)
      assert(runsOf(idx.runsProbe(evalDocs, CorpusQueries.MinRunTokens)) == afterDel,
        "replayed del batch mutated the index")
      idx.update(removed.take(1).map(id => (id, "", "del")).toDF("doc_id", "text", "op"),
        nextId + 1)
      assert(runsOf(idx.runsProbe(evalDocs, CorpusQueries.MinRunTokens)) == afterDel,
        "re-requested del id changed the index")

      // add+del of one id in one batch fails fast
      intercept[IllegalArgumentException] {
        idx.update(Seq((1L, "x y z w", "add"), (1L, "", "del")).toDF("doc_id", "text", "op"),
          nextId + 2)
      }
    } finally {
      for (t <- Seq("graft_ovidxm_ref", "graft_ovidxm_rem"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.catalog.clearCache()
    }
  }

  test("compact: occurrences fold to one base, probes identical, crashed swap fails loud then rolls forward, feed continues ≡ uncompacted twin") {
    import spark.implicits._
    GraftExtensions.register(spark)
    val minRun = CorpusQueries.MinRunTokens
    val docs = Tables.load(spark, dir, "documents")
      .select($"doc_id", $"text").filter($"text".isNotNull)
    val corpus = docs.filter($"doc_id" % CorpusQueries.EvalMod =!= 0)
    val evalDocs = docs.filter($"doc_id" % CorpusQueries.EvalMod === 0).cache()
    def rowsOf(lo: Long, hi: Long) = corpus
      .filter($"doc_id" >= lo && $"doc_id" < hi)
      .withColumn("op", lit("add"))
    val delId = corpus.filter($"doc_id" < 150).agg(min($"doc_id")).head.getLong(0)

    val rootA = Files.createTempDirectory("ovidxmc-a-")
    val rootB = Files.createTempDirectory("ovidxmc-b-")
    val a = new MaintainedOverlapIndex(rootA, spark)
    val b = new MaintainedOverlapIndex(rootB, spark)
    for (idx <- Seq(a, b)) {
      idx.update(rowsOf(0, 150), 0L)
      idx.update(rowsOf(150, 500)
        .unionByName(Seq((delId, "", "del")).toDF("doc_id", "text", "op")), 1L)
    }
    def runsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    def scrubOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    def batchParts(root: java.nio.file.Path): Seq[String] = {
      import scala.jdk.CollectionConverters._
      val s = Files.list(root.resolve("occ"))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("batch=")).toSeq.sorted
      finally s.close()
    }
    val preRuns = runsOf(a.runsProbe(evalDocs, minRun))
    val preScrub = scrubOf(a.scrubProbe(evalDocs, minRun))
    assert(preRuns.nonEmpty, "vacuous probe geometry")
    assert(batchParts(rootA) == Seq("batch=0", "batch=1"),
      "expected one partition per fed batch before the fold")
    assert(Files.exists(rootA.resolve("eos/batch-1/tombstones")),
      "the stream-del should have staged a tombstone set")

    intercept[IllegalStateException](
      TestSpark.crashAt(TestSpark.compactSealed)(a.compact()))
    assert(Files.exists(rootA.resolve("occ_compact")) &&
      batchParts(rootA) == Seq("batch=0", "batch=1"),
      "the crash should leave the staged dir unswapped")
    intercept[IllegalArgumentException](a.runsProbe(evalDocs, minRun))
    intercept[IllegalArgumentException](
      a.update(Seq((999002L, "alpha beta gamma", "add")).toDF("doc_id", "text", "op"), 2L))
    a.compact()
    assert(batchParts(rootA) == Seq("batch=0"),
      "committed batches did not fold to the single base")
    assert(!Files.exists(rootA.resolve("eos/batch-1/tombstones")),
      "applied tombstones survived the fold")
    assert(runsOf(a.runsProbe(evalDocs, minRun)) == preRuns, "runs probe changed")
    assert(scrubOf(a.scrubProbe(evalDocs, minRun)) == preScrub, "scrub probe changed")

    // the feed continues over the folded base like the uncompacted twin —
    // including a re-requested del of the folded-away id
    for (idx <- Seq(a, b))
      idx.update(Seq((999001L, "alpha beta gamma delta epsilon zeta", "add"),
        (delId, "", "del")).toDF("doc_id", "text", "op"), 2L)
    assert(runsOf(a.runsProbe(evalDocs, minRun)) == runsOf(b.runsProbe(evalDocs, minRun)),
      "post-compact feed diverged from the uncompacted twin")
    assert(scrubOf(a.scrubProbe(evalDocs, minRun)) == scrubOf(b.scrubProbe(evalDocs, minRun)),
      "post-compact scrub diverged")
    evalDocs.unpersist()
  }
}
