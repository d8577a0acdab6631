package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Bm25Index, IntIvfIndex, IntegerKMeans, VectorIndex}
import graft.queries.RetrievalQueries
import graft.streaming.{MaintainedBm25Index, MaintainedIntIvfIndex,
  MaintainedVectorIndex, StreamingRetrieval}

/** Streamed BM25 probing must equal the batch probe bit-for-bit: the
  * summed quantity is the exact scaled-long contribution, so window
  * closure order / micro-batch split cannot change a score. */
// multi-minute integration suite (~57 s of the 36:46 full run, r18
// timing) - excluded from the default budgeted `sbt test`, runs
// under SPARK_GRAFT_FULL_TESTS=1 (the round-close full tally)
@graft.Slow
class StreamingRetrievalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("streamed scores equal the batch probe, split across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    GraftExtensions.register(spark)
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

    val path = Files.createTempDirectory("bm25s").toString
    Bm25Index.build(
      Tables.load(spark, dir, "documents").select($"doc_id", $"text"), path)
    val scoring = StreamingRetrieval.scoringFrame(spark, path).cache()
    try {
      val ms = MemoryStream[(Long, String, Long)]
      val queries = ms.toDF().toDF("query_id", "term", "sec")
        .withColumn("ts", timestamp_seconds($"sec"))
        .select($"query_id", $"term", $"ts")
      val got = scala.collection.mutable.Set.empty[(Long, Long, Long)]
      val q = StreamingRetrieval.probe(queries, scoring)
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", Files.createTempDirectory("graft-ckpt-bm25-").toString)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          got ++= df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          ()
        }
        .start()
      // the fixture queries arrive split across two micro-batches but
      // inside ONE event-time window, so the windowed sum must still fuse
      // the per-term contributions of each query; the far-future row
      // flushes the window past the watermark
      val fx = RetrievalQueries.fixtureQueries
      val (first, second) = fx.splitAt(3)
      ms.addData(first.map { case (qid, t) => (qid, t, 60L) }: _*)
      q.processAllAvailable()
      ms.addData(second.map { case (qid, t) => (qid, t, 70L) }: _*)
      q.processAllAvailable()
      ms.addData((999L, "flush", 10000000L))
      q.processAllAvailable()
      q.stop()

      val expected = Bm25Index.probe(spark, path, fx.toDF("query_id", "term"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(expected.nonEmpty, "no BM25 hits — test would be vacuous")
      assert(got == expected,
        s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
    } finally {
      scoring.unpersist()
      spark.catalog.clearCache()
    }
  }

  test("maintained index: streamed ingestion == batch build on the union corpus; replays skipped") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    GraftExtensions.register(spark)
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

    val docsDf = Tables.load(spark, dir, "documents")
      .select($"doc_id", $"text").filter($"text".isNotNull)
    val rows = docsDf.as[(Long, String)].collect()
    val (first, second) = rows.splitAt(rows.length / 2)

    val idx = new MaintainedBm25Index(Files.createTempDirectory("bm25m"), spark)
    val fx = RetrievalQueries.fixtureQueries.toDF("query_id", "term")
    assert(idx.probe(fx).isEmpty, "probe before any commit must be empty")

    val ms = MemoryStream[(Long, String)]
    val q = ms.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", Files.createTempDirectory("graft-ckpt-bm25m-").toString)
      .foreachBatch(idx.update _)
      .start()
    ms.addData(first.toSeq: _*)
    q.processAllAvailable()
    ms.addData(second.toSeq: _*)
    q.processAllAvailable()
    q.stop()
    assert(idx.lastCommitted >= 1, s"expected >=2 committed batches, got ${idx.lastCommitted}")

    def scores(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val full = Files.createTempDirectory("bm25mf").toString
    Bm25Index.build(docsDf, full)
    val expected = scores(Bm25Index.probe(spark, full, fx))
    assert(expected.nonEmpty, "no BM25 hits — test would be vacuous")
    assert(scores(idx.probe(fx)) == expected, "maintained probe != batch build")

    // a replayed batch id — even with DIFFERENT data — must be a no-op
    idx.update(Seq((9999L, "spark spark spark spark")).toDF("doc_id", "text"), 0L)
    assert(scores(idx.probe(fx)) == expected, "replayed batch mutated the index")

    // STREAM-CARRIED takedown: a del batch removes docs exactly — probe
    // equals a from-scratch build on the remaining corpus (df/avgdl
    // updated, not just rows masked), and a replay of the del batch or a
    // re-request of the same ids are no-ops
    val removed = rows.map(_._1).filter(_ % 9 == 4).toSet
    assert(removed.nonEmpty, "takedown set empty — vacuous")
    val nextId = idx.lastCommitted + 1
    idx.update(removed.toSeq.map(id => (id, "", "del")).toDF("doc_id", "text", "op"), nextId)
    val remainingIdx = Files.createTempDirectory("bm25mr").toString
    Bm25Index.build(docsDf.filter(!$"doc_id".isin(removed.toSeq: _*)), remainingIdx)
    val afterDel = scores(idx.probe(fx))
    assert(afterDel == scores(Bm25Index.probe(spark, remainingIdx, fx)),
      "maintained probe after stream-del != rebuild on remaining corpus")
    assert(afterDel != expected, "vacuous: the del batch changed no score")
    idx.update(removed.toSeq.map(id => (id, "", "del")).toDF("doc_id", "text", "op"), nextId)
    assert(scores(idx.probe(fx)) == afterDel, "replayed del batch mutated the index")
    idx.update(removed.toSeq.take(1).map(id => (id, "", "del")).toDF("doc_id", "text", "op"),
      nextId + 1)
    assert(scores(idx.probe(fx)) == afterDel, "re-requested del id decremented twice")
    // mixed batches still work after deletes, and add+del of one id in
    // one batch fails fast
    intercept[IllegalArgumentException] {
      idx.update(Seq((1L, "x y", "add"), (1L, "", "del")).toDF("doc_id", "text", "op"),
        nextId + 2)
    }
    spark.catalog.clearCache()
  }

  test("maintained vector index: streamed ingestion == batch materialize+probe on the union; replays skipped") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    GraftExtensions.register(spark)
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

    val vecsDf = Tables.load(spark, dir, "embeddings")
      .select($"vec_id", $"embedding").filter($"embedding".isNotNull)
    val rows = vecsDf.select($"vec_id", $"embedding".cast("array<double>"))
      .as[(Long, Array[Double])].collect()
    val (first, second) = rows.splitAt(rows.length / 2)

    val idxPath = Files.createTempDirectory("vecm")
    val idx = new MaintainedVectorIndex(idxPath, spark)
    val queries = vecsDf.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding")
    assert(idx.probe(queries, k = 3).isEmpty, "probe before any commit must be empty")

    val ms = MemoryStream[(Long, Array[Double])]
    val q = ms.toDF().toDF("vec_id", "embedding").writeStream
      .option("checkpointLocation", Files.createTempDirectory("graft-ckpt-vecm-").toString)
      .foreachBatch(idx.update _)
      .start()
    ms.addData(first.toSeq: _*)
    q.processAllAvailable()
    ms.addData(second.toSeq: _*)
    q.processAllAvailable()
    q.stop()
    assert(idx.lastCommitted >= 1, s"expected >=2 committed batches, got ${idx.lastCommitted}")

    def hits(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val full = Files.createTempDirectory("vecmf").toString
    VectorIndex.materialize(vecsDf, full)
    val expected = hits(VectorIndex.probe(spark, full, queries, k = 3, nprobe = 2))
    assert(expected.nonEmpty, "no ANN hits — test would be vacuous")
    assert(hits(idx.probe(queries, k = 3, nprobe = 2)) == expected,
      "maintained vector probe != batch materialize+probe")

    // a replayed batch id — even with DIFFERENT data — must be a no-op
    idx.update(Seq((99999L, Array.fill(64)(1.0))).toDF("vec_id", "embedding"), 0L)
    assert(hits(idx.probe(queries, k = 3, nprobe = 2)) == expected,
      "replayed batch mutated the index")

    // delete on the STREAMING artifact: exact (side-table-free mask) —
    // probe == a batch materialize+probe on the remaining vectors; and
    // vacuum physically erases without changing any probe
    val removed = rows.map(_._1).filter(_ % 5 == 3).toSet
    assert(removed.nonEmpty, "takedown set empty — vacuous")
    idx.delete(removed.toSeq.toDF("vec_id"))
    val remainingIdx = Files.createTempDirectory("vecmr").toString
    VectorIndex.materialize(vecsDf.filter(!$"vec_id".isin(removed.toSeq: _*)), remainingIdx)
    val afterDelete = hits(idx.probe(queries, k = 3, nprobe = 2))
    assert(afterDelete ==
      hits(VectorIndex.probe(spark, remainingIdx, queries, k = 3, nprobe = 2)),
      "maintained probe after delete != rebuild on remaining vectors")
    assert(afterDelete != expected, "vacuous: delete changed no probe result")
    idx.vacuum()
    assert(hits(idx.probe(queries, k = 3, nprobe = 2)) == afterDelete,
      "vacuum changed the probe")
    val survivors = spark.read.parquet(idxPath.resolve("vectors").toString)
      .select($"vec_id").distinct().as[Long].collect().toSet
    assert(survivors.intersect(removed).isEmpty,
      "vacuum left removed vec_ids on disk")
    assert(!Files.exists(idxPath.resolve("tombstones")),
      "tombstones survived the vacuum")
    spark.catalog.clearCache()
  }

  test("maintained IVFADC index: streamed == batch materializeAdc+probeAdc EXACTLY; replays skipped") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    GraftExtensions.register(spark)
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

    val vecsDf = Tables.load(spark, dir, "embeddings")
      .select($"vec_id", $"embedding").filter($"embedding".isNotNull)
    val pts = IntegerKMeans.quantize(vecsDf).cache()
    val rows = vecsDf.select($"vec_id", $"embedding".cast("array<double>"))
      .as[(Long, Array[Double])].collect()
    val (first, second) = rows.splitAt(rows.length / 2)

    val idxPath = Files.createTempDirectory("ivfm")
    val idx = new MaintainedIntIvfIndex(idxPath, spark)
    // quantizers frozen at bootstrap — BOTH centroids and codebooks, so
    // streamed == batch is exact, not just per-bucket-function
    val bootCents = idx.bootstrap(pts, k = 8, iters = 2,
      mMax = 8, kc = 16, pqIters = 4, trainN = 64)
    val queries = vecsDf.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding")
    assert(idx.probeAdc(queries, 2, 5, 40).isEmpty, "probe before any commit must be empty")

    val ms = MemoryStream[(Long, Array[Double])]
    val q = ms.toDF().toDF("vec_id", "embedding").writeStream
      .option("checkpointLocation", Files.createTempDirectory("graft-ckpt-ivfm-").toString)
      .foreachBatch(idx.update _)
      .start()
    ms.addData(first.toSeq: _*)
    q.processAllAvailable()
    ms.addData(second.toSeq: _*)
    q.processAllAvailable()
    q.stop()
    assert(idx.lastCommitted >= 1, s"expected >=2 committed batches, got ${idx.lastCommitted}")

    def hits(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val qpts = pts.filter($"vec_id" < 5)
    val full = Files.createTempDirectory("ivfmf").toString
    IntIvfIndex.materializeAdc(pts, full, k = 8, iters = 2,
      mMax = 8, kc = 16, pqIters = 4, trainN = 64, cents = Some(bootCents))
    val expected = hits(IntIvfIndex.probeAdc(spark, full, qpts, 2, 5, 40))
    assert(expected.nonEmpty, "no ADC hits — test would be vacuous")
    assert(hits(idx.probeAdc(queries, 2, 5, 40)) == expected,
      "maintained ADC probe != batch materializeAdc+probeAdc on the union")

    // a replayed batch id — even with DIFFERENT data — must be a no-op
    idx.update(Seq((99999L, Array.fill(64)(1.0))).toDF("vec_id", "embedding"), 0L)
    assert(hits(idx.probeAdc(queries, 2, 5, 40)) == expected,
      "replayed batch mutated the index")

    // the allowed selector behaves identically on the streaming artifact:
    // filtered streaming probe == filtered static probe over the union
    val allowed = rows.map(_._1).filter(_ % 2 == 0).toSeq.toDF("vec_id")
    val fStream = hits(idx.probeAdc(queries, 2, 5, 40, allowed = Some(allowed)))
    val fStatic = hits(IntIvfIndex.probeAdc(spark, full, qpts, 2, 5, 40,
      allowed = Some(allowed)))
    assert(fStream == fStatic, "filtered streaming probe != filtered static probe")
    assert(fStream.nonEmpty && fStream != expected,
      "vacuous: the selector excluded nothing")

    // out-of-band delete: exact mask (frozen quantizers depend on no
    // per-batch state); removed ids sit outside the trainN=64 prefix so
    // the rebuilt-without reference trains the same codebooks
    val removed = rows.map(_._1).filter(id => id >= 64 && id % 5 == 3).toSet
    assert(removed.nonEmpty, "takedown set empty — vacuous")
    idx.delete(removed.toSeq.toDF("vec_id"))
    val remainingIdx = Files.createTempDirectory("ivfmr").toString
    IntIvfIndex.materializeAdc(pts.filter(!$"vec_id".isin(removed.toSeq: _*)),
      remainingIdx, k = 8, iters = 2, mMax = 8, kc = 16, pqIters = 4,
      trainN = 64, cents = Some(bootCents))
    val afterDelete = hits(idx.probeAdc(queries, 2, 5, 40))
    assert(afterDelete ==
      hits(IntIvfIndex.probeAdc(spark, remainingIdx, qpts, 2, 5, 40)),
      "maintained ADC probe after delete != rebuild on remaining vectors")
    assert(afterDelete != expected, "vacuous: delete changed no probe result")
    idx.vacuum()
    assert(hits(idx.probeAdc(queries, 2, 5, 40)) == afterDelete,
      "vacuum changed the probe")
    val survivors = spark.read.parquet(idxPath.resolve("vectors").toString)
      .select($"vec_id").distinct().as[Long].collect().toSet
    assert(survivors.intersect(removed).isEmpty,
      "vacuum left removed vec_ids on disk")
    assert(!Files.exists(idxPath.resolve("tombstones")),
      "tombstones survived the vacuum")
    pts.unpersist()
    spark.catalog.clearCache()
  }

  test("maintained bm25/vector/ivfadc compact: partitions fold, probes identical, crashed swap fails loud then rolls forward, feed continues ≡ uncompacted twin") {
    import spark.implicits._
    GraftExtensions.register(spark)
    def batchParts(p: java.nio.file.Path): Seq[String] = {
      import scala.jdk.CollectionConverters._
      val s = Files.list(p)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("batch=")).toSeq.sorted
      finally s.close()
    }

    // ---- BM25: stream-carried dels, sides ride the EOS snapshot ----
    val docsDf = Tables.load(spark, dir, "documents")
      .select($"doc_id", $"text").filter($"text".isNotNull)
    val docRows = docsDf.as[(Long, String)].collect()
    val (d1, d2) = docRows.splitAt(docRows.length / 2)
    val delIds = d1.map(_._1).filter(_ % 9 == 4).toSeq
    val extra = Seq((100001L, "maintenance fold keeps every score"),
      (100002L, "bm25 fold bench text"))
    val fx = RetrievalQueries.fixtureQueries.toDF("query_id", "term")
    def scores(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val bmPathA = Files.createTempDirectory("bm25c-a-")
    val bmA = new MaintainedBm25Index(bmPathA, spark)
    val bmB = new MaintainedBm25Index(Files.createTempDirectory("bm25c-b-"), spark)
    // feed both twins: adds, then adds+dels
    for (bm <- Seq(bmA, bmB)) {
      bm.update(d1.toSeq.toDF("doc_id", "text"), 0L)
      bm.update(d2.toSeq.map { case (i, t) => (i, t, "add") }
        .toDF("doc_id", "text", "op")
        .unionByName(delIds.map(i => (i, "", "del")).toDF("doc_id", "text", "op")), 1L)
    }
    val bmPre = scores(bmA.probe(fx))
    assert(bmPre.nonEmpty, "vacuous bm25 fixture")
    intercept[IllegalStateException](
      TestSpark.crashAt(TestSpark.compactSealed)(bmA.compact()))
    assert(Files.exists(bmPathA.resolve("postings_compact")),
      "the crash should leave the staged dir unswapped")
    intercept[IllegalArgumentException](bmA.probe(fx))
    intercept[IllegalArgumentException](bmA.update(extra.toDF("doc_id", "text"), 2L))
    bmA.compact()
    assert(scores(bmA.probe(fx)) == bmPre, "bm25 probe changed across compact")
    for (bm <- Seq(bmA, bmB))
      bm.update(extra.toDF("doc_id", "text"), 2L)
    assert(scores(bmA.probe(fx)) == scores(bmB.probe(fx)),
      "bm25 post-compact feed diverged from uncompacted twin")

    // ---- vector index: out-of-band delete applied by the fold ----
    val vecsDf = Tables.load(spark, dir, "embeddings")
      .select($"vec_id", $"embedding").filter($"embedding".isNotNull)
    val vecRows = vecsDf.select($"vec_id", $"embedding".cast("array<double>"))
      .as[(Long, Array[Double])].collect()
    val (v1, v2) = vecRows.splitAt(vecRows.length / 2)
    val queries = vecsDf.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding")
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val vPathA = Files.createTempDirectory("vecc-a-")
    val vA = new MaintainedVectorIndex(vPathA, spark)
    val vB = new MaintainedVectorIndex(Files.createTempDirectory("vecc-b-"), spark)
    val vDel = vecRows.map(_._1).filter(_ % 5 == 3).toSeq
    for (v <- Seq(vA, vB)) {
      v.update(v1.toSeq.toDF("vec_id", "embedding"), 0L)
      v.update(v2.toSeq.toDF("vec_id", "embedding"), 1L)
      v.delete(vDel.toDF("vec_id"))
    }
    val vPre = hits(vA.probe(queries, k = 3, nprobe = 2))
    assert(vPre.nonEmpty, "vacuous vector fixture")
    assert(batchParts(vPathA.resolve("vectors")) == Seq("batch=0", "batch=1"))
    intercept[IllegalStateException](
      TestSpark.crashAt(TestSpark.compactSealed)(vA.compact()))
    assert(Files.exists(vPathA.resolve("vectors_compact")) &&
      batchParts(vPathA.resolve("vectors")) == Seq("batch=0", "batch=1"),
      "the crash should leave the staged dir unswapped")
    intercept[IllegalArgumentException](vA.probe(queries, k = 3))
    intercept[IllegalArgumentException](vA.update(v2.toSeq.toDF("vec_id", "embedding"), 2L))
    vA.compact()
    assert(batchParts(vPathA.resolve("vectors")) == Seq("batch=0"),
      "vector batches did not fold to base")
    assert(!Files.exists(vPathA.resolve("tombstones")),
      "applied vector tombstones survived the fold")
    assert(spark.read.parquet(vPathA.resolve("vectors").toString)
      .select($"vec_id").distinct().as[Long].collect().toSet
      .intersect(vDel.toSet).isEmpty,
      "fold left deleted vec_ids on disk")
    assert(hits(vA.probe(queries, k = 3, nprobe = 2)) == vPre,
      "vector probe changed across compact")
    val vExtra = Seq((200001L, Array.fill(64)(0.25)), (200002L, Array.fill(64)(0.75)))
    for (v <- Seq(vA, vB)) v.update(vExtra.toDF("vec_id", "embedding"), 2L)
    assert(hits(vA.probe(queries, k = 3, nprobe = 2)) ==
      hits(vB.probe(queries, k = 3, nprobe = 2)),
      "vector post-compact feed diverged from uncompacted twin")

    // ---- IVFADC: frozen quantizers survive the fold verbatim ----
    val pts = IntegerKMeans.quantize(vecsDf).cache()
    val iPathA = Files.createTempDirectory("ivfc-a-")
    val iA = new MaintainedIntIvfIndex(iPathA, spark)
    val iB = new MaintainedIntIvfIndex(Files.createTempDirectory("ivfc-b-"), spark)
    val bootA = iA.bootstrap(pts, k = 8, iters = 2, mMax = 8, kc = 16,
      pqIters = 4, trainN = 64)
    val bootB = iB.bootstrap(pts, k = 8, iters = 2, mMax = 8, kc = 16,
      pqIters = 4, trainN = 64)
    assert(bootA.map(_._1) == bootB.map(_._1), "bootstrap determinism drifted")
    val iDel = vecRows.map(_._1).filter(id => id >= 64 && id % 7 == 3).toSeq
    for (i <- Seq(iA, iB)) {
      i.update(v1.toSeq.toDF("vec_id", "embedding"), 0L)
      i.update(v2.toSeq.toDF("vec_id", "embedding"), 1L)
      i.delete(iDel.toDF("vec_id"))
    }
    def ahits(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val iPre = ahits(iA.probeAdc(queries, 2, 5, 40))
    assert(iPre.nonEmpty, "vacuous ivf fixture")
    intercept[IllegalStateException](
      TestSpark.crashAt(TestSpark.compactSealed)(iA.compact()))
    assert(Files.exists(iPathA.resolve("vectors_compact")) &&
      batchParts(iPathA.resolve("vectors")) == Seq("batch=0", "batch=1"),
      "the crash should leave the staged dir unswapped")
    intercept[IllegalArgumentException](iA.probeAdc(queries, 2, 5, 40))
    intercept[IllegalArgumentException](iA.update(v2.toSeq.toDF("vec_id", "embedding"), 2L))
    iA.compact()
    assert(batchParts(iPathA.resolve("vectors")) == Seq("batch=0"),
      "ivf batches did not fold to base")
    assert(ahits(iA.probeAdc(queries, 2, 5, 40)) == iPre,
      "ivf probe changed across compact")
    for (i <- Seq(iA, iB)) i.update(vExtra.toDF("vec_id", "embedding"), 2L)
    assert(ahits(iA.probeAdc(queries, 2, 5, 40)) ==
      ahits(iB.probeAdc(queries, 2, 5, 40)),
      "ivf post-compact feed diverged from uncompacted twin")
    pts.unpersist()
    spark.catalog.clearCache()
  }
}
