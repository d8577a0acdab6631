package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Bm25Index
import graft.queries.RetrievalQueries

/** The materialized BM25 inverted index: probing it must (a) score
  * IDENTICALLY to the from-scratch text_bm25 spelling (same shared
  * contrib expression — equality of exact scaled longs, not a tolerance)
  * and (b) read only the bucket partitions the query terms hash into
  * (static pruning via the driver-collected `b IN (...)` set). */
class Bm25IndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("probe equals the from-scratch text_bm25 scores; the postings scan prunes to the probed buckets") {
    import spark.implicits._
    GraftExtensions.register(spark)
    val path = Files.createTempDirectory("bm25idx").toString
    val docs = Tables.load(spark, dir, "documents").select($"doc_id", $"text")
    try {
      Bm25Index.build(docs, path)

      // (a) score equality with the oracle-checked query on the fixture
      val q = RetrievalQueries.fixtureQueries.toDF("query_id", "term")
      val got = Bm25Index.probe(spark, path, q)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val expected = SparkEntry.queries("text_bm25")(spark, dir)
        // text_bm25 ranks to top-10; compare on its surviving rows, and
        // separately require the probe's full score set to contain them
        .select($"query_id", $"doc_id", $"score_scaled")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(expected.nonEmpty, "no BM25 hits — test would be vacuous")
      assert(expected.subsetOf(got),
        s"probe disagrees with text_bm25: missing=${(expected -- got).take(5)}")
      // and the probe introduces no phantom (query, doc) hits: every
      // probe row must re-rank to the same top-10 as the query's output
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"query_id").orderBy($"score_scaled".desc, $"doc_id")
      val reranked = Bm25Index.probe(spark, path, q)
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter($"rnk" <= 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(reranked == expected,
        s"missing=${(expected -- reranked).take(5)} extra=${(reranked -- expected).take(5)}")

      // (b) static bucket pruning: a single-term probe reads strictly
      // fewer postings files than the full index holds
      val one = Seq((0L, "spark")).toDF("query_id", "term")
      val pruned = TestSpark.filesRead(Bm25Index.probe(spark, path, one))
      val all = TestSpark.filesRead(spark.read.parquet(Bm25Index.postingsPath(path)))
      assert(pruned < all, s"no pruning: probe read $pruned of $all files")
    } finally {
      spark.catalog.clearCache()
    }
  }

  test("stopword elision: the df-capped probe equals the full probe over the surviving query terms") {
    import spark.implicits._
    GraftExtensions.register(spark)
    val path = Files.createTempDirectory("bm25el").toString
    val docs = Tables.load(spark, dir, "documents").select($"doc_id", $"text")
    try {
      Bm25Index.build(docs, path)
      val q = RetrievalQueries.fixtureQueries.toDF("query_id", "term")
      // pick a threshold that splits the fixture terms' df values, so the
      // elision is neither empty nor total
      val stats = spark.read.parquet(Bm25Index.statsPath(path)).collect()(0)
      val n = stats.getLong(0).toDouble
      val dfs = spark.read.parquet(Bm25Index.termsPath(path))
        .join(q.select($"term").distinct(), "term")
        .collect().map(r => r.getAs[String]("term") -> r.getAs[Long]("dfreq")).toMap
      val cut = dfs.values.toSeq.sorted.apply(dfs.size / 2)
      val frac = cut / n
      val surviving = dfs.filter(_._2 <= cut).keySet
      assert(surviving.nonEmpty && surviving.size < dfs.size,
        s"threshold does not split the fixture terms: dfs=$dfs cut=$cut")
      def scores(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val got = scores(Bm25Index.probe(spark, path, q, maxDfFrac = frac))
      val expected = scores(Bm25Index.probe(spark, path,
        q.filter($"term".isin(surviving.toSeq: _*))))
      assert(expected.nonEmpty, "elision removed every hit — test would be vacuous")
      assert(got == expected,
        s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
    } finally {
      spark.catalog.clearCache()
    }
  }

  test("append(batch) equals a from-scratch rebuild of the union corpus") {
    import spark.implicits._
    GraftExtensions.register(spark)
    val docs = Tables.load(spark, dir, "documents").select($"doc_id", $"text")
    val corpus = docs.filter($"doc_id" < 250)
    val batch = docs.filter($"doc_id" >= 250)
    val incr = Files.createTempDirectory("bm25inc").toString
    val full = Files.createTempDirectory("bm25full").toString
    try {
      Bm25Index.build(corpus, incr)
      Bm25Index.append(batch, incr)
      Bm25Index.build(docs, full)
      val q = RetrievalQueries.fixtureQueries.toDF("query_id", "term")
      def scores(path: String) = Bm25Index.probe(spark, path, q)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val (got, expected) = (scores(incr), scores(full))
      assert(expected.nonEmpty, "no BM25 hits — test would be vacuous")
      assert(got == expected,
        s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
    } finally {
      spark.catalog.clearCache()
    }
  }

  test("a CRASHED append is invisible (index == pre-append) and the retry equals the rebuild") {
    import spark.implicits._
    GraftExtensions.register(spark)
    val docs = Tables.load(spark, dir, "documents").select($"doc_id", $"text")
    val corpus = docs.filter($"doc_id" < 250)
    val batch = docs.filter($"doc_id" >= 250)
    val incr = Files.createTempDirectory("bm25crash").toString
    val full = Files.createTempDirectory("bm25crashfull").toString
    try {
      Bm25Index.build(corpus, incr)
      Bm25Index.build(docs, full)
      val q = RetrievalQueries.fixtureQueries.toDF("query_id", "term")
      def scores(path: String) = Bm25Index.probe(spark, path, q)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val preAppend = scores(incr)
      // crash at the widest window: every write done, pointer not swapped
      val boom = intercept[IllegalStateException] {
        TestSpark.crashAtFirstCommit(Bm25Index.append(batch, incr, 32))
      }
      assert(boom.getMessage.contains("injected"))
      // the half-appended batch is INVISIBLE: probe, stats and df all
      // still read the pre-append state (readers gate on lastBatch)
      assert(scores(incr) == preAppend, "crashed append leaked into probes")
      assert(spark.read.parquet(Bm25Index.statsPath(incr)).collect()(0).getLong(0) ==
        corpus.count(), "crashed append leaked into stats")
      // the retry is the NORMAL append — and must equal the union rebuild
      // (dynamic partition overwrite replaced the crashed attempt's files,
      // so nothing double-counts)
      Bm25Index.append(batch, incr)
      assert(scores(incr) == scores(full),
        "retried append after crash != from-scratch union rebuild")
    } finally {
      spark.catalog.clearCache()
    }
  }

  test("delete: probe == from-scratch build on the remaining corpus; idempotent; vacuum preserves and clears") {
    import spark.implicits._
    GraftExtensions.register(spark)
    val docs = Tables.load(spark, dir, "documents").select($"doc_id", $"text")
    val idx = Files.createTempDirectory("bm25del").toString
    val ref = Files.createTempDirectory("bm25rem").toString
    try {
      Bm25Index.build(docs, idx)
      Bm25Index.build(docs.filter($"doc_id" % 7 =!= 0), ref)
      Bm25Index.delete(spark, idx, docs.filter($"doc_id" % 7 === 0).select($"doc_id"))
      val q = RetrievalQueries.fixtureQueries.toDF("query_id", "term")
      def scores(path: String) = Bm25Index.probe(spark, path, q)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val expected = scores(ref)
      assert(expected.nonEmpty, "no BM25 hits — test would be vacuous")
      // exact: scores of SURVIVING docs moved with the deleted df/avgdl
      // mass exactly as the rebuild's did
      assert(scores(idx) == expected, "deleted probe != rebuild on remaining")
      // double-delete + a never-indexed id: both no-ops
      Bm25Index.delete(spark, idx,
        docs.filter($"doc_id" % 7 === 0).select($"doc_id")
          .union(Seq(999999L).toDF("doc_id")))
      assert(scores(idx) == expected, "repeated delete mutated the index")
      // compaction: physically drops the rows, probe unchanged
      Bm25Index.vacuum(spark, idx)
      assert(scores(idx) == expected, "vacuum changed probe results")
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$idx/tombstones")), "tombstones not cleared")
    } finally {
      spark.catalog.clearCache()
    }
  }

  test("a CRASHED delete (tombstones committed, small side stale) rolls forward on the next entry") {
    import spark.implicits._
    GraftExtensions.register(spark)
    val path = Files.createTempDirectory("bm25crash").toString
    val ref = Files.createTempDirectory("bm25crashref").toString
    val docs = Tables.load(spark, dir, "documents").select($"doc_id", $"text")
    try {
      Bm25Index.build(docs, path)
      val nAll = spark.read.parquet(Bm25Index.statsPath(path)).collect()(0).getLong(0)
      // simulate the crash window of delete(): the epoch-1 tombstone
      // commit record lands, the process dies before applyPending
      val d1 = docs.filter($"doc_id" % 7 === 0).select($"doc_id").distinct()
      d1.withColumn("epoch", lit(1L))
        .write.mode("append").parquet(s"$path/tombstones")
      // stale by construction: stats still count every doc (non-vacuous)
      assert(spark.read.parquet(Bm25Index.statsPath(path)).collect()(0).getLong(0) == nAll,
        "small side moved without applyPending — crash simulation broken")
      // the RETRY path: any later delete rolls the pending epoch forward
      // before its own work (as would an explicit applyPending call)
      val d2 = docs.filter($"doc_id" % 11 === 0).select($"doc_id").distinct()
      Bm25Index.delete(spark, path, d2)
      val remaining = docs.filter($"doc_id" % 7 =!= 0 && $"doc_id" % 11 =!= 0)
      Bm25Index.build(remaining, ref)
      val q = RetrievalQueries.fixtureQueries.toDF("query_id", "term")
      def scores(p: String) = Bm25Index.probe(spark, p, q)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(scores(ref).nonEmpty, "no BM25 hits — vacuous")
      assert(scores(path) == scores(ref),
        "crashed delete not rolled forward: probe != rebuild on the remaining corpus")
      // and the stats now reflect BOTH epochs exactly
      val nRemaining = remaining.count()
      assert(spark.read.parquet(Bm25Index.statsPath(path)).collect()(0).getLong(0) == nRemaining)
    } finally {
      spark.catalog.clearCache()
    }
  }
}
