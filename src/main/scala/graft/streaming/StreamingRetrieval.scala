package graft.streaming

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Bm25Index
import graft.queries.CrossHash.{h60, tokens}

/** Continuous BM25 retrieval: score a STREAM of query-term batches
  * against a static [[graft.operators.Bm25Index]] — the serving side of
  * the index-once/probe-daily split (StreamingDedup's stream-static
  * doctrine applied to ranked search).
  *
  * The static side is the fully-joined scoring frame (postings ⋈ df ⋈
  * corpus stats, denormalized once and cached by the caller); each
  * micro-batch stream-static-joins on `term` — no per-trigger re-read of
  * the corpus, no streaming state for the join itself. The per-(query,
  * doc) score sum is a windowed streaming aggregation: scores emit once
  * per query window when the watermark closes it (append mode — each
  * fused score is final, never retracted), and the summed quantity is the
  * exact scaled-long contribution, so a streamed score equals the batch
  * probe's bit-for-bit.
  *
  * At 100 TB the static frame is the bucket-partitioned index on disk;
  * Spark re-plans the join per trigger, so the stream side's term set
  * drives partition pruning the same way the batch probe's static IN
  * list does.
  */
object StreamingRetrieval {
  /** Load the denormalized static scoring frame from a built index —
    * tombstone-masked, so a served index reflects deletes immediately
    * (the terms/stats sides were already updated exactly at delete
    * time). */
  def scoringFrame(spark: SparkSession, path: String): DataFrame = {
    val postings = Bm25Index.masked(spark, path,
        Bm25Index.postingsDf(spark, path))
      .select(col("term"), col("doc_id"), col("tf"), col("dl"))
    val terms = spark.read.parquet(Bm25Index.termsPath(path))
      .select(col("term"), col("dfreq"))
    val stats = spark.read.parquet(Bm25Index.statsPath(path))
    postings.join(terms, "term").crossJoin(stats)
  }

  /** Windowed streaming BM25 scores for a query-term stream
    * (query_id, term, `eventTimeCol`): one (window, query_id, doc_id,
    * score_scaled) row per query and candidate document, emitted when the
    * watermark passes the window end. */
  def probe(queries: DataFrame, scoring: DataFrame,
      eventTimeCol: String = "ts", watermark: String = "10 minutes",
      windowLen: String = "10 minutes"): DataFrame =
    queries
      .withWatermark(eventTimeCol, watermark)
      .join(scoring, "term")
      .select(col(eventTimeCol), col("query_id"), col("doc_id"),
        Bm25Index.contrib(col("tf"), col("dl"), col("dfreq"),
          col("n_docs"), col("total_dl")).as("sc"))
      .groupBy(window(col(eventTimeCol), windowLen), col("query_id"), col("doc_id"))
      .agg(sum(col("sc")).as("score_scaled"))
      .select(col("query_id"), col("doc_id"), col("score_scaled"))
}

/** Continuously-maintained BM25 index over a DOCUMENT stream — the
  * index-maintenance twin of [[StreamingRetrieval]]'s serving path, with
  * the StatsView exactly-once discipline:
  *
  *  - postings are partitioned by (batch, bucket) and each micro-batch
  *    writes ONLY its own `batch=<id>` partitions via dynamic partition
  *    overwrite — a re-run after a crash rewrites the identical
  *    partitions (the batch content is deterministic), so the postings
  *    write is idempotent per batch id;
  *  - the vocabulary-sized df table and 1-row stats merge
  *    (previous-committed ⊎ delta) are staged and committed ATOMICALLY
  *    with the [[EosProjection]] batch marker;
  *  - readers gate on the marker: [[probe]] reads postings with
  *    `batch <= lastCommitted` (partition-pruned) and the side tables of
  *    the last committed batch — orphan partitions from a crashed
  *    attempt are invisible until their batch commits (the EventLog
  *    manifest-gated-reader pattern applied to the index).
  *
  * Scores probe bit-identically to a batch [[Bm25Index]] built on the
  * union of all delivered documents (StreamingRetrievalSpec pins it,
  * replay included). Doc ids must be unique across the stream's life
  * (the IncrementalDedup contract). */
final class MaintainedBm25Index(path: Path, spark: SparkSession, buckets: Int = 32) {
  private val proj = new EosProjection(path.resolve("eos"))
  private def postingsDir = path.resolve("postings")

  def lastCommitted: Long = proj.lastCommitted

  private def sides(id: Long): Option[(DataFrame, DataFrame)] =
    if (id < 0) None
    else Some((
      spark.read.parquet(path.resolve(s"eos/batch-$id/terms").toString),
      spark.read.parquet(path.resolve(s"eos/batch-$id/stats").toString)))

  /** CUMULATIVE tombstone set as of committed batch `id` — rides the same
    * per-batch snapshot dir as terms/stats, so a delete commits
    * atomically with the side-table decrement it implies (the small-side
    * discipline deletes could not get out-of-band: an external commit
    * would collide with the stream's batch-id sequence). Batches written
    * before the delete surface existed have no tombstone file → empty. */
  private def tombstones(id: Long): Option[DataFrame] = {
    val p = path.resolve(s"eos/batch-$id/tombstones")
    if (id < 0 || !Files.exists(p)) None
    else Some(spark.read.parquet(p.toString))
  }

  /** foreachBatch body — attach via `writeStream.foreachBatch(idx.update _)`.
    * `batch` needs columns (doc_id, text) and optionally `op`
    * ('add' | 'del'): STREAM-CARRIED takedowns. A del row removes a
    * previously-committed doc exactly (per-term df decrement from one
    * id-restricted postings scan, stats subtract, cumulative tombstone
    * mask — the Bm25Index.delete algebra riding the EOS commit), so
    * [[probe]] equals a from-scratch build on the remaining corpus.
    * Already-deleted and never-indexed ids are no-ops; a doc_id may not
    * appear as add and del in the SAME batch (fail-fast — the ordering
    * inside one batch is undefined). Replays skip whole (G4). */
  def update(batch: DataFrame, batchId: Long): Unit =
    proj.foreachBatch { (df, id, stage) =>
      graft.GraftExtensions.register(spark)
      CompactSwap.requireQuiescent(compactMarker)
      val hasOp = df.columns.contains("op")
      val adds = if (hasOp) df.filter(col("op") === "add") else df
      val delsReq = if (hasOp) df.filter(col("op") === "del")
          .select(col("doc_id")).distinct()
        else df.select(col("doc_id")).limit(0)
      if (hasOp) {
        require(adds.join(delsReq, Seq("doc_id"), "left_semi").isEmpty,
          "a doc_id appears as both add and del in one batch — " +
            "intra-batch ordering is undefined; split the request across batches")
        val badOp = df.filter(!col("op").isin("add", "del")).limit(1).collect()
        require(badOp.isEmpty, s"unknown op '${badOp.headOption.map(_.getAs[String]("op"))
          .getOrElse("")}' — ops are 'add' | 'del'")
      }
      val prev = proj.lastCommitted
      val prevTombs = tombstones(prev)
      // fresh guard: already-tombstoned ids are no-ops (idempotent
      // re-request; the REPLAY case never reaches here — G4 skips it)
      val dels = (prevTombs match {
        case None => delsReq
        case Some(t) => delsReq.join(t, Seq("doc_id"), "left_anti")
      }).cache()

      val tok = adds.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      val tf = tok.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf")).cache()
      val dl = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      tf.join(dl, "doc_id")
        .withColumn("b", pmod(h60(col("term")), lit(buckets.toLong)))
        .withColumn("batch", lit(id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch", "b")
        .parquet(postingsDir.toString)
      // del decrements: one scan of the COMMITTED postings restricted to
      // the freshly-deleted ids (dl is denormalized per posting row)
      val delRows =
        if (!Files.exists(postingsDir)) dels.limit(0)
          .select(lit("").as("term"), lit(0L).as("doc_id"), lit(0L).as("tf"), lit(0L).as("dl"))
        else spark.read.parquet(postingsDir.toString)
          .filter(col("batch") <= prev)
          .join(dels, Seq("doc_id"), "left_semi")
          .select(col("term"), col("doc_id"), col("tf"), col("dl")).cache()
      val delTerms = delRows.groupBy(col("term")).agg(count(lit(1)).as("ddf"))
      val delPerDoc = delRows.groupBy(col("doc_id")).agg(first(col("dl")).as("dl"))
      val delStats = delPerDoc.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_dl"))

      val deltaTerms = tf.groupBy(col("term")).agg(count(lit(1)).as("dfreq"))
      val deltaStats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_dl"))
      val (terms, stats) = sides(prev) match {
        case None => (deltaTerms, deltaStats)
        case Some((pt, ps)) =>
          (pt.unionByName(deltaTerms).groupBy(col("term"))
             .agg(sum(col("dfreq")).as("dfreq")),
           ps.unionByName(deltaStats)
             .agg(sum(col("n_docs")).as("n_docs"), sum(col("total_dl")).as("total_dl")))
      }
      // terms at df 0 leave the vocabulary, exactly as a rebuild would
      terms.join(delTerms, Seq("term"), "left")
        .select(col("term"),
          (col("dfreq") - coalesce(col("ddf"), lit(0L))).as("dfreq"))
        .filter(col("dfreq") > 0)
        .write.parquet(stage.resolve("terms").toString)
      stats.crossJoin(delStats.select(
          coalesce(col("n_docs"), lit(0L)).as("dn"),
          coalesce(col("total_dl"), lit(0L)).as("ddl")))
        .select(
          (coalesce(col("n_docs"), lit(0L)) - col("dn")).as("n_docs"),
          (coalesce(col("total_dl"), lit(0L)) - col("ddl")).as("total_dl"))
        .write.parquet(stage.resolve("stats").toString)
      // cumulative tombstones: prev ∪ this batch's fresh dels
      (prevTombs match {
        case None => dels
        case Some(t) => t.select(col("doc_id")).unionByName(dels).distinct()
      }).write.parquet(stage.resolve("tombstones").toString)
      tf.unpersist(); dels.unpersist()
      ()
    }(batch, batchId)

  /** BM25 scores of `qterms` (query_id, term) against the committed index
    * state — bucket-pruned like the static probe, batch-gated on the
    * marker. Empty before the first commit. */
  def probe(qterms: DataFrame): DataFrame = {
    graft.GraftExtensions.register(spark)
    CompactSwap.requireQuiescent(compactMarker)
    val last = proj.lastCommitted
    val empty = qterms.select(col("query_id"), lit(0L).as("doc_id"),
      lit(0L).as("score_scaled")).limit(0)
    if (last < 0 || !Files.exists(postingsDir)) empty
    else {
      val qb = qterms.withColumn("b", pmod(h60(col("term")), lit(buckets.toLong))).cache()
      val probed = qb.select(col("b")).distinct().collect().map(_.getLong(0)).toSeq
      val (terms, stats) = sides(last).get
      val committed = spark.read.parquet(postingsDir.toString)
        .filter(col("batch") <= last && col("b").isin(probed: _*))
      // stream-carried deletes mask before scoring (|deleted|-sized set,
      // AQE broadcasts); the df/stats sides were decremented exactly at
      // the delete batch's commit
      val postings = tombstones(last) match {
        case None => committed
        case Some(t) => committed.join(t.select(col("doc_id")), Seq("doc_id"), "left_anti")
      }
      qb.join(postings, Seq("b", "term"))
        .join(terms, "term")
        .crossJoin(stats) // 1 row — AQE broadcasts
        .select(col("query_id"), col("doc_id"),
          Bm25Index.contrib(col("tf"), col("dl"), col("dfreq"),
            col("n_docs"), col("total_dl")).as("sc"))
        .groupBy(col("query_id"), col("doc_id"))
        .agg(sum(col("sc")).as("score_scaled"))
    }
  }

  // ---------------------------------------------------------------------
  // Layout maintenance

  private def compactMarker = path.resolve("_compact_staged")

  /** Fold every committed (batch, b) postings partition — tombstone-
    * masked — into a single `batch=0` base re-clustered by bucket, by
    * [[CompactSwap.compact]]. The df/stats sides ride the EOS snapshot and
    * were decremented exactly at each delete's commit, so dropping the
    * masked rows and the applied tombstone set leaves every score
    * identical. */
  def compact(): Unit = {
    val last = proj.lastCommitted
    val swaps = Seq(postingsDir -> path.resolve("postings_compact"))
    val drops = Seq(path.resolve(s"eos/batch-$last/tombstones"))
    CompactSwap.compact(compactMarker, swaps, drops,
        last < 0 || !Files.exists(postingsDir) || CompactSwap.folded(swaps, drops)) {
      val committed = spark.read.parquet(postingsDir.toString)
        .filter(col("batch") <= last)
      val masked = tombstones(last) match {
        case None => committed
        case Some(t) => committed.join(t.select(col("doc_id")), Seq("doc_id"), "left_anti")
      }
      masked.drop("batch").repartition(col("b")).withColumn("batch", lit(0L))
        .write.partitionBy("batch", "b").parquet(swaps.head._2.toString)
    }
  }
}
