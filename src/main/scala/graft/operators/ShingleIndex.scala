package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.CrossHash.shingleHashes

/** Materialized corpus shingle index: the on-disk form every incremental
  * dedup scaladoc promises ("at 100 TB the corpus shingle index is written
  * bucketed by `h`, so the probe is a co-located join").
  *
  * [[materialize]] writes two catalog tables, both PARTITIONED BY `batch`
  * (the append-commit axis) with the pairs side additionally BUCKETED BY
  * `h`:
  *  - `<name>`: distinct (doc_id, h, batch) — a probe joining on `h`
  *    co-locates against the bucket files, so the corpus index is never
  *    re-shuffled (ShingleIndexSpec pins: no exchange above the index
  *    scan in the probe plan; the hive partition level does not disturb
  *    the bucketed-scan property);
  *  - `<name>_counts`: (doc_id, n, batch) per-doc shingle counts, derived
  *    from the batch's pairs (no second shingle pass over the text).
  *    Batch doc ids are disjoint (the [[probe]] contract), so per-batch
  *    count partitions union to the corpus counts with no merge step.
  *
  * SINGLE-COMMIT appends (the Bm25Index.append discipline — this closes
  * the round-11 "ATOMICITY WINDOW" carried by the previous two-job
  * append): each [[append]] writes BOTH tables' rows into their own
  * `batch=<lastBatch+1>` partitions, then commits by atomically swapping
  * the `_current` pointer at the pairs table's location. Readers gate on
  * the committed lastBatch, so a crash anywhere inside append leaves the
  * index exactly at its pre-append state (the partial partitions are
  * invisible), and a retry first clears the uncommitted partition dirs —
  * a blind re-run can no longer duplicate (doc_id, h) rows and double
  * [[probe]]'s intersection counts. ShingleIndexSpec pins crashed-append
  * invisibility + retry ≡ rebuild (the Bm25IndexSpec crash-window shape).
  *
  * [[probe]] deduplicates a NEW batch against the corpus WITHOUT touching
  * the corpus text: batch-vs-corpus candidates come from the co-located
  * bucket join (only the batch side shuffles), batch-vs-batch from a
  * |batch|-bounded self-join — the IncrementalDedup pair set
  * (ShingleIndexSpec pins the equality), at probe-only cost.
  */
object ShingleIndex {
  // ---------------------------------------------------------------------
  // Commit pointer: `_current` at the pairs table's location (underscore
  // prefix — invisible to Spark's file index), holding the last COMMITTED
  // batch id, swapped by atomic rename (the Bm25Index pointer shape).
  // Primitives shared with OverlapIndex via [[CatalogCommit]].

  import CatalogCommit.{readLastBatch, dropUncommitted, clearOrphanLocation}

  /** One pointer commits batch `b` of both tables. */
  private def commit(spark: SparkSession, name: String, b: Long): Unit =
    CatalogCommit.writeLastBatch(spark, name, b, Seq(name, s"${name}_counts"))

  /** The COMMITTED pairs frame (doc_id, h) — batch-gated, batch dropped
    * so downstream algebra is layout-agnostic. NOT tombstone-masked;
    * probes go through [[masked]]. */
  private[graft] def pairs(spark: SparkSession, name: String): DataFrame =
    CatalogCommit.committed(spark, name, name)

  /** The COMMITTED counts frame (doc_id, n) — gated by the SAME pointer
    * as [[pairs]] (one commit covers both tables). */
  private[graft] def counts(spark: SparkSession, name: String): DataFrame =
    CatalogCommit.committed(spark, s"${name}_counts", name)

  private def writeBatch(df: DataFrame, name: String, buckets: Int,
      batchNo: Long, overwrite: Boolean): Unit = {
    val pairs = df
      .select(col("doc_id"), explode(shingleHashes(col("text"))).as("h"))
      .distinct().cache()
    val mode = if (overwrite) "overwrite" else "append"
    pairs.withColumn("batch", lit(batchNo))
      .write.mode(mode).partitionBy("batch").bucketBy(buckets, "h")
      .saveAsTable(name)
    pairs.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      .withColumn("batch", lit(batchNo))
      .write.mode(mode).partitionBy("batch").saveAsTable(s"${name}_counts")
    pairs.unpersist()
  }

  /** Write the bucketed index tables for `docs` (doc_id, text) as batch 0
    * and commit the pointer. */
  def materialize(docs: DataFrame, name: String, buckets: Int = 32): Unit = {
    val spark = docs.sparkSession
    graft.GraftExtensions.register(spark)
    clearOrphanLocation(spark, name)
    clearOrphanLocation(spark, s"${name}_counts")
    writeBatch(docs, name, buckets, batchNo = 0L, overwrite = true)
    commit(spark, name, 0L)
  }

  /** [[append]] with an EXPLICIT target batch id — the idempotent form a
    * marker-driven retry protocol needs (DailyIncrement's apply steps):
    * plain append called twice appends twice, but a retry that staged
    * `target` before the crash must be a no-op when the pointer shows the
    * append already committed (the crash landed between the index's
    * internal commit and the caller's step marker). Serialized-writer
    * contract: `target` past the immediate next batch fails loud. */
  def appendAs(batch: DataFrame, name: String, target: Long,
      buckets: Int = 32): Unit = {
    val spark = batch.sparkSession
    graft.GraftExtensions.register(spark)
    val last = readLastBatch(spark, name).getOrElse(
      spark.table(name).agg(coalesce(max(col("batch")), lit(0L))).head.getLong(0))
    if (last >= target) return // already committed — the retry is a no-op
    require(last == target - 1,
      s"appendAs($target) on '$name' at committed batch $last — appends are " +
        "serialized; a gap means the staged target is stale")
    dropUncommitted(spark, name, target)
    dropUncommitted(spark, s"${name}_counts", target)
    writeBatch(batch, name, buckets, batchNo = target, overwrite = false)
    commit(spark, name, target)
  }

  /** Fold a new batch into the index — the daily path: the batch's
    * distinct (doc_id, h) pairs and its per-doc counts land in their own
    * `batch` partitions under the standing bucket layout (the corpus
    * partitions never rewrite), and ONE atomic pointer swap commits both.
    * Crash-safe: see the header — nothing is visible until the swap, and
    * the retry clears the crashed attempt's partition dirs first. Batch
    * doc_ids must be disjoint from the corpus (the [[probe]] contract).
    * After append, probing a NEWER batch equals probing an index
    * materialized over corpus ∪ batch — ShingleIndexSpec pins it. */
  def append(batch: DataFrame, name: String, buckets: Int = 32): Unit = {
    val spark = batch.sparkSession
    graft.GraftExtensions.register(spark)
    val last = readLastBatch(spark, name).getOrElse(
      spark.table(name).agg(coalesce(max(col("batch")), lit(0L))).head.getLong(0))
    val next = last + 1
    dropUncommitted(spark, name, next)
    dropUncommitted(spark, s"${name}_counts", next)
    writeBatch(batch, name, buckets, batchNo = next, overwrite = false)
    commit(spark, name, next)
  }

  /** Delete documents from the index — the right-to-be-forgotten path
    * for the DEDUP surface, which matters beyond storage hygiene: while
    * the removed doc's shingles remain, tomorrow's copy of that content
    * would be silently dropped as a "duplicate" of data the pipeline
    * promised to forget — the index would keep acting on a fingerprint
    * of removed content. Tombstone mask (the Bm25Index.delete doctrine):
    * the bucketed index mass is untouched, and the mask joins broadcast,
    * so the probe's no-shuffle-above-the-index-scan property survives.
    * After delete, [[probe]] equals a probe of an index materialized
    * without the removed docs (ShingleIndexSpec pins it); idempotent,
    * never-indexed ids are no-ops. */
  def delete(spark: SparkSession, name: String, ids: DataFrame): Unit = {
    graft.GraftExtensions.register(spark)
    CatalogCommit.appendTombstones(spark, name, ids)
  }

  private def masked(spark: SparkSession, name: String, df: DataFrame): DataFrame =
    CatalogCommit.maskedByTombstones(spark, name, df)

  /** Physically drop tombstoned docs' pairs and the tombstones themselves
    * — the compaction that completes [[delete]]'s right-to-be-forgotten
    * (a mask hides removed ids from probes; their bytes — and the
    * tombstone list naming them — remain on disk until this runs). Probes
    * before and after are identical. EAGER localCheckpoint pins the
    * surviving pairs before the in-place table overwrite (catalog tables
    * can't pointer-swap a whole-table rewrite; the checkpoint cuts the
    * read-path-you-write lineage and fails loud on block loss). All
    * committed batches compact back into batch 0. Crash-safe up to
    * re-run: the rewrite drops the pointer with the table dir
    * (everything-visible fallback) and the tombstone tables drop LAST, so
    * a crash between the pairs rewrite and the counts rewrite leaves
    * stale counts rows still masked by the surviving tombstones — probes
    * are unchanged through every window. Corpus-index-sized — run on the
    * operator's schedule (the Bm25Index.vacuum discipline). */
  def vacuum(spark: SparkSession, name: String, buckets: Int = 32): Unit = {
    if (!spark.catalog.tableExists(s"${name}_tombstones")) return
    compact(spark, name, buckets)
  }

  /** [[vacuum]] WITHOUT requiring tombstones — the layout half of index
    * maintenance: the daily path adds one `batch=<n>` partition pair per
    * increment ([[appendAs]]), so after a year of increments every probe
    * opens ~365× the partition dirs it needs even if nothing was ever
    * deleted. compact() folds every COMMITTED batch (tombstone-masked
    * when a delete is in flight) back into a single `batch=0` base under
    * the same bucket layout, resets the pointer, and drops any tombstones
    * it applied — probes before and after are identical, uncommitted
    * (crashed-append) partitions are dropped with the whole-table
    * overwrite, and the serialized-writer contract makes the pointer
    * reset safe (the next [[append]] simply commits batch 1). Idempotent:
    * an already-single-base index with no tombstones returns without a
    * rewrite. Same crash windows as the vacuum it generalizes.
    * CALLER CONTRACT: drop cached frames derived from this index first
    * (the CacheManager re-resolves such plans mid-overwrite and finds
    * the table dropped) — [[Maintenance.compact]], the tree-level form,
    * does the clearCache for you. */
  def compact(spark: SparkSession, name: String, buckets: Int = 32): Unit = {
    graft.GraftExtensions.register(spark)
    val hasTomb = spark.catalog.tableExists(s"${name}_tombstones")
    if (!hasTomb && CatalogCommit.batchDirs(spark, name) == Seq(0L) &&
        readLastBatch(spark, name).contains(0L)) return
    val kept = masked(spark, name, pairs(spark, name)).localCheckpoint(true)
    // numPartitions == numBuckets on the bucket column: HashPartitioning
    // and the bucket id share the same Murmur3-pmod, so every task holds
    // exactly one bucket and the fold lands ONE file per non-empty bucket
    // — the bounded-file-count shape the compaction exists to restore
    kept.repartition(buckets, col("h")).withColumn("batch", lit(0L))
      .write.mode("overwrite").partitionBy("batch").bucketBy(buckets, "h")
      .saveAsTable(name)
    // counts derive from the SAME checkpointed rows the pairs write just
    // copied (row-identical by construction) — reading them off `kept`'s
    // in-memory blocks instead of `spark.table(name)` drops a full
    // re-list + re-scan of the freshly written bucket files (guide §6
    // small-files/listing tax; r18 — MaintenanceSpec pins probe equality
    // across the fold)
    kept
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      .withColumn("batch", lit(0L))
      .write.mode("overwrite").partitionBy("batch").saveAsTable(s"${name}_counts")
    commit(spark, name, 0L)
    if (hasTomb) spark.sql(s"DROP TABLE ${name}_tombstones")
  }

  /** Per-batch-doc NOVELTY against the standing corpus — the
    * text_novelty audit at PROBE-ONLY cost: a batch doc's shingle is
    * novel iff no doc with a lower id (corpus OR batch) carries it, so
    * the probe needs each matching hash's MINIMUM corpus id, which the
    * co-located bucket join delivers without touching corpus text.
    * Tombstone-masked like [[probe]] (a forgotten doc stops claiming
    * first-occurrence). Returns (doc_id, n_shingles, n_novel,
    * novelty_frac) for the batch docs — equal to the full corpus-wide
    * `text_novelty` restricted to them (ShingleIndexSpec pins it). */
  def noveltyProbe(spark: SparkSession, name: String, batch: DataFrame): DataFrame = {
    graft.GraftExtensions.register(spark)
    CatalogCommit.requireCommitted(spark, name)
    noveltyFrames(masked(spark, name, pairs(spark, name)), batch)
  }

  /** The novelty algebra over an arbitrary committed index frame —
    * shared by the catalog-table probe above and the streaming
    * [[graft.streaming.MaintainedShingleIndex]]. `idx` is the corpus
    * (doc_id, h) pair frame (already masked/gated by the caller). */
  private[graft] def noveltyFrames(idx: DataFrame, batch: DataFrame): DataFrame = {
    val bsh = batch
      .select(col("doc_id"), explode(shingleHashes(col("text"))).as("h"))
      .distinct().cache()
    val bmin = bsh.groupBy(col("h")).agg(min(col("doc_id")).as("bm"))
    // corpus min id per BATCH hash only: the bucketed index side never
    // shuffles; matching postings group to |batch hashes| rows
    val cmin = idx
      .join(bmin.select(col("h")), Seq("h"), "left_semi")
      .groupBy(col("h")).agg(min(col("doc_id")).as("cm"))
    val firsts = bmin.join(cmin, Seq("h"), "left")
      .select(col("h"), least(coalesce(col("cm"), col("bm")), col("bm")).as("first_doc"))
    bsh.join(firsts, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_shingles")).as("novelty_frac"))
  }

  /** Keep-first SPAN SCRUB of a new batch against the standing corpus —
    * dedup_span_keepfirst_incr's arrival-order rule at PROBE-ONLY cost:
    * a batch token is excised when covered by a dup trigram start whose
    * hash exists anywhere in the (tombstone-masked) corpus index — the
    * corpus holder keeps the passage by arriving first — or whose
    * batch-internal keeper is a lower batch doc_id. Tombstone-masked
    * like [[probe]]: a forgotten doc stops claiming its passages, so
    * re-submitted content survives the scrub. Returns (doc_id,
    * n_tokens, n_removed, scrub_text) for the batch docs — equal to the
    * full recompute on the same split (shared driver-gate oracle +
    * ShingleIndexSpec pin). Scale shape: the index side is touched only
    * by a left-semi on the batch's hash set (h-bucketed, never
    * shuffled); everything else is |batch|-bounded. */
  def spanKeepFirstProbe(spark: SparkSession, name: String,
      batch: DataFrame): DataFrame = {
    graft.GraftExtensions.register(spark)
    CatalogCommit.requireCommitted(spark, name)
    spanKeepFirstFrames(spark, masked(spark, name, pairs(spark, name)), batch)
  }

  /** The keep-first scrub algebra over an arbitrary committed index
    * frame — shared by the catalog-table probe above and the streaming
    * [[graft.streaming.MaintainedShingleIndex]]. `idx` is the corpus
    * (doc_id, h) pair frame (already masked/gated by the caller). */
  private[graft] def spanKeepFirstFrames(spark: SparkSession,
      idx: DataFrame, batch: DataFrame): DataFrame = {
    val occ = batch
      .select(col("doc_id"), posexplode(shingleHashes(col("text"))).as(Seq("q", "h")))
      .cache()
    val dupStarts = spanKeepFirstStartRows(idx, occ)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("q"))).as("dup_starts"))
    graft.queries.DedupQueries.scrubRebuild(spark, batch, dupStarts)
  }

  /** The arrival-order keep-first dup-start rows (doc_id, q) of a batch
    * occurrence frame against a committed corpus frame: a start is dup
    * when its hash exists anywhere in the corpus (the committed holder
    * arrived first) or its batch-internal keeper is a lower batch
    * doc_id. Exposed separately from [[spanKeepFirstFrames]] so the
    * daily curation path can UNION these starts with other
    * text-rewriting stages' before one shared rebuild. */
  private[graft] def spanKeepFirstStartRows(idx: DataFrame,
      occ: DataFrame): DataFrame = {
    // corpus presence per BATCH hash only: the bucketed index side never
    // shuffles; matching postings reduce to |batch hashes| rows
    val inCorpus = idx
      .join(occ.select(col("h")).distinct(), Seq("h"), "left_semi")
      .select(col("h")).distinct().withColumn("in_corpus", lit(1))
    val keeper = occ.select(col("doc_id"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("nd"), min(col("doc_id")).as("keep_id"))
      .filter(col("nd") >= 2)
      .select(col("h"), col("keep_id"))
    occ
      .join(inCorpus, Seq("h"), "left")
      .join(keeper, Seq("h"), "left")
      .filter(col("in_corpus").isNotNull ||
        (col("keep_id").isNotNull && col("doc_id") =!= col("keep_id")))
      .select(col("doc_id"), col("q"))
  }

  /** [[spanKeepFirstStartRows]] against the NAMED committed index —
    * the starts-only form of [[spanKeepFirstProbe]] for stage
    * composition (CurationJob / DailyIncrement union these with the
    * benchmark-scrub starts before one rebuild). */
  private[graft] def spanKeepFirstStartRowsFor(spark: SparkSession,
      name: String, occ: DataFrame): DataFrame = {
    graft.GraftExtensions.register(spark)
    CatalogCommit.requireCommitted(spark, name)
    spanKeepFirstStartRows(masked(spark, name, pairs(spark, name)), occ)
  }

  /** Near-dup pairs (doc_a, doc_b, jaccard ≥ threshold) between a new
    * batch (doc_id, text; ids disjoint from the corpus) and the
    * materialized index — plus within the batch itself. Equals
    * `IncrementalDedup.newPairs` on the same split. */
  def probe(spark: SparkSession, name: String, batch: DataFrame,
      threshold: Double): DataFrame = {
    graft.GraftExtensions.register(spark)
    CatalogCommit.requireCommitted(spark, name)
    probeFrames(masked(spark, name, pairs(spark, name)),
      masked(spark, name, counts(spark, name)), batch, threshold)
  }

  /** The jaccard-probe algebra over arbitrary committed index frames —
    * shared by the catalog-table probe above and the streaming
    * [[graft.streaming.MaintainedShingleIndex]]. `idx`/`ccnt` are the
    * corpus pair/count frames (already masked/gated by the caller). */
  private[graft] def probeFrames(idx: DataFrame, ccnt: DataFrame,
      batch: DataFrame, threshold: Double): DataFrame = {
    val bsh = batch
      .select(col("doc_id"), explode(shingleHashes(col("text"))).as("h"))
      .distinct()
      .cache()
    val bcnt = bsh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))

    // batch-vs-corpus: the bucketed index side never shuffles — only the
    // (small) batch repartitions to the bucket layout
    val cross = bsh.as("a").join(idx.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("bdoc"), col("b.doc_id").as("cdoc"))
      .agg(count(lit(1)).as("inter"))
    // candidate pairs are batch-bounded, so they are the natural build
    // side against the corpus-sized counts table — but the broadcast is
    // NOT forced (the round-7 un-forced-broadcast doctrine): AQE
    // broadcasts the candidate side when a bounded daily batch keeps it
    // under threshold, and an oversized batch degrades to a sort-merge
    // join instead of building a corpus-scaled relation on the driver
    // (the forced hint OOM'd the 100x scale bench, where the fixture's
    // %10 batch grows with the corpus)
    val crossN = ccnt.select(col("doc_id").as("cdoc"), col("n").as("nb"))
      .join(cross
        .join(bcnt.select(col("doc_id").as("bdoc"), col("n").as("na")), "bdoc"), "cdoc")

    // batch-vs-batch: |batch|-bounded self-join, each pair once
    val self = bsh.as("a").join(bsh.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("bdoc"), col("b.doc_id").as("cdoc"))
      .agg(count(lit(1)).as("inter"))
    val selfN = self
      .join(bcnt.select(col("doc_id").as("bdoc"), col("n").as("na")), "bdoc")
      .join(bcnt.select(col("doc_id").as("cdoc"), col("n").as("nb")), "cdoc")

    val j = col("inter").cast("double") / (col("na") + col("nb") - col("inter"))
    crossN.select(col("bdoc"), col("cdoc"), col("inter"), col("na"), col("nb"))
      .unionByName(selfN.select(col("bdoc"), col("cdoc"), col("inter"), col("na"), col("nb")))
      .filter(j >= threshold)
      .select(
        least(col("bdoc"), col("cdoc")).as("doc_a"),
        greatest(col("bdoc"), col("cdoc")).as("doc_b"),
        j.as("jaccard"))
  }

  /** CONTAINMENT pairs (doc_in, doc_out, |in∩out|/|in| ≥ threshold) for
    * every pair touching a new batch, probed against the materialized
    * index — `IncrementalDedup.newContainment`'s relation at index cost:
    * the corpus text is never re-shingled (the pairs come from the
    * bucketed index scan, co-located like [[probe]]) and the corpus
    * per-doc counts come from the precomputed counts table. The
    * candidate-side join carries NO forced broadcast hint (un-forced
    * after the 100x probe OOM'd the driver building a corpus-scaled
    * broadcast): AQE broadcasts genuinely batch-bounded candidate sets
    * from runtime stats and degrades oversized ones to a shuffled join
    * instead of killing the driver. Both
    * orientations of each unordered pair are emitted — a corpus doc
    * swallowed BY a batch doc is found via the batch doc's probe.
    * ShingleIndexSpec pins equality with newContainment on the same
    * split. */
  def containmentProbe(spark: SparkSession, name: String, batch: DataFrame,
      threshold: Double): DataFrame = {
    graft.GraftExtensions.register(spark)
    CatalogCommit.requireCommitted(spark, name)
    containmentFrames(masked(spark, name, pairs(spark, name)),
      masked(spark, name, counts(spark, name)), batch, threshold)
  }

  /** The containment algebra over arbitrary committed index frames —
    * shared by the catalog-table probe above and the streaming
    * [[graft.streaming.MaintainedShingleIndex]]. */
  private[graft] def containmentFrames(idx: DataFrame, ccnt: DataFrame,
      batch: DataFrame, threshold: Double): DataFrame = {
    val bsh = batch
      .select(col("doc_id"), explode(shingleHashes(col("text"))).as("h"))
      .distinct()
      .cache()
    val bcnt = bsh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))

    // each unordered pair ONCE: batch×corpus from the co-located bucket
    // join, batch×batch from the |batch|-bounded half self-join
    val cross = bsh.as("a").join(idx.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("bdoc"), col("b.doc_id").as("cdoc"))
      .agg(count(lit(1)).as("inter")).cache()
    // cached like `cross`: the two batch-contained orientations below
    // each reference it — uncached, the half self-join + aggregate
    // executed twice (r17 optimization)
    val self = bsh.as("a").join(bsh.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("bdoc"), col("b.doc_id").as("cdoc"))
      .agg(count(lit(1)).as("inter")).cache()

    val c = col("inter").cast("double") / col("nin")
    // corpus-doc-contained orientation: candidates against the corpus
    // counts table (the probeFrames discipline — un-forced, AQE picks
    // broadcast for bounded batches and SMJ for oversized ones)
    val corpusIn = ccnt.select(col("doc_id").as("doc_in"), col("n").as("nin"))
      .join(cross.select(col("cdoc").as("doc_in"),
        col("bdoc").as("doc_out"), col("inter")), "doc_in")
    // batch-doc-contained orientations: batch-sized count join
    val batchIn = cross.select(col("bdoc").as("doc_in"), col("cdoc").as("doc_out"), col("inter"))
      .unionByName(self.select(col("bdoc").as("doc_in"), col("cdoc").as("doc_out"), col("inter")))
      .unionByName(self.select(col("cdoc").as("doc_in"), col("bdoc").as("doc_out"), col("inter")))
      .join(bcnt.select(col("doc_id").as("doc_in"), col("n").as("nin")), "doc_in")
    corpusIn.select(col("doc_in"), col("doc_out"), col("inter"), col("nin"))
      .unionByName(batchIn.select(col("doc_in"), col("doc_out"), col("inter"), col("nin")))
      .filter(c >= threshold)
      .select(col("doc_in"), col("doc_out"), c.as("containment"))
  }
}
