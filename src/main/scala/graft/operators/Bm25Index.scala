package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.CrossHash.{h60, tokens}

/** Materialized inverted index for BM25 probing — the index-once /
  * probe-per-query-batch shape of lexical retrieval at 100 TB (the
  * ShingleIndex pattern applied to ranked search: the corpus text is
  * tokenized ONCE at build time, and every probe afterwards reads only
  * the index buckets its query terms hash into).
  *
  * Layout under `path/`:
  *  - `postings/` — (term, doc_id, tf, dl) hive-partitioned by
  *    `b = pmod(h60(term), buckets)`. The document length is denormalized
  *    into the posting row (the classic impact-style layout) so a probe
  *    never joins a per-doc side table.
  *  - `terms/` — (term, dfreq), same partitioning: the vocabulary-sized
  *    document-frequency table, pruned by the same bucket set.
  *  - `stats/` — one row (n_docs, total_dl).
  *
  * [[probe]] prunes STATICALLY: the distinct buckets of the query terms
  * collect to a driver literal `b IN (...)` — bounded by |query terms|,
  * like VectorIndex's bucket pruning — so the postings scan reads only
  * the matching partition directories (Bm25IndexSpec pins the file-count
  * drop via scan metrics). Scoring reuses [[contrib]], the exact
  * expression the text_bm25 query evaluates, so probe ≡ recompute is an
  * equality, not an approximation.
  */
object Bm25Index {
  /** Scaled-long BM25 contribution of one (query term, posting) row —
    * shared verbatim by RetrievalQueries.bm25Contrib (the oracle-checked
    * spelling) and [[probe]]. See RetrievalQueries' scaladoc for the
    * rational-idf / scaled-integer determinism discipline. */
  def contrib(tf: Column, dl: Column, dfreq: Column,
      nDocs: Column, totalDl: Column): Column = {
    val idf = ((nDocs - dfreq).cast("double") + lit(0.5)) /
      (dfreq.cast("double") + lit(0.5))
    val avgdl = totalDl.cast("double") / nDocs.cast("double")
    val tfnorm = (tf.cast("double") * lit(2.2)) /
      (tf.cast("double") + lit(1.2) * (lit(0.25) + lit(0.75) * (dl.cast("double") / avgdl)))
    floor(idf * tfnorm * lit(1.0e9) + lit(0.5))
  }

  /** Tokenize `docs` (doc_id, text) once and write the bucketed index.
    * Postings are partitioned by (batch, b): the day-0 corpus is
    * batch 0, each [[append]] adds a batch level — pruning on `b` is
    * untouched (the bucket filter prunes across every batch dir), and
    * the batch level is what makes appends single-commit (see append). */
  def build(docs: DataFrame, path: String, buckets: Int = 32): Unit = {
    graft.GraftExtensions.register(docs.sparkSession)
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val tf = tok.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dl = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    tf.join(dl, "doc_id")
      .withColumn("batch", lit(0L))
      .withColumn("b", pmod(h60(col("term")), lit(buckets.toLong)))
      .write.mode("overwrite").partitionBy("batch", "b").parquet(s"$path/postings")
    val smalls = nextSmalls(path)
    tf.groupBy(col("term")).agg(count(lit(1)).as("dfreq"))
      .withColumn("b", pmod(h60(col("term")), lit(buckets.toLong)))
      .write.mode("overwrite").partitionBy("b").parquet(s"$path/$smalls/terms")
    dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_dl"))
      .write.mode("overwrite").parquet(s"$path/$smalls/stats")
    writeState(path, 0L, smalls, "postings", 0L, Seq(smalls, "postings"))
  }

  /** Incrementally fold a new document batch into an existing index —
    * the daily-increment path (doc_pack_incr's doctrine applied to the
    * index): postings for the batch APPEND as new files under the same
    * bucket partitioning (the corpus postings are never rewritten — at
    * 100 TB they are the overwhelming mass), while the two small sides
    * merge: the vocabulary-sized df table re-aggregates as old ⊎ delta
    * and the 1-row stats add. Batch doc_ids must be disjoint from the
    * corpus (same contract as IncrementalDedup / ShingleIndex.probe).
    * Result is EXACTLY `build(corpus ∪ batch)` — pinned in Bm25IndexSpec.
    *
    * Note the BM25 scores of OLD documents legitimately change after an
    * append (df and avgdl move — that is retrieval semantics, not an
    * index defect); what this guarantees is that probing the appended
    * index equals probing a from-scratch rebuild.
    *
    * SINGLE-COMMIT under crash/retry (the MaintainedBm25Index
    * discipline brought into the batch index): the batch's postings
    * land in their own `batch=<lastBatch+1>` partition via dynamic
    * partition overwrite — a retry replaces a crashed attempt's partial
    * files instead of duplicating them — and every reader gates on the
    * pointer's committed lastBatch, so nothing is visible until the
    * SAME atomic pointer swap that publishes the merged df/stats
    * snapshot. A crash anywhere inside append leaves the index exactly
    * at its pre-append state, and re-running the append is the normal
    * path (Bm25IndexSpec pins crashed-append invisibility + retry
    * equality). Legacy unbatched trees (pointer without a batch field)
    * keep the old append-then-swap behavior. */
  def append(batch: DataFrame, path: String, buckets: Int = 32): Unit = {
    val spark = batch.sparkSession
    graft.GraftExtensions.register(spark)
    val (epoch, _, postingsRel, lastBatch) = currentState(path)
    val tok = batch.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val tf = tok.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dl = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val rows = tf.join(dl, "doc_id")
      .withColumn("b", pmod(h60(col("term")), lit(buckets.toLong)))
    if (lastBatch < 0) {
      // legacy unbatched layout: plain file append (pre-batch trees only)
      rows.write.mode("append").partitionBy("b").parquet(postingsPath(path))
    } else {
      // own batch partition + dynamic overwrite: a retry of a crashed
      // attempt REPLACES its partial files; readers can't see the batch
      // until the pointer swap below commits lastBatch
      rows.withColumn("batch", lit(lastBatch + 1))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch", "b").parquet(s"$path/$postingsRel")
    }
    // vocabulary-sized merge: old df ⊎ batch df, written to a FRESH
    // snapshot dir and committed by pointer swap — the plan reads the old
    // snapshot and never overwrites it (no cache-to-dodge-the-overwrite)
    val oldTerms = spark.read.parquet(termsPath(path)).select(col("term"), col("dfreq"))
    val smalls = nextSmalls(path)
    oldTerms
      .unionByName(tf.groupBy(col("term")).agg(count(lit(1)).as("dfreq")))
      .groupBy(col("term")).agg(sum(col("dfreq")).as("dfreq"))
      .withColumn("b", pmod(h60(col("term")), lit(buckets.toLong)))
      .write.mode("overwrite").partitionBy("b").parquet(s"$path/$smalls/terms")
    val oldStats = spark.read.parquet(statsPath(path))
      .select(col("n_docs"), col("total_dl")).collect()(0)
    val delta = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_dl")).collect()(0)
    import spark.implicits._
    def nz(r: org.apache.spark.sql.Row, i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    Seq((nz(oldStats, 0) + nz(delta, 0), nz(oldStats, 1) + nz(delta, 1)))
      .toDF("n_docs", "total_dl")
      .write.mode("overwrite").parquet(s"$path/$smalls/stats")
    writeState(path, epoch, smalls, postingsRel, math.max(lastBatch + 1, 0L),
      Seq(smalls, if (lastBatch < 0) postingsRel else s"$postingsRel/batch=${lastBatch + 1}"))
  }

  /** BM25 scores of `qterms` (query_id, term) against the index:
    * (query_id, doc_id, score_scaled), reading only the pruned buckets.
    * Equals the from-scratch text_bm25 scoring on the same corpus at the
    * default `maxDfFrac = 1.0`.
    *
    * `maxDfFrac < 1` enables STOPWORD ELISION — the skew guard of lexical
    * probing at scale: a stopword's posting list is corpus-sized (df ≈ N
    * ⇒ ~N posting rows funneling through one term key of the join), while
    * its rational idf is ≈ 0.5/N — negligible contribution for
    * corpus-sized cost. Terms with dfreq > maxDfFrac·N are dropped from
    * the QUERY side before the postings join (the join order below makes
    * the elision cut the posting scan, not just the scoring), so an
    * elided probe costs only the surviving terms' posting lists and
    * equals the full probe over the surviving query terms — pinned in
    * Bm25IndexSpec. */
  def probe(spark: SparkSession, path: String, qterms: DataFrame,
      buckets: Int = 32, maxDfFrac: Double = 1.0): DataFrame = {
    graft.GraftExtensions.register(spark)
    val qb = qterms.withColumn("b", pmod(h60(col("term")), lit(buckets.toLong))).cache()
    // |distinct query terms|-bounded driver collect — the static prune set
    val probed = qb.select(col("b")).distinct().collect().map(_.getLong(0)).toSeq
    val postings = masked(spark, path,
      postingsDf(spark, path).filter(col("b").isin(probed: _*)))
    val termsAll = spark.read.parquet(termsPath(path))
      .filter(col("b").isin(probed: _*))
    val stats = spark.read.parquet(statsPath(path))
    val terms =
      if (maxDfFrac >= 1.0) termsAll
      else termsAll.crossJoin(stats.select(col("n_docs").as("_n")))
        .filter(col("dfreq") <= lit(maxDfFrac) * col("_n")).drop("_n")
    // terms (vocabulary-sized) joins BEFORE postings so df-elision prunes
    // whole posting lists out of the scan
    qb.join(terms, Seq("b", "term"))
      .join(postings, Seq("b", "term"))
      .crossJoin(stats) // 1 row — AQE broadcasts
      .select(col("query_id"), col("doc_id"),
        contrib(col("tf"), col("dl"), col("dfreq"),
          col("n_docs"), col("total_dl")).as("sc"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("sc")).as("score_scaled"))
  }

  private def tombDir(path: String) = s"$path/tombstones"

  private def hasTombstones(path: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(tombDir(path)))

  // ---------------------------------------------------------------------
  // Small-side versioning: terms/stats live in immutable snapshot dirs
  // (`smalls/<n>/{terms,stats}`) selected by a pointer file `_current`,
  // swapped with Commit.replace. Every rewrite of the vocabulary-sized
  // side therefore writes to a FRESH directory and commits by pointer
  // swap — no plan ever overwrites the files it is reading (the
  // read-path-you-write hazard cache()+count() only papered over: a lost
  // cached block would silently recompute from half-overwritten files),
  // and a crash mid-write leaves the previous snapshot intact. The
  // pointer also records the tombstone EPOCH the snapshot reflects, which
  // makes [[delete]] crash-recoverable: tombstones (the commit record)
  // append FIRST, and [[applyPending]] rolls the snapshot forward to the
  // newest epoch — a retry after a crash between the two steps finishes
  // the df/stats update instead of skipping it (the round-10 advisory's
  // lost-delete window) or applying it twice.
  private def pointerFile(path: String) = java.nio.file.Paths.get(s"$path/_current")

  /** (applied tombstone epoch, smalls snapshot rel-dir, postings rel-dir,
    * last COMMITTED postings batch). `lastBatch` gates readers over the
    * batch-partitioned postings layout: rows with `batch > lastBatch`
    * are an in-flight (crashed) append and stay invisible until the
    * pointer swap commits them. −1 marks a legacy unbatched layout (no
    * batch column; no gating). Falls back to the flat legacy layout when
    * no pointer exists. */
  private def currentState(path: String): (Long, String, String, Long) = {
    val p = pointerFile(path)
    if (!java.nio.file.Files.exists(p)) (0L, "", "postings", -1L)
    else {
      val f = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        .trim.split("\t")
      (f(0).toLong, f(1), f(2), if (f.length > 3) f(3).toLong else -1L)
    }
  }

  /** Commit a new pointer. `written` are the dirs (relative to `path`)
    * this commit publishes; their files are forced before the replace. */
  private def writeState(path: String, epoch: Long, smalls: String,
      postings: String, lastBatch: Long, written: Seq[String]): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
    graft.store.Commit.force(
      written.flatMap(r => graft.store.FileTree.all(java.nio.file.Paths.get(s"$path/$r"))))
    graft.store.Commit.replace(pointerFile(path), s"$epoch\t$smalls\t$postings\t$lastBatch")
    // GC superseded snapshots once the swap is durable — without this,
    // every append/delete would leave its predecessor dir forever. Safe
    // under the single-active-writer contract (G6): index mutations are
    // operator-scheduled, and a crash between swap and GC just leaves
    // orphans for the next swap to collect.
    val root = java.nio.file.Paths.get(s"$path/smalls")
    if (java.nio.file.Files.exists(root)) {
      val keep = smalls.stripPrefix("smalls/")
      import scala.jdk.CollectionConverters._
      val dirs = java.nio.file.Files.list(root)
      try dirs.iterator().asScala.toList
        .filter(d => d.getFileName.toString != keep)
        .foreach(graft.store.FileTree.deleteRecursively)
      finally dirs.close()
    }
  }

  private def smallsDir(path: String): String = currentState(path)._2 match {
    case "" => path // legacy flat layout: terms/stats directly under path
    case s => s"$path/$s"
  }

  private[graft] def postingsPath(path: String): String =
    s"$path/${currentState(path)._3}"

  /** The COMMITTED postings frame — the one reader every probe/scan/
    * rewrite must use: on the batch-partitioned layout it gates on the
    * pointer's lastBatch (an in-flight append's partition stays
    * invisible) and drops the batch column so downstream schemas are
    * layout-agnostic; legacy unbatched trees read as-is. */
  private[graft] def postingsDf(spark: SparkSession, path: String): DataFrame = {
    val (_, _, rel, lastBatch) = currentState(path)
    val df = spark.read.parquet(s"$path/$rel")
    if (lastBatch < 0) df
    else df.filter(col("batch") <= lastBatch).drop("batch")
  }

  private[graft] def termsPath(path: String): String = s"${smallsDir(path)}/terms"
  private[graft] def statsPath(path: String): String = s"${smallsDir(path)}/stats"

  /** Next unused snapshot id under smalls/ (monotone counter). */
  private def nextSmalls(path: String): String = {
    val d = java.nio.file.Paths.get(s"$path/smalls")
    val n = if (!java.nio.file.Files.exists(d)) 0L
      else {
        import scala.jdk.CollectionConverters._
        val s = java.nio.file.Files.list(d)
        try s.iterator().asScala
          .map(_.getFileName.toString).filter(_.forall(_.isDigit))
          .map(_.toLong).foldLeft(-1L)(math.max) + 1L
        finally s.close()
      }
    s"smalls/$n"
  }

  /** Mask tombstoned documents out of a postings frame — the probe-time
    * side of [[delete]]. The tombstone set is |deleted|-sized (AQE
    * broadcasts the anti-join side); no-op when nothing was deleted. */
  private[graft] def masked(spark: SparkSession, path: String, postings: DataFrame): DataFrame =
    if (!hasTombstones(path)) postings
    else postings.join(
      spark.read.parquet(tombDir(path)).select(col("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")

  /** Delete documents from the index — the right-to-be-forgotten path a
    * training-data pipeline needs once an opt-out or takedown lands.
    * EXACT: after delete, [[probe]] equals a from-scratch [[build]] on
    * the remaining corpus (Bm25IndexSpec pins it). The postings mass is
    * NOT rewritten (append-only at 100 TB); deleted rows are masked by a
    * tombstone anti-join at probe time and physically dropped by
    * [[vacuum]]. The two small sides update exactly from ONE postings
    * scan restricted to the deleted ids: per-term df decrements (terms
    * reaching df 0 drop out of the vocabulary, exactly as a rebuild
    * would), and the 1-row stats subtract the deleted docs'
    * counts/lengths. Already-tombstoned ids are ignored (idempotent
    * double-delete); never-indexed ids are no-ops (they have no postings,
    * so every delta is zero).
    *
    * CRASH-SAFE: the epoch-stamped tombstone append is the commit record
    * and lands FIRST (probe masking is correct from that moment); the
    * small-side update is [[applyPending]]'s pointer-swapped roll-forward
    * to the newest epoch. A retry after a crash between the two steps
    * finishes the df/stats update (it reruns the same pure recompute from
    * postings ∩ pending tombstones) instead of skipping it behind the
    * fresh-guard or applying it twice. */
  def delete(spark: SparkSession, path: String, ids: DataFrame,
      buckets: Int = 32): Unit = {
    graft.GraftExtensions.register(spark)
    applyPending(spark, path, buckets) // roll forward any crashed delete
    val del0 = ids.select(col(ids.columns.head).as("doc_id")).distinct()
    // EAGER pin: the fresh-guard plan reads the tombstone dir the append
    // below grows — checkpoint cuts the lineage (request-sized rows)
    val fresh = (if (hasTombstones(path))
        del0.join(spark.read.parquet(tombDir(path)).select(col("doc_id")),
          Seq("doc_id"), "left_anti")
      else del0).localCheckpoint(true)
    if (!fresh.isEmpty) {
      val epoch = currentState(path)._1 + 1
      fresh.withColumn("epoch", lit(epoch)).write.mode("append").parquet(tombDir(path))
      applyPending(spark, path, buckets)
    }
  }

  /** Roll the terms/stats snapshot forward to the newest tombstone epoch
    * — the apply half of [[delete]]'s commit-then-apply protocol. A pure
    * recompute from (current snapshot, postings ∩ pending-epoch ids),
    * committed by one atomic pointer swap, so it is idempotent under
    * crash/retry: either the pointer moved (nothing pending) or it
    * didn't (the whole recompute reruns). No-op when current. */
  def applyPending(spark: SparkSession, path: String, buckets: Int = 32): Unit = {
    if (!hasTombstones(path)) return
    val (applied, _, postingsRel, lastBatch) = currentState(path)
    val tomb = spark.read.parquet(tombDir(path))
    val pendRows = tomb.filter(col("epoch") > applied)
      .select(col("doc_id"), col("epoch"))
    val maxPending = pendRows.agg(max(col("epoch"))).collect()(0)
    if (maxPending.isNullAt(0)) return
    val pend = pendRows.select(col("doc_id")).distinct()
    val rows = postingsDf(spark, path)
      .join(pend, Seq("doc_id"), "left_semi").cache()
    // vocabulary-sized df decrement; terms at df 0 leave the vocabulary
    val deltaTerms = rows.groupBy(col("term")).agg(count(lit(1)).as("ddf"))
    val smalls = nextSmalls(path)
    spark.read.parquet(termsPath(path))
      .select(col("term"), col("dfreq"))
      .join(deltaTerms, Seq("term"), "left")
      .select(col("term"),
        (col("dfreq") - coalesce(col("ddf"), lit(0L))).as("dfreq"))
      .filter(col("dfreq") > 0)
      .withColumn("b", pmod(h60(col("term")), lit(buckets.toLong)))
      .write.mode("overwrite").partitionBy("b").parquet(s"$path/$smalls/terms")
    // stats subtract: dl is denormalized per posting row — one value
    // per doc, so first() per doc recovers it exactly
    val perDoc = rows.groupBy(col("doc_id")).agg(first(col("dl")).as("dl"))
    val delta = perDoc.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_dl"))
      .collect()(0)
    val old = spark.read.parquet(statsPath(path))
      .select(col("n_docs"), col("total_dl")).collect()(0)
    def nz(r: org.apache.spark.sql.Row, i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    import spark.implicits._
    Seq((nz(old, 0) - nz(delta, 0), nz(old, 1) - nz(delta, 1)))
      .toDF("n_docs", "total_dl")
      .write.mode("overwrite").parquet(s"$path/$smalls/stats")
    rows.unpersist()
    writeState(path, maxPending.getLong(0), smalls, postingsRel, lastBatch, Seq(smalls))
  }

  /** Physically drop tombstoned postings — the compaction that turns the
    * probe-time mask back into a clean append-only index (EventLog
    * .compact's discipline: rewrite once, then cheap forever). Probes
    * before and after are identical; after vacuum the tombstone set is
    * empty. The masked rewrite reads the CURRENT postings dir and writes
    * a fresh one committed by pointer swap — never an in-place overwrite
    * of the files its own plan reads. */
  def vacuum(spark: SparkSession, path: String): Unit = {
    if (!hasTombstones(path)) return
    compact(spark, path)
  }

  /** [[vacuum]] WITHOUT requiring tombstones — the layout half of index
    * maintenance: every [[append]] adds a `batch=<n>` partition under the
    * postings dir, so a year of daily increments leaves a probe opening
    * ~365× the partition dirs it needs even with nothing deleted.
    * compact() folds every committed batch (tombstone-masked when a
    * delete is in flight) into a FRESH single-base postings dir committed
    * by pointer swap (the epoch-dir discipline — no plan overwrites files
    * it reads), then GCs the superseded dir and any applied tombstones.
    * Probes identical before/after; idempotent fast path when already
    * single-base with nothing masked; legacy unbatched layouts are
    * already one flat dir and also skip. Tree-level form:
    * [[Maintenance.compact]]. */
  def compact(spark: SparkSession, path: String): Unit = {
    applyPending(spark, path)
    val (epoch, smallsRel, postingsRel, lastBatch) = currentState(path)
    // Orphan collection FIRST: a crash between a prior compact's pointer
    // swap and its trailing GC strands the superseded postings dir, and
    // the retry takes one of the skip paths below and would never revisit
    // it. Any `postings`/`postings_e*` dir that is not the pointer's
    // current target is superseded (or a crashed uncommitted rewrite) by
    // construction — the swap is atomic, epochs monotone, appends only
    // ever write INTO the current dir — so collect unconditionally, the
    // same discipline writeState applies to smalls/ snapshots.
    locally {
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(path)
      if (java.nio.file.Files.exists(root)) {
        val s = java.nio.file.Files.list(root)
        try s.iterator().asScala.toList
          .filter { d =>
            val n = d.getFileName.toString
            (n == "postings" || n.startsWith("postings_e")) && n != postingsRel
          }
          .foreach(graft.store.FileTree.deleteRecursively)
        finally s.close()
      }
    }
    if (!hasTombstones(path) && lastBatch <= 0) return
    // The rewrite decision reads the COMMITTED layout state, not dir-name
    // equality: lastBatch != 0 means fragmented batch partitions (or a
    // legacy flat dir with tombstones pending); with lastBatch == 0 the
    // pointer can only name the current-epoch dir via a completed rewrite
    // — in which case any remaining tombstone set was already physically
    // applied by it and just needs dropping.
    if (lastBatch != 0L || postingsRel != s"postings_e$epoch") {
      // bump the epoch so the rewrite always lands in a fresh dir
      // (epochs are monotone, never reused, so this is safe), compacting
      // every committed batch back into batch 0, re-clustered by posting
      // bucket so each `b=` dir lands as one contiguous file set (the
      // ShingleIndex.compact shape)
      val newEpoch = epoch + 1
      val newRel = s"postings_e$newEpoch"
      masked(spark, path, postingsDf(spark, path))
        .repartition(col("b"))
        .withColumn("batch", lit(0L))
        .write.mode("overwrite").partitionBy("batch", "b").parquet(s"$path/$newRel")
      writeState(path, newEpoch, smallsRel, newRel, 0L, Seq(newRel))
      // GC the superseded dir; a crash before this line is collected by
      // the next compact's opening sweep
      graft.store.FileTree.deleteRecursively(java.nio.file.Paths.get(s"$path/$postingsRel"))
    }
    graft.store.FileTree.deleteRecursively(java.nio.file.Paths.get(tombDir(path)))
  }
}
