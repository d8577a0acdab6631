package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end document takedown across a [[CurationJob]] /
  * [[DailyIncrement]] output tree — the right-to-be-forgotten operation
  * a training-data pipeline owes its sources: once an opt-out or legal
  * removal lands, the document must stop appearing in EVERY artifact a
  * consumer reads, without rewriting the corpus-sized standing files.
  *
  * One call masks or exactly updates every artifact:
  *
  *   ├─ curated manifest   tombstone mask        → [[manifest]] reader
  *   ├─ training shards    same tombstone mask   → [[shards]] reader
  *   │   (shard ids and surviving offsets are UNCHANGED — the packing
  *   │   keeps token-offset gaps where removed docs sat, preserving the
  *   │   0..N-1 shard enumeration contract; a later repack
  *   │   (PackedExport over [[manifest]]) reclaims the space)
  *   ├─ eval benchmark     same tombstone mask   → [[evalh]] reader
  *   │   (a forgotten eval doc's shingles stop marking future
  *   │   submissions of that content as "contaminated")
  *   ├─ lexical index      [[Bm25Index.delete]]  (df/stats update
  *   │   exactly — probe ≡ rebuild on the remaining corpus)
  *   ├─ vector index       [[VectorIndex.delete]] (mask before ranking)
  *   ├─ int-IVF/ADC ANN    [[IntIvfIndex.delete]] for every index named
  *   │   by the caller (vec_id = doc_id; same tombstone doctrine)
  *   ├─ dedup surfaces     [[ShingleIndex.delete]] / [[LineSegmentIndex
  *   │   .delete]] for every index named by the caller — without this, a
  *   │   forgotten doc's shingle/segment hashes keep suppressing future
  *   │   legitimate copies of that content as "duplicates of forgotten
  *   │   data"
  *   ├─ selection model    [[DsirModel.remove]]  (count subtraction —
  *   │   ≡ a refit without the docs)
  *   └─ tokenizer vocab    exact piece-count subtraction (count-shaped
  *       like the model; restricted to manifest-kept docs)
  *
  * Out of scope BY DESIGN: the quality weights and the tokenizer MERGE
  * TABLE are trained AGGREGATE models (a weight array / pair-frequency
  * ranks), not per-document state — neither admits an exact per-doc
  * subtraction (gradient descent and BPE merges are not reversible the
  * way count tables are). Where a jurisdiction requires it, the remedy
  * is a retrain on the masked manifest during [[scrub]]'s scheduled
  * window, same as any model trained on since-removed data.
  *
  * IDEMPOTENT: incoming ids are anti-joined against the existing
  * takedown tombstones first, so a retry (or a re-run after a partial
  * failure) re-processes only not-yet-committed docs — the non-idempotent
  * model subtraction can never be applied twice for the same doc. The
  * tombstone append is therefore the COMMIT record and lands LAST; every
  * earlier leg is individually idempotent (the index deletes carry their
  * own guards), so a crash mid-run re-executes them harmlessly on retry.
  * Residual window: a crash between the model write and the tombstone
  * append double-subtracts on retry — unclosable without a persisted
  * replay log of the removed docs' text, which a right-to-be-forgotten
  * path must not keep; the window is one driver-side 1-file append.
  *
  * The tombstone mask is |removed|-sized and AQE-broadcasts into every
  * reader join; nothing corpus-sized rewrites (the Bm25Index.delete
  * doctrine). The EVENT-LOG leg of the same obligation is
  * crypto-shredding ([[graft.crypto.DestroyableKeys]]): the append-only
  * log never rewrites, so per-subject keys are destroyed and readers
  * redact ([[graft.store.GraftEventStore.readSurviving]]).
  * `docs` is the takedown payload (doc_id, text + whatever
  * `isTarget` reads) — a takedown request names concrete documents, and
  * the model subtraction needs their text; ids with no payload row are
  * masked from the manifest/shards/indexes but cannot be subtracted
  * from the model (the caller owns supplying the full payload —
  * TakedownSpec pins the full path). */
object Takedown {
  private def tombDir(outDir: String) = s"$outDir/takedown_tombstones"

  // -------------------------------------------------------------------
  // Tree-recorded index registry (`outDir/indexes`, `kind=name` lines):
  // CurationJob records the dedup/overlap catalog tables it materialized
  // so a takedown reaches them WITHOUT the caller remembering to pass
  // their names — a forgotten parameter here is exactly the failure the
  // whole surface exists to prevent (an index silently acting on
  // fingerprints of forgotten content). Explicit params still work and
  // union with the recorded set.

  private def indexFile(outDir: String) = java.nio.file.Paths.get(s"$outDir/indexes")

  /** Record an index table under the tree (idempotent; kind ∈
    * {shingle, overlap, line, intivf} for takedown reach, plus `stream`
    * for streaming-maintained index ROOTS so [[Maintenance.status]]/
    * [[Maintenance.auto]] reach them — their takedowns ride the stream
    * itself as `op='del'` rows, not this registry). */
  def recordIndex(outDir: String, kind: String, name: String): Unit = {
    val p = indexFile(outDir)
    val line = s"$kind=$name"
    val existing = if (java.nio.file.Files.exists(p))
      java.nio.file.Files.readString(p).linesIterator.toSeq else Seq.empty
    if (!existing.contains(line))
      graft.store.Commit.replace(p, (existing :+ line).mkString("\n"))
  }

  /** The tree-recorded index names of one kind. */
  private[graft] def recordedIndexes(outDir: String, kind: String): Seq[String] = {
    val p = indexFile(outDir)
    if (!java.nio.file.Files.exists(p)) Nil
    else java.nio.file.Files.readString(p).linesIterator
      .filter(_.startsWith(s"$kind=")).map(_.drop(kind.length + 1)).toSeq
  }

  private def withRecorded(outDir: String, kind: String,
      explicit: Seq[String]): Seq[String] =
    (explicit ++ recordedIndexes(outDir, kind)).distinct

  def run(spark: SparkSession, outDir: String, ids: DataFrame,
      docs: DataFrame, isTarget: Column,
      shingleIndexes: Seq[String] = Nil,
      lineSegmentIndexes: Seq[String] = Nil,
      intIvfIndexes: Seq[String] = Nil,
      overlapIndexes: Seq[String] = Nil): Unit = {
    graft.GraftExtensions.register(spark)
    val req = ids.select(col(ids.columns.head).as("doc_id")).distinct()
    // idempotency guard (round-10 advisory): only not-yet-tombstoned docs
    // act. EAGER pin — the plan reads the tombstone dir the commit below
    // grows (request-sized rows, the DailyIncrement discipline).
    val fresh = (if (!java.nio.file.Files.exists(java.nio.file.Paths.get(tombDir(outDir)))) req
      else req.join(
        spark.read.parquet(tombDir(outDir)).select(col("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")).localCheckpoint(true)
    if (fresh.isEmpty) return
    Bm25Index.delete(spark, s"$outDir/bm25", fresh)
    VectorIndex.delete(spark, s"$outDir/vectors",
      fresh.select(col("doc_id").as("vec_id")))
    withRecorded(outDir, "shingle", shingleIndexes)
      .foreach(n => ShingleIndex.delete(spark, n, fresh))
    withRecorded(outDir, "line", lineSegmentIndexes)
      .foreach(n => LineSegmentIndex.delete(spark, n, fresh))
    // positioned overlap-run index: a forgotten doc must stop flagging
    // verbatim runs against future benchmarks (same mask doctrine)
    withRecorded(outDir, "overlap", overlapIndexes)
      .foreach(n => OverlapIndex.delete(spark, n, fresh))
    // integer-IVF/ADC ANN artifacts keyed by vec_id = doc_id (idempotent
    // tombstone appends, like the vector index — probes mask immediately)
    withRecorded(outDir, "intivf", intIvfIndexes)
      .foreach(n => IntIvfIndex.delete(spark, n,
        fresh.select(col("doc_id").as("vec_id"))))
    // read-subtract-write on the model path: pin the B-row result on the
    // driver before the overwrite (the DailyIncrement DSIR discipline);
    // only the FRESH docs subtract, so a re-run can't corrupt the counts.
    // Restricted to docs the manifest actually KEPT (the vocab leg's
    // doctrine): the model is fit on kept docs only, so subtracting a
    // never-kept id — an eval/benchmark doc, a gate loser — would remove
    // counts it never added and silently corrupt the remaining ratios.
    val freshDocs = docs.join(fresh, Seq("doc_id"), "left_semi")
    val keptFreshDocs = freshDocs.join(
      spark.read.parquet(s"$outDir/curated").select(col("doc_id")),
      Seq("doc_id"), "left_semi")
    val removed = DsirModel.remove(
      DsirModel.load(spark, s"$outDir/dsir"), keptFreshDocs, isTarget)
    val pinned = spark.createDataFrame(
      java.util.Arrays.asList(removed.collect(): _*), removed.schema)
    DsirModel.write(pinned, s"$outDir/dsir")
    // tokenizer VOCAB: piece frequencies are count-shaped like the DSIR
    // model, so this half of the tokenizer artifact subtracts EXACTLY
    // (the merge table itself is trained weights — out of scope, see
    // header). Restricted to docs the manifest actually KEPT: a
    // never-kept doc contributed no pieces, and subtracting it would
    // corrupt the counts. Same read-collect-recreate-overwrite pin as
    // the model path (vocabulary-sized).
    val vocabDir = s"$outDir/tokenizer_vocab"
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(vocabDir))) {
      val merges = BpeTrainer.load(spark, s"$outDir/tokenizer")
      val delta = BpeTrainer.vocabulary(
          keptFreshDocs.select(col("doc_id"), col("text")), merges)
        .select(col("piece"), col("cnt").as("dcnt"))
      val newVocab = spark.read.parquet(vocabDir)
        .join(delta, Seq("piece"), "left")
        .select(col("piece"),
          (col("cnt") - coalesce(col("dcnt"), lit(0L))).as("cnt"))
        .filter(col("cnt") > 0)
      val vocabPinned = spark.createDataFrame(
        java.util.Arrays.asList(newVocab.collect(): _*), newVocab.schema)
      vocabPinned.write.mode("overwrite").parquet(vocabDir)
    }
    // commit record — last, so a retry after any crash above re-runs the
    // (idempotent) legs instead of skipping them
    fresh.write.mode("append").parquet(tombDir(outDir))
  }

  private def mask(spark: SparkSession, outDir: String, df: DataFrame): DataFrame =
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(tombDir(outDir)))) df
    else df.join(
      spark.read.parquet(tombDir(outDir)).select(col("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")

  /** The curated manifest minus every taken-down document. */
  def manifest(spark: SparkSession, outDir: String): DataFrame =
    mask(spark, outDir, spark.read.parquet(s"$outDir/curated"))

  /** The training shards minus every taken-down document — shard ids and
    * surviving offsets unchanged (offset gaps remain until a repack). */
  def shards(spark: SparkSession, outDir: String): DataFrame =
    mask(spark, outDir, spark.read.parquet(s"$outDir/shards"))

  /** The persisted eval-shingle benchmark minus every taken-down eval
    * doc's pairs — DailyIncrement decontaminates through THIS reader, so
    * the pipeline stops acting on fingerprints of forgotten content. */
  def evalh(spark: SparkSession, outDir: String): DataFrame =
    mask(spark, outDir, spark.read.parquet(s"$outDir/evalh"))

  /** Reclaim the offset gaps [[run]] leaves: rewrite the shards from the
    * masked manifest — the SAME packing job day-0 ran, so shard ids
    * renumber contiguously from the surviving token stream and every
    * offset is gapless again. Returns the new shard count. The
    * tombstones stay (they still mask the curated files); re-masking the
    * repacked shards is a no-op since no removed doc survives the
    * rewrite. The pack base rewinds to the surviving token total so the
    * NEXT DailyIncrement continues exactly at the repacked end — without
    * this the raw manifest sum would skip shard ids (the gapless-
    * enumeration break the round-10 advisory flagged). This is the one
    * corpus-manifest-sized job in the takedown path — deliberately split
    * out so the masking stays cheap and the rewrite runs on the
    * operator's schedule, not the request's. */
  def repack(spark: SparkSession, outDir: String,
      budget: Long = graft.queries.CorpusQueries.PackBudget): Long = {
    val surviving = manifest(spark, outDir)
      .select(col("doc_id"), col("n_tokens"))
    val n = PackedExport.writeShards(surviving, s"$outDir/shards", budget)
    PackedExport.writeBase(spark, s"$outDir/packbase",
      surviving.agg(coalesce(sum(col("n_tokens")), lit(0L))).head.getLong(0))
    n
  }

  /** PHYSICAL erasure — [[run]] masks, but the removed ids' bytes remain
    * in the standing files (curated/shard rows, index postings, every
    * tombstone list naming them) until this runs. scrub() finishes
    * right-to-be-forgotten on disk: the curated manifest and eval
    * benchmark rewrite minus the tombstoned docs (checkpoint-pinned —
    * each plan reads the path it then overwrites), the shards [[repack]]
    * from the clean manifest (pack base rewound), every index compacts
    * ([[Bm25Index.vacuum]] / [[VectorIndex.vacuum]] / [[ShingleIndex
    * .vacuum]] / [[LineSegmentIndex.vacuum]]), and the takedown
    * tombstones themselves are deleted last — afterwards no artifact
    * names a removed doc, and every reader behaves exactly as before the
    * scrub (TakedownSpec pins both). Corpus-manifest-sized like repack:
    * the REQUEST path stays the |removed|-sized [[run]]; erasure runs on
    * the operator's schedule (e.g. the jurisdiction's completion
    * deadline), amortized over many requests. */
  def scrub(spark: SparkSession, outDir: String,
      shingleIndexes: Seq[String] = Nil,
      lineSegmentIndexes: Seq[String] = Nil,
      intIvfIndexes: Seq[String] = Nil,
      overlapIndexes: Seq[String] = Nil): Unit = {
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(tombDir(outDir)))) return
    val cleanManifest = manifest(spark, outDir).localCheckpoint(true)
    cleanManifest.write.mode("overwrite").parquet(s"$outDir/curated")
    val cleanEval = evalh(spark, outDir).localCheckpoint(true)
    cleanEval.write.mode("overwrite").parquet(s"$outDir/evalh")
    repack(spark, outDir)
    Bm25Index.vacuum(spark, s"$outDir/bm25")
    VectorIndex.vacuum(spark, s"$outDir/vectors")
    withRecorded(outDir, "shingle", shingleIndexes)
      .foreach(n => ShingleIndex.vacuum(spark, n))
    withRecorded(outDir, "line", lineSegmentIndexes)
      .foreach(n => LineSegmentIndex.vacuum(spark, n))
    withRecorded(outDir, "intivf", intIvfIndexes)
      .foreach(n => IntIvfIndex.vacuum(spark, n))
    withRecorded(outDir, "overlap", overlapIndexes)
      .foreach(n => OverlapIndex.vacuum(spark, n))
    graft.store.FileTree.deleteRecursively(java.nio.file.Paths.get(tombDir(outDir)))
  }
}
