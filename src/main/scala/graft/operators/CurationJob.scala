package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Tokenizer
import graft.queries.CorpusQueries

/** The end-to-end curation RUN — what a user executes over a raw crawl to
  * produce everything a training + retrieval stack consumes, in one job:
  *
  *   curate ([[CurationDag]]: quality → exact dedup → decontam, then the
  *   optional near-dup and token-rewrite stages — the DAG the
  *   pipeline_curate* keys pack and the pipeline_audit* keys trace)
  *     ├─ training shards   PackedExport   → outDir/shards/ (hive shard=K)
  *     ├─ lexical index     Bm25Index      → outDir/bm25/
  *     ├─ vector index      VectorIndex    → outDir/vectors/ (kept subset)
  *     ├─ curated manifest  parquet        → outDir/curated/ (doc_id,
  *     │  n_tokens, raw-text digest — the join surface for lineage/audits)
  *     ├─ eval benchmark    parquet        → outDir/evalh/ (the shingles
  *     │  the decontam stage checked against)
  *     ├─ selection model   DsirModel      → outDir/dsir/ (fit on the
  *     │  KEPT set with the en split as target — the model the next
  *     │  day's batches score against, batch-side via StreamingDsir)
  *     ├─ quality weights   QualityClassifier → outDir/quality/ (trained
  *     │  on kept-vs-dropped labels from the quality gate itself — the
  *     │  weight array text_quality_score's production form broadcasts)
  *     └─ tokenizer         BpeTrainer     → outDir/tokenizer/ (BPE merge
  *        table trained on the kept corpus, frozen at day 0; loadTokenizer
  *        rebuilds the pack-budget counter from it) + outDir/
  *        tokenizer_vocab/ (piece frequencies under the frozen table —
  *        the vocab.json half of the artifact)
  *
  * One DAG feeds every branch: the final kept set is cut from the DAG
  * (materialized once, its plan a leaf), the DAG's stage caches serve the
  * index builds over its earlier stages, and [[CurationDag.release]]
  * drops them at the end. All outputs are mutually CONSISTENT by
  * construction — same kept set — which CurationJobSpec pins against the
  * oracle-checked pipeline_curate* keys (shards ≡ their packing columns,
  * bm25 stats count ≡ kept docs, vector ids ⊆ kept ids, DSIR model counts
  * ≡ a direct fit of the kept set, classifier weights reload
  * bit-identically).
  */
object CurationJob {
  final case class Result(
      nDocsKept: Long,
      nShards: Long,
      curatedDir: String,
      shardsDir: String,
      bm25Dir: String,
      vectorDir: String,
      dsirDir: String,
      qualityDir: String,
      quality: QualityClassifier.Model,
      evalhDir: String,
      tokenizerDir: String)

  /** Load the run's trained tokenizer (the outDir/tokenizer artifact) as
    * a pack-budget counter — [[graft.functions.Tokenizer.LearnedNative]]
    * over the frozen merge table. Day-0 frozen by design (see
    * [[BpeTrainer.save]]): a later increment budgets in the SAME pieces
    * the shards were packed with. */
  def loadTokenizer(spark: SparkSession, outDir: String): Tokenizer =
    Tokenizer.LearnedNative(BpeTrainer.load(spark, s"$outDir/tokenizer"))

  /** The three index options also switch the DAG's optional stages on
    * (see [[CurationDag]]); each names the standing index DailyIncrement
    * probes so a batch gets the same verdict at |batch| cost:
    *
    *  - `nearDupIndex` (near-dup stage): a [[ShingleIndex]] over the
    *    PRE-near-dup survivors — a batch doc near-duplicating a day-0 doc
    *    that itself LOST the day-0 verdict must still drop, so indexing
    *    only keepers would miss that edge;
    *  - `benchIndex` (scrub stage): an [[OverlapIndex]] over the surviving
    *    eval docs, the positioned benchmark each batch scrubs against;
    *  - `spanIndex` (span keep-first stage): a [[ShingleIndex]] over the
    *    final kept set's RAW text, the passage-claim surface (keeper = min
    *    id = first arrival, so arrival-order keep-first ≡ union rebuild).
    *
    * With a rewrite stage on, every downstream artifact (shards, bm25,
    * dsir, tokenizer, vocab) consumes the rewritten text and post-rewrite
    * token counts, while the curated manifest keeps the RAW-text digest
    * (the dedup surface stays content-addressed by what ARRIVED, so a
    * re-delivered raw doc still anti-joins out).
    *
    * `overlapIndex` names an [[OverlapIndex]] to materialize over the
    * FINAL kept set — the standing positioned-shingle artifact
    * DailyIncrement extends per batch. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
      tok: Tokenizer = Tokenizer.Whitespace,
      docFilter: org.apache.spark.sql.Column = lit(true),
      tokenizerMerges: Int = 8,
      nearDupIndex: Option[String] = None,
      nearDupThreshold: Double = CorpusQueries.NearDupThreshold,
      overlapIndex: Option[String] = None,
      benchIndex: Option[String] = None,
      spanIndex: Option[String] = None): Result = {
    graft.GraftExtensions.register(spark)
    val dag = new CurationDag(spark, sfDir, tok, docFilter)(nearDupIndex.isDefined,
      benchIndex.isDefined, spanIndex.isDefined, nearDupThreshold)
    // the final training docs, rewritten text and post-rewrite counts;
    // `digest` stays the RAW-text md5 (the content-addressed dedup surface)
    val kept = dag.cut(
      if (benchIndex.isEmpty && spanIndex.isEmpty) dag.survivors.withColumn("digest", md5(col("text")))
      else dag.rewritten.join(dag.survivors.select(col("doc_id"), md5(col("text")).as("digest")), "doc_id")
        .select(col("doc_id"), col("scrub_text").as("text"),
          (col("n_tokens") - col("n_removed")).as("n_tokens"), col("digest")))
    val curatedDir = s"$outDir/curated"
    // digest third: DailyIncrement's corpus-precedes-batch exact dedup
    // anti-joins tomorrow's batch against it (content-addressed manifest)
    // added_batch LAST (positional readers see 0..2 unchanged): batch 0
    // is day 0; each DailyIncrement stamps its own id — the provenance
    // column behind the as-of readers (DailyIncrement.manifestAsOf)
    kept.select(col("doc_id"), col("n_tokens"), col("digest"))
      .withColumn("added_batch", lit(0L))
      .write.mode("overwrite").parquet(curatedDir)
    val shardsDir = s"$outDir/shards"
    val nShards = PackedExport.writeShards(
      kept.select(col("doc_id"), col("n_tokens")), shardsDir,
      CorpusQueries.PackBudget)
    // persist the pack base (day-0 token total): DailyIncrement continues
    // packing from this artifact, and Takedown.repack rewinds it — see
    // PackedExport.writeBase for why it can't be derived from the manifest
    PackedExport.writeBase(spark,  s"$outDir/packbase",
      kept.agg(coalesce(sum(col("n_tokens")), lit(0L))).head.getLong(0))
    val bm25Dir = s"$outDir/bm25"
    Bm25Index.build(kept.select(col("doc_id"), col("text")), bm25Dir)
    val vectorDir = s"$outDir/vectors"
    VectorIndex.materialize(
      Tables.load(spark, sfDir, "embeddings")
        .join(kept.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
        .select(col("vec_id"), col("embedding")),
      vectorDir)
    // selection model over the KEPT set (en split as target): tomorrow's
    // batches score against this artifact instead of re-reading today's
    // corpus (DsirModel.score / StreamingDsir)
    val dsirDir = s"$outDir/dsir"
    val docs = Tables.load(spark, sfDir, "documents")
    DsirModel.write(
      DsirModel.fit(
        kept.select(col("doc_id"), col("text"))
          .join(docs.select(col("doc_id"), col("lang")), "doc_id"),
        col("lang") === "en"),
      dsirDir)
    // distill the curation verdict into the hashed-linear quality model:
    // label every RAW doc by whether curation kept it, train the
    // broadcast-able weight array text_quality_score's production form
    // evaluates. Bit-reproducible, so two sites running the same job
    // ship identical weights.
    // persist the eval-shingle benchmark the decontam stage ACTUALLY
    // checked against — derived from the gate/dedup survivors, not the
    // raw table. DailyIncrement loads this instead of re-deriving from
    // raw docs, so day0 and the daily path apply the identical benchmark.
    val evalhDir = s"$outDir/evalh"
    dag.evalH
      .withColumn("added_batch", lit(0L))
      .write.mode("overwrite").parquet(evalhDir)
    val qualityDir = s"$outDir/quality"
    val labeled = docs.select(col("doc_id"), col("text"))
      .join(kept.select(col("doc_id"), lit(1.0).as("label")), Seq("doc_id"), "left")
      .select(col("doc_id"), col("text"), coalesce(col("label"), lit(0.0)).as("label"))
    val quality = QualityClassifier.train(
      QualityClassifier.featurize(labeled, col("label")), iters = 10)
    QualityClassifier.write(quality, spark, qualityDir)
    // tokenizer artifact: BPE merges trained on the KEPT corpus (a model
    // trains on curated text, so its tokenizer does too), frozen at day 0
    // (BpeTrainer.save documents why the daily path never retrains).
    // Deterministic training ⇒ two sites running the same job ship the
    // identical merge table, like the quality weights.
    val tokenizerDir = s"$outDir/tokenizer"
    val learnedMerges =
      BpeTrainer.train(kept.select(col("doc_id"), col("text")), tokenizerMerges)
    BpeTrainer.save(spark, learnedMerges, tokenizerDir)
    // the vocab half of the artifact (merges.txt + vocab.json analog):
    // piece frequencies of the kept corpus under the frozen table
    BpeTrainer.vocabulary(kept.select(col("doc_id"), col("text")), learnedMerges)
      .write.mode("overwrite").parquet(s"$outDir/tokenizer_vocab")
    // the standing dedup index over PRE-near-dup survivors (see the run
    // scaladoc for why keepers-only would under-drop future batches) and
    // the positioned overlap artifact over the final kept set
    nearDupIndex.foreach { t =>
      ShingleIndex.materialize(dag.train.select(col("doc_id"), col("text")), t)
      // record under the tree so Takedown reaches this index WITHOUT the
      // caller remembering its name — a forgotten parameter would leave
      // the dedup surface acting on fingerprints of forgotten content
      Takedown.recordIndex(outDir, "shingle", t)
    }
    overlapIndex.foreach { t =>
      OverlapIndex.materialize(kept.select(col("doc_id"), col("text")), t)
      Takedown.recordIndex(outDir, "overlap", t)
    }
    // the standing positioned BENCHMARK artifact (eval docs, not train):
    // DailyIncrement's scrub stage probes it at |batch| cost and appends
    // each batch's eval survivors. Recorded as kind "overlap" so a
    // takedown of an eval doc releases its runs without the caller
    // remembering the index name.
    benchIndex.foreach { t =>
      OverlapIndex.materialize(dag.evalDocs, t)
      Takedown.recordIndex(outDir, "overlap", t)
    }
    // the standing passage-claim surface for the span stage: the FINAL
    // kept set's RAW trigrams (a near-dup loser's text never trains, so
    // it claims no passages; raw — keepers claim what ARRIVED, not what
    // survived scrubbing, or a batch re-quoting an excised span would
    // wrongly keep it). Recorded kind "shingle": a takedown releases the
    // forgotten doc's passage claims, so re-submitted content survives.
    spanIndex.foreach { t =>
      ShingleIndex.materialize(dag.survivors.select(col("doc_id"), col("text")), t)
      Takedown.recordIndex(outDir, "shingle", t)
    }
    val n = kept.count()
    dag.release()
    Result(n, nShards, curatedDir, shardsDir, bm25Dir, vectorDir,
      dsirDir, qualityDir, quality, evalhDir, tokenizerDir)
  }
}
