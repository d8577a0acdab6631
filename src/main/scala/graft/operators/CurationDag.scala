package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Tokenizer
import graft.queries.{CorpusQueries, DedupQueries}
import graft.queries.CorpusQueries.{EvalMod, MinRunTokens}
import graft.queries.CrossHash.shingleHashSet

/** The curation DAG, defined once: quality gate → exact dedup → decontam
  * → optional near-dup clustering (lowest id wins) → optional token
  * rewrites → sequence packing. The ten `pipeline_curate*` /
  * `pipeline_audit*` keys and [[CurationJob]] read their stages from here,
  * so the audit can never drift from the pipeline it traces.
  *
  * The flags pick the optional stages:
  *  - `nearDup` drops docs whose word-3-gram jaccard with a surviving
  *    lower-id doc reaches `threshold`;
  *  - `scrub` excises runs of ≥ [[CorpusQueries.MinRunTokens]] tokens
  *    shared with the gate/dedup-surviving eval split;
  *  - `spans` keeps the lowest-id copy of every duplicated trigram and
  *    excises the others.
  * Both rewrites judge the near-dup survivors' RAW text, so their dup
  * starts union into one token rebuild.
  *
  * Stage-boundary policy: a stage frame is cached when more than one
  * consumer re-runs a shuffle-heavy plan under it — `kept` always,
  * `contam` (the trace column and the drop rule inside `train` read it),
  * `train` and the near-dup shingles when near-dup is on (the
  * pair self-join, the components loop and the survivor semi-join read
  * them), `survivors` when a rewrite follows near-dup, `clusters` only
  * when [[fateTrace]] reads it beside the packing. The rewrites alone
  * read `train` uncached: the positioned explode pipelines into each
  * consumer, which costs less than materializing the text. [[release]]
  * unpersists every cache the DAG made (pack caches its input, which is
  * released too). A frame that outlives the DAG is taken through [[cut]]
  * first, so the release never forces a recompute and its plan is a leaf
  * for every later consumer. */
final class CurationDag(spark: SparkSession, dir: String,
    tok: Tokenizer = Tokenizer.Whitespace, docFilter: Column = lit(true))(
    nearDup: Boolean = false, scrub: Boolean = false, spans: Boolean = false,
    threshold: Double = CorpusQueries.NearDupThreshold) {
  private val held = ArrayBuffer.empty[DataFrame]
  private def stage(df: DataFrame): DataFrame = { held += df; df.cache() }
  private val rewrites = scrub || spans

  /** Gate/dedup survivors (doc_id, text, n_tokens). */
  lazy val kept: DataFrame = stage(CorpusQueries.curatedKept(spark, dir, tok, docFilter))
  /** The surviving eval split (doc_id, text): the benchmark population. */
  lazy val evalDocs: DataFrame =
    kept.filter(col("doc_id") % EvalMod === 0).select(col("doc_id"), col("text"))
  /** The decontam benchmark as (doc_id, h) shingle pairs. */
  lazy val evalH: DataFrame =
    evalDocs.select(col("doc_id"), explode(shingleHashSet(col("text"))).as("h"))
  private def shingled = kept.select(col("doc_id"), explode(shingleHashSet(col("text"))).as("h"))
  /** (doc_id, n_shingles, n_contaminated) over the train-side survivors. */
  lazy val contam: DataFrame = stage(CorpusQueries.contamination(shingled))

  /** Decontam survivors (doc_id, text, n_tokens): the eval split and docs
    * ≥ 50% eval-overlapping drop. The drop rule is not routed through
    * [[contam]]'s cache: in the curate keys it has one consumer. */
  lazy val train: DataFrame = {
    val contaminated = CorpusQueries.contamination(shingled)
      .filter(col("n_contaminated").cast("double") / col("n_shingles") >= 0.5)
    val t = kept.filter(col("doc_id") % EvalMod =!= 0)
      .join(contaminated.select(col("doc_id")), Seq("doc_id"), "left_anti")
    if (nearDup) stage(t) else t
  }

  /** Near-dup cluster assignment (doc_id, cluster = keeper id). */
  lazy val clusters: DataFrame = {
    val sh = stage(train.select(col("doc_id"), explode(shingleHashSet(col("text"))).as("h")))
    ConnectedComponents.clusters(train.select(col("doc_id").as("id")),
        DedupQueries.jaccardPairsFrames(sh, threshold).select(col("doc_a").as("a"), col("doc_b").as("b")))
      .select(col("id").as("doc_id"), col("cluster"))
  }

  /** Near-dup survivors (doc_id, text, n_tokens); `train` when the stage is off. */
  lazy val survivors: DataFrame = if (!nearDup) train else {
    val s = train.join(clusters.filter(col("cluster") === col("doc_id")).select(col("doc_id")),
      Seq("doc_id"), "left_semi")
    if (rewrites) stage(s) else s
  }

  /** The one token rebuild over the union of the on stages' dup starts:
    * (doc_id, n_tokens before, n_removed, scrub_text). */
  lazy val rewritten: DataFrame = {
    val nd = survivors.select(col("doc_id"), col("text"))
    val starts = Option.when(scrub)(OverlapIndex.scrubStartRows(OverlapIndex.positioned(nd),
        OverlapIndex.positioned(evalDocs), MinRunTokens)).toSeq ++
      Option.when(spans)(DedupQueries.spanKeepFirstStartRowsFromDocs(OverlapIndex.positioned(nd), nd))
    val dupStarts = if (starts.size > 1) starts.reduce(_ unionByName _).distinct() else starts.head
    DedupQueries.scrubRebuild(spark, nd, dupStarts.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("q"))).as("dup_starts")))
  }

  /** The packing of the final docs: (doc_id, n_tokens[, n_removed],
    * shard, shard_offset), token counts after the rewrites. */
  lazy val packed: DataFrame = {
    val in = if (!rewrites) survivors.select(col("doc_id"), col("n_tokens"))
      else rewritten.select(col("doc_id"),
        (col("n_tokens") - col("n_removed")).as("n_tokens"), col("n_removed"))
    held += in
    PackedExport.pack(in)
  }

  /** One row per corpus doc: the stage that ended it (gate_failed → dup →
    * eval_split → contaminated [→ neardup] → kept), the doc it lost to,
    * its decontam fraction and, when kept, its packed placement. */
  lazy val fateTrace: DataFrame = {
    val lost = col("cluster") =!= col("doc_id")
    val fate = when(col("keep_id").isNull, lit("gate_failed"))
      .when(col("keep_id") =!= col("doc_id"), lit("dup"))
      .when(col("doc_id") % EvalMod === 0, lit("eval_split"))
      .when(col("contam_frac") >= 0.5, lit("contaminated"))
    val dupOf = when(col("keep_id") =!= col("doc_id"), col("keep_id"))
    // contam, and clusters with its second consumer, are cached before
    // `packed` runs its jobs, so the packing reads the same cache entries
    val traced = Tables.load(spark, dir, "documents").filter(docFilter)
      .select(col("doc_id"), tok.count(col("text")).as("n_tokens"), md5(col("text")).as("ch"))
      .join(kept.select(md5(col("text")).as("ch"), col("doc_id").as("keep_id")), Seq("ch"), "left")
      .join(contam.select(col("doc_id"), (col("n_contaminated").cast("double") /
        col("n_shingles")).as("contam_frac")), Seq("doc_id"), "left")
    val placed = (if (rewrites) Seq("n_removed") else Nil) ++ Seq("shard", "shard_offset")
    (if (nearDup) traced.join(stage(clusters), Seq("doc_id"), "left") else traced)
      .join(packed.select(("doc_id" +: placed).map(col): _*), Seq("doc_id"), "left")
      .select(Seq(col("doc_id"), col("n_tokens"),
        (if (nearDup) fate.when(lost, lit("neardup")) else fate).otherwise(lit("kept")).as("fate"),
        (if (nearDup) dupOf.when(lost, col("cluster")) else dupOf).as("dup_of"),
        col("contam_frac")) ++ placed.map(col): _*)
  }

  /** `df` with its lineage cut: materialized now, its plan a leaf. */
  def cut(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** Unpersist every cache the DAG made. */
  def release(): Unit = held.foreach(_.unpersist())
}

object CurationDag {
  /** A registered curation key: the DAG with the given stages on, and the
    * frame it returns — materialized, with the DAG released. */
  final case class Key(audit: Boolean, nearDup: Boolean, scrub: Boolean, spans: Boolean)
      extends ((SparkSession, String) => DataFrame) {
    def dag(s: SparkSession, dir: String): CurationDag = new CurationDag(s, dir)(nearDup, scrub, spans)
    /** The key's composed frame, before it is materialized. */
    def frame(dag: CurationDag): DataFrame = if (audit) dag.fateTrace else dag.packed
    def apply(s: SparkSession, dir: String): DataFrame = {
      val d = dag(s, dir)
      try d.cut(frame(d)) finally d.release()
    }
  }

  /** The key returning the packing of the DAG with the given stages on. */
  def curate(nearDup: Boolean = false, scrub: Boolean = false, spans: Boolean = false) =
    Key(audit = false, nearDup, scrub, spans)

  /** The key returning the fate trace of the DAG with the given stages on. */
  def audit(nearDup: Boolean = false, scrub: Boolean = false, spans: Boolean = false) =
    Key(audit = true, nearDup, scrub, spans)
}
