package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryModule, Tables}
import CrossHash._

/** Deduplication suite over the `documents` / `embeddings` tables — the
  * training-data-pipeline operators a 100 TB corpus needs.
  *
  * Scale design:
  *  - dedup_exact: one hash-shuffle on md5(text); at 100 TB, group on the
  *    digest (never the raw text) so shuffle rows are tiny and skew-free.
  *  - dedup_ngram_jaccard: exact all-pairs via the inverted shingle index
  *    (self-join on the 60-bit shingle hash — fixed-width keys, ~4× less
  *    shuffle than raw shingle strings). Quadratic in docs-per-shingle —
  *    correct baseline at test scale; the LSH variant below is the scale
  *    path.
  *  - dedup_minhash_lsh: minhash signatures (16 perms) → banded LSH
  *    (4 bands × 4 rows) → bucket-join produces only candidate pairs →
  *    exact jaccard verification of candidates. Cost is O(candidates), not
  *    O(n²); bands shuffle on (band_idx, band_value) which is uniform by
  *    construction of the hash.
  *  - dedup_simhash: 32-bit simhash fingerprints; near-dups at hamming ≤ 2
  *    via EXACT pigeonhole banding (3 bands; ≤2 flipped bits leave some
  *    band untouched) — candidates join on (band, bits), never all-pairs,
  *    and the banded result provably equals the quadratic spelling
  *    (DedupScaleSpec pins the equality).
  *  - dedup_embed_cosine: LSH-bucketed cosine near-dup pairs over
  *    embeddings — banded hyperplane signatures (CrossHash.embPlanes)
  *    generate candidates, exact cosine verifies them. The oracle computes
  *    the identical deterministic bands (knn_lsh doctrine), so the gate
  *    checks the bucketed computation bit-for-bit; recall vs the exact
  *    all-pairs spelling is pinned separately in DedupScaleSpec (LSH at
  *    the test threshold 0.4 ≈ random similarity is recall-limited by
  *    construction; production thresholds ≥0.8 recall >0.999).
  *
  * All arithmetic is integer (md5-derived 60-bit hashes mod P) except the
  * final jaccard/cosine ratio, which is a single double division — both
  * engines evaluate it identically (see CrossHash).
  */
object DedupQueries extends QueryModule {
  /** Distinct (doc_id, shingle-hash) pairs. Shingles are hashed to 60-bit
    * longs (h60, identical in both engines) BEFORE the distinct/self-join:
    * the shuffle rows shrink from ~30-byte strings to 8-byte longs and the
    * join keys become fixed-width — at 100 TB this is the difference
    * between shuffling the corpus' text and shuffling one long per
    * shingle. Hash collisions are deterministic and engine-identical, so
    * the oracle agrees bit-for-bit. */
  private def shingleSet(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.GraftExtensions.register(s)
    Tables.load(s, dir, "documents")
      .select($"doc_id", explode(shingleHashSet($"text")).as("h"))
  }

  /** Shingle df-ceiling elision — the exact-shingle paths' skew guard at
    * scale (the Bm25Index.probe maxDfFrac / HammingBands hot-bucket
    * doctrine applied to dedup): a boilerplate shingle present in df ≈ N
    * docs makes the inverted-index self-join bucket df² pairs (10¹² at
    * 10⁶ docs) while carrying ~zero dedup signal — two docs sharing ONLY
    * boilerplate are not near-duplicates. Dropping shingles with
    * df > maxDfFrac·N bounds every join bucket at (maxDfFrac·N)² and
    * every df-join fan-out at maxDfFrac·N, and the result is EXACTLY the
    * full computation over the surviving-shingle corpus (every per-doc
    * count recomputed over survivors — DedupScaleSpec pins elided ≡ full
    * and the bucket bound). Default 1.0 = no elision, the oracle-checked
    * exact baseline. */
  /** Shingles present in more than maxDfFrac of all docs — tiny by
    * construction (boilerplate), so the elision anti-join broadcasts.
    * `sh` must be DISTINCT (doc_id, h) pairs so df is a true document
    * frequency. */
  private[graft] def hotShingles(sh: DataFrame, maxDfFrac: Double): DataFrame = {
    val nDocs = sh.select(col("doc_id")).distinct().count()
    sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") > lit(maxDfFrac) * lit(nDocs.toDouble))
      .select(col("h"))
  }

  private def dfCeiled(sh: DataFrame, maxDfFrac: Double): DataFrame =
    if (maxDfFrac >= 1.0) sh
    else sh.join(hotShingles(sh, maxDfFrac), Seq("h"), "left_anti")

  /** Exact word-3-gram Jaccard pairs ≥ 0.6 (shared by the pair query and
    * the clustering query). `maxDfFrac < 1` elides boilerplate shingles
    * before the self-join — see [[dfCeiled]]. */
  private[graft] def jaccardPairs(s: SparkSession, dir: String,
      maxDfFrac: Double = 1.0): DataFrame =
    jaccardOfShingles(s, dfCeiled(shingleSet(s, dir), maxDfFrac).cache(), 0.6)

  /** [[jaccardPairs]] over an arbitrary (doc_id, h) distinct-shingle
    * frame — the curation DAG's near-dup stage runs this on the decontam
    * survivors (CurationDag.clusters) rather than the raw table. `sh` is
    * read several times; the caller caches it. */
  private[graft] def jaccardPairsFrames(sh: DataFrame, threshold: Double): DataFrame =
    jaccardOfShingles(sh.sparkSession, sh, threshold)

  // recorded NON-WIN (r18): carrying a doc-local n = size(shingleHashSet)
  // through the jaccard self-join's group keys (eliminating the per-doc
  // count aggregate and both count joins, like containmentPairs below)
  // measured 1.70 → 2.29 s executor CPU at sf0.1 — the two extra longs
  // widen the Σdf²-row pair aggregate's keys and exchange (7.2 → 12.3 MB
  // shuffled) while the joins it removes are AQE-broadcast and ~free at
  // every decade this sandbox can measure (the count side is 16 B/doc:
  // still under the broadcast threshold at 100× = 8 MB; the join only
  // turns into a pair-table re-shuffle beyond ~10⁷ docs). An exact
  // size-ratio join prune (j ≤ min(na,nb)/max(na,nb)) on top cost
  // another +0.28 s CPU — per-match division on 1.27 M rows outweighs
  // the 35% agg-input cut. containmentPairs keeps the counted form
  // because there it also deletes a 1.1 M-row cache and a mirrored-pair
  // count join (measured CPU win); here it deletes only broadcasts.

  /** (doc_id, n, h) exploded doc-local shingle rows with n = |shingle set|
    * riding every row: the shingle set is DOC-LOCAL ([[shingleHashSet]]
    * returns the per-doc distinct array), so the per-doc count the pair
    * algebra needs is just the array size — no corpus-wide count
    * aggregate, no count join-back onto the pair table (r18; exact ONLY
    * when no df-ceiling elision drops rows afterwards — elided paths keep
    * [[jaccardOfShingles]], whose count is recomputed over survivors). */
  private def countedShingles(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), shingleHashSet(col("text")).as("hs"))
      .select(col("doc_id"), size(col("hs")).cast("long").as("n"),
        explode(col("hs")).as("h"))

  /** The exact-jaccard pair algebra over a DISTINCT (doc_id, h) shingle
    * frame (callers cache it — both the inter self-join and the count
    * agg consume it). */
  private def jaccardOfShingles(s: SparkSession, sh: DataFrame,
      threshold: Double): DataFrame = {
    import s.implicits._
    // recorded NON-win (r18): pre-filtering sh to df ≥ 2 shingles before
    // the self-join (exact — a df-1 shingle can't form a pair) measured
    // 1.80 → 2.85 s at sf0.1: the dup aggregate + semi-join cost more
    // than the pruning saves on this corpus (high shingle duplication).
    val cnt = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val inter = sh.as("a").join(sh.as("b"),
        $"a.h" === $"b.h" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    val j = $"inter".cast("double") / ($"na" + $"nb" - $"inter")
    // per-doc counts are |docs| rows (~10⁸ at the 100 TB design point) —
    // deliberately NO broadcast hint: AQE broadcasts from runtime stats
    // while cnt is small and degrades to a shuffle join once it isn't,
    // whereas a forced hint would OOM the driver at scale
    // (PlanAuditSpec pins the absence of mandatory hints here).
    inter
      .join(cnt.select($"doc_id".as("doc_a"), $"n".as("na")), "doc_a")
      .join(cnt.select($"doc_id".as("doc_b"), $"n".as("nb")), "doc_b")
      .filter(j >= threshold)
      .select($"doc_a", $"doc_b", j.as("jaccard"))
  }


  /** Exact containment pairs ≥ 0.9 (dedup_containment's spelling, with
    * the same [[dfCeiled]] elision knob as [[jaccardPairs]]). */
  private[graft] def containmentPairs(s: SparkSession, dir: String,
      maxDfFrac: Double = 1.0): DataFrame = {
    import s.implicits._
    if (maxDfFrac >= 1.0) {
      // doc-local counts (the [[countedShingles]] rationale): nx/ny ride
      // the half-join rows and the group keys, so BOTH orientations'
      // verdicts derive from one agg row — a single explode replaces the
      // mirror union (and with one consumer, the r17 half .cache() and
      // the count join over the mirrored 2× pair table go away with it).
      // No size-ratio prune here — a small doc fully contained in a huge
      // one passes at any ratio.
      graft.GraftExtensions.register(s)
      val shc = countedShingles(Tables.load(s, dir, "documents")).cache()
      val half = shc.as("a").join(shc.as("b"),
          $"a.h" === $"b.h" && $"a.doc_id" < $"b.doc_id")
        .groupBy($"a.doc_id".as("x"), $"b.doc_id".as("y"),
          $"a.n".as("nx"), $"b.n".as("ny"))
        .agg(count(lit(1)).as("inter"))
      return half.select(explode(array(
          struct($"x".as("doc_in"), $"y".as("doc_out"),
            ($"inter".cast("double") / $"nx").as("containment")),
          struct($"y".as("doc_in"), $"x".as("doc_out"),
            ($"inter".cast("double") / $"ny").as("containment")))).as("r"))
        .select($"r.doc_in", $"r.doc_out", $"r.containment")
        .filter($"containment" >= 0.9)
    }
    val sh = dfCeiled(shingleSet(s, dir), maxDfFrac).cache()
    val cnt = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    // |A∩B| is symmetric: generate each unordered pair ONCE (the a<b
    // half, same join cost as jaccardPairs) and mirror the counts into
    // both orientations afterwards. The ≠-join spelling walks every
    // index bucket twice — at test scale the shingle-index build
    // dominates either way (measured 2.0 vs 1.9 s at sf0.1), but the
    // Σdf² pair-generation term is the one that grows at 100 TB, and
    // this halves it
    // half cached: the two mirror orientations below each referenced it —
    // uncached, the pair-generation self-join + aggregate executed TWICE
    // (r17 optimization; the whole point of the a<b spelling was to halve
    // that join, and the uncached union silently took the halving back)
    val half = sh.as("a").join(sh.as("b"),
        $"a.h" === $"b.h" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("x"), $"b.doc_id".as("y"))
      .agg(count(lit(1)).as("inter"))
      .cache()
    val inter = half.select($"x".as("doc_in"), $"y".as("doc_out"), $"inter")
      .unionByName(half.select($"y".as("doc_in"), $"x".as("doc_out"), $"inter"))
    val c = $"inter".cast("double") / $"nin"
    // counts join: same no-mandatory-broadcast rationale as jaccardPairs
    inter
      .join(cnt.select($"doc_id".as("doc_in"), $"n".as("nin")), "doc_in")
      .filter(c >= 0.9)
      .select($"doc_in", $"doc_out", c.as("containment"))
  }

  /** dedup_spans' spelling with the [[dfCeiled]] elision knob: occurrences
    * of over-ceiling shingles drop from BOTH the span total and the dup
    * accounting — exactly the full query over the surviving-shingle
    * corpus (DedupScaleSpec pins it). The default is the exact oracle
    * baseline. The elision bounds the occ⋈df join's per-key fan-out at
    * maxDfFrac·N rows (a df ≈ N boilerplate shingle funnels its whole
    * occurrence list through one reducer otherwise — AQE skew-split
    * handles the shuffle, the ceiling removes the work itself). */
  private[graft] def dedupSpans(s: SparkSession, dir: String,
      maxDfFrac: Double = 1.0): DataFrame = {
    import s.implicits._
    graft.GraftExtensions.register(s)
    // occ cached: it feeds the document-frequency aggregate AND the
    // join-back — uncached, the corpus explode executed twice (r17
    // optimization)
    val occAll = Tables.load(s, dir, "documents")
      .select($"doc_id", explode(shingleHashes($"text")).as("h"))
    val occ = (if (maxDfFrac >= 1.0) occAll
      else occAll.join(hotShingles(occAll.distinct(), maxDfFrac), Seq("h"), "left_anti"))
      .cache()
    val docFreq = occ.distinct()
      .groupBy($"h").agg(count(lit(1)).as("nd"))
    occ.join(docFreq, "h")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when($"nd" >= 2, 1L).otherwise(0L)).as("n_dup_spans"))
      .withColumn("dup_ratio", $"n_dup_spans".cast("double") / $"n_spans")
  }

  /** dedup_span_scrub's spelling with the [[dfCeiled]] elision knob: an
    * over-ceiling trigram neither counts as a dup start nor scrubs its
    * tokens — the full query over the surviving-shingle corpus
    * (DedupScaleSpec pins elided ≡ full-on-survivors). Default = the
    * exact oracle baseline. */
  private[graft] def spanScrub(s: SparkSession, dir: String,
      maxDfFrac: Double = 1.0): DataFrame = {
    import s.implicits._
    graft.GraftExtensions.register(s)
    val occAll = Tables.load(s, dir, "documents")
      .select($"doc_id", posexplode(shingleHashes($"text")).as(Seq("q", "h")))
    val occ = if (maxDfFrac >= 1.0) occAll
      else occAll.join(
        hotShingles(occAll.select($"doc_id", $"h").distinct(), maxDfFrac),
        Seq("h"), "left_anti")
    // distinct on (doc_id, h) — NOT the position — so an intra-doc
    // repeated trigram counts once and nd is a true document frequency
    val dup = occ.select($"doc_id", $"h").distinct()
      .groupBy($"h").agg(count(lit(1)).as("nd"))
      .filter($"nd" >= 2)
      .select($"h")
    val dupStarts = occ.join(dup, "h")
      .groupBy($"doc_id")
      .agg(sort_array(collect_list($"q")).as("dup_starts"))
    scrubRebuild(s, Tables.load(s, dir, "documents"), dupStarts)
  }

  /** Shared scrub tail: per-doc dup-start lists → token rebuild over the
    * given (doc_id, text, …) docs frame. A token at index i is excised
    * iff some dup trigram start q ∈ [i-2, i] covers it; the survivors
    * re-join in original order. Row-local array pass — O(L·d) per doc,
    * no further shuffle past the dup_starts aggregate. Shared with
    * [[graft.operators.ShingleIndex.spanKeepFirstFrames]] (batch-only
    * docs frame there). */
  private[graft] def scrubRebuild(s: SparkSession, docs: DataFrame,
      dupStarts: DataFrame): DataFrame = {
    import s.implicits._
    // graft_scrub replaces the filter/exists/transform HOF chain (r18,
    // guide §4): one native O(|w|+|ds|) two-pointer pass per document
    // instead of O(|w|·|ds|) interpreted lambda probes — ScrubNative
    // pins in DedupScaleSpec hold the row-for-row equality
    docs
      .select($"doc_id", tokens($"text").as("w"))
      .join(dupStarts, Seq("doc_id"), "left")
      .withColumn("r", call_function("graft_scrub", $"w",
        coalesce($"dup_starts", typedLit(Array.empty[Int]))))
      .select($"doc_id",
        $"r.n_tokens".as("n_tokens"),
        $"r.n_removed".as("n_removed"),
        $"r.scrub_text".as("scrub_text"))
  }

  /** dedup_span_keepfirst: duplicated-span removal that KEEPS ONE COPY —
    * Lee et al. 2022's production rule ("when two examples share a
    * sufficiently long substring, remove it from one of them"), where
    * dedup_span_scrub is the remove-all filtering signal. Per duplicated
    * trigram the keeper is the LOWEST doc_id holding it (deterministic,
    * rerun- and engine-stable); only non-keeper occurrences become dup
    * starts, so the first document to carry a passage keeps it verbatim
    * and every later copy is excised. Note the keeper guarantee is
    * per-trigram, not per-token: a doc can keep trigram h yet lose some
    * of h's tokens to a different overlapping duplicated trigram it does
    * NOT keep (same as the reference implementation's behavior).
    *
    * Scale shape: identical skeleton to dedup_span_scrub — one extra
    * min(doc_id) in the already-present per-hash aggregate and an
    * occurrence-local ≠ filter; no new shuffle, no pairwise join, and
    * the [[dfCeiled]] elision knob composes the same way (an
    * over-ceiling trigram neither elects a keeper nor scrubs). */
  private[graft] def spanKeepFirst(s: SparkSession, dir: String,
      maxDfFrac: Double = 1.0): DataFrame = {
    import s.implicits._
    graft.GraftExtensions.register(s)
    val occAll = Tables.load(s, dir, "documents")
      .select($"doc_id", posexplode(shingleHashes($"text")).as(Seq("q", "h")))
    val occ = if (maxDfFrac >= 1.0) occAll
      else occAll.join(
        hotShingles(occAll.select($"doc_id", $"h").distinct(), maxDfFrac),
        Seq("h"), "left_anti")
    val startRows = if (maxDfFrac >= 1.0)
      spanKeepFirstStartRowsFromDocs(occ, Tables.load(s, dir, "documents"))
    else spanKeepFirstStartRows(occ)
    val dupStarts = startRows
      .groupBy($"doc_id")
      .agg(sort_array(collect_list($"q")).as("dup_starts"))
    scrubRebuild(s, Tables.load(s, dir, "documents"), dupStarts)
  }

  /** The keep-first rule's dup-start rows (doc_id, q) over a positioned
    * occurrence frame (doc_id, q, h): per duplicated trigram the LOWEST
    * doc_id keeps it; every other occurrence is a dup start. One row
    * per non-keeper occurrence (q is unique per (doc_id, h) by
    * posexplode), so callers composing several text-rewriting stages
    * can UNION start sets before the single [[scrubRebuild]]. Shared by
    * [[spanKeepFirst]] and the curation DAG's span stage
    * (pipeline_curate_spans / operators/CurationJob). */
  private[graft] def spanKeepFirstStartRows(occ: DataFrame): DataFrame = {
    // distinct on (doc_id, h) as in spanScrub; min(doc_id) rides the
    // same aggregate, so electing keepers costs no extra pass
    val keeper = occ.select(col("doc_id"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("nd"), min(col("doc_id")).as("keep_id"))
      .filter(col("nd") >= 2)
      .select(col("h"), col("keep_id"))
    occ.join(keeper, "h")
      .filter(col("doc_id") =!= col("keep_id"))
      .select(col("doc_id"), col("q"))
  }

  /** [[spanKeepFirstStartRows]] with the keeper aggregate derived from
    * the DOCS frame instead of the positioned occurrences (r18): the
    * occ-side spelling pays a corpus-wide distinct Exchange AND a
    * groupBy Exchange over the positioned stream; deriving the same
    * (doc_id, h) set doc-locally (shingleHashSet) feeds ONE groupBy —
    * measured 0.50 → 0.26 s per pass at sf0.1. `docs` must be exactly
    * the frame `occ` was posexploded from (no df-ceiling elision), so
    * the distinct pair sets coincide; elided callers keep the occ form. */
  private[graft] def spanKeepFirstStartRowsFromDocs(
      occ: DataFrame, docs: DataFrame): DataFrame = {
    val keeper = docs
      .select(col("doc_id"), explode(shingleHashSet(col("text"))).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("nd"), min(col("doc_id")).as("keep_id"))
      .filter(col("nd") >= 2)
      .select(col("h"), col("keep_id"))
    occ.join(keeper, "h")
      .filter(col("doc_id") =!= col("keep_id"))
      .select(col("doc_id"), col("q"))
  }

  /** Shared by dedup_span_keepfirst_incr and dedup_span_keepfirst_idx:
    * the arrival-order keep-first chain — corpus presence or an earlier
    * batch holder makes a dup start; batch-only output. */
  private val oSpanKeepFirstIncrSql =
    s"""WITH docs AS (SELECT doc_id, $oTokens AS w FROM documents),
       |occ AS (SELECT doc_id, unnest($oShingles3) AS s,
       |               unnest(range(1, len(w)-1)) AS i FROM docs),
       |o2 AS (SELECT doc_id, i - 1 AS q, ${oH60("s")} AS h FROM occ),
       |corpus AS (SELECT DISTINCT h FROM o2 WHERE doc_id % 10 <> 0),
       |bk AS (SELECT h, min(doc_id) AS keep_id
       |       FROM (SELECT DISTINCT doc_id, h FROM o2 WHERE doc_id % 10 = 0)
       |       GROUP BY h HAVING count(*) >= 2),
       |ds AS (SELECT o2.doc_id, list(q ORDER BY q) AS dstarts
       |       FROM o2 LEFT JOIN corpus c ON o2.h = c.h
       |               LEFT JOIN bk ON o2.h = bk.h
       |       WHERE o2.doc_id % 10 = 0
       |         AND (c.h IS NOT NULL
       |              OR (bk.keep_id IS NOT NULL AND o2.doc_id <> bk.keep_id))
       |       GROUP BY o2.doc_id),
       |fin AS (SELECT d.doc_id, d.w, coalesce(ds.dstarts, []) AS dsx
       |        FROM docs d LEFT JOIN ds ON ds.doc_id = d.doc_id
       |        WHERE d.doc_id % 10 = 0),
       |k AS (SELECT doc_id, w,
       |    [i for i in range(0, len(w))
       |     if len(list_filter(dsx, q -> q >= i-2 AND q <= i)) = 0] AS kept
       |  FROM fin)
       |SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
       |  CAST(len(w) - len(kept) AS BIGINT) AS n_removed,
       |  CASE WHEN w IS NULL THEN NULL
       |    ELSE coalesce(array_to_string([w[i+1] for i in kept], ' '), '')
       |  END AS scrub_text
       |FROM k""".stripMargin

  private val oShingleCtes =
    s"""docs AS (SELECT doc_id, $oTokens AS w FROM documents),
       |sh AS (SELECT DISTINCT doc_id, ${oH60("s")} AS h
       |       FROM (SELECT doc_id, unnest($oShingles3) AS s FROM docs)),
       |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: group by content digest, keep lowest doc_id.
    "dedup_exact" -> { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "documents")
        .groupBy(md5($"text").as("content_hash"))
        .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
    },

    // Exact n-gram Jaccard near-dup pairs (inverted-index self-join).
    "dedup_ngram_jaccard" -> { (s, dir) => jaccardPairs(s, dir) },

    // PageRank centrality over the near-dup graph, HASH-EXACT — the
    // link-analysis complement to dedup_best_keep's quality rule for
    // canonical-document selection: in a duplication neighborhood
    // (mirror farms, quote chains, boilerplate families), the doc most
    // linked-to by near-duplicates is the natural representative, and
    // centrality also grades how "templated" a doc is for mixing
    // decisions. Entirely scaled-long (Page et al. 1999 with d = 0.85
    // as the rational 85/100: pr' = (15·Q)÷100 + (85·Σ pr÷deg)÷100 on a
    // 10¹² total mass, every ÷ an integer floor), fixed PrIters
    // iterations, so the whole trace re-derives bit-identically in
    // DuckDB as an unrolled CTE chain. Scale shape: nodes partition by
    // doc_id, each iteration shuffles only EDGE-sized contribution rows
    // (near-dup pairs are candidate-bounded by construction) plus the
    // |docs| teleport join — never text, never shingles; iteration
    // count is a constant, the textbook power-method bound.
    "dedup_pagerank" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.load(s, dir, "documents").select($"doc_id").cache()
      // pairs cached: the undirected edge union references it twice, and
      // the edges cache materializes through BOTH branches — uncached,
      // the verified-pair join executed twice into that one
      // materialization (r17 optimization)
      val pairs = jaccardPairs(s, dir).select($"doc_a", $"doc_b").cache()
      val edges = pairs.select($"doc_a".as("src"), $"doc_b".as("dst"))
        .unionByName(pairs.select($"doc_b".as("src"), $"doc_a".as("dst")))
        .cache()
      val deg = edges.groupBy($"src").agg(count(lit(1)).as("deg"))
      // empty corpus: no nodes, no mass to spread (guards the Q = M/N div)
      val n = docs.count()
      val q = if (n == 0) 0L else PrMass / n
      val tele = (15L * q) / 100L
      var pr = docs.select($"doc_id", lit(q).as("pr"))
      for (_ <- 1 to PrIters) {
        val contrib = pr.join(deg, pr("doc_id") === deg("src"))
          .select($"src", expr("pr div deg").as("c"))
        val inSum = edges.join(contrib, "src")
          .groupBy($"dst").agg(sum($"c").as("s"))
        pr = docs.join(inSum.select($"dst".as("doc_id"), $"s"), Seq("doc_id"), "left")
          .select($"doc_id",
            (lit(tele) + expr("(85 * coalesce(s, CAST(0 AS BIGINT))) div 100")).as("pr"))
      }
      pr
    },

    // SORTED-NEIGHBORHOOD candidates (Hernández & Stolfo, SIGMOD 1995
    // merge/purge) — the THIRD candidate-generation family next to the
    // inverted-index join (dedup_ngram_jaccard) and LSH banding
    // (dedup_minhash_lsh): sort the corpus on a normalized key and
    // compare only docs within a rank window of w. Classic record-
    // linkage blocking — O(N·w) candidates regardless of shingle/df
    // structure, strong where duplicates agree on their PREFIX (form
    // records, re-posts with appended footers) even when a hot shingle
    // would blow up the inverted index. Candidates then verify with the
    // same exact Jaccard ≥ 0.6 as the other families.
    //
    // The global sort RANK is computed WITHOUT a global window: an
    // ADAPTIVE prefix count table collects to the driver (2-char
    // prefixes, any group over [[SnmPrefixCap]] recursively extended —
    // see snmOffsets — so a boilerplate prefix shared by 30% of the
    // corpus can't concentrate a corpus-fraction sort in one task),
    // cumulative offsets ride back as map literals, and rank =
    // offset(group) + per-group row_number — exact. Window pairing is a
    // bucketed self-join (rank DIV w, adjacent buckets) — never a cross
    // join.
    "dedup_sorted_neighborhood" -> { (s, dir) =>
      import s.implicits._
      val docs = snmKeyed(s, dir)
      // empty corpus: no prefixes → an empty map literal has no inferable
      // type; short-circuit to the empty pair set
      if (docs.isEmpty)
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_a",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("doc_b",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("jaccard",
              org.apache.spark.sql.types.DoubleType))))
      else {
        // cached: the adjacent-bucket union references the ranked frame
        // FOUR times (a and b sides of two joins) — uncached, the key
        // normalization + per-group rank executed once per reference
        // (r17 optimization)
        val ranked = snmRank(docs, SnmPrefixCap).cache()
        val a = ranked.select($"doc_id".as("ida"), $"rk".as("ra"),
          expr(s"rk div $SnmW").as("ba"))
        val b = ranked.select($"doc_id".as("idb"), $"rk".as("rb"),
          expr(s"rk div $SnmW").as("bb"))
        // one equi-join per adjacent-bucket case, unioned — the branches
        // are disjoint (bb = ba vs bb = ba+1). Spelling them as a single
        // OR-disjunction defeats Catalyst's equi-key extraction and plans
        // a BroadcastNestedLoopJoin: O(N²) comparisons, measured 25.6×
        // (superlinear) on the 10× corpus where this union is ~10×.
        val winCond = $"rb" > $"ra" && $"rb" <= $"ra" + SnmW
        val cand = a.join(b, $"bb" === $"ba" && winCond)
          .unionByName(a.join(b, $"bb" === $"ba" + 1 && winCond))
          .select($"ida", $"idb")
        val sh = shingleSet(s, dir).cache()
        val cnt = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
        val inter = cand
          .join(sh.select($"doc_id".as("ida"), $"h"), "ida")
          .join(sh.select($"doc_id".as("idb"), $"h"), Seq("idb", "h"))
          .groupBy($"ida", $"idb").agg(count(lit(1)).as("i"))
        val j = $"i".cast("double") / ($"na" + $"nb" - $"i")
        inter
          .join(cnt.select($"doc_id".as("ida"), $"n".as("na")), "ida")
          .join(cnt.select($"doc_id".as("idb"), $"n".as("nb")), "idb")
          .filter(j >= 0.6)
          .select(least($"ida", $"idb").as("doc_a"),
            greatest($"ida", $"idb").as("doc_b"), j.as("jaccard"))
      }
    },

    // WHERE does the duplication come from — the source-pair duplication
    // matrix every corpus intake review wants before deciding which feed
    // to cut: near-dup pairs (the dedup_ngram_jaccard relation) roll up
    // to ordered (src_a ≤ src_b) source pairs with the pair count and
    // the duplicated-token mass on each side. Within-source rows
    // (src_a = src_b) expose internal duplication (re-crawls, mirrors);
    // cross-source rows expose feeds copying each other. O(sources²)
    // output from the candidate-bounded pair relation — the corpus is
    // never rescanned beyond the shingle pass the pairs already need.
    "corpus_dup_sources" -> { (s, dir) =>
      import s.implicits._
      // cached: the (doc_id, source, n_tok) side table joins into BOTH
      // pair endpoints — uncached, the corpus scan + tokenize executed
      // once per side (r17 optimization)
      val docs = Tables.load(s, dir, "documents")
        .select($"doc_id", $"source",
          graft.functions.Tokenizer.Whitespace.count($"text").as("n_tok"))
        .cache()
      val pairs = jaccardPairs(s, dir)
        .join(docs.select($"doc_id".as("doc_a"), $"source".as("sa"),
          $"n_tok".as("ta")), "doc_a")
        .join(docs.select($"doc_id".as("doc_b"), $"source".as("sb"),
          $"n_tok".as("tb")), "doc_b")
      pairs.select(
          least($"sa", $"sb").as("src_a"), greatest($"sa", $"sb").as("src_b"),
          when($"sa" <= $"sb", $"ta").otherwise($"tb").as("tok_a"),
          when($"sa" <= $"sb", $"tb").otherwise($"ta").as("tok_b"))
        .groupBy($"src_a", $"src_b")
        .agg(count(lit(1)).as("n_pairs"),
          sum($"tok_a").as("dup_tokens_a"), sum($"tok_b").as("dup_tokens_b"))
    },

    // ASYMMETRIC containment pairs — the duplication class Jaccard
    // structurally misses: a short doc wholly embedded in a long one
    // (a quoted article inside a forum dump, boilerplate-wrapped
    // re-posts, an eval benchmark pasted into a training page) has
    // |A∩B|/|A∪B| ≈ |A|/|B| → arbitrarily low, while containment
    // |A∩B|/|A| is 1.0. Emits ordered (doc_in ⊆-ish doc_out) pairs at
    // containment ≥ 0.9 — near-identical twins appear in both
    // directions, a strict subset only as (small, large). Same scale
    // shape as dedup_ngram_jaccard (inverted-index join, df-ceiling knob
    // against boilerplate shingles, per-doc counts joined without a
    // mandatory broadcast); the only delta is the ≠ join predicate
    // (ordered pairs) and dividing by ONE side's shingle count.
    "dedup_containment" -> { (s, dir) => containmentPairs(s, dir) },

    // Cross-split contamination audit — the leakage check a train/val/
    // test pipeline runs AFTER near-dup detection: an eval doc whose
    // near-duplicate sits in train inflates benchmark numbers without
    // any exact-match leak (the same failure class decontam guards
    // against, here INSIDE one corpus between its own splits). Composes
    // two oracle-checked operators verbatim: jaccardPairs' verified
    // near-dup set (candidate-bounded, never all-pairs) keyed by
    // text_split_assign's content-hash buckets. Cost beyond the pair
    // set is two |docs|-row id-keyed joins (AQE-broadcastable split
    // table at test scale, co-located id-bucketed at 100 TB); output is
    // O(split-pairs) rows. A real pipeline drops or re-splits the
    // leaky docs listed by joining this back to the pair set.
    "split_leakage" -> { (s, dir) =>
      import s.implicits._
      // cached: the split map joins into BOTH pair endpoints — uncached,
      // the corpus scan + content hash executed once per side (r17
      // optimization)
      val splits = Tables.load(s, dir, "documents")
        .select($"doc_id",
          (h60(concat($"text", lit("|split"))) % 100L).as("bucket"))
        .select($"doc_id",
          when($"bucket" < 90, "train").when($"bucket" < 95, "validation")
            .otherwise("test").as("split"))
        .cache()
      jaccardPairs(s, dir)
        .join(splits.select($"doc_id".as("doc_a"), $"split".as("split_a")), "doc_a")
        .join(splits.select($"doc_id".as("doc_b"), $"split".as("split_b")), "doc_b")
        .filter($"split_a" =!= $"split_b")
        .groupBy($"split_a", $"split_b")
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct($"doc_a").as("n_docs_a"),
          countDistinct($"doc_b").as("n_docs_b"))
    },

    // Near-dup clustering: connected components over the verified pair
    // graph; cluster_id = min doc in the component (the keeper).
    "dedup_clusters" -> { (s, dir) =>
      import s.implicits._
      val edges = jaccardPairs(s, dir).select($"doc_a".as("a"), $"doc_b".as("b"))
      val nodes = Tables.load(s, dir, "documents").select($"doc_id".as("id"))
      graft.operators.ConnectedComponents.clusters(nodes, edges)
        .select($"id".as("doc_id"), $"cluster".as("cluster_id"))
    },

    // Incremental near-dup clustering — yesterday's cluster assignment
    // extends with today's batch (doc_id % 10 == 0, the
    // dedup_incremental split) WITHOUT re-clustering the corpus:
    // ConnectedComponents.incremental contracts prior components to their
    // representatives and clusters only the quotient graph (batch-bounded
    // work + one relabel join). In production the prior assignment and
    // the new-edge set persist (ShingleIndex.probe supplies the edges
    // without re-shingling the corpus); here both derive in-query so the
    // oracle can check the RESULT: the assignment must equal the
    // from-scratch dedup_clusters output verbatim — the oracle SQL is
    // shared, making incremental == full a driver-gate equality.
    "dedup_clusters_incr" -> { (s, dir) =>
      import s.implicits._
      val pairs = jaccardPairs(s, dir).select($"doc_a".as("a"), $"doc_b".as("b")).cache()
      val docs = Tables.load(s, dir, "documents").select($"doc_id".as("id"))
      val prior = graft.operators.ConnectedComponents.clusters(
        docs.filter($"id" % 10 =!= 0),
        pairs.filter($"a" % 10 =!= 0 && $"b" % 10 =!= 0))
      graft.operators.ConnectedComponents.incremental(
          prior, docs.filter($"id" % 10 === 0),
          pairs.filter($"a" % 10 === 0 || $"b" % 10 === 0))
        .select($"id".as("doc_id"), $"cluster".as("cluster_id"))
    },

    // Cluster-representative selection — the decision stage after
    // clustering: per duplicate cluster, KEEP the highest-quality member
    // (here: most tokens; tie → lowest doc_id) instead of dedup_clusters'
    // blind lowest-id rule. Cost on top of clustering is ONE shuffle on
    // cluster_id: both window specs share the partitioning, so the
    // member count, the max, and the rank-1 pick all ride the same
    // exchange — no agg-then-join-back, which would re-execute the whole
    // clustering lineage a second time (the r8 bench caught exactly that
    // as a 28 s outlier). Token counts coalesce NULL→0 so a NULL-text
    // doc is a valid (lowest-quality) member rather than a
    // NULL-semantics fork between engines.
    "dedup_best_keep" -> { (s, dir) =>
      import s.implicits._
      val edges = jaccardPairs(s, dir).select($"doc_a".as("a"), $"doc_b".as("b"))
      val docs = Tables.load(s, dir, "documents")
      val nodes = docs.select($"doc_id".as("id"))
      val clusters = graft.operators.ConnectedComponents.clusters(nodes, edges)
        .select($"id".as("doc_id"), $"cluster".as("cluster_id"))
      val tok = docs.select($"doc_id",
        coalesce(size(tokens($"text")).cast("long"), lit(0L)).as("n_tok"))
      val wAll = Window.partitionBy($"cluster_id")
      val wOrd = Window.partitionBy($"cluster_id")
        .orderBy($"n_tok".desc, $"doc_id")
      clusters.join(tok, "doc_id")
        .withColumn("n_members", count(lit(1)).over(wAll))
        .withColumn("rk", row_number().over(wOrd))
        .filter($"rk" === 1)
        .select($"cluster_id", $"n_members",
          $"n_tok".as("keep_tokens"), $"doc_id".as("keep_id"))
    },

    // Soft dedup: keep every duplicate but down-weight it by its cluster
    // size (sampling weight 1/|cluster|), so one logical document
    // contributes unit mass to the training mixture no matter how many
    // copies crawl brought in — the alternative to hard dropping when
    // duplicates carry distribution signal. Same cost shape as
    // dedup_clusters plus one |docs|-row join; the weight is a single
    // IEEE divide of two exact longs.
    "dedup_soft" -> { (s, dir) =>
      import s.implicits._
      val edges = jaccardPairs(s, dir).select($"doc_a".as("a"), $"doc_b".as("b"))
      val nodes = Tables.load(s, dir, "documents").select($"doc_id".as("id"))
      val clusters = graft.operators.ConnectedComponents.clusters(nodes, edges)
        .select($"id".as("doc_id"), $"cluster".as("cluster_id"))
      val sizes = clusters.groupBy($"cluster_id").agg(count(lit(1)).as("n_members"))
      clusters.join(sizes, Seq("cluster_id"))
        .select($"doc_id", $"cluster_id", $"n_members",
          (lit(1.0) / $"n_members").as("weight"))
    },

    // MinHash + banded LSH candidates, exact-verified.
    // Per-document MinHash signatures as an EXPORTABLE artifact — the
    // index-build stage of incremental dedup: yesterday's corpus
    // signatures persist, today's batch computes its own and joins on
    // bands, so the corpus text is never re-shingled. 16 mod-P permuted
    // minima as flat columns (the layout a signature store/parquet index
    // wants). NO distinct before the agg: min over a multiset equals min
    // over its set (corpus_overlap doctrine), so the plan is scan →
    // partial agg → one |docs|-keyed exchange; docs with no 3-gram (< 3
    // tokens) have no signature and are absent, same as the LSH suite.
    "text_minhash_sig" -> { (s, dir) =>
      import s.implicits._
      graft.GraftExtensions.register(s)
      val hx = Tables.load(s, dir, "documents")
        .select($"doc_id", explode(shingleHashes($"text")).as("h"))
        .select($"doc_id", ($"h" % P).as("x"))
      val sigCols = (0 until NumPerm).map(i =>
        min((lit(permA(i)) * $"x" + lit(permB(i))) % P).as(s"m$i"))
      hx.groupBy($"doc_id").agg(sigCols.head, sigCols.tail: _*)
    },

    "dedup_minhash_lsh" -> { (s, dir) =>
      import s.implicits._
      val sh = shingleSet(s, dir).cache()
      val cnt = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
      val hx = sh.select($"doc_id", ($"h" % P).as("x"))
      val sigCols = (0 until NumPerm).map(i =>
        min((lit(permA(i)) * $"x" + lit(permB(i))) % P).as(s"m$i"))
      val sig = hx.groupBy($"doc_id").agg(sigCols.head, sigCols.tail: _*)
      val bandStructs = (0 until NumBands).map { b =>
        val cols = (0 until BandRows).map(r => col(s"m${b * BandRows + r}"))
        struct(lit(b).as("band"), concat_ws(",", cols: _*).as("bv"))
      }
      // both sides of the bucket self-join read bands — cache to evaluate
      // the signature aggregation once.
      val bands = sig.select($"doc_id", explode(array(bandStructs: _*)).as("e"))
        .select($"doc_id", $"e.band".as("band"), $"e.bv".as("bv"))
        .cache()
      val cand = bands.as("a").join(bands.as("b"),
          $"a.band" === $"b.band" && $"a.bv" === $"b.bv" && $"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
        .distinct()
      // the candidate set is LSH-pruned but its size is DATA-DEPENDENT
      // (skewed band values inflate it), and cnt is |docs|-sized — no
      // forced broadcasts on either: AQE broadcasts the small side from
      // runtime stats at test scale and falls back to shuffle joins at
      // corpus scale instead of OOMing on a mandatory hint.
      val inter = cand
        .join(sh.select($"doc_id".as("doc_a"), $"h".as("ha")), "doc_a")
        .join(sh.select($"doc_id".as("doc_b"), $"h".as("hb")), "doc_b")
        .filter($"ha" === $"hb")
        .groupBy($"doc_a", $"doc_b")
        .agg(count(lit(1)).as("inter"))
      val j = $"inter".cast("double") / ($"na" + $"nb" - $"inter")
      inter
        .join(cnt.select($"doc_id".as("doc_a"), $"n".as("na")), "doc_a")
        .join(cnt.select($"doc_id".as("doc_b"), $"n".as("nb")), "doc_b")
        .filter(j >= 0.6)
        .select($"doc_a", $"doc_b", j.as("jaccard"))
    },

    // Incremental dedup: near-dup pairs for a NEW batch (10% of docs,
    // doc_id % 10 = 0 — proportional at every SF) against the existing
    // corpus — |batch|-bounded probe of the shingle index, never a corpus
    // self-join (operators/IncrementalDedup; the oracle is the full
    // recompute restricted to pairs involving a new doc, which the
    // operator provably equals).
    "dedup_incremental" -> { (s, dir) =>
      import s.implicits._
      // cache: corpus and batch branches, their union, and the probe join
      // all re-read the shingle index — one materialization serves all
      val sh = shingleSet(s, dir).cache()
      graft.operators.IncrementalDedup.newPairs(
        sh.filter($"doc_id" % 10 =!= 0), sh.filter($"doc_id" % 10 === 0), 0.6)
    },

    // Incremental containment: the dedup_containment relation restricted
    // to pairs involving a new-batch doc, at probe-only cost (the
    // dedup_incremental split and doctrine — corpus never self-joins; a
    // corpus doc swallowed BY a new doc is still found, via the new doc's
    // probe + orientation mirroring). Oracle = the full containment SQL
    // with the batch-membership disjunction.
    "dedup_containment_incr" -> { (s, dir) =>
      import s.implicits._
      val sh = shingleSet(s, dir).cache()
      graft.operators.IncrementalDedup.newContainment(
        sh.filter($"doc_id" % 10 =!= 0), sh.filter($"doc_id" % 10 === 0), 0.9)
    },

    // The SAME relation probed against the MATERIALIZED shingle index —
    // the production spelling of incremental containment (the
    // knn_ivfadc gate-vs-index pairing applied to dedup): the corpus
    // text is shingled once at materialize time, the probe reads the
    // bucketed index co-located (ShingleIndexSpec pins the index side
    // never shuffles) and the corpus counts come from the precomputed
    // counts table. Shares dedup_containment_incr's oracle SQL — the
    // driver gate makes index probe ≡ from-scratch recompute an
    // equality, not an approximation.
    "dedup_containment_idx" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.load(s, dir, "documents").select($"doc_id", $"text")
      for (t <- Seq("graft_q_cont_idx", "graft_q_cont_idx_counts",
          "graft_q_cont_idx_tombstones"))
        s.sql(s"DROP TABLE IF EXISTS $t")
      graft.operators.ShingleIndex.materialize(
        docs.filter($"doc_id" % 10 =!= 0), "graft_q_cont_idx")
      graft.operators.ShingleIndex.containmentProbe(
        s, "graft_q_cont_idx", docs.filter($"doc_id" % 10 === 0), 0.9)
    },

    // 32-bit SimHash fingerprints; near-dups at hamming distance <= 2.
    // Pigeonhole banding (exact — see simhashFingerprints scaladoc) with a
    // hot-bucket split + first-matching-band dedup (simhashBandedPairs).
    "dedup_simhash" -> { (s, dir) =>
      // fps is tiny (one long per doc) but feeds both sides of the band
      // join — cache so the token explode + 32-way agg runs once.
      simhashBandedPairs(simhashFingerprints(s, dir).cache(), SimhashBucketCap)
    },

    // LSH-bucketed embedding-cosine near-dup pairs: banded hyperplane
    // signatures → candidate join on (band, bits) → exact cosine verify.
    // Dot products via the native codegen graft_dot expression. The exact
    // quadratic spelling survives as embCosineAllPairs (DedupScaleSpec's
    // recall cross-check); the point-query ANN paths live in knn_*.
    // The (bands × bits) geometry AUTO-SIZES from the corpus vector count
    // ([[CrossHash.embGeometryFor]]): the count() is a footer-metadata
    // scan, and at gate scale (n ≤ 512) the rule reproduces the default
    // 16 × 6 exactly, so the static oracle SQL below stays valid.
    "dedup_embed_cosine" -> { (s, dir) =>
      val n = Tables.load(s, dir, "embeddings").count()
      val (bands, bits) = CrossHash.embGeometryFor(n)
      embCosineBanded(s, dir, bands, bits)
    },

    // Duplicated-SPAN accounting (the measurement behind substring-level
    // dedup, Lee et al. 2022 "Deduplicating Training Data Makes Language
    // Models Better"): for each document, how many of its word-3-gram
    // OCCURRENCES (spans, duplicates included — unlike the set-semantics
    // suite above) also appear in at least one OTHER document. High
    // dup_ratio = the document is mostly boilerplate shared with the rest
    // of the corpus, the usual cut signal for span-level filtering.
    //
    // Scale shape: occurrences explode to (doc_id, 8-byte hash) rows; the
    // document-frequency table aggregates the DISTINCT pairs on the hash
    // (map-side combine applies), and the occurrence⋈df join shuffles on
    // the same 8-byte hash — no raw shingle text ever shuffles, nothing
    // is forced to broadcast (AQE decides from runtime stats), and there
    // is no pairwise join anywhere: cost is O(occurrences), not O(n²).
    "dedup_spans" -> { (s, dir) => dedupSpans(s, dir) },

    // Line-level (paragraph) dedup, CCNet/RefinedWeb-style: hash each
    // normalized paragraph, drop every occurrence except the globally
    // FIRST one (the pass that strips shared boilerplate — nav bars,
    // license headers, cookie banners — before document-level dedup ever
    // runs). The synthetic corpus has no newlines, so "paragraphs" are
    // deterministic non-overlapping [[LineSegTokens]]-token windows — the
    // segmentation is a seam; a production run swaps in split('\n') and
    // the dedup algebra is unchanged.
    //
    // First-occurrence-wins needs a total order on occurrences: the
    // winner of a hash is min(doc_id·100000 + seg_idx) — valid while
    // seg_idx < 100000 (docs under 1.2M tokens at W=12), one BIGINT
    // instead of a struct so both engines' min() agree trivially.
    //
    // Scale shape: the winner table aggregates on the 8-byte segment
    // hash (map-side combine applies) and is FILTERED to duplicated
    // hashes only — unique segments (the overwhelming mass of a real
    // corpus) never join, so the left join's build side is tiny and AQE
    // broadcasts it without any hint here. The only corpus-sized shuffle
    // is the per-doc reassembly groupBy — inherent to emitting rebuilt
    // documents. No pairwise join anywhere: cost is O(segments).
    "dedup_lines" -> { (s, dir) =>
      import s.implicits._
      val segs = lineSegments(s, dir)
      val winners = segs.groupBy($"h")
        .agg(count(lit(1)).as("cnt"), min($"okey").as("wkey"))
        .filter($"cnt" >= 2)
        .select($"h", $"wkey")
      reassembleLines(
        segs.join(winners, Seq("h"), "left")
          .withColumn("kept", $"wkey".isNull || $"okey" === $"wkey"))
    },

    // Incremental line dedup: the batch-vs-corpus form (suite convention:
    // batch = doc_id % 10 == 0). Append-order semantics — the standing
    // corpus PRECEDES the batch (dedup_semantic_incr doctrine): a batch
    // segment drops when its hash exists anywhere in the corpus, or an
    // earlier batch occurrence holds it. At 100 TB the corpus segment-hash
    // set is a maintained artifact (the Bm25Index pattern: build once,
    // append daily), not a recompute — the query spells the recompute so
    // the oracle can check the whole verdict; the probe join itself is
    // |batch|-bounded on the 8-byte hash either way.
    "dedup_lines_incr" -> { (s, dir) =>
      import s.implicits._
      val segs = lineSegments(s, dir).cache()
      val corpusH = segs.filter($"doc_id" % 10 =!= 0)
        .select($"h").distinct().withColumn("in_corpus", lit(1))
      val batch = segs.filter($"doc_id" % 10 === 0)
      val batchWin = batch.groupBy($"h")
        .agg(count(lit(1)).as("cnt"), min($"okey").as("wkey"))
        .filter($"cnt" >= 2)
        .select($"h", $"wkey")
      reassembleLines(
        batch.join(corpusH, Seq("h"), "left")
          .join(batchWin, Seq("h"), "left")
          .withColumn("kept",
            $"in_corpus".isNull && ($"wkey".isNull || $"okey" === $"wkey")))
    },

    // Duplicated-span REMOVAL (the operator behind dedup_spans'
    // measurement — Lee et al. 2022 cut duplicated substrings, not whole
    // documents): a token is scrubbed when it sits inside any word-3-gram
    // occurrence that also appears in at least one OTHER document; the
    // surviving tokens rebuild the document in order. Token i (0-based)
    // is covered by dup trigram starts q ∈ [i-2, i].
    //
    // Scale shape: identical skeleton to dedup_spans — occurrences are
    // (doc_id, pos, 8-byte hash) rows, the duplicated-hash table is
    // aggregated from DISTINCT pairs and filtered to nd ≥ 2 (small on a
    // real corpus), and the dup-start lists shuffle per doc_id. The final
    // scrub is a row-local array pass: O(L·d) per doc for d dup starts —
    // d is bounded by doc length, and the corpus never joins pairwise.
    "dedup_span_scrub" -> { (s, dir) => spanScrub(s, dir) },

    // Keep-one-copy duplicated-span removal (the Lee et al. 2022
    // production rule): the lowest-doc_id holder of each duplicated
    // trigram keeps it, every later copy is excised — so no passage
    // vanishes from the corpus wholesale the way the remove-all
    // dedup_span_scrub cuts it. Same O(occurrences) skeleton (see
    // spanKeepFirst's scaladoc), strictly-weaker cuts (per-doc
    // n_removed ≤ dedup_span_scrub's, LineScrubSpec-pinned).
    "dedup_span_keepfirst" -> { (s, dir) => spanKeepFirst(s, dir) },

    // Incremental keep-first span dedup: the batch-vs-corpus form (suite
    // convention: batch = doc_id % 10 == 0), ARRIVAL-ORDER keep-first —
    // the standing corpus precedes the batch (the dedup_lines_incr
    // doctrine), so a batch occurrence scrubs when its trigram exists
    // anywhere in the corpus (the corpus holder keeps it by arriving
    // first) or an earlier batch doc holds it (min batch doc_id wins
    // within the day). Output is batch-only. At 100 TB the corpus hash
    // set is the maintained ShingleIndex, not a recompute — the query
    // spells the recompute so the oracle checks the whole verdict;
    // dedup_span_keepfirst_idx is the probe-cost twin on the SAME
    // oracle, making index ≡ recompute a driver-gate hash equality.
    "dedup_span_keepfirst_incr" -> { (s, dir) =>
      import s.implicits._
      graft.GraftExtensions.register(s)
      val occ = Tables.load(s, dir, "documents")
        .select($"doc_id", posexplode(shingleHashes($"text")).as(Seq("q", "h")))
        .cache()
      val corpusH = occ.filter($"doc_id" % 10 =!= 0)
        .select($"h").distinct().withColumn("in_corpus", lit(1))
      val batch = occ.filter($"doc_id" % 10 === 0)
      val keeper = batch.select($"doc_id", $"h").distinct()
        .groupBy($"h").agg(count(lit(1)).as("nd"), min($"doc_id").as("keep_id"))
        .filter($"nd" >= 2)
        .select($"h", $"keep_id")
      val dupStarts = batch
        .join(corpusH, Seq("h"), "left")
        .join(keeper, Seq("h"), "left")
        .filter($"in_corpus".isNotNull ||
          ($"keep_id".isNotNull && $"doc_id" =!= $"keep_id"))
        .groupBy($"doc_id")
        .agg(sort_array(collect_list($"q")).as("dup_starts"))
      scrubRebuild(s,
        Tables.load(s, dir, "documents").filter($"doc_id" % 10 === 0),
        dupStarts)
    },

    // The probe-cost twin: materialize the corpus ShingleIndex, then
    // ShingleIndex.spanKeepFirstProbe scrubs the batch against it —
    // |batch|-bounded, index side never shuffled. Shares _incr's oracle
    // verbatim, so index ≡ recompute is a driver-gate equality (the
    // dedup_containment_idx doctrine; the per-run materialize is the
    // oracle-gate cost — the amortized serving number is the
    // shingle_probe bench key's index).
    "dedup_span_keepfirst_idx" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.load(s, dir, "documents").select($"doc_id", $"text")
      for (t <- Seq("graft_q_kf_idx", "graft_q_kf_idx_counts",
          "graft_q_kf_idx_tombstones"))
        s.sql(s"DROP TABLE IF EXISTS $t")
      graft.operators.ShingleIndex.materialize(
        docs.filter($"doc_id" % 10 =!= 0), "graft_q_kf_idx")
      graft.operators.ShingleIndex.spanKeepFirstProbe(
        s, "graft_q_kf_idx", docs.filter($"doc_id" % 10 === 0))
    },

    // The CLEANING pipeline as one job — the pass a raw crawl takes
    // before curation ever sees it: blocklist gate → line-level
    // boilerplate dedup over the survivors → duplicated-span scrub over
    // the rebuilt text. Each stage is the oracle-checked operator's
    // verbatim spelling applied to the previous stage's OUTPUT (the
    // pipeline_curate composition doctrine: the composed oracle chains
    // the stage CTEs, so the end-to-end text verifies hash-exact); note
    // the stage-2 winner set and the stage-3 frequency table legitimately
    // differ from the standalone queries' — they are computed on the
    // narrowed corpus, which is the point of composing. Stage outputs
    // cache (each feeds an aggregate AND a join-back); the corpus never
    // joins pairwise anywhere.
    "pipeline_clean" -> { (s, dir) =>
      import s.implicits._
      graft.GraftExtensions.register(s)
      val bad = array(TextQueries.Badwords.map(lit): _*)
      val kept0 = Tables.load(s, dir, "documents")
        .select($"doc_id", $"text", tokens($"text").as("w0"))
        .filter(size(filter($"w0", t => array_contains(bad, t))) === 0)
        .select($"doc_id", $"text").cache()
      val segs = graft.operators.LineSegmentIndex.segments(kept0).cache()
      val winners = segs.groupBy($"h")
        .agg(count(lit(1)).as("cnt"), min($"okey").as("wkey"))
        .filter($"cnt" >= 2)
        .select($"h", $"wkey")
      val deduped = graft.operators.LineSegmentIndex.reassemble(
          segs.join(winners, Seq("h"), "left")
            .withColumn("kept", $"wkey".isNull || $"okey" === $"wkey"))
        .cache()
      val occ = deduped
        .select($"doc_id", posexplode(shingleHashes($"dedup_text")).as(Seq("q", "h")))
      val dup = occ.select($"doc_id", $"h").distinct()
        .groupBy($"h").agg(count(lit(1)).as("nd"))
        .filter($"nd" >= 2)
        .select($"h")
      val dupStarts = occ.join(dup, "h")
        .groupBy($"doc_id")
        .agg(sort_array(collect_list($"q")).as("dup_starts"))
      deduped
        .join(dupStarts, Seq("doc_id"), "left")
        .withColumn("r", call_function("graft_scrub", tokens($"dedup_text"),
          coalesce($"dup_starts", typedLit(Array.empty[Int]))))
        .select($"doc_id", $"n_segs",
          ($"n_segs" - $"n_kept").as("n_segs_dropped"),
          $"r.n_tokens".as("n_tokens_dedup"),
          $"r.n_removed".as("n_spans_removed"),
          $"r.scrub_text".as("clean_text"))
    },

    // Semantic dedup (SemDeDup, Abbas et al. 2023): partition the embedding
    // space into coarse clusters, then dedup ONLY within a cluster — a
    // vector is dropped when a lower-id vector in the SAME cluster has
    // cosine ≥ 0.4 (lowest id = the kept representative; `dup_of` names
    // it). Cross-cluster near-dups are missed by design — that pruning is
    // exactly what makes the pass feasible at corpus scale: cost is
    // Σ |cluster|², never O(n²), and both self-join sides shuffle on the
    // cluster key, so each cluster dedups inside one partition.
    //
    // Production SemDeDup clusters with k-means; here the cluster key is
    // the deterministic hyperplane sign pattern ([[CrossHash.embPlanesFor]],
    // 1 band × `bits` → 2^bits cells) so the oracle can build the
    // IDENTICAL partition and the gate verifies the whole keep/drop verdict
    // bit-for-bit — the trained-quantizer variant of coarse partitioning is
    // exercised by knn_ivf_kmeans. The cell count AUTO-SIZES from the
    // corpus vector count ([[CrossHash.semGeometryFor]]: cells track n/32,
    // keeping Σ|cluster|² linear in n — fixed cells go quadratic once n
    // outgrows them); the count() is a footer-metadata scan, and at gate
    // scale (n ≤ 512) the rule reproduces [[SemBits]] = 4 exactly, so the
    // static oracle SQL stays valid.
    "dedup_semantic" -> { (s, dir) =>
      val n = Tables.load(s, dir, "embeddings").count()
      semanticVerdicts(s, dir, CrossHash.semGeometryFor(n))
    },

    // Incremental semantic dedup: the batch-vs-corpus form of
    // dedup_semantic (the embedding analog of dedup_incremental) — a
    // daily embeddings delta is deduped against the standing corpus
    // WITHOUT re-running the corpus-wide pass. Batch = vec_id % 10 == 0
    // (the suite's incremental-split convention); a batch vector is
    // dropped when its cell contains EITHER any corpus vector OR a
    // lower-id batch vector with cosine ≥ 0.4 — exactly the verdicts the
    // full pass would hand those vectors if appended with ids above the
    // corpus (IncrementalDedupSpec pins the equality). The probe join is
    // |batch|-bounded: the corpus side never self-joins, and at scale the
    // corpus is stored partitioned by cell so each batch cell probes one
    // partition. Cell geometry auto-sizes exactly as dedup_semantic's.
    "dedup_semantic_incr" -> { (s, dir) =>
      val n = Tables.load(s, dir, "embeddings").count()
      semanticIncrVerdicts(s, dir, CrossHash.semGeometryFor(n))
    }
  )

  /** The incremental SemDeDup pass (`dedup_semantic_incr`) at an arbitrary
    * cell geometry — the batch-vs-corpus analog of [[semanticVerdicts]],
    * same knob semantics (cells = 2^bits grow with n,
    * [[CrossHash.semGeometryFor]]). */
  private[graft] def semanticIncrVerdicts(s: SparkSession, dir: String,
      bits: Int = SemBits): DataFrame = {
    import s.implicits._
    graft.GraftExtensions.register(s)
    val flat: Seq[Double] = semPlanesFor(bits).flatten.map(_.toDouble)
    val e = embVecs(s, dir)
      .withColumn("cluster", element_at(call_function("graft_lsh_bands",
        $"v", typedlit(flat), lit(1), lit(bits)), 1))
    val batch = e.filter($"vec_id" % 10 === 0)
    val others = e // corpus ∪ batch: any lower-id same-cell near-dup wins
    val cos = expr("graft_dot(av, bv)") / nullif(col("anrm") * col("bnrm"), lit(0.0))
    val dups = others
      .select($"cluster", $"vec_id", $"v".as("av"), $"nrm".as("anrm")).as("a")
      .join(batch.select($"cluster", $"vec_id".as("vec_b"), $"v".as("bv"),
        $"nrm".as("bnrm")).as("b"),
        $"a.cluster" === $"b.cluster" &&
          ($"a.vec_id" % 10 =!= 0 || $"a.vec_id" < $"vec_b") &&
          $"a.vec_id" =!= $"vec_b")
      .filter(cos >= 0.4)
      .groupBy($"vec_b".as("vec_id")).agg(min($"a.vec_id").as("dup_of"))
    batch.select($"vec_id", $"cluster")
      .join(dups, Seq("vec_id"), "left")
      .select($"vec_id", $"cluster", $"dup_of", $"dup_of".isNull.as("keep"))
  }

  /** The SemDeDup pass at an arbitrary cell geometry (1 band × `bits`
    * sign bits). The registered query runs [[SemBits]]; like the LSH band
    * geometry, `bits` is a corpus-size knob (cells = 2^bits must grow
    * with n to bound Σ|cluster|²) — DedupScaleSpec pins a second geometry
    * so the parameterization stays correct. */
  private[graft] def semanticVerdicts(s: SparkSession, dir: String,
      bits: Int = SemBits): DataFrame = {
    import s.implicits._
    graft.GraftExtensions.register(s)
    val flat: Seq[Double] = semPlanesFor(bits).flatten.map(_.toDouble)
    val e = embVecs(s, dir)
      .withColumn("cluster", element_at(call_function("graft_lsh_bands",
        $"v", typedlit(flat), lit(1), lit(bits)), 1))
    val cos = expr("graft_dot(av, bv)") / nullif(col("anrm") * col("bnrm"), lit(0.0))
    val dups = e.select($"cluster", $"vec_id", $"v".as("av"), $"nrm".as("anrm")).as("a")
      .join(e.select($"cluster", $"vec_id".as("vec_b"), $"v".as("bv"),
        $"nrm".as("bnrm")).as("b"),
        $"a.cluster" === $"b.cluster" && $"a.vec_id" < $"vec_b")
      .filter(cos >= 0.4)
      .groupBy($"vec_b".as("vec_id")).agg(min($"a.vec_id").as("dup_of"))
    e.select($"vec_id", $"cluster")
      .join(dups, Seq("vec_id"), "left")
      .select($"vec_id", $"cluster", $"dup_of", $"dup_of".isNull.as("keep"))
  }

  /** GATE-SCALE semantic-cluster geometry: 1 band × [[SemBits]] sign
    * bits = 2^SemBits coarse cells (16 — small enough that clusters are
    * non-trivial on the 10³-vector corpora). The static oracle SQL is
    * written at this geometry; the REGISTERED queries auto-size via
    * [[CrossHash.semGeometryFor]], which reproduces SemBits at n ≤ 512
    * so gate runs stay hash-exact. Non-auto-sized users (mix_domains'
    * O(cells) rate table, decontam_semantic's eval-bounded probe) keep
    * the constant — their cost is not Σ|cell|²-shaped. */
  val SemBits = 4

  /** dedup_pagerank: total scaled probability mass and power-method
    * iteration count — shared verbatim with the unrolled oracle CTEs. */
  private val PrMass = 1000000000000L
  private val PrIters = 3

  /** dedup_sorted_neighborhood: normalized-key prefix length and the
    * rank-window size — shared verbatim with the oracle. */
  private val SnmKeyLen = 16
  private val SnmW = 5

  /** Cap on rows per SNM rank-window partition: any prefix group whose
    * count exceeds it is recursively split to a longer prefix before the
    * offsets are built (the adaptive remedy to the classic SNM sort-skew
    * caveat — a corpus where 30% of docs share a boilerplate prefix would
    * otherwise concentrate a corpus-fraction-sized sort in ONE task). 1M
    * rows is a comfortably in-memory single-partition sort; the split
    * terminates unconditionally because the key carries a unique zero-
    * padded doc_id suffix, so full-length prefixes have count 1. */
  private[graft] val SnmPrefixCap = 1000000L

  /** UTF-8 binary string order — Spark (UTF8String.compareTo) and the
    * DuckDB oracle both ORDER BY the encoded bytes unsigned, while Java
    * String order compares UTF-16 code units; the two diverge for
    * supplementary-plane chars vs U+E000..U+FFFF, which would shift
    * prefix-group offsets against the oracle's global rank. Every
    * driver-side sort of key prefixes MUST use this order. */
  private[graft] val Utf8Order: Ordering[String] =
    (a: String, b: String) => java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** The SNM sort key: first [[SnmKeyLen]] chars of the lowercased text
    * (NULL as empty — mirrored in the oracle, which would otherwise sort
    * NULLs last), space-padded, with a zero-padded doc_id suffix making
    * every key distinct (ties would make the rank nondeterministic). */
  private[graft] def snmKeyed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .select($"doc_id", concat(
        rpad(substring(lower(coalesce($"text", lit(""))), 1, SnmKeyLen),
          SnmKeyLen, " "),
        lpad($"doc_id".cast("string"), 10, "0")).as("skey"))
  }

  /** Adaptive prefix partition of the skey space for the distributed SNM
    * rank: starts from 2-char prefixes and recursively extends any prefix
    * whose row count exceeds `cap` by two more chars (only the oversized
    * subtrees rescan, filtered by parent prefix), until every group fits.
    * Returns (prefix, count, offset) — a PREFIX-FREE cover of the corpus
    * (a split parent is replaced by its children, so no final prefix
    * prefixes another), sorted by [[Utf8Order]], with cumulative offsets.
    * Prefix-freeness is what makes the byte-order sort of the prefixes
    * agree with the key order of the rows they cover, so
    * offset(grp) + rank-within-grp equals the global ORDER BY skey rank
    * (DedupScaleSpec pins it, including under a forced-small cap on a
    * skewed corpus). Driver-bounded: ≤ |oversized parents|·alphabet² rows
    * collect per level, ≤ (keyLen/2) levels. */
  private[graft] def snmOffsets(docs: DataFrame, cap: Long): Seq[(String, Long, Long)] = {
    require(cap >= 1, s"SNM prefix cap must be positive: $cap")
    val keyLen = SnmKeyLen + 10
    val finals = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    var level = 2
    var parents: Set[String] = null // null = whole corpus (first level)
    var done = false
    while (!done) {
      val base = if (parents == null) docs
        else docs.filter(substring(col("skey"), 1, level - 2).isInCollection(parents))
      val cnts = base.groupBy(substring(col("skey"), 1, level).as("pfx"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val (over, ok) = cnts.partition(_._2 > cap)
      finals ++= ok
      if (over.isEmpty || level >= keyLen) { finals ++= over; done = true }
      else { parents = over.map(_._1).toSet; level += 2 }
    }
    val sorted = finals.sortBy(_._1)(Utf8Order)
    var acc = 0L
    sorted.map { case (p, n) => val r = (p, n, acc); acc += n; r }.toSeq
  }

  /** Distributed global rank of the SNM keys WITHOUT a global window:
    * (doc_id, rk) where rk equals `row_number() OVER (ORDER BY skey) - 1`.
    * Rows resolve their adaptive prefix group via per-length map literals
    * (longest first — the cover is prefix-free so exactly one matches),
    * rank within the group under a per-group window (every group ≤ cap
    * rows by construction), and add the group's precomputed offset. The
    * corpus must be non-empty (the caller short-circuits). */
  private[graft] def snmRank(docs: DataFrame, cap: Long): DataFrame = {
    val offs = snmOffsets(docs, cap)
    // prefix length in CODE POINTS, not Java chars: Spark's substring
    // counts code points, so a prefix holding a surrogate pair must be
    // re-extracted at its code-point length or the map lookup misses
    def cpLen(p: String) = p.codePointCount(0, p.length)
    val lens = offs.map(o => cpLen(o._1)).distinct.sorted(Ordering[Int].reverse)
    val grp = coalesce(lens.map { len =>
      val m = offs.collect { case (p, _, _) if cpLen(p) == len => (p, p) }.toMap
      element_at(typedlit(m), substring(col("skey"), 1, len))
    }: _*)
    val offMap = offs.map { case (p, _, o) => (p, o) }.toMap
    val w = Window.partitionBy(col("grp")).orderBy(col("skey"))
    docs.withColumn("grp", grp)
      .select(col("doc_id"),
        (element_at(typedlit(offMap), col("grp")) +
          row_number().over(w) - 1).as("rk"))
  }
  private[graft] def semPlanesFor(bits: Int) = embPlanesFor(1, bits)

  /** dedup_lines segment width — the operator's knob (see
    * [[graft.operators.LineSegmentIndex.LineSegTokens]]: 12 keeps
    * multiple segments per synthetic ~10–110-token doc so cross-doc
    * duplicate segments actually occur at test scale). */
  val LineSegTokens: Int = graft.operators.LineSegmentIndex.LineSegTokens

  /** Segment occurrence rows for the line-dedup family — the operator's
    * builder over the documents table. */
  private def lineSegments(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.LineSegmentIndex.segments(
      Tables.load(s, dir, "documents").select($"doc_id", $"text"))
  }

  private def reassembleLines(flagged: DataFrame): DataFrame =
    graft.operators.LineSegmentIndex.reassemble(flagged)

  /** The banded-LSH cosine pipeline at an arbitrary (bands × bits)
    * geometry. The registered query runs the test default
    * ([[EmbBands]] × [[EmbBandBits]]); band geometry MUST scale with corpus
    * size (candidates ≈ bands · n²/2^bits) — see the scaling rule on
    * [[CrossHash.embPlanesFor]]. DedupScaleSpec pins a second geometry's
    * precision/recall so the parameterization stays correct. */
  private[graft] def embCosineBanded(s: SparkSession, dir: String,
      nBands: Int = EmbBands, nBits: Int = EmbBandBits): DataFrame = {
    import s.implicits._
    graft.GraftExtensions.register(s)
    val planes = embPlanesFor(nBands, nBits)
    // the corpus feeds the band explode AND both verify probes — one
    // materialization serves all three
    val e = embVecs(s, dir).cache()
    // Fused one-pass signature (graft_lsh_bands): the plane matrix rides as
    // ONE foldable array reference instead of bands×bits per-row dot-product
    // literals; band values are bit-identical to the composed
    // graft_dot-per-plane spelling the oracle runs (strict left-to-right
    // IEEE summation — see LshBands scaladoc; CodegenSpec pins equality).
    val flatPlanes: Seq[Double] = planes.flatten.map(_.toDouble)
    val bands = e.select($"vec_id",
        posexplode(call_function("graft_lsh_bands",
          $"v", typedlit(flatPlanes), lit(nBands), lit(nBits))))
      .select($"vec_id", $"pos".as("band"), $"col".as("bb"))
    val cand = bands.as("a").join(bands.as("b"),
        $"a.band" === $"b.band" && $"a.bb" === $"b.bb" && $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id".as("vec_a"), $"b.vec_id".as("vec_b"))
      .distinct()
    // nullif: a zero-norm vector must drop out (NULL, like the oracle's
    // /0) rather than abort under ANSI
    val cos = expr("graft_dot(av, bv)") / nullif(col("anrm") * col("bnrm"), lit(0.0))
    cand
      .join(e.select($"vec_id".as("vec_a"), $"v".as("av"), $"nrm".as("anrm")), "vec_a")
      .join(e.select($"vec_id".as("vec_b"), $"v".as("bv"), $"nrm".as("bnrm")), "vec_b")
      .withColumn("cosine", cos)
      .filter($"cosine" >= 0.4)
      .select($"vec_a", $"vec_b", $"cosine".as("cosine"))
  }

  /** Normalized embedding vectors (shared by the LSH query and the exact
    * cross-check spelling). */
  private[graft] def embVecs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.GraftExtensions.register(s)
    Tables.load(s, dir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(expr("graft_dot(v, v)")))
  }

  /** 32-bit simhash fingerprint per doc: sign of the per-bit ±1 vote sum
    * over token h60 hashes. */
  private def simhashFingerprints(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tok = Tables.load(s, dir, "documents")
      .select($"doc_id", explode(tokens($"text")).as("t"))
      .select($"doc_id", h60($"t").as("h"))
    val bitCols = (0 until 32).map(b =>
      sum((shiftright($"h", b).bitwiseAND(lit(1L)) * 2 - 1)).as(s"w$b"))
    val agg0 = tok.groupBy($"doc_id").agg(bitCols.head, bitCols.tail: _*)
    val fp = (0 until 32).map(b =>
        when(col(s"w$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    agg0.select($"doc_id", fp.as("fp"))
  }

  /** Band buckets above this many docs split into hash sub-buckets
    * (simhashBandedPairs). 4096² pairs is a comfortable single-task join;
    * below the cap the split is a degenerate no-op (g = 1). */
  private[graft] val SimhashBucketCap = 4096

  /** Banded simhash near-dup pairs over a `(doc_id, fp)` frame, with a
    * HOT-BUCKET GUARD: unlike minhash bands (uniform by construction),
    * simhash band values are fingerprint slices, and a boilerplate-heavy
    * corpus concentrates mass in few `(band, bb)` buckets — an unguarded
    * self-join then degenerates toward Σ bucket² inside single tasks.
    * Buckets above `cap` docs split fragment-replicate style: the probe
    * side replicates across the bucket's `g = ⌈k/cap⌉` sub-buckets, the
    * build side hashes into one, so every qualifying ordered pair still
    * meets EXACTLY once (same rows, bounded per-task fan-in; DedupScaleSpec
    * pins banded ≡ quadratic on a hot-bucket corpus). The sub-key join
    * stays on the (band, bb) shuffle — partitioning by a key subset
    * satisfies the clustered distribution, so the guard adds no exchange.
    *
    * Duplicate candidates (a hamming ≤1 pair matches 2-3 bands) are
    * collapsed by a FIRST-MATCHING-BAND filter instead of a distinct():
    * both fingerprints are in hand after the join, so "an earlier band
    * also matched" is a scalar predicate — no distinct shuffle, and the
    * duplicates die before materializing. */
  private[graft] def simhashBandedPairs(fps: DataFrame, cap: Int): DataFrame = {
    val s = fps.sparkSession
    import s.implicits._
    graft.operators.HammingBands.pairs(
        fps.select($"doc_id".as("id"), $"fp"), SimhashBandOffsets, 2, cap)
      .select($"id_a".as("doc_a"), $"id_b".as("doc_b"), $"hamming")
  }

  /** The quadratic simhash spelling — DedupScaleSpec asserts the banded
    * query equals this exactly (pigeonhole guarantee made executable). */
  private[graft] def simhashAllPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fps = simhashFingerprints(s, dir).cache()
    val hd = bit_count($"a.fp".bitwiseXOR($"b.fp"))
    fps.as("a").join(fps.as("b"), $"a.doc_id" < $"b.doc_id")
      .filter(hd <= 2)
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        hd.cast("long").as("hamming"))
  }

  /** The exact quadratic cosine spelling — DedupScaleSpec's ground truth
    * for the LSH query's recall (never registered; it would not finish at
    * corpus scale). */
  private[graft] def embCosineAllPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = embVecs(s, dir)
    val cos = expr("graft_dot(av, bv)") / nullif(col("anrm") * col("bnrm"), lit(0.0))
    e.select($"vec_id".as("vec_a"), $"v".as("av"), $"nrm".as("anrm")).as("a")
      .join(e.select($"vec_id".as("vec_b"), $"v".as("bv"), $"nrm".as("bnrm")).as("b"),
        $"vec_a" < $"vec_b")
      .withColumn("cosine", cos)
      .filter($"cosine" >= 0.4)
      .select($"vec_a", $"vec_b", $"cosine".as("cosine"))
  }

  def oracles: Map[String, String] = {
    val sigExprs = (0 until NumPerm)
      .map(i => s"min((${permA(i)}*x + ${permB(i)}) % $P) AS m$i").mkString(", ")
    val bandSelects = (0 until NumBands).map { b =>
      val cols = (0 until BandRows).map(r => s"m${b * BandRows + r}").mkString(", ")
      s"SELECT doc_id, $b AS band, concat_ws(',', $cols) AS bv FROM sig"
    }.mkString(" UNION ALL ")
    val simhashBits = (0 until 32)
      .map(b => s"sum(((h>>$b)&1)*2 - 1) AS w$b").mkString(", ")
    val simhashFp = (0 until 32)
      .map(b => s"(CASE WHEN w$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")

    Map(
      "dedup_exact" ->
        """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
          |FROM documents GROUP BY md5(text)""".stripMargin,

      // multiset shingles (no DISTINCT) — min is unaffected, mirroring the
      // Spark plan's shuffle-reduced shape
      "text_minhash_sig" ->
        s"""WITH docs AS (SELECT doc_id, $oTokens AS w FROM documents),
           |hx AS (SELECT doc_id, ${oH60("s")} % $P AS x
           |       FROM (SELECT doc_id, unnest($oShingles3) AS s FROM docs))
           |SELECT doc_id, $sigExprs FROM hx GROUP BY doc_id""".stripMargin,

      "dedup_ngram_jaccard" ->
        s"""WITH $oShingleCtes,
           |inter AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
           |  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2)
           |SELECT doc_a, doc_b, CAST(i AS DOUBLE)/(ca.n + cb.n - i) AS jaccard
           |FROM inter JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b
           |WHERE CAST(i AS DOUBLE)/(ca.n + cb.n - i) >= 0.6""".stripMargin,

      "dedup_pagerank" -> {
        val iterCtes = (1 to PrIters).map { i =>
          s"""pr$i AS (
             |  SELECT d.doc_id,
             |    (15 * ($PrMass // (SELECT n FROM nn))) // 100
             |      + (85 * coalesce(s.s, 0)) // 100 AS pr
             |  FROM documents d LEFT JOIN (
             |    SELECT e.dst AS doc_id, SUM(p.pr // g.deg) AS s
             |    FROM edges e JOIN pr${i - 1} p ON p.doc_id = e.src
             |                 JOIN deg g ON g.src = e.src
             |    GROUP BY e.dst) s ON s.doc_id = d.doc_id)""".stripMargin
        }.mkString(",\n")
        s"""WITH $oShingleCtes,
           |inter AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
           |  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2),
           |jp AS (
           |  SELECT doc_a, doc_b
           |  FROM inter JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b
           |  WHERE CAST(i AS DOUBLE)/(ca.n + cb.n - i) >= 0.6),
           |edges AS (SELECT doc_a AS src, doc_b AS dst FROM jp
           |          UNION ALL SELECT doc_b, doc_a FROM jp),
           |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
           |nn AS (SELECT count(*) AS n FROM documents),
           |pr0 AS (SELECT doc_id, $PrMass // (SELECT n FROM nn) AS pr FROM documents),
           |$iterCtes
           |SELECT doc_id, CAST(pr AS BIGINT) AS pr FROM pr$PrIters""".stripMargin
      },

      "dedup_sorted_neighborhood" ->
        s"""WITH $oShingleCtes,
           |sk AS (SELECT doc_id,
           |    rpad(substr(lower(coalesce(text, '')), 1, $SnmKeyLen), $SnmKeyLen, ' ')
           |      || lpad(CAST(doc_id AS VARCHAR), 10, '0') AS skey
           |  FROM documents),
           |r AS (SELECT doc_id, row_number() OVER (ORDER BY skey) - 1 AS rk FROM sk),
           |candp AS (
           |  SELECT a.doc_id AS ida, b.doc_id AS idb
           |  FROM r a JOIN r b ON b.rk > a.rk AND b.rk <= a.rk + $SnmW),
           |inter AS (
           |  SELECT c.ida, c.idb, count(*) AS i
           |  FROM candp c JOIN sh x ON x.doc_id = c.ida
           |               JOIN sh y ON y.doc_id = c.idb AND y.h = x.h
           |  GROUP BY 1, 2)
           |SELECT least(ida, idb) AS doc_a, greatest(ida, idb) AS doc_b,
           |  CAST(i AS DOUBLE)/(ca.n + cb.n - i) AS jaccard
           |FROM inter JOIN cnt ca ON ca.doc_id = ida JOIN cnt cb ON cb.doc_id = idb
           |WHERE CAST(i AS DOUBLE)/(ca.n + cb.n - i) >= 0.6""".stripMargin,

      "corpus_dup_sources" ->
        s"""WITH $oShingleCtes,
           |inter AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
           |  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2),
           |jp AS (
           |  SELECT doc_a, doc_b
           |  FROM inter JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b
           |  WHERE CAST(i AS DOUBLE)/(ca.n + cb.n - i) >= 0.6),
           |d AS (SELECT doc_id, source, CAST(len($oTokens) AS BIGINT) AS n_tok
           |      FROM documents),
           |p AS (
           |  SELECT least(da.source, db.source) AS src_a,
           |         greatest(da.source, db.source) AS src_b,
           |         CASE WHEN da.source <= db.source THEN da.n_tok ELSE db.n_tok END AS tok_a,
           |         CASE WHEN da.source <= db.source THEN db.n_tok ELSE da.n_tok END AS tok_b
           |  FROM jp JOIN d da ON da.doc_id = jp.doc_a
           |          JOIN d db ON db.doc_id = jp.doc_b)
           |SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_pairs,
           |  CAST(sum(tok_a) AS BIGINT) AS dup_tokens_a,
           |  CAST(sum(tok_b) AS BIGINT) AS dup_tokens_b
           |FROM p GROUP BY src_a, src_b""".stripMargin,

      "dedup_containment" ->
        s"""WITH $oShingleCtes,
           |inter AS (
           |  SELECT a.doc_id AS doc_in, b.doc_id AS doc_out, count(*) AS i
           |  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id <> b.doc_id
           |  GROUP BY 1, 2)
           |SELECT doc_in, doc_out, CAST(i AS DOUBLE)/ci.n AS containment
           |FROM inter JOIN cnt ci ON ci.doc_id = doc_in
           |WHERE CAST(i AS DOUBLE)/ci.n >= 0.9""".stripMargin,

      "dedup_containment_incr" ->
        s"""WITH $oShingleCtes,
           |inter AS (
           |  SELECT a.doc_id AS doc_in, b.doc_id AS doc_out, count(*) AS i
           |  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id <> b.doc_id
           |  GROUP BY 1, 2)
           |SELECT doc_in, doc_out, CAST(i AS DOUBLE)/ci.n AS containment
           |FROM inter JOIN cnt ci ON ci.doc_id = doc_in
           |WHERE CAST(i AS DOUBLE)/ci.n >= 0.9
           |  AND (doc_in % 10 = 0 OR doc_out % 10 = 0)""".stripMargin,

      // the index-probed spelling answers the SAME question — shared SQL
      "dedup_containment_idx" ->
        s"""WITH $oShingleCtes,
           |inter AS (
           |  SELECT a.doc_id AS doc_in, b.doc_id AS doc_out, count(*) AS i
           |  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id <> b.doc_id
           |  GROUP BY 1, 2)
           |SELECT doc_in, doc_out, CAST(i AS DOUBLE)/ci.n AS containment
           |FROM inter JOIN cnt ci ON ci.doc_id = doc_in
           |WHERE CAST(i AS DOUBLE)/ci.n >= 0.9
           |  AND (doc_in % 10 = 0 OR doc_out % 10 = 0)""".stripMargin,

      "split_leakage" ->
        s"""WITH $oShingleCtes,
           |inter AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
           |  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2),
           |pairs AS (
           |  SELECT doc_a, doc_b
           |  FROM inter JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b
           |  WHERE CAST(i AS DOUBLE)/(ca.n + cb.n - i) >= 0.6),
           |sp AS (SELECT doc_id,
           |  CASE WHEN bucket < 90 THEN 'train'
           |       WHEN bucket < 95 THEN 'validation'
           |       ELSE 'test' END AS split
           |  FROM (SELECT doc_id, ${oH60("text || '|split'")} % 100 AS bucket
           |        FROM documents))
           |SELECT sa.split AS split_a, sb.split AS split_b,
           |  CAST(count(*) AS BIGINT) AS n_pairs,
           |  CAST(count(DISTINCT p.doc_a) AS BIGINT) AS n_docs_a,
           |  CAST(count(DISTINCT p.doc_b) AS BIGINT) AS n_docs_b
           |FROM pairs p
           |JOIN sp sa ON sa.doc_id = p.doc_a
           |JOIN sp sb ON sb.doc_id = p.doc_b
           |WHERE sa.split <> sb.split
           |GROUP BY 1, 2""".stripMargin,

      "dedup_clusters" ->
        s"""WITH RECURSIVE $oShingleCtes,
           |inter AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
           |  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2),
           |pairs AS (
           |  SELECT doc_a, doc_b
           |  FROM inter JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b
           |  WHERE CAST(i AS DOUBLE)/(ca.n + cb.n - i) >= 0.6),
           |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
           |          UNION ALL SELECT doc_b, doc_a FROM pairs),
           |reach(id, r) AS (
           |  SELECT doc_id, doc_id FROM documents
           |  UNION
           |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id)
           |SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id""".stripMargin,

      // the incremental spelling must land on the IDENTICAL assignment —
      // sharing the oracle verbatim makes incremental == full a
      // driver-gate equality (the decontam_bloom doctrine)
      "dedup_clusters_incr" ->
        s"""WITH RECURSIVE $oShingleCtes,
           |inter AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
           |  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2),
           |pairs AS (
           |  SELECT doc_a, doc_b
           |  FROM inter JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b
           |  WHERE CAST(i AS DOUBLE)/(ca.n + cb.n - i) >= 0.6),
           |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
           |          UNION ALL SELECT doc_b, doc_a FROM pairs),
           |reach(id, r) AS (
           |  SELECT doc_id, doc_id FROM documents
           |  UNION
           |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id)
           |SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id""".stripMargin,

      "dedup_best_keep" ->
        s"""WITH RECURSIVE $oShingleCtes,
           |inter AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
           |  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2),
           |pairs AS (
           |  SELECT doc_a, doc_b
           |  FROM inter JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b
           |  WHERE CAST(i AS DOUBLE)/(ca.n + cb.n - i) >= 0.6),
           |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
           |          UNION ALL SELECT doc_b, doc_a FROM pairs),
           |reach(id, r) AS (
           |  SELECT doc_id, doc_id FROM documents
           |  UNION
           |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id),
           |clusters AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
           |tok AS (SELECT doc_id, COALESCE(CAST(len($oTokens) AS BIGINT), 0) AS n_tok
           |        FROM documents),
           |j AS (SELECT c.cluster_id, c.doc_id, t.n_tok
           |      FROM clusters c JOIN tok t ON t.doc_id = c.doc_id),
           |m AS (SELECT cluster_id, count(*) AS n_members, max(n_tok) AS keep_tokens
           |      FROM j GROUP BY cluster_id)
           |SELECT m.cluster_id, m.n_members, m.keep_tokens, min(j.doc_id) AS keep_id
           |FROM m JOIN j ON j.cluster_id = m.cluster_id AND j.n_tok = m.keep_tokens
           |GROUP BY 1, 2, 3""".stripMargin,

      "dedup_soft" ->
        s"""WITH RECURSIVE $oShingleCtes,
           |inter AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
           |  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2),
           |pairs AS (
           |  SELECT doc_a, doc_b
           |  FROM inter JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b
           |  WHERE CAST(i AS DOUBLE)/(ca.n + cb.n - i) >= 0.6),
           |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
           |          UNION ALL SELECT doc_b, doc_a FROM pairs),
           |reach(id, r) AS (
           |  SELECT doc_id, doc_id FROM documents
           |  UNION
           |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id),
           |clusters AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
           |sizes AS (SELECT cluster_id, count(*) AS n_members FROM clusters GROUP BY cluster_id)
           |SELECT c.doc_id, c.cluster_id, s.n_members,
           |  CAST(1.0 AS DOUBLE) / s.n_members AS weight
           |FROM clusters c JOIN sizes s ON s.cluster_id = c.cluster_id""".stripMargin,

      "dedup_minhash_lsh" ->
        s"""WITH $oShingleCtes,
           |hx AS (SELECT doc_id, h % $P AS x FROM sh),
           |sig AS (SELECT doc_id, $sigExprs FROM hx GROUP BY doc_id),
           |bands AS ($bandSelects),
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id),
           |inter AS (
           |  SELECT doc_a, doc_b, count(*) AS i
           |  FROM cand JOIN sh sa ON sa.doc_id = doc_a
           |            JOIN sh sb ON sb.doc_id = doc_b AND sa.h = sb.h
           |  GROUP BY 1, 2)
           |SELECT doc_a, doc_b, CAST(i AS DOUBLE)/(ca.n + cb.n - i) AS jaccard
           |FROM inter JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b
           |WHERE CAST(i AS DOUBLE)/(ca.n + cb.n - i) >= 0.6""".stripMargin,

      "dedup_incremental" ->
        s"""WITH $oShingleCtes,
           |inter AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
           |  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2)
           |SELECT doc_a, doc_b, CAST(i AS DOUBLE)/(ca.n + cb.n - i) AS jaccard
           |FROM inter JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b
           |WHERE CAST(i AS DOUBLE)/(ca.n + cb.n - i) >= 0.6
           |  AND (doc_a % 10 = 0 OR doc_b % 10 = 0)""".stripMargin,

      "dedup_simhash" ->
        s"""WITH tok AS (
           |  SELECT doc_id, ${oH60("t")} AS h
           |  FROM (SELECT doc_id, unnest($oTokens) AS t FROM documents)),
           |agg AS (SELECT doc_id, $simhashBits FROM tok GROUP BY doc_id),
           |fps AS (SELECT doc_id, $simhashFp AS fp FROM agg)
           |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |  CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
           |FROM fps a JOIN fps b ON a.doc_id < b.doc_id
           |WHERE bit_count(xor(a.fp, b.fp)) <= 2""".stripMargin,

      // Oracle computes the IDENTICAL deterministic bands (md5-derived
      // planes are literal in both engines), so the hash gate verifies the
      // bucketed candidate generation + exact verify bit-for-bit.
      "dedup_embed_cosine" -> {
        val bandSelects = (0 until EmbBands).map { t =>
          val bits = (0 until EmbBandBits).map { j =>
            s"(CASE WHEN list_dot_product(v, ${oEmbPlane(t * EmbBandBits + j)}) > 0 THEN ${1L << j} ELSE 0 END)"
          }.mkString(" + ")
          s"SELECT vec_id, $t AS band, $bits AS bb FROM n"
        }.mkString(" UNION ALL ")
        s"""WITH e AS (
           |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
           |bands AS ($bandSelects),
           |cand AS (
           |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.bb = b.bb AND a.vec_id < b.vec_id)
           |SELECT vec_a, vec_b,
           |  list_dot_product(na.v, nb.v)/(na.nrm*nb.nrm) AS cosine
           |FROM cand JOIN n na ON na.vec_id = vec_a JOIN n nb ON nb.vec_id = vec_b
           |WHERE list_dot_product(na.v, nb.v)/(na.nrm*nb.nrm) >= 0.4""".stripMargin
      },

      // Identical deterministic hyperplane cells in both engines (same
      // doctrine as dedup_embed_cosine), so keep/drop/dup_of verify exactly.
      "dedup_semantic" -> {
        val cellBits = (0 until SemBits).map { j =>
          s"(CASE WHEN list_dot_product(v, ${oEmbPlaneOf(semPlanesFor(SemBits), j)}) > 0 THEN ${1L << j} ELSE 0 END)"
        }.mkString(" + ")
        s"""WITH e AS (
           |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
           |             CAST($cellBits AS BIGINT) AS cluster FROM e),
           |dup AS (
           |  SELECT b.vec_id AS vec_id, min(a.vec_id) AS dup_of
           |  FROM n a JOIN n b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
           |  WHERE list_dot_product(a.v, b.v)/(a.nrm*b.nrm) >= 0.4
           |  GROUP BY b.vec_id)
           |SELECT n.vec_id, n.cluster, dup.dup_of, dup.dup_of IS NULL AS keep
           |FROM n LEFT JOIN dup ON dup.vec_id = n.vec_id""".stripMargin
      },

      // Batch (vec_id % 10 = 0) verdicts against the standing corpus: a
      // corpus partner suppresses regardless of id (the corpus precedes
      // the batch); a batch partner only when lower-id.
      "dedup_semantic_incr" -> {
        val cellBits = (0 until SemBits).map { j =>
          s"(CASE WHEN list_dot_product(v, ${oEmbPlaneOf(semPlanesFor(SemBits), j)}) > 0 THEN ${1L << j} ELSE 0 END)"
        }.mkString(" + ")
        s"""WITH e AS (
           |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
           |             CAST($cellBits AS BIGINT) AS cluster FROM e),
           |bt AS (SELECT * FROM n WHERE vec_id % 10 = 0),
           |dup AS (
           |  SELECT bt.vec_id AS vec_id, min(a.vec_id) AS dup_of
           |  FROM n a JOIN bt ON a.cluster = bt.cluster
           |    AND a.vec_id <> bt.vec_id
           |    AND (a.vec_id % 10 <> 0 OR a.vec_id < bt.vec_id)
           |  WHERE list_dot_product(a.v, bt.v)/(a.nrm*bt.nrm) >= 0.4
           |  GROUP BY bt.vec_id)
           |SELECT bt.vec_id, bt.cluster, dup.dup_of, dup.dup_of IS NULL AS keep
           |FROM bt LEFT JOIN dup ON dup.vec_id = bt.vec_id""".stripMargin
      },

      "dedup_spans" ->
        s"""WITH docs AS (SELECT doc_id, $oTokens AS w FROM documents),
           |occ AS (SELECT doc_id, ${oH60("s")} AS h
           |        FROM (SELECT doc_id, unnest($oShingles3) AS s FROM docs)),
           |ddf AS (SELECT h, count(*) AS nd
           |        FROM (SELECT DISTINCT doc_id, h FROM occ) GROUP BY h)
           |SELECT occ.doc_id, count(*) AS n_spans,
           |  CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
           |  CAST(CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
           |    / count(*) AS dup_ratio
           |FROM occ JOIN ddf ON occ.h = ddf.h
           |GROUP BY occ.doc_id""".stripMargin,

      // Identical segmentation (non-overlapping 12-token windows, 1-based
      // inclusive list slicing), identical winner arithmetic
      // (min(doc_id·100000 + seg_idx) per duplicated hash). The zipped
      // unnest pairs each segment with its 0-based index; coalesce('')
      // matches Spark's empty array_join when every segment of a doc
      // loses to an earlier occurrence.
      "dedup_lines" ->
        s"""WITH docs AS (SELECT doc_id, $oTokens AS w FROM documents),
           |sg AS (SELECT doc_id,
           |    [array_to_string(w[i*12+1:i*12+12], ' ')
           |     for i in range(0, (len(w)+11)//12)] AS segs FROM docs),
           |occ AS (SELECT doc_id, unnest(segs) AS seg,
           |               unnest(range(0, len(segs))) AS seg_idx FROM sg),
           |o2 AS (SELECT doc_id, seg_idx, seg, ${oH60("seg")} AS h,
           |              doc_id*100000 + seg_idx AS okey FROM occ),
           |win AS (SELECT h, min(okey) AS wkey FROM o2
           |        GROUP BY h HAVING count(*) >= 2)
           |SELECT doc_id, count(*) AS n_segs,
           |  CAST(sum(CASE WHEN wkey IS NULL OR okey = wkey THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           |  coalesce(array_to_string(
           |    list(seg ORDER BY seg_idx) FILTER (WHERE wkey IS NULL OR okey = wkey),
           |    ' '), '') AS dedup_text
           |FROM o2 LEFT JOIN win USING (h)
           |GROUP BY doc_id""".stripMargin,

      // Append-order verdicts for the batch split: a corpus hash
      // suppresses every batch occurrence; within the batch the min-okey
      // occurrence of a duplicated hash survives.
      "dedup_lines_incr" ->
        s"""WITH docs AS (SELECT doc_id, $oTokens AS w FROM documents),
           |sg AS (SELECT doc_id,
           |    [array_to_string(w[i*12+1:i*12+12], ' ')
           |     for i in range(0, (len(w)+11)//12)] AS segs FROM docs),
           |occ AS (SELECT doc_id, unnest(segs) AS seg,
           |               unnest(range(0, len(segs))) AS seg_idx FROM sg),
           |o2 AS (SELECT doc_id, seg_idx, seg, ${oH60("seg")} AS h,
           |              doc_id*100000 + seg_idx AS okey FROM occ),
           |corpus AS (SELECT DISTINCT h FROM o2 WHERE doc_id % 10 <> 0),
           |bt AS (SELECT * FROM o2 WHERE doc_id % 10 = 0),
           |win AS (SELECT h, min(okey) AS wkey FROM bt
           |        GROUP BY h HAVING count(*) >= 2),
           |v AS (SELECT bt.doc_id, bt.seg_idx, bt.seg,
           |        (c.h IS NULL AND (w.wkey IS NULL OR bt.okey = w.wkey)) AS keep
           |      FROM bt LEFT JOIN corpus c ON bt.h = c.h
           |              LEFT JOIN win w ON bt.h = w.h)
           |SELECT doc_id, count(*) AS n_segs,
           |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           |  coalesce(array_to_string(
           |    list(seg ORDER BY seg_idx) FILTER (WHERE keep), ' '), '') AS dedup_text
           |FROM v GROUP BY doc_id""".stripMargin,

      // The stage CTE chain: blocklist filter (text_badwords' predicate),
      // line dedup over the survivors (dedup_lines' spelling on the
      // narrowed corpus), span scrub over the REBUILT text
      // (dedup_span_scrub's spelling with text := dedup_text).
      "pipeline_clean" -> {
        val oBad = TextQueries.Badwords.map(w => s"'$w'").mkString("[", ", ", "]")
        s"""WITH base AS (SELECT doc_id, text, $oTokens AS w0 FROM documents),
           |k0 AS (SELECT doc_id, text FROM base
           |       WHERE len(list_filter(w0, t -> list_contains($oBad, t))) = 0),
           |docs AS (SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM k0),
           |sg AS (SELECT doc_id,
           |    [array_to_string(w[i*12+1:i*12+12], ' ')
           |     for i in range(0, (len(w)+11)//12)] AS segs FROM docs),
           |occ2 AS (SELECT doc_id, unnest(segs) AS seg,
           |                unnest(range(0, len(segs))) AS seg_idx FROM sg),
           |o2 AS (SELECT doc_id, seg_idx, seg, ${oH60("seg")} AS h,
           |              doc_id*100000 + seg_idx AS okey FROM occ2),
           |win AS (SELECT h, min(okey) AS wkey FROM o2
           |        GROUP BY h HAVING count(*) >= 2),
           |dd AS (
           |  SELECT doc_id, count(*) AS n_segs,
           |    CAST(sum(CASE WHEN wkey IS NULL OR okey = wkey THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           |    coalesce(array_to_string(
           |      list(seg ORDER BY seg_idx) FILTER (WHERE wkey IS NULL OR okey = wkey),
           |      ' '), '') AS dedup_text
           |  FROM o2 LEFT JOIN win USING (h)
           |  GROUP BY doc_id),
           |docs3 AS (SELECT doc_id, n_segs, n_kept,
           |                 string_split_regex(dedup_text, '\\s+') AS w FROM dd),
           |occ3 AS (SELECT doc_id, unnest($oShingles3) AS s,
           |                unnest(range(1, len(w)-1)) AS i FROM docs3),
           |o3 AS (SELECT doc_id, i - 1 AS q, ${oH60("s")} AS h FROM occ3),
           |dup3 AS (SELECT h FROM (SELECT DISTINCT doc_id, h FROM o3)
           |         GROUP BY h HAVING count(*) >= 2),
           |ds3 AS (SELECT doc_id, list(q ORDER BY q) AS dstarts
           |        FROM o3 JOIN dup3 USING (h) GROUP BY doc_id),
           |fin AS (SELECT d.doc_id, d.n_segs, d.n_kept, d.w,
           |               coalesce(ds3.dstarts, []) AS dsx
           |        FROM docs3 d LEFT JOIN ds3 ON ds3.doc_id = d.doc_id),
           |k3 AS (SELECT doc_id, n_segs, n_kept, w,
           |    [i for i in range(0, len(w))
           |     if len(list_filter(dsx, q -> q >= i-2 AND q <= i)) = 0] AS kept
           |  FROM fin)
           |SELECT doc_id, n_segs,
           |  CAST(n_segs - n_kept AS BIGINT) AS n_segs_dropped,
           |  CAST(len(w) AS BIGINT) AS n_tokens_dedup,
           |  CAST(len(w) - len(kept) AS BIGINT) AS n_spans_removed,
           |  coalesce(array_to_string([w[i+1] for i in kept], ' '), '') AS clean_text
           |FROM k3""".stripMargin
      },

      // Same trigram positions as the Spark plan (oShingles3 starts at
      // 1-based i → q = i-1), same coverage rule (dup start q ∈ [i-2, i]
      // covers token i), same rebuild order.
      "dedup_span_scrub" ->
        s"""WITH docs AS (SELECT doc_id, $oTokens AS w FROM documents),
           |occ AS (SELECT doc_id, unnest($oShingles3) AS s,
           |               unnest(range(1, len(w)-1)) AS i FROM docs),
           |o2 AS (SELECT doc_id, i - 1 AS q, ${oH60("s")} AS h FROM occ),
           |dup AS (SELECT h FROM (SELECT DISTINCT doc_id, h FROM o2)
           |        GROUP BY h HAVING count(*) >= 2),
           |ds AS (SELECT doc_id, list(q ORDER BY q) AS dstarts
           |       FROM o2 JOIN dup USING (h) GROUP BY doc_id),
           |fin AS (SELECT d.doc_id, d.w, coalesce(ds.dstarts, []) AS dsx
           |        FROM docs d LEFT JOIN ds ON ds.doc_id = d.doc_id),
           |k AS (SELECT doc_id, w,
           |    [i for i in range(0, len(w))
           |     if len(list_filter(dsx, q -> q >= i-2 AND q <= i)) = 0] AS kept
           |  FROM fin)
           |SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
           |  CAST(len(w) - len(kept) AS BIGINT) AS n_removed,
           |  CASE WHEN w IS NULL THEN NULL
           |    ELSE coalesce(array_to_string([w[i+1] for i in kept], ' '), '')
           |  END AS scrub_text
           |FROM k""".stripMargin,

      // Arrival-order keep-first: corpus presence OR an earlier batch
      // holder makes a batch occurrence a dup start; batch-only output.
      // dedup_span_keepfirst_idx shares this SQL verbatim — the driver
      // gate hashes index-probe ≡ recompute.
      "dedup_span_keepfirst_incr" -> oSpanKeepFirstIncrSql,
      "dedup_span_keepfirst_idx" -> oSpanKeepFirstIncrSql,

      // dedup_span_scrub's chain with the keeper rule: min(doc_id) rides
      // the per-hash dup aggregate, and only non-keeper occurrences
      // contribute dup starts.
      "dedup_span_keepfirst" ->
        s"""WITH docs AS (SELECT doc_id, $oTokens AS w FROM documents),
           |occ AS (SELECT doc_id, unnest($oShingles3) AS s,
           |               unnest(range(1, len(w)-1)) AS i FROM docs),
           |o2 AS (SELECT doc_id, i - 1 AS q, ${oH60("s")} AS h FROM occ),
           |dup AS (SELECT h, min(doc_id) AS keep_id
           |        FROM (SELECT DISTINCT doc_id, h FROM o2)
           |        GROUP BY h HAVING count(*) >= 2),
           |ds AS (SELECT o2.doc_id, list(q ORDER BY q) AS dstarts
           |       FROM o2 JOIN dup USING (h)
           |       WHERE o2.doc_id <> dup.keep_id GROUP BY o2.doc_id),
           |fin AS (SELECT d.doc_id, d.w, coalesce(ds.dstarts, []) AS dsx
           |        FROM docs d LEFT JOIN ds ON ds.doc_id = d.doc_id),
           |k AS (SELECT doc_id, w,
           |    [i for i in range(0, len(w))
           |     if len(list_filter(dsx, q -> q >= i-2 AND q <= i)) = 0] AS kept
           |  FROM fin)
           |SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
           |  CAST(len(w) - len(kept) AS BIGINT) AS n_removed,
           |  CASE WHEN w IS NULL THEN NULL
           |    ELSE coalesce(array_to_string([w[i+1] for i in kept], ' '), '')
           |  END AS scrub_text
           |FROM k""".stripMargin
    )
  }
}
