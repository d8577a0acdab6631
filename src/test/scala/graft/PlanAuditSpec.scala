package graft

import org.apache.spark.sql.execution.FormattedMode
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits: assert the scale-critical plan properties hold —
  * these are the "would this survive 100 TB" invariants, pinned so a
  * refactor that silently loses a pushdown or broadcasts the wrong side
  * fails CI rather than a production run.
  *
  * Checked against the formatted explain of the ACTUAL registered queries
  * (sf0.001 inputs — plan shape, not data, is under test).
  */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String = {
    val df = SparkEntry.queries(q)(spark, dir)
    df.queryExecution.explainString(FormattedMode)
  }

  /** Audits a curation key's composed frame: the registered key's own
    * [[graft.operators.CurationDag]] and frame, taken before the key
    * materializes it (the key itself returns a checkpointed leaf, whose
    * plan would show nothing). A floor keeps the audit honest: the plan
    * must hold a shuffle and more than 50 operators (the numbered
    * `(N) Name` entries of the formatted plan), so a frame cut to a leaf
    * fails here instead of passing every check. The DAG is released
    * after `check`, so no cache entry leaks into a later audit. */
  private def curationPlan(q: String)(check: (org.apache.spark.sql.DataFrame, String) => Unit): Unit = {
    val key = graft.queries.CorpusQueries.queries(q) match {
      case k: graft.operators.CurationDag.Key => k
      case _ => fail(s"$q is not registered as a CurationDag key")
    }
    val dag = key.dag(spark, dir)
    try {
      val df = key.frame(dag)
      val p = df.queryExecution.explainString(FormattedMode)
      assert(p.contains("Exchange"), s"$q: audited plan has no Exchange:\n$p")
      val n = "(?m)^\\((\\d+)\\) ".r.findAllMatchIn(p).map(_.group(1)).toSet.size
      assert(n > 50, s"$q: audited plan has only $n operators:\n$p")
      check(df, p)
    } finally dag.release()
  }

  test("q6_filter: selective predicates reach the parquet scan (PushedFilters) and only needed columns are read") {
    val p = plan("q6_filter")
    assert(p.contains("PushedFilters:"), p)
    assert(p.contains("l_shipdate"), p)
    // pushed, not just post-scan: the scan node lists shipdate bounds
    assert("PushedFilters: \\[[^\\]]*l_shipdate[^\\]]*\\]".r.findFirstIn(p).isDefined, p)
    // projection pruning: the 11-column lineitem scan must not read
    // join-only columns like l_orderkey / l_partkey
    val readSchema = "ReadSchema:[^\\n]*".r.findFirstIn(p).getOrElse("")
    assert(!readSchema.contains("l_orderkey"), readSchema)
    assert(!readSchema.contains("l_partkey"), readSchema)
  }

  test("q2_join5: every dimension join is broadcast (fact side never shuffles for dims)") {
    val p = plan("q2_join5")
    val nBroadcast = "BroadcastHashJoin".r.findAllIn(p).length
    assert(nBroadcast >= 3, s"expected >=3 broadcast joins, plan:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q1_agg: aggregation is partial (map-side combine before the exchange)") {
    val p = plan("q1_agg")
    val nAgg = "HashAggregate".r.findAllIn(p).length
    assert(nAgg >= 2, s"expected partial+final HashAggregate, plan:\n$p")
    // partial agg must sit below the shuffle: the (root-first) tree shows
    // final HashAggregate, then the Exchange, then the partial HashAggregate
    assert("(?s)HashAggregate.*Exchange.*HashAggregate".r.findFirstIn(p).isDefined, p)
  }

  test("ev_keyset_scan: the cursor bound is pushed to the parquet scan (row-group pruning)") {
    val p = plan("ev_keyset_scan")
    assert("PushedFilters: \\[[^\\]]*ts[^\\]]*\\]".r.findFirstIn(p).isDefined,
      s"ts bound not pushed:\n$p")
  }

  test("knn_brute: query side broadcasts; the corpus is never shuffled or sorted for the join") {
    val p = plan("knn_brute")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("knn_filtered: the lang predicate is pushed to the documents scan; corpus pruned before distance math") {
    val p = plan("knn_filtered")
    // the metadata filter reaches the documents parquet scan as an In
    // filter — at 100 TB this is what makes filtered search cost scale
    // with the filtered corpus, not the full one
    assert("PushedFilters: \\[[^\\]]*lang[^\\]]*\\]".r.findFirstIn(p).isDefined,
      s"lang predicate not pushed to the documents scan:\n$p")
    // same probe shape as knn_brute: query side broadcasts, the corpus is
    // never shuffled or sorted for the candidate join
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("text_bm25: corpus aggregates combine map-side; the 1-row stats join never goes cartesian") {
    val p = plan("text_bm25")
    assert("(?s)HashAggregate.*Exchange.*HashAggregate".r.findFirstIn(p).isDefined, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("retrieve_rrf: both legs and the fuse plan without a cartesian; per-query top-k is a partial WindowGroupLimit") {
    val p = plan("retrieve_rrf")
    assert(!p.contains("CartesianProduct"), p)
    // Spark 4 plans rank<=k as WindowGroupLimit Partial below the window
    // exchange — candidate rows are capped per task before shuffling
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("narrow projections (text_tokens, text_clean, mm_meta, doc_chunk) are shuffle-free single stages") {
    for (q <- Seq("text_tokens", "text_clean", "mm_meta", "doc_chunk",
        "text_gopher_quality", "text_pii", "text_quality_score", "text_badwords",
        "text_unicode_norm")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q shuffles:\n$p")
      // formatted mode marks codegen'd nodes with a leading '*'
      assert(p.contains("* Project"), s"$q projection not codegen'd:\n$p")
    }
  }

  test("dedup_exact groups on the digest, not the raw text (shuffle rows are hashes)") {
    val p = plan("dedup_exact")
    // the exchange key must be the digest (Catalyst hoists it into a
    // _groupingexpression computed below the shuffle); raw text may only
    // appear at the scan, never as a partitioning key
    assert(
      "hashpartitioning\\((content_hash|_groupingexpression)".r.findFirstIn(p).isDefined, p)
    assert("hashpartitioning\\([^)]*text#".r.findFirstIn(p).isEmpty, p)
    assert(p.contains("md5("), p)
  }

  test("q21_waiting: the per-order aggregate joins back without a cartesian; supplier dim broadcasts") {
    val p = plan("q21_waiting")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("relational family: broadcast hints only on fixed-cardinality dims (nation/region)") {
    // customer/supplier/part grow with scale factor (TB-class at 100 TB) —
    // a mandated broadcast there bypasses autoBroadcastJoinThreshold and is
    // a driver OOM at scale (the exact class that killed probeFrames at
    // 100x, r15). Only nation (25 rows) / region (5 rows) may carry hints;
    // everything else must be left to stats/AQE so oversized sides degrade
    // to a shuffled join instead of OOMing.
    for (q <- Seq("q2_join5", "q13_suppagg", "q18_bigorders", "q19_disjunct",
        "q21_waiting", "q3_topn", "q14_custdist", "q17_avgqty", "q20_nestsemi")) {
      val df = SparkEntry.queries(q)(spark, dir)
      val hints = df.queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }
      for (h <- hints) {
        val cols = h.child.output.map(_.name)
        assert(cols.nonEmpty && cols.forall(c => c.startsWith("n_") || c.startsWith("r_")),
          s"$q mandates broadcast of a scale-factor-sized table (cols=${cols.mkString(",")})")
      }
    }
  }

  test("relational un-forced dim joins still plan BroadcastHashJoin from stats at bench scale (sf0.1)") {
    // the hints came OFF in r16 — this pins that nothing was lost at bench
    // scale: the planner still picks BHJ for customer/supplier/part from
    // parquet-size stats (all well under autoBroadcastJoinThreshold at
    // sf0.1), so the un-forcing costs zero performance until the side
    // genuinely outgrows the threshold, at which point SMJ is the correct
    // outcome. explain-only: plan shape, not data, is under test.
    val sf01 = "/root/testdata/sf0.1"
    for ((q, minBhj) <- Seq("q2_join5" -> 3, "q13_suppagg" -> 2,
        "q18_bigorders" -> 1, "q19_disjunct" -> 1, "q21_waiting" -> 1)) {
      val p = SparkEntry.queries(q)(spark, sf01)
        .queryExecution.explainString(FormattedMode)
      val n = "BroadcastHashJoin".r.findAllIn(p).length
      assert(n >= minBhj, s"$q at sf0.1: expected >=$minBhj BroadcastHashJoin, got $n:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q at sf0.1 went cartesian:\n$p")
    }
  }

  test("ev_cumsum: running totals cost exactly one exchange (the window partition shuffle)") {
    val p = plan("ev_cumsum")
    // count node headers ("(3) Exchange"), not tree+details double mentions
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).length == 1, p)
  }

  test("dedup_minhash_lsh: banded candidate generation never goes cartesian") {
    val p = plan("dedup_minhash_lsh")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("dedup verify joins force no broadcast hints (|docs|-sized cnt must degrade to shuffle, not OOM)") {
    // AQE may still CHOOSE broadcast at test scale from runtime stats —
    // the invariant is that nothing in the plan MANDATES it.
    // dedup_incremental's candidate set is |batch| × fan-out — unbounded
    // in absolute terms, so a mandated broadcast there is an executor OOM
    // at 100 TB (the r6 judge's top scale-killer finding)
    // the index-probe spellings ride probeFrames, whose candidate join
    // was un-forced after the 100x scale bench OOM'd the driver building
    // a corpus-scaled broadcast (the fixture's %10 batch grows with the
    // corpus) — AQE still broadcasts bounded batches, oversized ones
    // degrade to SMJ
    for (q <- Seq("dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_incremental",
        "dedup_containment", "dedup_containment_incr",
        "dedup_containment_idx", "dedup_span_keepfirst_idx")) {
      val df = SparkEntry.queries(q)(spark, dir)
      val hints = df.queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }
      assert(hints.isEmpty, s"$q mandates join strategies: $hints")
    }
  }

  test("bench plan dump: one non-empty formatted plan per query, failures marked") {
    // Bench.dumpPlans runs on every bench run → target/plans/; this smoke
    // check pins the artifact shape on a sample so the dump can't silently
    // rot (empty files, missing queries, swallowed plan failures)
    val tmp = java.nio.file.Files.createTempDirectory("graft-plans-")
    val sample = Seq("q1_agg", "dedup_exact", "doc_pack")
      .map(n => n -> SparkEntry.queries(n))
    val failed = graft.Bench.dumpPlans(spark, dir, sample, tmp)
    assert(failed.isEmpty, s"queries failed to plan: $failed")
    sample.foreach { case (n, _) =>
      val f = tmp.resolve(s"$n.txt")
      assert(java.nio.file.Files.exists(f), s"missing plan dump for $n")
      val text = java.nio.file.Files.readString(f)
      assert(text.contains("== Physical Plan =="), s"$n: not a formatted plan:\n$text")
      assert(!text.startsWith("PLAN FAIL"), s"$n: $text")
    }
  }

  test("text_split_assign: pure map pass — zero exchanges") {
    val p = plan("text_split_assign")
    assert(!p.contains("Exchange"), s"split assignment must not shuffle:\n$p")
  }

  test("text_minhash_sig / emb_centroid: one exchange each, partial agg map-side") {
    // signature/centroid builds are scan → partial HashAggregate → ONE
    // key exchange → final agg: no distinct shuffle (min/sum over
    // multisets), no second exchange
    for (q <- Seq("text_minhash_sig", "emb_centroid")) {
      val p = plan(q)
      // tree nodes only ("Exchange (5)"); the formatted details section
      // repeats each node as "(5) Exchange"
      val exchanges = "Exchange \\(".r.findAllIn(p).size
      assert(exchanges == 1, s"$q: expected exactly 1 exchange, got $exchanges:\n$p")
      assert(p.contains("HashAggregate"), s"$q: hash aggregate missing:\n$p")
    }
  }

  test("doc_shuffle: per-shard windows — the epoch permutation never globally sorts") {
    val p = plan("doc_shuffle")
    // the window partitions by shard: a hash exchange, never a
    // SinglePartition funnel or a global Sort+Exchange(range)
    assert(!p.contains("SinglePartition"), s"epoch shuffle funnels into one task:\n$p")
    assert(!p.contains("rangepartitioning"), s"epoch shuffle plans a global sort:\n$p")
  }

  test("decontam_bloom: bloom prefilter mandates no join strategy (exact verify degrades to shuffle)") {
    val df = SparkEntry.queries("decontam_bloom")(spark, dir)
    val hints = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.isEmpty, s"decontam_bloom mandates join strategies: $hints")
    // the bloom membership test must appear as a codegen
    // graft_bloom_contains filter (the prefilter shrinks candidates
    // before the verify join's exchange) — and NEVER as a ScalaUDF,
    // which would put a serde boundary on every corpus shingle
    val p = plan("decontam_bloom")
    assert(p.contains("graft_bloom_contains"),
      s"bloom membership filter not in plan:\n$p")
    assert(!p.contains("UDF"), s"ScalaUDF back in the bloom path:\n$p")
  }

  test("text_heavy_hitters: the sketch aggregates map-side (no token-space shuffle)") {
    val p = plan("text_heavy_hitters")
    // like ev_kmv_distinct: partial ObjectHashAggregate below the exchange
    // means each partition ships one k-entry summary, never raw tokens
    val nAgg = "ObjectHashAggregate".r.findAllIn(p).length
    assert(nAgg >= 2, s"expected partial+final ObjectHashAggregate, plan:\n$p")
    assert("(?s)ObjectHashAggregate.*Exchange.*ObjectHashAggregate".r.findFirstIn(p).isDefined, p)
  }

  test("knn_retrieve: hit-set joins back to documents without sorting either side") {
    val p = plan("knn_retrieve")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("dedup_simhash: pigeonhole banding — candidates join on (band, bits), never all-pairs") {
    val p = plan("dedup_simhash")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("dedup_embed_cosine: LSH bands — candidates join on (band, bits), never all-pairs") {
    val p = plan("dedup_embed_cosine")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("knn_ivfpq: probes broadcast against the coded corpus — the corpus is never shuffled or sorted") {
    val p = plan("knn_ivfpq")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("Exchange hashpartitioning(neighbor_id"), p)
  }

  test("ev_interval_attr: the interval join keys on (user, grid cell) — never a cartesian/BNLJ") {
    val p = plan("ev_interval_attr")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("dedup_semantic(+incr): within-cluster joins key on the cell — never all-pairs") {
    for (q <- Seq("dedup_semantic", "dedup_semantic_incr")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
    }
  }

  test("doc_pack: the corpus-wide prefix sum never plans a single-partition exchange") {
    val p = plan("doc_pack")
    assert(!p.contains("SinglePartition"), s"global cumsum funnels into one task:\n$p")
    // the in-bucket window still exists — partitioned by the range bucket
    assert(p.contains("Window"), p)
  }

  test("knn_self_topk: corpus self-join shuffles on the bucket — no cartesian, no broadcast of the corpus") {
    val p = plan("knn_self_topk")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // both sides are |corpus| — nothing may mandate a broadcast
    val df = SparkEntry.queries("knn_self_topk")(spark, dir)
    val hints = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.isEmpty, s"knn_self_topk mandates join strategies: $hints")
  }

  test("text_decontam: the corpus side joins the eval shingle set without a mandated broadcast") {
    val df = SparkEntry.queries("text_decontam")(spark, dir)
    val hints = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.isEmpty, s"text_decontam mandates join strategies: $hints")
    val p = plan("text_decontam")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sample_weighted: deterministic sampling is a shuffle-free map pass") {
    val p = plan("sample_weighted")
    assert(!p.contains("Exchange"), s"sample_weighted shuffles:\n$p")
  }

  test("pipeline_curate: the whole curation DAG plans without a single-partition stage or cartesian") {
    curationPlan("pipeline_curate") { (_, p) =>
      assert(!p.contains("SinglePartition"), s"curation funnels into one task:\n$p")
      assert(!p.contains("CartesianProduct"), p)
    }
  }

  test("ev_topk_per_user: rank filter plans a PARTIAL WindowGroupLimit below the exchange") {
    val p = plan("ev_topk_per_user")
    // Spark's InferWindowGroupLimit turns rank<=k into map-side top-k —
    // each input partition forwards at most k rows per user, so the
    // shuffle carries O(users × k), not the full event stream. Pin it so
    // a rewrite of the query (or a conf regression) can't silently fall
    // back to the full-shuffle window.
    assert("(?s)WindowGroupLimit.*Exchange.*WindowGroupLimit".r.findFirstIn(p).isDefined,
      s"expected partial+final WindowGroupLimit around the exchange:\n$p")
    assert(p.contains("Partial"), p)
  }

  test("ev_quantile_sample: the sample filter fuses into the scan stage; one agg exchange") {
    val p = plan("ev_quantile_sample")
    // the hash-membership filter must sit directly on the parquet scan
    // (nodes 1+2 of the tree) — at 100 TB this is the difference between
    // shuffling the full stream and shuffling the R-fold-reduced sample
    assert(p.contains("(1) Scan parquet") && p.contains("(2) Filter"), p)
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).length == 1,
      s"sample quantiles should cost exactly the one per-type agg shuffle:\n$p")
  }

  test("ev_kmv_distinct: the sketch aggregates map-side (no distinct shuffle of the key space)") {
    val p = plan("ev_kmv_distinct")
    // TypedImperativeAggregate plans as ObjectHashAggregate; partial below
    // the exchange means the shuffle carries |types| × k longs, never the
    // raw (type, user) pairs an exact distinct must move
    val nAgg = "ObjectHashAggregate".r.findAllIn(p).length
    assert(nAgg >= 2, s"expected partial+final ObjectHashAggregate, plan:\n$p")
    assert("(?s)ObjectHashAggregate.*Exchange.*ObjectHashAggregate".r.findFirstIn(p).isDefined, p)
    // exactly one exchange node: the final agg's type shuffle (formatted
    // plans list each node once in the tree and once in the detail
    // section — count the numbered detail headers)
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).length == 1,
      s"extra shuffles in the sketch plan:\n$p")
  }

  test("corpus_overlap: one corpus pass builds signatures; the pair matrix joins signature-sized sides") {
    val p = plan("corpus_overlap")
    assert(!p.contains("CartesianProduct"), p)
    // the pairwise join is on the |sources|-row signature table — it must
    // be a broadcast nested loop (inequality condition), never a shuffled
    // corpus-side join
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    // min-over-multiset == min-over-set, so there is NO distinct shuffle:
    // each corpus branch costs exactly one |sources|-keyed exchange (the
    // signature agg), 2 total for the self-joined pair matrix
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).length <= 2,
      s"distinct shuffle crept back into the signature build:\n$p")
  }

  test("text_bigram_surprise: the frequency table joins back without a hint; no corpus sort") {
    val p = plan("text_bigram_surprise")
    // the vocabulary²-bounded bigram table must come back AQE-broadcast
    // or shuffled as the stats decide — never a forced hint, never a
    // corpus-side sort or cartesian
    assert(!p.contains("broadcast"), s"forced broadcast hint:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Sort "), s"unexpected sort:\n$p")
  }

  test("text_gopher_rep: the repetition battery is a shuffle-free map pass") {
    // dup-n-gram fractions computed with row-local higher-order array
    // ops — the grouped (doc_id, ngram) spelling would shuffle the whole
    // n-gram stream; pin that it never comes back
    val p = plan("text_gopher_rep")
    assert(!p.contains("Exchange"), s"repetition battery shuffles:\n$p")
  }

  test("pipeline_select: the selection DAG plans no cartesian; single-partition stages are the scalar totals only") {
    val p = plan("pipeline_select")
    // the only nested-loop joins allowed are the 1-row totals/fallback
    // cross joins each stage carries; a real cartesian (corpus × corpus)
    // means a stage lost its key
    assert(!p.contains("CartesianProduct"), p)
    // global scalar totals (DSIR rt/tt over the B-row feature table, the
    // domain-rate totals over the 2^SemBits-row cell table) legitimately
    // gather ONE partial row per partition — bounded regardless of corpus
    // size. Anything beyond those three means a corpus-sized stage
    // funnelled into one task.
    val nSingle = "SinglePartition".r.findAllIn(p).length
    assert(nSingle <= 3, s"unexpected single-partition exchanges ($nSingle):\n$p")
  }

  test("sample_importance: no mandated broadcast; corpus-side shuffles are the two aggs only") {
    val p = plan("sample_importance")
    // the B-row ratio table must join back without a forced hint (the
    // dedup-broadcast doctrine: degrade to shuffle, not OOM) …
    assert(!p.contains("broadcast"), s"forced broadcast hint:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // … and the corpus side pays exactly: the feature-count agg exchange,
    // the per-doc agg exchange, and (pre-AQE) the B-row join's exchanges —
    // never a corpus-sized distinct or sort
    assert(!p.contains("Sort "), s"unexpected sort:\n$p")
  }

  test("text_cms_counts: the CMS matrix aggregates map-side; the probe join is sketch-sized") {
    val p = plan("text_cms_counts")
    // partial ObjectHashAggregate below the exchange: the shuffle carries
    // d×w longs per partition, never the raw token stream
    assert("(?s)ObjectHashAggregate.*Exchange.*ObjectHashAggregate".r.findFirstIn(p).isDefined, p)
    // the probe side joins the 1-ROW sketch — a broadcast nested loop is
    // the right plan there; a shuffled CartesianProduct is not
    assert(!p.contains("CartesianProduct"), s"sketch join went cartesian:\n$p")
  }

  test("pipeline_clean: the cleaning DAG plans no cartesian, no forced broadcast, no single-partition stage") {
    val p = plan("pipeline_clean")
    assert(!p.contains("SinglePartition"), s"cleaning funnels into one task:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("broadcast"), s"forced broadcast hint:\n$p")
  }

  test("decontam_semantic: the eval probe keys on the cell — no cartesian, no forced broadcast") {
    val p = plan("decontam_semantic")
    assert(!p.contains("broadcast"), s"forced broadcast hint:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("dedup_lines / dedup_span_scrub: hash-keyed joins, no forced broadcast, no pairwise join") {
    for (q <- Seq("dedup_lines", "dedup_lines_incr", "dedup_span_scrub",
        "dedup_span_keepfirst", "dedup_span_keepfirst_incr",
        "pipeline_curate_spans")) {
      val p = plan(q)
      // the duplicated-hash table must not be hint-forced to broadcast
      // (data-dependent size: degrade to shuffle, not OOM) and nothing
      // may plan pairwise — cost stays O(segments)/O(occurrences)
      assert(!p.contains("broadcast"), s"$q forced broadcast hint:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
      // joins key on the 8-byte segment/trigram hash or doc_id — raw
      // text never partitions an exchange
      assert("hashpartitioning\\([^)]*(text|seg|w)#".r.findFirstIn(p).isEmpty,
        s"$q shuffles raw text:\n$p")
    }
  }

  test("dedup_best_keep: representative pick is one window pass — no agg-then-join-back on cluster_id") {
    val p = plan("dedup_best_keep")
    assert(p.contains("row_number"), s"window rank missing:\n$p")
    // exactly ONE exchange partitions on cluster_id (feeding the stacked
    // window ops); the old agg-then-join-back shape needed 2+ and
    // re-executed the entire clustering lineage for the join's second
    // reference — the 28 s r8 bench outlier
    val n = "hashpartitioning\\(cluster_id".r.findAllIn(p).length
    assert(n == 1, s"expected 1 cluster_id exchange, got $n:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("mix_epoch_cap: one corpus pass — every water-fill reference reads the cached per-source table") {
    val p = plan("mix_epoch_cap")
    // the O(sources) table is cached; ranked/totals/level/final all read
    // InMemoryTableScan — uncached, the corpus aggregation ran twice
    assert(p.contains("InMemoryTableScan"), s"per-source table not cached:\n$p")
    // the only joins are the 1-row totals/level cross joins (broadcast);
    // nothing corpus-sized ever sorts or merge-joins
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("split_leakage: rides the pair machinery — no cartesian, no forced broadcast, split joins keyed on doc ids") {
    val p = plan("split_leakage")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("broadcast"), s"forced broadcast hint:\n$p")
    // raw text never partitions an exchange (the dedup_lines doctrine)
    assert("hashpartitioning\\([^)]*text#".r.findFirstIn(p).isEmpty,
      s"shuffles raw text:\n$p")
  }

  test("knn_lsh: hyperplane buckets are computed once into a cached relation; both probe sides read it") {
    val p = plan("knn_lsh")
    // both the broadcast query side and the candidate side must scan the
    // SAME cached bucketed corpus — the local analog of bucket-partitioned
    // storage; without it the plane dots + norms run once per side
    val scans = "InMemoryTableScan".r.findAllIn(p).length
    assert(scans >= 2, s"expected both sides on the cached bucketed corpus:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("doc_pack under the native learned tokenizer: plan shape is tokenizer-agnostic, no UDF boundary") {
    import org.apache.spark.sql.execution.FormattedMode
    // the seam's contract at scale: swapping the counter changes ONE
    // projection expression, never the exchange structure — a 30k-merge
    // production vocabulary packs with the same plan as whitespace
    val merges = graft.operators.BpeTrainer.trainReference(
      Map("lowest" -> 3L, "lower" -> 2L, "low" -> 4L), 40)
    assert(merges.nonEmpty)
    val native = graft.functions.Tokenizer.LearnedNative(merges)
    val pWs = graft.queries.CorpusQueries
      .docPack(spark, dir, graft.functions.Tokenizer.Whitespace)
      .queryExecution.explainString(FormattedMode)
    val pNat = graft.queries.CorpusQueries.docPack(spark, dir, native)
      .queryExecution.explainString(FormattedMode)
    def exchanges(p: String) = "\\(\\d+\\) Exchange".r.findAllIn(p).length
    assert(exchanges(pNat) == exchanges(pWs),
      s"learned tokenizer changed the exchange structure:\nws:\n$pWs\nnative:\n$pNat")
    assert(pNat.contains("graft_bpe_count"), pNat)
    assert(!pNat.contains("ScalaUDF"), s"UDF boundary in the learned-tokenizer pack:\n$pNat")
    // and no single-partition funnel appeared (the GlobalCumsum guarantee
    // holds under either counter)
    assert(!pNat.contains("SinglePartition"), pNat)
  }

  test("layout_zorder: the key projection is a zero-exchange codegen'd map pass") {
    val p = plan("layout_zorder")
    // after the (driver-side) stats row, the z-value is pure row-local
    // arithmetic — at 100 TB this is one scan, no shuffle of any kind
    assert(!p.contains("Exchange"), s"layout_zorder shuffles:\n$p")
    assert(p.contains("* Project"), s"z key not codegen'd:\n$p")
  }

  test("ev_kmv_setops: one corpus aggregate, pair algebra on sketch-sized rows (no cartesian blowup on events)") {
    val p = plan("ev_kmv_setops")
    // the self-join runs on the |types|-row sketch table — a broadcast
    // nested-loop over KB-sized sides is fine; what must NOT happen is
    // events joining events. The events scan appears exactly once.
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(p).length <= 2, p)
    assert("graft_kmv".r.findAllIn(p).nonEmpty, p)
  }

  test("dedup_pagerank: no single-partition funnel, no cartesian — iterations are edge-keyed exchanges") {
    val p = plan("dedup_pagerank")
    assert(!p.contains("SinglePartition"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("pipeline_audit: stage joins stay keyed (no cartesian), raw text never a partitioning key") {
    curationPlan("pipeline_audit") { (_, p) =>
      assert(!p.contains("CartesianProduct"), p)
      assert("hashpartitioning\\([^)]*text#".r.findFirstIn(p).isEmpty, p)
    }
  }

  test("decontam_runs/scrub: islands window partitions on (pair, diag) — no cartesian, no single partition, no text keys") {
    // pipeline_curate_scrub rides the same scrubFrames algebra over the
    // curated frames — the island windows must stay (pair, diag)-keyed
    // there too (a stage composition must not regress the operator's plan)
    def check(q: String, p: String): Unit = {
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      assert(!p.contains("SinglePartition"), s"$q:\n$p")
      assert("hashpartitioning\\([^)]*text#".r.findFirstIn(p).isEmpty, s"$q:\n$p")
      // the island rank is a per-(pair, diagonal) window, never global:
      // the window's required exchange hash-partitions on (t_doc, e_doc,
      // diag) together — a global or pair-only window would show a
      // different spec (decontam_scrub's island-size window rides the
      // same exchange)
      assert("hashpartitioning\\(t_doc#\\d+L?, e_doc#\\d+L?, diag#\\d+"
        .r.findFirstIn(p).isDefined, s"$q:\n$p")
    }
    for (q <- Seq("decontam_runs", "decontam_scrub")) check(q, plan(q))
    curationPlan("pipeline_curate_scrub")((_, p) => check("pipeline_curate_scrub", p))
  }

  test("near-dup pipeline queries: no cartesian, no text-keyed exchange, no single-partition funnel") {
    for (q <- Seq("pipeline_curate_neardup", "pipeline_audit_neardup",
        "pipeline_audit_full")) {
      curationPlan(q) { (_, p) =>
        assert(!p.contains("CartesianProduct"), s"$q:\n$p")
        assert(!p.contains("SinglePartition"), s"$q:\n$p")
        assert("hashpartitioning\\([^)]*text#".r.findFirstIn(p).isEmpty, s"$q:\n$p")
      }
    }
  }

  test("novelty family and SNM: hash-keyed shuffles only — no cartesian, no text keys, no single partition") {
    for (q <- Seq("text_novelty", "text_novelty_incr", "mix_novelty",
        "corpus_dup_sources", "dedup_sorted_neighborhood")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      assert(!p.contains("SinglePartition"), s"$q:\n$p")
      assert("hashpartitioning\\([^)]*text#".r.findFirstIn(p).isEmpty, s"$q:\n$p")
    }
  }

  // ---- plan-SIZE regression pins (round-13 verdict #2): Catalyst plans
  // are trees, not DAGs, so a composed stage that re-references a
  // multi-reference upstream K times multiplies node count per stage —
  // the failure is the DRIVER dying while merely FORMATTING the plan
  // (explainString OOM), independent of data size and cluster size. The
  // operator-level compositions (CurationJob.run, DailyIncrement
  // .runBatch) carry in-code PlanGuard.assertBounded at their lineage
  // cuts — their full-stack specs ARE those pins. Here: the query-level
  // capstone stays bounded, and the guard itself is proven to trip on a
  // genuinely blown tree, so a removed checkpoint can never fail silent.

  test("plan-size: the composed curation capstones stay tree-bounded (no multiplicative stage blowup)") {
    for (q <- Seq("pipeline_curate_full", "pipeline_curate_neardup",
        "pipeline_curate_scrub", "pipeline_curate_spans", "pipeline_audit_full")) {
      curationPlan(q) { (df, p) =>
        val n = graft.plans.PlanGuard.nodeCount(df, cap = 10000)
        assert(n <= 10000, s"$q: analyzed plan exceeds 10k nodes ($n+) — a " +
          "stage re-composition multiplied the tree; cut lineage at the " +
          "stage boundary (PlanGuard scaladoc)")
        // formatting must also stay cheap — this is the exact site that
        // OOM'd r13's suite runs
        assert(p.length < 4000000, s"$q: formatted plan unexpectedly large")
      }
    }
  }

  test("plan-size: PlanGuard trips on a multiplicatively blown tree (capped walk, no enumeration)") {
    import spark.implicits._
    // double the plan 14 times: 2^14 leaf references — small data, a tree
    // already over the guard cap (kept modest: ANALYSIS is itself O(tree),
    // which is the whole point of guarding)
    var df = Seq(1L, 2L, 3L).toDF("v")
    for (_ <- 1 to 14) df = df.union(df)
    val n = graft.plans.PlanGuard.nodeCount(df, cap = 10000)
    assert(n > 10000, s"expected capped overflow, got $n")
    val e = intercept[IllegalArgumentException] {
      graft.plans.PlanGuard.assertBounded(df, "spec-blown-tree")
    }
    assert(e.getMessage.contains("spec-blown-tree"), e.getMessage)
  }
}
