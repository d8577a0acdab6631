package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Bm25Index, CurationJob, DailyIncrement, DsirModel, Takedown}
import graft.queries.CorpusQueries

/** The daily-increment path: day0 CurationJob over the corpus split +
  * one DailyIncrement over the batch split must land artifacts
  * equivalent to a from-scratch job over the union — manifest rows
  * match the corpus-precedes-batch reference, BM25 probes agree with a
  * fresh rebuild of the union, shard ids stay contiguous with in-budget
  * offsets, the DSIR table equals a direct fit, and the vector index
  * holds exactly the kept ids.
  *
  * Decontam semantics under composition are SEQUENTIAL-UNION (see the
  * DailyIncrement header): batch k checks against day0 ∪ eval survivors
  * of batches 1..k, and appends its own eval survivors to the persisted
  * outDir/evalh benchmark. A from-scratch combined rebuild additionally
  * checks earlier batches against later eval survivors, so
  * rebuild ⊆ daily with the difference exactly the earlier-batch docs
  * contaminated only by later eval shingles — pinned below. */
// multi-minute integration suite (~600 s of the 36:46 full run, r18
// timing) - excluded from the default budgeted `sbt test`, runs
// under SPARK_GRAFT_FULL_TESTS=1 (the round-close full tally)
@graft.Slow
class DailyIncrementSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  /** Driver-side mirror of graft_shingle60 over whitespace 3-shingles. */
  private def shingles(t: String): Set[Long] = {
    val w = t.split("\\s+").toSeq
    w.sliding(3).collect { case s if s.size == 3 =>
      graft.functions.expressions.Md5Prefix60.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(s.mkString(" ")))
    }.toSet
  }

  test("day0 + increment == union-rebuild across every artifact") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftExtensions.register(spark)
    val dir = Files.createTempDirectory("graft-daily-").toString
    val fullDir = Files.createTempDirectory("graft-daily-full-").toString

    val day0 = CurationJob.run(spark, sf, dir, docFilter = col("doc_id") % 10 =!= 0)
    val incr = DailyIncrement.run(spark, sf, dir, batchFilter = col("doc_id") % 10 === 0)
    assert(incr.nBatchKept > 0, "vacuous: no batch doc survived curation")

    // ---- manifest == day0 rows + the reference batch-curation ----
    val manifest = spark.read.parquet(s"$dir/curated")
      .select($"doc_id", $"n_tokens", $"digest")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val day0Rows = manifest.filter(_._1 % 10 != 0)
    // reference: quality gate, anti-join day0 digests, min-id per digest
    // within the batch, eval drop, >=50% eval-overlap drop
    val day0Digests = day0Rows.map(_._3)
    val docs = Tables.load(spark, sf, "documents")
    val quality = CorpusQueries.qualityGate(
        docs.filter($"doc_id" % 10 === 0)
          .select($"doc_id", $"text",
            size(graft.queries.CrossHash.tokens($"text")).cast("long").as("n_tokens")))
      .withColumn("digest", md5($"text"))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[String]("digest"), r.getAs[String]("text")))
    val afterAnti = quality.filter(q => !day0Digests.contains(q._3))
    val batchWinners = afterAnti.groupBy(_._3).values.map(_.minBy(_._1)).toSeq
    // the benchmark the batch decontam must apply: day0's GATE/DEDUP
    // SURVIVOR eval shingles (curatedEvalH — NOT the raw table: an eval
    // doc that fails the gate or loses dedup contributes nothing) ∪ this
    // batch's own eval-split survivors
    val evalShingles = {
      val e = CorpusQueries.curatedEvalH(spark, sf,
          docFilter = col("doc_id") % 10 =!= 0)
        .select($"h").as[Long].collect().toSet
      CorpusQueries.curatedKept(spark, sf,
        docFilter = col("doc_id") % 10 =!= 0).unpersist()
      e ++ batchWinners.filter(_._1 % CorpusQueries.EvalMod == 0)
        .flatMap(q => shingles(q._4))
    }
    val expectedBatch = batchWinners.filter { case (id, _, _, text) =>
      id % CorpusQueries.EvalMod != 0 && {
        val sh = shingles(text)
        sh.isEmpty || sh.count(evalShingles).toDouble / sh.size < 0.5
      }
    }.map(q => (q._1, q._2, q._3)).toSet
    assert(manifest.filter(_._1 % 10 == 0) == expectedBatch)
    assert(incr.nBatchKept == expectedBatch.size.toLong)

    // ---- evalh artifact: day0 benchmark ∪ batch eval survivors ----
    val storedEvalH = spark.read.parquet(s"$dir/evalh")
      .select($"h").distinct().as[Long].collect().toSet
    assert(storedEvalH == evalShingles,
      "persisted evalh != day0 survivors ∪ batch eval survivors")

    // ---- BM25: appended index probes == fresh rebuild over the union ----
    val keptIds = manifest.map(_._1)
    val unionDocs = docs.filter($"doc_id".isin(keptIds.toSeq: _*))
      .select($"doc_id", $"text")
    Bm25Index.build(unionDocs, s"$fullDir/bm25")
    val q = Seq((1L, "slow"), (1L, "merge"), (1L, "join"))
      .toDF("query_id", "term")
    def probeRows(path: String) =
      Bm25Index.probe(spark, path, q).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(probeRows(s"$dir/bm25") == probeRows(s"$fullDir/bm25"),
      "appended BM25 index diverges from the union rebuild")

    // ---- shards: contiguous ids, in-budget offsets, every doc once ----
    val shards = spark.read.parquet(s"$dir/shards")
      .select($"doc_id", $"n_tokens", $"shard".cast("long"), $"shard_offset")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(shards.map(_._1).toSet == keptIds, "shard docs != manifest docs")
    assert(shards.map(_._3).toSet == (0L until incr.nShardsTotal).toSet,
      "shard ids not contiguous")
    assert(shards.forall(s => s._4 >= 0 && s._4 < CorpusQueries.PackBudget))

    // ---- DSIR: appended model == direct fit over the union kept set ----
    val direct = DsirModel.fit(
        unionDocs.join(docs.select($"doc_id", $"lang"), "doc_id"),
        $"lang" === "en")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val stored = DsirModel.load(spark, s"$dir/dsir")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(stored == direct, "appended DSIR model != direct union fit")

    // ---- vectors: index ids == kept ids that have embeddings ----
    val vecIds = spark.read.parquet(s"$dir/vectors")
      .select($"vec_id").as[Long].collect().toSet
    val withEmb = Tables.load(spark, sf, "embeddings")
      .select($"vec_id").as[Long].collect().toSet
    assert(vecIds == keptIds.intersect(withEmb))

    // ---- tokenizer vocab: maintained count table == a recompute over
    // the union kept docs under the frozen day-0 merges ----
    val tokMerges = graft.operators.BpeTrainer.load(spark, s"$dir/tokenizer")
    val vocabGot = spark.read.parquet(s"$dir/tokenizer_vocab")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val vocabWant = graft.operators.BpeTrainer
      .vocabulary(unionDocs.select($"doc_id", $"text"), tokMerges)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(vocabGot == vocabWant, "maintained vocab != union recompute")
  }

  test("decontam reads the persisted evalh benchmark (seeded-hash drop)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftExtensions.register(spark)
    val dir = Files.createTempDirectory("graft-daily-seed-").toString
    CurationJob.run(spark, sf, dir, docFilter = col("doc_id") % 10 =!= 0)

    val docs = Tables.load(spark, sf, "documents")
    val day0Digests = spark.read.parquet(s"$dir/curated")
      .select($"digest").as[String].collect().toSet
    val day0EvalH = spark.read.parquet(s"$dir/evalh")
      .select($"h").distinct().as[Long].collect().toSet
    // a batch train doc curation WOULD keep: gate survivor, dedup winner,
    // not eval-split, with shingles and < 50% day0-eval overlap
    val winners = CorpusQueries.qualityGate(
        docs.filter($"doc_id" % 10 === 0)
          .select($"doc_id", $"text",
            size(graft.queries.CrossHash.tokens($"text")).cast("long").as("n_tokens")))
      .withColumn("digest", md5($"text"))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("digest"),
        r.getAs[String]("text")))
      .filter(w => !day0Digests.contains(w._2))
      .groupBy(_._2).values.map(_.minBy(_._1)).toSeq
    val cand = winners.filter { case (id, _, text) =>
        id % CorpusQueries.EvalMod != 0 && {
          val sh = shingles(text)
          sh.nonEmpty && sh.count(day0EvalH).toDouble / sh.size < 0.5
        }
      }.minBy(_._1)

    // an EXTERNAL benchmark extension: seed every shingle of the
    // candidate into the persisted artifact (overlap becomes 100%);
    // the synthetic -1 attribution marks an out-of-corpus source
    shingles(cand._3).toSeq.map(h => (-1L, h)).toDF("doc_id", "h")
      .write.mode("append").parquet(s"$dir/evalh")

    DailyIncrement.run(spark, sf, dir, batchFilter = col("doc_id") % 10 === 0)
    val batchKept = spark.read.parquet(s"$dir/curated")
      .select($"doc_id").as[Long].collect().toSet
    assert(!batchKept.contains(cand._1),
      s"doc ${cand._1} survived despite seeded evalh shingles — " +
        "decontam is not reading the persisted benchmark")
  }

  test("increments compose: sequential-union vs one combined batch, diff pinned") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftExtensions.register(spark)
    val twoDir = Files.createTempDirectory("graft-daily2-").toString
    val oneDir = Files.createTempDirectory("graft-daily1-").toString

    // same day0 corpus; the batch splits into two days vs one
    CurationJob.run(spark, sf, twoDir, docFilter = col("doc_id") % 10 =!= 0)
    CurationJob.run(spark, sf, oneDir, docFilter = col("doc_id") % 10 =!= 0)
    val d1 = DailyIncrement.run(spark, sf, twoDir, batchFilter = col("doc_id") % 20 === 0)
    val d2 = DailyIncrement.run(spark, sf, twoDir, batchFilter = col("doc_id") % 20 === 10)
    val one = DailyIncrement.run(spark, sf, oneDir, batchFilter = col("doc_id") % 10 === 0)
    assert(d1.nBatchKept > 0 && d2.nBatchKept > 0)

    def manifestOf(d: String) = spark.read.parquet(s"$d/curated")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val two = manifestOf(twoDir)
    val oneM = manifestOf(oneDir)

    // the persisted benchmark converges: day0 ∪ ALL batch eval survivors
    // regardless of how the batch was split into days
    def evalhOf(d: String) = spark.read.parquet(s"$d/evalh")
      .select($"h").distinct().as[Long].collect().toSet
    val fullEvalH = evalhOf(oneDir)
    assert(evalhOf(twoDir) == fullEvalH,
      "evalh artifact diverges between split and combined runs")

    // the combined rebuild checks EVERY batch doc against the full
    // benchmark; the sequential path cannot retroactively drop day-1
    // docs contaminated only by day-2 eval survivors. So rebuild ⊆
    // daily, and the diff is EXACTLY the day-1 kept docs whose overlap
    // with the full benchmark crosses 50% (day-2 docs see the full
    // benchmark in both runs — they can never diverge).
    assert(oneM.subsetOf(two), "combined rebuild kept a doc the daily path dropped")
    val lateContam = two -- oneM
    assert(lateContam.forall(_._1 % 20 == 0),
      s"non-day-1 docs diverged: ${lateContam.filter(_._1 % 20 != 0)}")
    val textOf = Tables.load(spark, sf, "documents")
      .filter($"doc_id".isin(two.filter(_._1 % 20 == 0).map(_._1).toSeq: _*))
      .select($"doc_id", $"text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val expectedLate = two.filter(t => t._1 % 20 == 0 && {
      val sh = shingles(textOf(t._1))
      sh.nonEmpty && sh.count(fullEvalH).toDouble / sh.size >= 0.5
    })
    assert(lateContam == expectedLate,
      "daily-vs-rebuild diff != docs contaminated only by later eval survivors")
    assert(d1.nBatchKept + d2.nBatchKept == one.nBatchKept + lateContam.size)

    // shards: per-dir invariants + totals follow each dir's token mass
    val budget = CorpusQueries.PackBudget
    for ((d, total, m) <- Seq((twoDir, d2.nShardsTotal, two),
        (oneDir, one.nShardsTotal, oneM))) {
      val sh = spark.read.parquet(s"$d/shards")
        .select($"doc_id", $"shard".cast("long"), $"shard_offset")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(sh.map(_._1).toSet == m.map(_._1))
      assert(sh.map(_._2).toSet == (0L until total).toSet, "shard ids not contiguous")
      assert(sh.forall(s => s._3 >= 0 && s._3 < budget))
      val tokens = m.toSeq.map(_._2).sum
      assert(total == (tokens + budget - 1) / budget,
        s"$d: shard count $total != ceil($tokens / $budget)")
    }

    // DSIR: each dir's model == a direct fit over its own kept set
    val docs = Tables.load(spark, sf, "documents")
    def dsirOf(d: String) = DsirModel.load(spark, s"$d/dsir")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    for ((d, m) <- Seq(twoDir -> two, oneDir -> oneM)) {
      val direct = DsirModel.fit(
          docs.filter($"doc_id".isin(m.map(_._1).toSeq: _*))
            .select($"doc_id", $"text")
            .join(docs.select($"doc_id", $"lang"), "doc_id"),
          $"lang" === "en")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(dsirOf(d) == direct, s"$d: appended DSIR model != direct fit")
    }
  }

  test("a GATE-FAILING eval doc contributes no benchmark shingles — day0 and daily path") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftExtensions.register(spark)
    val M = CorpusQueries.EvalMod // 17
    // Synthetic corpus discriminating survivor-derived evalh from a
    // raw-eval-docs spelling:
    //  - doc 17 (eval) has 4 tokens -> FAILS the quality gate (n>=5);
    //    doc 101 duplicates its shingles at 2/3 overlap (>=50%) and MUST
    //    survive — it would be dropped if evalh read raw eval docs;
    //  - doc 34 (eval) PASSES the gate; doc 102 overlaps it 4/5 and MUST
    //    be dropped — proves the pin is not vacuously green.
    val day0 = Seq(
      (17L, "alpha beta gamma delta", "en", "webA", 22L),
      (34L, "one two three four five six", "en", "webA", 27L),
      (1L, "filler words for a perfectly ordinary document here", "en", "webB", 51L),
      (2L, "another unremarkable training document with plain text", "en", "webB", 54L))
    val batch = Seq(
      (101L, "alpha beta gamma delta epsilon", "en", "webC", 30L),
      (102L, "one two three four five six seven", "en", "webC", 33L),
      // batch-side replica of the same distinction: eval doc 170 fails
      // the gate; 171 overlaps it and must survive the SAME batch
      (170L, "pea quay rho sig", "en", "webC", 16L),
      (171L, "pea quay rho sig tau", "en", "webC", 20L))
    assert(170L % M == 0 && 34L % M == 0 && 17L % M == 0)
    val synth = Files.createTempDirectory("graft-synth-sf-").toString
    (day0 ++ batch).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$synth/documents.parquet")
    Seq((1L, Array.fill(64)(0.1f), 0), (2L, Array.fill(64)(0.2f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$synth/embeddings.parquet")

    val dir = Files.createTempDirectory("graft-evalgate-").toString
    CurationJob.run(spark, synth, dir, docFilter = col("doc_id") < 100)
    val day0EvalH = spark.read.parquet(s"$dir/evalh")
      .select($"doc_id", $"h").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(day0EvalH.map(_._1) == Set(34L),
      s"evalh attribution != gate-surviving eval docs: ${day0EvalH.map(_._1)}")
    assert(day0EvalH.map(_._2) == shingles("one two three four five six"),
      "evalh != the surviving eval doc's shingles")

    DailyIncrement.run(spark, synth, dir, batchFilter = col("doc_id") >= 100)
    val kept = spark.read.parquet(s"$dir/curated")
      .select($"doc_id").as[Long].collect().toSet
    assert(kept.contains(101L),
      "doc 101 dropped: a gate-failing eval doc's shingles leaked into the benchmark")
    assert(kept.contains(171L),
      "doc 171 dropped: the daily path let a gate-failing batch eval doc contaminate")
    assert(!kept.contains(102L),
      "doc 102 survived: the pin is vacuous — gate-passing eval overlap not enforced")
    assert(!kept.exists(id => id % M == 0), "an eval-split doc reached the train manifest")
    spark.catalog.clearCache()
  }

  test("near-dup gate + maintained shingle/overlap indexes: day0 + increments == union rebuild") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftExtensions.register(spark)
    // Synthetic corpus with the near-dup geometry pinned (30-word docs,
    // 28 word-3-shingles; a 4-word suffix swap lands j = 24/32 = 0.75, a
    // 4-word mid-zone swap j = 22/34 ≈ 0.647, both changes together
    // j = 18/38 ≈ 0.474 — straddling the 0.6 threshold):
    //  - d11 near-dups d10 (0.75): day0 keeps 10, drops 11 — but 11 stays
    //    in the PRE-near-dup index;
    //  - b101 near-dups ONLY d11 (0.647 vs 11, 0.474 vs 10): it must drop,
    //    which only an index holding the day-0 near-dup LOSER can see;
    //  - b100 near-dups d10; b106 near-dups ONLY b100: the corpus-linked
    //    batch component {100,106} drops whole (rebuild keeper is d10);
    //  - b103/b104 near-dup each other only: unlinked component, keep 103;
    //  - batch2: b200 near-dups b103 (batch-1 keeper), b201 near-dups
    //    ONLY b104 (batch-1 loser, in the index) — both drop;
    //  - d12, d13, b105, b202 unique — kept.
    def zone(base: Seq[String], from: Int, p: String): Seq[String] =
      base.zipWithIndex.map { case (w, i) =>
        if (i >= from - 1 && i <= from + 2) s"$p$i" else w }
    val P = (1 to 26).map(i => s"p$i")
    val U = (1 to 26).map(i => s"u$i")
    def t(ws: Seq[String]) = ws.mkString(" ")
    def uniq(p: String) = (1 to 30).map(i => s"$p$i").mkString(" ")
    val qS = Seq("q27", "q28", "q29", "q30")
    val rS = Seq("r27", "r28", "r29", "r30")
    val sS = Seq("s27", "s28", "s29", "s30")
    val tS = Seq("ta27", "ta28", "ta29", "ta30")
    val day0 = Seq(
      (10L, t(P ++ qS)), (11L, t(P ++ rS)), (12L, uniq("v")), (13L, uniq("w")))
    val batch1 = Seq(
      (100L, t(zone(P, 10, "e") ++ qS)), (101L, t(zone(P, 10, "c") ++ rS)),
      (103L, t(U ++ sS)), (104L, t(U ++ tS)), (105L, uniq("x")),
      (106L, t(zone(zone(P, 10, "e"), 18, "f") ++ qS)))
    val batch2 = Seq(
      (200L, t(zone(U, 10, "g") ++ sS)), (201L, t(zone(U, 10, "h") ++ tS)),
      (202L, uniq("y")))
    val all = day0 ++ batch1 ++ batch2
    assert(all.forall(_._1 % CorpusQueries.EvalMod != 0), "test ids hit the eval split")
    val synth = Files.createTempDirectory("graft-nd-sf-").toString
    all.map { case (id, tx) => (id, tx, "en", "webA", tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$synth/documents.parquet")
    Seq((10L, Array.fill(64)(0.1f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$synth/embeddings.parquet")

    val dir = Files.createTempDirectory("graft-nd-daily-").toString
    val fullDir = Files.createTempDirectory("graft-nd-full-").toString
    val tables = Seq("graft_nd_daily", "graft_nd_daily_counts", "graft_nd_full",
      "graft_nd_full_counts", "graft_ov_daily", "graft_ov_full")
    try {
      CurationJob.run(spark, synth, dir, docFilter = col("doc_id") < 100,
        nearDupIndex = Some("graft_nd_daily"), overlapIndex = Some("graft_ov_daily"))
      def manifestIds(d: String) = spark.read.parquet(s"$d/curated")
        .select($"doc_id").as[Long].collect().toSet
      assert(manifestIds(dir) == Set(10L, 12L, 13L),
        s"day0 near-dup stage verdict wrong: ${manifestIds(dir)}")

      val inc1 = DailyIncrement.run(spark, synth, dir,
        batchFilter = col("doc_id") >= 100 && col("doc_id") < 200,
        nearDupIndex = Some("graft_nd_daily"), overlapIndex = Some("graft_ov_daily"))
      assert(inc1.nBatchKept == 2,
        s"batch1 expected keepers {103,105}, kept ${inc1.nBatchKept}")
      assert(manifestIds(dir) == Set(10L, 12L, 13L, 103L, 105L), manifestIds(dir).toString)

      val inc2 = DailyIncrement.run(spark, synth, dir,
        batchFilter = col("doc_id") >= 200,
        nearDupIndex = Some("graft_nd_daily"), overlapIndex = Some("graft_ov_daily"))
      assert(inc2.nBatchKept == 1,
        s"batch2 expected keeper {202}, kept ${inc2.nBatchKept}")
      assert(manifestIds(dir) == Set(10L, 12L, 13L, 103L, 105L, 202L))

      // ---- union rebuild with the near-dup stage on: identical manifest ----
      CurationJob.run(spark, synth, fullDir, docFilter = lit(true),
        nearDupIndex = Some("graft_nd_full"), overlapIndex = Some("graft_ov_full"))
      def manifestRows(d: String) = spark.read.parquet(s"$d/curated")
        .select($"doc_id", $"n_tokens", $"digest")
        .collect().map(_.toSeq).toSet
      assert(manifestIds(fullDir) == manifestIds(dir),
        s"rebuild=${manifestIds(fullDir)} daily=${manifestIds(dir)}")
      assert(manifestRows(fullDir) == manifestRows(dir))

      // ---- the maintained dedup index == the rebuild's (probe equality
      // on a fresh doc pairing across the near-dup geometry) ----
      val probeDoc = Seq((9000L, t(P ++ Seq("q27", "q28", "q29", "z30"))))
        .toDF("doc_id", "text")
      def pairSet(table: String) =
        graft.operators.ShingleIndex.probe(spark, table, probeDoc, 0.6)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(pairSet("graft_nd_daily").nonEmpty, "vacuous index probe")
      assert(pairSet("graft_nd_daily") == pairSet("graft_nd_full"),
        "maintained shingle index != union rebuild's")

      // ---- the maintained overlap index == the rebuild's (runsProbe
      // equality on an eval doc quoting 10 verbatim words of kept d12) ----
      val evalProbe = Seq((9001L,
        ((5 to 14).map(i => s"v$i") ++ Seq("zz1", "zz2", "zz3")).mkString(" ")))
        .toDF("doc_id", "text")
      def runSet(table: String) =
        graft.operators.OverlapIndex.runsProbe(spark, table, evalProbe, 5L)
          .collect().map(_.toSeq).toSet
      assert(runSet("graft_ov_daily").nonEmpty, "vacuous overlap probe")
      assert(runSet("graft_ov_daily") == runSet("graft_ov_full"),
        "maintained overlap index != union rebuild's")
      // only MANIFEST docs flag runs (d11 is indexed for dedup, not overlap)
      assert(runSet("graft_ov_daily").forall(r =>
        manifestIds(dir).contains(r(1).asInstanceOf[Long])))

      // ---- appendAs retry semantics: re-running an already-committed
      // target is a no-op (the crash-after-internal-commit window) ----
      val before = spark.table("graft_ov_daily").count()
      graft.operators.OverlapIndex.appendAs(
        Seq((202L, uniq("y"))).toDF("doc_id", "text"), "graft_ov_daily", 2L)
      assert(spark.table("graft_ov_daily").count() == before,
        "appendAs re-applied an already-committed target")
      graft.operators.ShingleIndex.appendAs(
        Seq((202L, uniq("y"))).toDF("doc_id", "text"), "graft_nd_daily", 2L)
      assert(pairSet("graft_nd_daily") == pairSet("graft_nd_full"),
        "shingle appendAs re-applied an already-committed target")
      // a gapped target fails loud (stale staging)
      intercept[IllegalArgumentException] {
        graft.operators.OverlapIndex.appendAs(
          Seq((300L, uniq("zq"))).toDF("doc_id", "text"), "graft_ov_daily", 9L)
      }
    } finally {
      tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.catalog.clearCache()
    }
  }

  test("near-dup increment crash rolls forward through the index steps: no append lost or doubled") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftExtensions.register(spark)
    // same corpus shape as the pin above, day0 + one batch
    val P = (1 to 26).map(i => s"p$i")
    def uniq(p: String) = (1 to 30).map(i => s"$p$i").mkString(" ")
    val docs = Seq(
      (10L, (P ++ Seq("q27", "q28", "q29", "q30")).mkString(" ")),
      (11L, (P ++ Seq("r27", "r28", "r29", "r30")).mkString(" ")),
      (12L, uniq("v")),
      (100L, (P.zipWithIndex.map { case (w, i) =>
        if (i >= 9 && i <= 12) s"e$i" else w } ++
        Seq("q27", "q28", "q29", "q30")).mkString(" ")),
      (105L, uniq("x")))
    val synth = Files.createTempDirectory("graft-ndcrash-sf-").toString
    docs.map { case (id, tx) => (id, tx, "en", "webA", tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$synth/documents.parquet")
    Seq((10L, Array.fill(64)(0.1f), 0)).toDF("vec_id", "embedding", "label")
      .write.parquet(s"$synth/embeddings.parquet")
    val crashDir = Files.createTempDirectory("graft-ndcrash-").toString
    val cleanDir = Files.createTempDirectory("graft-ndclean-").toString
    val tables = Seq("graft_ndc", "graft_ndc_counts", "graft_ovc",
      "graft_ndr", "graft_ndr_counts", "graft_ovr")
    try {
      CurationJob.run(spark, synth, crashDir, docFilter = col("doc_id") < 100,
        nearDupIndex = Some("graft_ndc"), overlapIndex = Some("graft_ovc"))
      CurationJob.run(spark, synth, cleanDir, docFilter = col("doc_id") < 100,
        nearDupIndex = Some("graft_ndr"), overlapIndex = Some("graft_ovr"))
      val clean = DailyIncrement.run(spark, synth, cleanDir,
        batchFilter = col("doc_id") >= 100,
        nearDupIndex = Some("graft_ndr"), overlapIndex = Some("graft_ovr"))
      assert(clean.nBatchKept == 1, "expected only 105 to survive the batch")

      val batch = spark.read.parquet(s"$synth/documents.parquet")
        .filter($"doc_id" >= 100).select($"doc_id", $"text", $"lang")
      val embs = spark.read.parquet(s"$synth/embeddings.parquet")
        .select($"vec_id", $"embedding")
      DailyIncrement.stage(spark, batch, embs, crashDir,
        graft.functions.Tokenizer.Whitespace,
        nearDupIndex = Some("graft_ndc"), overlapIndex = Some("graft_ovc"))
      // die right after the dedup-index append committed — the overlap
      // append and staging cleanup have NOT run
      val boom = intercept[IllegalStateException] {
        DailyIncrement.applyPending(spark, crashDir, failAfter = Some("shingleidx"))
      }
      assert(boom.getMessage.contains("injected"))
      DailyIncrement.recover(spark, crashDir)
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$crashDir/_increment_pending")), "staging not cleared")

      def ids(d: String) = spark.read.parquet(s"$d/curated")
        .select($"doc_id").as[Long].collect().toSet
      assert(ids(crashDir) == ids(cleanDir), "manifest diverged after recover")
      val probeDoc = Seq((9000L, (P ++ Seq("q27", "q28", "q29", "z30")).mkString(" ")))
        .toDF("doc_id", "text")
      def pairSet(t: String) = graft.operators.ShingleIndex
        .probe(spark, t, probeDoc, 0.6)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(pairSet("graft_ndc") == pairSet("graft_ndr"),
        "dedup index diverged — the shingle append ran twice or not at all")
      val evalProbe = Seq((9001L,
        ((5 to 14).map(i => s"v$i") ++ Seq("zz1", "zz2")).mkString(" ")))
        .toDF("doc_id", "text")
      def runSet(t: String) = graft.operators.OverlapIndex
        .runsProbe(spark, t, evalProbe, 5L).collect().map(_.toSeq).toSet
      assert(runSet("graft_ovc").nonEmpty, "vacuous overlap probe")
      assert(runSet("graft_ovc") == runSet("graft_ovr"),
        "overlap index diverged — the append was lost in the crash window")

      // a replayed batch is a no-op across manifest AND indexes
      val replay = DailyIncrement.run(spark, synth, crashDir,
        batchFilter = col("doc_id") >= 100,
        nearDupIndex = Some("graft_ndc"), overlapIndex = Some("graft_ovc"))
      assert(replay.nBatchKept == 0, "replayed batch re-kept docs")
      assert(pairSet("graft_ndc") == pairSet("graft_ndr"), "replay mutated the dedup index")
      assert(runSet("graft_ovc") == runSet("graft_ovr"), "replay mutated the overlap index")
    } finally {
      tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.catalog.clearCache()
    }
  }

  test("scrub stage + maintained benchmark index: day0 + increments == union rebuild; replay and crash no-ops") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftExtensions.register(spark)
    // Scrub geometry (EvalMod = 17, MinRunTokens = 5): each benchmark doc
    // is 30 unique words; each quoting train doc carries a 7-token
    // verbatim quote (5 matching shingle starts → one island of 5 ≥
    // MinRunTokens−2 → 7 tokens excised; 5/28 distinct shingles shared =
    // 18% < the 50% decontam DROP cut, so the doc SURVIVES and scrubs).
    // Sequential-union safety for the rebuild equality: E1 appears only
    // in its own batch's train doc, E2 only in batch 2 — no later
    // benchmark content hits an earlier batch's train docs.
    //  - day0:  34=E0 (eval), 10 quotes E0, 12 unique
    //  - batch1: 119=E1 (eval), 100 quotes E0 (via the STANDING index),
    //            101 quotes E1 (via the batch's OWN eval union), 103 unique
    //  - batch2: 204=E2 (eval), 200 quotes E2, 201 quotes E0, 202 unique
    val mod = CorpusQueries.EvalMod
    def uniq(p: String) = (1 to 30).map(i => s"$p$i").mkString(" ")
    def quoting(p: String, ew: String, from: Int) =
      ((1 to 23).map(i => s"$p$i") ++ (from until from + 7).map(i => s"$ew$i"))
        .mkString(" ")
    val day0 = Seq((34L, uniq("e")), (10L, quoting("a", "e", 5)), (12L, uniq("v")))
    val batch1 = Seq((119L, uniq("f")), (100L, quoting("x", "e", 12)),
      (101L, quoting("y", "f", 5)), (103L, uniq("u")))
    val batch2 = Seq((204L, uniq("g")), (200L, quoting("z", "g", 5)),
      (201L, quoting("k", "e", 19)), (202L, uniq("m")))
    val all = day0 ++ batch1 ++ batch2
    assert(all.map(_._1).filter(_ % mod == 0).toSet == Set(34L, 119L, 204L),
      "eval-split geometry drifted")
    val synth = Files.createTempDirectory("graft-scrub-sf-").toString
    all.map { case (id, tx) => (id, tx, "en", "webA", tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$synth/documents.parquet")
    Seq((10L, Array.fill(64)(0.1f), 0)).toDF("vec_id", "embedding", "label")
      .write.parquet(s"$synth/embeddings.parquet")
    val dir = Files.createTempDirectory("graft-scrub-daily-").toString
    val fullDir = Files.createTempDirectory("graft-scrub-full-").toString
    val tables = Seq("graft_bi_daily", "graft_bi_full")
    try {
      CurationJob.run(spark, synth, dir, docFilter = col("doc_id") < 100,
        benchIndex = Some("graft_bi_daily"))
      def manifestRows(d: String) = spark.read.parquet(s"$d/curated")
        .select($"doc_id", $"n_tokens", $"digest")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(manifestRows(dir).map(r => (r._1, r._2)) == Set((10L, 23L), (12L, 30L)),
        s"day0 scrub verdict wrong: ${manifestRows(dir)}")

      val inc1 = DailyIncrement.run(spark, synth, dir,
        batchFilter = col("doc_id") >= 100 && col("doc_id") < 200,
        benchIndex = Some("graft_bi_daily"))
      assert(inc1.nBatchKept == 3)
      assert(manifestRows(dir).map(r => (r._1, r._2)) ==
        Set((10L, 23L), (12L, 30L), (100L, 23L), (101L, 23L), (103L, 30L)),
        s"batch1 scrub verdict wrong: ${manifestRows(dir)}")

      // batch2 through the CRASH seam: stage, die after evalh (before the
      // benchidx append), recover — the roll-forward must land the same
      // tree a clean run would
      val b2 = spark.read.parquet(s"$synth/documents.parquet")
        .filter($"doc_id" >= 200).select($"doc_id", $"text", $"lang")
      val embs = spark.read.parquet(s"$synth/embeddings.parquet")
        .select($"vec_id", $"embedding")
      DailyIncrement.stage(spark, b2, embs, dir,
        graft.functions.Tokenizer.Whitespace, benchIndex = Some("graft_bi_daily"))
      val boom = intercept[IllegalStateException] {
        DailyIncrement.applyPending(spark, dir, failAfter = Some("evalh"))
      }
      assert(boom.getMessage.contains("injected"))
      DailyIncrement.recover(spark, dir)
      assert(manifestRows(dir).map(r => (r._1, r._2)) ==
        Set((10L, 23L), (12L, 30L), (100L, 23L), (101L, 23L), (103L, 30L),
          (200L, 23L), (201L, 23L), (202L, 30L)),
        s"batch2 scrub verdict wrong after crash/recover: ${manifestRows(dir)}")

      // ---- union rebuild with the scrub stage on: identical manifest,
      // shards and benchmark index ----
      CurationJob.run(spark, synth, fullDir, docFilter = lit(true),
        benchIndex = Some("graft_bi_full"))
      assert(manifestRows(fullDir) == manifestRows(dir),
        s"rebuild=${manifestRows(fullDir)} daily=${manifestRows(dir)}")
      def shardRows(d: String) = spark.read.parquet(s"$d/shards")
        .select($"doc_id", $"n_tokens", $"shard".cast("long"), $"shard_offset")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(shardRows(fullDir) == shardRows(dir),
        "daily shards != union rebuild (post-scrub packing diverged)")
      def benchIds(t: String) = spark.table(t)
        .select($"doc_id").distinct().as[Long].collect().toSet
      assert(benchIds("graft_bi_daily") == Set(34L, 119L, 204L),
        s"maintained benchmark index ids: ${benchIds("graft_bi_daily")}")
      assert(benchIds("graft_bi_full") == benchIds("graft_bi_daily"))
      val probe = Seq((9000L,
        ("pre1 pre2 " + (5 to 11).map(i => s"e$i").mkString(" ") + " mid " +
          (5 to 11).map(i => s"g$i").mkString(" ") + " post").trim))
        .toDF("doc_id", "text")
      def scrubSet(t: String) = graft.operators.OverlapIndex
        .scrubProbe(spark, t, probe, CorpusQueries.MinRunTokens)
        .collect().map(_.toSeq).toSet
      assert(scrubSet("graft_bi_daily").nonEmpty, "vacuous benchmark probe")
      assert(scrubSet("graft_bi_daily") == scrubSet("graft_bi_full"),
        "maintained benchmark index != union rebuild's")
      // both quotes scrubbed: 7 + 7 of the probe's 18 tokens removed
      assert(scrubSet("graft_bi_daily").head(2) == 14L,
        s"probe scrub removed ${scrubSet("graft_bi_daily").head(2)} tokens, want 14")

      // ---- the exports consume the SCRUBBED text: a term that lived
      // only inside an excised quote is absent from bm25 (e12 appeared
      // solely in doc 100's quote of E0 — eval docs are never indexed),
      // while a term outside any run still resolves ----
      val gone = Bm25Index.probe(spark, s"$dir/bm25",
        Seq((1L, "e12")).toDF("query_id", "term")).count()
      assert(gone == 0L, "bm25 still indexes a scrubbed-away quote term")
      val there = Bm25Index.probe(spark, s"$dir/bm25",
        Seq((1L, "x1")).toDF("query_id", "term"))
        .select($"doc_id").as[Long].collect().toSet
      assert(there == Set(100L), s"bm25 lost a non-scrubbed term: $there")

      // ---- replayed batch: manifest, shards and benchmark index all
      // no-op (a re-delivered eval id must NOT duplicate its positioned
      // rows — membership anti-join) ----
      val rowsBefore = spark.table("graft_bi_daily").count()
      val replay = DailyIncrement.run(spark, synth, dir,
        batchFilter = col("doc_id") >= 200, benchIndex = Some("graft_bi_daily"))
      assert(replay.nBatchKept == 0, "replayed batch re-kept docs")
      assert(spark.table("graft_bi_daily").count() == rowsBefore,
        "replay duplicated benchmark occurrence rows")
      assert(manifestRows(fullDir) == manifestRows(dir))
    } finally {
      tables.foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS $t")
        spark.sql(s"DROP TABLE IF EXISTS ${t}_tombstones")
      }
      spark.catalog.clearCache()
    }
  }

  test("span stage + maintained passage index: day0 + increments == union rebuild; crash and replay no-ops") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftExtensions.register(spark)
    // geometry (all ids off the eval split; 30 tokens per doc):
    //   day0:   10 = 23a + S(7)  — S's keeper           → 30
    //           11 = uniq v                              → 30
    //           12 = 23b + S(7)  — loses S to 10         → 23
    //   batch1: 100 = 23x + S(7) — S committed (10 AND
    //           12's RAW claim is in the index)          → 23
    //           101 = 23y + T(7) — T's batch keeper      → 30
    //           103 = 23z + T(7) — loses T to 101        → 23
    //   batch2: 200 = 23w + T(7) — T committed           → 23
    //           201 = uniq m                              → 30
    // arrival-order keep-first ≡ union rebuild EXACTLY (keeper = min id
    // = first arrival; global keepers: S → 10, T → 101).
    val mod = CorpusQueries.EvalMod
    def uniq(p: String) = (1 to 30).map(i => s"$p$i").mkString(" ")
    def withSpan(p: String, sp: Seq[String]) =
      ((1 to 23).map(i => s"$p$i") ++ sp).mkString(" ")
    val spanS = (1 to 7).map(i => s"s$i")
    val spanT = (1 to 7).map(i => s"t$i")
    val day0 = Seq((10L, withSpan("a", spanS)), (11L, uniq("v")),
      (12L, withSpan("b", spanS)))
    val batch1 = Seq((100L, withSpan("x", spanS)), (101L, withSpan("y", spanT)),
      (103L, withSpan("z", spanT)))
    val batch2 = Seq((200L, withSpan("w", spanT)), (201L, uniq("m")))
    val all = day0 ++ batch1 ++ batch2
    assert(all.map(_._1).forall(_ % mod != 0), "eval-split geometry drifted")
    val synth = Files.createTempDirectory("graft-span-sf-").toString
    all.map { case (id, tx) => (id, tx, "en", "webA", tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$synth/documents.parquet")
    Seq((10L, Array.fill(64)(0.1f), 0)).toDF("vec_id", "embedding", "label")
      .write.parquet(s"$synth/embeddings.parquet")
    val dir = Files.createTempDirectory("graft-span-daily-").toString
    val fullDir = Files.createTempDirectory("graft-span-full-").toString
    val tables = Seq("graft_sp_daily", "graft_sp_daily_counts",
      "graft_sp_full", "graft_sp_full_counts")
    try {
      CurationJob.run(spark, synth, dir, docFilter = col("doc_id") < 100,
        spanIndex = Some("graft_sp_daily"))
      def toks(d: String) = spark.read.parquet(s"$d/curated")
        .select($"doc_id", $"n_tokens")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(toks(dir) == Map(10L -> 30L, 11L -> 30L, 12L -> 23L),
        s"day0 span verdict wrong: ${toks(dir)}")

      val inc1 = DailyIncrement.run(spark, synth, dir,
        batchFilter = col("doc_id") >= 100 && col("doc_id") < 200,
        spanIndex = Some("graft_sp_daily"))
      assert(inc1.nBatchKept == 3)
      assert(toks(dir) == Map(10L -> 30L, 11L -> 30L, 12L -> 23L,
        100L -> 23L, 101L -> 30L, 103L -> 23L),
        s"batch1 span verdict wrong: ${toks(dir)}")

      // batch2 through the CRASH seam: stage, die after dsir (before the
      // spanidx append), recover — the roll-forward must land the same
      // tree a clean run would
      val b2 = spark.read.parquet(s"$synth/documents.parquet")
        .filter($"doc_id" >= 200).select($"doc_id", $"text", $"lang")
      val embs = spark.read.parquet(s"$synth/embeddings.parquet")
        .select($"vec_id", $"embedding")
      DailyIncrement.stage(spark, b2, embs, dir,
        graft.functions.Tokenizer.Whitespace, spanIndex = Some("graft_sp_daily"))
      val boom = intercept[IllegalStateException] {
        DailyIncrement.applyPending(spark, dir, failAfter = Some("dsir"))
      }
      assert(boom.getMessage.contains("injected"))
      DailyIncrement.recover(spark, dir)
      assert(toks(dir) == Map(10L -> 30L, 11L -> 30L, 12L -> 23L,
        100L -> 23L, 101L -> 30L, 103L -> 23L, 200L -> 23L, 201L -> 30L),
        s"batch2 span verdict wrong after crash/recover: ${toks(dir)}")

      // ---- union rebuild with the span stage on: identical manifest,
      // shards and passage index ----
      CurationJob.run(spark, synth, fullDir, docFilter = lit(true),
        spanIndex = Some("graft_sp_full"))
      assert(toks(fullDir) == toks(dir),
        s"rebuild=${toks(fullDir)} daily=${toks(dir)}")
      def shardRows(d: String) = spark.read.parquet(s"$d/shards")
        .select($"doc_id", $"n_tokens", $"shard".cast("long"), $"shard_offset")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(shardRows(fullDir) == shardRows(dir),
        "daily shards != union rebuild (post-span packing diverged)")
      def idxIds(t: String) = spark.table(t)
        .select($"doc_id").distinct().as[Long].collect().toSet
      assert(idxIds("graft_sp_daily") == all.map(_._1).toSet,
        s"maintained passage index ids: ${idxIds("graft_sp_daily")}")
      assert(idxIds("graft_sp_full") == idxIds("graft_sp_daily"))
      // probe equality daily vs rebuild, and the RAW-claim doctrine: the
      // probe quotes S — committed by 10 AND (raw) 12 — and a novel span
      val probe = Seq((9000L,
        ("pre1 pre2 " + spanS.mkString(" ") + " mid1 mid2 " +
          (1 to 7).map(i => s"u$i").mkString(" ")).trim))
        .toDF("doc_id", "text")
      def probeSet(t: String) = graft.operators.ShingleIndex
        .spanKeepFirstProbe(spark, t, probe)
        .collect().map(_.toSeq).toSet
      assert(probeSet("graft_sp_daily").nonEmpty, "vacuous passage probe")
      assert(probeSet("graft_sp_daily") == probeSet("graft_sp_full"),
        "maintained passage index != union rebuild's")
      assert(probeSet("graft_sp_daily").head(2) == 7L,
        s"probe kept a committed span: ${probeSet("graft_sp_daily")}")

      // ---- the exports consume the POST-SPAN text: s1 lives only in
      // 12's and 100's excised copies plus keeper 10 — bm25 resolves it
      // to exactly the keeper ----
      val holders = Bm25Index.probe(spark, s"$dir/bm25",
        Seq((1L, "s1")).toDF("query_id", "term"))
        .select($"doc_id").as[Long].collect().toSet
      assert(holders == Set(10L), s"bm25 sees a scrubbed span copy: $holders")

      // ---- replayed batch: manifest, shards and passage index all no-op ----
      val rowsBefore = spark.table("graft_sp_daily").count()
      val replay = DailyIncrement.run(spark, synth, dir,
        batchFilter = col("doc_id") >= 200, spanIndex = Some("graft_sp_daily"))
      assert(replay.nBatchKept == 0, "replayed batch re-kept docs")
      assert(spark.table("graft_sp_daily").count() == rowsBefore,
        "replay duplicated passage-claim rows")
      assert(toks(fullDir) == toks(dir))
    } finally {
      tables.foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS $t")
        spark.sql(s"DROP TABLE IF EXISTS ${t}_tombstones")
      }
      spark.catalog.clearCache()
    }
  }

  test("full stack daily (nearDup + overlap + bench + span): day0 + increment == union rebuild") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftExtensions.register(spark)
    // every optional stage on at once — the production configuration.
    // Geometry keeps ALL eval content in day 0 (so the bench stage's
    // sequential-union semantics coincide with the rebuild) and puts one
    // trigger per stage in the batch:
    //   day0: 34 (eval) = e1..e30; 10 = 23a+S (S keeper, 30);
    //         12 = 23b+S (loses S, 23); 11 = 23v+e5..11 (bench quote, 23)
    //   batch: 100 = 23x+S (S committed, 23); 101 = doc 10 with its last
    //          token changed (jaccard .93 — near-dup of committed 10,
    //          drops whole); 103 = 23m+e12..18 (bench quote, 23);
    //          104 = uniq (30)
    val mod = CorpusQueries.EvalMod
    def uniq(p: String) = (1 to 30).map(i => s"$p$i").mkString(" ")
    def withTail(p: String, tail: Seq[String]) =
      ((1 to 23).map(i => s"$p$i") ++ tail).mkString(" ")
    val e = (1 to 30).map(i => s"e$i")
    val spanS = (1 to 7).map(i => s"s$i")
    val nearDupOf10 = ((1 to 23).map(i => s"a$i") ++ spanS.init :+ "z9").mkString(" ")
    val all = Seq(
      (34L, uniq("e")),
      (10L, withTail("a", spanS)), (11L, withTail("v", e.slice(4, 11))),
      (12L, withTail("b", spanS)),
      (100L, withTail("x", spanS)), (101L, nearDupOf10),
      (103L, withTail("m", e.slice(11, 18))), (104L, uniq("q")))
    assert(all.map(_._1).filter(_ % mod == 0) == Seq(34L),
      "eval-split geometry drifted")
    val synth = Files.createTempDirectory("graft-fs-sf-").toString
    all.map { case (id, tx) => (id, tx, "en", "webA", tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$synth/documents.parquet")
    Seq((10L, Array.fill(64)(0.1f), 0)).toDF("vec_id", "embedding", "label")
      .write.parquet(s"$synth/embeddings.parquet")
    val dir = Files.createTempDirectory("graft-fs-daily-").toString
    val fullDir = Files.createTempDirectory("graft-fs-full-").toString
    val pre = Seq("graft_fs_nd", "graft_fs_ov", "graft_fs_be", "graft_fs_sp")
    val tables = (pre ++ pre.map(_ + "_r")).flatMap(t =>
      Seq(t, s"${t}_counts", s"${t}_tombstones"))
    try {
      CurationJob.run(spark, synth, dir, docFilter = col("doc_id") < 100,
        nearDupIndex = Some("graft_fs_nd"), overlapIndex = Some("graft_fs_ov"),
        benchIndex = Some("graft_fs_be"), spanIndex = Some("graft_fs_sp"))
      def toks(d: String) = spark.read.parquet(s"$d/curated")
        .select($"doc_id", $"n_tokens")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(toks(dir) == Map(10L -> 30L, 11L -> 23L, 12L -> 23L),
        s"day0 full-stack verdict wrong: ${toks(dir)}")

      // GATES-ONCE stage budget (the lineage cut's wasted-work pin): with
      // every text-rewriting stage on, finalKept is localCheckpoint-cut,
      // so the gate chain (digest anti-join → decontam → near-dup
      // components) materializes ONCE and each downstream consumer
      // (positioned bench pass, span pass, min-id guards, token rebuild,
      // staging writes) reads the materialized rows. Without the cut
      // every consumer re-executes the chain — an integer multiple of
      // the gate stages. The stage count is a deterministic function of
      // the fixed plan surface; measured 256 on this fixture, and the
      // bound sits ~1.5× above so scheduler/AQE variation cannot trip it
      // while chain re-execution (which at least doubles it) must.
      val stageCount = new java.util.concurrent.atomic.AtomicInteger(0)
      val stageListener = new org.apache.spark.scheduler.SparkListener {
        override def onStageSubmitted(
            s: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit = {
          stageCount.incrementAndGet(); ()
        }
      }
      spark.sparkContext.addSparkListener(stageListener)
      val inc = DailyIncrement.run(spark, synth, dir,
        batchFilter = col("doc_id") >= 100,
        nearDupIndex = Some("graft_fs_nd"), overlapIndex = Some("graft_fs_ov"),
        benchIndex = Some("graft_fs_be"), spanIndex = Some("graft_fs_sp"))
      // the listener bus is async — wait until the count stops moving
      var lastSeen = -1
      while (stageCount.get != lastSeen) {
        lastSeen = stageCount.get; Thread.sleep(200)
      }
      spark.sparkContext.removeSparkListener(stageListener)
      val stageDelta = stageCount.get
      assert(inc.nBatchKept == 3, s"batch kept ${inc.nBatchKept}, want 3 (101 drops)")
      info(s"full-stack runBatch stage budget: $stageDelta stages")
      assert(stageDelta <= 380,
        s"full-stack runBatch cost $stageDelta stages — the gate chain is " +
          "re-executing per consumer (was the finalKept lineage cut removed?)")
      val wantToks = Map(10L -> 30L, 11L -> 23L, 12L -> 23L,
        100L -> 23L, 103L -> 23L, 104L -> 30L)
      assert(toks(dir) == wantToks, s"daily full-stack verdicts: ${toks(dir)}")

      // union rebuild with the identical configuration
      CurationJob.run(spark, synth, fullDir, docFilter = lit(true),
        nearDupIndex = Some("graft_fs_nd_r"), overlapIndex = Some("graft_fs_ov_r"),
        benchIndex = Some("graft_fs_be_r"), spanIndex = Some("graft_fs_sp_r"))
      assert(toks(fullDir) == toks(dir),
        s"rebuild=${toks(fullDir)} daily=${toks(dir)}")
      def shardRows(d: String) = spark.read.parquet(s"$d/shards")
        .select($"doc_id", $"n_tokens", $"shard".cast("long"), $"shard_offset")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(shardRows(fullDir) == shardRows(dir),
        "daily shards != union rebuild under the full stack")
      // every maintained index equals its rebuilt twin's id set
      def ids(t: String) = spark.table(t)
        .select($"doc_id").distinct().as[Long].collect().toSet
      for ((d, r) <- pre.map(t => (t, t + "_r"))) {
        assert(ids(d) == ids(r), s"$d ids ${ids(d)} != rebuild ${ids(r)}")
      }
      // the near-dup index carries the REBUILD GRAPH (pre-near-dup
      // survivors: 101 is indexed though dropped), the span index only
      // the final kept set's claims
      assert(ids("graft_fs_nd").contains(101L),
        "near-dup index must index the dropped near-dup loser (rebuild graph)")
      assert(ids("graft_fs_sp") ==
        Set(10L, 11L, 12L, 100L, 103L, 104L),
        s"span index must claim only final kept docs: ${ids("graft_fs_sp")}")
    } finally {
      tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.catalog.clearCache()
    }
  }

  test("span takedown: forgetting every holder releases the passage claims; content re-arms") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftExtensions.register(spark)
    // day0: 10 and 12 both carry span S (keeper 10 → 12 scrubs to 23);
    // 11 is unique. BOTH S-holders are then taken down (via the
    // tree-recorded index registry — the caller names nothing): batch1's
    // doc 100 quoting S must keep all 30 tokens (scrubbing against
    // forgotten claims would be acting on fingerprints of forgotten
    // data), while 101 quoting S in the SAME batch loses it to the
    // batch-internal keeper 100 — the surface re-arms immediately.
    val mod = CorpusQueries.EvalMod
    def uniq(p: String) = (1 to 30).map(i => s"$p$i").mkString(" ")
    def withSpan(p: String, sp: Seq[String]) =
      ((1 to 23).map(i => s"$p$i") ++ sp).mkString(" ")
    val spanS = (1 to 7).map(i => s"s$i")
    val all = Seq((10L, withSpan("a", spanS)), (11L, uniq("v")),
      (12L, withSpan("b", spanS)),
      (100L, withSpan("x", spanS)), (101L, withSpan("y", spanS)),
      (103L, uniq("m")))
    assert(all.map(_._1).forall(_ % mod != 0), "eval-split geometry drifted")
    val synth = Files.createTempDirectory("graft-tksp-sf-").toString
    all.map { case (id, tx) => (id, tx, "en", "webA", tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$synth/documents.parquet")
    Seq((10L, Array.fill(64)(0.1f), 0)).toDF("vec_id", "embedding", "label")
      .write.parquet(s"$synth/embeddings.parquet")
    val dir = Files.createTempDirectory("graft-tksp-daily-").toString
    try {
      CurationJob.run(spark, synth, dir, docFilter = col("doc_id") < 100,
        spanIndex = Some("graft_tksp"))
      // read through the tombstone-masked manifest: the takedown masks
      // rows rather than rewriting them (scrub is the physical form)
      def toks(d: String) = Takedown.manifest(spark, d)
        .select($"doc_id", $"n_tokens")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(toks(dir) == Map(10L -> 30L, 11L -> 30L, 12L -> 23L),
        s"day0 span verdict wrong: ${toks(dir)}")

      // forget BOTH S-holders; their claims must release
      val docsAll = spark.read.parquet(s"$synth/documents.parquet")
        .select($"doc_id", $"text", $"lang")
      Takedown.run(spark, dir, Seq(10L, 12L).toDF("doc_id"), docsAll,
        $"lang" === "en")
      val masked = graft.operators.ShingleIndex.spanKeepFirstProbe(
        spark, "graft_tksp",
        Seq((9000L, withSpan("w", spanS))).toDF("doc_id", "text")).collect()
      assert(masked.length == 1 && masked(0).getLong(2) == 0L,
        s"forgotten holders still claim the span: ${masked.toSeq}")

      // batch1: 100 keeps S (claims released), 101 loses it to 100
      DailyIncrement.run(spark, synth, dir,
        batchFilter = col("doc_id") >= 100, spanIndex = Some("graft_tksp"))
      assert(toks(dir) == Map(11L -> 30L, 100L -> 30L, 101L -> 23L, 103L -> 30L),
        s"post-takedown span verdicts wrong: ${toks(dir)}")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_tksp")
      spark.sql("DROP TABLE IF EXISTS graft_tksp_tombstones")
      spark.sql("DROP TABLE IF EXISTS graft_tksp_counts")
      spark.catalog.clearCache()
    }
  }

  test("benchmark takedown: a forgotten eval doc stops scrubbing; DSIR untouched; content re-arms under a new id") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftExtensions.register(spark)
    // day0: 34=E0 (eval benchmark), 10 quotes E0 (scrubbed to 23), 12
    // unique. E0 is then TAKEN DOWN: batch1's doc 100 quoting E0 must
    // keep all 30 tokens (scrubbing against a forgotten benchmark would
    // be acting on fingerprints of forgotten data), and the DSIR model
    // must not change (34 was never KEPT — subtracting a never-added
    // doc's counts would corrupt the ratios). batch2 re-submits E0's
    // CONTENT under fresh eval id 510 (= 17·30): its train doc 205
    // scrubs again — the surface re-arms.
    def uniq(p: String) = (1 to 30).map(i => s"$p$i").mkString(" ")
    def quoting(p: String, ew: String, from: Int) =
      ((1 to 23).map(i => s"$p$i") ++ (from until from + 7).map(i => s"$ew$i"))
        .mkString(" ")
    val e0 = uniq("e")
    val all = Seq((34L, e0), (10L, quoting("a", "e", 5)), (12L, uniq("v")),
      (100L, quoting("x", "e", 12)), (510L, e0), (205L, quoting("z", "e", 19)))
    assert(all.map(_._1).filter(_ % CorpusQueries.EvalMod == 0).toSet == Set(34L, 510L))
    val synth = Files.createTempDirectory("graft-bt-sf-").toString
    all.map { case (id, tx) => (id, tx, "en", "webA", tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$synth/documents.parquet")
    Seq((10L, Array.fill(64)(0.1f), 0)).toDF("vec_id", "embedding", "label")
      .write.parquet(s"$synth/embeddings.parquet")
    val dir = Files.createTempDirectory("graft-bt-daily-").toString
    try {
      CurationJob.run(spark, synth, dir, docFilter = col("doc_id") < 100,
        benchIndex = Some("graft_bt_bench"))
      def toks(d: String) = spark.read.parquet(s"$d/curated")
        .select($"doc_id", $"n_tokens")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(toks(dir) == Map(10L -> 23L, 12L -> 30L))
      def dsirRows() = DsirModel.load(spark, s"$dir/dsir")
        .collect().map(_.toSeq).toSet
      val dsirBefore = dsirRows()

      // forget the benchmark doc (via the tree-recorded index registry —
      // the caller names nothing)
      val docsAll = spark.read.parquet(s"$synth/documents.parquet")
        .select($"doc_id", $"text", $"lang")
      Takedown.run(spark, dir, Seq(34L).toDF("doc_id"), docsAll, $"lang" === "en")
      assert(dsirRows() == dsirBefore,
        "taking down a never-kept benchmark doc mutated the DSIR model")
      val probeE0 = Seq((9000L, quoting("w", "e", 5))).toDF("doc_id", "text")
      val masked = graft.operators.OverlapIndex.scrubProbe(
        spark, "graft_bt_bench", probeE0, CorpusQueries.MinRunTokens).collect()
      assert(masked.length == 1 && masked(0).getLong(2) == 0L,
        s"forgotten benchmark doc still scrubs: ${masked.toSeq}")

      // batch1: the quote survives INTACT (benchmark forgotten)
      DailyIncrement.run(spark, synth, dir,
        batchFilter = col("doc_id") >= 100 && col("doc_id") < 200,
        benchIndex = Some("graft_bt_bench"))
      assert(toks(dir) == Map(10L -> 23L, 12L -> 30L, 100L -> 30L),
        s"post-takedown batch wrongly scrubbed: ${toks(dir)}")

      // batch2: E0's content re-submits under eval id 510 — scrubbing
      // re-arms for the same batch's quoting doc
      DailyIncrement.run(spark, synth, dir,
        batchFilter = col("doc_id") >= 200,
        benchIndex = Some("graft_bt_bench"))
      assert(toks(dir) ==
        Map(10L -> 23L, 12L -> 30L, 100L -> 30L, 205L -> 23L),
        s"re-submitted benchmark content did not re-arm the scrub: ${toks(dir)}")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_bt_bench")
      spark.sql("DROP TABLE IF EXISTS graft_bt_bench_tombstones")
      spark.catalog.clearCache()
    }
  }

  test("takedown composes with the near-dup gate: forgotten content re-submits cleanly") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftExtensions.register(spark)
    // day0: A (doc 10) and B (doc 11) — orthogonal bases, so no day-0
    // near-dup pair — plus a unique keeper (12). Both 10 and 11 are then
    // taken down. The batch re-submits their content under new ids:
    // 100 near-duplicates A, 101 is an EXACT copy of B. On a control
    // tree without the takedown both drop (near-dup probe hit / digest
    // anti-join); on the takedown tree both MUST survive — a pipeline
    // still dropping re-submissions of forgotten content is acting on
    // fingerprints it promised to erase.
    val P = (1 to 26).map(i => s"p$i")
    val U = (1 to 26).map(i => s"u$i")
    def uniq(p: String) = (1 to 30).map(i => s"$p$i").mkString(" ")
    val aText = (P ++ Seq("q27", "q28", "q29", "q30")).mkString(" ")
    val bText = (U ++ Seq("s27", "s28", "s29", "s30")).mkString(" ")
    val aNear = (P.zipWithIndex.map { case (w, i) =>
      if (i >= 9 && i <= 12) s"e$i" else w } ++
      Seq("q27", "q28", "q29", "q30")).mkString(" ")
    val docs = Seq(
      (10L, aText), (11L, bText), (12L, uniq("v")),
      (100L, aNear), (101L, bText))
    val synth = Files.createTempDirectory("graft-tknd-sf-").toString
    docs.map { case (id, tx) => (id, tx, "en", "webA", tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$synth/documents.parquet")
    Seq((10L, Array.fill(64)(0.1f), 0)).toDF("vec_id", "embedding", "label")
      .write.parquet(s"$synth/embeddings.parquet")
    val dir = Files.createTempDirectory("graft-tknd-").toString
    val ctl = Files.createTempDirectory("graft-tknd-ctl-").toString
    val tables = Seq("graft_tknd", "graft_tknd_counts", "graft_tkov",
      "graft_tknd_c", "graft_tknd_c_counts", "graft_tkov_c",
      "graft_tknd_tombstones", "graft_tkov_tombstones")
    try {
      CurationJob.run(spark, synth, dir, docFilter = col("doc_id") < 100,
        nearDupIndex = Some("graft_tknd"), overlapIndex = Some("graft_tkov"))
      CurationJob.run(spark, synth, ctl, docFilter = col("doc_id") < 100,
        nearDupIndex = Some("graft_tknd_c"), overlapIndex = Some("graft_tkov_c"))

      val payload = Seq((10L, aText, "en"), (11L, bText, "en"))
        .toDF("doc_id", "text", "lang")
      // NO index names passed: CurationJob recorded them under the tree
      // (outDir/indexes), and the takedown must reach them on its own —
      // a caller forgetting the parameter is exactly the leak this guards
      Takedown.run(spark, dir, payload.select($"doc_id"), payload, $"lang" === "en")

      // forgotten docs stop flagging overlap runs immediately
      val aQuote = Seq((9001L, ((3 to 12).map(i => s"p$i") ++ Seq("zz1", "zz2"))
        .mkString(" "))).toDF("doc_id", "text")
      assert(graft.operators.OverlapIndex
        .runsProbe(spark, "graft_tkov", aQuote, 5L).isEmpty,
        "a taken-down doc still flags verbatim runs")

      def keptBatch(d: String) = spark.read.parquet(s"$d/curated")
        .select($"doc_id").as[Long].collect().toSet.filter(_ >= 100)
      DailyIncrement.run(spark, synth, ctl, batchFilter = col("doc_id") >= 100,
        nearDupIndex = Some("graft_tknd_c"), overlapIndex = Some("graft_tkov_c"))
      assert(keptBatch(ctl) == Set.empty[Long],
        s"control premise broken — without the takedown both re-submissions " +
          s"should drop, kept ${keptBatch(ctl)}")
      DailyIncrement.run(spark, synth, dir, batchFilter = col("doc_id") >= 100,
        nearDupIndex = Some("graft_tknd"), overlapIndex = Some("graft_tkov"))
      assert(keptBatch(dir) == Set(100L, 101L),
        s"re-submitted forgotten content was dropped: kept ${keptBatch(dir)} — " +
          "the near-dup gate or digest anti-join is reading unmasked state")

      // the new keeper (100) now owns the overlap fingerprint, not doc 10
      val flagged = graft.operators.OverlapIndex
        .runsProbe(spark, "graft_tkov", aQuote, 5L)
        .select($"t_doc").as[Long].collect().toSet
      assert(flagged == Set(100L), s"expected the re-submission to flag, got $flagged")
    } finally {
      tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.catalog.clearCache()
    }
  }

  test("a crashed increment rolls forward: recover() lands the identical tree; no append runs twice") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftExtensions.register(spark)
    val crashDir = Files.createTempDirectory("graft-daily-crash-").toString
    val cleanDir = Files.createTempDirectory("graft-daily-ref-").toString
    CurationJob.run(spark, sf, crashDir, docFilter = col("doc_id") % 10 =!= 0)
    CurationJob.run(spark, sf, cleanDir, docFilter = col("doc_id") % 10 =!= 0)
    val clean = DailyIncrement.run(spark, sf, cleanDir, batchFilter = col("doc_id") % 10 === 0)
    assert(clean.nBatchKept > 0, "vacuous: no batch doc survived")

    // stage the same batch on the crash tree, then die mid-apply — right
    // after the manifest append, the worst spot: without roll-forward
    // the manifest would hold docs no index ever sees, permanently
    val batch = Tables.load(spark, sf, "documents")
      .filter($"doc_id" % 10 === 0).select($"doc_id", $"text", $"lang")
    val embs = Tables.load(spark, sf, "embeddings").select($"vec_id", $"embedding")
    val staged = DailyIncrement.stage(spark, batch, embs, crashDir,
      graft.functions.Tokenizer.Whitespace)
    assert(staged == clean.nBatchKept, "staged kept set != clean run's")
    val curatedDir = java.nio.file.Paths.get(s"$crashDir/curated")
    val curatedBefore = graft.store.FileTree.all(curatedDir).toSet
    val trace = Vector.newBuilder[graft.store.Commit.Step]
    graft.store.Commit.hook.set(trace += _)
    val boom = try intercept[IllegalStateException] {
      DailyIncrement.applyPending(spark, crashDir, failAfter = Some("curated"))
    } finally graft.store.Commit.hook.remove()
    assert(boom.getMessage.contains("injected"))
    // the curated.done seal forces the files the append added and the dir,
    // not the manifest history it appended to
    val steps = trace.result()
    val sealAt = steps.indexWhere(s =>
      s.op == "create" && s.paths.head.getFileName.toString == "curated.done")
    assert(sealAt > 0 && steps(sealAt - 1).op == "force", s"curated.done not sealed: $steps")
    val forced = steps(sealAt - 1).paths.toSet
    val added = graft.store.FileTree.all(curatedDir).toSet -- curatedBefore
    assert(added.nonEmpty && added.subsetOf(forced),
      s"curated files named before forced: ${added -- forced}")
    assert((forced & curatedBefore) == Set(curatedDir),
      s"the seal re-forced committed files: ${(forced & curatedBefore) - curatedDir}")
    // the drift the crash creates: manifest grew, bm25 stats did not
    val manifestN = spark.read.parquet(s"$crashDir/curated").count()
    val cleanManifestN = spark.read.parquet(s"$cleanDir/curated").count()
    assert(manifestN == cleanManifestN, "curated append itself incomplete")
    def bm25Docs(d: String) = spark.read
      .parquet(graft.operators.Bm25Index.statsPath(s"$d/bm25")).collect()(0).getLong(0)
    assert(bm25Docs(crashDir) < bm25Docs(cleanDir),
      "test premise broken: bm25 already appended before the injected crash")

    // roll forward, then every artifact must equal the clean tree's
    DailyIncrement.recover(spark, crashDir)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$crashDir/_increment_pending")), "staging not cleared")
    def rows(d: String, sub: String, cols: Seq[String]) =
      spark.read.parquet(s"$d/$sub").select(cols.map(col): _*)
        .collect().map(_.toSeq).toSet
    assert(rows(crashDir, "curated", Seq("doc_id", "n_tokens", "digest")) ==
      rows(cleanDir, "curated", Seq("doc_id", "n_tokens", "digest")), "curated diverged")
    assert(rows(crashDir, "evalh", Seq("doc_id", "h")) ==
      rows(cleanDir, "evalh", Seq("doc_id", "h")), "evalh diverged")
    assert(rows(crashDir, "shards", Seq("doc_id", "n_tokens", "shard", "shard_offset")) ==
      rows(cleanDir, "shards", Seq("doc_id", "n_tokens", "shard", "shard_offset")),
      "shards diverged")
    assert(graft.operators.PackedExport.readBase(spark, s"$crashDir/packbase") ==
      graft.operators.PackedExport.readBase(spark, s"$cleanDir/packbase"), "pack base diverged")
    assert(bm25Docs(crashDir) == bm25Docs(cleanDir), "bm25 stats diverged")
    val q = Seq((1L, "slow"), (1L, "merge"), (1L, "join")).toDF("query_id", "term")
    def probe(d: String) = Bm25Index.probe(spark, s"$d/bm25", q)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(probe(crashDir) == probe(cleanDir), "bm25 probe diverged")
    assert(rows(crashDir, "vectors", Seq("vec_id")) ==
      rows(cleanDir, "vectors", Seq("vec_id")), "vector index diverged")
    assert(DsirModel.load(spark, s"$crashDir/dsir")
        .collect().map(_.toSeq).toSet ==
      DsirModel.load(spark, s"$cleanDir/dsir").collect().map(_.toSeq).toSet,
      "dsir model diverged — an append ran twice or not at all")
    assert(rows(crashDir, "tokenizer_vocab", Seq("piece", "cnt")) ==
      rows(cleanDir, "tokenizer_vocab", Seq("piece", "cnt")),
      "tokenizer vocab diverged — the fold ran twice or not at all")

    // recover on a quiescent tree is a no-op; a replayed batch is a no-op
    DailyIncrement.recover(spark, crashDir)
    val replay = DailyIncrement.run(spark, sf, crashDir, batchFilter = col("doc_id") % 10 === 0)
    assert(replay.nBatchKept == 0, "replayed batch re-kept docs")
    assert(rows(crashDir, "curated", Seq("doc_id", "n_tokens", "digest")) ==
      rows(cleanDir, "curated", Seq("doc_id", "n_tokens", "digest")),
      "replay mutated the manifest")
    assert(DsirModel.load(spark, s"$crashDir/dsir")
        .collect().map(_.toSeq).toSet ==
      DsirModel.load(spark, s"$cleanDir/dsir").collect().map(_.toSeq).toSet,
      "replay mutated the dsir model")
    spark.catalog.clearCache()
  }

  test("as-of readers: every historical manifest/shards/evalh view equals the live snapshot taken then; takedown purges history") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftExtensions.register(spark)
    val dir = Files.createTempDirectory("graft-asof-").toString

    def manifestNow = Takedown.manifest(spark, dir)
      .select($"doc_id", $"n_tokens", $"digest")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    def shardsNow = Takedown.shards(spark, dir)
      .select($"doc_id", $"shard".cast("long"), $"shard_offset")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def evalhNow = Takedown.evalh(spark, dir)
      .select($"doc_id", $"h")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    CurationJob.run(spark, sf, dir, docFilter = col("doc_id") % 10 =!= 0)
    val snaps = scala.collection.mutable.ArrayBuffer(
      (manifestNow, shardsNow, evalhNow))
    val r1 = DailyIncrement.run(spark, sf, dir,
      batchFilter = col("doc_id") % 20 === 0)
    snaps += ((manifestNow, shardsNow, evalhNow))
    val r2 = DailyIncrement.run(spark, sf, dir,
      batchFilter = col("doc_id") % 10 === 0 && col("doc_id") % 20 =!= 0)
    snaps += ((manifestNow, shardsNow, evalhNow))
    assert(r1.nBatchKept > 0 && r2.nBatchKept > 0, "vacuous: a batch kept nothing")
    assert(DailyIncrement.batches(spark, dir) == Seq(0L, 1L, 2L))

    for (n <- 0 to 2) {
      val (m, sh, ev) = snaps(n)
      assert(DailyIncrement.manifestAsOf(spark, dir, n)
        .select($"doc_id", $"n_tokens", $"digest")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet == m,
        s"manifestAsOf($n) != snapshot after batch $n")
      assert(DailyIncrement.shardsAsOf(spark, dir, n)
        .select($"doc_id", $"shard".cast("long"), $"shard_offset")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet == sh,
        s"shardsAsOf($n) != snapshot after batch $n")
      assert(DailyIncrement.evalhAsOf(spark, dir, n)
        .select($"doc_id", $"h")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == ev,
        s"evalhAsOf($n) != snapshot after batch $n")
    }
    // the views are genuinely different epochs
    assert(snaps(0)._1 != snaps(1)._1 && snaps(1)._1 != snaps(2)._1)

    // right-to-be-forgotten beats time travel: after a takedown of one
    // day-0 doc and one batch-1 doc, NO historical view contains them
    val m1 = snaps(1)._1.map(_._1)
    val removed = Seq(snaps(0)._1.map(_._1).min,
      (m1 -- snaps(0)._1.map(_._1)).min)
    val payload = Tables.load(spark, sf, "documents")
      .filter($"doc_id".isin(removed: _*)).select($"doc_id", $"text", $"lang")
    Takedown.run(spark, dir, payload.select($"doc_id"), payload, $"lang" === "en")
    for (n <- 0 to 2) {
      val ids = DailyIncrement.manifestAsOf(spark, dir, n)
        .select($"doc_id").collect().map(_.getLong(0)).toSet
      assert(removed.forall(!ids.contains(_)),
        s"time travel resurrected a forgotten doc at batch $n")
    }
    spark.catalog.clearCache()
  }

  test("a fully-scrubbed newest batch never donates its id: the next increment opens a FRESH epoch") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftExtensions.register(spark)
    val dir = Files.createTempDirectory("graft-batchctr-").toString

    CurationJob.run(spark, sf, dir, docFilter = col("doc_id") % 10 =!= 0)
    val day0Ids = Takedown.manifest(spark, dir)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    val r1 = DailyIncrement.run(spark, sf, dir,
      batchFilter = col("doc_id") % 20 === 0)
    assert(r1.nBatchKept > 0, "vacuous: batch 1 kept nothing")
    val batch1Ids = Takedown.manifest(spark, dir)
      .select($"doc_id").collect().map(_.getLong(0)).toSet -- day0Ids

    // poisoned daily feed: EVERY batch-1 doc is taken down and scrubbed —
    // max(added_batch) over curated drops back to 0
    val payload = Tables.load(spark, sf, "documents")
      .filter($"doc_id".isin(batch1Ids.toSeq: _*))
      .select($"doc_id", $"text", $"lang")
    Takedown.run(spark, dir, payload.select($"doc_id"), payload, $"lang" === "en")
    Takedown.scrub(spark, dir)
    assert(DailyIncrement.batches(spark, dir) == Seq(0L),
      "scrub left batch-1 rows behind — test setup broken")

    // the next increment must NOT reuse the scrubbed id 1: as-of views of
    // the scrubbed epoch would silently absorb the new docs into history
    val r2 = DailyIncrement.run(spark, sf, dir,
      batchFilter = col("doc_id") % 10 === 0 && col("doc_id") % 20 =!= 0)
    assert(r2.nBatchKept > 0, "vacuous: batch 2 kept nothing")
    assert(DailyIncrement.batches(spark, dir) == Seq(0L, 2L),
      s"scrubbed batch id was reused: ${DailyIncrement.batches(spark, dir)}")
    // the historical view of the scrubbed epoch holds exactly day 0
    assert(DailyIncrement.manifestAsOf(spark, dir, 1)
      .select($"doc_id").collect().map(_.getLong(0)).toSet == day0Ids,
      "the scrubbed epoch's as-of view absorbed post-scrub docs")
    spark.catalog.clearCache()
  }
}
