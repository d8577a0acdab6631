package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{IncrementalDedup, ShingleIndex}
import graft.queries.CrossHash._

/** The materialized bucketed shingle index: probing it must (a) emit
  * exactly the IncrementalDedup pair set for the same corpus/batch split
  * and (b) never shuffle the index side — the scan feeds its join
  * co-located through the bucket layout. */
class ShingleIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("probe equals IncrementalDedup.newPairs; the bucketed index never shuffles") {
    import spark.implicits._
    GraftExtensions.register(spark)
    val docs = Tables.load(spark, dir, "documents").select($"doc_id", $"text")
    val corpus = docs.filter($"doc_id" < 250)
    val batch = docs.filter($"doc_id" >= 250)
    try {
      ShingleIndex.materialize(corpus, "graft_shidx")
      val probe = ShingleIndex.probe(spark, "graft_shidx", batch, 0.6)

      // (b) the index scan is never beneath a shuffle in the probe plan
      val plan = probe.queryExecution.sparkPlan
      val shuffledScans = plan.collect { case e: ShuffleExchangeExec => e }
        .flatMap(_.collect { case f: FileSourceScanExec => f })
        .filter(_.tableIdentifier.exists(_.table == "graft_shidx"))
      assert(shuffledScans.isEmpty,
        s"the bucketed index was shuffled:\n${probe.queryExecution.executedPlan}")

      // (a) pair-set equality with the on-the-fly incremental operator
      def sh(df: org.apache.spark.sql.DataFrame) = df
        .select($"doc_id", explode(shingleHashes($"text")).as("h")).distinct()
      val expected = IncrementalDedup.newPairs(sh(corpus), sh(batch), 0.6)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val got = probe.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(expected.nonEmpty, "no near-dup pairs — test would be vacuous")
      assert(got == expected,
        s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_shidx")
      spark.sql("DROP TABLE IF EXISTS graft_shidx_counts")
      spark.catalog.clearCache()
    }
  }

  test("a missing _current pointer fails every probe loud (never silently reads mid-rewrite data)") {
    import spark.implicits._
    GraftExtensions.register(spark)
    val docs = Tables.load(spark, dir, "documents").select($"doc_id", $"text")
    val corpus = docs.filter($"doc_id" < 250)
    val batch = docs.filter($"doc_id" >= 250)
    try {
      ShingleIndex.materialize(corpus, "graft_shidx_ptr")
      ShingleIndex.probe(spark, "graft_shidx_ptr", batch, 0.6).count()
      // simulate a crashed from-scratch materialize: the pointer is gone
      val loc = spark.sql("DESCRIBE TABLE EXTENDED graft_shidx_ptr")
        .filter($"col_name" === "Location").select($"data_type").head.getString(0)
      java.nio.file.Files.delete(
        java.nio.file.Paths.get(new java.net.URI(loc)).resolve("_current"))
      for (p <- Seq(
          () => ShingleIndex.probe(spark, "graft_shidx_ptr", batch, 0.6),
          () => ShingleIndex.containmentProbe(spark, "graft_shidx_ptr", batch, 0.9),
          () => ShingleIndex.noveltyProbe(spark, "graft_shidx_ptr", batch))) {
        val e = intercept[IllegalArgumentException](p())
        assert(e.getMessage.contains("_current"), e.getMessage)
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_shidx_ptr")
      spark.sql("DROP TABLE IF EXISTS graft_shidx_ptr_counts")
      spark.catalog.clearCache()
    }
  }

  test("delete: probe equals an index materialized without the removed docs; index side still unshuffled") {
    import spark.implicits._
    GraftExtensions.register(spark)
    val docs = Tables.load(spark, dir, "documents").select($"doc_id", $"text")
    val corpus = docs.filter($"doc_id" < 250)
    val batch = docs.filter($"doc_id" >= 250)
    try {
      ShingleIndex.materialize(corpus, "graft_shidx_del")
      ShingleIndex.materialize(corpus.filter($"doc_id" % 3 =!= 0), "graft_shidx_rem")
      ShingleIndex.delete(spark, "graft_shidx_del",
        corpus.filter($"doc_id" % 3 === 0).select($"doc_id"))

      def pairs(name: String) = ShingleIndex.probe(spark, name, batch, 0.6)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val expected = pairs("graft_shidx_rem")
      assert(expected.nonEmpty, "no probe pairs — test would be vacuous")
      // a removed doc must stop producing dedup verdicts: tomorrow's copy
      // of its content is NEW, not a duplicate of forgotten data
      assert(pairs("graft_shidx_del") == expected,
        "masked probe != index rebuilt without the removed docs")

      // idempotent double-delete + never-indexed id
      ShingleIndex.delete(spark, "graft_shidx_del",
        corpus.filter($"doc_id" % 3 === 0).select($"doc_id")
          .union(Seq(999999L).toDF("doc_id")))
      assert(pairs("graft_shidx_del") == expected)

      // the mask must not cost the co-location: index scan still not
      // beneath any shuffle (the tombstone side broadcasts)
      val plan = ShingleIndex.probe(spark, "graft_shidx_del", batch, 0.6)
        .queryExecution.sparkPlan
      val shuffledScans = plan.collect {
          case e: ShuffleExchangeExec => e }
        .flatMap(_.collect { case f: FileSourceScanExec => f })
        .filter(_.tableIdentifier.exists(_.table == "graft_shidx_del"))
      assert(shuffledScans.isEmpty, s"mask shuffled the bucketed index:\n$plan")
    } finally {
      for (t <- Seq("graft_shidx_del", "graft_shidx_del_tombstones", "graft_shidx_rem"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql("DROP TABLE IF EXISTS graft_shidx_del_counts")
      spark.sql("DROP TABLE IF EXISTS graft_shidx_rem_counts")
      spark.catalog.clearCache()
    }
  }

  test("append folds a day in: probing a newer batch == probing materialize(corpus ∪ day1)") {
    import spark.implicits._
    GraftExtensions.register(spark)
    val docs = Tables.load(spark, dir, "documents").select($"doc_id", $"text")
    val corpus = docs.filter($"doc_id" < 200)
    val day1 = docs.filter($"doc_id" >= 200 && $"doc_id" < 350)
    val day2 = docs.filter($"doc_id" >= 350)
    try {
      ShingleIndex.materialize(corpus, "graft_shidx_inc")
      ShingleIndex.append(day1, "graft_shidx_inc")
      ShingleIndex.materialize(docs.filter($"doc_id" < 350), "graft_shidx_incf")
      def pairs(name: String) = ShingleIndex.probe(spark, name, day2, 0.6)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val expected = pairs("graft_shidx_incf")
      assert(expected.nonEmpty, "no probe pairs — test would be vacuous")
      assert(pairs("graft_shidx_inc") == expected,
        "appended index != from-scratch rebuild over the union")
      // vacuum after a delete on the appended index keeps probes intact
      // and physically drops the removed docs' pairs
      val gone = corpus.filter($"doc_id" % 4 === 0).select($"doc_id")
      ShingleIndex.delete(spark, "graft_shidx_inc", gone)
      val masked = pairs("graft_shidx_inc")
      ShingleIndex.vacuum(spark, "graft_shidx_inc")
      assert(pairs("graft_shidx_inc") == masked, "vacuum changed the probe")
      val goneIds = gone.as[Long].collect().toSet
      val left = spark.table("graft_shidx_inc")
        .select($"doc_id").distinct().as[Long].collect().toSet
      assert(left.intersect(goneIds).isEmpty, "vacuum left removed ids in the index")
      assert(!spark.catalog.tableExists("graft_shidx_inc_tombstones"),
        "tombstone table survived the vacuum")
    } finally {
      for (t <- Seq("graft_shidx_inc", "graft_shidx_inc_counts",
          "graft_shidx_inc_tombstones", "graft_shidx_incf", "graft_shidx_incf_counts"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.catalog.clearCache()
    }
  }

  test("a crashed append is invisible; the retry lands exactly the rebuild (no doubled intersections)") {
    import spark.implicits._
    GraftExtensions.register(spark)
    val docs = Tables.load(spark, dir, "documents").select($"doc_id", $"text")
    val corpus = docs.filter($"doc_id" < 200)
    val day1 = docs.filter($"doc_id" >= 200 && $"doc_id" < 350)
    val day2 = docs.filter($"doc_id" >= 350)
    try {
      ShingleIndex.materialize(corpus, "graft_shidx_crash")
      def pairs() = ShingleIndex.probe(spark, "graft_shidx_crash", day2, 0.6)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val preAppend = pairs()

      // crash in the WIDEST window: both partition writes done, pointer
      // swap not reached — the round-11 two-job append would now be
      // half-committed (pairs without counts)
      intercept[IllegalStateException] {
        TestSpark.crashAtFirstCommit(ShingleIndex.append(day1, "graft_shidx_crash", 32))
      }
      assert(pairs() == preAppend,
        "a crashed append changed probe results — partial partitions are visible")

      // the blind retry is the normal path: under the old layout it
      // duplicated (doc_id, h) rows and DOUBLED probe intersections
      ShingleIndex.append(day1, "graft_shidx_crash")
      ShingleIndex.materialize(docs.filter($"doc_id" < 350), "graft_shidx_crashf")
      def p(name: String) = ShingleIndex.probe(spark, name, day2, 0.6)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val want = p("graft_shidx_crashf")
      assert(want.nonEmpty, "no probe pairs — test would be vacuous")
      assert(p("graft_shidx_crash") == want,
        "crash + retry != from-scratch rebuild over the union")
    } finally {
      for (t <- Seq("graft_shidx_crash", "graft_shidx_crash_counts",
          "graft_shidx_crashf", "graft_shidx_crashf_counts"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.catalog.clearCache()
    }
  }

  test("containmentProbe == IncrementalDedup.newContainment; index side unshuffled") {
    import spark.implicits._
    GraftExtensions.register(spark)
    val docs = Tables.load(spark, dir, "documents").select($"doc_id", $"text")
    val corpus = docs.filter($"doc_id" % 10 =!= 0)
    val batch = docs.filter($"doc_id" % 10 === 0)
    try {
      ShingleIndex.materialize(corpus, "graft_shidx_cont")
      val probe = ShingleIndex.containmentProbe(spark, "graft_shidx_cont", batch, 0.9)

      def sh(df: org.apache.spark.sql.DataFrame) = df
        .select($"doc_id", explode(shingleHashes($"text")).as("h")).distinct()
      val expected = IncrementalDedup.newContainment(sh(corpus), sh(batch), 0.9)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val got = probe.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(expected.nonEmpty, "no containment pairs — test would be vacuous")
      assert(got == expected,
        s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")

      // the production property: the index scan feeds its join co-located
      val plan = probe.queryExecution.sparkPlan
      val shuffledScans = plan.collect { case e: ShuffleExchangeExec => e }
        .flatMap(_.collect { case f: FileSourceScanExec => f })
        .filter(_.tableIdentifier.exists(_.table == "graft_shidx_cont"))
      assert(shuffledScans.isEmpty,
        s"the bucketed index was shuffled:\n${probe.queryExecution.executedPlan}")
    } finally {
      for (t <- Seq("graft_shidx_cont", "graft_shidx_cont_counts"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.catalog.clearCache()
    }
  }

  test("noveltyProbe == corpus-wide text_novelty restricted to the batch; masked after delete") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftExtensions.register(spark)
    val docs = Tables.load(spark, dir, "documents").select($"doc_id", $"text")
    val corpus = docs.filter($"doc_id" % 10 =!= 0)
    val batch = docs.filter($"doc_id" % 10 === 0)
    for (t <- Seq("graft_shidx_nov", "graft_shidx_nov_counts", "graft_shidx_nov_tombstones"))
      spark.sql(s"DROP TABLE IF EXISTS $t")
    ShingleIndex.materialize(corpus, "graft_shidx_nov")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val got = rows(ShingleIndex.noveltyProbe(spark, "graft_shidx_nov", batch))
    // reference: the oracle-checked corpus-wide query, batch rows only
    val full = rows(SparkEntry.queries("text_novelty")(spark, dir)
      .filter($"doc_id" % 10 === 0))
    assert(got == full)
    assert(got.nonEmpty && got.exists(_._4 < 1.0),
      "vacuous: no batch doc shares any shingle with the corpus")
    // forgetting a corpus doc releases its first-occurrence claims: probe
    // equals the novelty computed against the remaining corpus
    val removedIds = corpus.select($"doc_id").limit(5).collect().map(_.getLong(0))
    ShingleIndex.delete(spark, "graft_shidx_nov", removedIds.toSeq.toDF("doc_id"))
    val sh = docs.filter(!$"doc_id".isin(removedIds.toSeq: _*))
      .select($"doc_id", explode(graft.queries.CrossHash.shingleHashes($"text")).as("h"))
      .distinct()
    val firsts = sh.groupBy($"h").agg(min($"doc_id").as("first_doc"))
    val want = rows(sh.filter($"doc_id" % 10 === 0).join(firsts, "h")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when($"first_doc" === $"doc_id", 1L).otherwise(0L)).as("n_novel"))
      .select($"doc_id", $"n_shingles", $"n_novel",
        ($"n_novel".cast("double") / $"n_shingles").as("novelty_frac")))
    assert(rows(ShingleIndex.noveltyProbe(spark, "graft_shidx_nov", batch)) == want,
      "novelty probe did not respect the tombstone mask")
    for (t <- Seq("graft_shidx_nov", "graft_shidx_nov_counts", "graft_shidx_nov_tombstones"))
      spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.catalog.clearCache()
  }

  test("spanKeepFirstProbe == dedup_span_keepfirst_incr; forgetting a holder releases its passages") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftExtensions.register(spark)
    val docs = Tables.load(spark, dir, "documents").select($"doc_id", $"text")
    val corpus = docs.filter($"doc_id" % 10 =!= 0)
    val batch = docs.filter($"doc_id" % 10 === 0)
    for (t <- Seq("graft_shidx_kf", "graft_shidx_kf_counts", "graft_shidx_kf_tombstones"))
      spark.sql(s"DROP TABLE IF EXISTS $t")
    ShingleIndex.materialize(corpus, "graft_shidx_kf")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    val got = rows(ShingleIndex.spanKeepFirstProbe(spark, "graft_shidx_kf", batch))
    assert(got == rows(SparkEntry.queries("dedup_span_keepfirst_incr")(spark, dir)))
    assert(got.exists(_._3 > 0L), "vacuous: no batch doc shares a trigram")
    // forget the corpus holders of some batch-scrubbed trigram: the probe
    // must equal the arrival-order recompute over the REMAINING corpus —
    // independent spelling (the registered query's shape, corpus thinned)
    val removedIds = corpus.select($"doc_id").limit(5).collect().map(_.getLong(0)).toSeq
    ShingleIndex.delete(spark, "graft_shidx_kf", removedIds.toDF("doc_id"))
    val occ = docs
      .select($"doc_id", posexplode(graft.queries.CrossHash.shingleHashes($"text"))
        .as(Seq("q", "h"))).cache()
    val corpusH = occ.filter($"doc_id" % 10 =!= 0 && !$"doc_id".isin(removedIds: _*))
      .select($"h").distinct().withColumn("in_corpus", lit(1))
    val bocc = occ.filter($"doc_id" % 10 === 0)
    val keeper = bocc.select($"doc_id", $"h").distinct()
      .groupBy($"h").agg(count(lit(1)).as("nd"), min($"doc_id").as("keep_id"))
      .filter($"nd" >= 2).select($"h", $"keep_id")
    val dupStarts = bocc.join(corpusH, Seq("h"), "left").join(keeper, Seq("h"), "left")
      .filter($"in_corpus".isNotNull ||
        ($"keep_id".isNotNull && $"doc_id" =!= $"keep_id"))
      .groupBy($"doc_id").agg(sort_array(collect_list($"q")).as("dup_starts"))
    val want = rows(graft.queries.DedupQueries.scrubRebuild(spark, batch, dupStarts))
    assert(rows(ShingleIndex.spanKeepFirstProbe(spark, "graft_shidx_kf", batch)) == want,
      "keep-first probe did not respect the tombstone mask")
    for (t <- Seq("graft_shidx_kf", "graft_shidx_kf_counts", "graft_shidx_kf_tombstones"))
      spark.sql(s"DROP TABLE IF EXISTS $t")
    occ.unpersist()
    spark.catalog.clearCache()
  }
}
