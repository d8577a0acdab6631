package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.OverlapIndex
import graft.queries.CorpusQueries

/** The materialized positioned shingle index behind decontam_runs_idx:
  * probing it must (a) emit exactly the oracle-checked decontam_runs
  * relation for the same train/eval split, (b) never shuffle the bucketed
  * index side, and (c) honor the single-commit/tombstone lifecycle
  * (crashed-append invisibility + retry ≡ rebuild; delete ≡
  * rebuilt-without; vacuum physical with probes unchanged). */
class OverlapIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def docs = {
    import spark.implicits._
    Tables.load(spark, dir, "documents").select($"doc_id", $"text")
  }

  private def runsOf(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

  test("runsProbe == the oracle-checked decontam_runs relation; the bucketed index never shuffles") {
    import spark.implicits._
    GraftExtensions.register(spark)
    val train = docs.filter($"doc_id" % CorpusQueries.EvalMod =!= 0)
    val evalD = docs.filter($"doc_id" % CorpusQueries.EvalMod === 0)
    try {
      OverlapIndex.materialize(train, "graft_ovidx")
      val probe = OverlapIndex.runsProbe(spark, "graft_ovidx", evalD,
        CorpusQueries.MinRunTokens)

      val plan = probe.queryExecution.sparkPlan
      val shuffledScans = plan.collect { case e: ShuffleExchangeExec => e }
        .flatMap(_.collect { case f: FileSourceScanExec => f })
        .filter(_.tableIdentifier.exists(_.table == "graft_ovidx"))
      assert(shuffledScans.isEmpty,
        s"the bucketed index was shuffled:\n${probe.queryExecution.executedPlan}")

      val expected = runsOf(SparkEntry.queries("decontam_runs")(spark, dir))
      assert(expected.nonEmpty, "no overlap runs — test would be vacuous")
      assert(runsOf(probe) == expected)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_ovidx")
      spark.catalog.clearCache()
    }
  }

  test("scrubProbe == the oracle-checked decontam_scrub; benchmark-side delete releases its runs") {
    import spark.implicits._
    GraftExtensions.register(spark)
    val train = docs.filter($"doc_id" % CorpusQueries.EvalMod =!= 0)
    val evalD = docs.filter($"doc_id" % CorpusQueries.EvalMod === 0)
    def scrubOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    try {
      OverlapIndex.materialize(evalD, "graft_ovidx_ev")
      val probe = OverlapIndex.scrubProbe(spark, "graft_ovidx_ev", train,
        CorpusQueries.MinRunTokens)
      val want = scrubOf(SparkEntry.queries("decontam_scrub")(spark, dir))
      assert(want.exists(_._3 > 0), "nothing scrubbed — vacuous")
      assert(scrubOf(probe) == want, "index scrub != from-scratch decontam_scrub")

      // forget one benchmark doc that currently causes scrubbing: its
      // runs must stop cutting tokens, exactly like a rebuild without it
      val runs = OverlapIndex.runsFrames(
        OverlapIndex.positioned(train), OverlapIndex.positioned(evalD),
        CorpusQueries.MinRunTokens)
      val eGone = runs.select($"e_doc").head.getLong(0)
      OverlapIndex.delete(spark, "graft_ovidx_ev", Seq(eGone).toDF("doc_id"))
      OverlapIndex.materialize(evalD.filter($"doc_id" =!= eGone), "graft_ovidx_ev2")
      val afterDel = scrubOf(OverlapIndex.scrubProbe(spark, "graft_ovidx_ev", train,
        CorpusQueries.MinRunTokens))
      assert(afterDel == scrubOf(OverlapIndex.scrubProbe(spark, "graft_ovidx_ev2",
        train, CorpusQueries.MinRunTokens)),
        "scrub after benchmark-doc delete != rebuild without it")
      assert(afterDel != want, "vacuous: the deleted eval doc scrubbed nothing")
    } finally {
      for (t <- Seq("graft_ovidx_ev", "graft_ovidx_ev_tombstones", "graft_ovidx_ev2"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.catalog.clearCache()
    }
  }

  test("a missing _current pointer fails the probe loud (never silently reads mid-rewrite data)") {
    import spark.implicits._
    GraftExtensions.register(spark)
    val train = docs.filter($"doc_id" % CorpusQueries.EvalMod =!= 0 && $"doc_id" < 200)
    val evalD = docs.filter($"doc_id" % CorpusQueries.EvalMod === 0)
    try {
      OverlapIndex.materialize(train, "graft_ovidx_ptr")
      // sanity: probes work with the pointer in place
      OverlapIndex.runsProbe(spark, "graft_ovidx_ptr", evalD,
        CorpusQueries.MinRunTokens).count()
      // simulate a crashed from-scratch materialize: the pointer is gone
      val loc = spark.sql("DESCRIBE TABLE EXTENDED graft_ovidx_ptr")
        .filter($"col_name" === "Location").select($"data_type").head.getString(0)
      java.nio.file.Files.delete(
        java.nio.file.Paths.get(new java.net.URI(loc)).resolve("_current"))
      val e = intercept[IllegalArgumentException] {
        OverlapIndex.runsProbe(spark, "graft_ovidx_ptr", evalD,
          CorpusQueries.MinRunTokens)
      }
      assert(e.getMessage.contains("_current"), e.getMessage)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_ovidx_ptr")
      spark.catalog.clearCache()
    }
  }

  test("a crashed append is invisible; the retry lands exactly the rebuild") {
    import spark.implicits._
    GraftExtensions.register(spark)
    val corpus = docs.filter($"doc_id" % CorpusQueries.EvalMod =!= 0)
    val day0 = corpus.filter($"doc_id" < 250)
    val day1 = corpus.filter($"doc_id" >= 250)
    val evalD = docs.filter($"doc_id" % CorpusQueries.EvalMod === 0)
    def probe(name: String) = runsOf(
      OverlapIndex.runsProbe(spark, name, evalD, CorpusQueries.MinRunTokens))
    try {
      OverlapIndex.materialize(day0, "graft_ovidx_crash")
      val preAppend = probe("graft_ovidx_crash")
      intercept[IllegalStateException] {
        TestSpark.crashAtFirstCommit(OverlapIndex.append(day1, "graft_ovidx_crash", 32))
      }
      assert(probe("graft_ovidx_crash") == preAppend,
        "a crashed append changed probe results — partial partitions are visible")
      // blind retry = the normal path; must equal the from-scratch union
      OverlapIndex.append(day1, "graft_ovidx_crash")
      OverlapIndex.materialize(corpus, "graft_ovidx_full")
      val want = probe("graft_ovidx_full")
      assert(want.nonEmpty, "no runs after append — vacuous")
      assert(probe("graft_ovidx_crash") == want,
        "crash + retry != from-scratch rebuild over the union")
    } finally {
      for (t <- Seq("graft_ovidx_crash", "graft_ovidx_full"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.catalog.clearCache()
    }
  }

  test("delete ≡ rebuilt-without; idempotent; vacuum erases physically with probes unchanged") {
    import spark.implicits._
    GraftExtensions.register(spark)
    val train = docs.filter($"doc_id" % CorpusQueries.EvalMod =!= 0)
    val evalD = docs.filter($"doc_id" % CorpusQueries.EvalMod === 0)
    val removedPred = $"doc_id" % 3 === 0
    def probe(name: String) = runsOf(
      OverlapIndex.runsProbe(spark, name, evalD, CorpusQueries.MinRunTokens))
    try {
      OverlapIndex.materialize(train, "graft_ovidx_del")
      OverlapIndex.materialize(train.filter(!removedPred), "graft_ovidx_rem")
      // non-vacuity: the delete must actually change some probe verdict
      assert(probe("graft_ovidx_del") != probe("graft_ovidx_rem"),
        "removed docs carry no runs — delete pin would be vacuous")
      OverlapIndex.delete(spark, "graft_ovidx_del",
        train.filter(removedPred).select($"doc_id"))
      val expected = probe("graft_ovidx_rem")
      assert(probe("graft_ovidx_del") == expected,
        "masked probe != index rebuilt without the removed docs")
      // idempotent double-delete + never-indexed id
      OverlapIndex.delete(spark, "graft_ovidx_del",
        train.filter(removedPred).select($"doc_id")
          .union(Seq(999999L).toDF("doc_id")))
      assert(probe("graft_ovidx_del") == expected)
      // vacuum: physical absence + identical probes
      OverlapIndex.vacuum(spark, "graft_ovidx_del")
      assert(probe("graft_ovidx_del") == expected, "vacuum changed probes")
      val removedIds = train.filter(removedPred).select($"doc_id")
        .collect().map(_.getLong(0)).toSet
      val onDisk = spark.table("graft_ovidx_del").select($"doc_id")
        .distinct().collect().map(_.getLong(0)).toSet
      assert(onDisk.intersect(removedIds).isEmpty,
        "vacuum left removed docs' occurrences on disk")
      assert(!spark.catalog.tableExists("graft_ovidx_del_tombstones"),
        "vacuum left the tombstone list naming the forgotten ids")
    } finally {
      for (t <- Seq("graft_ovidx_del", "graft_ovidx_rem",
          "graft_ovidx_del_tombstones"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.catalog.clearCache()
    }
  }
}
