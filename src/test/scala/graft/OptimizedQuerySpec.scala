package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Tokenizer
import graft.queries.{CorpusQueries, CrossHash}

/** Round-17 optimization pins: every restructured query must emit the
  * EXACT rows of its pre-optimization spelling (the driver's oracle gate
  * re-checks the hashes at sf0.01; these pins localize a failure to the
  * specific rewrite and document the claimed equivalences in executable
  * form).
  *
  * The three equivalences under pin:
  *  1. the audit family's `win` map read off the cached [[CorpusQueries
  *     .curatedKept]] winners equals the corpus-wide
  *     `groupBy(md5(text)).agg(min(doc_id))` it replaced (winners ARE the
  *     per-digest min rows);
  *  2. mix_novelty's 1-row cross-join total equals the old driver-side
  *     `.head` scalar spelling, including the total-zero degrade;
  *  3. bm25Contrib's `dl = Σ tf` equals the old second explode pass
  *     (token count per doc ≡ sum of term frequencies).
  */
class OptimizedQuerySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  private def q(name: String): DataFrame = {
    spark.catalog.clearCache()
    val out = SparkEntry.queries(name)(spark, dir)
    out
  }

  test("pipeline_audit equals the pre-r17 per-key spelling") {
    import spark.implicits._
    val got = rows(q("pipeline_audit"))
    spark.catalog.clearCache()
    // the old spelling, verbatim: independent gate + md5 winner agg +
    // per-key shingle/contamination chain (no shared cached stages)
    val s = spark
    val docs = Tables.load(s, dir, "documents")
      .select($"doc_id", $"text", Tokenizer.Whitespace.count($"text").as("n_tokens"))
    val quality = CorpusQueries.qualityGate(docs)
    val win = quality.groupBy(md5($"text").as("ch")).agg(min($"doc_id").as("keep_id"))
    val dups = quality.select($"doc_id", md5($"text").as("ch"))
      .join(win, "ch").select($"doc_id", $"keep_id")
    val kept = CorpusQueries.curatedKept(s, dir)
    val sh = kept.select($"doc_id",
      explode(CrossHash.shingleHashes($"text")).as("h")).distinct()
    val evalH = sh.filter($"doc_id" % CorpusQueries.EvalMod === 0)
      .select($"h").distinct().withColumn("hit", lit(1L))
    val contamCounts = sh.filter($"doc_id" % CorpusQueries.EvalMod =!= 0)
      .join(evalH, Seq("h"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce($"hit", lit(0L))).as("n_contaminated"))
    val contam = contamCounts
      .select($"doc_id", ($"n_contaminated".cast("double") / $"n_shingles").as("contam_frac"))
    val packed = new graft.operators.CurationDag(s, dir)().packed
      .select($"doc_id", $"shard", $"shard_offset")
    val want = rows(docs.select($"doc_id", $"n_tokens")
      .join(dups, Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .join(packed, Seq("doc_id"), "left")
      .select($"doc_id", $"n_tokens",
        when($"keep_id".isNull, lit("gate_failed"))
          .when($"keep_id" =!= $"doc_id", lit("dup"))
          .when($"doc_id" % CorpusQueries.EvalMod === 0, lit("eval_split"))
          .when($"contam_frac" >= 0.5, lit("contaminated"))
          .otherwise(lit("kept")).as("fate"),
        when($"keep_id" =!= $"doc_id", $"keep_id").as("dup_of"),
        $"contam_frac", $"shard", $"shard_offset"))
    spark.catalog.clearCache()
    // nonEmpty like the sibling pins: equal-and-empty would pass silently
    // if a regression (e.g. a broken qualityGate) emptied BOTH spellings
    assert(got == want && got.nonEmpty)
  }

  test("audit win map off cached winners equals the corpus-wide md5 min agg") {
    import spark.implicits._
    spark.catalog.clearCache()
    val docs = Tables.load(spark, dir, "documents")
      .select($"doc_id", $"text", Tokenizer.Whitespace.count($"text").as("n_tokens"))
    val quality = CorpusQueries.qualityGate(docs)
    val old = rows(quality.groupBy(md5($"text").as("ch"))
      .agg(min($"doc_id").as("keep_id")))
    val neu = rows(CorpusQueries.curatedKept(spark, dir)
      .select(md5($"text").as("ch"), $"doc_id".as("keep_id")))
    spark.catalog.clearCache()
    assert(old == neu && old.nonEmpty)
  }

  test("mix_novelty cross-join total equals the old driver-scalar spelling") {
    import spark.implicits._
    val got = rows(q("mix_novelty"))
    spark.catalog.clearCache()
    val docs = Tables.load(spark, dir, "documents")
    GraftExtensions.register(spark)
    val sh = docs.select($"doc_id",
      explode(CrossHash.shingleHashes($"text")).as("h")).distinct()
    val firsts = sh.groupBy($"h").agg(min($"doc_id").as("first_doc"))
    val perDoc = sh.join(firsts, "h")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("ns"),
        sum(when($"first_doc" === $"doc_id", 1L).otherwise(0L)).as("nn"))
    val perSrc = docs.select($"doc_id", $"source")
      .join(perDoc, "doc_id")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"ns").as("n_shingles"), sum($"nn").as("n_novel"))
    val totalNovel = perSrc.agg(coalesce(sum($"n_novel"), lit(0L)))
      .head.getLong(0)
    val want = rows(perSrc.select($"source", $"n_docs", $"n_shingles", $"n_novel",
      expr("(n_novel * 1000000) div n_shingles").as("novelty_ppm"),
      (if (totalNovel == 0L) lit(0L)
       else expr(s"(n_novel * 1000000) div $totalNovel")).as("w_ppm")))
    spark.catalog.clearCache()
    assert(got == want && got.nonEmpty)
  }

  test("bm25 dl = sum(tf) equals the old per-doc token count") {
    import spark.implicits._
    spark.catalog.clearCache()
    GraftExtensions.register(spark)
    val tok = Tables.load(spark, dir, "documents")
      .select($"doc_id", explode(CrossHash.tokens($"text")).as("term"))
    val old = rows(tok.groupBy($"doc_id").agg(count(lit(1)).as("dl")))
    val neu = rows(tok.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      .groupBy($"doc_id").agg(sum($"tf").as("dl")))
    assert(old == neu && old.nonEmpty)
  }
}
