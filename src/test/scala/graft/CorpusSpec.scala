package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.GlobalCumsum

/** Corpus-pipeline operators (CorpusQueries) + the GlobalCumsum primitive.
  *
  * GlobalCumsum is cross-checked against the naive single-partition window
  * spelling (the thing it exists to avoid) over several bucket geometries,
  * including degenerate ones (1 bucket = the naive shape itself; more
  * buckets than rows = every row alone). The pack/sample queries are
  * pinned by their algebraic invariants — the driver's DuckDB oracle
  * already checks exact values.
  */
class CorpusSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("GlobalCumsum equals the single-partition window over sparse, non-contiguous keys") {
    import spark.implicits._
    // keys deliberately sparse + clustered so value-range buckets are uneven
    val rows = Seq((3L, 5L), (4L, 2L), (9L, 1L), (100L, 7L), (101L, 3L),
      (5000L, 11L), (5001L, 0L), (5002L, 4L), (999999L, 9L))
    val df = rows.toDF("k", "v")
    val naive = df.withColumn("cb",
        coalesce(sum($"v").over(Window.orderBy($"k")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select($"k", $"cb").as[(Long, Long)].collect().toMap
    for (nb <- Seq(0, 1, 2, 4, 32, 1000)) { // 0 = the auto-sized default
      val got = GlobalCumsum.runningBefore(df, "k", "v", "cb", nb)
        .select($"k", $"cb").as[(Long, Long)].collect().toMap
      assert(got == naive, s"numBuckets=$nb: $got != $naive")
    }
  }

  test("GlobalCumsum stays exact AND balanced under pathological key skew") {
    import spark.implicits._
    // 10k keys crammed into [0, 10k) plus one outlier at 2^52: fixed-width
    // value-range bucketing would put 10k rows in bucket 0 — the quantile
    // bounds must keep spreading them
    val rows = ((0L until 10000L) :+ (1L << 52)).map(k => (k, k % 7))
    val df = rows.toDF("k", "v").repartition(8)
    val naive = df.withColumn("cb",
        coalesce(sum($"v").over(Window.orderBy($"k")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select($"k", $"cb").as[(Long, Long)].collect().toMap
    val got = GlobalCumsum.runningBefore(df, "k", "v", "cb", 16)
      .select($"k", $"cb").as[(Long, Long)].collect().toMap
    assert(got == naive)
    // balance: the largest quantile bucket must hold ≪ everything (the
    // bound is loose — GK with ε=0.001 is near-exact at this size)
    val probs = (1 until 16).map(_.toDouble / 16).toArray
    val bounds = df.stat.approxQuantile("k", probs, 0.001).distinct.sorted
    val perBucket = rows.groupBy(r => bounds.count(_ < r._1.toDouble)).values.map(_.size)
    assert(perBucket.max <= rows.size / 4,
      s"skewed keys collapsed into one bucket: $perBucket")
  }

  test("GlobalCumsum tolerates NULL values — including a bucket that is entirely NULL") {
    import spark.implicits._
    // keys 0..9 all NULL-valued (one quantile bucket is all-NULL), then real values
    val rows = (0L to 9L).map(k => (k, None: Option[Long])) ++
      (100L to 109L).map(k => (k, Some(k)))
    val df = rows.toDF("k", "v")
    val naive = df.withColumn("cb",
        coalesce(sum($"v").over(Window.orderBy($"k")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select($"k", $"cb").as[(Long, Long)].collect().toMap
    val got = GlobalCumsum.runningBefore(df, "k", "v", "cb", 4)
      .select($"k", $"cb").as[(Long, Long)].collect().toMap
    assert(got == naive)
  }

  test("GlobalCumsum on an empty frame yields an empty frame with the output column") {
    import spark.implicits._
    val df = Seq.empty[(Long, Long)].toDF("k", "v")
    val out = GlobalCumsum.runningBefore(df, "k", "v", "cb")
    assert(out.columns.contains("cb"))
    assert(out.count() == 0)
  }

  test("GlobalCumsum.bucketsFor: per-bucket rows tracked at <= 8192 up to the 4096-bucket cap") {
    // gate/bench corpora reproduce the historic 32 — no behavior change
    // where the oracles run (the result is bucket-count-invariant anyway;
    // this pins the PARALLELISM rule, the thing that scales)
    assert(GlobalCumsum.bucketsFor(0) == 32)
    assert(GlobalCumsum.bucketsFor(500) == 32, "sf0.01 gate")
    assert(GlobalCumsum.bucketsFor(5000) == 32, "sf0.1 bench")
    assert(GlobalCumsum.bucketsFor(1L << 18) == 32, "rule boundary")
    assert(GlobalCumsum.bucketsFor((1L << 18) + 1) == 64, "first step past it")
    assert(GlobalCumsum.bucketsFor(500000) == 64, "100x document corpus")
    assert(GlobalCumsum.bucketsFor(1L << 25) == 4096, "cap reached")
    assert(GlobalCumsum.bucketsFor(1L << 40) == 4096, "cap holds")
    // below the cap, no bucket is ever asked to window more than 8192 rows
    for (n <- Seq(1L, 8192L, 8193L, 100000L, 1L << 20, 1L << 25))
      assert(n <= GlobalCumsum.bucketsFor(n).toLong * 8192L, s"n=$n")
  }

  test("CrossHash.shardsFor: per-shard rows bounded at 4096 — gate boundary and growth points") {
    import graft.queries.CrossHash
    assert(CrossHash.shardsFor(50) == 8L, "spec corpus geometry")
    assert(CrossHash.shardsFor(500) == 8L, "sf0.01 gate geometry")
    assert(CrossHash.shardsFor(5000) == 8L, "sf0.1 bench geometry")
    assert(CrossHash.shardsFor(1L << 15) == 8L, "rule boundary")
    assert(CrossHash.shardsFor((1L << 15) + 1) == 16L, "first step past the boundary")
    assert(CrossHash.shardsFor(50000) == 16L, "10x geometry")
    assert(CrossHash.shardsFor(500000) == 128L, "100x geometry")
    // the invariant the rule exists for: the per-shard window (the
    // operator's only sort) is bounded regardless of corpus size
    for (n <- Seq(1L, 100L, 4096L, 4097L, 100000L, 1000000L, 1L << 40))
      assert(n <= CrossHash.shardsFor(n) * 4096L, s"n=$n unbounded shard")
  }

  test("doc_shuffle at a second geometry (16 shards): driver-side recomputation matches; pos is a contiguous per-shard rank") {
    import spark.implicits._
    import graft.queries.{CorpusQueries, CrossHash}
    GraftExtensions.register(spark)
    val got = CorpusQueries.docShuffle(spark, dir, shards = 16L)
      .as[(Long, Long, Long)].collect().toSet
    // hh from the registered hash (pinned cross-engine by the driver
    // gate at the 8-shard geometry); the SHARD/POS algebra — modulo
    // bucketing and the per-shard (hh, doc_id) rank — is recomputed
    // DRIVER-SIDE, so the auto-sizing rule cannot silently change what
    // the operator computes at a non-gate width
    val hh = Tables.load(spark, dir, "documents")
      .select($"doc_id", CrossHash.h60(concat($"doc_id".cast("string"),
        lit(":"), $"text")).as("hh"))
      .as[(Long, Long)].collect()
    val want = hh.groupBy(_._2 % 16L).toSeq.flatMap { case (shard, docs) =>
      docs.sortBy(d => (d._2, d._1)).zipWithIndex.map { case ((id, _), i) =>
        (id, shard, i + 1L)
      }
    }.toSet
    assert(got == want)
    // permutation invariants: every doc appears exactly once; per-shard
    // positions are exactly 1..|shard|
    assert(got.map(_._1).size == hh.length)
    got.groupBy(_._2).foreach { case (sh, rows) =>
      assert(rows.map(_._3) == (1L to rows.size.toLong).toSet, s"shard $sh")
    }
  }

  test("doc_pack: offsets stay inside the budget and the stream reassembles exactly") {
    import spark.implicits._
    val b = graft.queries.CorpusQueries.PackBudget
    val rows = SparkEntry.queries("doc_pack")(spark, dir)
      .orderBy($"doc_id")
      .select($"doc_id", $"n_tokens", $"shard", $"shard_offset")
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    var cum = 0L
    for ((_, n, shard, off) <- rows) {
      assert(off >= 0 && off < b)
      assert(shard == cum / b && off == cum % b, s"pack position mismatch at cum=$cum")
      cum += n
    }
  }

  test("Tokenizer.ToyBpe: regexp column equals the independent scanner spelling") {
    import spark.implicits._
    import graft.functions.Tokenizer.ToyBpe
    val cases = Seq(
      "", "   ", "hello world", "internationalization", // 4+ char splits
      "a bb ccc dddd eeeee", "42 cats, 7 dogs!", "x.y-z 123abc",
      "tabs\tand\nnewlines  mixed", "ALLCAPSRUN lower_case-mixed",
      "!!!???", "ünïcode stays symbolic")
    val got = cases.toDF("text")
      .select(ToyBpe.count($"text").as("n")).as[Long].collect().toSeq
    val want = cases.map(ToyBpe.countReference)
    assert(got == want, s"regex vs scanner: ${cases.zip(got.zip(want))}")
    // a 5-letter word is 2 pieces (4+1) — the split actually happens
    assert(ToyBpe.countReference("eeeee") == 2L)
  }

  test("doc_pack under ToyBpe: pack boundaries equal an independent BPE-count spelling") {
    import spark.implicits._
    import graft.functions.Tokenizer
    val got = graft.queries.CorpusQueries
      .docPack(spark, dir, Tokenizer.ToyBpe)
      .orderBy($"doc_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // independent spelling: scanner counts + a driver-side running sum
    val docs = Tables.load(spark, dir, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().sortBy(_._1)
    var cb = 0L
    val want = docs.map { case (id, text) =>
      val n = Tokenizer.ToyBpe.countReference(text)
      val row = (id, n, cb / graft.queries.CorpusQueries.PackBudget,
        cb % graft.queries.CorpusQueries.PackBudget)
      cb += n
      row
    }.toSeq
    assert(got == want, s"first diff: ${got.zip(want).find(p => p._1 != p._2)}")
    // BPE counts must actually differ from whitespace counts somewhere,
    // or this pin is vacuously the whitespace test
    val ws = docs.map { case (_, t) => t.trim.split("\\s+").count(_.nonEmpty).toLong }
    assert(ws != want.map(_._2), "ToyBpe degenerated to whitespace counting")
  }

  test("sample_weighted: deterministic (two runs identical) and long docs downsampled") {
    import spark.implicits._
    def run() = SparkEntry.queries("sample_weighted")(spark, dir)
      .select($"doc_id", $"sample_p").as[(Long, Double)].collect().toMap
    val a = run(); val b = run()
    assert(a == b, "sampling must be bit-reproducible across runs")
    assert(a.nonEmpty)
    assert(a.values.forall(p => p > 0.0 && p <= 1.0))
    // the corpus has docs longer than the target, so some p < 1 must occur
    assert(a.values.exists(_ < 1.0))
  }

  test("text_decontam: the eval split itself never appears; fractions are consistent") {
    import spark.implicits._
    val m = graft.queries.CorpusQueries.EvalMod
    val rows = SparkEntry.queries("text_decontam")(spark, dir)
      .as[(Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    for ((id, n, c, f) <- rows) {
      assert(id % m != 0, s"eval doc $id leaked into the training-side output")
      assert(c >= 0 && c <= n)
      assert(math.abs(f - c.toDouble / n) == 0.0)
    }
    // word-salad corpora share shingles: contamination must be non-vacuous
    assert(rows.exists(_._3 > 0))
  }

  test("PackedExport: shard layout on disk equals doc_pack; single-shard reads are partition-pruned") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.queries.CrossHash.tokens
    val out = java.nio.file.Files.createTempDirectory("graft-packed-").toString
    val docs = Tables.load(spark, dir, "documents")
      .select($"doc_id", size(tokens($"text")).cast("long").as("n_tokens"))
    val budget = graft.queries.CorpusQueries.PackBudget
    val nShards = graft.operators.PackedExport.writeShards(docs, out, budget)
    assert(nShards > 1, "test corpus should span several shards")
    // read-back equals the registered doc_pack query row-for-row
    val back = spark.read.parquet(out)
      .select($"doc_id", $"n_tokens", $"shard".cast("long"), $"shard_offset")
      .as[(Long, Long, Long, Long)].collect().toSet
    val expect = SparkEntry.queries("doc_pack")(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(back == expect, "exported layout diverges from doc_pack")
    // shard dirs contiguous 0..N-1
    val dirs = new java.io.File(out).listFiles().map(_.getName)
      .filter(_.startsWith("shard=")).map(_.stripPrefix("shard=").toLong).sorted
    assert(dirs.toSeq == (0L until nShards), s"non-contiguous shards: ${dirs.toSeq}")
    // one shard dir holds exactly that shard's docs (layout IS the filter)
    val one = spark.read.parquet(s"$out/shard=1").select($"doc_id")
      .as[Long].collect().toSet
    assert(one == expect.filter(_._3 == 1L).map(_._1), "shard=1 dir content mismatch")
    assert(one.nonEmpty)
    // empty corpus → zero shards, no schema-inference crash
    val out2 = java.nio.file.Files.createTempDirectory("graft-packed0-").toString
    assert(graft.operators.PackedExport.writeShards(docs.filter(lit(false)), out2, budget) == 0L)
    // an over-budget doc would skip shard ids (missing shard=K dirs while
    // the count says otherwise) — the writer must fail fast instead
    val out3 = java.nio.file.Files.createTempDirectory("graft-packed-big-").toString
    val withBig = docs.union(Seq((999999L, budget + 1)).toDF("doc_id", "n_tokens"))
    val e = intercept[IllegalArgumentException] {
      graft.operators.PackedExport.writeShards(withBig, out3, budget)
    }
    assert(e.getMessage.contains("chunk oversized docs"), e.getMessage)
  }

  test("PackedExport.writeShards releases the input its pack cached") {
    import org.apache.spark.sql.functions.size
    import spark.implicits._
    import graft.queries.CrossHash.tokens
    val docs = Tables.load(spark, dir, "documents")
      .select($"doc_id", size(tokens($"text")).cast("long").as("n_tokens"))
    spark.catalog.clearCache()
    val out = java.nio.file.Files.createTempDirectory("graft-packed-rel-").toString
    assert(graft.operators.PackedExport.writeShards(docs, out,
      graft.queries.CorpusQueries.PackBudget) > 1)
    assert(spark.sharedState.cacheManager.isEmpty, "writeShards left a cache entry")
  }

  test("mix_temperature: α=0.5 weights — probabilities sum to 1 and flatten the token head") {
    import spark.implicits._
    val rows = SparkEntry.queries("mix_temperature")(spark, dir)
      .as[(String, Long, Long, Double, Double)].collect()
    assert(rows.length >= 2)
    assert(math.abs(rows.map(_._5).sum - 1.0) < 1e-12, "mix_p must sum to 1")
    // flattening: p-share ordering follows token ordering, but the ratio
    // between the largest and smallest share shrinks vs the raw shares
    val byTok = rows.sortBy(_._3)
    assert(byTok.map(_._5).zip(byTok.map(_._5).drop(1)).forall { case (a, b) => a <= b },
      "mix_p must be monotone in token count")
    val rawRatio = byTok.last._3.toDouble / byTok.head._3
    val mixRatio = byTok.last._5 / byTok.head._5
    assert(mixRatio < rawRatio, "temperature must flatten the distribution")
  }

  test("corpus_overlap: MinHash estimate tracks exact per-pair Jaccard within sketch error") {
    import spark.implicits._
    import graft.queries.CrossHash._
    val est = SparkEntry.queries("corpus_overlap")(spark, dir)
      .as[(String, String, Long, Double)].collect()
      .map { case (a, b, m, j) => (a, b) -> (m, j) }.toMap
    assert(est.nonEmpty)
    assert(est.keys.forall { case (a, b) => a < b }, "upper triangle only")
    assert(est.values.forall { case (m, j) =>
      m >= 0 && m <= NumPerm && math.abs(j - m.toDouble / NumPerm) == 0.0 })
    // exact Jaccard per source pair from the same shingle sets
    graft.GraftExtensions.register(spark)
    val sets = Tables.load(spark, dir, "documents")
      .select($"source", explode(shingleHashes($"text")).as("h")).distinct()
      .as[(String, Long)].collect().groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).toSet }
    for (((a, b), (_, j)) <- est) {
      val inter = (sets(a) & sets(b)).size.toDouble
      val exact = inter / (sets(a) | sets(b)).size
      // 16 permutations ⇒ stderr ≈ sqrt(J(1-J)/16) ≤ 0.125; allow 4 sigma
      assert(math.abs(j - exact) <= 0.5, s"($a,$b): est $j vs exact $exact")
    }
  }

  test("text_oov: counts partition exactly and the vocabulary is top-K by frequency") {
    import spark.implicits._
    import graft.queries.CrossHash._
    val rows = SparkEntry.queries("text_oov")(spark, dir)
      .as[(Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    for ((_, n, oov, f) <- rows) {
      assert(oov >= 0 && oov <= n)
      assert(math.abs(f - oov.toDouble / n) == 0.0)
    }
    // independent recount: per-doc token totals must match a direct count
    val direct = Tables.load(spark, dir, "documents")
      .select($"doc_id", size(tokens($"text")).cast("long").as("n"))
      .as[(Long, Long)].collect().toMap
    assert(rows.map(r => r._1 -> r._2).toMap == direct)
    // with K below the distinct-token count, some OOV mass must exist
    assert(rows.exists(_._3 > 0), "vocab covers everything — K not below vocab size?")
  }

  test("knn_self_topk: every vector with bucket-mates gets ranked neighbors; ranks dense from 1") {
    import spark.implicits._
    val rows = SparkEntry.queries("knn_self_topk")(spark, dir)
      .as[(Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    val byQuery = rows.groupBy(_._1)
    for ((q, ns) <- byQuery) {
      val ranks = ns.map(_._2).sorted
      assert(ranks.toSeq == (1L to ranks.length).toSeq, s"query $q ranks not dense: ${ranks.toSeq}")
      assert(ns.map(_._3).distinct.length == ns.length, s"query $q repeats a neighbor")
      assert(!ns.map(_._3).contains(q), s"query $q returned itself")
    }
  }

  test("sample_importance separates like-target docs on a disjoint-vocabulary corpus") {
    import spark.implicits._
    // The sf corpora share one 31-token vocabulary across languages, so
    // every feature ratio sits near 1 there (weak separation is a data
    // property). This corpus gives the target (en) and off-target (fr)
    // splits DISJOINT vocabularies — the regime DSIR selection is for.
    val d = java.nio.file.Files.createTempDirectory("graft-dsir-").toString
    val enWords = Seq("alpha", "beta", "gamma", "delta", "epsilon")
    val frWords = Seq("zut", "alors", "fromage", "baguette", "chateau")
    val docs =
      (0L until 20L).map(i => (i, (0 to 3).map(j => enWords(((i + j) % 5).toInt)).mkString(" "), "en", "web", 20L)) ++
      (20L until 40L).map(i => (i, (0 to 3).map(j => frWords(((i + j) % 5).toInt)).mkString(" "), "fr", "web", 20L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    val out = graft.queries.CorpusQueries.sampleImportance(spark, d)
      .select($"doc_id", $"imp_mean_scaled", $"keep")
      .as[(Long, Double, Long)].collect()
    val (en, fr) = out.partition(_._1 < 20L)
    assert(en.length == 20 && fr.length == 20)
    // target-vocab docs score above ratio 1 (scaled 1e6) and always keep;
    // off-target docs score far below and mostly drop
    assert(en.forall(_._2 > 1000000.0), s"en means: ${en.map(_._2).min}")
    assert(en.forall(_._3 == 1L))
    assert(fr.forall(_._2 < 300000.0), s"fr means: ${fr.map(_._2).max}")
    assert(fr.count(_._3 == 1L) <= 4, s"fr keep count: ${fr.count(_._3 == 1L)}")
  }

  test("mix_epoch_cap: the water-fill boundary BINDS — capped sources at exactly EpochCap epochs, budget conserved") {
    import spark.implicits._
    val rows = SparkEntry.queries("mix_epoch_cap")(spark, dir)
      .select($"n_tokens", $"alloc_tokens", $"epochs")
      .as[(Long, Double, Double)].collect()
    val cap = graft.queries.CorpusQueries.EpochCap.toDouble
    val (capped, uncapped) = rows.partition(_._3 == cap)
    // non-vacuous on the driver corpus: both regimes must appear, or the
    // boundary algebra is untested (the oracle would agree trivially)
    assert(capped.nonEmpty, "no source capped — boundary never exercised")
    assert(uncapped.nonEmpty, "every source capped — water level untested")
    assert(uncapped.forall(_._3 < cap), s"uncapped above the cap: $uncapped")
    // all uncapped sources sit at ONE common level (the water level)
    assert(uncapped.map(_._2).distinct.length == 1,
      s"uncapped allocations differ: ${uncapped.map(_._2).distinct.toSeq}")
    // Σ alloc == budget (BudgetNumer/BudgetDenom × unique corpus)
    val total = rows.map(_._1).sum.toDouble
    val budget = total * graft.queries.CorpusQueries.BudgetNumer /
      graft.queries.CorpusQueries.BudgetDenom
    val alloc = rows.map(_._2).sum
    assert(math.abs(alloc - budget) / budget < 1e-9,
      s"budget not conserved: alloc=$alloc budget=$budget")
  }

  test("mix_epoch_cap closed form == iterative water-fill on seeded random distributions") {
    import spark.implicits._
    val C = graft.queries.CorpusQueries
    // driver-side reference: repeatedly cap any source whose equal share
    // of the remaining budget exceeds its capacity, until stable
    def reference(tokens: Map[String, Long]): Map[String, Double] = {
      val budget = tokens.values.sum.toDouble * C.BudgetNumer / C.BudgetDenom
      var capped = Set.empty[String]
      var stable = false
      while (!stable) {
        val remaining = budget - capped.toSeq.map(s => tokens(s).toDouble * C.EpochCap).sum
        val level = remaining / (tokens.size - capped.size)
        val newly = tokens.keySet.diff(capped)
          .filter(s => tokens(s).toDouble * C.EpochCap < level)
        if (newly.isEmpty) stable = true else capped ++= newly
      }
      val remaining = budget - capped.toSeq.map(s => tokens(s).toDouble * C.EpochCap).sum
      val level = remaining / (tokens.size - capped.size)
      tokens.map { case (s, n) =>
        s -> (if (capped(s)) n.toDouble * C.EpochCap else level)
      }
    }
    for (seed <- 1 to 8) {
      val rng = new scala.util.Random(seed)
      val n = 2 + rng.nextInt(12)
      // heavy-tailed spread so cap boundaries land at varied depths
      // (including none capped); duplicates exercise the (capacity,
      // source) tie-break
      val tokens = (0 until n).map { i =>
        val mag = math.pow(10, 1 + rng.nextInt(4)).toLong
        s"s$i" -> (1L + rng.nextLong(mag))
      }.toMap
      val out = C.mixEpochCap(tokens.toSeq.toDF("source", "n_tokens"))
        .select($"source", $"alloc_tokens").as[(String, Double)].collect().toMap
      val ref = reference(tokens)
      assert(out.keySet == ref.keySet, s"seed=$seed sources differ")
      for ((s, a) <- out) {
        val r = ref(s)
        assert(math.abs(a - r) <= math.max(1e-9, 1e-12 * math.abs(r)),
          s"seed=$seed source=$s tokens=${tokens(s)}: closed=$a iterative=$r")
      }
    }
  }
}
