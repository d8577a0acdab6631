package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.time.Instant

import org.apache.avro.Schema
import org.apache.avro.generic.GenericData
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.codec.{ConfluentAvro, MetadataCodec, SchemaCatalog}
import graft.crypto.{EventEncryptor, InMemoryKms}
import graft.functions.EventFunctions
import graft.replicate.Replicator
import graft.sources.KafkaShapedLog
import graft.store.{EventLog, GraftEventStore}

/** Codegen pinning: every native graft expression must COMPILE under
  * Janino — no silent interpreter fallback on the hot paths.
  *
  * Spark's default `spark.sql.codegen.fallback=true` hides codegen bugs:
  * a Janino CompileException logs a warning and the stage silently runs
  * interpreted (exactly what happened to graft_schema_id's original
  * `(($b[1] & 0xff) << 24)` spelling, which Janino misparses as a cast).
  * This suite runs the hot decode/replicate paths on a session pinned to
  * `codegen.fallback=false` + `factoryMode=CODEGEN_ONLY`, so any future
  * codegen regression fails CI instead of shipping as a throughput tax.
  *
  * Uses `newSession()` — own SQLConf over the shared SparkContext — so the
  * pinned flags never leak into concurrently-running suites.
  */
class CodegenSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = TestSpark.spark.newSession()
    s.conf.set("spark.sql.codegen.fallback", "false")
    s.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    GraftExtensions.register(s)
    s
  }

  private val payloadSchema = new Schema.Parser().parse(
    """{"type":"record","name":"CgPayload","namespace":"graft.test",
      |"fields":[{"name":"text","type":"string"}]}""".stripMargin)
  private val catalog = SchemaCatalog(7 -> payloadSchema)

  private def rec(text: String): GenericData.Record = {
    val r = new GenericData.Record(payloadSchema)
    r.put("text", text)
    r
  }

  test("graft_schema_id compiles and survives a shuffle (the round-3 failure context)") {
    import spark.implicits._
    // schema ids spread over 3 values; the expression feeds the exchange,
    // so it lands inside a ShuffleMapTask's generated code
    val framed = (1 to 90).map { i =>
      ConfluentAvro.frame(100 + (i % 3), ConfluentAvro.encodeBody(rec(s"m$i")))
    }
    val counts = framed.toDF("data")
      .select(expr("graft_schema_id(data)").as("sid"))
      .groupBy($"sid").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts == Map(100 -> 30, 101 -> 30, 102 -> 30))
  }

  test("graft_meta_decode compiles; null bytes decode to the empty map") {
    import spark.implicits._
    val meta = MetadataCodec.encode(Map(
      "zk" -> "zv".getBytes(UTF_8), "ak" -> "av".getBytes(UTF_8)))
    val rows = Seq(Some(meta), None).toDF("metadata")
      .select(expr("graft_meta_decode(metadata)").as("m"))
      .select(map_keys($"m").as("ks"), transform(map_values($"m"),
        v => decode(v, "UTF-8")).as("vs"))
      .collect()
    assert(rows(0).getSeq[String](0) == Seq("ak", "zk")) // key-sorted decode
    assert(rows(0).getSeq[String](1) == Seq("av", "zv"))
    assert(rows(1).getSeq[String](0).isEmpty) // null → empty map, not null
  }

  test("graft_dot and graft_h60 compile in projection and aggregate contexts") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0), "alpha"),
      (Array(0.5, 0.5, 0.0), Array(2.0, 2.0, 2.0), "beta"))
      .toDF("a", "b", "t")
    val out = df.select(
        expr("graft_dot(a, b)").as("dot"),
        expr("graft_h60(t)").as("h"))
      .groupBy($"h").agg(sum($"dot").as("s"))
      .collect()
    assert(out.length == 2)
    assert(out.map(_.getDouble(1)).sorted.toSeq == Seq(2.0, 32.0))
  }

  test("full enrich decode pipeline (encrypted) compiles under CODEGEN_ONLY") {
    val log = EventLog(Files.createTempDirectory("graft-cg-").toString, spark)
    val store = new GraftEventStore(log, catalog,
      Some(new EventEncryptor(new InMemoryKms)))
    store.saveAll("cg_events", (1 to 6).map { i =>
      (s"k$i".getBytes(UTF_8), rec(s"cg $i"): org.apache.avro.generic.GenericRecord,
        Instant.parse("2024-06-01T00:00:00Z").plusSeconds(i),
        Map("seq" -> i.toString.getBytes(UTF_8)))
    }, encryptionKeyUri = Some("test-kms://test-keys/cg"))
    val decoded = EventFunctions.enrich(log.read("cg_events"), catalog,
        encryptor = Some(new EventEncryptor(new InMemoryKms)))
      .orderBy("id").collect()
    assert(decoded.map(_.getAs[String]("payload_json")).toSeq ==
      (1 to 6).map(i => s"""{"text": "cg $i"}"""))
    assert(decoded.map(_.getAs[Int]("schema_id")).distinct.toSeq == Seq(7))
  }

  test("replication header build (toRecords' native metadata decode) compiles") {
    val log = EventLog(Files.createTempDirectory("graft-cgr-").toString, spark)
    val store = new GraftEventStore(log, catalog)
    store.saveAll("cgr_events", (1 to 5).map { i =>
      (s"k$i".getBytes(UTF_8), rec(s"r $i"): org.apache.avro.generic.GenericRecord,
        Instant.parse("2024-06-02T00:00:00Z").plusSeconds(i),
        Map("seq" -> i.toString.getBytes(UTF_8)))
    })
    val sink = KafkaShapedLog(Files.createTempDirectory("graft-cgs-").toString, spark)
    assert(new Replicator(log, sink, batchSize = 2).run("cgr_events") == 5L)
    val headers = sink.read("cgr_events").orderBy("offset").collect().map { r =>
      r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("headers"))
        .map(h => h.getAs[String]("key")).toSeq
    }
    // id + lsn + seq, sorted by header key, on every record
    assert(headers.forall(_ == Seq("id", "lsn", "seq")))
  }

  test("LongParam compiles; plans differing only in its values share compiled code") {
    import spark.implicits._
    import org.apache.spark.metrics.source.CodegenMetrics
    import graft.functions.expressions.LongParam
    val rows = spark.range(0, 100).select(($"id" / 10).cast("long").as("lsn"), $"id")
    def run(lo: Long, hi: Long): Seq[(Long, Long)] = rows
      .filter($"lsn" > LongParam.col(lo) && $"lsn" <= LongParam.col(hi) &&
        struct($"lsn", $"id") > struct(LongParam.col(lo + 1), LongParam.col(lo * 10 + 13)))
      .select($"id", ($"id" + LongParam.col(hi)).as("s")).as[(Long, Long)].collect().toSeq
    def expect(lo: Long, hi: Long): Seq[(Long, Long)] = (0L until 100L)
      .filter { i => val l = i / 10; l > lo && l <= hi && (l > lo + 1 || i > lo * 10 + 13) }
      .map(i => (i, i + hi))
    assert(run(1, 3) == expect(1, 3))
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    assert(run(4, 7) == expect(4, 7))
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == before,
      "new parameter values compiled new classes")
  }

  test("graft_lsh_bands compiles; bit-identical to the composed graft_dot spelling") {
    import spark.implicits._
    import graft.queries.CrossHash
    val nBands = 4
    val nBits = 3
    val dim = 8
    val planes = CrossHash.embPlanesFor(nBands, nBits, dim)
    val flat = planes.flatten.map(_.toDouble)
    val rnd = new scala.util.Random(42)
    val vecs = (1 to 50).map(i => (i.toLong, Array.fill(dim)(rnd.nextGaussian())))
    val df = vecs.toDF("vec_id", "v").cache()
    // fused one-pass signature
    val fused = df.select($"vec_id",
        posexplode(call_function("graft_lsh_bands",
          $"v", typedlit(flat), lit(nBands), lit(nBits))))
      .select($"vec_id", $"pos".as("band"), $"col".as("bb"))
    // composed spelling: one graft_dot per plane (the oracle's form)
    val composed = df.select($"vec_id", explode(array((0 until nBands).map { t =>
        val bits = (0 until nBits).map { j =>
          when(expr(s"graft_dot(v, ${CrossHash.embPlaneSqlOf(planes, t * nBits + j)})") > 0,
            lit(1L << j)).otherwise(lit(0L))
        }.reduce(_ + _)
        struct(lit(t).as("band"), bits.as("bb"))
      }: _*)).as("x"))
      .select($"vec_id", $"x.band".as("band"), $"x.bb".as("bb"))
    assert(fused.except(composed).isEmpty && composed.except(fused).isEmpty)
    // composed-spelling parity on malformed input: null vector, null
    // element, dimension mismatch — graft_dot yields NULL there and
    // `WHEN null > 0 … ELSE 0` maps every band to 0, so the fused form
    // must emit the all-zero signature (NOT null, which would silently
    // drop the row from candidate generation while the oracle keeps it)
    val edge = Seq(
      (1L, null: Array[java.lang.Double]),
      (2L, Array[java.lang.Double](1.0, null, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0)),
      (3L, Array[java.lang.Double](1.0, 2.0))) // wrong dim
      .toDF("vec_id", "v")
      .select(call_function("graft_lsh_bands",
        $"v", typedlit(flat), lit(nBands), lit(nBits)).as("sig"))
      .collect()
    assert(edge.forall(r => !r.isNullAt(0) &&
      r.getSeq[Long](0) == Seq.fill(nBands)(0L)))
  }

  test("graft_pq_scores compiles; bit-identical to the composed slice/graft_dot spelling") {
    import spark.implicits._
    val (m, k, dim) = (4, 3, 8)
    val rnd = new scala.util.Random(7)
    val cb = IndexedSeq.fill(m, k, dim / m)(rnd.nextGaussian())
    val cbFlat = cb.flatten.flatten
    val c2Flat = cb.flatten.map(c => c.map(x => x * x).sum)
    val df = (1 to 50).map(i => (i.toLong, Array.fill(dim)(rnd.nextGaussian())))
      .toDF("vec_id", "v").cache()
    val fused = df.select($"vec_id", call_function("graft_pq_scores",
      $"v", typedlit(cbFlat), typedlit(c2Flat), lit(m), lit(k)).as("sc"))
    // composed spelling: one graft_dot per (subspace, centroid)
    val composed = df.select($"vec_id", array((for (m0 <- 0 until m; i <- 0 until k) yield {
      val cent = cb(m0)(i).map(x => s"${x}D").mkString("array(", ", ", ")")
      expr(s"-2*graft_dot(slice(v, ${m0 * (dim / m) + 1}, ${dim / m}), $cent) + ${c2Flat(m0 * k + i)}")
    }): _*).as("sc"))
    assert(fused.except(composed).isEmpty && composed.except(fused).isEmpty)
    // malformed input parity: graft_dot over a misaligned slice returns
    // NULL and poisons the composed array; the fused form returns NULL
    val edge = Seq(
      (1L, null: Array[java.lang.Double]),
      (2L, Array[java.lang.Double](1.0, null, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0)),
      (3L, Array[java.lang.Double](1.0, 2.0))) // wrong dim
      .toDF("vec_id", "v")
      .select(call_function("graft_pq_scores",
        $"v", typedlit(cbFlat), typedlit(c2Flat), lit(m), lit(k)).as("sc"))
      .collect()
    assert(edge.forall(_.isNullAt(0)))
  }

  test("graft_shingle60 compiles; value-identical to the composed split/concat_ws/h60 spelling") {
    import spark.implicits._
    import graft.queries.CrossHash
    // seeded random strings over an adversarial alphabet: unicode words,
    // tabs/newlines/multi-space runs, leading/trailing whitespace, empties
    val rnd = new scala.util.Random(20260812L)
    val atoms = Vector("a", "bb", "word", "的", "naïve", "x1", "", " ", "  ", "\t", "\n")
    val randomDocs = Vector.fill(200) {
      Vector.fill(rnd.nextInt(12))(atoms(rnd.nextInt(atoms.length))).mkString(
        if (rnd.nextBoolean()) " " else "")
    }
    val docs = (Seq(
      "", " ", "   ", "one", "one two", "a b c", "a  b\tc", " lead and trail ",
      "the quick brown fox jumps over the lazy dog",
      "rep rep rep rep rep", "的 是 了 在 我") ++ randomDocs ++
      // plus real corpus text
      Tables.load(spark, "/root/testdata/sf0.001", "documents")
        .select($"text").as[String].collect().take(100))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text").cache()
    // fused: one native call; multiset semantics (duplicates preserved)
    val fused = docs.select($"doc_id",
      explode(CrossHash.shingleHashes($"text")).as("h"))
    // composed: the oracle-mirroring chain
    val composed = docs
      .select($"doc_id", CrossHash.tokens($"text").as("w"))
      .select($"doc_id", explode(CrossHash.shingles3("w")).as("sg"))
      .select($"doc_id", CrossHash.h60($"sg").as("h"))
    val f = fused.groupBy($"doc_id", $"h").count()
    val c = composed.groupBy($"doc_id", $"h").count()
    assert(f.except(c).isEmpty && c.except(f).isEmpty,
      "fused shingle hashes must equal the composed spelling, duplicates included")
    // null text → null array (UnaryExpression null propagation)
    val n = Seq((1L, null: String)).toDF("doc_id", "text")
      .select(CrossHash.shingleHashes($"text").as("hs")).collect()
    assert(n.forall(_.isNullAt(0)))
  }

  test("graft_unorm compiles; agrees with java.text.Normalizer on every form; rejects bad forms") {
    import spark.implicits._
    // decomposed, precomposed, mixed, ASCII, compatibility (ﬁ ligature,
    // fullwidth A), hangul jamo composition, and the empty string
    val samples = Seq(
      "cafe\u0301", "caf\u00e9", "u\u0308ber stra\u00dfe", "plain ascii",
      "\ufb01le f\uff21st", "\u1100\u1161\u11a8", "",
      "mixed cafe\u0301 caf\u00e9 x")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = samples.toDF("id", "t")
    for (form <- Seq("NFC", "NFD", "NFKC", "NFKD")) {
      val got = df.select($"id", expr(s"graft_unorm(t, '$form')")).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      samples.foreach { case (i, t) =>
        val want = java.text.Normalizer.normalize(t, java.text.Normalizer.Form.valueOf(form))
        assert(got(i) == want, s"form=$form input=${t.map(_.toInt)}")
      }
    }
    // NFC collapses the decomposed spelling onto the precomposed one
    val nfc = df.select(expr("graft_unorm(t, 'NFC')").as("n")).collect().map(_.getString(0))
    assert(nfc(0) == nfc(1))
    // null propagates; an unknown form fails analysis, not execution
    val nl = Seq((1L, null: String)).toDF("id", "t")
      .select(expr("graft_unorm(t, 'NFC')")).collect()
    assert(nl.forall(_.isNullAt(0)))
    val bad = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(expr("graft_unorm(t, 'NFX')")).collect()
    }
    assert(bad.getMessage.contains("graft_unorm"))
  }

  test("graft_bloom_contains compiles; agrees with BloomFilter.mightContainLong; no ScalaUDF in decontam_bloom") {
    import org.apache.spark.sql.functions.{call_function, lit}
    import spark.implicits._
    val members = (1L to 200L).map(_ * 7919L)
    val bf = org.apache.spark.util.sketch.BloomFilter.create(members.size.toLong, 0.01)
    members.foreach(bf.putLong)
    val bytes = graft.functions.expressions.BloomContains.serialize(bf)
    val probe = (members ++ (1L to 200L).map(_ * 7919L + 1L)).toDF("h")
    val got = probe
      .select($"h", call_function("graft_bloom_contains", lit(bytes), $"h").as("m"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // exact agreement with the driver-side filter (no FPs possible to
    // disagree on — both sides consult the same bit array)
    (members ++ (1L to 200L).map(_ * 7919L + 1L)).foreach { h =>
      assert(got(h) == bf.mightContainLong(h), s"h=$h")
    }
    assert(members.forall(got(_)), "a member hashed out of its own filter")
    // null propagates
    val nl = Seq(Option.empty[java.lang.Long]).toDF("h")
      .select(call_function("graft_bloom_contains", lit(bytes), $"h")).collect()
    assert(nl.forall(_.isNullAt(0)))
    // and the registered decontam_bloom plan carries NO Scala UDF — the
    // membership probe rides the corpus scan's codegen stage
    val plan = SparkEntry.queries("decontam_bloom")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan
    val udfs = plan.collectWithSubqueries { case p => p.expressions.flatMap(_.collect {
      case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF => u }) }.flatten
    assert(udfs.isEmpty, s"ScalaUDF survives in decontam_bloom: $udfs")
    spark.catalog.clearCache()
  }

  test("graft_bpe_count compiles; value-identical to the nested-fold Learned spelling") {
    import spark.implicits._
    import graft.operators.BpeTrainer.Merge
    // a merge table exercising chained merges (lo→low), repeats (aa) and
    // multi-char unicode symbols
    val merges = Seq(
      Merge(0, "l", "o", 9L), Merge(1, "lo", "w", 8L), Merge(2, "e", "s", 7L),
      Merge(3, "es", "t", 6L), Merge(4, "a", "a", 5L), Merge(5, "的", "是", 4L))
    val rnd = new scala.util.Random(20260814L)
    val atoms = Vector("low", "lowest", "aaaa", "aaa", "的是", "x", "naïve",
      "est", "wow", "", " ", "\t")
    val randomDocs = Vector.fill(200) {
      Vector.fill(rnd.nextInt(10))(atoms(rnd.nextInt(atoms.length)))
        .mkString(" ")
    }
    val docs = (Seq("", " ", "low lower lowest", "aaaa aaa 的是 的的是",
      "a\tb\nc  d") ++ randomDocs ++
      Tables.load(spark, "/root/testdata/sf0.001", "documents")
        .select($"text").as[String].collect().take(100))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text").cache()
    val fold = graft.functions.Tokenizer.Learned(merges)
    val native = graft.functions.Tokenizer.LearnedNative(merges)
    val rows = docs.select($"doc_id",
        fold.count($"text").as("f"), native.count($"text").as("n"))
      .collect()
    rows.foreach(r => assert(r.getLong(1) == r.getLong(2),
      s"doc ${r.getLong(0)}: fold=${r.getLong(1)} native=${r.getLong(2)}"))
    // the segment twin compiles too and agrees with the count
    val lefts = merges.map(_.left).toArray
    val rights = merges.map(_.right).toArray
    val seg = docs.select($"doc_id",
        native.count($"text").as("n"),
        size(call_function("graft_bpe_segment", $"text",
          lit(lefts), lit(rights))).cast("long").as("sn"))
      .collect()
    seg.foreach(r => assert(r.getLong(1) == r.getLong(2),
      s"doc ${r.getLong(0)}: count=${r.getLong(1)} segment-size=${r.getLong(2)}"))
    // null propagates (the fold spelling yields null via aggregate(null))
    val nl = Seq((1L, null: String)).toDF("doc_id", "text")
      .select(native.count($"text"),
        call_function("graft_bpe_segment", $"text", lit(lefts), lit(rights)))
      .collect()
    assert(nl.forall(r => r.isNullAt(0) && r.isNullAt(1)))
    // mismatched table lengths fail loud, not silently truncate
    val bad = intercept[Exception] {
      Seq((1L, "x")).toDF("doc_id", "text")
        .select(call_function("graft_bpe_count", $"text",
          lit(Array("a", "b")), lit(Array("c")))).collect()
    }
    assert(bad.getMessage.contains("differ in length"), bad.getMessage)
    spark.catalog.clearCache()
  }
}
