package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every registered query against SPARK_GRAFT_SF_DIR
  * and prints one JSON line. A warmup pass (cheap count over each table)
  * runs first so session/codegen startup cost doesn't land on whichever
  * query happens to run first.
  *
  * SESSION HYGIENE: the battery is ~190 keys; three rounds running
  * (r11/r12/r13) the end-of-round run needed a plan-diff noise
  * adjudication because whichever family ran LATE in the single shared
  * JVM session came out 2-3× inflated (accumulated GC/listener/broadcast
  * state — min-of-3 per key does not help when all three passes run at
  * the same session age). Structural fix: the battery runs in CHUNKS of
  * at most [[ChunkKeys]] keys, each chunk — and each stage bench — in a
  * FRESH SparkSession (same JVM, so the warmed JIT carries; Spark-side
  * accumulation resets). Restart + warmup cost lands OUTSIDE every timed
  * region, so the reported total stays a sum of query work. */
object Bench {
  /** Max query keys per SparkSession — bounds how much session-age
    * inflation the last key of a chunk can see. */
  private val ChunkKeys = 40

  /** Keys slower than this re-run in a SECOND fresh session and the
    * artifact reports the min across the two sessions (min-of-3 within a
    * session bounds JIT/GC noise; a second session bounds the residual
    * 2-4× swings the 1-3 s keys still showed between whole runs —
    * whichever session happened to JIT/size its heap worse). Sub-second
    * keys don't re-run: their absolute jitter is bench noise, not a
    * cross-round signal, and re-running ~110 of them would double the
    * battery for nothing. */
  private val SlowKeySec = 1.0

  /** In-session passes per key (min kept). Default 3 — the driver
    * protocol. The scale probes (Gen10x corpora, where every pass is
    * minutes of real work, not JIT noise) override via
    * SPARK_GRAFT_PASSES=2: at 10-100x data the measured quantity is a
    * 2-40x RATIO, so per-pass jitter cannot flip any verdict, while
    * extra passes add tens of minutes of wall per run. */
  private val Passes = {
    val raw = sys.env.getOrElse("SPARK_GRAFT_PASSES", "3")
    val n = raw.toIntOption.getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_PASSES must be an integer >= 1, got '$raw'"))
    require(n >= 1, s"SPARK_GRAFT_PASSES must be >= 1, got $n")
    n
  }

  /** Whether keys above [[SlowKeySec]] get a second fresh session
    * (min-across-sessions). Default on — the driver protocol; the scale
    * probes disable via SPARK_GRAFT_SLOW_RERUN=0 for the same
    * ratio-not-absolute reason as [[Passes]]. */
  private val SlowRerun =
    sys.env.getOrElse("SPARK_GRAFT_SLOW_RERUN", "1") != "0"

  /** Shuffle-partition override for the SCALE protocol — validated like
    * [[Passes]]: a malformed value must fail with a clear message here,
    * not as an opaque Spark config error during session construction.
    * Shared with StageProfile (same knob, same rule — one definition so
    * the two mains can't drift). */
  private[graft] def shuffleEnv: Option[Int] =
    sys.env.get("SPARK_GRAFT_SHUFFLE").map { raw =>
      val n = raw.toIntOption.getOrElse(
        throw new IllegalArgumentException(
          s"SPARK_GRAFT_SHUFFLE must be an integer >= 1, got '$raw'"))
      require(n >= 1, s"SPARK_GRAFT_SHUFFLE must be >= 1, got $n")
      n
    }
  private val Shuffle: Option[Int] = shuffleEnv

  private def newSession(sfDir: String, cpus: String,
      warehouse: java.nio.file.Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // per-session warehouse: index queries materialize catalog tables;
      // a later session's in-memory catalog would not know a prior
      // session's leftovers, and CTAS into the non-empty leftover
      // location fails — an isolated dir (deleted after stop) makes the
      // sessions truly independent
      .config("spark.sql.warehouse.dir", warehouse.toString)
      // SPARK_GRAFT_SHUFFLE: shuffle-partition override for the SCALE
      // protocol (default = cpus, the sf0.1 convention — unchanged
      // artifacts). At 10-100× data a fixed partition count manufactures
      // spill superlinearity that no production config would see: at
      // 100 TB the initial partition count tracks the cluster, and AQE
      // coalesces down — which is exactly what parallelismFirst=false
      // below is configured for. StageProfile measured dedup_clusters at
      // 100×: 4 partitions = 33 GB spill / 158 s; 64 partitions = 12 GB /
      // 137 s core-saturated (ADJUDICATIONS r16). Scale runs pass
      // SPARK_GRAFT_SHUFFLE ∝ copies; sf0.1 runs leave it unset.
      .config("spark.sql.shuffle.partitions",
        Shuffle.map(_.toString).getOrElse(cpus))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // coalesce aggressively: test-scale shuffles are tiny, so fewer,
      // fuller post-shuffle partitions beat raw parallelism (on a real
      // cluster the default parallelism-first policy is the right call)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.ui.enabled", "false")
      // survive (truncated) rather than OOM if a plan tree ever blows up
      .config("spark.sql.maxPlanStringLength", "8388608")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(spark)
    // warmup: session/codegen/file-listing startup cost must not land on
    // whichever key happens to run first in this session
    Tables.names.foreach(n => Tables.load(spark, sfDir, n).count())
    spark
  }

  /** Run `body` in a fresh session that is ALWAYS stopped (and its
    * scratch warehouse deleted) after — the next chunk starts clean even
    * if this one threw. */
  private def withSession[A](sfDir: String, cpus: String)(body: SparkSession => A): A = {
    val warehouse = java.nio.file.Files.createTempDirectory("graft-bench-wh-")
    val spark = newSession(sfDir, cpus, warehouse)
    try body(spark)
    finally { spark.stop(); store.FileTree.deleteRecursively(warehouse) }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // dev convenience: `runMain graft.Bench q1_agg dedup_clusters` times just
    // those queries (and skips the pipeline/ANN/index stages); the pseudo-keys
    // `pipeline` / `ann` / `index` select those stages alone; no args = full
    // battery.
    val loadStart = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val only = args.toSet - "pipeline" - "ann" - "index"
    val stages = args.toSet.intersect(Set("pipeline", "ann", "index"))
    val unknown = only.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => args.isEmpty || only(q._1))
    // Three passes per query, keep the min: single-shot numbers at this scale
    // are dominated by JIT/GC noise (observed 4× run-to-run swings on the
    // same plan); the min is stable and still includes all real work
    // (nothing is cached across passes at the table layer). A failing query
    // ABORTS the bench — swallowing would report a broken query as fast.
    // IO-HONESTY (r16): min-of-passes bounds JIT/GC jitter but not
    // page-cache/IO state — the r15 driver-vs-committed comparison showed
    // 3-4x per-key gaps concentrated in the file-IO-heavy index
    // build/fold keys (aggregate inside the envelope, zero regressions;
    // VERDICT r15 "what's wrong #2"). The artifact therefore carries BOTH
    // numbers: `queries` stays the min (the stable cross-round signal for
    // compute-bound keys) and `first_pass` records each key's FIRST
    // measured execution (session 1 — the IO-cold-est number this run
    // saw; for the stage benches, session 1's own protocol value).
    // Cross-round per-key claims on the index family key off min but
    // adjudicate against family totals or the first_pass spread.
    val firstPass = scala.collection.mutable.LinkedHashMap[String, Double]()
    def batteryPass(sel: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)])
        : Seq[(String, Double)] =
      sel.grouped(ChunkKeys).toSeq.flatMap { chunk =>
        withSession(sfDir, cpus) { spark =>
          chunk.map { case (name, fn) =>
            val ts = (1 to Passes).map { _ =>
              val t0 = System.nanoTime()
              try { fn(spark, sfDir).count() } catch {
                case e: Throwable =>
                  throw new RuntimeException(s"bench query '$name' failed", e)
              }
              val dt = (System.nanoTime() - t0) / 1e9
              // CACHE-HONESTY (r18, VERDICT r17 #1): clear the session cache
              // BETWEEN passes, not only between keys. Queries cache
              // intermediates for their own multi-use plans; left in place
              // across passes, passes 2..N serve the cached subtree from
              // memory and the reported min measures a PARTIAL re-execution
              // (r17 evidence: median first/min ratio 2.78x on cache-touched
              // keys vs 1.51x JIT norm on untouched). Clearing here — outside
              // the timed region — makes every pass a complete execution from
              // the parquet inputs while min-of-N still bounds JIT/GC noise.
              spark.catalog.clearCache()
              dt
            }
            firstPass.getOrElseUpdate(name, ts.head)
            name -> ts.min
          }
        }
      }
    // min-of-2 like the queries (the first pass is JIT/classload-bound —
    // measured ~4s cold vs ~2.5s warm for identical work); each pass
    // builds its own temp log/sink so nothing is cached across passes.
    // Per-leg keys (ingest/replicate/consume) make a perf movement
    // attributable to the stage that caused it; the combined key stays
    // for cross-round comparability (min of the per-pass TOTALS, so it
    // remains a real end-to-end measurement, not a sum of best legs).
    def pipelinePass(): Seq[(String, Double)] =
      withSession(sfDir, cpus) { spark =>
        val passes = (1 to 2).map(_ => pipelineBench(spark, sfDir))
        val legKeys = passes.head.map(_._1)
        val best = passes.minBy(_.map(_._2).sum)
        legKeys.map(k => k -> best.collectFirst { case (`k`, v) => v }.get) :+
          ("pipeline_ingest_replicate_consume" -> best.map(_._2).sum)
      }
    // per-key min across the sessions; `a` fixes the key set
    def minMerge(a: Seq[(String, Double)], b: Seq[(String, Double)])
        : Seq[(String, Double)] = {
      val bm = b.toMap
      a.map { case (k, v) => k -> math.min(v, bm.getOrElse(k, v)) }
    }
    def slow(rs: Seq[(String, Double)]) = rs.filter(_._2 > SlowKeySec)
    // every key measures once; keys above SlowKeySec get a SECOND fresh
    // session and report min-across-sessions (pipeline re-runs whole so
    // its combined key stays one session's end-to-end total)
    val qp1 = batteryPass(selected)
    val slowKeys = if (SlowRerun) slow(qp1).map(_._1).toSet else Set.empty[String]
    val qp = if (slowKeys.isEmpty) qp1
      else minMerge(qp1, batteryPass(selected.filter(q => slowKeys(q._1))))
    val pp1 = if (args.isEmpty || stages("pipeline")) pipelinePass() else Nil
    val pp = if (!SlowRerun || slow(pp1).isEmpty) pp1 else {
      val p2 = pipelinePass()
      if (p2.collectFirst { case ("pipeline_ingest_replicate_consume", v) => v }
          .getOrElse(Double.MaxValue) <
        pp1.collectFirst { case ("pipeline_ingest_replicate_consume", v) => v }
          .getOrElse(Double.MaxValue)) p2 else pp1
    }
    val ap1 = if (args.isEmpty || stages("ann"))
      withSession(sfDir, cpus)(annBench(_, sfDir)) else Nil
    val ap = if (!SlowRerun || slow(ap1).isEmpty) ap1
      else minMerge(ap1, withSession(sfDir, cpus)(annBench(_, sfDir)))
    val ip1 = if (args.isEmpty || stages("index"))
      withSession(sfDir, cpus)(indexBench(_, sfDir)) else Nil
    val ip = if (!SlowRerun || slow(ip1).isEmpty) ip1
      else minMerge(ip1, withSession(sfDir, cpus)(indexBench(_, sfDir)))
    // stage-bench keys: session 1's protocol value is their "first" —
    // the pre-min-across-sessions number the IO-state gap shows up in
    (pp1 ++ ap1 ++ ip1).foreach { case (k, v) =>
      firstPass.getOrElseUpdate(k, v) }
    val results = qp ++ pp ++ ap ++ ip
    // Plan artifacts ride every bench run (outside the timed region): one
    // formatted physical plan per query under target/plans/, so a
    // cross-round perf drift (like r5→r6's broad ~27%) is attributable by
    // diffing the plan surface instead of guessing session noise vs plan
    // regression. PlanAuditSpec smoke-checks the dump shape. A fresh
    // session on purpose: the stage benches leave no caches behind, so
    // the dumped skeletons can't be memoized into a different shape
    // (the r13 dedup_containment_idx plan_diff false-positive).
    withSession(sfDir, cpus)(
      dumpPlans(_, sfDir, selected, java.nio.file.Paths.get("target/plans")))
    val sfTag = new java.io.File(sfDir).getName
    // The driver captures only the LAST ~2000 log chars; r4/r5 both lost the
    // front of this line to that window (BENCH parsed:null). Persist the
    // full-precision line as a file artifact, then print a line guaranteed
    // to fit (renderFitted). Every session is stopped by now, so shutdown
    // logging can't push the JSON out of the captured tail.
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
    val loadEnd = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val fullLine = renderFull(results, sfTag, firstPass, loadStart, loadEnd) + "\n"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/bench.json"), fullLine)
    // The repo-root twin is the COMMITTED cross-round baseline: target/
    // is wiped at round close, so without this file the next round has
    // no full per-key map to adjudicate its movers against (the
    // BENCHFULL_r{N} doctrine — round close renames it per round).
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCHFULL_latest.json"), fullLine)
    println(renderFitted(results, sfTag))
  }

  /** Write one `<name>.txt` formatted physical plan per query (planning
    * only — nothing executes). A query that fails to PLAN writes a
    * `PLAN FAIL` marker instead of silently vanishing from the surface.
    * @return names that failed to plan. */
  private[graft] def dumpPlans(spark: SparkSession, sfDir: String,
      selected: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)],
      dir: java.nio.file.Path): Seq[String] = {
    java.nio.file.Files.createDirectories(dir)
    selected.flatMap { case (name, fn) =>
      val out = dir.resolve(s"$name.txt")
      try {
        java.nio.file.Files.writeString(out, fn(spark, sfDir).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode))
        None
      } catch {
        case e: Exception =>
          java.nio.file.Files.writeString(out, s"PLAN FAIL: ${e.getMessage}")
          Some(name)
      } finally {
        // a query that .cache()s during CONSTRUCTION (SNM's shingle set,
        // GlobalCumsum's internal input) would otherwise leak live cache
        // entries into every later-planned key's skeleton as
        // InMemoryRelation nodes — the residual cross-query coupling
        // behind the ±1 plan_diff wobble adjudicated in r15. Each key's
        // dumped skeleton must be a function of that key alone.
        spark.catalog.clearCache()
      }
    }
  }

  /** Leg-breakdown keys: informational sub-timings of the combined
    * pipeline key — excluded from the headline total so the pipeline isn't
    * double-counted against earlier rounds' totals. An EXPLICIT set, not
    * a prefix test: the old `startsWith("pipeline_")` spelling silently
    * dropped the pipeline_audit/select/clean BATTERY queries (and would
    * have dropped the r13 *_neardup pair) from every round's headline
    * total — ~2 s of real per-round work the totals never counted. */
  private[graft] def isLegKey(k: String): Boolean =
    k == "pipeline_ingest" || k == "pipeline_replicate" || k == "pipeline_consume"

  private def renderOf(rs: Seq[(String, Double)], all: Seq[(String, Double)],
      sfTag: String)(fmt: Double => String): String = {
    val qs = rs.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // total always covers the FULL battery, even when the per-query map
    // is sparsified to fit the log window — but counts the pipeline once
    // (the combined key), not again through its leg breakdown
    val total = fmt(all.collect { case (k, v) if !isLegKey(k) => v }.sum)
    s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfTag"}"""
  }

  /** Family of a bench key — MUST stay in sync with the FAMILIES map in
    * tools/scale_report.py (the python side of the same rollup). The
    * per-family sums exist because per-KEY comparisons on the
    * file-IO-heavy index family are environment-bound (page-cache state,
    * concurrent load on a shared box — the r15/r16 driver-vs-builder
    * gap), while family totals are the stable cross-environment signal. */
  private[graft] def familyOf(k: String): String =
    if (k.startsWith("dedup_") || k.startsWith("corpus_")) "dedup"
    else if (k.startsWith("decontam") || k == "text_decontam") "decontam"
    else if (k.startsWith("pipeline_curate") || k.startsWith("pipeline_audit"))
      "pipeline_curation"
    else if (k == "text_bm25" || k == "retrieve_rrf" || k == "knn_filtered")
      "retrieval"
    else if (k.startsWith("knn_") || k.startsWith("ann_") || k.startsWith("emb_"))
      "ann"
    else if (k.endsWith("_index_build") || k.endsWith("_probe") ||
      k == "maint_compact" || k == "span_probe" ||
      k == "shingle_probe_fragmented" || k == "shingle_probe_compacted")
      "index_maintenance"
    else if (k.startsWith("pipeline_ingest") || k.startsWith("pipeline_replicate")
      || k.startsWith("pipeline_consume")) "event_pipeline"
    // the pack/shuffle family rides the r17 auto-geometries
    // (CrossHash.shardsFor / GlobalCumsum.bucketsFor)
    else if (k.startsWith("doc_")) "corpus_pack"
    else if (k.length > 1 && k(0) == 'q' && k(1).isDigit) "relational"
    else "other"

  /** The FILE-artifact line: the driver schema plus a `first_pass` map
    * (each key's first measured execution — the IO-cold-est number the
    * run saw; see the IO-honesty note in [[main]]), a `families` rollup
    * (per-family sums of the min map, leg keys excluded so family sums
    * partition the headline total — the cross-environment comparison
    * line for the IO-heavy families), and the box's 1-min load average
    * (start/end of run) so a slow-looking run on a loaded shared machine
    * carries the evidence of WHY. Printed lines keep the plain schema:
    * the driver's log window is the constraint there, and the file
    * artifacts are where cross-round adjudication reads. */
  private[graft] def renderFull(rs: Seq[(String, Double)], sfTag: String,
      firsts: collection.Map[String, Double],
      loadStart: Double = -1.0, loadEnd: Double = -1.0): String = {
    val base = renderOf(rs, rs, sfTag)(_.toString)
    val fp = rs.flatMap { case (k, _) => firsts.get(k).map(v =>
      "\"" + k + "\":" + v.toString) }
      .mkString("{", ",", "}")
    val fams = rs.filterNot { case (k, _) => isLegKey(k) }
      .groupBy { case (k, _) => familyOf(k) }
      .toSeq.sortBy(_._1)
      .map { case (f, kvs) =>
        "\"" + f + "\":" + math.round(kvs.map(_._2).sum * 1000) / 1000.0 }
      .mkString("{", ",", "}")
    // protocol self-description: the scale runs vary SHUFFLE per decade
    // (fixed 4 partitions at 100× manufactures spill no production
    // config sees — ADJUDICATIONS r16), so the artifact must say what
    // it ran under or the numbers aren't comparable across rounds.
    // cpus is emitted as a JSON STRING: "*" is a valid local[] master
    // token and would otherwise produce a malformed artifact.
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val proto = s"""{"cpus":"$cpus","shuffle":${Shuffle.map(_.toString)
        .getOrElse(cpus.toIntOption.getOrElse(0).toString)},""" +
      s""""passes":$Passes,"slow_rerun":${if (SlowRerun) 1 else 0},""" +
      // r18 cache-honesty marker: caches clear BETWEEN passes, so `queries`
      // mins are complete executions (r17 artifacts cleared per KEY only)
      s""""cache_clear":"per_pass"}"""
    base.stripSuffix("}") + ",\"first_pass\":" + fp +
      ",\"families\":" + fams +
      ",\"protocol\":" + proto +
      s""","load_avg":{"start":$loadStart,"end":$loadEnd,"cpus":${
        Runtime.getRuntime.availableProcessors}}}"""
  }

  /** The printed driver line: centisecond precision when it fits, then
    * deciseconds, then (for a battery too large even at deciseconds) keep
    * only the SLOWEST entries — dropping fast queries deterministically
    * until the line fits `limit`. The file artifact keeps every key at
    * full precision, and the printed total always covers the whole
    * battery. Pure function of the results — BenchLineSpec pins the fit
    * invariant so battery growth can never regress the round artifact
    * again. */
  def renderFitted(results: Seq[(String, Double)], sfTag: String,
      limit: Int = 1850): String = {
    def trim(dec: Int)(v: Double): String = {
      // Locale.ROOT: a comma-decimal default locale would emit "0,32"
      // and break the JSON artifact
      val s = String.format(java.util.Locale.ROOT, s"%.${dec}f", Double.box(v))
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').reverse.stripSuffix(".") else s
    }
    def compact(dec: Int): String = renderOf(results, results, sfTag)(trim(dec))
    def sparse: String = {
      val byTime = results.sortBy(-_._2)
      (results.size to 1 by -1).iterator
        .map(n => renderOf(byTime.take(n).sortBy(_._1), results, sfTag)(trim(1)))
        .find(_.length <= limit)
        .getOrElse(renderOf(byTime.take(1), results, sfTag)(trim(1)))
    }
    Seq(compact(2), compact(1), sparse).find(_.length <= limit).getOrElse(sparse)
  }

  /** Amortized ANN serving path: materialize the IntIvfIndex ADC layout
    * ONCE (the production shape), then time the probe legs alone — the
    * self-contained knn_ivfadc_* battery gates re-train coarse + PQ
    * quantizers per execution by design (that's what makes them
    * oracle-checkable), so without these keys the headline ANN number is
    * dominated by training cost and a probe regression is invisible.
    * `ann_index_build` is the once-per-corpus amortized cost;
    * `ann_probe_adc` / `ann_probe_adc_filtered` are the serving keys.
    * Geometry matches the battery (coarse 8×2, residual-PQ 8×16×4 on
    * id-prefix 512, nprobe 2, shortlist 80, k 10, queries = vec_id<10),
    * so probe rows equal the registered knn_ivfadc_int /
    * knn_ivfadc_filtered queries — IntIvfAdcSpec pins both equalities
    * on the materialized artifact. Probes are min-of-3 like the battery
    * keys; empty probe output ABORTS (a broken probe must not bench as
    * fast). */
  private def annBench(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft-bench-ann-")
    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    try {
      val pts = operators.IntegerKMeans.quantize(
          Tables.load(spark, sfDir, "embeddings").filter(col("embedding").isNotNull))
        .filter(col("qv").isNotNull).cache()
      pts.count()
      val dir = tmp.resolve("ivfadc").toString
      val tBuild = timed { operators.IntIvfIndex.materializeAdc(pts, dir,
        k = 8, iters = 2, mMax = 8, kc = 16, pqIters = 4, trainN = 512) }
      val queries = pts.filter(col("vec_id") < 10)
        .select(col("vec_id"), col("qv")).cache()
      queries.count()
      val allowed = Tables.load(spark, sfDir, "documents")
        .filter(col("lang").isin("en", "de"))
        .select(col("doc_id").cast("long").as("vec_id"))
      // steady-state serving: the Reader holds centroids/codebooks/footer
      // listing across probes (the one-time startup cost of a serving
      // process), so the legs time the probe work itself
      val rd = operators.IntIvfIndex.reader(spark, dir)
      def probeLeg(allow: Option[org.apache.spark.sql.DataFrame]): Double =
        (1 to Passes).map { _ =>
          timed {
            val n = rd.probeAdc(queries, nprobe = 2, k = 10,
              shortlist = 80, allowed = allow).count()
            require(n > 0, "ANN probe returned no rows")
          }
        }.min
      val tProbe = probeLeg(None)
      val tFiltered = probeLeg(Some(allowed))
      pts.unpersist(); queries.unpersist()
      Seq("ann_index_build" -> tBuild, "ann_probe_adc" -> tProbe,
        "ann_probe_adc_filtered" -> tFiltered)
    } catch {
      case e: Throwable => throw new RuntimeException("ANN bench failed", e)
    } finally store.FileTree.deleteRecursively(tmp)
  }

  /** Amortized dedup/overlap index serving path — the annBench doctrine
    * applied to the shingle artifacts: the `dedup_containment_idx` /
    * `decontam_runs_idx` battery gates time a full per-run materialize
    * (that's what makes them oracle equalities), so a regression in the
    * PROBE — the production serving path — is invisible under ~3.5 s of
    * build noise. Here each index materializes ONCE (`*_index_build`, the
    * labeled one-time amortized cost) and the probes alone are min-of-3
    * timed on the same splits as the registered `_idx` queries
    * (ShingleIndexSpec/OverlapIndexSpec pin probe ≡ rebuild on those
    * splits, so the probed relations equal the oracle-gated ones). Empty
    * probe output ABORTS — a broken probe must not bench as fast.
    *
    * Measured shape at sf0.1: probes land ~4-5× under their builds
    * (~1.2 s vs ~5 s shingle, ~1.0 s vs ~1 s+ overlap) and are
    * stage-overhead-bound, not data-bound — the raw index scan alone is
    * 0.46 s and the probe batch here is 10% of the CORPUS (the _idx
    * split), not a point query like the ANN probe's 10 vectors, so the
    * 0.3 s ann_probe level is not the right yardstick. At 100 TB the
    * fixed per-stage cost amortizes and the data-bound legs stay
    * candidate-bounded (the spec-pinned no-reshuffle property). */
  private def indexBench(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions._
    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    def minOfPasses(probe: => org.apache.spark.sql.DataFrame): Double =
      (1 to Passes).map { _ =>
        timed { require(probe.count() > 0, "index probe returned no rows") }
      }.min
    val tables = Seq("graft_bench_shidx", "graft_bench_shidx_counts",
      "graft_bench_shidx_tombstones", "graft_bench_ovidx",
      "graft_bench_ovidx_tombstones", "graft_bench_beidx",
      "graft_bench_beidx_tombstones", "graft_bench_shfrag",
      "graft_bench_shfrag_counts", "graft_bench_shfrag_tombstones")
    try {
      tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      val docs = Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), col("text"))
      // dedup_containment_idx's split: corpus = doc_id % 10 != 0
      val tShBuild = timed { operators.ShingleIndex.materialize(
        docs.filter(col("doc_id") % 10 =!= 0), "graft_bench_shidx") }
      val shBatch = docs.filter(col("doc_id") % 10 === 0).cache()
      shBatch.count()
      val tShProbe = minOfPasses(operators.ShingleIndex.containmentProbe(
        spark, "graft_bench_shidx", shBatch, 0.9))
      // dedup_span_keepfirst_idx's split rides the SAME index — the
      // curation span stage's serving shape (arrival-order keep-first
      // scrub of a batch against the committed passage claims).
      // Non-vacuity is stricter than row-count (one row per batch doc
      // regardless): at least one doc must actually lose tokens.
      val tSpan = (1 to Passes).map { _ =>
        timed { require(operators.ShingleIndex.spanKeepFirstProbe(
            spark, "graft_bench_shidx", shBatch)
          .filter(col("n_removed") > 0).count() > 0,
          "span probe removed nothing") }
      }.min
      // decontam_runs_idx's split: train vs the eval benchmark
      val evalMod = queries.CorpusQueries.EvalMod
      val tOvBuild = timed { operators.OverlapIndex.materialize(
        docs.filter(col("doc_id") % evalMod =!= 0), "graft_bench_ovidx") }
      val evalDocs = docs.filter(col("doc_id") % evalMod === 0).cache()
      evalDocs.count()
      val tOvProbe = minOfPasses(operators.OverlapIndex.runsProbe(
        spark, "graft_bench_ovidx", evalDocs, queries.CorpusQueries.MinRunTokens))
      // decontam_scrub_idx's split, roles MIRRORED: the benchmark is the
      // standing artifact and the training mass probes it — the daily
      // scrub stage's serving shape. Non-vacuity is stricter than
      // row-count here (scrubProbe emits one row per train doc even when
      // nothing matches): at least one doc must actually lose tokens.
      val tBeBuild = timed { operators.OverlapIndex.materialize(
        evalDocs, "graft_bench_beidx") }
      val trainDocs = docs.filter(col("doc_id") % evalMod =!= 0).cache()
      trainDocs.count()
      val tScrub = (1 to Passes).map { _ =>
        timed { require(operators.OverlapIndex.scrubProbe(
            spark, "graft_bench_beidx", trainDocs,
            queries.CorpusQueries.MinRunTokens)
          .filter(col("n_removed") > 0).count() > 0,
          "scrub probe removed nothing") }
      }.min
      // LAYOUT MAINTENANCE keys (r14): the same corpus indexed as EIGHT
      // appended batches (a week-plus of daily increments), probed on the
      // fragmented layout, folded (Maintenance's per-index compact), and
      // probed again — plus the fold's own cost. MaintenanceSpec pins the
      // two probes return identical rows, so the fragmented/compacted
      // pair times the SAME answer on the two layouts: the delta is the
      // pure small-files tax the scheduled compact exists to bound.
      // SPARK_GRAFT_FRAG_BATCHES widens the fragmentation geometry for
      // the scale bench (BENCH10X runs a 30-batch tree — a month of
      // daily increments — where the default 8 stays the round battery's
      // cross-round-comparable shape)
      val fragBatches = sys.env.getOrElse("SPARK_GRAFT_FRAG_BATCHES", "8").toInt
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      operators.ShingleIndex.materialize(
        corpus.filter(col("doc_id") % fragBatches === 0), "graft_bench_shfrag")
      for (i <- 1 until fragBatches)
        operators.ShingleIndex.append(
          corpus.filter(col("doc_id") % fragBatches === i), "graft_bench_shfrag")
      require(operators.CatalogCommit.batchDirs(spark, "graft_bench_shfrag")
        .size == fragBatches, "fragmented-index geometry drifted")
      val nFrag = operators.ShingleIndex.containmentProbe(
        spark, "graft_bench_shfrag", shBatch, 0.9).count()
      val tFragProbe = minOfPasses(operators.ShingleIndex.containmentProbe(
        spark, "graft_bench_shfrag", shBatch, 0.9))
      // quiescence before the fold (the Maintenance.compact discipline):
      // the fragmented probes cached frames derived from the table the
      // compact is about to overwrite — the CacheManager re-resolves such
      // plans mid-INSERT and finds the table dropped
      spark.catalog.clearCache()
      val tCompact = timed {
        operators.ShingleIndex.compact(spark, "graft_bench_shfrag") }
      require(operators.CatalogCommit.batchDirs(spark, "graft_bench_shfrag")
        == Seq(0L), "compact left more than the base partition")
      require(operators.ShingleIndex.containmentProbe(
          spark, "graft_bench_shfrag", shBatch, 0.9).count() == nFrag,
        "compact changed the probe row count — the pair no longer times the same answer")
      val tCompProbe = minOfPasses(operators.ShingleIndex.containmentProbe(
        spark, "graft_bench_shfrag", shBatch, 0.9))
      shBatch.unpersist(); evalDocs.unpersist(); trainDocs.unpersist()
      Seq("shingle_index_build" -> tShBuild, "shingle_probe" -> tShProbe,
        "span_probe" -> tSpan,
        "overlap_index_build" -> tOvBuild, "runs_probe" -> tOvProbe,
        "bench_index_build" -> tBeBuild, "scrub_probe" -> tScrub,
        "shingle_probe_fragmented" -> tFragProbe,
        "maint_compact" -> tCompact,
        "shingle_probe_compacted" -> tCompProbe)
    } catch {
      case e: Throwable => throw new RuntimeException("index bench failed", e)
    } finally {
      tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      // the probes' internal shingle caches share logical plans with the
      // registered _idx queries — left behind, they memoize into the
      // post-bench plan dump and spuriously change those skeletons
      // (observed r13: dedup_containment_idx flagged by plan_diff with
      // identical code)
      spark.catalog.clearCache()
    }
  }

  /** Core event-store path end to end: ingest the events table into the
    * native log (encode + (lsn,id) allocation), replicate it to the
    * Kafka-shaped sink exactly-once, and consume/decode the sink — the
    * §7.2 slice, timed per leg. */
  private def pipelineBench(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft-bench-")
    def timed[A](body: => A): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    try {
      val log = store.EventLog(tmp.resolve("log").toString, spark)
      val batch = Tables.load(spark, sfDir, "events")
        .select(
          encode(col("user_id").cast("string"), "UTF-8").as("key"),
          encode(col("props"), "UTF-8").as("data"),
          lit(null).cast("binary").as("metadata"),
          col("ts").as("timestamp"))
      val tIngest = timed { log.append("bench_events", batch) }
      val sink = sources.KafkaShapedLog(tmp.resolve("sink").toString, spark, numPartitions = 4)
      val tRepl = timed {
        new replicate.Replicator(log, sink, batchSize = 1000000).run("bench_events")
      }
      val tConsume = timed { sink.read("bench_events").count() }
      Seq("pipeline_ingest" -> tIngest, "pipeline_replicate" -> tRepl,
        "pipeline_consume" -> tConsume)
    } catch {
      // fail the bench, loudly — a broken pipeline must not bench as "fast"
      case e: Throwable => throw new RuntimeException("pipeline bench failed", e)
    } finally store.FileTree.deleteRecursively(tmp)
  }
}
