package graft.operators

import org.apache.spark.sql.SparkSession

/** Scheduled LAYOUT maintenance across a [[CurationJob]] /
  * [[DailyIncrement]] output tree — the operation that keeps the daily
  * path's probe costs flat over time.
  *
  * [[Takedown.scrub]] is the ERASURE sweep (tombstone-driven: it only
  * rewrites what a takedown masked). This is the missing twin: with NO
  * takedown ever filed, the daily path still degrades physically —
  * every [[DailyIncrement]] adds one `batch=<n>` partition to each
  * maintained catalog index (shingle/overlap/bm25) and one file set per
  * bucket to the vector/IVF layouts, so after a year of increments a
  * probe opens ~365× the partition dirs and files it needs. At 100 TB
  * that is the classic small-files failure mode: listing and footer
  * reads dominate the probe, and the bucket-pruned/partition-pruned
  * plans the specs pin stay *logically* identical while their I/O cost
  * quietly multiplies.
  *
  * One call folds every artifact back to its day-0 layout:
  *
  *   ├─ dedup / span indexes    [[ShingleIndex.compact]]  (registry kind
  *   │    `shingle` — batches fold to `batch=0`, pointer resets, bucket
  *   │    layout preserved so probes stay co-located)
  *   ├─ overlap / bench indexes [[OverlapIndex.compact]]  (kind `overlap`)
  *   ├─ line-segment indexes    [[LineSegmentIndex.compact]] (kind `line`)
  *   ├─ int-IVF/ADC indexes     [[IntIvfIndex.compact]]   (kind `intivf`)
  *   ├─ lexical index           [[Bm25Index.compact]]     (pointer-swapped
  *   │    fresh postings dir — no plan overwrites files it reads)
  *   ├─ vector index            [[VectorIndex.compact]]   (rows re-cluster
  *   │    so each bucket lands contiguously)
  *   └─ STREAMING-maintained twins (r16): MaintainedShingle/Overlap/
  *        Bm25/Vector/IntIvfIndex roots recorded under registry kind
  *        `stream` (layout-detected to `stream-<kind>`) fold via their
  *        own staged-swap compact(). These fragment FASTEST — one
  *        `batch=` partition per MICRO-batch, ~10⁵/year at 5-minute
  *        triggers vs ~365/year for the daily tree — so the threshold
  *        policy matters most here. Quiescent-STREAM contract: schedule
  *        [[auto]] in trigger gaps; a racing update() fails loud on the
  *        staged marker (each twin's spec pins it), never corrupts.
  *
  * Indexes are reached through the tree-recorded registry
  * ([[Takedown.recordIndex]]) exactly like a takedown — the caller does
  * not have to remember what CurationJob materialized; explicit names
  * union in. Every leg is probe-identical before/after (each compact's
  * own contract, MaintenanceSpec pins them through the composed tree)
  * and individually idempotent, so re-running after a crash just
  * re-folds whatever is left. In-flight tombstones are APPLIED by the
  * fold (a compact subsumes the artifact's vacuum). Quiescent-tree
  * contract, like vacuum/scrub/repack: run on the operator's schedule
  * (e.g. weekly), never concurrently with an in-flight increment —
  * a staged-but-unapplied increment's index targets would go stale
  * against the reset pointers and fail loud in `appendAs`.
  *
  * Scale shape: each leg is one bounded rewrite of that index's
  * committed mass (never the corpus text), embarrassingly parallel
  * across legs, and the manifest/shards/evalh are NOT touched — those
  * only rewrite under [[Takedown.scrub]]/[[Takedown.repack]], which
  * compose freely with this.
  */
object Maintenance {
  /** One compacted artifact: physical parquet file count before/after
    * (the small-files metric the operation exists to bound). */
  final case class Compacted(kind: String, name: String,
      filesBefore: Long, filesAfter: Long)

  private def tableFiles(spark: SparkSession, table: String): Long =
    if (!spark.catalog.tableExists(table)) 0L
    else CatalogCommit.dataFileCount(CatalogCommit.tableLocation(spark, table))

  private def pathFiles(dir: String): Long =
    CatalogCommit.dataFileCount(java.nio.file.Paths.get(dir))

  /** One artifact's physical layout: `batchParts` counts its `batch=`
    * partition dirs (0 for layouts without a batch axis), `files` its
    * parquet data files — the two quantities [[compact]] folds. */
  final case class Layout(kind: String, name: String,
      batchParts: Long, files: Long)

  /** The five STREAMING-maintained layouts share one shape: an `eos/`
    * commit dir beside `batch=`-partitioned data dirs and a staged-swap
    * compact(). Kind detects from the layout itself (quantizers before
    * vectors — the IVF twin has both), so the registry needs only one
    * `stream=<path>` line per index, not five spellings. */
  private[graft] def streamedKind(root: java.nio.file.Path): Option[String] = {
    def has(rel: String) = java.nio.file.Files.exists(root.resolve(rel))
    if (!has("eos")) None
    else if (has("pairs")) Some("stream-shingle")
    else if (has("occ")) Some("stream-overlap")
    else if (has("postings")) Some("stream-bm25")
    else if (has("quantizers")) Some("stream-intivf")
    else if (has("vectors")) Some("stream-vector")
    else None
  }

  /** The file-accumulating data dirs of one streamed layout — the
    * `batch=`-partitioned dirs whose partition count grows by one per
    * MICRO-BATCH (~10⁵/year at 5-minute triggers) until compact() folds
    * them, PLUS the vector/intivf twins' plain-append `tombstones` dir:
    * a delete-heavy stream accumulates tombstone files compact() drops,
    * so they must count toward auto()'s maxFiles threshold or
    * delete-only churn would be invisible to the fold policy. */
  private def streamedDataDirs(kind: String, root: java.nio.file.Path): Seq[java.nio.file.Path] =
    kind match {
      case "stream-shingle" => Seq(root.resolve("pairs"), root.resolve("counts"))
      case "stream-overlap" => Seq(root.resolve("occ"))
      case "stream-bm25" => Seq(root.resolve("postings"))
      case _ => Seq(root.resolve("vectors"), root.resolve("tombstones"))
    }

  /** Fail-loud layout resolution for a registered `stream=` root: every
    * maintained twin creates its `eos/` commit dir at INSTANTIATION, so a
    * root without one is a typo'd/stale registration — throw (silently
    * flatMap-dropping it would hide the index from status()/auto()
    * forever, against the fail-loud doctrine). A root WITH eos/ but no
    * recognized data dir yet is the legitimate brand-new-index window
    * (instantiated, zero commits) — skipped quietly until data lands. */
  private def streamedLayout(name: String): Option[Layout] = {
    val root = java.nio.file.Paths.get(name)
    require(java.nio.file.Files.exists(root.resolve("eos")),
      s"registered stream index root '$name' has no eos/ commit dir — " +
        "every streaming-maintained index creates one at instantiation, " +
        "so this registration is a typo or points at a dead path; fix or " +
        "remove the stream= line")
    streamedKind(root).map { kind =>
      val dirs = streamedDataDirs(kind, root)
      Layout(kind, name,
        dirs.map(batchDirCount).maxOption.getOrElse(0L),
        dirs.map(CatalogCommit.dataFileCount).sum)
    }
  }

  private def batchDirCount(p: java.nio.file.Path): Long = {
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(p)
      try s.iterator().asScala
        .count(_.getFileName.toString.startsWith("batch="))
      finally s.close()
    }
  }

  /** READ-ONLY fragmentation audit of the tree — the "should I compact
    * yet?" signal, same artifact walk as [[compact]] with nothing
    * rewritten. An operator schedules the fold off these numbers (e.g.
    * any index past ~30 batch partitions), instead of either compacting
    * blindly every night or discovering the small-files tax in probe
    * latency. */
  def status(spark: SparkSession, outDir: String,
      shingleIndexes: Seq[String] = Nil,
      lineSegmentIndexes: Seq[String] = Nil,
      intIvfIndexes: Seq[String] = Nil,
      overlapIndexes: Seq[String] = Nil,
      streamedIndexes: Seq[String] = Nil): Seq[Layout] = {
    def recorded(kind: String, explicit: Seq[String]): Seq[String] =
      (explicit ++ Takedown.recordedIndexes(outDir, kind)).distinct
    def table(kind: String, n: String) = Layout(kind, n,
      CatalogCommit.batchDirs(spark, n).size.toLong, tableFiles(spark, n))
    def dir(kind: String, n: String, batchRoot: Option[String]) = Layout(
      kind, n, batchRoot.map(r => batchDirCount(java.nio.file.Paths.get(r)))
        .getOrElse(0L), pathFiles(n))
    val bm25 = s"$outDir/bm25"
    val vectors = s"$outDir/vectors"
    recorded("shingle", shingleIndexes).map(table("shingle", _)) ++
      recorded("overlap", overlapIndexes).map(table("overlap", _)) ++
      recorded("line", lineSegmentIndexes).map(table("line", _)) ++
      recorded("intivf", intIvfIndexes).map(dir("intivf", _, None)) ++
      (if (java.nio.file.Files.exists(java.nio.file.Paths.get(bm25)))
        Seq(dir("bm25", bm25, Some(Bm25Index.postingsPath(bm25)))) else Nil) ++
      (if (java.nio.file.Files.exists(java.nio.file.Paths.get(vectors)))
        Seq(dir("vectors", vectors, None)) else Nil) ++
      Seq("curated", "evalh", "shards").flatMap { rel =>
        val d = s"$outDir/$rel"
        if (java.nio.file.Files.exists(java.nio.file.Paths.get(d)))
          Seq(dir(rel, d, None)) else Nil
      } ++
      // the streaming-maintained twins (kind detected from the layout;
      // record with Takedown.recordIndex(outDir, "stream", path) or pass
      // explicitly) — they fragment FASTEST: one batch= partition per
      // micro-batch, ~10⁵/year at 5-minute triggers
      recorded("stream", streamedIndexes).flatMap(streamedLayout)
  }

  /** Compact every artifact of the tree (see header). Returns one
    * [[Compacted]] row per artifact visited (fast-pathed artifacts show
    * before == after), file counts before/after. */
  def compact(spark: SparkSession, outDir: String,
      shingleIndexes: Seq[String] = Nil,
      lineSegmentIndexes: Seq[String] = Nil,
      intIvfIndexes: Seq[String] = Nil,
      overlapIndexes: Seq[String] = Nil,
      streamedIndexes: Seq[String] = Nil,
      buckets: Int = 32): Seq[Compacted] =
    compactWhere(spark, outDir, _ => true,
      shingleIndexes, lineSegmentIndexes, intIvfIndexes, overlapIndexes,
      streamedIndexes, buckets)

  /** The OPERATOR POLICY form — [[status]] wired to [[compact]]: fold
    * exactly the artifacts past the fragmentation thresholds and leave
    * the rest untouched (they don't even appear in the report). A
    * scheduler calls this nightly with the tree's budget knobs instead
    * of either compacting blindly or reading [[status]] by hand:
    * `maxBatchParts` bounds the `batch=` partition-dir count of the
    * batch-axis indexes (shingle/overlap/bm25 — ~30 ≈ a month of daily
    * increments), `maxFiles` bounds raw parquet file count for the
    * layouts without a batch axis (vectors/IVF/line/flat artifacts).
    * Same quiescent-tree contract as [[compact]]: never run concurrently
    * with an in-flight increment — a staged-but-unapplied
    * [[DailyIncrement]]'s index targets go stale against the reset
    * pointers and its apply step fails loud in `appendAs`
    * (MaintenanceSpec pins that race), never corrupts. */
  def auto(spark: SparkSession, outDir: String,
      maxBatchParts: Long = 30L,
      maxFiles: Long = 256L,
      shingleIndexes: Seq[String] = Nil,
      lineSegmentIndexes: Seq[String] = Nil,
      intIvfIndexes: Seq[String] = Nil,
      overlapIndexes: Seq[String] = Nil,
      streamedIndexes: Seq[String] = Nil,
      buckets: Int = 32): Seq[Compacted] =
    compactWhere(spark, outDir,
      l => l.batchParts > maxBatchParts || l.files > maxFiles,
      shingleIndexes, lineSegmentIndexes, intIvfIndexes, overlapIndexes,
      streamedIndexes, buckets)

  private def compactWhere(spark: SparkSession, outDir: String,
      pred: Layout => Boolean,
      shingleIndexes: Seq[String],
      lineSegmentIndexes: Seq[String],
      intIvfIndexes: Seq[String],
      overlapIndexes: Seq[String],
      streamedIndexes: Seq[String],
      buckets: Int): Seq[Compacted] = {
    graft.GraftExtensions.register(spark)
    // Fail-loud quiescence guard: a sealed-but-unapplied DailyIncrement
    // means the tree is MID-INCREMENT — folding now would reset the index
    // pointers its staged appends target, stranding the increment in
    // appendAs's stale-target gate at apply time. Refuse up front so the
    // operator applies it (DailyIncrement.recover) and re-schedules the
    // fold; MaintenanceSpec pins the race.
    require(!java.nio.file.Files.exists(java.nio.file.Paths.get(
        s"$outDir/_increment_pending/_staged")),
      s"tree $outDir is not quiescent: a staged DailyIncrement is pending " +
        "— apply it (DailyIncrement.recover) before compacting")
    val targets = status(spark, outDir, shingleIndexes, lineSegmentIndexes,
      intIvfIndexes, overlapIndexes, streamedIndexes).filter(pred)
    if (targets.isEmpty) return Nil
    // Quiescent-tree op: drop cached plans before rewriting the tables
    // they may reference. A cached frame whose lineage reads a table
    // being overwritten is a live hazard — the CacheManager re-resolves
    // such plans mid-INSERT (recacheByPath) and finds the table dropped
    // (overwrite = drop + recreate), failing the unrelated write; and a
    // survivor would pin pre-compact data. Nothing legitimate holds
    // cached index lineage across a maintenance window.
    spark.catalog.clearCache()
    targets.map { l =>
      def files(): Long = l.kind match {
        case "shingle" | "overlap" | "line" => tableFiles(spark, l.name)
        case k if k.startsWith("stream-") =>
          streamedDataDirs(k, java.nio.file.Paths.get(l.name)).map(CatalogCommit.dataFileCount).sum
        case _ => pathFiles(l.name)
      }
      val before = files()
      l.kind match {
        case "shingle" => ShingleIndex.compact(spark, l.name, buckets)
        case "overlap" => OverlapIndex.compact(spark, l.name, buckets)
        case "line" => LineSegmentIndex.compact(spark, l.name, buckets)
        case "intivf" => IntIvfIndex.compact(spark, l.name)
        case "bm25" => Bm25Index.compact(spark, l.name)
        case "vectors" => VectorIndex.compact(spark, l.name)
        // the streaming-maintained twins fold via their own staged-swap
        // compact() (probe-identical before/after, crash-safe marker
        // protocol — each twin's spec pins it). Quiescent-STREAM
        // contract: auto() must run in a trigger gap, exactly like
        // calling the index's compact() by hand; a racing update() fails
        // loud on the staged marker, never corrupts.
        case "stream-shingle" =>
          new graft.streaming.MaintainedShingleIndex(
            java.nio.file.Paths.get(l.name), spark).compact()
        case "stream-overlap" =>
          new graft.streaming.MaintainedOverlapIndex(
            java.nio.file.Paths.get(l.name), spark).compact()
        case "stream-bm25" =>
          new graft.streaming.MaintainedBm25Index(
            java.nio.file.Paths.get(l.name), spark, buckets).compact()
        case "stream-intivf" =>
          new graft.streaming.MaintainedIntIvfIndex(
            java.nio.file.Paths.get(l.name), spark).compact()
        case "stream-vector" =>
          new graft.streaming.MaintainedVectorIndex(
            java.nio.file.Paths.get(l.name), spark).compact()
        // The flat parquet artifacts accumulate one file set per daily
        // APPEND (curated/evalh rows append; shards grow per-batch files
        // inside their hive dirs) and, unlike the indexes, have no
        // non-tombstone rewrite path at all — Takedown.scrub/repack only
        // fire on removals. These folds are ROW-IDENTICAL rewrites: the
        // manifest/evalh keep `added_batch` (the as-of provenance column
        // — collapsing it would rewrite history), shards keep (doc_id,
        // shard, offset) exactly (re-clustered one partition per shard
        // dir), and takedown tombstones are deliberately NOT applied
        // here — masking is the readers' job and erasure is scrub()'s,
        // so compact stays semantics-free.
        case "curated" | "evalh" =>
          foldFlat(spark, outDir, l.kind, l.name,
              math.max(1, spark.sparkContext.defaultParallelism).toLong) {
            (df, out) =>
              df.coalesce(math.max(1, spark.sparkContext.defaultParallelism))
                .write.parquet(out)
          }
        case "shards" =>
          foldFlat(spark, outDir, "shards", l.name,
              math.max(1L, CatalogCommit.childDirs(
                java.nio.file.Paths.get(l.name), "shard=").size.toLong)) {
            (df, out) =>
              df.repartition(org.apache.spark.sql.functions.col("shard"))
                .write.partitionBy("shard").parquet(out)
          }
      }
      Compacted(l.kind, l.name, before, files())
    }
  }

  /** One flat artifact's fold: written to a staged sibling dir and swapped
    * in by [[graft.streaming.CompactSwap.compact]] (the plan reads the live
    * dir and writes the staged one, so no checkpoint pin is needed); a tree
    * already at `target` files is left alone. */
  private def foldFlat(spark: SparkSession, outDir: String, rel: String,
      d: String, target: Long)(
      write: (org.apache.spark.sql.DataFrame, String) => Unit): Unit = {
    val staged = java.nio.file.Paths.get(s"${d}_compact")
    graft.streaming.CompactSwap.compact(
        java.nio.file.Paths.get(s"$outDir/_maint_staged_$rel"),
        Seq(java.nio.file.Paths.get(d) -> staged), Nil,
        pathFiles(d) <= target) {
      write(spark.read.parquet(d), staged.toString)
    }
  }
}
