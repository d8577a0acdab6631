package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.CrossHash

/** Materialized ANN layout: embeddings written hive-partitioned by their
  * hyperplane-LSH bucket — the on-disk form of SURVEY §9.1's embeddings
  * row ("partitioned by coarse quantizer cell; probes become
  * partition-pruned scans").
  *
  * [[materialize]] stamps each vector's sign-bitmap bucket (deterministic
  * md5-derived planes, CrossHash doctrine) and writes
  * `path/bucket=N/part-*.parquet`. [[probe]] computes the SAME bucket for
  * the query vectors driver-side, then reads the corpus with a LITERAL
  * `bucket IN (...)` predicate — static partition pruning, no dynamic
  * filter needed — so a probe of q queries touches at most q of the 2^bits
  * partitions regardless of corpus size (VectorIndexSpec pins the
  * partition filter in the scan and result equality with the in-memory
  * bucketed spelling).
  *
  * At 10⁸+ vectors `bits` grows with log₂(n) like every LSH geometry here,
  * and multi-probe (neighboring buckets per query) recovers recall — the
  * probe takes the bucket list per query, so multi-probe is a caller-side
  * union of bucket ids, still a pruned scan.
  */
object VectorIndex {
  /** Sign-bitmap bucket of an array<double> column over the first `bits`
    * deterministic planes for `dim` dimensions. */
  private[graft] def bucketCol(v: Column, bits: Int, dim: Int): Column = {
    val planes = CrossHash.embPlanesFor(1, bits, dim)
    (0 until bits).map { j =>
      val plane = planes(j).map(x => s"${x}.0D").mkString("array(", ", ", ")")
      when(expr(s"graft_dot(${v.toString}, $plane)") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Write `vecs` (vec_id, embedding array<float|double>) partitioned by
    * LSH bucket. */
  def materialize(vecs: DataFrame, path: String, bits: Int = 4, dim: Int = 64): Unit = {
    graft.GraftExtensions.register(vecs.sparkSession)
    vecs
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("bucket", bucketCol(col("v"), bits, dim))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
  }

  /** Fold a new vector batch into an existing index: the batch lands as
    * new files under the SAME deterministic bucket partitioning (the
    * hyperplanes are data-independent, so old and new vectors agree on
    * every bucket id) — standing partitions are never rewritten, and a
    * probe of the appended index equals a probe of a from-scratch
    * rebuild over the union. Batch vec_ids must be disjoint from the
    * index (the Bm25Index.append contract). */
  def append(vecs: DataFrame, path: String, bits: Int = 4, dim: Int = 64): Unit = {
    graft.GraftExtensions.register(vecs.sparkSession)
    vecs
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("bucket", bucketCol(col("v"), bits, dim))
      .write.mode("append").partitionBy("bucket").parquet(path)
  }

  // SIBLING of the index dir, not inside it: the raw layout is read at
  // the path root (`spark.read.parquet(path)`), and a non-`bucket=`
  // subdirectory would corrupt partition discovery
  private def tombDir(path: String) = s"${path.stripSuffix("/")}_tombstones"

  private def hasTombstones(path: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(tombDir(path)))

  /** Mask tombstoned vectors out of a candidate frame (id column
    * `idCol`) — no-op when nothing was deleted; the tombstone set is
    * |deleted|-sized, AQE broadcasts the anti-join. */
  private def masked(spark: SparkSession, path: String, df: DataFrame,
      idCol: String): DataFrame =
    if (!hasTombstones(path)) df
    else df.join(
      spark.read.parquet(tombDir(path)).select(col("vec_id").as(idCol)).distinct(),
      Seq(idCol), "left_anti")

  /** Delete vectors from the index — the right-to-be-forgotten path.
    * The index is side-table-free, so a delete is just the tombstone
    * append: every probe ([[probe]], [[probeFiltered]], [[probePq]])
    * anti-joins the |deleted|-sized set BEFORE ranking, so a top-k after
    * delete equals a probe of a from-scratch rebuild on the remaining
    * vectors (VectorIndexSpec pins it) — never a post-filtered short
    * list. Idempotent (duplicate tombstones are harmless) and a no-op
    * for never-indexed ids. Partition mass is untouched; [[vacuum]]
    * physically drops the rows. */
  def delete(spark: SparkSession, path: String, ids: DataFrame): Unit = {
    ids.select(col(ids.columns.head).as("vec_id")).distinct()
      .write.mode("append").parquet(tombDir(path))
  }

  /** Physically drop tombstoned vectors from the raw bucketed layout —
    * probes before and after are identical; the tombstone set is cleared.
    * (For the PQ layout use [[vacuumPq]].) */
  def vacuum(spark: SparkSession, path: String): Unit = {
    if (!hasTombstones(path)) return
    compact(spark, path)
  }

  /** [[vacuum]] WITHOUT requiring tombstones — the layout half of index
    * maintenance: every [[append]] adds its own files inside each
    * `bucket=` dir (the layout has no batch axis), so a year of daily
    * increments multiplies the files a partition-pruned probe opens.
    * One rewrite folds them back: the surviving rows (tombstone-masked
    * when a delete is in flight) re-cluster by bucket so each bucket
    * lands contiguously, and applied tombstones clear. Probes identical
    * before/after. EAGER localCheckpoint, not cache: the rewrite
    * overwrites the very files this plan reads, and a lost cached block
    * would silently recompute from the half-overwritten layout —
    * checkpointing cuts the lineage and fails loud instead (the
    * DailyIncrement discipline; Bm25Index avoids the hazard structurally
    * via its pointer-swapped postings dirs, which this path-root hive
    * layout can't use without breaking partition discovery). Tree-level
    * form: [[Maintenance.compact]]. */
  def compact(spark: SparkSession, path: String): Unit = {
    // idempotent fast path: nothing masked and the layout already at the
    // folded target (≤ one file per bucket dir) — skip the rewrite
    val root = java.nio.file.Paths.get(path)
    if (!hasTombstones(path) && CatalogCommit.dataFileCount(root) <=
        CatalogCommit.childDirs(root, "bucket=").size.toLong) return
    val kept = masked(spark, path,
      spark.read.parquet(path).select(col("vec_id"), col("v"), col("bucket")),
      "vec_id").localCheckpoint(true)
    kept.repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
    clearTombstones(path)
  }

  /** PQ-layout twin of [[vacuum]]: physically drop tombstoned vectors
    * from BOTH derived tables — `codes` (bucket-partitioned, rewritten
    * under the same layout) and `raw` (the shortlist re-rank side) — then
    * clear the tombstone set. The codebook is untouched: it is a trained
    * quantizer, not per-vector state, so the vacuumed index's ADC scores
    * (and therefore [[probePq]] results) are identical before and after
    * (VectorIndexSpec pins it); only a re-[[materializePq]] retrains.
    * Same read-path-you-write discipline as [[vacuum]]. */
  def vacuumPq(spark: SparkSession, path: String): Unit = {
    if (!hasTombstones(path)) return
    val keptCodes = masked(spark, path,
      spark.read.parquet(s"$path/codes")
        .select(col("vec_id"), col("codes"), col("bucket")),
      "vec_id").localCheckpoint(true)
    keptCodes.write.mode("overwrite").partitionBy("bucket").parquet(s"$path/codes")
    val keptRaw = masked(spark, path,
      spark.read.parquet(s"$path/raw").select(col("vec_id"), col("v")),
      "vec_id").localCheckpoint(true)
    keptRaw.write.mode("overwrite").parquet(s"$path/raw")
    clearTombstones(path)
  }

  private def clearTombstones(path: String): Unit =
    graft.store.FileTree.deleteRecursively(java.nio.file.Paths.get(tombDir(path)))

  /** Top-k cosine neighbors per query vector, scanning ONLY the probed
    * bucket partitions. `queries`: (query_id, embedding).
    *
    * `nprobe` > 1 enables MULTI-PROBE: besides its own bucket, each query
    * probes the hamming-1 neighbor buckets whose hyperplane margin
    * `|dot(q, plane_j)|` is smallest — the planes the query sits closest
    * to are the ones most likely to have cut it off from true neighbors
    * (the classic multi-probe LSH ordering). The probe set stays
    * |queries|·nprobe rows, so the scan still prunes statically. */
  def probe(spark: SparkSession, path: String, queries: DataFrame, k: Int,
      bits: Int = 4, dim: Int = 64, nprobe: Int = 1): DataFrame = {
    val (q, probes, buckets) = queryProbes(spark, queries, bits, dim, nprobe)
    val corpus = masked(spark, path,
        spark.read.parquet(path).filter(col("bucket").isin(buckets: _*)), "vec_id")
      .select(col("vec_id").as("neighbor_id"), col("bucket"),
        col("v").as("cv"), sqrt(expr("graft_dot(v, v)")).as("cnrm"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    broadcast(probes.join(q.select(col("query_id"), col("qv"), col("qnrm")), "query_id"))
      .join(corpus, Seq("bucket"))
      .withColumn("cosine",
        expr("graft_dot(qv, cv)") / nullif(col("qnrm") * col("cnrm"), lit(0.0)))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk").cast("long").as("rnk"),
        col("neighbor_id"), col("cosine"))
  }

  /** Filtered probe — [[probe]] restricted to an allowed-id set (the
    * index-level form of the knn_filtered query: vector search with a
    * metadata predicate resolved OUTSIDE the index, e.g. a lang filter on
    * the document store). The filter semi-joins into the candidate set
    * BEFORE ranking, so every query still returns up to k rows that all
    * satisfy the predicate — post-filtering a top-k would return fewer
    * whenever the filter is selective. Bucket-partition pruning is
    * untouched: the scan cost stays |probed buckets|, and the allowed set
    * joins as a normal (AQE-broadcastable, never mandated) side. */
  def probeFiltered(spark: SparkSession, path: String, queries: DataFrame,
      allowed: DataFrame, k: Int, bits: Int = 4, dim: Int = 64,
      nprobe: Int = 1): DataFrame = {
    val (q, probes, buckets) = queryProbes(spark, queries, bits, dim, nprobe)
    val corpus = masked(spark, path,
        spark.read.parquet(path).filter(col("bucket").isin(buckets: _*)), "vec_id")
      .join(allowed.select(col(allowed.columns.head).as("vec_id")), Seq("vec_id"), "left_semi")
      .select(col("vec_id").as("neighbor_id"), col("bucket"),
        col("v").as("cv"), sqrt(expr("graft_dot(v, v)")).as("cnrm"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    broadcast(probes.join(q.select(col("query_id"), col("qv"), col("qnrm")), "query_id"))
      .join(corpus, Seq("bucket"))
      .withColumn("cosine",
        expr("graft_dot(qv, cv)") / nullif(col("qnrm") * col("cnrm"), lit(0.0)))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk").cast("long").as("rnk"),
        col("neighbor_id"), col("cosine"))
  }

  /** Index ACCEPTANCE gate — recall@k and reciprocal rank of [[probe]]
    * against an exact brute-force scan of the same (tombstone-masked)
    * index contents: the operator form of the oracle-checked knn_eval
    * query, run against the artifact a deployment actually serves, so a
    * bits/nprobe choice is validated on the index itself before probes
    * go live. Metrics are exact integer ppm (n·10⁶ DIV d), per query:
    * (query_id, n_truth, n_hit, recall_ppm, rr_ppm). The truth leg costs
    * one full index scan — an eval-cadence job, never the serving path;
    * the run leg is the pruned production probe. Queries matching a
    * corpus vec_id are excluded from their own truth/run lists (the
    * knn_eval convention). */
  def evaluate(spark: SparkSession, path: String, queries: DataFrame, k: Int,
      bits: Int = 4, dim: Int = 64, nprobe: Int = 1): DataFrame = {
    graft.GraftExtensions.register(spark)
    val q = queries
      .select(col("query_id"), col("embedding").cast("array<double>").as("qv"))
      .withColumn("qnrm", sqrt(expr("graft_dot(qv, qv)")))
    val corpus = masked(spark, path,
        spark.read.parquet(path).select(col("vec_id"), col("v")), "vec_id")
      .select(col("vec_id").as("neighbor_id"), col("v").as("cv"),
        sqrt(expr("graft_dot(v, v)")).as("cnrm"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    val truth = broadcast(q).join(corpus, col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        expr("graft_dot(qv, cv)") / nullif(col("qnrm") * col("cnrm"), lit(0.0)))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"))
    val run = probe(spark, path, queries, k, bits, dim, nprobe)
      .select(col("query_id"), col("neighbor_id"), col("rnk").as("rnk_r"))
    truth.join(run, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_truth"),
        sum(when(col("rnk_r").isNotNull, 1L).otherwise(0L)).as("n_hit"),
        min(col("rnk_r")).as("first_hit"))
      .select(col("query_id"), col("n_truth"), col("n_hit"),
        expr("(n_hit * 1000000) DIV n_truth").as("recall_ppm"),
        expr("coalesce(1000000 DIV first_hit, CAST(0 AS BIGINT))").as("rr_ppm"))
  }

  /** Query-side probe prep shared by the raw and PQ probe paths:
    * normalized query frame with bucket + margins, the (query, bucket)
    * multi-probe rows (its own bucket + the (nprobe−1) smallest-margin
    * plane flips — the classic multi-probe LSH ordering), and the distinct
    * bucket list for static partition pruning. The probe set stays
    * |queries|·nprobe rows, a bounded driver list. */
  private[graft] def queryProbes(spark: SparkSession, queries: DataFrame,
      bits: Int, dim: Int, nprobe: Int): (DataFrame, DataFrame, Seq[Long]) = {
    require(nprobe >= 1 && nprobe <= bits + 1,
      s"nprobe must be in [1, bits+1]: flipping one of $bits planes per extra probe")
    graft.GraftExtensions.register(spark)
    val planes = CrossHash.embPlanesFor(1, bits, dim)
    val dots = (0 until bits).map { j =>
      val plane = planes(j).map(x => s"${x}.0D").mkString("array(", ", ", ")")
      expr(s"graft_dot(qv, $plane)").as(s"_d$j")
    }
    val q = queries
      .select(col("query_id"), col("embedding").cast("array<double>").as("qv"))
      .select((col("query_id") :: col("qv") :: Nil) ++ dots: _*)
      .withColumn("bucket",
        (0 until bits).map(j => when(col(s"_d$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _))
      .withColumn("qnrm", sqrt(expr("graft_dot(qv, qv)")))
      .cache()
    val probeRows = q.collect().flatMap { r =>
      val base = r.getAs[Long]("bucket")
      val qid = r.get(r.fieldIndex("query_id"))
      val margins = (0 until bits)
        .map(j => j -> math.abs(r.getAs[Double](s"_d$j"))).sortBy(_._2)
      (base +: margins.take(nprobe - 1).map { case (j, _) => base ^ (1L << j) })
        .map(b => (qid, b))
    }
    val probes = spark.createDataFrame(
      spark.sparkContext.parallelize(probeRows.toSeq.map(p =>
        org.apache.spark.sql.Row(p._1, p._2)), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("query_id",
          q.schema("query_id").dataType, nullable = false),
        org.apache.spark.sql.types.StructField("bucket",
          org.apache.spark.sql.types.LongType, nullable = false))))
    (q, probes, probeRows.map(_._2).distinct.toSeq)
  }

  /** PQ-coded index layout — the memory-bound form of this index for
    * corpora whose raw vectors don't fit the probe budget:
    *
    *   path/codebook  deterministic per-subspace centroids (PqCodebook)
    *   path/codes     (vec_id, codes) partitioned by LSH bucket — the HOT
    *                  table a probe scans; m bytes-ish per vector instead
    *                  of 8·dim
    *   path/raw       (vec_id, v) — fetched ONLY for the shortlist re-rank
    *
    * Probes ([[probePq]]) scan the probed bucket partitions of `codes`,
    * rank by ADC table lookups (graft_pq_scores), and exact-re-rank only
    * the shortlist against `raw` — the knn_ivfpq query shape, persisted. */
  def materializePq(vecs: DataFrame, path: String, bits: Int = 4, dim: Int = 64,
      kc: Int = 16, m: Int = 8, iters: Int = 10, trainN: Long = 512L): Unit = {
    val spark = vecs.sparkSession
    graft.GraftExtensions.register(spark)
    val e = vecs
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val cb = PqCodebook.trainFrom(e, "v", kc, m, iters, trainN)
    PqCodebook.save(spark, cb, s"$path/codebook")
    val (mEff, kEff) = (cb.length, cb.head.length)
    e.withColumn("sc", call_function("graft_pq_scores", col("v"),
        typedLit(PqCodebook.flatten(cb)), typedLit(PqCodebook.norms2(cb)),
        lit(mEff), lit(kEff)))
      .withColumn("codes", expr(s"transform(sequence(0, ${mEff - 1}), j -> " +
        s"array_position(slice(sc, CAST(j*$kEff+1 AS INT), $kEff), " +
        s"array_min(slice(sc, CAST(j*$kEff+1 AS INT), $kEff))))"))
      .withColumn("bucket", bucketCol(col("v"), bits, dim))
      .select(col("vec_id"), col("codes"), col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$path/codes")
    e.write.mode("overwrite").parquet(s"$path/raw")
  }

  /** Top-k cosine neighbors via the PQ index: ADC-rank the probed bucket
    * partitions of the codes table, exact-re-rank the `shortlist` against
    * the raw vectors. Emitted cosines are exact; PQ loss only affects
    * which candidates reach the re-rank. */
  def probePq(spark: SparkSession, path: String, queries: DataFrame, k: Int,
      bits: Int = 4, dim: Int = 64, nprobe: Int = 1,
      shortlist: Int = 20): DataFrame = {
    val cb = PqCodebook.load(spark, s"$path/codebook")
    val (mEff, kEff) = (cb.length, cb.head.length)
    val (q0, probes, buckets) = queryProbes(spark, queries, bits, dim, nprobe)
    val q = q0.withColumn("qsc", call_function("graft_pq_scores", col("qv"),
      typedLit(PqCodebook.flatten(cb)), typedLit(PqCodebook.norms2(cb)),
      lit(mEff), lit(kEff)))
    // masking the codes table suffices: raw rows are only reached through
    // the shortlist, which is drawn from the masked codes
    val codes = masked(spark, path,
        spark.read.parquet(s"$path/codes").filter(col("bucket").isin(buckets: _*)),
        "vec_id")
      .select(col("vec_id").as("neighbor_id"), col("bucket"), col("codes"))
    val adc = expr(s"aggregate(sequence(0, ${mEff - 1}), CAST(0 AS DOUBLE), (acc, j) -> " +
      s"acc + element_at(qsc, CAST(j*$kEff + element_at(codes, CAST(j+1 AS INT)) AS INT)))")
    val ws = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").asc, col("neighbor_id"))
    val short = broadcast(probes
        .join(q.select(col("query_id"), col("qv"), col("qnrm"), col("qsc")), "query_id"))
      .join(codes, Seq("bucket"))
      .withColumn("adc", adc)
      .withColumn("sr", row_number().over(ws))
      .filter(col("sr") <= shortlist)
      .select(col("query_id"), col("qv"), col("qnrm"), col("neighbor_id"))
    val raw = spark.read.parquet(s"$path/raw")
      .select(col("vec_id").as("neighbor_id"), col("v").as("cv"),
        sqrt(expr("graft_dot(v, v)")).as("cnrm"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    broadcast(short).join(raw, "neighbor_id")
      .withColumn("cosine",
        expr("graft_dot(qv, cv)") / nullif(col("qnrm") * col("cnrm"), lit(0.0)))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk").cast("long").as("rnk"),
        col("neighbor_id"), col("cosine"))
  }
}
