package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared commit primitives for catalog-table index artifacts (the
  * Bm25Index/ShingleIndex single-commit discipline): a `_current` pointer
  * file at the table location holds the last COMMITTED batch id and is
  * swapped by [[graft.store.Commit.replace]]; appends write their own `batch=<n>`
  * partitions and become visible only at the swap, so a crash anywhere
  * inside an append leaves the index at its pre-append state and the
  * retry first clears the uncommitted partition dirs. Extracted from
  * ShingleIndex when OverlapIndex became the third artifact carrying the
  * same protocol.
  */
private[graft] object CatalogCommit {

  def tableLocation(spark: SparkSession, table: String): java.nio.file.Path = {
    val loc = spark.sql(s"DESCRIBE TABLE EXTENDED $table")
      .filter(col("col_name") === "Location")
      .select(col("data_type")).head.getString(0)
    java.nio.file.Paths.get(new java.net.URI(loc))
  }

  private def pointerPath(spark: SparkSession, name: String) =
    tableLocation(spark, name).resolve("_current")

  /** Missing pointer (a crashed from-scratch materialize/vacuum, whose
    * in-place rewrite is covered by the checkpoint pin) falls back to
    * everything-visible — exactly the pre-pointer semantics; the
    * pointer's job is gating APPENDS, which always run under one. */
  def readLastBatch(spark: SparkSession, name: String): Option[Long] = {
    val p = pointerPath(spark, name)
    if (!java.nio.file.Files.exists(p)) None
    else Some(new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim.toLong)
  }

  /** Commit batch `b` of index `name`: force what the pointer publishes in
    * each of `tables` — its `batch=<b>` dir, or for batch 0 (a from-scratch
    * materialize or a compaction, which rewrite the whole table) its whole
    * table dir — then replace the pointer. */
  def writeLastBatch(spark: SparkSession, name: String, b: Long, tables: Seq[String]): Unit = {
    graft.store.Commit.force(tables.flatMap { t =>
      val loc = tableLocation(spark, t)
      graft.store.FileTree.all(if (b == 0L) loc else loc.resolve(s"batch=$b"))
    })
    graft.store.Commit.replace(pointerPath(spark, name), b.toString)
  }

  /** Physically drop an UNCOMMITTED batch partition (a crashed append's
    * leftovers — invisible to gated readers, removed before the retry
    * rewrites it). */
  def dropUncommitted(spark: SparkSession, table: String, b: Long): Unit = {
    val dir = tableLocation(spark, table).resolve(s"batch=$b")
    if (java.nio.file.Files.exists(dir)) {
      graft.store.FileTree.deleteRecursively(dir)
      spark.catalog.refreshTable(table)
    }
  }

  /** Remove a managed-table location ORPHANED by a dead session: with the
    * default in-memory catalog the table registration dies with the JVM
    * while its warehouse dir survives, and the next CREATE fails with
    * LOCATION_ALREADY_EXISTS. Only fires when the catalog does NOT know
    * the table (a registered table's dir is never touched). */
  def clearOrphanLocation(spark: SparkSession, table: String): Unit =
    if (!spark.catalog.tableExists(table)) {
      val wh = spark.conf.get("spark.sql.warehouse.dir")
      val root = if (wh.contains(":/")) java.nio.file.Paths.get(new java.net.URI(wh))
        else java.nio.file.Paths.get(wh)
      val dir = root.resolve(table.toLowerCase(java.util.Locale.ROOT))
      graft.store.FileTree.deleteRecursively(dir)
    }

  /** Parquet data-file count under a dir tree — the small-files metric
    * the compaction fast paths test against their folded target. */
  def dataFileCount(p: java.nio.file.Path): Long =
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.count { f =>
        val n = f.getFileName.toString
        n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
      }
      finally s.close()
    }

  /** Immediate child dirs of `p` whose name starts with `prefix` (hive
    * partition dirs: `bucket=`, `cluster=`, ...). */
  def childDirs(p: java.nio.file.Path, prefix: String): Seq[java.nio.file.Path] =
    if (!java.nio.file.Files.exists(p)) Nil
    else {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(p)
      try s.iterator().asScala.toList
        .filter(_.getFileName.toString.startsWith(prefix))
      finally s.close()
    }

  /** The `batch=<n>` partition ids physically present at a catalog
    * table's location (committed or not) — the layout-audit input of
    * [[graft.operators.Maintenance]]'s compaction report: the daily path
    * adds one partition per increment, and this is the count a compact
    * folds back to 1. */
  def batchDirs(spark: SparkSession, table: String): Seq[Long] = {
    val loc = tableLocation(spark, table)
    if (!java.nio.file.Files.exists(loc)) Nil
    else {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(loc)
      try s.iterator().asScala
        .map(_.getFileName.toString)
        .filter(_.startsWith("batch="))
        .map(_.stripPrefix("batch=").toLong).toSeq.sorted
      finally s.close()
    }
  }

  /** Fail-loud pointer contract for PROBE paths: the only legitimate
    * pointer-less state is a crashed from-scratch materialize/vacuum —
    * mid-rewrite data a probe must never silently read (the
    * everything-visible fallback in [[committed]] exists for
    * materialize-internal reads, not for serving). Probes require the
    * pointer and tell the operator to rebuild. */
  def requireCommitted(spark: SparkSession, name: String): Unit =
    require(readLastBatch(spark, name).nonEmpty,
      s"index '$name' has no _current commit pointer — a crashed " +
        "from-scratch materialize/vacuum is the only state that leaves " +
        "this; re-run materialize() before probing")

  /** The committed frame of a batch-partitioned table: batch-gated on
    * the pointer, `batch` dropped so downstream algebra is
    * layout-agnostic. NOT tombstone-masked. */
  def committed(spark: SparkSession, table: String, pointerName: String): DataFrame = {
    val t = spark.table(table)
    readLastBatch(spark, pointerName) match {
      case Some(last) => t.filter(col("batch") <= last).drop("batch")
      case None => t.drop("batch")
    }
  }

  /** Tombstone mask over `${name}_tombstones` (broadcast anti-join — the
    * bucketed index side keeps its no-shuffle property). */
  def maskedByTombstones(spark: SparkSession, name: String, df: DataFrame): DataFrame =
    if (!spark.catalog.tableExists(s"${name}_tombstones")) df
    else df.join(spark.table(s"${name}_tombstones").select(col("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")

  /** Append tombstone ids (idempotent at probe level — the mask
    * deduplicates; never-indexed ids are no-ops). */
  def appendTombstones(spark: SparkSession, name: String, ids: DataFrame): Unit = {
    clearOrphanLocation(spark, s"${name}_tombstones")
    ids.select(col(ids.columns.head).as("doc_id")).distinct()
      .write.mode("append").saveAsTable(s"${name}_tombstones")
  }
}
