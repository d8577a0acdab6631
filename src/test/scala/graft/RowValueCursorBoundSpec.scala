package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Optimizer rule: row-value cursor predicates gain a pushable scalar
  * bound (graft.plans.RowValueCursorBound). */
class RowValueCursorBoundSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    GraftExtensions.register(s)
    s
  }

  private def parquetDir(rows: Seq[(Long, Long)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-rule-").toString
    rows.toDF("lsn", "id").write.mode("overwrite").parquet(dir)
    dir
  }

  private def parquetDF(rows: Seq[(Long, Long)]): org.apache.spark.sql.DataFrame =
    spark.read.parquet(parquetDir(rows))

  test("struct cursor filter gains lsn >= bound in the optimized plan") {
    import spark.implicits._
    val df = parquetDF((1L to 10L).map(i => (i / 3 + 1, i)))
      .filter(struct($"lsn", $"id") > struct(lit(2L), lit(5L)))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains(">= 2"),
      s"expected implied lsn >= 2 bound in:\n$optimized")
    // semantics unchanged: (lsn,id) > (2,5)
    val expected = (1L to 10L).map(i => (i / 3 + 1, i))
      .filter { case (l, i) => l > 2 || (l == 2 && i > 5) }
    assert(df.as[(Long, Long)].collect().sorted.toSeq == expected.sorted)
  }

  test("bound pushes to the parquet scan (PushedFilters)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-rule-").toString
    (1L to 100L).map(i => (i / 10 + 1, i)).toDF("lsn", "id")
      .write.mode("overwrite").parquet(dir)
    val scan = spark.read.parquet(dir)
      .filter(struct($"lsn", $"id") > struct(lit(7L), lit(65L)))
    val physical = scan.queryExecution.executedPlan.toString
    assert(physical.contains("GreaterThanOrEqual(lsn,7)"),
      s"expected pushed lsn bound in:\n$physical")
    assert(scan.count() ==
      (1L to 100L).count(i => { val l = i / 10 + 1; l > 7 || (l == 7 && i > 65) }))
  }

  test("rule is idempotent when the bound is already written by hand") {
    import spark.implicits._
    val df = parquetDF((1L to 10L).map(i => (i, i)))
      .filter($"lsn" >= 2L && struct($"lsn", $"id") > struct(lit(2L), lit(3L)))
    val optimized = df.queryExecution.optimizedPlan.toString
    // exactly one >= bound, not two
    assert("(?s)>= 2".r.findAllIn(optimized).size == 1, optimized)
  }

  test("null first components filter identically with and without the rule") {
    import spark.implicits._
    val rows = Seq[(java.lang.Long, java.lang.Long)]((null, 5L), (3L, 1L), (2L, 9L))
    val df = rows.toDF("lsn", "id")
      .filter(struct($"lsn", $"id") > struct(lit(2L), lit(5L)))
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == Set((3L, 1L), (2L, 9L)))
  }

  test("the full two-component disjunction is derived and pushes the id bound") {
    import spark.implicits._
    val df = parquetDF((1L to 10L).map(i => (2L, i)))
      .filter(struct($"lsn", $"id") > struct(lit(2L), lit(5L)))
    val pushed = "PushedFilters: \\[[^\\]]*\\]".r.findFirstIn(
      df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
      .getOrElse("")
    assert(pushed.contains("Or(GreaterThan(lsn"), pushed)
    assert(df.collect().map(_.getLong(1)).toSet == (6L to 10L).toSet)
  }

  test("bound parameters produce no bounds; rows filter identically with and without the rule") {
    import graft.functions.expressions.LongParam
    val rows = (1L to 30L).map(i => (i / 3 + 1, i))
    val dir = parquetDir(rows)
    val expected = rows.filter { case (l, i) => l > 4 || (l == 4 && i > 10) }.toSet
    val without = spark.newSession()
    without.conf.set("spark.sql.optimizer.excludedRules", graft.plans.RowValueCursorBound.ruleName)
    def cursorFilter(s: org.apache.spark.sql.SparkSession, lsn: Column, id: Column) =
      s.read.parquet(dir).filter(struct(col("lsn"), col("id")) > struct(lsn, id))
    def got(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def bounded(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.toString.contains(">=")
    val withRule = cursorFilter(spark, LongParam.col(4), LongParam.col(10))
    assert(!bounded(withRule),
      s"a bound was derived from parameters:\n${withRule.queryExecution.optimizedPlan}")
    assert(bounded(cursorFilter(spark, lit(4L), lit(10L))), "the rule is on in this session")
    assert(!bounded(cursorFilter(without, lit(4L), lit(10L))), "the rule is off in the other")
    assert(got(withRule) == expected)
    assert(got(cursorFilter(without, LongParam.col(4), LongParam.col(10))) == expected)
  }

  test("NULL literal components produce no bounds (struct ordering is nulls-first total order)") {
    import spark.implicits._
    // struct(5,7) > struct(5,null) is TRUE under Spark's field ordering; a
    // derived scalar bound `id > null` would be NULL and drop the row
    val rows = Seq[(java.lang.Long, java.lang.Long)]((5L, 7L), (5L, null), (4L, 9L))
    val df = rows.toDF("lsn", "id")
      .filter(struct($"lsn", $"id") >
        struct(lit(5L), lit(null).cast("long")))
    val got = df.collect().map(r =>
      (r.getLong(0), if (r.isNullAt(1)) null else r.getLong(1))).toSet
    assert(got == Set((5L, 7L)), s"got $got")
    val optimized = df.queryExecution.optimizedPlan.toString
    // no derived scalar bounds may appear for the null-component literal
    assert(!optimized.contains("isnotnull(id"), optimized)
  }
}
