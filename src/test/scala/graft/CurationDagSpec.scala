package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The fate trace agrees with the pipeline it traces: for each of the
  * five stage sets, the `pipeline_audit*` rows whose fate is `kept` are
  * exactly the `pipeline_curate*` rows, placement included, and every
  * other doc is unplaced. Both sides run through the registered keys, so
  * each builds its own [[graft.operators.CurationDag]]. */
class CurationDagSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  for (stages <- Seq("", "_neardup", "_scrub", "_spans", "_full")) {
    test(s"pipeline_audit$stages kept rows == pipeline_curate$stages rows; dropped rows unplaced") {
      val audit = SparkEntry.queries(s"pipeline_audit$stages")(spark, dir)
      val curate = SparkEntry.queries(s"pipeline_curate$stages")(spark, dir)
      val on = Seq("doc_id") ++ Seq("n_removed").filter(audit.columns.contains) ++
        Seq("shard", "shard_offset")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select(on.map(col): _*).collect().map(_.toSeq).toSeq.sortBy(_.head.asInstanceOf[Long])
      val kept = rows(audit.filter(col("fate") === "kept"))
      val dropped = audit.filter(col("fate") =!= "kept")
      assert(kept.nonEmpty && dropped.count() > 0, "vacuous: no kept or no dropped docs")
      assert(kept == rows(curate), "fate 'kept' disagrees with the packing")
      assert(dropped.filter(col("shard").isNotNull).count() == 0, "a dropped doc was placed")
      spark.catalog.clearCache()
    }
  }
}
