package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.util.Materialize

/** Pins the [[graft.util.Materialize.rowBlocks]] contract: local and
  * reliable checkpoint modes compute IDENTICAL results (the r22
  * fault-tolerance toggle must never change what an operator returns),
  * reliable files are written only on explicit request (a configured
  * checkpoint dir alone keeps local blocks), and the reliable request
  * without a checkpoint dir fails loudly instead of silently degrading
  * to executor-local blocks. */
class MaterializeSpec extends AnyFunSuite with SparkTestBase {

  private def frame = employeesDf
    .groupBy("department").agg(count(lit(1)).as("n"), avg("salary").as("avg_salary"))

  private def rows(ds: org.apache.spark.sql.DataFrame) = ds.collect().map(_.toString).sorted

  test("local and reliable modes compute identical results") {
    val local = rows(Materialize.rowBlocks(frame))
    withCheckpointDir { dir =>
      def files = org.apache.commons.io.FileUtils.listFiles(dir, null, true).size
      // A configured dir no longer changes the mode: the default still
      // writes local blocks, never checkpoint files.
      assert(local.sameElements(rows(Materialize.rowBlocks(frame))))
      assert(files == 0)
      assert(local.sameElements(rows(Materialize.rowBlocks(frame, reliable = true))))
      assert(files > 0)
    }
  }

  test("reliable=true without a checkpoint dir fails loudly") {
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    intercept[IllegalArgumentException] {
      Materialize.rowBlocks(frame, reliable = true)
    }
    ()
  }

  test("lineage is truncated: the result plan reads materialized blocks") {
    val m = Materialize.rowBlocks(frame)
    // A checkpointed frame's plan is a leaf over an RDD scan — no
    // parquet/local-relation scan, no aggregate left to recompute.
    val plan = m.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Aggregate"), plan)
  }
}
