package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.Suite

/** Shared local SparkSession for all specs (one per forked test JVM)
  * plus the reference-derived golden fixtures of FIXTURES.md §A:
  * `employees` (reference: tests/conftest.py:22-32) and `products`
  * (tests/conftest.py:36-43).
  */
trait SparkTestBase { self: Suite =>

  lazy val spark: SparkSession = SparkTestBase.session

  /** Run `body` with a fresh checkpoint dir set on the shared session,
    * then unset it (Spark has no public unset; this clears the private
    * field) so later suites see the no-checkpoint-dir default again,
    * and delete the dir. */
  def withCheckpointDir[A](body: java.io.File => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toFile
    val sc = spark.sparkContext
    sc.setCheckpointDir(dir.toString)
    try body(dir)
    finally {
      sc.getClass.getDeclaredMethod("checkpointDir_$eq", classOf[Option[String]])
        .invoke(sc, None)
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
    }
  }

  /** A1 golden table: 10 rows, 2 null ages, 2 null salaries, 1 null
    * department. */
  def employeesDf: DataFrame = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, "Employee 1", Some(25L), Some(50000L), Some("HR")),
      (2L, "Employee 2", Some(30L), Some(60000L), Some("IT")),
      (3L, "Employee 3", Some(35L), None, Some("Finance")),
      (4L, "Employee 4", None, Some(80000L), Some("IT")),
      (5L, "Employee 5", Some(45L), Some(90000L), Some("HR")),
      (6L, "Employee 6", Some(50L), Some(100000L), Some("Finance")),
      (7L, "Employee 7", Some(55L), Some(110000L), Some("HR")),
      (8L, "Employee 8", Some(60L), Some(120000L), None),
      (9L, "Employee 9", None, None, Some("IT")),
      (10L, "Employee 10", Some(70L), Some(140000L), Some("Finance"))
    ).toDF("id", "name", "age", "salary", "department")
  }

  /** A2 golden table: 5 rows, one negative price (Product E). */
  def productsDf: DataFrame = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, "Product A", 10.99, "Electronics"),
      (2L, "Product B", 20.50, "Clothing"),
      (3L, "Product C", 5.99, "Food"),
      (4L, "Product D", 100.00, "Electronics"),
      (5L, "Product E", -1.00, "Clothing")
    ).toDF("product_id", "name", "price", "category")
  }
}

object SparkTestBase {

  /** Inside a task: wait until Spark kills it, bounded at a minute so a
    * broken cancel cannot hang the suite. */
  def waitUntilKilled(): Unit = {
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (!org.apache.spark.TaskContext.get().isInterrupted() && System.nanoTime() < deadline)
      Thread.sleep(20)
  }

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
