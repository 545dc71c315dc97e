package graft.tools

import org.apache.spark.sql.SparkSession

/** The bench and tools' session: `local[SPARK_GRAFT_CPUS]` (else
  * `defaultCpus`) with as many shuffle partitions. events.parquet
  * stores TIMESTAMP(NANOS), which Spark reads only as raw longs
  * (SparkEntry.eventsWithTs converts them back). */
object LocalSession {
  def apply(defaultCpus: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
