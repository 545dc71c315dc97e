package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.text.TextAnalysis
import graft.validation.DefaultValidations

/** Writes the engine constants the oracle needs as inputs: the default
  * validation rules generated for each table's schema, and the language
  * seed texts.
  *
  * Usage: perfbench.Constants <data dir> <output json> <table>...
  */
object Constants {
  def main(args: Array[String]): Unit = {
    val Array(data, out, tables @ _*) = args
    val spark = SparkSession.builder().master("local[1]").appName("perfbench-constants")
      .config("spark.ui.enabled", "false").getOrCreate()
    val rules = tables.map { t =>
      val schema = spark.read.parquet(s"$data/$t.parquet").schema
      t -> DefaultValidations.generate(schema, t).map(r => Map("name" -> r.name, "query" -> r.query))
    }.toMap
    Main.mapper.writeValue(new File(out), Map(
      "rules" -> rules,
      "language_seeds" -> TextAnalysis.LanguageSeeds.toMap))
    spark.stop()
  }
}
