package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Row, SparkSession}

import graft.cli.Render
import graft.compare.ProfileCompare
import graft.config.Config
import graft.dedup.Dedup
import graft.model.{Json, TableMeta, TableProfile}
import graft.profiler.{Profiler, ProfilerConfig}
import graft.sources.Source
import graft.text.TextAnalysis
import graft.validation.{DefaultValidations, Validator}

/** Result of one operation: the rows it read, a check that lists every
  * way its output differs from the expected output (empty = correct),
  * and layer measurements only the traced run takes. Both run after the
  * operation's timed wall. */
final case class Outcome(inputRows: Long, check: () => Seq[String],
    traceExtras: Tracer => Unit = _ => ())

/** One benchmark workload. An operation runs one user verb on one key
  * (a table) through the engine's public functions; `warmup` lists the
  * keys in a fixed order (set-up warms up on its head), `order` is the
  * seed-shuffled cycle the timed loop repeats. */
trait Workload {
  def warmup: Seq[String]
  def order: Seq[String]
  def setup(spark: SparkSession): Unit
  def run(spark: SparkSession, key: String, tr: Tracer): Outcome
}

object Workloads {
  def apply(name: String, data: String, work: String, exp: JsonNode): Workload = name match {
    case "profile_exact" => new ProfileExact(data, work, exp)
    case "validate_catalog" => new ValidateCatalog(data, work, exp)
    case "corpus_curate" => new CorpusCurate(data, exp)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq

  def load(spark: SparkSession, data: String, table: String) =
    Source.loadAsView(spark, s"parquet:$data/$table.parquet", table)

  /** Differences between a profile and the oracle's exact counts and
    * extremes. */
  def checkProfile(p: TableProfile, exp: JsonNode): Seq[String] = {
    val errs = ArrayBuffer.empty[String]
    def expect(what: String, got: Any, want: Any): Unit =
      if (got != want) errs += s"$what: got $got, want $want"
    expect("row_count", p.rowCount, exp.get("row_count").asLong)
    expect("duplicate_count", p.duplicateCount, exp.get("duplicate_count").asLong)
    exp.get("columns").fields.asScala.foreach { e =>
      val (c, want) = (e.getKey, e.getValue)
      p.completeness.get(c) match {
        case None => errs += s"$c: no completeness entry"
        case Some(cc) =>
          expect(s"$c.nulls", cc.nulls, want.get("nulls").asLong)
          expect(s"$c.distinct", cc.distinctCount, want.get("distinct").asLong)
      }
      if (want.has("min")) {
        val ns = p.numericStats.get(c)
        expect(s"$c.min", ns.flatMap(_.min), Some(want.get("min").asDouble))
        expect(s"$c.max", ns.flatMap(_.max), Some(want.get("max").asDouble))
      }
      if (want.has("min_length")) {
        val ts = p.textLengthStats.get(c)
        expect(s"$c.min_length", ts.flatMap(_.minLength), Some(want.get("min_length").asLong))
        expect(s"$c.max_length", ts.flatMap(_.maxLength), Some(want.get("max_length").asLong))
      }
    }
    errs.toSeq
  }

  def number(v: Any): Option[Double] = v match {
    case null => None
    case n: java.lang.Number => Some(n.doubleValue)
    case b: BigDecimal => Some(b.toDouble)
    case b: java.lang.Boolean => Some(if (b) 1.0 else 0.0)
    case other => throw new IllegalStateException(s"non-numeric value $other")
  }

  def close(a: Option[Double], b: Option[Double], tol: Double = 1e-4): Boolean = (a, b) match {
    case (None, None) => true
    case (Some(x), Some(y)) => math.abs(x - y) <= tol + 1e-9 * math.abs(y)
    case _ => false
  }

  def optDouble(r: Row, i: Int): Option[Double] = if (r.isNullAt(i)) None else Some(r.getDouble(i))
  def optDouble(n: JsonNode): Option[Double] = if (n.isNull) None else Some(n.asDouble)
}

import Workloads._

/** `graft profile` on lineitem, orders and part: exact mode, persisted,
  * random samples, compared with the previous call's profile read back
  * from its JSON file — the configuration `Main.profileCmd` builds. An
  * odd number of tables keeps the median operation inside one table's
  * group of timings. */
final class ProfileExact(data: String, work: String, exp: JsonNode) extends Workload {
  val warmup = Seq("lineitem", "orders", "part")
  val order = strings(exp.get("order"))
  private val cfg = {
    val c = Config.load()
    ProfilerConfig(
      includeSamples = true,
      sampleMethod = Config.getString(c, "profiling.sample_method").getOrElse("random"),
      anomalyThreshold = Config.getDouble(c, "profiling.anomaly_threshold").getOrElse(3.0),
      maxHistory = Config.getInt(c, "validation.max_history").getOrElse(50),
      historyRetentionDays = Config.getInt(c, "history_retention_days").getOrElse(30))
  }
  private def historyFile(t: String): Path = Paths.get(work, s"profile_$t.json")

  def setup(spark: SparkSession): Unit = warmup.foreach { t =>
    load(spark, data, t); Files.deleteIfExists(historyFile(t))
  }

  def run(spark: SparkSession, t: String, tr: Tracer): Outcome = {
    val df = tr.layer("sources.load")(load(spark, data, t))
    val file = historyFile(t)
    val history =
      if (Files.exists(file)) Some(tr.layer("model.json_read")(Json.readProfileFile(file.toString)))
      else None
    val p = tr.layer("profiler")(
      Profiler.profile(df, t, cfg.copy(onPassTiming = tr.passTiming), history))
    tr.layer("cli.render")(Render.default(p))
    val js = tr.layer("model.json_write") {
      val s = Json.profile(p)
      Files.writeString(file, s)
      s
    }
    Outcome(p.rowCount, () => checkProfile(p, exp.get("profiles").get(t)), tr => {
      // The profiler ran the comparison inside its call; repeat it on the
      // same pair to time the compare layer alone.
      history.foreach(h => tr.layer("compare") {
        ProfileCompare.detectAnomalies(p, h, cfg.anomalyThreshold)
        ProfileCompare.detectSchemaShifts(p, h)
        ProfileCompare.appendTrends(h.trends, h, p, cfg.maxHistory, cfg.historyRetentionDays)
      })
      tr.count("model.json_bytes", js.getBytes("UTF-8").length)
    })
  }
}

/** `graft validate --generate-defaults`, one table per operation. */
final class ValidateCatalog(data: String, work: String, exp: JsonNode) extends Workload {
  val warmup = Seq("lineitem", "orders", "customer", "part", "supplier", "events",
    "documents", "nation", "region")
  val order = strings(exp.get("order"))
  private val rows = warmup.map(t => t -> exp.get("rows").get(t).asLong).toMap

  def setup(spark: SparkSession): Unit = warmup.foreach(load(spark, data, _))

  def run(spark: SparkSession, t: String, tr: Tracer): Outcome = {
    val df = tr.layer("sources.load")(load(spark, data, t))
    val rules = tr.layer("validation.generate")(
      DefaultValidations.generate(df.schema, t, TableMeta.empty))
    val results = tr.layer("validation.run")(Validator.runBatched(spark, rules))
    tr.layer("cli.render")(Render.rulesSummary(rules) + Render.validationResults(results) +
      Render.validationSummary(results))
    val js = tr.layer("model.json_write") {
      val s = Json.validationResults(results)
      Files.writeString(Paths.get(work, s"validation_$t.json"), s)
      s
    }
    Outcome(rows(t), () => {
      val want = exp.get("rules").get(t)
      val errs = ArrayBuffer.empty[String]
      if (results.size != want.size) errs += s"$t: ${results.size} rules, want ${want.size}"
      results.zip(want.elements().asScala.toSeq).foreach { case (r, w) =>
        r.error.foreach(e => errs += s"$t.${r.ruleName}: error $e")
        val got = number(r.actualValue)
        if (!close(got, optDouble(w))) errs += s"$t.${r.ruleName}: got $got, want $w"
      }
      errs.toSeq
    }, tr => {
      tr.count("model.json_bytes", js.getBytes("UTF-8").length)
      tr.count("validation.rules", rules.size)
      tr.count("validation.fused_share",
        rules.count(Validator.fusableCountWhere(_).isDefined).toDouble / rules.size)
      tr.count("validation.rule_errors", results.count(_.error.isDefined))
    })
  }
}

/** Corpus curation on `documents`: near-duplicate pairs and their
  * connected components, then character-LM scores, n-gram language IDs
  * and quality scores, each forced by `collect`. */
final class CorpusCurate(data: String, exp: JsonNode) extends Workload {
  val warmup = Seq("documents")
  val order = warmup
  private val c = exp.get("corpus")
  private val components = c.get("components").fields.asScala
    .map(e => e.getKey.toLong -> e.getValue.asLong).toMap
  private val lm = c.get("lm").fields.asScala.map(e => e.getKey.toLong -> e.getValue).toMap
  private val lang = c.get("lang").fields.asScala.map(e => e.getKey.toLong -> e.getValue).toMap

  def setup(spark: SparkSession): Unit = load(spark, data, "documents")

  def run(spark: SparkSession, t: String, tr: Tracer): Outcome = {
    val docs = tr.layer("sources.load")(load(spark, data, "documents"))
    val (pairs, comps) = tr.layer("dedup.components") {
      val pairs = Dedup.nearDupPairs(docs, "doc_id", "text")
      (pairs, Dedup.componentIds(docs, "doc_id", pairs).select("doc_id", "component").collect())
    }
    val lmRows = tr.layer("text.lm_score")(
      TextAnalysis.lmScore(docs, "text", "doc_id", n = 3, vocabSize = 256).collect())
    val langRows = tr.layer("text.lang_id")(
      TextAnalysis.languageIdNgram(docs, "text", "doc_id").collect())
    val quality = tr.layer("text.quality")(
      TextAnalysis.qualityScore(docs, "text", "doc_id").select("quality_score").collect())
    Outcome(components.size, () => check(comps, lmRows, langRows, quality),
      tr => tr.count("dedup.pairs", tr.aux(pairs.count()).toDouble))
  }

  private def check(comps: Array[Row], lmRows: Array[Row], langRows: Array[Row],
      quality: Array[Row]): Seq[String] = {
    val errs = ArrayBuffer.empty[String]
    def expect(what: String, ok: Boolean): Unit = if (!ok && errs.size < 20) errs += what
    expect(s"components: ${comps.length} rows, want ${components.size}",
      comps.length == components.size)
    comps.foreach(r => expect(s"component of ${r.getLong(0)}: ${r.getLong(1)}",
      components.get(r.getLong(0)).contains(r.getLong(1))))
    expect(s"lm: ${lmRows.length} rows", lmRows.length == lm.size)
    lmRows.foreach { r =>
      val w = lm.get(r.getLong(0))
      expect(s"lm of ${r.getLong(0)}: $r, want $w", w.exists(w =>
        r.getLong(1) == w.get(0).asLong && r.getLong(2) == w.get(1).asLong &&
          close(optDouble(r, 3), optDouble(w.get(2))) && close(optDouble(r, 4), optDouble(w.get(3)))))
    }
    expect(s"lang: ${langRows.length} rows", langRows.length == lang.size)
    langRows.foreach { r =>
      val w = lang.get(r.getLong(0))
      // A near-zero margin is a tie the engine may break either way.
      expect(s"lang of ${r.getLong(0)}: $r, want $w", w.exists(w =>
        (r.getString(1) == w.get(0).asText || w.get(3).asDouble < 1e-9) &&
          r.getLong(2) == w.get(1).asLong && close(optDouble(r, 3), optDouble(w.get(2)))))
    }
    expect(s"quality: ${quality.length} rows", quality.length == components.size)
    expect("quality outside [0, 1]",
      quality.forall(q => !q.isNullAt(0) && q.getDouble(0) >= 0 && q.getDouble(0) <= 1))
    errs.toSeq
  }
}
