package graft.validation

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.model.{ValidationResult, ValidationRule}
import graft.util.Scope

/** Scalar-rule validator: the Spark-native replacement for
  * `sparvi.validations.run_validations`
  * (reference: sparvi/validations/validator.py:67-139).
  *
  * Each rule's `query` is Spark SQL over registered temp views; the
  * first column of the first row is the actual value, compared to the
  * expected value with the rule's operator. Semantics preserved from
  * the reference:
  *   - unknown operator → is_valid = false (validator.py:99);
  *   - a failing rule captures its error and keeps going
  *     (validator.py:122-128);
  *   - `between` expects a 2-element sequence (validator.py:112-113);
  *   - comparisons are dynamically typed in the reference (Python) —
  *     [[ScalarCompare]] reproduces that with numeric widening to
  *     BigDecimal and string/boolean equality otherwise.
  *
  * Scale notes: each rule is one Spark job over the (ideally
  * persisted) input views; Catalyst pushes rule predicates into the
  * scan. `parallelism > 1` submits rules from a [[graft.util.Scope]] —
  * Spark's scheduler interleaves the jobs across the cluster, which
  * hides the per-job driver latency when rules are many and small.
  * A rule's own failure lands in its result ([[runOne]]); only a fatal
  * error triggers the scope's cancel-on-failure contract (cancel the
  * other rules' jobs, wait for every rule, rethrow the first error).
  */
object Validator {

  def run(
      spark: SparkSession,
      rules: Seq[ValidationRule],
      parallelism: Int = 1): Seq[ValidationResult] = {
    // Rule jobs run in a named scheduler pool: under a FAIR-mode session
    // (spark.scheduler.mode=FAIR) concurrent rules then share cluster
    // slots fairly instead of queuing FIFO behind one wide rule; under
    // FIFO it is a no-op. Set once here; the scope's threads inherit it.
    val sc = spark.sparkContext
    val previous = sc.getLocalProperty("spark.scheduler.pool")
    sc.setLocalProperty("spark.scheduler.pool", "graft-validation")
    try Scope.map(spark, "validate", parallelism, rules)(_.name)(runOne(spark, _))
    finally sc.setLocalProperty("spark.scheduler.pool", previous)
  }

  def runOne(spark: SparkSession, rule: ValidationRule): ValidationResult =
    try {
      val row = spark.sql(rule.query).limit(1).collect().headOption
      val actual: Any = row.map(r => if (r.isNullAt(0)) null else r.get(0)).orNull
      val isValid = ScalarCompare.evaluate(actual, rule.operator, rule.expectedValue)
      ValidationResult(rule.name, isValid, actual, rule.expectedValue, rule.description, None)
    } catch {
      case NonFatal(e) =>
        ValidationResult(rule.name, isValid = false, null, rule.expectedValue,
          rule.description, Some(e.getMessage))
    }

  // ---- COUNT-WHERE fusion ---------------------------------------------

  /** `SELECT COUNT(*) FROM <table> [WHERE <pred>]` with a bare table
    * name and no subquery/group-by — the shape of most generated
    * default rules (families D1, D5–D9, D15). */
  private val CountWherePattern =
    """(?is)\s*SELECT\s+COUNT\(\s*\*\s*\)\s+FROM\s+([A-Za-z_][\w.]*)\s*(?:WHERE\s+(.+?))?\s*""".r

  /** Splits a rule into (table, optional predicate) when it is a
    * fusable scalar count; None → run it as plain SQL. */
  def fusableCountWhere(rule: ValidationRule): Option[(String, Option[String])] =
    rule.query match {
      case CountWherePattern(table, pred) =>
        val p = Option(pred).map(_.trim).filter(_.nonEmpty)
        // Subqueries inside the predicate would change the fused-agg
        // shape — leave them on the plain path.
        if (p.exists(s => s.toLowerCase.contains("select"))) None
        else Some((table, p))
      case _ => None
    }

  /** Like [[run]], but rules of the COUNT-WHERE shape against the same
    * table fuse into ONE wide aggregate — `count(when(pred, 1))` per
    * rule — so a 30-rule generated suite costs a scan per table rather
    * than a scan per rule. Results are identical to [[run]] (same
    * comparison, same per-rule error capture: a fused batch that fails
    * falls back to per-rule execution so a single bad predicate cannot
    * poison its neighbors' results). Output order matches input. */
  def runBatched(spark: SparkSession, rules: Seq[ValidationRule]): Seq[ValidationResult] = {
    import org.apache.spark.sql.functions.{count, expr, lit, when}
    // Keyed by the rule's position in the input, NOT its name: rule
    // files don't enforce unique names, and two same-named fusable
    // rules must still report their own actual/is_valid.
    val classified: Seq[((ValidationRule, Option[(String, Option[String])]), Int)] =
      rules.map(r => r -> fusableCountWhere(r)).zipWithIndex
    val byTable = classified.collect { case ((r, Some((t, p))), idx) => (t, r, p, idx) }
      .groupBy(_._1)

    val fusedResults: Map[Int, ValidationResult] = byTable.flatMap {
      case (table, group) =>
        try {
          val df = spark.table(table)
          val aggs = group.zipWithIndex.map { case ((_, _, pred, _), i) =>
            (pred match {
              case Some(p) => count(when(expr(p), lit(1)))
              case None => count(lit(1))
            }).as(s"c$i")
          }
          val row = df.agg(aggs.head, aggs.tail: _*).head()
          group.zipWithIndex.map { case ((_, rule, _, idx), i) =>
            val actual: Any = if (row.isNullAt(i)) null else row.get(i)
            idx -> ValidationResult(rule.name,
              ScalarCompare.evaluate(actual, rule.operator, rule.expectedValue),
              actual, rule.expectedValue, rule.description, None)
          }
        } catch {
          case NonFatal(_) =>
            // Any failure in the fused plan (bad column, bad predicate)
            // reverts the whole group to per-rule execution, preserving
            // run()'s exact error-capture semantics.
            group.map { case (_, rule, _, idx) => idx -> runOne(spark, rule) }
        }
    }
    classified.map {
      case ((_, Some(_)), idx) => fusedResults(idx)
      case ((rule, None), _) => runOne(spark, rule)
    }
  }
}

/** Raised when an ordering comparison is attempted on an incomparable
  * pair — mirrors Python's TypeError (e.g. `'5' < 5`), which the
  * reference's per-rule try/except converts into a failed result with
  * `error` set (validator.py:122-128). */
final class IncomparableException(msg: String) extends RuntimeException(msg)

/** Cross-type scalar comparison with Python's dynamic-typing semantics
  * (reference: validator.py:99-113):
  *   - numeric pairs widen to BigDecimal; booleans act as 1/0 when
  *     paired with a number (Python `True == 1`);
  *   - string-vs-number is NOT coerced: `'5' == 5` is false, and
  *     `'5' < 5` raises (TypeError in Python → rule error here);
  *   - `==`/`!=` never raise on mismatched types.
  */
object ScalarCompare {

  /** Widen a value known to be numeric-ish. Strings intentionally do
    * NOT parse here — Python does not coerce '5' to 5. Non-finite
    * floats return None (BigDecimal cannot hold them); [[compare]]
    * handles ±Infinity itself and NaN is special-cased in [[evaluate]]
    * to Python semantics (every comparison with NaN is False, never an
    * error — e.g. the stddev of a single row). */
  def toNumeric(v: Any): Option[BigDecimal] = v match {
    case null => None
    case b: Boolean => Some(if (b) BigDecimal(1) else BigDecimal(0))
    case b: Byte => Some(BigDecimal(b.toInt))
    case s: Short => Some(BigDecimal(s.toInt))
    case i: Int => Some(BigDecimal(i))
    case l: Long => Some(BigDecimal(l))
    case f: Float => if (f.isNaN || f.isInfinite) None else Some(BigDecimal(f.toDouble))
    case d: Double => if (d.isNaN || d.isInfinite) None else Some(BigDecimal(d))
    case bd: BigDecimal => Some(bd)
    case bd: java.math.BigDecimal => Some(BigDecimal(bd))
    case bi: BigInt => Some(BigDecimal(bi))
    case _ => None
  }

  def isNaN(v: Any): Boolean = v match {
    case d: Double => d.isNaN
    case f: Float => f.isNaN
    case _ => false
  }

  private def isInfinite(v: Any): Boolean = v match {
    case d: Double => d.isInfinite
    case f: Float => f.isInfinite
    case _ => false
  }

  /** Lenient conversion for OUTPUT formatting only (parses numeric
    * strings) — never used by the comparison semantics. */
  def toBigDecimal(v: Any): Option[BigDecimal] = v match {
    case s: String => try Some(BigDecimal(s)) catch { case _: NumberFormatException => None }
    case other => toNumeric(other)
  }

  /** 3-way compare returning None when the pair is not comparable
    * under Python semantics. NaN returns None (callers decide: ordering
    * operators evaluate false, equality evaluates false); ±Infinity
    * orders like Python (inf > everything finite). */
  def compare(a: Any, b: Any): Option[Int] =
    if (isNaN(a) || isNaN(b)) None
    else if (isInfinite(a) || isInfinite(b)) {
      // ±Infinity orders strictly beyond EVERY finite numeric — even a
      // BigDecimal outside Double range (a naive toDouble would
      // overflow such a value to ±inf and call them equal).
      def infSign(v: Any): Option[Int] = v match {
        case d: Double if d.isInfinite => Some(if (d > 0) 1 else -1)
        case f: Float if f.isInfinite => Some(if (f > 0) 1 else -1)
        case _ => None
      }
      (infSign(a), infSign(b)) match {
        case (Some(x), Some(y)) => Some(x.compare(y))
        case (Some(x), None) => toNumeric(b).map(_ => x)
        case (None, Some(y)) => toNumeric(a).map(_ => -y)
        case (None, None) => None
      }
    }
    else (toNumeric(a), toNumeric(b)) match {
      case (Some(x), Some(y)) => Some(x.compare(y))
      case _ => (a, b) match {
        case (x: String, y: String) => Some(x.compareTo(y))
        // Same-class Comparables (Date, Timestamp, …) order naturally.
        case (x: Comparable[_], y) if y != null && x.getClass == y.getClass =>
          Some(x.asInstanceOf[Comparable[Any]].compareTo(y))
        case _ => None
      }
    }

  /** Python `==`: false (never an error) on mismatched types; NaN is
    * not equal to anything, itself included. */
  def equalsLoose(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (null, _) | (_, null) => false
    case _ if isNaN(a) || isNaN(b) => false
    case _ => compare(a, b).contains(0) || a == b
  }

  private def ordered(actual: Any, expected: Any): Int =
    compare(actual, expected).getOrElse(throw new IncomparableException(
      s"'$actual' (${classOf(actual)}) not comparable with '$expected' (${classOf(expected)})"))

  /** Ordering compare that is False (not an error) when either side is
    * NaN — Python `nan < 5` is False without raising. */
  private def orderedOp(actual: Any, expected: Any)(p: Int => Boolean): Boolean =
    if (isNaN(actual) || isNaN(expected)) false
    else p(ordered(actual, expected))

  private def classOf(v: Any): String =
    if (v == null) "null" else v.getClass.getSimpleName

  def evaluate(actual: Any, operator: String, expected: Any): Boolean = operator match {
    case "equals" | "==" => equalsLoose(actual, expected)
    case "not_equals" | "!=" => !equalsLoose(actual, expected)
    case "greater_than" | ">" => orderedOp(actual, expected)(_ > 0)
    case "less_than" | "<" => orderedOp(actual, expected)(_ < 0)
    case "greater_than_or_equal" | ">=" => orderedOp(actual, expected)(_ >= 0)
    case "less_than_or_equal" | "<=" => orderedOp(actual, expected)(_ <= 0)
    case "between" => expected match {
      case s: Seq[_] if s.size == 2 =>
        orderedOp(actual, s(0))(_ >= 0) && orderedOp(actual, s(1))(_ <= 0)
      case _ => false
    }
    case _ => false // unknown operator — reference leaves is_valid False
  }
}
