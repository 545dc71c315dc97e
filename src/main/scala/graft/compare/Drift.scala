package graft.compare

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distribution-drift metrics between a reference and a current
  * snapshot of a numeric column — the quantitative counterpart of
  * [[ProfileCompare.detectAnomalies]]'s scalar deltas (which compare
  * aggregate stats; these compare the SHAPE of the distribution).
  * North-star scope beyond the reference surface, like P13–P15.
  */
object Drift {

  /** Per-bin drift report: Population Stability Index terms plus the
    * binned two-sample CDF gap (the Kolmogorov–Smirnov statistic on
    * the same histogram).
    *
    * Binning is deterministic and replayable by an external engine:
    * edges derive from the REFERENCE side's min/max (two scalars to
    * the driver — the same bounded collect contract as the k-means
    * centroids), width = (max−min)/numBins, bin = clamp(⌊(x−min)/
    * width⌋, 0, numBins−1). Current-side values outside the reference
    * range clamp into the edge bins — out-of-range mass is exactly
    * what the edge-bin drift should surface. A constant reference
    * (width 0) puts everything in bin 0. Identical IEEE arithmetic on
    * both engines makes every bin assignment reproducible — no
    * data-dependent tie hazard.
    *
    * PSI convention: shares are smoothed to ≥ 1e-6 before the
    * log-ratio (the standard guard for empty bins); the PSI total is
    * the sum of `psi_term`, with > 0.1 the usual "investigate" and
    * > 0.25 the "shifted" threshold. `cum_gap` is |F_ref − F_cur| at
    * each bin's upper edge over the UNsmoothed shares; its max over
    * bins is the binned KS statistic.
    *
    * Plan shape: one aggregate per side over the corpus, then all
    * arithmetic on numBins rows (the bin spine is a driver-side
    * literal frame; the cumulative window runs on a single partition
    * of numBins rows — bounded by construction, never corpus-sized).
    */
  def binnedDrift(
      ref: DataFrame, cur: DataFrame, valueCol: String,
      numBins: Int = 10): DataFrame = {
    require(numBins >= 2, s"need at least 2 bins, got $numBins")
    val spark = ref.sparkSession
    import spark.implicits._
    val Array(lo, hi) = ref.filter(col(valueCol).isNotNull)
      .agg(min(col(valueCol)).cast("double"), max(col(valueCol)).cast("double"))
      .head().toSeq.map(v => Option(v).map(_.asInstanceOf[Double]).getOrElse(0.0))
      .toArray
    val width = (hi - lo) / numBins
    def binOf(c: Column): Column =
      if (width == 0.0) lit(0)
      else least(lit(numBins - 1),
        greatest(lit(0), floor((c.cast("double") - lit(lo)) / lit(width)).cast("int")))
    // The total is a 1-row aggregate over the ≤numBins grouped rows,
    // broadcast back via cross join — each corpus side is scanned
    // exactly once (the two consumers of the grouped counts share one
    // shuffle via ReuseExchange). An unpartitioned window would compute
    // the same total but logs Spark's move-all-data-to-one-partition
    // warning on every run (and Spark 4's EliminateWindowPartitions
    // strips any constant partition key meant to dodge it), burying
    // real warnings for a frame that is bounded by construction.
    def histo(df: DataFrame, share: String): DataFrame = {
      val counts = df.filter(col(valueCol).isNotNull)
        .groupBy(binOf(col(valueCol)).as("bin"))
        .agg(count(lit(1)).cast("double").as("c"))
      val total = counts.agg(sum(col("c")).as("__total"))
      counts.crossJoin(broadcast(total))
        .select(col("bin"), (col("c") / col("__total")).as(share))
    }
    val spine = (0 until numBins).toDF("bin")
    // The per-bin share frame feeds THREE non-identical consumers
    // (the cumulative triangle's both sides and the final select) —
    // each would re-embed BOTH corpus-side histogram aggregates (the
    // r22 plan dump showed 12 corpus scans in one cmp_psi_drift call).
    // It is ≤ numBins rows, so one eager row-block checkpoint pins it
    // and each corpus side is scanned exactly once.
    val joined = graft.util.Materialize.rowBlocks(spine
      .join(histo(ref, "ref_share"), Seq("bin"), "left")
      .join(histo(cur, "cur_share"), Seq("bin"), "left")
      .select(col("bin"),
        coalesce(col("ref_share"), lit(0.0)).as("ref_share"),
        coalesce(col("cur_share"), lit(0.0)).as("cur_share")))
    val p = greatest(col("ref_share"), lit(1e-6))
    val q = greatest(col("cur_share"), lit(1e-6))
    // Running (cumulative) shares WITHOUT an unpartitioned window: a
    // broadcast ≤numBins×numBins triangular self-join — b.bin ≤ a.bin —
    // summed per bin. numBins is a small constant (default 10), so the
    // triangle is ≤100 rows; the corpus-side histogram exchanges are
    // shared with `joined` via ReuseExchange, so no side is re-scanned.
    val cums = joined.select(col("bin").as("b_bin"),
      col("ref_share").as("b_ref"), col("cur_share").as("b_cur"))
    val cum = joined.select(col("bin"))
      .join(broadcast(cums), col("b_bin") <= col("bin"))
      .groupBy("bin")
      .agg(sum(col("b_ref")).as("__cum_ref"), sum(col("b_cur")).as("__cum_cur"))
    joined.join(broadcast(cum), Seq("bin"))
      .select(col("bin"), col("ref_share"), col("cur_share"),
        ((p - q) * log(p / q)).as("psi_term"),
        abs(col("__cum_ref") - col("__cum_cur")).as("cum_gap"))
  }

  /** Categorical drift between snapshots of one low-cardinality
    * column: which categories appeared / vanished, the per-category
    * share delta, and the total-variation distance
    * (TVD = ½·Σ|p − q|, 0 = identical mixtures, 1 = disjoint) — the
    * categorical counterpart of [[binnedDrift]] (whose fixed-width
    * bins make no sense for labels).
    *
    * Output: one row per category in either snapshot —
    * (value, ref_n, cur_n, ref_share, cur_share, status ∈
    * {added, removed, shared}, tvd_term = |p − q| / 2). Σ tvd_term is
    * the TVD. Nulls count as a category (rendered as a real null
    * row — a null-rate shift IS distribution drift).
    *
    * Plan: one count aggregate per side keyed by the category value,
    * a full-outer join of the two ≤cardinality-sized results, and
    * window-sums over those rows for the totals — each corpus scanned
    * exactly once, nothing corpus-sized past the aggregates. */
  def categoryDrift(
      ref: DataFrame, cur: DataFrame, valueCol: String): DataFrame = {
    def counts(df: DataFrame, n: String): DataFrame =
      df.groupBy(col(valueCol).cast("string").as("value"))
        .agg(count(lit(1)).as(n))
    // Null-SAFE join key: a plain equi-join never matches null keys, so
    // a null category present in BOTH snapshots would emit two rows
    // (one 'added', one 'removed') and double-count its TVD term as
    // |p|/2 + |q|/2 instead of |p−q|/2 — exactly the null-rate-shift
    // case the scaladoc promises to measure as ONE real null row.
    val joined = counts(ref, "ref_n").alias("r")
      .join(counts(cur, "cur_n").alias("c"),
        col("r.value") <=> col("c.value"), "full_outer")
      .select(coalesce(col("r.value"), col("c.value")).as("value"),
        col("ref_n"), col("cur_n"))
    // Totals as a 1-row aggregate broadcast back (not an unpartitioned
    // window — see binnedDrift). The two consumers of `joined` share
    // the per-side count exchanges via ReuseExchange, so each snapshot
    // is still scanned exactly once.
    val totals = joined.agg(
      sum(coalesce(col("ref_n"), lit(0L))).as("__ref_total"),
      sum(coalesce(col("cur_n"), lit(0L))).as("__cur_total"))
    val refShare = coalesce(col("ref_n"), lit(0L)).cast("double") /
      col("__ref_total")
    val curShare = coalesce(col("cur_n"), lit(0L)).cast("double") /
      col("__cur_total")
    joined.crossJoin(broadcast(totals)).select(col("value"),
      coalesce(col("ref_n"), lit(0L)).as("ref_n"),
      coalesce(col("cur_n"), lit(0L)).as("cur_n"),
      refShare.as("ref_share"), curShare.as("cur_share"),
      when(col("ref_n").isNull, "added")
        .when(col("cur_n").isNull, "removed")
        .otherwise("shared").as("status"),
      (abs(refShare - curShare) / 2.0).as("tvd_term"))
  }

  /** The reference side of [[binnedDrift]] collected to driver
    * scalars — (lo, width, per-bin shares) — for consumers that score
    * MANY current snapshots (or stream windows) against one fixed
    * reference: [[graft.streaming.StreamProfiler.windowedPsiDrift]]
    * bakes these into its aggregation as literals. numBins + 2
    * scalars cross the driver; same bounded-collect contract as the
    * k-means centroids. */
  def referenceHistogram(
      ref: DataFrame, valueCol: String,
      numBins: Int = 10): (Double, Double, Seq[Double]) = {
    require(numBins >= 2, s"need at least 2 bins, got $numBins")
    val nonNull = ref.filter(col(valueCol).isNotNull)
    val Array(lo, hi) = nonNull
      .agg(min(col(valueCol)).cast("double"), max(col(valueCol)).cast("double"))
      .head().toSeq.map(v => Option(v).map(_.asInstanceOf[Double]).getOrElse(0.0))
      .toArray
    val width = (hi - lo) / numBins
    val binCol =
      if (width == 0.0) lit(0)
      else least(lit(numBins - 1),
        greatest(lit(0), floor((col(valueCol).cast("double") - lit(lo)) / lit(width)).cast("int")))
    val counts = nonNull.groupBy(binCol.as("bin"))
      .agg(count(lit(1)).cast("double").as("c"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val n = counts.values.sum
    val shares = (0 until numBins).map(i =>
      if (n == 0) 0.0 else counts.getOrElse(i, 0.0) / n)
    (lo, width, shares)
  }

  /** EXACT two-sample Kolmogorov–Smirnov statistic between two
    * snapshots of a numeric column — `max over observed v of
    * |F_ref(v) − F_cur(v)|` with the empirical step CDFs — plus where
    * the gap peaks. [[binnedDrift]]'s `cum_gap` bounds this from below
    * on a 10-bin histogram; this is the bin-free answer a drift
    * investigation wants when the binned gap is borderline. Output:
    * ONE row (ks_stat, at_value = the smallest v attaining the max,
    * n_ref, n_cur).
    *
    * Plan shape — the funnel-free exact order statistic, same
    * discipline as [[graft.profiler.DistributedPercentiles]]: both
    * sides partially aggregate to (value, ref_n, cur_n) — distinct
    * values, not rows — then ONE range-partitioned sort by value;
    * pass 1 collects per-partition (ref, cur) count totals (two longs
    * per partition to the driver), pass 2 walks each partition's run
    * with its broadcast prefix offsets and emits one (max gap, argmin
    * value) candidate per partition; the driver reduces ≤ partitions
    * rows. Nothing corpus-sized is ever windowed, sorted into one
    * task, or collected. Evaluates eagerly (two tiny jobs) and
    * returns a literal 1-row frame — the [[referenceHistogram]]
    * bounded-collect contract. */
  def ksStatistic(
      ref: DataFrame, cur: DataFrame, valueCol: String,
      curValueCol: Option[String] = None): DataFrame = {
    val spark = ref.sparkSession
    import spark.implicits._
    val curCol = curValueCol.getOrElse(valueCol)
    def side(df: DataFrame, c: String, a: Int) = df
      .filter(col(c).isNotNull)
      .select(col(c).cast("double").as("v"), lit(a).as("side"))
    // Eager row-block checkpoint, not a columnar persist(): both
    // rank passes read through .rdd and need a pinned partition
    // layout; InMemoryRelation decode on reuse reads measured several
    // times slower (see OPTIMIZATION_r21.md).
    val counts = graft.util.Materialize.rowBlocks(
      side(ref, valueCol, 0).unionByName(side(cur, curCol, 1))
        .groupBy("v")
        .agg(sum(when(col("side") === 0, 1L).otherwise(0L)).as("rn"),
          sum(when(col("side") === 1, 1L).otherwise(0L)).as("cn"))
        .orderBy("v")
        .as[(Double, Long, Long)])
    locally {
      val perPart: Array[(Int, Long, Long)] = counts.rdd
        .mapPartitionsWithIndex { case (i, it) =>
          var r = 0L; var c = 0L
          it.foreach { case (_, rn, cn) => r += rn; c += cn }
          Iterator.single((i, r, c))
        }.collect()
      val nRef = perPart.map(_._2).sum
      val nCur = perPart.map(_._3).sum
      if (nRef == 0 || nCur == 0) {
        Seq((Option.empty[Double], Option.empty[Double], nRef, nCur))
          .toDF("ks_stat", "at_value", "n_ref", "n_cur")
      } else {
        val offsets = perPart.sortBy(_._1).scanLeft((0, 0L, 0L)) {
          case ((_, ar, ac), (i, r, c)) => (i + 1, ar + r, ac + c)
        }.map { case (i, ar, ac) => i -> ((ar, ac)) }.toMap
        val offB = spark.sparkContext.broadcast(offsets)
        val nRefD = nRef.toDouble
        val nCurD = nCur.toDouble
        val candidates = counts.rdd
          .mapPartitionsWithIndex { case (i, it) =>
            var (cumR, cumC) = offB.value(i)
            var best = -1.0
            var bestV = Double.NaN
            it.foreach { case (v, rn, cn) =>
              cumR += rn; cumC += cn
              val gap = math.abs(cumR / nRefD - cumC / nCurD)
              if (gap > best) { best = gap; bestV = v }
            }
            if (best >= 0) Iterator.single((best, bestV)) else Iterator.empty
          }.collect()
        // max gap; ties across partitions break to the SMALLEST value
        // (within a partition the walk already keeps the first/smallest)
        val (ks, atV) = candidates.sortBy { case (g, v) => (-g, v) }.head
        Seq((Option(ks), Option(atV), nRef, nCur))
          .toDF("ks_stat", "at_value", "n_ref", "n_cur")
      }
    }
  }
}
