package graft.profiler

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact interpolated percentiles without a single-task merge.
  *
  * Spark's built-in exact `percentile` is a TypedImperativeAggregate
  * whose final merge materializes a value→count map of EVERY distinct
  * value on one task — the scale ceiling for near-unique columns
  * (~60M entries for one column of a 100×-scaled lineitem). This
  * computes the same interpolated percentiles (rank (n-1)·p, linear
  * interpolation — identical to SQL `percentile_cont`) from a fully
  * distributed plan:
  *
  *   1. hash-aggregate (value, count) — distributed, map-side combine;
  *   2. range-partitioned sort by value — distributed;
  *   3. per-partition count totals (collect: one long per partition);
  *   4. targeted scan emitting only the ≤ 2·|percentiles| values whose
  *      global rank range covers a requested rank.
  *
  * Driver state: one long per partition plus one double per requested
  * rank — independent of distinct-value count. The only `mapPartitions`
  * use in the engine, and exactly the sanctioned case: genuinely
  * per-partition imperative logic (global rank assignment over a
  * range-partitioned sort).
  */
object DistributedPercentiles {

  /** Exact percentiles of `column` (nulls ignored, cast to double) at
    * the given fractions. Returns None per fraction when the column
    * has no non-null values. */
  def of(df: DataFrame, column: String, ps: Seq[Double]): Seq[Option[Double]] = {
    require(ps.forall(p => p >= 0.0 && p <= 1.0), s"fractions out of [0,1]: $ps")
    val spark = df.sparkSession
    import spark.implicits._

    // Backtick-quote like every ProfilePasses pass: a legal parquet
    // column name may contain dots.
    // Eager row-block checkpoint, not a columnar persist(): both rank
    // passes below read this frame through .rdd, and the
    // InMemoryRelation decode on those reads measured several times
    // slower than checkpoint blocks (see OPTIMIZATION_r21.md); the
    // checkpoint also pins the partition layout the two
    // mapPartitionsWithIndex passes must agree on. Blocks are freed by
    // the context cleaner once unreferenced.
    val counts = graft.util.Materialize.rowBlocks(df
      .filter(col(s"`$column`").isNotNull)
      .select(col(s"`$column`").cast("double").as("v"))
      .groupBy("v").agg(count(lit(1)).as("c"))
      .orderBy("v")
      .as[(Double, Long)])
    locally {
      // Pass 1: per-partition totals (tiny: one row per partition).
      val perPart = counts.rdd
        .mapPartitionsWithIndex { case (i, it) =>
          var s = 0L; it.foreach(s += _._2); Iterator((i, s))
        }
        .collect().sortBy(_._1).map(_._2)
      val n = perPart.sum
      if (n == 0) return ps.map(_ => None)

      val offsets = perPart.scanLeft(0L)(_ + _) // global rank offset per partition
      // Fractional target ranks and the integer ranks needed for
      // interpolation.
      val targets = ps.map(p => (n - 1) * p)
      val needed = targets.flatMap(t => Seq(math.floor(t).toLong, math.ceil(t).toLong)).toSet
      val neededB = spark.sparkContext.broadcast(needed)

      // Pass 2: each partition walks its (value, count) runs with its
      // global offset and emits only values covering a needed rank.
      val rankValues: Map[Long, Double] = counts.rdd
        .mapPartitionsWithIndex { case (i, it) =>
          var cum = offsets(i)
          val want = neededB.value
          it.flatMap { case (v, c) =>
            val lo = cum
            cum += c
            want.iterator.filter(r => r >= lo && r < lo + c).map(r => (r, v))
          }
        }
        .collect().toMap

      targets.map { t =>
        val f = math.floor(t).toLong
        val c = math.ceil(t).toLong
        val vf = rankValues(f)
        if (c == f) Some(vf)
        else Some(vf + (t - f) * (rankValues(c) - vf))
      }
    }
  }

  /** Above this column count, [[quartiles]] switches from overlapped
    * per-column pipelines to the single melted pipeline ([[ofAll]]).
    * Measured at sf0.1: for ~8 columns the per-column pipelines win
    * (column-pruned scans, jobs overlapped from a thread pool); the
    * melt wins on driver orchestration once 2·N separate jobs would
    * dominate — a 100-column table runs 2 jobs either way with it. */
  val BatchThreshold = 12

  /** Quartiles for several columns: overlapped per-column [[of]]
    * pipelines up to [[BatchThreshold]] columns, one melted [[ofAll]]
    * pipeline beyond it. */
  def quartiles(df: DataFrame, columns: Seq[String]): Map[String, Seq[Option[Double]]] =
    if (columns.sizeIs > BatchThreshold) ofAll(df, columns, Seq(0.25, 0.5, 0.75))
    else graft.util.Scope.map(df.sparkSession, "percentiles", 4, columns)(identity) { c =>
      c -> of(df, c, Seq(0.25, 0.5, 0.75))
    }.toMap

  /** Exact percentiles at `ps` for every column in `columns` — the
    * batched multi-column generalization of [[of]]: the columns melt
    * into (column-index, value) pairs, one hash aggregate counts each
    * distinct pair, one range-partitioned sort orders by (index,
    * value) — every column's runs are contiguous — and the same two
    * tiny passes as [[of]] (per-(partition, column) totals, then a
    * targeted rank scan) finish the job. 2 jobs total for ANY number
    * of columns; driver state stays at one long per (partition,
    * column) plus the requested rank values. */
  def ofAll(df: DataFrame, columns: Seq[String],
      ps: Seq[Double]): Map[String, Seq[Option[Double]]] = {
    require(ps.forall(p => p >= 0.0 && p <= 1.0), s"fractions out of [0,1]: $ps")
    if (columns.isEmpty) return Map.empty
    if (columns.sizeIs == 1) return Map(columns.head -> of(df, columns.head, ps))
    val spark = df.sparkSession
    import spark.implicits._

    // The melt key is the column's INDEX, not its name: a 4-byte key
    // in 4.8M+ shuffled pair rows, not a repeated string.
    val pairs = df.select(explode(array(columns.zipWithIndex.map { case (n, i) =>
      struct(lit(i).as("k"), col(s"`$n`").cast("double").as("v"))
    }: _*)).as("p")).select(col("p.k").as("k"), col("p.v").as("v"))
      .filter(col("v").isNotNull)
    // Row-block checkpoint for the same reasons as [[of]].
    val counts = graft.util.Materialize.rowBlocks(pairs
      .groupBy("k", "v").agg(count(lit(1)).as("c"))
      .orderBy("k", "v")
      .as[(Int, Double, Long)])
    locally {
      // Pass 1: per-(partition, column) totals — tiny.
      val perPart: Array[(Int, Int, Long)] = counts.rdd
        .mapPartitionsWithIndex { case (i, it) =>
          val sums = scala.collection.mutable.LinkedHashMap.empty[Int, Long]
          it.foreach { case (k, _, c) => sums.update(k, sums.getOrElse(k, 0L) + c) }
          sums.iterator.map { case (k, s) => (i, k, s) }.toList.iterator
        }
        .collect()
      val totals: Map[Int, Long] =
        perPart.groupBy(_._2).map { case (k, rows) => k -> rows.map(_._3).sum }
      // Global rank offset of each column's run within each partition:
      // sum of that column's counts in all earlier partitions.
      val offsets: Map[(Int, Int), Long] = perPart.map { case (i, k, _) =>
        (i, k) -> perPart.collect { case (j, `k`, s) if j < i => s }.sum
      }.toMap
      // Integer ranks needed per column for interpolation.
      val targets: Map[Int, Seq[Double]] =
        totals.map { case (k, n) => k -> ps.map(p => (n - 1) * p) }
      val needed: Map[Int, Set[Long]] = targets.map { case (k, ts) =>
        k -> ts.flatMap(t => Seq(math.floor(t).toLong, math.ceil(t).toLong)).toSet
      }
      val neededB = spark.sparkContext.broadcast(needed)
      val offsetsB = spark.sparkContext.broadcast(offsets)

      // Pass 2: walk each partition's (column, value, count) runs with
      // the column's global offset; emit only values covering a needed
      // rank.
      val rankValues: Map[(Int, Long), Double] = counts.rdd
        .mapPartitionsWithIndex { case (i, it) =>
          val want = neededB.value
          val offs = offsetsB.value
          var cur = -1
          var cum = 0L
          it.flatMap { case (k, v, c) =>
            if (k != cur) { cur = k; cum = offs.getOrElse((i, k), 0L) }
            val lo = cum
            cum += c
            want.getOrElse(k, Set.empty).iterator
              .filter(r => r >= lo && r < lo + c).map(r => ((k, r), v))
          }
        }
        .collect().toMap

      columns.zipWithIndex.map { case (name, k) =>
        name -> (totals.get(k) match {
          case None | Some(0L) => ps.map(_ => None)
          case Some(_) => targets(k).map { t =>
            val f = math.floor(t).toLong
            val c = math.ceil(t).toLong
            val vf = rankValues((k, f))
            if (c == f) Some(vf)
            else Some(vf + (t - f) * (rankValues((k, c)) - vf))
          }
        })
      }.toMap
    }
  }
}
