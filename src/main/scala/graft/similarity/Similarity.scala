package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Partitioning.spread
import graft.util.Scope

/** Vector similarity search over embedding columns
  * (`array<float>`/`array<double>`): brute-force cosine top-k as the
  * exact baseline and a random-hyperplane LSH-bucketed variant as the
  * scale path. North-star scope beyond the reference surface (the
  * reference has no vector operations).
  *
  * Scale design:
  *   - all vector math is codegen-friendly column expressions
  *     (`zip_with` + `aggregate`), computed in double precision so the
  *     result is engine-reproducible — no UDFs, no driver math;
  *   - top-k never uses a per-query window (which would funnel every
  *     candidate of a query through one task): a two-phase aggregate
  *     keeps at most k candidates per (query, slot) partial group,
  *     then merges the slot winners — both phases are ordinary hash
  *     aggregates that parallelize over all partitions;
  *   - the LSH variant joins data and queries on a sign-bucket key, so
  *     per-query work drops from O(N) to O(bucket); recall is tunable
  *     via plane count and multiprobe radius.
  */
object Similarity {

  /** Dot product of two vector columns, accumulated in double. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Euclidean norm of a vector column, accumulated in double. */
  def l2Norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))

  /** Cosine similarity of two vector columns. Backed by the native
    * [[graft.functions.CosineSim]] — one fused codegen'd loop instead
    * of three interpreted higher-order-function traversals per pair
    * (value-identical, including the length-mismatch → null and
    * zero-divisor → null semantics of the HOF form). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.cosineSim(a, b)

  /** Deterministic pseudo-random Gaussian hyperplanes (fixed seed) for
    * sign-bucket LSH. */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-bucket id of a vector: bit i is set iff vec · plane(i) > 0.
    * Vectors within a narrow cone share all sign bits with high
    * probability (P(planes split a pair at angle θ) = θ/π per plane).
    * Backed by the native [[graft.functions.SignBucketExpr]]: the
    * plane matrix rides as a reference object and codegen emits a
    * loop, keeping the task binary small and the compile instant. */
  def signBucket(vec: Column, planes: Seq[Seq[Double]]): Column =
    graft.functions.VectorFunctions.signBucket(vec, planes)

  /** Two-phase distributed top-k over scored candidate rows
    * (query_id, neighbor_id, sim): phase 1 keeps the best k per
    * (query, hash-slot) group, phase 2 merges the ≤ k·slots survivors
    * per query. Neither phase materializes a query's full candidate
    * set in one task. Ordering: sim desc, neighbor_id asc. */
  private def topK(candidates: DataFrame, k: Int, slots: Int = 64): DataFrame = {
    val item = struct((-col("sim")).as("neg"), col("neighbor_id").as("nid"))
    val partial = candidates
      .groupBy(col("query_id"), pmod(xxhash64(col("neighbor_id")), lit(slots)).as("slot"))
      .agg(slice(array_sort(collect_list(item)), 1, k).as("tops"))
    partial.groupBy("query_id")
      .agg(slice(array_sort(flatten(collect_list(col("tops")))), 1, k).as("tops"))
      .select(col("query_id"), posexplode(col("tops")).as(Seq("pos", "t")))
      .select(
        col("query_id"),
        (col("pos") + 1).cast("long").as("rank"),
        col("t.nid").as("neighbor_id"),
        (-col("t.neg")).as("sim"))
  }

  /** Exact brute-force cosine top-k: every query (broadcast) is scored
    * against every row in one pass over the data — the O(N·Q) baseline
    * and the recall oracle for the LSH variant.
    * Output: (query_id, rank, neighbor_id, sim). */
  def bruteForceTopK(
      df: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      k: Int = 10, excludeSelf: Boolean = true): DataFrame = {
    val q = queries.select(col(queryIdCol).as("query_id"), col(queryVecCol).as("qv"))
    val cand = spread(df).select(col(idCol).as("neighbor_id"), col(vecCol).as("v"))
      .crossJoin(broadcast(q))
      .filter(if (excludeSelf) col("neighbor_id") =!= col("query_id") else lit(true))
      .withColumn("sim", cosine(col("qv"), col("v")))
      .select("query_id", "neighbor_id", "sim")
    topK(cand, k)
  }

  /** Approximate top-k via random-hyperplane LSH: data and queries are
    * bucketed by sign bits; each query scores only rows sharing one of
    * its probe buckets (its own bucket plus, with `multiprobe` ≥ 1,
    * every bucket at Hamming distance 1). The bucket equi-join
    * replaces the brute-force cross join — per-query cost drops to
    * O(N / 2^nPlanes · probes). Same output shape as
    * [[bruteForceTopK]]; ranks are exact within the probed set. */
  def annTopK(
      df: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      dim: Int, k: Int = 10, nPlanes: Int = 8, multiprobe: Int = 1,
      seed: Long = 42L, excludeSelf: Boolean = true): DataFrame = {
    val planes = hyperplanes(nPlanes, dim, seed)
    val data = spread(df).select(
      col(idCol).as("neighbor_id"), col(vecCol).as("v"),
      signBucket(col(vecCol), planes).as("bucket"))
    val baseQ = queries.select(
      col(queryIdCol).as("query_id"), col(queryVecCol).as("qv"),
      signBucket(col(queryVecCol), planes).as("qb"))
    val probeBuckets =
      if (multiprobe < 1) array(col("qb"))
      else array(col("qb") +: (0 until nPlanes).map(i => col("qb").bitwiseXOR(lit(1 << i))): _*)
    val probes = baseQ.select(col("query_id"), col("qv"),
      explode(probeBuckets).as("bucket"))
    val cand = data.join(probes, "bucket")
      .filter(if (excludeSelf) col("neighbor_id") =!= col("query_id") else lit(true))
      .withColumn("sim", cosine(col("qv"), col("v")))
      .select("query_id", "neighbor_id", "sim")
    topK(cand, k)
  }

  private def normalized(v: Seq[Double]): Seq[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n == 0) v else v.map(_ / n)
  }

  /** Lloyd's k-means over an embedding column, built from DataFrame
    * ops only: assignment is a codegen'd argmax against unrolled
    * centroid literals (map-side), the update is posexplode +
    * (cell, dim) hash aggregate; only k×dim doubles ever reach the
    * driver per iteration. Deterministic: initial centroids are the k
    * vectors with the smallest xxhash64.
    *
    * Cost shape: the assignment is the native [[graft.functions
    * .NearestCells]] expression — the centroid matrix is a reference
    * object, NOT an unrolled literal tree, so the generated source is
    * identical across iterations (codegen cache hit, no per-iteration
    * janino recompile) and the task binary stays small. (The earlier
    * unrolled-literal argmax cost seconds of compile per iteration and
    * shipped multi-megabyte task binaries.)
    *
    * `trainFilter` scopes EVERY Lloyd pass (init pick, assignment
    * scan, mean update) to the rows it keeps — the codebook-sampling
    * knob: centroid quality converges with O(k·dim) samples, so at
    * cluster scale training on a deterministic hash sample (see the
    * `trainFraction` parameter of [[pqTopK]]/[[ivfPqTopK]]/[[ivfTopK]])
    * replaces dozens of full-corpus passes with passes over a bounded
    * slice, at negligible recall cost (SimilaritySpec pins it). */
  def kmeansCentroids(
      df: DataFrame, vecCol: String, k: Int,
      iterations: Int = 3,
      initOrder: Option[Seq[Column]] = None,
      trainFilter: Option[Column] = None): Seq[Seq[Double]] =
    lloyd(trainFilter.map(df.filter).getOrElse(df), vecCol, k, iterations,
      initOrder)(nearestCell)

  /** Lloyd's k-means with EUCLIDEAN assignment — the PQ codebook
    * trainer ([[pqTopK]]): same deterministic contract as
    * [[kmeansCentroids]] (init = first k under `initOrder` or the
    * value-hash order, empty-cell fallback keeps the previous
    * centroid), but cells are argmin ‖x−c‖², not argmax cosine —
    * reconstruction ⟨q, c_code⟩ needs the centroid that MINIMIZES
    * quantization error in the vector space, where the spherical
    * assignment conflates collinear sub-centers of different
    * magnitude. */
  def kmeansCentroidsL2(
      df: DataFrame, vecCol: String, k: Int,
      iterations: Int = 3,
      initOrder: Option[Seq[Column]] = None,
      trainFilter: Option[Column] = None): Seq[Seq[Double]] =
    lloyd(trainFilter.map(df.filter).getOrElse(df), vecCol, k, iterations,
      initOrder)(
      (vec, cents) => element_at(nearestCellsL2(vec, cents, 1), 1))

  /** The deterministic codebook-training sample: keep rows whose
    * seeded uniform hash of `idCol` (THE [[graft.sampling.Sampling]]
    * definition — md5 mode replays in an external engine) falls under
    * `fraction`; `fraction >= 1` is a no-op. Centroids are statistics,
    * not per-row outputs, so training on the sample while ENCODING the
    * full corpus preserves the operator contract — this is what turns
    * Lloyd's per-iteration cost from O(corpus) into O(sample) at
    * 100 TB. */
  private def trainSample(
      df: DataFrame, idCol: String, fraction: Double,
      seed: Long, hashMode: String): DataFrame = {
    require(fraction > 0.0 && fraction <= 1.0,
      s"trainFraction out of (0,1]: $fraction")
    if (fraction >= 1.0) df
    else df.filter(
      graft.sampling.Sampling.uniformHash(col(idCol), seed, hashMode) < fraction)
  }

  /** The Lloyd training input, materialized ONLY when materialization
    * pays: `reads` is how many passes the caller's training will make
    * over the frame (init collect + one update aggregate per
    * iteration, per independent chain). Two passes over an
    * un-materialized scan are cheaper than writing every row to block
    * storage first — the r22 A/B on the full-corpus single-iteration
    * gates (ll5/ll20/ll20b) measured the unconditional checkpoint of
    * the WHOLE spread corpus as a net loss — while a strict sample
    * (trainFraction < 1) always materializes: it is small, and cutting
    * it pins the sample so no pass rescans the corpus. Materialization
    * goes through [[graft.util.Materialize.rowBlocks]]. */
  private def trainCache(
      df: DataFrame, idCol: String, fraction: Double,
      seed: Long, hashMode: String, reads: Int): DataFrame = {
    val sample = trainSample(df, idCol, fraction, seed, hashMode)
    if (fraction < 1.0 || reads >= 3) graft.util.Materialize.rowBlocks(spread(sample))
    else spread(sample)
  }

  /** The shared Lloyd loop: assignment expression from `assign`,
    * update = posexplode + (cell, dim) hash aggregate; only k×dim
    * doubles ever reach the driver per iteration. */
  private def lloyd(
      df: DataFrame, vecCol: String, k: Int,
      iterations: Int, initOrder: Option[Seq[Column]])(
      assign: (Column, Seq[Seq[Double]]) => Column): Seq[Seq[Double]] = {
    // Default init: the k vectors with the smallest value hash — a
    // cheap deterministic spread. `initOrder` overrides the ordering
    // (e.g. by an id column) when the caller needs an init an external
    // system can reproduce without Spark's xxhash64 — the gate oracle
    // replays k-means in SQL from `ORDER BY vec_id`.
    val ordered = initOrder match {
      case Some(cols) => df.orderBy(cols: _*).select(col(vecCol).as("v"))
      case None => df.select(col(vecCol).as("v"))
        .orderBy(xxhash64(col("v")), col("v").cast("string"))
    }
    var centroids: Seq[Seq[Double]] = ordered
      .limit(k).collect()
      .map(_.getSeq[Any](0).map(x => x.toString.toDouble).toSeq).toSeq
    // Fewer vectors than k (or an empty corpus) yields fewer (or zero)
    // centroids; iterating over an empty centroid set is meaningless.
    if (centroids.isEmpty) return centroids
    for (_ <- 0 until iterations) {
      val cell = assign(col(vecCol), centroids)
      val updated = df.select(cell.as("cell"), posexplode(col(vecCol)).as(Seq("pos", "x")))
        .groupBy("cell", "pos").agg(avg(col("x").cast("double")).as("m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (c, rows) =>
          c -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
        }
      centroids = centroids.indices.map(i => updated.getOrElse(i, centroids(i)))
    }
    centroids
  }

  /** Indices of the `n` nearest centroids by EUCLIDEAN distance,
    * realized on the native dot-argmax expression via the standard
    * augmentation: argmin ‖x−c‖² = argmax (⟨x,c⟩ − ‖c‖²/2), so the
    * vector gains a constant 1.0 element and each centroid row the
    * bias −‖c‖²/2. Ties to the lowest index, like
    * [[graft.functions.VectorFunctions.nearestCells]]. */
  private def nearestCellsL2(vec: Column, centroids: Seq[Seq[Double]], n: Int): Column = {
    val d = centroids.head.length
    // The dot expression zero-pads short vectors, which would land the
    // appended 1.0 bias element on a centroid COEFFICIENT instead of
    // the bias term — a silently wrong assignment. Fail loudly instead
    // (null vectors pass through as null, same as the dot itself).
    val guarded = when(
      assert_true(vec.isNull || size(vec) === d,
        lit(s"nearestCellsL2: vector must have exactly $d elements")).isNull,
      vec)
    val aug = centroids.map(c => c :+ (-0.5 * c.map(x => x * x).sum))
    graft.functions.VectorFunctions.nearestCells(
      concat(transform(guarded, _.cast("double")), array(lit(1.0))), aug, n)
  }

  /** Index of the centroid with the highest cosine similarity
    * (centroids pre-normalized, so argmax dot suffices). Ties break to
    * the lowest cell id deterministically. */
  private def nearestCell(vec: Column, centroids: Seq[Seq[Double]]): Column =
    element_at(
      graft.functions.VectorFunctions.nearestCells(vec, centroids.map(normalized), 1), 1)

  /** IVF (inverted-file) approximate top-k — the k-means counterpart
    * of [[annTopK]]: vectors are assigned to their nearest coarse
    * centroid once; each query probes its `nProbe` nearest cells and
    * scores only those rows. Per-query cost drops from O(N) to
    * O(nProbe · N / nCells). Same output shape as [[bruteForceTopK]]. */
  def ivfTopK(
      df: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      k: Int = 10, nCells: Int = 16, nProbe: Int = 2,
      kmeansIterations: Int = 3, excludeSelf: Boolean = true,
      centroidInitOrder: Option[Seq[Column]] = None,
      trainFraction: Double = 1.0, trainSeed: Long = 42L,
      trainHashMode: String = "xxhash64"): DataFrame = {
    // kmeans iterates over the vectors twice per round — materialize
    // them once as an eager row-block checkpoint for its duration (the
    // centroids are driver-side literals, so nothing below re-runs
    // kmeans; blocks free via the context cleaner once unreferenced).
    // Row blocks, not a columnar persist(): the Lloyd passes re-read
    // this frame repeatedly and the InMemoryRelation decode on reuse
    // reads measured several times slower than checkpoint blocks (see
    // OPTIMIZATION_r21.md). Only the training sample materializes — at
    // trainFraction < 1 every Lloyd pass holds the sample, never the
    // corpus.
    val cached = trainCache(df, idCol, trainFraction, trainSeed,
      trainHashMode, reads = 1 + kmeansIterations)
    val centroids =
      kmeansCentroids(cached, vecCol, nCells, kmeansIterations, centroidInitOrder)
    // Degenerate corpora: fewer vectors than nCells yields fewer
    // centroids (clamp the probe count); an empty corpus yields none —
    // return the empty result with the right schema instead of
    // building an unsatisfiable NearestCells(n > rows).
    if (centroids.isEmpty)
      return queries.select(col(queryIdCol).as("query_id")).limit(0)
        .crossJoin(df.select(col(idCol).as("neighbor_id")).limit(0))
        .select(col("query_id"), lit(0L).as("rank"), col("neighbor_id"), lit(0.0).as("sim"))
    val probeN = math.min(nProbe, centroids.length)
    val data = spread(df).select(
      col(idCol).as("neighbor_id"), col(vecCol).as("v"),
      nearestCell(col(vecCol), centroids).as("cell"))
    // Each query expands to its nProbe closest cells.
    val probes = queries.select(
        col(queryIdCol).as("query_id"), col(queryVecCol).as("qv"),
        explode(graft.functions.VectorFunctions.nearestCells(
          col(queryVecCol), centroids.map(normalized), probeN)).as("cell"))
    val cand = data.join(probes, "cell")
      .filter(if (excludeSelf) col("neighbor_id") =!= col("query_id") else lit(true))
      .withColumn("sim", cosine(col("qv"), col("v")))
      .select("query_id", "neighbor_id", "sim")
    topK(cand, k)
  }

  /** Product-quantization approximate top-k (inner-product ADC) — the
    * memory-compression counterpart of [[ivfTopK]]: where IVF prunes
    * which vectors a query scores, PQ shrinks what each vector costs
    * to score. The corpus vector is split into `numSubspaces`
    * contiguous subvectors; each subspace trains its own
    * `codebookSize`-centroid codebook ([[kmeansCentroidsL2]]:
    * deterministic Lloyd with EUCLIDEAN assignment, ties to the
    * lowest code — the quantizer that minimizes reconstruction
    * error); a vector is stored as its per-subspace code array — dim
    * doubles collapse to numSubspaces small ints (64×8 B → 4×1 B
    * here: the whole 100 TB corpus's codes fit in cluster RAM).
    *
    * Query time is asymmetric distance computation: each query row
    * precomputes ONE lookup table per subspace — its subvector's dot
    * against every RAW (unnormalized) codebook centroid, the
    * reconstruction value — and a candidate's score is numSubspaces
    * array lookups + adds, never a dim-wide multiply:
    * score(q, x) = Σ_m table_m[code_m(x)] ≈ ⟨q, x⟩. Queries are
    * broadcast with their tables; the corpus side streams its codes
    * map-side (no shuffle of the corpus), and [[topK]] merges
    * per-partition partial top-ks. At scale, compose with [[ivfTopK]]
    * cells (scope the code scan to probed cells) — the standard
    * IVF-PQ layout; here the flat scan IS the point being exercised.
    *
    * Deterministic for replay: `centroidInitOrder` (e.g. by id) makes
    * every codebook — and so every code and score — reproducible by
    * an external engine, exactly like [[ivfTopK]]'s oracle replay;
    * empty-cell fallback keeps the init centroid (same contract as
    * [[kmeansCentroids]]). Output: (query_id, rank, neighbor_id, sim)
    * where sim is the ADC approximate inner product, ranks exact
    * within the approximation (sim desc, neighbor_id asc). */
  def pqTopK(
      df: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      dim: Int, k: Int = 10, numSubspaces: Int = 4, codebookSize: Int = 8,
      kmeansIterations: Int = 1, excludeSelf: Boolean = true,
      centroidInitOrder: Option[Seq[Column]] = None,
      trainFraction: Double = 1.0, trainSeed: Long = 42L,
      trainHashMode: String = "xxhash64"): DataFrame = {
    require(dim % numSubspaces == 0,
      s"dim $dim must divide into $numSubspaces subspaces")
    val subDim = dim / numSubspaces
    // Train all codebooks off one cached pass over the TRAINING SAMPLE
    // (M small driver-coordinated jobs — codebooks are k×subDim
    // scalars). At cluster scale set trainFraction so the sample is
    // ~1M rows: every Lloyd pass then costs O(sample) while the codes
    // scan — the part that must see the corpus — stays full-width.
    // Eager row-block checkpoint: materialized once before the
    // overlapped subspace chains race over it, and faster than a
    // columnar persist() on their repeated reads (see ivfTopK note).
    val cached = trainCache(df, idCol, trainFraction, trainSeed, trainHashMode,
      reads = numSubspaces * (1 + kmeansIterations))
    val codebooks: Seq[Seq[Seq[Double]]] =
      trainPqCodebooks(cached, idCol, vecCol, numSubspaces, subDim,
        codebookSize, kmeansIterations, centroidInitOrder)
    if (codebooks.exists(_.isEmpty))
      return emptyTopK(df, idCol, queries, queryIdCol)
    val data = spread(df).select(
      col(idCol).as("neighbor_id") +: pqCodeCols(vecCol, codebooks, subDim): _*)
    val qd = queries.select(col(queryIdCol).as("query_id") +:
      pqTableCols(queryVecCol, codebooks, subDim): _*)
    val cand = data.crossJoin(broadcast(qd))
      .filter(if (excludeSelf) col("neighbor_id") =!= col("query_id") else lit(true))
      .select(col("query_id"), col("neighbor_id"),
        pqScore(codebooks.length).as("sim"))
    topK(cand, k)
  }

  /** One L2 Lloyd codebook per contiguous subspace, off an
    * already-persisted corpus. The subspaces are independent
    * driver-coordinated job chains (init collect + one update
    * aggregate per iteration), so they overlap from a small pool —
    * wall tracks ONE chain, not numSubspaces of them. Callers
    * materialize the cache first so racing chains read populated
    * blocks instead of recomputing partitions. */
  private def trainPqCodebooks(
      cached: DataFrame, idCol: String, vecCol: String,
      numSubspaces: Int, subDim: Int, codebookSize: Int,
      iterations: Int, initOrder: Option[Seq[Column]]): Seq[Seq[Seq[Double]]] =
    Scope.map(cached.sparkSession, "pq_codebooks", 5, 0 until numSubspaces)(_.toString) { m =>
      val sub = cached.select(col(idCol),
        slice(col(vecCol), m * subDim + 1, subDim).as("pq_sub"))
      kmeansCentroidsL2(sub, "pq_sub", codebookSize, iterations, initOrder)
    }

  /** Encode: per subspace, the L2-nearest centroid — the same native
    * argmax expression the IVF assignment uses, under the L2
    * augmentation (reference matrix, not an unrolled literal tree;
    * codegen-cached). */
  private def pqCodeCols(
      vecCol: String, codebooks: Seq[Seq[Seq[Double]]], subDim: Int): Seq[Column] =
    codebooks.indices.map { m =>
      element_at(nearestCellsL2(
        slice(col(vecCol), m * subDim + 1, subDim),
        codebooks(m), 1), 1).as(s"pq_code$m")
    }

  /** ADC tables: one per subspace, the query subvector's dot against
    * every RAW centroid. Unrolled literals are fine HERE — the query
    * side is small and broadcast, never spread. */
  private def pqTableCols(
      queryVecCol: String, codebooks: Seq[Seq[Seq[Double]]], subDim: Int): Seq[Column] = {
    def dotLit(offset: Int, c: Seq[Double]): Column =
      c.zipWithIndex.map { case (w, i) =>
        element_at(col(queryVecCol), offset + i + 1).cast("double") * lit(w)
      }.reduce(_ + _)
    codebooks.indices.map { m =>
      array(codebooks(m).map(c => dotLit(m * subDim, c)): _*).as(s"pq_table$m")
    }
  }

  /** ADC score: one table lookup per subspace, summed. */
  private def pqScore(numSubspaces: Int): Column =
    (0 until numSubspaces)
      .map(m => element_at(col(s"pq_table$m"), (col(s"pq_code$m") + 1).cast("int")))
      .reduce(_ + _)

  /** The empty (query_id, rank, neighbor_id, sim) frame — degenerate-
    * corpus return shape shared by the ANN variants. */
  private def emptyTopK(
      df: DataFrame, idCol: String,
      queries: DataFrame, queryIdCol: String): DataFrame =
    queries.select(col(queryIdCol).as("query_id")).limit(0)
      .crossJoin(df.select(col(idCol).as("neighbor_id")).limit(0))
      .select(col("query_id"), lit(0L).as("rank"), col("neighbor_id"), lit(0.0).as("sim"))

  /** IVF-PQ approximate top-k — the composed 100 TB ANN layout:
    * [[ivfTopK]]'s coarse k-means cells decide WHICH vectors a query
    * scores (nProbe cells instead of the whole corpus), and
    * [[pqTopK]]'s codes decide what scoring one vector COSTS
    * (numSubspaces table lookups instead of a dim-wide multiply).
    * The corpus is stored once as (cell, code array) — the classic
    * inverted-file-with-codes layout; this flat variant quantizes the
    * vectors themselves, not the cell residuals, so the codebooks are
    * shared across cells and the whole pipeline stays replayable by
    * an external engine from the same deterministic Lloyd setups.
    * Probed queries are broadcast with their ADC tables; the corpus
    * side joins on its cell id map-side (broadcast hash join — no
    * corpus shuffle) and [[topK]] merges partial top-ks. Output:
    * (query_id, rank, neighbor_id, sim), sim = ADC approximate inner
    * product. */
  def ivfPqTopK(
      df: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      dim: Int, k: Int = 10, nCells: Int = 16, nProbe: Int = 2,
      numSubspaces: Int = 4, codebookSize: Int = 8,
      kmeansIterations: Int = 1, excludeSelf: Boolean = true,
      centroidInitOrder: Option[Seq[Column]] = None,
      trainFraction: Double = 1.0, trainSeed: Long = 42L,
      trainHashMode: String = "xxhash64"): DataFrame = {
    require(dim % numSubspaces == 0,
      s"dim $dim must divide into $numSubspaces subspaces")
    val subDim = dim / numSubspaces
    // Coarse cells + all codebooks train off the cached SAMPLE (see
    // pqTopK); cell assignment and encoding below still see every row.
    // Eager row-block checkpoint (see pqTopK note).
    val cached = trainCache(df, idCol, trainFraction, trainSeed, trainHashMode,
      reads = (numSubspaces + 1) * (1 + kmeansIterations))
    // The coarse-cell chain is independent of the codebook chains —
    // overlap it with them too.
    val (coarse, codebooks) = Scope(df.sparkSession, "ivf_pq", 2) { scope =>
      val coarseF = scope.fork("coarse_cells")(kmeansCentroids(cached, vecCol, nCells,
        kmeansIterations, centroidInitOrder))
      val booksF = scope.fork("codebooks")(trainPqCodebooks(cached, idCol, vecCol,
        numSubspaces, subDim, codebookSize, kmeansIterations, centroidInitOrder))
      (coarseF.join(), booksF.join())
    }
    if (coarse.isEmpty || codebooks.exists(_.isEmpty))
      return emptyTopK(df, idCol, queries, queryIdCol)
    val probeN = math.min(nProbe, coarse.length)
    val data = spread(df).select(
      col(idCol).as("neighbor_id") +:
        nearestCell(col(vecCol), coarse).as("cell") +:
        pqCodeCols(vecCol, codebooks, subDim): _*)
    val probes = queries.select(
      col(queryIdCol).as("query_id") +:
        explode(graft.functions.VectorFunctions.nearestCells(
          col(queryVecCol), coarse.map(normalized), probeN)).as("cell") +:
        pqTableCols(queryVecCol, codebooks, subDim): _*)
    val cand = data.join(broadcast(probes), "cell")
      .filter(if (excludeSelf) col("neighbor_id") =!= col("query_id") else lit(true))
      .select(col("query_id"), col("neighbor_id"),
        pqScore(codebooks.length).as("sim"))
    topK(cand, k)
  }

  /** Johnson–Lindenstrauss random projection of an embedding column
    * to `outDim` dimensions: out_j = ⟨v, r_j⟩ / √outDim with r_j the
    * deterministic Gaussian rows of [[hyperplanes]] (same fixed-seed
    * convention as the LSH planes, so an external engine replays the
    * matrix as literals). Pairwise dots and distances are preserved
    * within ε for outDim = O(log N / ε²) (the JL lemma), so
    * downstream ANN / embedding near-dup operators run on 4–8×
    * smaller vectors at a bounded recall cost — the cheap
    * dimensionality-reduction step ahead of [[annTopK]] /
    * [[nearDupByEmbedding]] when PQ's trained codebooks are more
    * machinery than the pipeline needs. Map-side only: one native
    * loop expression ([[graft.functions.MatrixDots]]), no shuffle, no
    * training pass. Adds `outCol` (array<double>); other columns pass
    * through. */
  def randomProjection(
      df: DataFrame, vecCol: String, dim: Int, outDim: Int,
      seed: Long = 42L, outCol: String = "projected"): DataFrame = {
    val scale = math.sqrt(outDim.toDouble)
    val rows = hyperplanes(outDim, dim, seed).map(_.map(_ / scale))
    df.withColumn(outCol,
      graft.functions.VectorFunctions.matrixDots(col(vecCol), rows))
  }

  /** (id, v, bucket) sign-bucket assignment of a corpus — the shared
    * input of [[nearDupByEmbedding]] and [[cappedBuckets]]. Compute it
    * once (persist and pass to both) when running the audit alongside
    * the join. */
  def signBuckets(
      df: DataFrame, idCol: String, vecCol: String, dim: Int,
      nPlanes: Int = 8, seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(nPlanes, dim, seed)
    spread(df).select(col(idCol).as("id"), col(vecCol).as("v"),
      signBucket(col(vecCol), planes).as("bucket"))
  }

  /** Embedding-space near-duplicate pairs: LSH candidates verified
    * with exact cosine ≥ threshold (id_a < id_b). Like
    * [[graft.dedup.Dedup.nearDupPairs]] but over vectors: LSH shapes
    * the candidate set, the emitted similarity is exact.
    *
    * `maxBucketOccupancy` bounds the self-join's worst case exactly as
    * in [[graft.dedup.Dedup.candidatePairs]]: a sign bucket holding n
    * vectors (n copies of one embedding, or a dense cone of templated
    * content) meets itself as ~n²/2 rows before the cosine filter
    * runs. Buckets hotter than the cap are pruned before pairing
    * (0 disables); run [[cappedBuckets]] alongside to see what was
    * dropped — rows there are clusters to collapse with exact dedup
    * first, or to keep at O(occupancy²) join cost by raising the cap.
    * Hot buckets are found with a partial-aggregated groupBy and
    * broadcast-anti-joined away
    * ([[graft.dedup.Dedup.pruneHotKeys]] — skew-proof where a
    * count-over-window would buffer the flooded bucket on one task),
    * so the bucketed corpus shuffles once for the self-join and both
    * join sides reuse that exchange — same plan reasoning as
    * [[graft.dedup.Dedup.candidatePairs]]. */
  def nearDupByEmbedding(
      df: DataFrame, idCol: String, vecCol: String, dim: Int,
      threshold: Double = 0.95, nPlanes: Int = 8, seed: Long = 42L,
      maxBucketOccupancy: Int = 1000): DataFrame =
    nearDupByEmbeddingFromBuckets(
      signBuckets(df, idCol, vecCol, dim, nPlanes, seed),
      threshold, maxBucketOccupancy)

  /** [[nearDupByEmbedding]] over an already-computed [[signBuckets]]
    * frame — the shared-scan path for running the join and the
    * [[cappedBuckets]] audit off ONE persisted bucket set. Takes only
    * (buckets, threshold, cap): the hyperplane parameters are baked
    * into the buckets, so this shape cannot be called with parameters
    * that contradict them. */
  def nearDupByEmbeddingFromBuckets(
      buckets: DataFrame, threshold: Double = 0.95,
      maxBucketOccupancy: Int = 1000): DataFrame = {
    requireColumns(buckets, "id", "v", "bucket")
    val b =
      if (maxBucketOccupancy <= 0) buckets
      else graft.dedup.Dedup.pruneHotKeys(buckets, Seq("bucket"), maxBucketOccupancy)
    b.as("a").join(b.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        cosine(col("a.v"), col("b.v")).as("cosine_sim"))
      .filter(col("cosine_sim") >= threshold)
  }

  /** See [[graft.dedup.Dedup]]'s requireColumns — same contract: a
    * FromBuckets caller hands the frame the paired precompute built. */
  private def requireColumns(df: DataFrame, cols: String*): Unit = {
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"signBuckets frame must carry columns ${cols.mkString("(", ", ", ")")} — " +
        s"missing ${missing.mkString(", ")}; pass the frame produced by signBuckets")
  }

  /** The audit for [[nearDupByEmbedding]]'s occupancy cap — "no silent
    * caps": every sign bucket holding more than `maxBucketOccupancy`
    * vectors, as (bucket, occupancy). Empty output means the cap bound
    * nothing; rows here are embedding clusters the bucket join cannot
    * pair. One groupBy over the bucketed corpus — the same cost shape
    * as the prune inside nearDupByEmbedding itself. Mirrors
    * [[graft.dedup.Dedup.cappedBuckets]]. */
  def cappedBuckets(
      df: DataFrame, idCol: String, vecCol: String, dim: Int,
      nPlanes: Int = 8, seed: Long = 42L,
      maxBucketOccupancy: Int = 1000): DataFrame =
    cappedBucketsFromBuckets(
      signBuckets(df, idCol, vecCol, dim, nPlanes, seed), maxBucketOccupancy)

  /** [[cappedBuckets]] over an already-computed [[signBuckets]] frame —
    * the audit half of the shared-scan contract (see
    * [[nearDupByEmbeddingFromBuckets]]). */
  def cappedBucketsFromBuckets(
      buckets: DataFrame, maxBucketOccupancy: Int = 1000): DataFrame = {
    requireColumns(buckets, "bucket")
    buckets
      .groupBy("bucket")
      .agg(count(lit(1)).as("occupancy"))
      .filter(col("occupancy") > maxBucketOccupancy)
  }

  /** Bipartite embedding-space near-duplicates — the incremental-
    * ingest shape ([[graft.dedup.Dedup.nearDupPairsAgainst]] over
    * vectors): every incoming vector whose exact cosine against some
    * vector of an EXISTING curated corpus clears the threshold, as
    * (incoming_id, existing_id, cosine_sim). Candidates come from
    * sign-bucket equality only (no incoming×existing product);
    * `maxBucketOccupancy` prunes buckets whose COMBINED population
    * across both sides exceeds the cap — n copies of one template
    * already in the corpus meet each matching incoming vector as
    * O(n·m) rows, so the cap counts the union, and
    * [[cappedBucketsAgainst]] reports the per-side split of what was
    * dropped. Each vector holds ONE sign bucket, so a pair can
    * surface through at most one bucket — no dedup pass needed. */
  def nearDupByEmbeddingAgainst(
      incoming: DataFrame, incomingIdCol: String, incomingVecCol: String,
      existing: DataFrame, existingIdCol: String, existingVecCol: String,
      dim: Int, threshold: Double = 0.95, nPlanes: Int = 8, seed: Long = 42L,
      maxBucketOccupancy: Int = 1000): DataFrame =
    nearDupByEmbeddingAgainstFromBuckets(
      signBuckets(incoming, incomingIdCol, incomingVecCol, dim, nPlanes, seed),
      signBuckets(existing, existingIdCol, existingVecCol, dim, nPlanes, seed),
      threshold, maxBucketOccupancy)

  /** [[nearDupByEmbeddingAgainst]] over two precomputed [[signBuckets]]
    * frames — the shared-scan path (run [[cappedBucketsAgainstFromBuckets]]
    * off the same two frames; both sides must be bucketed under the
    * same hyperplanes, which the frame shape enforces by construction).
    * The combined occupancy is a partial-aggregated groupBy over the
    * unioned buckets whose over-cap keys broadcast into a left_anti
    * prune ([[graft.dedup.Dedup.pruneHotKeys]]); the side filters
    * push into the union so each join side shuffles exactly its own
    * bucketed rows (combined volume = one union shuffle) and the
    * hot-key broadcast is built once and reused by both sides. */
  def nearDupByEmbeddingAgainstFromBuckets(
      incomingBuckets: DataFrame, existingBuckets: DataFrame,
      threshold: Double = 0.95, maxBucketOccupancy: Int = 1000): DataFrame = {
    requireColumns(incomingBuckets, "id", "v", "bucket")
    requireColumns(existingBuckets, "id", "v", "bucket")
    val tagged = incomingBuckets
      .select(col("id"), col("v"), col("bucket"), lit(true).as("is_incoming"))
      .unionByName(existingBuckets
        .select(col("id"), col("v"), col("bucket"), lit(false).as("is_incoming")))
    val kept =
      if (maxBucketOccupancy <= 0) tagged
      else graft.dedup.Dedup.pruneHotKeys(tagged, Seq("bucket"), maxBucketOccupancy)
    kept.filter(col("is_incoming")).as("a")
      .join(kept.filter(!col("is_incoming")).as("b"), col("a.bucket") === col("b.bucket"))
      .select(col("a.id").as("incoming_id"), col("b.id").as("existing_id"),
        cosine(col("a.v"), col("b.v")).as("cosine_sim"))
      .filter(col("cosine_sim") >= threshold)
  }

  /** The audit for [[nearDupByEmbeddingAgainst]]'s combined-occupancy
    * cap: every sign bucket whose incoming+existing population exceeds
    * the cap, as (bucket, occupancy, incoming_occupancy,
    * existing_occupancy) — the per-side split tells you whether the
    * hot bucket is a corpus-side template cluster (collapse it with
    * exact dedup first) or an incoming-batch flood. */
  def cappedBucketsAgainst(
      incoming: DataFrame, incomingIdCol: String, incomingVecCol: String,
      existing: DataFrame, existingIdCol: String, existingVecCol: String,
      dim: Int, nPlanes: Int = 8, seed: Long = 42L,
      maxBucketOccupancy: Int = 1000): DataFrame =
    cappedBucketsAgainstFromBuckets(
      signBuckets(incoming, incomingIdCol, incomingVecCol, dim, nPlanes, seed),
      signBuckets(existing, existingIdCol, existingVecCol, dim, nPlanes, seed),
      maxBucketOccupancy)

  /** [[cappedBucketsAgainst]] over precomputed [[signBuckets]] frames. */
  def cappedBucketsAgainstFromBuckets(
      incomingBuckets: DataFrame, existingBuckets: DataFrame,
      maxBucketOccupancy: Int = 1000): DataFrame = {
    requireColumns(incomingBuckets, "bucket")
    requireColumns(existingBuckets, "bucket")
    incomingBuckets.select(col("bucket"), lit(1L).as("inc"))
      .unionByName(existingBuckets.select(col("bucket"), lit(0L).as("inc")))
      .groupBy("bucket")
      .agg(count(lit(1)).as("occupancy"),
        sum(col("inc")).as("incoming_occupancy"),
        (count(lit(1)) - sum(col("inc"))).as("existing_occupancy"))
      .filter(col("occupancy") > maxBucketOccupancy)
  }

  /** (id, v, bucket) k-means cell assignment of a corpus — the
    * coarse-quantizer counterpart of [[signBuckets]], and the shared
    * input of [[semanticNearDupPairs]] and its occupancy audit. The
    * frame deliberately names the cell id `bucket` so the whole
    * FromBuckets family ([[nearDupByEmbeddingFromBuckets]],
    * [[cappedBucketsFromBuckets]]) applies verbatim: a k-means cell is
    * just a data-adaptive bucket. Centroids are computed once
    * ([[kmeansCentroids]], cached for its iterations only) and ride as
    * a reference object inside the codegen'd assignment expression —
    * the corpus is scanned, never shuffled, to assign cells. */
  def kmeansCells(
      df: DataFrame, idCol: String, vecCol: String, nCells: Int = 16,
      kmeansIterations: Int = 3,
      centroidInitOrder: Option[Seq[Column]] = None): DataFrame = {
    val cached = trainCache(df, idCol, fraction = 1.0, seed = 0L,
      hashMode = "xxhash64", reads = 1 + kmeansIterations)
    val centroids =
      kmeansCentroids(cached, vecCol, nCells, kmeansIterations, centroidInitOrder)
    if (centroids.isEmpty)
      return df.select(col(idCol).as("id"), col(vecCol).as("v"), lit(0).as("bucket")).limit(0)
    spread(df).select(col(idCol).as("id"), col(vecCol).as("v"),
      nearestCell(col(vecCol), centroids).as("bucket"))
  }

  /** Semantic (cluster-scoped) near-duplicate pairs — the SemDeDup
    * shape (Abbas et al. 2023, arXiv:2303.09540): assign every vector
    * to its nearest k-means cell, then verify exact cosine ≥ threshold
    * within each cell only. Versus the sign-bucket LSH of
    * [[nearDupByEmbedding]], the cells are DATA-ADAPTIVE — dense
    * regions get their own cells instead of hashing into one random
    * cone — at the cost of the centroid pass. Candidate cost drops
    * from O(n²) to Σ O(|cell|²), and `maxCellOccupancy` bounds the
    * residual hazard exactly as everywhere else in the capped-join
    * family: a cell hotter than the cap (n copies of one template
    * meeting themselves as ~n²/2 rows) is pruned before pairing, and
    * [[cappedCells]] reports what was dropped. Same output shape as
    * [[nearDupByEmbedding]]; compose with
    * [[graft.dedup.Dedup.componentIds]] /
    * [[graft.dedup.Dedup.dropNearDuplicates]] for the keep-one-per-
    * cluster policy. For the shared-scan path (join + audit off ONE
    * persisted assignment), pass [[kmeansCells]]'s frame to
    * [[nearDupByEmbeddingFromBuckets]] and
    * [[cappedBucketsFromBuckets]] directly. */
  def semanticNearDupPairs(
      df: DataFrame, idCol: String, vecCol: String, nCells: Int = 16,
      threshold: Double = 0.95, kmeansIterations: Int = 3,
      centroidInitOrder: Option[Seq[Column]] = None,
      maxCellOccupancy: Int = 1000): DataFrame =
    nearDupByEmbeddingFromBuckets(
      kmeansCells(df, idCol, vecCol, nCells, kmeansIterations, centroidInitOrder),
      threshold, maxCellOccupancy)

  /** Describe each semantic cluster by its characteristic vocabulary —
    * the BERTopic pipeline shape (embed → cluster → class-based
    * TF-IDF): assign every vector to its k-means cell
    * ([[kmeansCells]]), join the documents on id, and rank each cell's
    * terms with [[graft.text.TextAnalysis.classTfidfTerms]]. The
    * report a curation decision reads after SemDeDup-style clustering:
    * WHAT each dense region actually contains. Output:
    * (bucket, term, tf, df_count, score, rank ≤ k).
    *
    * Plan: the centroid pass + one map-side assignment (both from
    * kmeansCells), one broadcast-friendly id equi-join, then
    * classTfidfTerms' bounded aggregates — nothing corpus-sized past
    * the (cell, term) counts. */
  def clusterTopTerms(
      emb: DataFrame, embIdCol: String, vecCol: String,
      docs: DataFrame, docIdCol: String, textCol: String,
      nCells: Int = 16, kmeansIterations: Int = 3, k: Int = 5,
      centroidInitOrder: Option[Seq[Column]] = None): DataFrame = {
    val cells = kmeansCells(emb, embIdCol, vecCol, nCells, kmeansIterations,
      centroidInitOrder)
    val labeled = docs.select(col(docIdCol).as("id"), col(textCol).as("__text"))
      .join(cells.select(col("id"), col("bucket")), Seq("id"))
    graft.text.TextAnalysis.classTfidfTerms(labeled, "__text", "bucket", k)
  }

  /** The audit for [[semanticNearDupPairs]]'s occupancy cap — "no
    * silent caps": every k-means cell holding more than
    * `maxCellOccupancy` vectors, as (bucket, occupancy). Rows here are
    * dense semantic regions the capped join will not pair — collapse
    * them with exact dedup first, raise the cap, or raise nCells so
    * the region splits. */
  def cappedCells(
      df: DataFrame, idCol: String, vecCol: String, nCells: Int = 16,
      kmeansIterations: Int = 3,
      centroidInitOrder: Option[Seq[Column]] = None,
      maxCellOccupancy: Int = 1000): DataFrame =
    cappedBucketsFromBuckets(
      kmeansCells(df, idCol, vecCol, nCells, kmeansIterations, centroidInitOrder),
      maxCellOccupancy)

  /** Symmetric per-vector int8 quantization: (id, qvec: array<byte>,
    * scale: double) with q_i = round(x_i / scale) and scale =
    * max|x| / 127 (1.0 for the all-zero vector). 4× smaller than
    * float32 on the wire and in cache — at 10^9+ vectors the working
    * set, not the arithmetic, is what breaks ANN, and cosine is
    * SCALE-INVARIANT, so ranking quantized vectors needs no
    * dequantization at all: cos(q_a, q_b) approximates cos(x_a, x_b)
    * directly (the per-vector scales cancel), with error bounded by
    * the per-element rounding of ≤ scale/2.
    *
    * Both the max|x| reduction and the scale are BOUND to attributes
    * before the per-element lambda divides by them — a lambda
    * capturing the reduction subtree would re-scan the vector once
    * per element (the capture hazard
    * [[graft.text.TextAnalysis.repetitionStats]] documents). Pure
    * map-side; null vectors yield no rows. Arithmetic is plain
    * double ops + HALF_UP rounding, reproducible across engines. */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val bound = df.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("max_abs",
        aggregate(col("v"), lit(0.0), (acc, x) => greatest(acc, abs(x.cast("double")))))
      .withColumn("scale",
        when(col("max_abs") === 0.0, lit(1.0)).otherwise(col("max_abs") / 127.0))
    bound.select(col("id"),
      transform(col("v"),
        x => greatest(least(round(x.cast("double") / col("scale")), lit(127.0)), lit(-127.0))
          .cast("byte")).as("qvec"),
      col("scale"))
  }

  /** Inverse of [[quantizeInt8]]: q_i · scale, as array<double>. Pass
    * `scale` as a bound attribute (the column [[quantizeInt8]]
    * emits), not a computed subtree — see the capture note there. */
  def dequantize(qvec: Column, scale: Column): Column =
    transform(qvec, q => q.cast("double") * scale)

  /** Element-wise MEAN of each key's vectors — the chunk→document
    * pooling step (documents embed as chunks under a context-window
    * limit; retrieval and dedup often want ONE vector per document).
    * Output: (keyCol, vec: array<double>); `normalize = true` rescales
    * each pooled vector to unit L2 (cosine-ready). Null vectors are
    * excluded; a key whose remaining vectors have UNEQUAL lengths
    * fails loudly (a silent ragged mean would average different
    * position sets per element).
    *
    * Plan: posexplode map-side → ONE (key, position) partial-agg mean
    * (the hot-key-safe shape: even a million-chunk document collapses
    * map-side per position) → one key-keyed assembly of ≤dim rows per
    * key. Never a key-partitioned window, nothing driver-side. */
  def meanPool(df: DataFrame, keyCol: String, vecCol: String,
      normalize: Boolean = false): DataFrame = {
    val byPos = df.filter(col(vecCol).isNotNull)
      .select(col(keyCol), posexplode(col(vecCol)))
      .groupBy(col(keyCol), col("pos"))
      .agg(avg(col("col").cast("double")).as("m"), count(lit(1)).as("cnt"))
    val assembled = byPos
      .groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(col("pos"), col("m")))).as("e"),
        (max(col("cnt")) === min(col("cnt"))).as("rect"))
      .select(col(keyCol),
        when(col("rect"), transform(col("e"), x => x.getField("m")))
          .otherwise(raise_error(concat(lit("meanPool: key "), col(keyCol).cast("string"),
            lit(" pools vectors of unequal length"))))
          .as("vec"))
    if (!normalize) assembled
    // Bind the norm to an attribute BEFORE the per-element lambda — a
    // captured l2Norm subtree would re-run its O(d) aggregate once per
    // element (the wordShingles capture hazard).
    else assembled
      .withColumn("__n", l2Norm(col("vec")))
      .select(col(keyCol),
        when(col("__n") > 0.0, transform(col("vec"), x => x / col("__n")))
          .otherwise(col("vec")).as("vec"))
  }

  /** Embedding-cluster quality report — is a labeling (k-means cells,
    * classifier outputs, source tags) geometrically coherent? Per
    * label: member count, mean cosine to the label's OWN centroid
    * (cohesion, → 1 is tight), and the maximum cosine between the
    * label's centroid and any OTHER label's centroid (separation — a
    * high value flags a label pair the embedding space cannot tell
    * apart). The silhouette-style screen at aggregate cost.
    *
    * Plan: pass 1 computes all centroids in ONE (label, position)
    * aggregate over the posexploded vectors (a shuffle of
    * rows × dim SCALARS — no vector objects); O(labels × dim) scalars
    * collect to the driver (the bounded-collect contract of the
    * k-means centroids), where the labels² pairwise matrix is
    * driver-trivial. Pass 2 broadcast-joins the centroids back and
    * folds each member's cosine in the native fused loop — one more
    * corpus scan, one tiny final aggregate. Labels are compared as
    * strings (same contract as [[graft.sampling.Sampling
    * .temperatureMixSample]]); null labels/vectors are excluded. */
  def clusterQuality(df: DataFrame, vecCol: String, labelCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.filter(col(labelCol).isNotNull && col(vecCol).isNotNull)
      .select(col(labelCol).cast("string").as("lbl"),
        col(vecCol).cast("array<double>").as("vec"))
    val centRows = base
      .select(col("lbl"), posexplode(col("vec")).as(Seq("pos", "v")))
      .groupBy("lbl", "pos").agg(avg("v").as("cv"))
      .collect()
    val cents: Map[String, Seq[Double]] = centRows.groupBy(_.getString(0))
      .map { case (l, rows) => l -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq }
    def cosD(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.iterator.zip(b.iterator).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.iterator.map(x => x * x).sum)
      val nb = math.sqrt(b.iterator.map(x => x * x).sum)
      if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
    }
    val nearestOther: Map[String, Double] = cents.map { case (l, c) =>
      val others = cents.collect { case (l2, c2) if l2 != l => cosD(c, c2) }
      l -> (if (others.isEmpty) 0.0 else others.max)
    }
    val centDf = cents.toSeq
      .map { case (l, c) => (l, c, nearestOther(l)) }
      .toDF("lbl", "centroid", "nearest_other_centroid_cos")
    base.join(broadcast(centDf), "lbl")
      .withColumn("cos", cosine(col("vec"), col("centroid")))
      .groupBy(col("lbl").as("label"))
      .agg(count(lit(1)).as("n"),
        avg(col("cos")).as("mean_cos_to_centroid"),
        first(col("nearest_other_centroid_cos")).as("nearest_other_centroid_cos"))
  }
}
