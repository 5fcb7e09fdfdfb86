package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** [EXT] Vector similarity operators over `embeddings.embedding`
  * (`array<float>`): cosine distance, brute-force top-k, sign-random-
  * projection LSH bucketing, IVF-style centroid assignment.
  *
  * Scale posture: the brute-force path broadcasts the (small) query set
  * against the full corpus — one map-side pass plus a per-query top-k
  * window; the LSH path shuffles once on the bucket key so candidate cost
  * is Σ bucket², not N². All arithmetic is done in double after an
  * explicit cast from float (left-fold sums), matching the DuckDB oracle.
  *
  * Fixed-point outputs (cosine scores) round via the deterministic floor
  * form `floor(x·10ⁿ + 0.5) / 10ⁿ`, which rounds half-cases toward +∞ —
  * on a negative cosine tie this differs from `round()`'s HALF_UP
  * (away-from-zero). See the TextOps scaladoc for the full semantics.
  */
object VectorOps {

  /** Element cast float→double (exact widening), so sums accumulate in
    * double. A plain array cast, NOT `transform(_.cast(...))`: HOFs are
    * CodegenFallback and one in a projection evicts the WHOLE projection
    * from whole-stage codegen — including any native kernel beside it. */
  def toDouble(v: Column): Column = v.cast("array<double>")

  /** Codegen'd left-to-right dot product (graft.functions.DotProduct) —
    * bit-identical to the HOF fold it replaces, ~10× faster (HOFs are
    * CodegenFallback; this stays inside whole-stage codegen). */
  def dot(a: Column, b: Column): Column = graft.functions.DotProduct(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Cosine with precomputed norms: in pair joins, compute each side's
    * norm ONCE per row before the join (the join boundary stops projection
    * collapse) instead of once per pair — same floats, 3× less work. */
  def cosinePrenormed(a: Column, b: Column, normA: Column, normB: Column): Column =
    dot(a, b) / (normA * normB)

  /** Brute-force exact top-k neighbors for each query vector.
    * `queries`/`corpus` must have (idCol, vecCol). The query side is
    * broadcast (it is the small side by contract); ranking is by cosine
    * rounded to 6dp then id, so the cut is deterministic and
    * oracle-stable. Self-pairs are excluded. */
  def topKNeighbors(queries: DataFrame, corpus: DataFrame, idCol: String,
                    vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), toDouble(col(vecCol)).as("qv"))
      .withColumn("qn", norm(col("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), toDouble(col(vecCol)).as("cv"))
      .withColumn("cn", norm(col("cv")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", (floor((
        cosinePrenormed(col("qv"), col("cv"), col("qn"), col("cn"))) * 1e6 + 0.5) / 1e6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  /** Deterministic pseudo-hyperplane weight for (plane i, dim j) — small
    * signed integers so the oracle recomputes them exactly. */
  def planeWeight(i: Int, j: Column): Column = (lit(i) * 31 + j * 17) % 13 - 6

  /** Sign-random-projection LSH signature: bit i = 1 iff Σ_j w_ij·v_j > 0,
    * packed into a long. Codegen'd single-pass kernel
    * (graft.functions.RpSignature) — bit-identical to the 16-HOF fold it
    * replaces (same per-plane left-to-right accumulation), but one array
    * pass inside whole-stage codegen instead of 16 interpreted passes. */
  def rpSignature(vec: Column, planes: Int): Column =
    graft.functions.RpSignature(vec, planes)

  /** Self-sizing RP-LSH parameterization: (bandBits, bands) for corpus
    * size `n` at a bucket-occupancy target. Band width r grows with
    * log₂(n/occupancy) so Σ n_b² ≈ bands·n·occupancy stays LINEAR in n;
    * bands fill the remaining signature budget (≤ 63 bits so the packed
    * signature stays a positive long). */
  def lshAutoParams(n: Long, occupancy: Int = 64): (Int, Int) = {
    require(n > 0 && occupancy > 0)
    val r = math.max(2, math.min(12,
      math.ceil(math.log(n.toDouble / occupancy) / math.log(2.0)).toInt))
    (r, math.min(8, 63 / r))
  }

  /** Fixture-pinned SF-aware band WIDTH for a FIXED band count: the
    * banding semantics stay those the fixed-band query documents (bands
    * never change), while the per-band bucket width r grows with
    * log₂(N/occupancy) so Σ n_b² ≈ N·occupancy stays LINEAR in N — the
    * same sizing law as [[lshAutoParams]] with the second dial pinned.
    * minBits anchors the small-N behavior: below N ≈ occupancy·2^minBits
    * the width is exactly minBits, so bench-SF results are bit-identical
    * to the historical fixed parameterization. Cap 15 keeps 4 bands
    * inside a positive packed long (4·15 = 60 ≤ 63). */
  def lshBandWidth(n: Long, occupancy: Int = 320, minBits: Int = 4): Int = {
    require(n > 0 && occupancy > 0 && minBits > 0)
    math.max(minBits, math.min(15,
      math.ceil(math.log(n.toDouble / occupancy) / math.log(2.0)).toInt))
  }

  /** Symmetric int8 quantization of an embedding: scale = 127/max|x|
    * per vector; returns struct(codes array<int> in [-127,127], scale).
    * 4× smaller at rest than float32 — the storage posture for 100 TB of
    * embeddings; `dequantize` reverses it (lossy, bounded by scale/2). */
  def quantizeInt8(vec: Column): Column = {
    val mx = array_max(transform(vec, x => abs(x)))
    val scale = when(mx > 0, mx / 127.0).otherwise(lit(1.0))
    struct(
      transform(vec, x => round(x / scale, 0).cast("int")).as("codes"),
      scale.as("scale"))
  }

  def dequantize(q: Column): Column =
    transform(q.getField("codes"), c => c.cast("double") * q.getField("scale"))

  /** K-means clustering over the embedding column (spark.ml, seeded) —
    * the "semantic clustering" step of semdedup-style pipelines and the
    * trainer for real IVF centroids (assignToCentroids consumes them).
    * Returns (idCol, cluster). Iterative → no SQL oracle; determinism and
    * shape are spec-asserted instead. */
  def kmeansClusters(vectors: DataFrame, idCol: String, vecCol: String,
                     k: Int, seed: Long = 42L, maxIter: Int = 5): DataFrame = {
    val toVec = org.apache.spark.ml.functions.array_to_vector(
      toDouble(col(vecCol)))
    val featurized = vectors.select(col(idCol), toVec.as("features"))
    val model = new org.apache.spark.ml.clustering.KMeans()
      .setK(k).setSeed(seed).setMaxIter(maxIter)
      .fit(featurized)
    model.transform(featurized)
      .select(col(idCol), col("prediction").as("cluster"))
  }

  /** K-means fit invariants, as in-plan booleans — the pattern that turns
    * an iterative (no-SQL-oracle) fit into a driver-checkable query: one
    * output row per cluster 0..k−1 with
    *   n_pos            — the cluster is non-empty,
    *   assign_is_argmin — every member's squared distance to its assigned
    *                      centroid equals the minimum over ALL final
    *                      centroids (1e-9 absolute tolerance absorbs the
    *                      norms-trick float error in spark.ml's fast
    *                      distance vs the direct Σ(a−b)² here),
    *   n_total          — Σ cluster sizes = the corpus row count, exact
    *                      and hash-comparable.
    * The oracle twin emits literal `true`s plus its own count(*) — a hash
    * match proves every invariant held. Centroids are bounded driver
    * state (k rows, same contract as IVF); the argmin check is a
    * scan-local expression over the k-element literal centroid array. */
  def kmeansInvariants(vectors: DataFrame, idCol: String, vecCol: String,
                       k: Int, seed: Long = 42L, maxIter: Int = 5): DataFrame = {
    val spark = vectors.sparkSession
    val toVec = org.apache.spark.ml.functions.array_to_vector(
      toDouble(col(vecCol)))
    val featurized = vectors.select(col(idCol), toVec.as("features"),
      toDouble(col(vecCol)).as("v"))
    val model = new org.apache.spark.ml.clustering.KMeans()
      .setK(k).setSeed(seed).setMaxIter(maxIter)
      .fit(featurized)
    val cents: Seq[Seq[Double]] = model.clusterCenters.map(_.toArray.toSeq).toSeq
    val scored = model.transform(featurized)
      .withColumn("d2", transform(typedLit(cents), c =>
        aggregate(zip_with(c, col("v"), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x)))
      .select(col("prediction").cast("int").as("cluster"),
        (element_at(col("d2"), col("prediction").cast("int") + 1) <=
          array_min(col("d2")) + lit(1e-9)).as("ok"))
    val perCluster = scored.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"),
        min(when(col("ok"), 1).otherwise(0)).as("okmin"))
    val total = scored.agg(count(lit(1)).as("n_total"))
    spark.range(k).select(col("id").cast("int").as("cluster"))
      .join(perCluster, Seq("cluster"), "left")
      .crossJoin(broadcast(total))
      .select(col("cluster"),
        (coalesce(col("n"), lit(0L)) >= 1L).as("n_pos"),
        (coalesce(col("okmin"), lit(1)) === 1).as("assign_is_argmin"),
        col("n_total"))
      .orderBy(col("cluster"))
  }

  /** SemDedup-style cluster-local near-dup pairs: assign every vector to
    * its nearest centroid (broadcast, one map pass), then compare pairs
    * only WITHIN a cluster — an equi-join on the cluster id, so candidate
    * cost is Σ cluster² instead of N². This is the embedding-space twin of
    * LSH bucketing: approximate (cross-cluster near-dups are missed by
    * design — SemDedup's trade), exact within the candidate set. Returns
    * (cluster, id_a, id_b, cos) for pairs with cosine ≥ threshold. */
  def semdedupPairs(vectors: DataFrame, centroids: DataFrame, idCol: String,
                    vecCol: String, centroidIdCol: String,
                    centroidVecCol: String, threshold: Double,
                    blocks: Int = 8): DataFrame = {
    val assigned = assignToCentroids(vectors, centroids, idCol, vecCol,
      centroidIdCol, centroidVecCol).select(col(idCol), col("centroid_id"))
    val v = vectors.select(col(idCol).as("id"), toDouble(col(vecCol)).as("v"))
      .withColumn("nrm", norm(col("v")))
      .join(assigned.withColumnRenamed(idCol, "id"), "id")
      .withColumn("blk", pmod(col("id"), lit(blocks)).cast("int"))
    // triangle blocking: with k clusters alone the pair join shuffles on k
    // keys — k tasks no matter how many cores. Each row is replicated onto
    // a (block_lo, block_hi) grid so pair (x,y) is generated at exactly one
    // key (cluster, min(bx,by), max(bx,by)): parallelism k·B(B+1)/2, at the
    // cost of B× row replication. Diagonal cells dedupe by id order; the
    // off-diagonal output is id-normalized (cos is symmetric).
    // The merge hint pins the sort-merge join: left to AQE, the join turns
    // into a broadcast whose build side is whichever of the two near-equal
    // shuffles finishes first, so the plan and its generated classes would
    // differ from run to run.
    val lhs = v.withColumn("bj",
      explode(sequence(col("blk"), lit(blocks - 1)))).hint("merge")
    val rhs = v.withColumn("bi",
      explode(sequence(lit(0), col("blk"))))
    lhs.as("a").join(rhs.as("b"),
        col("a.centroid_id") === col("b.centroid_id") &&
          col("a.blk") === col("b.bi") && col("a.bj") === col("b.blk") &&
          (col("a.blk") =!= col("b.blk") || col("a.id") < col("b.id")))
      .withColumn("cos", (floor((cosinePrenormed(col("a.v"), col("b.v"),
        col("a.nrm"), col("b.nrm"))) * 1e6 + 0.5) / 1e6))
      .filter(col("cos") >= threshold)
      .select(col("a.centroid_id").as("cluster"),
        least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"), col("cos"))
  }

  /** IVF top-k search — the scale path for ANN: each query ranks the
    * (broadcast) centroids, keeps its `nprobe` nearest, and searches ONLY
    * those inverted lists. The corpus is assigned once (one map pass);
    * the search itself is an equi-join on the probed list id with the
    * tiny (query × nprobe) probe table broadcast — per-query cost is the
    * probed lists' sizes, never N. Exact within the probed set; recall
    * is the probe-coverage trade (nprobe = #centroids degenerates to the
    * exhaustive search, spec-asserted equal to topKNeighbors). Output
    * matches topKNeighbors: (query_id, rank, neighbor_id, cos). */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
              idCol: String, vecCol: String, centroidIdCol: String,
              centroidVecCol: String, k: Int, nprobe: Int): DataFrame = {
    val lists = corpus
      .select(col(idCol).as("neighbor_id"), toDouble(col(vecCol)).as("cv"))
      .withColumn("cn", norm(col("cv")))
      .join(assignToCentroids(corpus, centroids, idCol, vecCol,
          centroidIdCol, centroidVecCol)
        .select(col(idCol).as("neighbor_id"), col("centroid_id")),
        "neighbor_id")
    val cent = centroids.select(col(centroidIdCol).as("centroid_id"),
      toDouble(col(centroidVecCol)).as("pv"))
      .withColumn("pn", norm(col("pv")))
    val q = queries.select(col(idCol).as("query_id"), toDouble(col(vecCol)).as("qv"))
      .withColumn("qn", norm(col("qv")))
    val wp = Window.partitionBy(col("query_id"))
      .orderBy(col("pcos").desc, col("centroid_id"))
    val probes = q.crossJoin(broadcast(cent))
      .withColumn("pcos", (floor((
        cosinePrenormed(col("qv"), col("pv"), col("qn"), col("pn"))) * 1e6 + 0.5) / 1e6))
      .withColumn("pr", row_number().over(wp))
      .filter(col("pr") <= nprobe)
      .select(col("query_id"), col("qv"), col("qn"), col("centroid_id"))
    // final ranking: bounded-heap TopKAggregator, not a window — the
    // window form's parallelism is capped at #queries and it shuffles
    // every probed candidate; the Aggregator partial-aggregates map-side
    // so the exchange carries ≤k rows per (partition × query)
    val topk = udaf(new graft.functions.TopKAggregator(k))
    lists.join(broadcast(probes), "centroid_id")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", (floor((
        cosinePrenormed(col("qv"), col("cv"), col("qn"), col("cn"))) * 1e6 + 0.5) / 1e6))
      .groupBy(col("query_id"))
      .agg(topk(col("cos"), col("neighbor_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("col._2").as("neighbor_id"), col("col._1").as("cos"))
  }

  /** Product-quantization codebooks: the D-dim space is split into m
    * contiguous subspaces of D/m dims; each subspace gets its own
    * k-codeword k-means codebook (seeded spark.ml fit over the sliced
    * subvectors — one bounded fit per subspace). Codebooks are BOUNDED
    * DRIVER STATE (m·k·(D/m) doubles — the same contract as IVF
    * centroids), returned nested and ready for `typedLit`, so every
    * downstream step (encode, decode, ADC search) is a scan-local
    * expression: at 100 TB the corpus is rewritten once into m-byte
    * codes (16× smaller than float32 at m=4, k≤256 over 64 dims) and
    * never touched as floats again. */
  def pqTrainCodebooks(corpus: DataFrame, vecCol: String, m: Int, k: Int,
                       seed: Long = 42L,
                       maxIter: Int = 5): Seq[Seq[Seq[Double]]] = {
    val d = corpus.select(size(col(vecCol)).as("d")).head.getInt(0)
    require(d % m == 0, s"dim $d not divisible into $m subspaces")
    val sub = d / m
    // the m per-subspace fits are INDEPENDENT seeded jobs — submit them
    // from a small driver thread pool so each fit's straggler tail is
    // back-filled by the next subspace's jobs (guide §2.6; measured: the
    // sequential 16-fit loop was ~26 s of wall clock at sf0.1, dominated
    // by per-job scheduling of tiny k-means iterations). Each fit is
    // deterministic in (data, seed+s) and fits share nothing mutable, so
    // results are bit-identical to the sequential loop; 4 in flight is
    // enough to fill the tail without thrashing the scheduler.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val fits = (0 until m).map { s =>
        scala.concurrent.Future {
          val toVec = org.apache.spark.ml.functions.array_to_vector(
            toDouble(slice(col(vecCol), s * sub + 1, sub)))
          val model = new org.apache.spark.ml.clustering.KMeans()
            .setK(k).setSeed(seed + s).setMaxIter(maxIter)
            .fit(corpus.select(toVec.as("features")))
          model.clusterCenters.map(_.toArray.toSeq).toSeq
        }
      }
      fits.map(f => scala.concurrent.Await.result(
        f, scala.concurrent.duration.Duration.Inf))
    } finally pool.shutdown()
  }

  /** PQ encode: per subspace, the index of the L2-nearest codeword
    * (tie → lowest index). Pure scan-local expression over the literal
    * codebooks — no joins, no shuffle. Codegen'd single-pass kernel
    * (graft.functions.PqEncodeKernel) — bit-identical to the
    * transform/array_position-of-min HOF chain it replaces (same
    * left-to-right per-dimension accumulation, same first-strict-min
    * codeword scan), but one tight primitive loop inside whole-stage
    * codegen instead of m·k interpreted sqDist evaluations per row
    * (measured: the HOF encode was ~80% of sim_pq_topk at sf0.1).
    * Kernel ≡ HOF is property-tested (PropertySpec). */
  def pqEncode(vec: Column, codebooks: Seq[Seq[Seq[Double]]]): Column =
    graft.functions.PqEncodeKernel(vec, codebooks)

  /** The superseded HOF form of [[pqEncode]] — kept as the property-test
    * twin pinning the kernel's arithmetic. */
  private[graft] def pqEncodeHof(vec: Column,
                                 codebooks: Seq[Seq[Seq[Double]]]): Column = {
    val m = codebooks.size
    val sub = codebooks.head.head.size
    val cb = typedLit(codebooks)
    transform(sequence(lit(0), lit(m - 1)), s => {
      val subv = slice(toDouble(vec), s * lit(sub) + 1, lit(sub))
      // deliberately the interpreted HOF distance (not the SqDist kernel):
      // this twin pins the kernel against an independent implementation
      val d2s = transform(element_at(cb, s + 1), c =>
        aggregate(zip_with(c, subv, (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, x) => acc + x))
      (array_position(d2s, array_min(d2s)) - 1).cast("int")
    })
  }

  /** PQ decode: codeword concatenation — the reconstruction the ADC
    * distance is measured against. Codegen'd copy kernel
    * (graft.functions.PqDecodeKernel, r15) — the flatten/element_at HOF
    * chain it replaces was interpreted per row, and the invariant gates
    * evaluate the decode per corpus×query pair in their brute-force
    * reconstruction legs. Pure codeword copy, no arithmetic —
    * bit-identical by construction; kernel ≡ HOF is property-tested. */
  def pqDecode(codes: Column, codebooks: Seq[Seq[Seq[Double]]]): Column =
    graft.functions.PqDecodeKernel(codes, codebooks)

  /** The superseded HOF form of [[pqDecode]] — kept as the property-test
    * twin pinning the kernel's codeword layout. */
  private[graft] def pqDecodeHof(codes: Column,
                                 codebooks: Seq[Seq[Seq[Double]]]): Column = {
    val cb = typedLit(codebooks)
    flatten(transform(sequence(lit(0), lit(codebooks.size - 1)), s =>
      element_at(element_at(cb, s + 1), element_at(codes, s + 1) + 1)))
  }

  /** IVF-PQ two-stage reconstruction `base + decode(codes)` in one
    * codegen'd pass (graft.functions.PqReconstructKernel, r15) — same
    * element order and IEEE adds as the `zip_with(base, pqDecode(codes),
    * _ + _)` form it replaces (property-tested). */
  def pqReconstruct(base: Column, codes: Column,
                    codebooks: Seq[Seq[Seq[Double]]]): Column =
    graft.functions.PqReconstructKernel(base, codes, codebooks)

  /** Asymmetric-distance (ADC) top-k over a PQ-encoded corpus: each
    * (bounded) query precomputes an m×k lookup table of subspace
    * distances to every codeword; a corpus row's distance is then m
    * table lookups summed — the original floats are never read at
    * search time. Identity (spec- and oracle-pinned):
    * Σ_s lut[s][code_s] ≡ ‖q − decode(codes)‖², exactly — the LUT sum
    * IS the reconstruction distance, because the subspaces partition
    * the dimensions. Query side broadcasts; the finish is the bounded-
    * heap TopKAggregator (≤k rows per partition×query shuffle), same
    * posture as ivfTopK. Output: (query_id, rank, neighbor_id, adc2). */
  def pqAdcTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                vecCol: String, codebooks: Seq[Seq[Seq[Double]]],
                k: Int): DataFrame = {
    val m = codebooks.size
    val sub = codebooks.head.head.size
    val cb = typedLit(codebooks)
    val enc = corpus.select(col(idCol).as("neighbor_id"),
      pqEncode(col(vecCol), codebooks).as("codes"))
    val q = queries
      .select(col(idCol).as("query_id"), toDouble(col(vecCol)).as("qv"))
      .withColumn("lut", transform(sequence(lit(0), lit(m - 1)), s => {
        val subq = slice(col("qv"), s * lit(sub) + 1, lit(sub))
        transform(element_at(cb, s + 1), c => sqDist(c, subq))
      }))
      .select(col("query_id"), col("lut"))
    val topk = udaf(new graft.functions.TopKAggregator(k))
    enc.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      // codegen'd LUT sum (graft.functions.AdcSumKernel) — identical
      // subspace-order accumulation to the aggregate/zip_with HOF form
      // (property-tested), evaluated per (corpus × query) row, so the
      // interpreted-HOF tax was paid N·|queries| times
      .withColumn("adc2",
        graft.functions.AdcSumKernel(col("codes"), col("lut")))
      .groupBy(col("query_id"))
      // TopKAggregator keeps the LARGEST scores: negate the distance
      .agg(topk(-col("adc2"), col("neighbor_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("col._2").as("neighbor_id"), (-col("col._1")).as("adc2"))
  }

  /** Residual PQ codebooks for IVF-PQ: each corpus vector is first
    * L2-assigned to its nearest centroid (tie → min id), and the
    * codebooks are fit on the RESIDUALS v − c. Residuals concentrate
    * around the origin, which is what makes PQ's per-subspace k-means
    * meaningful after a coarse quantizer — encoding raw vectors with
    * list-local structure wastes codewords re-expressing the centroid.
    * Same bounded-driver-state contract as [[pqTrainCodebooks]]. */
  def pqTrainResidualCodebooks(corpus: DataFrame, centroids: DataFrame,
                               idCol: String, vecCol: String,
                               centroidIdCol: String, centroidVecCol: String,
                               m: Int, k: Int, seed: Long = 42L,
                               maxIter: Int = 5): Seq[Seq[Seq[Double]]] =
    pqTrainCodebooks(
      assignWithResidual(corpus, centroids, idCol, vecCol, centroidIdCol,
        centroidVecCol).select(col("residual")),
      "residual", m, k, seed, maxIter)

  /** Codegen'd squared L2 distance (graft.functions.SqDist) —
    * bit-identical to the aggregate/zip_with fold it replaces (same
    * left-to-right accumulation; property-tested), evaluated per
    * (row × centroid) in every assignment pass. */
  private def sqDist(a: Column, b: Column): Column =
    graft.functions.SqDist(a, b)

  /** L2 coarse assignment + residual in one broadcast pass: every vector
    * gets (centroid_id, residual = v − c) via a `min_by` HASH AGGREGATE
    * over the broadcast centroid table (argmin ‖v−c‖², tie → min id) —
    * map-side partial, no window, no shuffle of the N·k scored rows. */
  def assignWithResidual(vectors: DataFrame, centroids: DataFrame,
                         idCol: String, vecCol: String,
                         centroidIdCol: String, centroidVecCol: String): DataFrame = {
    val cent = centroids.select(col(centroidIdCol).as("centroid_id"),
      toDouble(col(centroidVecCol)).as("cv"))
    // the aggregate carries only (centroid_id, v) — the winning centroid
    // VECTOR is re-derived by broadcast-joining the tiny centroid table
    // after the argmin, so the exchange on the index-build pass is D
    // doubles per row, not 2D (the residual subtraction is post-shuffle,
    // still one map pass)
    vectors.select(col(idCol), toDouble(col(vecCol)).as("v"))
      .crossJoin(broadcast(cent))
      .withColumn("cd2", sqDist(col("v"), col("cv")))
      .groupBy(col(idCol))
      .agg(min_by(struct(col("centroid_id"), col("v")),
        struct(col("cd2"), col("centroid_id"))).as("b"))
      .select(col(idCol), col("b.centroid_id").as("centroid_id"),
        col("b.v").as("v"))
      .join(broadcast(cent), "centroid_id")
      .select(col(idCol), col("centroid_id"),
        zip_with(col("v"), col("cv"), (a, b) => a - b).as("residual"))
  }

  /** IVF-PQ top-k — the FAISS-canonical 100 TB ANN layout: a coarse
    * quantizer partitions the corpus into inverted lists, and each
    * vector is stored ONLY as the m-byte PQ code of its residual. Search:
    * a query ranks the (broadcast) centroids by ‖q−c‖², keeps its
    * `nprobe` nearest lists, and builds one m×k ADC lookup table PER
    * PROBED LIST over the query residual q − c. The join on the probed
    * list id pairs each code with exactly the LUT built against its own
    * assignment centroid, so the ADC sum is EXACTLY
    * ‖q − (c + decode(codes))‖² — the reconstruction distance through
    * both quantization stages (oracle- and spec-pinned). Costs: corpus
    * is scanned once at index build (assignment + residual encode, all
    * scan-local against broadcast centroids/literal codebooks); search
    * touches only probed lists' CODES (floats never read), probe table
    * (queries × nprobe rows, each with an m×k LUT) broadcasts, and the
    * finish is the bounded-heap TopKAggregator. Recall is the
    * nprobe-coverage × PQ-distortion trade; exactness within the probed
    * set at the reconstruction metric is deterministic.
    * Output: (query_id, rank, neighbor_id, adc2). */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
                idCol: String, vecCol: String, centroidIdCol: String,
                centroidVecCol: String, codebooks: Seq[Seq[Seq[Double]]],
                k: Int, nprobe: Int): DataFrame = {
    val m = codebooks.size
    val sub = codebooks.head.head.size
    val cb = typedLit(codebooks)
    val lists = assignWithResidual(corpus, centroids, idCol, vecCol,
        centroidIdCol, centroidVecCol)
      .select(col(idCol).as("neighbor_id"), col("centroid_id"),
        pqEncode(col("residual"), codebooks).as("codes"))
    val cent = centroids.select(col(centroidIdCol).as("centroid_id"),
      toDouble(col(centroidVecCol)).as("cv"))
    val wp = Window.partitionBy(col("query_id"))
      .orderBy(col("pd2"), col("centroid_id"))
    val probes = queries
      .select(col(idCol).as("query_id"), toDouble(col(vecCol)).as("qv"))
      .crossJoin(broadcast(cent))
      .withColumn("pd2", sqDist(col("qv"), col("cv")))
      .withColumn("pr", row_number().over(wp))
      .filter(col("pr") <= nprobe)
      .withColumn("res", zip_with(col("qv"), col("cv"), (a, b) => a - b))
      .withColumn("lut", transform(sequence(lit(0), lit(m - 1)), s => {
        val subq = slice(col("res"), s * lit(sub) + 1, lit(sub))
        transform(element_at(cb, s + 1), c => sqDist(c, subq))
      }))
      .select(col("query_id"), col("centroid_id"), col("lut"))
    val topk = udaf(new graft.functions.TopKAggregator(k))
    lists.join(broadcast(probes), "centroid_id")
      .filter(col("query_id") =!= col("neighbor_id"))
      // codegen'd LUT sum — see pqAdcTopK; per probed (code × query) row
      .withColumn("adc2",
        graft.functions.AdcSumKernel(col("codes"), col("lut")))
      .groupBy(col("query_id"))
      .agg(topk(-col("adc2"), col("neighbor_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("col._2").as("neighbor_id"), (-col("col._1")).as("adc2"))
  }

  /** IVF-style assignment: nearest centroid (max cosine, tie → min id)
    * per vector. Centroids are broadcast — one map-side pass; the argmax
    * is a `max_by` HASH AGGREGATE, not a window: the partial aggregate
    * collapses N·k scored rows to N per partition BEFORE the exchange,
    * where a `row_number` window would sort-shuffle all N·k rows. The
    * ordering struct (cos, −centroid_id) is unique per scored row, so the
    * max is deterministic and equals the (cos DESC, centroid_id ASC)
    * window order it replaces. */
  def assignToCentroids(vectors: DataFrame, centroids: DataFrame,
                        idCol: String, vecCol: String,
                        centroidIdCol: String, centroidVecCol: String): DataFrame = {
    val v = vectors.select(col(idCol), toDouble(col(vecCol)).as("v"))
      .withColumn("vn", norm(col("v")))
    val c = centroids.select(col(centroidIdCol).as("centroid_id"),
      toDouble(col(centroidVecCol)).as("cv"))
      .withColumn("cn", norm(col("cv")))
    v.crossJoin(broadcast(c))
      .withColumn("cos", (floor((
        cosinePrenormed(col("v"), col("cv"), col("vn"), col("cn"))) * 1e6 + 0.5) / 1e6))
      .groupBy(col(idCol))
      .agg(max_by(struct(col("centroid_id"), col("cos")),
        struct(col("cos"), -col("centroid_id"))).as("best"))
      .select(col(idCol), col("best.centroid_id"), col("best.cos"))
  }
}
