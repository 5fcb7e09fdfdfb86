package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.VectorOps

/** [EXT] Similarity-search queries over `embeddings` (SURVEY §2E):
  * brute-force exact top-k (baseline), threshold pairs (exact baseline),
  * sign-random-projection LSH (the scale path), IVF-style centroid
  * assignment. Cosines are computed in double and rounded to 6dp before
  * any ranking cut, so engine and oracle rank identically.
  */
object VectorQueries {

  private def emb(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables(s, dir).embeddings

  /** Driver-side memo for the seeded PQ codebook fits: the fit is
    * deterministic in (data dir, params), so the invariants query and
    * the search query over the same dir share one fit instead of each
    * paying 16 k-means jobs. Plain Scala values — safe across sessions
    * (nothing Spark-resident is cached), bounded by #dirs × 2 entries.
    * The key carries a cheap file fingerprint so regenerating a dir
    * IN-PLACE within one JVM (scripts/gen_sf1.py rewrites target/sf1)
    * invalidates the stale fit instead of serving codebooks trained on
    * data that no longer exists. */
  private val cbCache =
    scala.collection.concurrent.TrieMap.empty[String, Seq[Seq[Seq[Double]]]]

  /** (size, mtime, name)-fold over the embeddings parquet path; 0 when
    * the path isn't a readable local file tree (cache then keys on the
    * dir string alone, the pre-fingerprint behavior). */
  private def dataFp(dir: String): Long = {
    import scala.jdk.CollectionConverters._
    import java.nio.file.{Files, Paths}
    try {
      val p = Paths.get(dir, "embeddings.parquet")
      if (!Files.exists(p)) 0L
      else {
        val st = Files.walk(p)
        try st.iterator().asScala.foldLeft(0L) { (acc, f) =>
          acc * 31L + f.getFileName.toString.hashCode +
            (if (Files.isRegularFile(f))
               Files.size(f) + Files.getLastModifiedTime(f).toMillis
             else 0L)
        } finally st.close()
      }
    } catch { case scala.util.control.NonFatal(_) => 0L }
  }

  private def pqCbs(s: org.apache.spark.sql.SparkSession,
                    dir: String): Seq[Seq[Seq[Double]]] =
    cbCache.getOrElseUpdate(s"pq:$dir:${dataFp(dir)}",
      VectorOps.pqTrainCodebooks(emb(s, dir), "embedding", m = 16, k = 16))

  private def ivfPqCbs(s: org.apache.spark.sql.SparkSession,
                       dir: String): Seq[Seq[Seq[Double]]] =
    cbCache.getOrElseUpdate(s"ivfpq:$dir:${dataFp(dir)}", {
      import s.implicits._
      val e = emb(s, dir)
      VectorOps.pqTrainResidualCodebooks(e, e.filter($"vec_id" < 8),
        "vec_id", "embedding", "vec_id", "embedding", 16, 16)
    })

  /** DuckDB cosine between double-cast lists. */
  private def dcos(a: String, b: String): String =
    s"list_dot_product($a,$b)/(sqrt(list_dot_product($a,$a))*sqrt(list_dot_product($b,$b)))"

  private val topk = Q(
    "sim_topk_bruteforce",
    (s, dir) => {
      import s.implicits._
      val e = emb(s, dir)
      VectorOps.topKNeighbors(e.filter($"vec_id" < 5), e, "vec_id", "embedding", 10)
        .orderBy($"query_id", $"rank")
    },
    Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
            |scored AS (
            |  SELECT q.vec_id query_id, c.vec_id neighbor_id,
            |         (floor((${dcos("q.v", "c.v")}) * 1e6 + 0.5) / 1e6) cos
            |  FROM e q JOIN e c ON q.vec_id < 5 AND q.vec_id <> c.vec_id)
            |SELECT query_id, rank, neighbor_id, cos FROM (
            |  SELECT *, (row_number() OVER
            |    (PARTITION BY query_id ORDER BY cos DESC, neighbor_id))::INT rank
            |  FROM scored)
            |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin))

  /** Exact all-pairs threshold query — the O(N²) correctness baseline the
    * LSH variant below is judged against; never the 100 TB path. */
  private val pairs = Q(
    "sim_cosine_pairs",
    (s, dir) => {
      import s.implicits._
      // repartition: a single parquet split would leave the nested-loop
      // pair scan single-threaded
      val e = emb(s, dir).select($"vec_id",
        VectorOps.toDouble($"embedding").as("v"))
        .withColumn("nrm", VectorOps.norm($"v"))
        .repartition(s.sparkContext.defaultParallelism)
      e.as("a").join(e.as("b"), $"a.vec_id" < $"b.vec_id")
        .withColumn("cos", (floor((
          VectorOps.cosinePrenormed($"a.v", $"b.v", $"a.nrm", $"b.nrm")) * 1e6 + 0.5) / 1e6))
        .filter($"cos" >= 0.4)
        .select($"a.vec_id".as("id_a"), $"b.vec_id".as("id_b"), $"cos")
        .orderBy($"id_a", $"id_b")
    },
    Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings)
            |SELECT a.vec_id id_a, b.vec_id id_b, (floor((${dcos("a.v", "b.v")}) * 1e6 + 0.5) / 1e6) cos
            |FROM e a JOIN e b ON a.vec_id < b.vec_id
            |WHERE (floor((${dcos("a.v", "b.v")}) * 1e6 + 0.5) / 1e6) >= 0.4
            |ORDER BY id_a, id_b""".stripMargin))

  /** Sign-random-projection LSH with FIXED 4 bands: pairs sharing any
    * band bucket are candidates, verified at cosine ≥ 0.4. The one
    * shuffle is on (band, bucket).
    *
    * Sizing contract: candidate cost is Σ_buckets n_b², so the per-band
    * bucket WIDTH must grow with the corpus — r =
    * [[VectorOps.lshBandWidth]](N) = clamp(⌈log₂(N/320)⌉, 4, 15) keeps
    * Σ n_b² ≈ N·320 linear in N. The band COUNT stays pinned at 4 (the
    * banding semantics this fixture documents); at bench SFs (N ≤ 5120)
    * the clamp floors r at 4, reproducing the historical 16-bucket
    * parameterization bit-for-bit. The fully-fixed 16-bit form — whose
    * Σ n_b² is quadratic and measured ~61× at 10× bench SF before this
    * re-parameterization — is pinned in RpLshFixedWidthSpec on a bounded
    * fixture instead of here. The corpus count is ONE scalar aggregate
    * collected to size the plan; the DuckDB twin recomputes the same r
    * from its own count(*), so outputs match at every SF. The deployed
    * self-sizing variant (bands grow too) is `sim_lsh_rp_auto`; the
    * highest-recall near-dup path at scale remains IVF-blocked semdedup
    * (`pipeline_semdedup_embeddings`). */
  private val lsh = Q(
    "sim_lsh_rp",
    (s, dir) => {
      import s.implicits._
      val e = emb(s, dir).select($"vec_id",
        VectorOps.toDouble($"embedding").as("v"))
        .withColumn("nrm", VectorOps.norm($"v"))
      val r = VectorOps.lshBandWidth(e.count())
      val signed = e.withColumn("sig", VectorOps.rpSignature($"v", r * 4))
      val banded = signed.select($"vec_id",
        posexplode(array((0 until 4).map(b =>
          pmod(shiftright($"sig", r * b), lit(1L << r))): _*)))
        .select($"vec_id", $"pos".as("band"), $"col".as("bucket"))
      // dedupe candidate pairs BEFORE computing cosine, then join vectors
      // back — cosine runs once per unique pair, not once per shared band
      banded.as("l").join(banded.as("r"),
          $"l.band" === $"r.band" && $"l.bucket" === $"r.bucket" &&
            $"l.vec_id" < $"r.vec_id")
        .select($"l.vec_id".as("id_a"), $"r.vec_id".as("id_b"))
        .distinct()
        .join(e.select($"vec_id".as("id_a"), $"v".as("v_a"), $"nrm".as("n_a")), "id_a")
        .join(e.select($"vec_id".as("id_b"), $"v".as("v_b"), $"nrm".as("n_b")), "id_b")
        .select($"id_a", $"id_b", (floor((
          VectorOps.cosinePrenormed($"v_a", $"v_b", $"n_a", $"n_b")) * 1e6 + 0.5) / 1e6).as("cos"))
        .filter($"cos" >= 0.4)
        .orderBy($"id_a", $"id_b")
    },
    Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
            |p AS (SELECT GREATEST(4, LEAST(15, CEIL(LOG2(count(*) / 320.0))::INT)) r
            |      FROM e),
            |sig AS (SELECT vec_id, v,
            |  list_sum([CASE WHEN list_sum([v[j+1]*((((i*31 + j*17) % 13) - 6)::DOUBLE)
            |                               FOR j IN generate_series(0, len(v)-1)]) > 0
            |                 THEN (2**i)::BIGINT ELSE 0 END
            |            FOR i IN generate_series(0, p.r*4 - 1)]) sig
            |  FROM e, p),
            |bx AS (SELECT vec_id, sig, unnest(range(0, 4)) band, p.r r FROM sig, p),
            |banded AS (SELECT vec_id, band,
            |             (sig // (2**(r*band))::BIGINT) % (2**r)::BIGINT bucket FROM bx),
            |cand AS (SELECT DISTINCT l.vec_id a, r.vec_id b
            |         FROM banded l JOIN banded r
            |           ON l.band = r.band AND l.bucket = r.bucket AND l.vec_id < r.vec_id)
            |SELECT a id_a, b id_b, (floor((${dcos("ea.v", "eb.v")}) * 1e6 + 0.5) / 1e6) cos
            |FROM cand JOIN e ea ON ea.vec_id = a JOIN e eb ON eb.vec_id = b
            |WHERE (floor((${dcos("ea.v", "eb.v")}) * 1e6 + 0.5) / 1e6) >= 0.4
            |ORDER BY id_a, id_b""".stripMargin))

  /** Self-sizing RP-LSH — the DEPLOYED form of the banding contract the
    * fixed-width `sim_lsh_rp` documents. Band width grows with corpus
    * size so bucket occupancy stays bounded:
    *
    *   r     = clamp(⌈log₂(N / 64)⌉, 2, 12)   // 64 = occupancy target
    *   bands = min(8, 63 / r)                  // signature fits one long
    *
    * Candidate cost is Σ_bands Σ_buckets n_b² ≈ bands · N · occupancy —
    * LINEAR in N for a fixed occupancy target, vs the fixture query's
    * fixed 16 buckets/band whose Σ n_b² is quadratic (measured ×46 at
    * the 10× headroom SF; this variant measures in the linear band).
    * Wider bands trade recall for that bound — the standard LSH dial;
    * the engine's highest-recall near-dup path at scale remains
    * IVF-blocked semdedup (`pipeline_semdedup_embeddings`).
    *
    * The corpus count is ONE scalar aggregate collected to size the plan
    * (bounded by construction, like the other documented driver scalars);
    * hyperplanes are the same deterministic integer hash as `sim_lsh_rp`,
    * so the DuckDB twin recomputes the identical parameterization from
    * its own count(*) and the outputs match bit-for-bit. */
  private val lshAuto = Q(
    "sim_lsh_rp_auto",
    (s, dir) => {
      import s.implicits._
      val e = emb(s, dir).select($"vec_id",
        VectorOps.toDouble($"embedding").as("v"))
        .withColumn("nrm", VectorOps.norm($"v"))
      val (r, bands) = VectorOps.lshAutoParams(e.count(), occupancy = 64)
      val signed = e.withColumn("sig", VectorOps.rpSignature($"v", r * bands))
      val banded = signed.select($"vec_id",
        posexplode(array((0 until bands).map(b =>
          pmod(shiftright($"sig", r * b), lit(1L << r))): _*)))
        .select($"vec_id", $"pos".as("band"), $"col".as("bucket"))
      banded.as("l").join(banded.as("r"),
          $"l.band" === $"r.band" && $"l.bucket" === $"r.bucket" &&
            $"l.vec_id" < $"r.vec_id")
        .select($"l.vec_id".as("id_a"), $"r.vec_id".as("id_b"))
        .distinct()
        .join(e.select($"vec_id".as("id_a"), $"v".as("v_a"), $"nrm".as("n_a")), "id_a")
        .join(e.select($"vec_id".as("id_b"), $"v".as("v_b"), $"nrm".as("n_b")), "id_b")
        .select($"id_a", $"id_b", (floor((
          VectorOps.cosinePrenormed($"v_a", $"v_b", $"n_a", $"n_b")) * 1e6 + 0.5) / 1e6).as("cos"))
        .filter($"cos" >= 0.4)
        .orderBy($"id_a", $"id_b")
    },
    Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
            |p AS (SELECT GREATEST(2, LEAST(12, CEIL(LOG2(count(*) / 64.0))::INT)) r,
            |             LEAST(8, 63 // GREATEST(2, LEAST(12, CEIL(LOG2(count(*) / 64.0))::INT))) bands
            |      FROM e),
            |sig AS (SELECT vec_id, v,
            |  list_sum([CASE WHEN list_sum([v[j+1]*((((i*31 + j*17) % 13) - 6)::DOUBLE)
            |                               FOR j IN generate_series(0, len(v)-1)]) > 0
            |                 THEN (2**i)::BIGINT ELSE 0 END
            |            FOR i IN generate_series(0, p.r*p.bands - 1)]) sig
            |  FROM e, p),
            |bx AS (SELECT vec_id, sig, unnest(range(0, p.bands)) band, p.r r FROM sig, p),
            |banded AS (SELECT vec_id, band,
            |             (sig // (2**(r*band))::BIGINT) % (2**r)::BIGINT bucket FROM bx),
            |cand AS (SELECT DISTINCT l.vec_id a, r.vec_id b
            |         FROM banded l JOIN banded r
            |           ON l.band = r.band AND l.bucket = r.bucket AND l.vec_id < r.vec_id)
            |SELECT a id_a, b id_b, (floor((${dcos("ea.v", "eb.v")}) * 1e6 + 0.5) / 1e6) cos
            |FROM cand JOIN e ea ON ea.vec_id = a JOIN e eb ON eb.vec_id = b
            |WHERE (floor((${dcos("ea.v", "eb.v")}) * 1e6 + 0.5) / 1e6) >= 0.4
            |ORDER BY id_a, id_b""".stripMargin))

  /** Top-k search over int8-QUANTIZED embeddings — the 100 TB storage
    * posture exercised end-to-end: symmetric per-vector quantization
    * (`quantizeInt8`: scale = max|x|/127, codes in [-127,127] — 4×
    * smaller at rest than float32), dequantize, then the same
    * deterministic rank/tie-break cut as `sim_topk_bruteforce`. The twin
    * re-derives the identical codes in SQL, so this pins the
    * quantization arithmetic (round-half-away ties, zero-vector scale=1
    * guard) — not just "ANN still mostly works": any code differing by
    * ±1 anywhere shifts a 6dp cosine and hash-fails. Comparing against
    * `sim_topk_bruteforce` shows the recall cost of int8 at rest. */
  private val quantTopk = Q(
    "sim_quantized_topk",
    (s, dir) => {
      import s.implicits._
      // fused codegen'd round trip (graft.functions.Int8RoundTrip): the
      // HOF quantize∘dequantize chain is CodegenFallback and was the whole
      // 2.4 s vs 0.5 s gap against the unquantized sibling at sf0.1;
      // the kernel is spec-asserted bit-identical to the HOF form
      val e = emb(s, dir).select($"vec_id",
        graft.functions.Int8RoundTrip(VectorOps.toDouble($"embedding")).as("dv"))
      VectorOps.topKNeighbors(e.filter($"vec_id" < 5), e, "vec_id", "dv", 10)
        .orderBy($"query_id", $"rank")
    },
    Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
            |sc AS (SELECT vec_id, v,
            |         CASE WHEN list_max([abs(x) FOR x IN v]) > 0
            |              THEN list_max([abs(x) FOR x IN v])/127.0
            |              ELSE 1.0 END AS scale
            |       FROM e),
            |dq AS (SELECT vec_id,
            |         [round(x/scale)::INT * scale FOR x IN v] AS dv FROM sc),
            |scored AS (
            |  SELECT q.vec_id query_id, c.vec_id neighbor_id,
            |         (floor((${dcos("q.dv", "c.dv")}) * 1e6 + 0.5) / 1e6) cos
            |  FROM dq q JOIN dq c ON q.vec_id < 5 AND q.vec_id <> c.vec_id)
            |SELECT query_id, rank, neighbor_id, cos FROM (
            |  SELECT *, (row_number() OVER
            |    (PARTITION BY query_id ORDER BY cos DESC, neighbor_id))::INT rank
            |  FROM scored)
            |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin))

  /** IVF-style partition assignment: first 8 vectors act as centroids;
    * every vector goes to its max-cosine centroid. */
  private val ivf = Q(
    "sim_ivf_assign",
    (s, dir) => {
      import s.implicits._
      val e = emb(s, dir)
      VectorOps.assignToCentroids(e, e.filter($"vec_id" < 8),
          "vec_id", "embedding", "vec_id", "embedding")
        .groupBy($"centroid_id")
        .agg(count(lit(1)).as("n"), (floor(sum(floor($"cos" * 1e6 + 0.5)).cast("double") / count($"cos") + 0.5) / 1e6).as("avg_cos"))
        .orderBy($"centroid_id")
    },
    Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
            |c AS (SELECT vec_id centroid_id, v cv FROM e WHERE vec_id < 8),
            |scored AS (SELECT e.vec_id, c.centroid_id,
            |             (floor((${dcos("e.v", "c.cv")}) * 1e6 + 0.5) / 1e6) cos
            |           FROM e CROSS JOIN c),
            |best AS (SELECT * FROM (
            |  SELECT *, row_number() OVER
            |    (PARTITION BY vec_id ORDER BY cos DESC, centroid_id) rn FROM scored)
            |  WHERE rn = 1)
            |SELECT centroid_id, count(*) n, (floor(CAST(CAST(sum(CAST(floor(cos * 1e6 + 0.5) AS BIGINT)) AS STRING) AS DOUBLE) / count(cos) + 0.5) / 1e6) avg_cos
            |FROM best GROUP BY centroid_id ORDER BY centroid_id""".stripMargin))

  /** IVF top-k SEARCH (the ANN scale path): queries vec_id < 5 probe
    * their 3 nearest of the 8 fixture centroids and rank only those
    * lists' members — candidate cost is the probed lists, not N. Same
    * output shape (and same rounding/tie-breaks) as sim_topk_bruteforce,
    * so the two results are directly comparable; the full-probe
    * degenerate case is spec-asserted equal to brute force. */
  private val ivfTopk = Q(
    "sim_ivf_topk",
    (s, dir) => {
      import s.implicits._
      val e = emb(s, dir)
      VectorOps.ivfTopK(e.filter($"vec_id" < 5), e, e.filter($"vec_id" < 8),
          "vec_id", "embedding", "vec_id", "embedding", k = 10, nprobe = 3)
        .orderBy($"query_id", $"rank")
    },
    Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
            |c AS (SELECT vec_id centroid_id, v cv FROM e WHERE vec_id < 8),
            |assign AS (SELECT vec_id, centroid_id FROM (
            |  SELECT e.vec_id, c.centroid_id, row_number() OVER
            |    (PARTITION BY e.vec_id
            |     ORDER BY (floor((${dcos("e.v", "c.cv")}) * 1e6 + 0.5) / 1e6) DESC, c.centroid_id) rn
            |  FROM e CROSS JOIN c) WHERE rn = 1),
            |probes AS (SELECT query_id, centroid_id FROM (
            |  SELECT q.vec_id query_id, c.centroid_id, row_number() OVER
            |    (PARTITION BY q.vec_id
            |     ORDER BY (floor((${dcos("q.v", "c.cv")}) * 1e6 + 0.5) / 1e6) DESC, c.centroid_id) pr
            |  FROM e q CROSS JOIN c WHERE q.vec_id < 5) WHERE pr <= 3),
            |scored AS (
            |  SELECT p.query_id, a.vec_id neighbor_id, (floor((${dcos("q.v", "n.v")}) * 1e6 + 0.5) / 1e6) cos
            |  FROM probes p
            |  JOIN assign a ON a.centroid_id = p.centroid_id AND a.vec_id <> p.query_id
            |  JOIN e q ON q.vec_id = p.query_id
            |  JOIN e n ON n.vec_id = a.vec_id)
            |SELECT query_id, rank, neighbor_id, cos FROM (
            |  SELECT *, (row_number() OVER
            |    (PARTITION BY query_id ORDER BY cos DESC, neighbor_id))::INT rank
            |  FROM scored)
            |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin))

  /** Seeded k-means, driver-green via in-plan invariant booleans (the
    * sketch trick from stats_approx_percentiles): per-cluster non-empty,
    * every member assigned to its true argmin centroid, and Σ cluster
    * sizes = corpus count (exact, hash-compared against the oracle's own
    * count). The iterative fit itself has no SQL twin; the INVARIANTS of
    * a correct fit do. Cluster sizes/determinism stay spec-asserted via
    * [[VectorOps.kmeansClusters]]. */
  private val kmeans = Q(
    "sim_kmeans_clusters",
    (s, dir) => {
      import s.implicits._
      VectorOps.kmeansInvariants(emb(s, dir), "vec_id", "embedding", 8)
    },
    Some("""SELECT i::INT AS cluster, true AS n_pos, true AS assign_is_argmin,
           |       (SELECT count(*) FROM embeddings)::BIGINT AS n_total
           |FROM generate_series(0, 7) t(i) ORDER BY cluster""".stripMargin))

  /** Product-quantization ANN (m=16 subspaces × k=16 codewords over the
    * 64-dim embeddings — 16 small ints per vector, 16× smaller than
    * float32 at rest; m chosen by measured recall on the near-random
    * synthetic embeddings, where coarser m=4/8 drops below a usable
    * floor). The k-means codebook fit is iterative spark.ml (no SQL
    * oracle), so the driver-checkable query follows the
    * [[VectorOps.kmeansInvariants]] pattern: per query vector a row of
    * in-plan invariant booleans the oracle twin emits as literal trues —
    *   codes_in_range   — every code ∈ [0, 16) on every corpus row,
    *   lut_identity_ok  — the ADC lookup-table sum equals
    *                      ‖q − decode(codes)‖² (1e-9) on every returned
    *                      pair: the LUT assembly IS the reconstruction
    *                      distance (subspaces partition the dims), so a
    *                      wrong slice offset / code index / table layout
    *                      breaks it,
    *   adc_topk_ok      — DETERMINISTIC end-to-end search check: the ten
    *                      ADC distances returned per query equal (1e-9,
    *                      as multisets) a brute-force top-10 over the
    *                      reconstruction distance — ADC *is* that
    *                      distance, so banding/heap/rank bugs break this
    *                      regardless of data distribution,
    *   recall10_n       — MEASURED recall: |ADC top-10 ∩ exact-L2
    *                      top-10|, hash-pinned against a full SQL replay
    *                      of both searches (an asserted "≥ N" floor is
    *                      not an invariant — the sf0.1 sweep caught the
    *                      IVF-PQ variant legitimately at 0 on one query
    *                      at 10× the fixture size),
    *   n_total          — exact corpus count, hash-comparable.
    * Search cost posture: codebooks are literal, encode is scan-local,
    * queries broadcast, finish is the bounded-heap TopKAggregator. */
  private val pqInv = Q(
    "sim_pq_invariants",
    (s, dir) => {
      import s.implicits._
      val e = emb(s, dir)
      val cbs = pqCbs(s, dir)
      val enc = e.select($"vec_id",
        VectorOps.pqEncode($"embedding", cbs).as("codes"),
        VectorOps.toDouble($"embedding").as("v"))
      val global = enc.agg(
        min(forall($"codes", c => c >= 0 && c < 16)).as("codes_in_range"),
        count(lit(1)).as("n_total"))
      val queries = e.filter($"vec_id" < 4)
      val adc = VectorOps.pqAdcTopK(queries, e, "vec_id", "embedding", cbs, 10)
      // identity check on every returned pair: ADC distance recomputed
      // directly against the reconstruction. Codegen'd SqDist kernel —
      // same left-to-right fold as the HOF it replaces (property-tested);
      // the gate's cost should be its deliberate brute-force SEARCH, not
      // interpreted-HOF tax on every corpus×query row.
      def d2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        graft.functions.SqDist(a, b)
      val qv = queries.select($"vec_id".as("query_id"),
        VectorOps.toDouble($"embedding").as("qv"))
      val idOk = adc
        .join(enc.select($"vec_id".as("neighbor_id"), $"codes"), "neighbor_id")
        .join(broadcast(qv), "query_id")
        .withColumn("direct",
          d2($"qv", VectorOps.pqDecode($"codes", cbs)))
        .groupBy($"query_id")
        .agg(min(abs($"adc2" - $"direct") <= 1e-9).as("lut_identity_ok"),
          collect_list($"neighbor_id").as("adc_ids"),
          sort_array(collect_list($"adc2")).as("adc_d"))
      val topk10 = udaf(new graft.functions.TopKAggregator(10))
      // brute-force top-10 over the RECONSTRUCTION distance: ADC is this
      // exact distance, so the returned distance multiset must match
      val reconExact = enc.crossJoin(broadcast(qv))
        .filter($"query_id" =!= $"vec_id")
        .withColumn("dr", d2($"qv", VectorOps.pqDecode($"codes", cbs)))
        .groupBy($"query_id")
        .agg(topk10(-$"dr", $"vec_id").as("top"))
        .select($"query_id",
          sort_array(transform($"top", t => -t.getField("_1"))).as("recon_d"))
      // exact L2 top-10 (brute force over the broadcast queries) → recall
      val exact = enc.crossJoin(broadcast(qv))
        .filter($"query_id" =!= $"vec_id")
        .withColumn("d2x", d2($"qv", $"v"))
        .groupBy($"query_id")
        .agg(topk10(-$"d2x", $"vec_id").as("top"))
        .select($"query_id", transform($"top", t => t.getField("_2")).as("exact_ids"))
      idOk.join(reconExact, "query_id").join(exact, "query_id")
        .crossJoin(broadcast(global))
        .select($"query_id", $"codes_in_range", $"lut_identity_ok",
          (size($"adc_d") === 10 &&
            forall(zip_with($"adc_d", $"recon_d", (a, b) => abs(a - b) <= 1e-9),
              x => x)).as("adc_topk_ok"),
          size(array_intersect($"adc_ids", $"exact_ids")).as("recall10_n"),
          $"n_total")
        .orderBy($"query_id")
    },
    None,
    oracleFor = Some((s, dir) => pqRecallOracle(pqCbs(s, dir))),
    gate = true)

  /** Render the nested codebooks as a DuckDB literal table
    * cb(s, code, c): one VALUES row per (subspace, codeword). Doubles
    * print in shortest-round-trip form, which DuckDB's strtod parses
    * back to the identical bits. */
  private def cbValues(cbs: Seq[Seq[Seq[Double]]]): String =
    cbs.zipWithIndex.flatMap { case (book, s) =>
      book.zipWithIndex.map { case (cw, code) =>
        s"($s,$code,[${cw.mkString(",")}]::DOUBLE[])"
      }
    }.mkString(",")

  /** DuckDB twin for sim_pq_topk, with THIS dir's seeded codebook fit
    * serialized as a literal table (the sim_quantized_topk pattern — the
    * oracle re-derives the codes itself): encode = per-subspace argmin
    * codeword (tie → lowest code, matching pqEncode's
    * array_position-of-min), adc2 = Σ_s ‖q_sub − cb[s][code_s]‖² — the
    * LUT-sum ≡ reconstruction-distance identity sim_pq_invariants pins —
    * ranked (adc2 asc, neighbor_id asc), the TopKAggregator order. */
  /** The shared PQ replay CTE chain (codebook literal → encode → ADC
    * sums for queries `vec_id < nq`), ending at `adc(query_id,
    * neighbor_id, adc2)`. Finishers below rank it (topk twin) or
    * intersect it with exact search (recall twin). */
  private def pqAdcCtes(cbs: Seq[Seq[Seq[Double]]], nq: Int): String = {
    val m = cbs.size
    val sub = cbs.head.head.size
    s"""WITH cb(s, code, c) AS (VALUES ${cbValues(cbs)}),
       |e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
       |sl AS (SELECT vec_id, s, list_slice(v, s*$sub+1, s*$sub+$sub) sv
       |       FROM e, range($m) t(s)),
       |scored AS (SELECT sl.vec_id, sl.s, cb.code,
       |    list_sum([(sl.sv[i+1]-cb.c[i+1])*(sl.sv[i+1]-cb.c[i+1])
       |              FOR i IN generate_series(0, ${sub - 1})]) d2
       |  FROM sl JOIN cb ON cb.s = sl.s),
       |enc AS (SELECT vec_id, s, code FROM (
       |    SELECT *, row_number() OVER
       |      (PARTITION BY vec_id, s ORDER BY d2, code) rn FROM scored)
       |  WHERE rn = 1),
       |pairsub AS (SELECT q.vec_id query_id, en.vec_id neighbor_id, q.s s,
       |    list_sum([(q.sv[i+1]-cb.c[i+1])*(q.sv[i+1]-cb.c[i+1])
       |              FOR i IN generate_series(0, ${sub - 1})]) sd2
       |  FROM sl q
       |  JOIN enc en ON en.s = q.s AND en.vec_id <> q.vec_id
       |  JOIN cb ON cb.s = en.s AND cb.code = en.code
       |  WHERE q.vec_id < $nq),
       |-- subspace-ORDERED fold, not a bare GROUP BY sum: matches the
       |-- Spark leg's left-to-right zip_with/aggregate order bit-for-bit
       |-- (an unordered double sum differs by ulps, which flips ranks
       |-- between near-tied neighbors once the corpus is dense — the sf1
       |-- sweep caught exactly that)
       |adc AS (SELECT query_id, neighbor_id,
       |          list_sum(list(sd2 ORDER BY s)) adc2
       |        FROM pairsub GROUP BY 1, 2)""".stripMargin
  }

  private def pqTopkOracle(cbs: Seq[Seq[Seq[Double]]]): String =
    s"""${pqAdcCtes(cbs, 5)}
       |SELECT query_id, rank, neighbor_id, (floor((adc2) * 1e6 + 0.5) / 1e6) adc2 FROM (
       |  SELECT *, (row_number() OVER
       |    (PARTITION BY query_id ORDER BY adc2, neighbor_id))::INT rank
       |  FROM adc)
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** Recall twin for sim_pq_invariants: replay the ADC top-10 AND the
    * exact-L2 top-10, intersect — `recall10_n` is a MEASURED, hash-pinned
    * count, not an asserted floor. (The sf0.1 sweep showed why: "≥ N
    * survivors" is an empirical observation about one SF's data, not an
    * invariant — IVF-PQ recall legitimately hit 0 on one query at 10×
    * the fixture size. Both top-10 legs break distance ties by id, the
    * same order TopKAggregator uses: (score desc, id asc).) */
  private def pqRecallOracle(cbs: Seq[Seq[Seq[Double]]]): String = {
    val d = cbs.size * cbs.head.head.size
    s"""${pqAdcCtes(cbs, 4)},
       |adcids AS (SELECT query_id, neighbor_id FROM (
       |    SELECT *, row_number() OVER
       |      (PARTITION BY query_id ORDER BY adc2, neighbor_id) rank
       |    FROM adc) WHERE rank <= 10),
       |exact AS (SELECT query_id, vec_id FROM (
       |    SELECT q.vec_id query_id, t.vec_id, row_number() OVER
       |      (PARTITION BY q.vec_id ORDER BY
       |        list_sum([(q.v[i+1]-t.v[i+1])*(q.v[i+1]-t.v[i+1])
       |                  FOR i IN generate_series(0, ${d - 1})]), t.vec_id) rn
       |    FROM e q CROSS JOIN e t
       |    WHERE q.vec_id < 4 AND t.vec_id <> q.vec_id) WHERE rn <= 10),
       |recall AS (SELECT a.query_id, count(*) n FROM adcids a
       |  JOIN exact x ON x.query_id = a.query_id AND x.vec_id = a.neighbor_id
       |  GROUP BY 1)
       |SELECT q.vec_id AS query_id, true AS codes_in_range,
       |       true AS lut_identity_ok, true AS adc_topk_ok,
       |       coalesce(r.n, 0)::INT AS recall10_n,
       |       (SELECT count(*) FROM embeddings)::BIGINT AS n_total
       |FROM e q LEFT JOIN recall r ON r.query_id = q.vec_id
       |WHERE q.vec_id < 4 ORDER BY query_id""".stripMargin
  }

  /** The PQ search surface itself. Driver-checked at full rows+schema+
    * hash strength: the oracle twin embeds the memoized seeded codebook
    * fit for the verify dir (via [[Q.oracleFor]]) and replays encode +
    * ADC ranking in SQL, so any code/LUT/rank divergence hash-fails.
    * The invariants twin above additionally pins the math identities. */
  private val pqTopk = Q(
    "sim_pq_topk",
    (s, dir) => {
      import s.implicits._
      val e = emb(s, dir)
      val cbs = pqCbs(s, dir)
      VectorOps.pqAdcTopK(e.filter($"vec_id" < 5), e, "vec_id", "embedding",
          cbs, 10)
        .withColumn("adc2", (floor(($"adc2") * 1e6 + 0.5) / 1e6))
        .orderBy($"query_id", $"rank")
    },
    None,
    oracleFor = Some((s, dir) => pqTopkOracle(pqCbs(s, dir))))

  /** IVF-PQ ([[VectorOps.ivfPqTopK]]): coarse L2 quantizer (first 8
    * vectors as centroids, same fixture as sim_ivf_*) + PQ over
    * RESIDUALS (m=16 × k=16), searched via per-probed-list ADC tables,
    * nprobe = 3. Driver-checkable the same way sim_pq_invariants is —
    * in-plan invariant booleans the oracle emits as literal trues:
    *   codes_in_range      — every residual code ∈ [0, 16),
    *   adc_identity_ok     — every returned adc2 equals
    *                         ‖q − (c + decode(codes))‖² (1e-9): the
    *                         two-stage reconstruction identity; a wrong
    *                         residual sign, probe/assignment centroid
    *                         mismatch, or LUT layout bug breaks it,
    *   probed_ok           — every returned neighbor's assigned list is
    *                         inside the query's nprobe-nearest probe set
    *                         (the list-restriction contract),
    *   restricted_exact_ok — DETERMINISTIC end-to-end: the k ADC
    *                         distances equal (as multisets) a brute-force
    *                         top-k over the reconstruction distance
    *                         restricted to the probed lists,
    *   recall10_n          — MEASURED recall |ADC top-10 ∩ exact-L2
    *                         top-10|, hash-pinned against full replay
    *                         (legitimately 0 for query 0 at sf0.1 —
    *                         nprobe=3 over 8 lists misses all exact
    *                         neighbors there; measuring, not asserting,
    *                         is the scale-honest gate),
    *   n_total             — exact corpus count, hash-comparable. */
  private val ivfPqInv = Q(
    "sim_ivfpq_invariants",
    (s, dir) => {
      import s.implicits._
      val e = emb(s, dir)
      val cents = e.filter($"vec_id" < 8)
      val cbs = ivfPqCbs(s, dir)
      val nprobe = 3
      // codegen'd SqDist kernel (same fold order as the HOF; see
      // sim_pq_invariants)
      def d2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        graft.functions.SqDist(a, b)
      val lists = VectorOps.assignWithResidual(e, cents, "vec_id",
          "embedding", "vec_id", "embedding")
        .select($"vec_id".as("neighbor_id"), $"centroid_id",
          VectorOps.pqEncode($"residual", cbs).as("codes"))
      val global = lists.agg(
        min(forall($"codes", c => c >= 0 && c < 16)).as("codes_in_range"),
        count(lit(1)).as("n_total"))
      val queries = e.filter($"vec_id" < 4)
      val qv = queries.select($"vec_id".as("query_id"),
        VectorOps.toDouble($"embedding").as("qv"))
      val cv = cents.select($"vec_id".as("centroid_id"),
        VectorOps.toDouble($"embedding").as("cv"))
      // the probe sets, recomputed independently of the operator (window
      // over the bounded query × centroid table)
      val wp = org.apache.spark.sql.expressions.Window
        .partitionBy($"query_id").orderBy($"pd2", $"centroid_id")
      val probes = qv.crossJoin(broadcast(cv))
        .withColumn("pd2", d2($"qv", $"cv"))
        .withColumn("pr", row_number().over(wp))
        .filter($"pr" <= nprobe)
        .select($"query_id", $"centroid_id")
      val adc = VectorOps.ivfPqTopK(queries, e, cents, "vec_id", "embedding",
        "vec_id", "embedding", cbs, 10, nprobe)
      // reconstruction vector per corpus row: c + decode(codes) — one
      // codegen'd pass (r15; the zip_with form was interpreted per row)
      val recon = lists.join(broadcast(cv), "centroid_id")
        .select($"neighbor_id", $"centroid_id",
          VectorOps.pqReconstruct($"cv", $"codes", cbs).as("rv"))
      val pairChecks = adc
        .join(recon, "neighbor_id")
        .join(broadcast(qv), "query_id")
        .withColumn("direct", d2($"qv", $"rv"))
        .join(broadcast(probes.withColumn("probed", lit(true))),
          Seq("query_id", "centroid_id"), "left")
        .groupBy($"query_id")
        .agg(min(abs($"adc2" - $"direct") <= 1e-9).as("adc_identity_ok"),
          min(coalesce($"probed", lit(false))).as("probed_ok"),
          collect_list($"neighbor_id").as("adc_ids"),
          sort_array(collect_list($"adc2")).as("adc_d"))
      // brute force over the reconstruction distance restricted to the
      // probed lists — the deterministic end-to-end search check
      val topk10 = udaf(new graft.functions.TopKAggregator(10))
      val restricted = recon
        .join(broadcast(probes), "centroid_id")
        .join(broadcast(qv), "query_id")
        .filter($"query_id" =!= $"neighbor_id")
        .withColumn("dr", d2($"qv", $"rv"))
        .groupBy($"query_id")
        .agg(topk10(-$"dr", $"neighbor_id").as("top"))
        .select($"query_id",
          sort_array(transform($"top", t => -t.getField("_1"))).as("restr_d"))
      // exact L2 top-10 over the raw floats → recall floor
      val ev = e.select($"vec_id", VectorOps.toDouble($"embedding").as("v"))
      val exact = ev.crossJoin(broadcast(qv))
        .filter($"query_id" =!= $"vec_id")
        .withColumn("d2x", d2($"qv", $"v"))
        .groupBy($"query_id")
        .agg(topk10(-$"d2x", $"vec_id").as("top"))
        .select($"query_id", transform($"top", t => t.getField("_2")).as("exact_ids"))
      pairChecks.join(restricted, "query_id").join(exact, "query_id")
        .crossJoin(broadcast(global))
        .select($"query_id", $"codes_in_range", $"adc_identity_ok", $"probed_ok",
          (size($"adc_d") === 10 &&
            forall(zip_with($"adc_d", $"restr_d", (a, b) => abs(a - b) <= 1e-9),
              x => x)).as("restricted_exact_ok"),
          size(array_intersect($"adc_ids", $"exact_ids")).as("recall10_n"),
          $"n_total")
        .orderBy($"query_id")
    },
    None,
    oracleFor = Some((s, dir) => ivfPqRecallOracle(ivfPqCbs(s, dir))),
    gate = true)

  /** DuckDB twin for sim_ivfpq_topk: residual codebooks as a literal
    * table, plus the full two-stage replay — L2 coarse assignment
    * (tie → min centroid_id, matching assignWithResidual's min_by),
    * residual encode, nprobe=3 probe sets (pd2 asc, centroid_id asc),
    * candidates restricted to probed lists, adc2 =
    * Σ_s ‖(q−c)_sub − cb[s][code_s]‖² (the reconstruction identity
    * sim_ivfpq_invariants pins), ranked (adc2 asc, neighbor_id asc). */
  /** The shared IVF-PQ replay CTE chain (coarse assign → residual encode
    * → probe sets for queries `vec_id < nq` → list-restricted ADC sums),
    * ending at `adc(query_id, neighbor_id, adc2)`. */
  private def ivfPqAdcCtes(cbs: Seq[Seq[Seq[Double]]], nq: Int): String = {
    val m = cbs.size
    val sub = cbs.head.head.size
    val d = m * sub
    def l2(a: String, b: String) =
      s"""list_sum([($a[i+1]-$b[i+1])*($a[i+1]-$b[i+1])
         |              FOR i IN generate_series(0, ${d - 1})])""".stripMargin
    s"""WITH cb(s, code, c) AS (VALUES ${cbValues(cbs)}),
       |e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
       |cent AS (SELECT vec_id centroid_id, v cv FROM e WHERE vec_id < 8),
       |asg AS (SELECT vec_id, centroid_id FROM (
       |    SELECT e.vec_id, cent.centroid_id, row_number() OVER
       |      (PARTITION BY e.vec_id ORDER BY ${l2("e.v", "cent.cv")},
       |       cent.centroid_id) rn
       |    FROM e CROSS JOIN cent) WHERE rn = 1),
       |res AS (SELECT e.vec_id, a.centroid_id,
       |    [e.v[i+1]-c.cv[i+1] FOR i IN generate_series(0, ${d - 1})] rv
       |  FROM e JOIN asg a USING (vec_id)
       |  JOIN cent c ON c.centroid_id = a.centroid_id),
       |rsl AS (SELECT vec_id, centroid_id, s,
       |          list_slice(rv, s*$sub+1, s*$sub+$sub) sv
       |        FROM res, range($m) t(s)),
       |scored AS (SELECT rsl.vec_id, rsl.centroid_id, rsl.s, cb.code,
       |    list_sum([(rsl.sv[i+1]-cb.c[i+1])*(rsl.sv[i+1]-cb.c[i+1])
       |              FOR i IN generate_series(0, ${sub - 1})]) d2
       |  FROM rsl JOIN cb ON cb.s = rsl.s),
       |enc AS (SELECT vec_id, centroid_id, s, code FROM (
       |    SELECT *, row_number() OVER
       |      (PARTITION BY vec_id, s ORDER BY d2, code) rn FROM scored)
       |  WHERE rn = 1),
       |probes AS (SELECT query_id, centroid_id FROM (
       |    SELECT q.vec_id query_id, c.centroid_id, row_number() OVER
       |      (PARTITION BY q.vec_id ORDER BY ${l2("q.v", "c.cv")},
       |       c.centroid_id) pr
       |    FROM e q CROSS JOIN cent c WHERE q.vec_id < $nq) WHERE pr <= 3),
       |qres AS (SELECT p.query_id, p.centroid_id,
       |    [q.v[i+1]-c.cv[i+1] FOR i IN generate_series(0, ${d - 1})] rv
       |  FROM probes p JOIN e q ON q.vec_id = p.query_id
       |  JOIN cent c ON c.centroid_id = p.centroid_id),
       |qsl AS (SELECT query_id, centroid_id, s,
       |          list_slice(rv, s*$sub+1, s*$sub+$sub) sv
       |        FROM qres, range($m) t(s)),
       |pairsub AS (SELECT q.query_id, en.vec_id neighbor_id, q.s s,
       |    list_sum([(q.sv[i+1]-cb.c[i+1])*(q.sv[i+1]-cb.c[i+1])
       |              FOR i IN generate_series(0, ${sub - 1})]) sd2
       |  FROM qsl q
       |  JOIN enc en ON en.centroid_id = q.centroid_id AND en.s = q.s
       |             AND en.vec_id <> q.query_id
       |  JOIN cb ON cb.s = en.s AND cb.code = en.code),
       |-- subspace-ORDERED fold (see pqAdcCtes): bit-equal to the Spark
       |-- leg's left-to-right aggregate, so ranks can't flip on ulps
       |adc AS (SELECT query_id, neighbor_id,
       |          list_sum(list(sd2 ORDER BY s)) adc2
       |        FROM pairsub GROUP BY 1, 2)""".stripMargin
  }

  private def ivfPqTopkOracle(cbs: Seq[Seq[Seq[Double]]]): String =
    s"""${ivfPqAdcCtes(cbs, 5)}
       |SELECT query_id, rank, neighbor_id, (floor((adc2) * 1e6 + 0.5) / 1e6) adc2 FROM (
       |  SELECT *, (row_number() OVER
       |    (PARTITION BY query_id ORDER BY adc2, neighbor_id))::INT rank
       |  FROM adc)
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** Recall twin for sim_ivfpq_invariants — same shape as
    * [[pqRecallOracle]]: both searches fully replayed, `recall10_n`
    * hash-pinned. This is the query whose "≥ 1 survivor" floor the
    * sf0.1 sweep falsified (query 0 at 2000 vectors, nprobe=3: the
    * probed lists simply don't contain any exact top-10 member — real
    * ANN behavior, so the gate now measures it instead of asserting). */
  private def ivfPqRecallOracle(cbs: Seq[Seq[Seq[Double]]]): String = {
    val d = cbs.size * cbs.head.head.size
    s"""${ivfPqAdcCtes(cbs, 4)},
       |adcids AS (SELECT query_id, neighbor_id FROM (
       |    SELECT *, row_number() OVER
       |      (PARTITION BY query_id ORDER BY adc2, neighbor_id) rank
       |    FROM adc) WHERE rank <= 10),
       |exact AS (SELECT query_id, vec_id FROM (
       |    SELECT q.vec_id query_id, t.vec_id, row_number() OVER
       |      (PARTITION BY q.vec_id ORDER BY
       |        list_sum([(q.v[i+1]-t.v[i+1])*(q.v[i+1]-t.v[i+1])
       |                  FOR i IN generate_series(0, ${d - 1})]), t.vec_id) rn
       |    FROM e q CROSS JOIN e t
       |    WHERE q.vec_id < 4 AND t.vec_id <> q.vec_id) WHERE rn <= 10),
       |recall AS (SELECT a.query_id, count(*) n FROM adcids a
       |  JOIN exact x ON x.query_id = a.query_id AND x.vec_id = a.neighbor_id
       |  GROUP BY 1)
       |SELECT q.vec_id AS query_id, true AS codes_in_range,
       |       true AS adc_identity_ok, true AS probed_ok,
       |       true AS restricted_exact_ok,
       |       coalesce(r.n, 0)::INT AS recall10_n,
       |       (SELECT count(*) FROM embeddings)::BIGINT AS n_total
       |FROM e q LEFT JOIN recall r ON r.query_id = q.vec_id
       |WHERE q.vec_id < 4 ORDER BY query_id""".stripMargin
  }

  /** The IVF-PQ search surface itself. Driver-checked at full
    * rows+schema+hash strength via [[Q.oracleFor]]: the twin embeds the
    * memoized residual codebooks and replays coarse-assign → residual
    * encode → probe → list-restricted ADC ranking entirely in SQL. */
  private val ivfPqTopk = Q(
    "sim_ivfpq_topk",
    (s, dir) => {
      import s.implicits._
      val e = emb(s, dir)
      val cents = e.filter($"vec_id" < 8)
      val cbs = ivfPqCbs(s, dir)
      VectorOps.ivfPqTopK(e.filter($"vec_id" < 5), e, cents, "vec_id",
          "embedding", "vec_id", "embedding", cbs, 10, 3)
        .withColumn("adc2", (floor(($"adc2") * 1e6 + 0.5) / 1e6))
        .orderBy($"query_id", $"rank")
    },
    None,
    oracleFor = Some((s, dir) => ivfPqTopkOracle(ivfPqCbs(s, dir))))

  def all: Seq[Q] = Seq(topk, pairs, lsh, lshAuto, quantTopk, ivf, ivfTopk,
    kmeans, pqInv, pqTopk, ivfPqInv, ivfPqTopk)
}
