package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.core.Lineage.LineageOps
import graft.operators.{DedupOps, HygieneOps, TextOps}

/** [EXT] Deduplication queries over `documents` (SURVEY §2E): exact
  * hash-groupBy, inverted-index n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale notes: candidate generation is always an equi-join on a derived
  * key (shingle / LSH bucket / simhash prefix) — never an all-pairs cross
  * join. DuckDB oracles rerun the identical integer arithmetic, so pair
  * sets match exactly.
  */
object DedupQueries {

  private def docs(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables(s, dir).documents

  /** Shared DuckDB CTE body (no WITH keyword — callers pick `WITH` or
    * `WITH RECURSIVE`): tokens + distinct 2-gram shingles per doc. */
  private val shingleCteBody =
    """d AS (SELECT doc_id, string_split(text,' ') toks FROM documents),
      |sh AS (SELECT doc_id,
      |         list_distinct([array_to_string(toks[i:i+1],' ')
      |                        FOR i IN generate_series(1, len(toks)-1)]) s
      |       FROM d)""".stripMargin

  private val shingleCte = s"WITH $shingleCteBody"

  private val exact = Q(
    "dedup_exact",
    (s, dir) => {
      import s.implicits._
      DedupOps.exactDedupSummary(docs(s, dir), md5($"text"), "doc_id")
        .orderBy($"keep_id")
    },
    Some("""SELECT md5(text) AS fingerprint, min(doc_id) AS keep_id,
           |       count(*) AS n_dups
           |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin))

  private val keepFirst = Q(
    "dedup_keep_first",
    (s, dir) => {
      import s.implicits._
      DedupOps.keepFirst(docs(s, dir), Seq("lang", "source"), "doc_id")
        .select($"doc_id", $"lang", $"source")
        .orderBy($"doc_id")
    },
    Some("""SELECT doc_id, lang, source FROM (
           |  SELECT doc_id, lang, source,
           |         row_number() OVER (PARTITION BY lang, source ORDER BY doc_id) rn
           |  FROM documents) WHERE rn = 1 ORDER BY doc_id""".stripMargin))

  /** Exact-Jaccard pair CTE chain at `t` (count-based): the intersection
    * size is counted DURING the shared-token posting join (one hash
    * aggregate over Σ df² rows) instead of re-materializing candidate
    * pairs and intersecting ~900-element lists per pair — the list-op
    * verify join was the sf0.1 ORACLE-TIMEOUT (>600 s; this form runs in
    * ~9 s). Exact: |A∩B| = count of shared distinct tokens, |A∪B| =
    * |A|+|B|−|A∩B|, and the qualifying division is the same two exact
    * integers both engines divide. Yields `prs(a, b, c, na, nb)`. */
  // every CTE here is AS MATERIALIZED: DuckDB 1.0 INLINES a CTE at each
  // reference site, so a chain where step k references step k−1 twice
  // (the LP unroll below) re-expands the whole pipeline 2^k times — the
  // sf0.1 >900 s ORACLE-TIMEOUT was exponential planning, not data size.
  // Materialized, the same unroll runs in ~10 s at sf0.1.
  private[queries] def pairCteBody(t: Double, src: String = "documents"): String =
    s"""d AS MATERIALIZED (SELECT doc_id, string_split(text,' ') toks FROM $src),
       |sh AS MATERIALIZED (SELECT doc_id,
       |         list_distinct([array_to_string(toks[i:i+1],' ')
       |                        FOR i IN generate_series(1, len(toks)-1)]) s
       |       FROM d),
       |sz AS MATERIALIZED (SELECT doc_id, len(s) AS n FROM sh),
       |post AS MATERIALIZED (SELECT doc_id, unnest(s) tok FROM sh),
       |common AS MATERIALIZED (SELECT l.doc_id a, r.doc_id b, count(*) AS c
       |           FROM post l JOIN post r
       |             ON l.tok = r.tok AND l.doc_id < r.doc_id
       |           GROUP BY 1, 2),
       |prs AS MATERIALIZED (SELECT a, b, c, za.n AS na, zb.n AS nb
       |        FROM common JOIN sz za ON za.doc_id = a
       |                    JOIN sz zb ON zb.doc_id = b
       |        WHERE c::DOUBLE / (za.n + zb.n - c) >= $t)""".stripMargin

  /** Exact-Jaccard oracle at `t` — the ground truth BOTH the dense kernel
    * and the PPJoin prefix-filtered path must reproduce exactly. */
  private def exactJaccardOracle(t: Double): String =
    s"""WITH ${pairCteBody(t)}
       |SELECT a AS id_a, b AS id_b,
       |       (floor((c::DOUBLE / (na + nb - c)) * 1e6 + 0.5) / 1e6) AS jaccard
       |FROM prs ORDER BY id_a, id_b""".stripMargin

  /** Fixed-iteration unrolled min-label propagation over `prs` — the
    * recursive-CTE reachability twin was worst-case quadratic in DuckDB
    * (the second sf0.1 ORACLE-TIMEOUT class). Min labels travel one hop
    * per step, so `iters` ≥ graph diameter is exact; the measured sf0.1
    * fixpoint is 2 steps (max cluster 4), unrolled to 8 for margin, and
    * `converged` feeds a sentinel row in each consumer that turns an
    * un-converged unroll into a LOUD row mismatch, never a silent pass.
    * Yields `labeled(doc_id, rep)` over ALL documents + `converged`. */
  private[queries] def ccCteBody(iters: Int, src: String = "documents"): String = {
    val steps = (1 to iters).map { k =>
      s"""l$k AS MATERIALIZED (SELECT l.id, least(l.lab, coalesce(min(n.lab), l.lab)) AS lab
         |  FROM l${k - 1} l LEFT JOIN edges e ON e.src = l.id
         |  LEFT JOIN l${k - 1} n ON n.id = e.dst
         |  GROUP BY l.id, l.lab)""".stripMargin
    }.mkString(",\n")
    s"""edges AS MATERIALIZED (SELECT a AS src, b AS dst FROM prs
       |          UNION SELECT b, a FROM prs),
       |l0 AS MATERIALIZED (SELECT doc_id AS id, doc_id AS lab FROM $src),
       |$steps,
       |converged AS MATERIALIZED (SELECT count(*) AS n_moved FROM l$iters j
       |              JOIN l${iters - 1} p USING (id) WHERE j.lab <> p.lab),
       |labeled AS (SELECT id AS doc_id, lab AS rep FROM l$iters)""".stripMargin
  }

  private val jaccard = Q(
    "dedup_ngram_jaccard",
    (s, dir) => {
      import s.implicits._
      val withShingles = docs(s, dir)
        .select($"doc_id", TextOps.shingles($"text", 2).as("shingles"))
      DedupOps.jaccardPairsDense(withShingles, "doc_id", "shingles", 0.5)
        // repartition fence before the sort: the dense kernel's final
        // stage (broadcast nested-loop join + overlap kernel) has no
        // trailing exchange, so the orderBy's range-sampling pass would
        // re-execute the whole O(n²) kernel; fenced, sampling re-reads
        // materialized shuffle blocks of the (tiny) pair set instead
        // (A/B: 1.76x at sf0.1)
        .repartition(s.sparkContext.defaultParallelism)
        .orderBy($"id_a", $"id_b")
    },
    Some(exactJaccardOracle(0.5)))

  /** PPJoin prefix-filtered set-similarity join — the 100 TB candidate
    * generator (DedupOps.jaccardPairs), checked against the SAME exact-
    * Jaccard ground-truth oracle as the dense kernel. Runs at t=0.9, the
    * threshold the clean-corpus pipeline deploys it at: prefix filtering
    * prunes by 1−t, and this corpus (synthetic hot vocabulary: ~930
    * distinct shingles across every doc, median df≈285) is the prefix
    * filter's worst case at low t — there the dense kernel is the declared
    * plan (dedup_ngram_jaccard), while high-t near-dup dedup is PPJoin's
    * domain. On this corpus the t=0.9 pair set equals the t=0.5 one (all
    * near-dups are near-identical), so the two queries' results coincide
    * while exercising both kernels. */
  private val ppjoin = Q(
    "dedup_ppjoin_jaccard",
    (s, dir) => {
      import s.implicits._
      val withShingles = docs(s, dir)
        .select($"doc_id", TextOps.shingles($"text", 2).as("shingles"))
      DedupOps.jaccardPairs(withShingles, "doc_id", "shingles", 0.9)
        .orderBy($"id_a", $"id_b")
    },
    Some(exactJaccardOracle(0.9)))

  /** Naive inverted-index candidate pairs over word-5-gram shingles — the
    * third candidate-generation regime: selective postings (5-gram df ≤ 4
    * on this corpus) make the plain shingle equi-join cheap and EXACT (any
    * pair sharing a 5-gram is found). Regime guide: hot small vocabulary →
    * dense kernel; high threshold → PPJoin prefix index; selective
    * postings → this. */
  private val inverted = Q(
    "dedup_inverted_index_pairs",
    (s, dir) => {
      import s.implicits._
      val withShingles = docs(s, dir)
        .select($"doc_id", TextOps.shingles($"text", 5).as("shingles"))
      DedupOps.invertedIndexPairs(withShingles, "doc_id", "shingles")
        .orderBy($"id_a", $"id_b")
    },
    Some("""WITH d AS (SELECT doc_id, string_split(text,' ') toks FROM documents),
           |sh AS (SELECT doc_id,
           |         list_distinct([array_to_string(toks[i:i+4],' ')
           |                        FOR i IN generate_series(1, len(toks)-4)]) s
           |       FROM d),
           |post AS (SELECT doc_id, unnest(s) tok FROM sh)
           |SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
           |FROM post l JOIN post r ON l.tok = r.tok AND l.doc_id < r.doc_id
           |ORDER BY id_a, id_b""".stripMargin))

  /** Cluster resolution: near-dup pairs (exact Jaccard ≥ 0.5) resolved to
    * connected components — every doc labeled with its cluster's min id
    * (singletons label themselves). Spark: iterative min-label
    * propagation; oracle: recursive-CTE reachability. Pairs come from the
    * COST-BASED generator ([[DedupOps.jaccardPairsAuto]]): below the
    * measured ~10k-doc crossover the dense merge kernel wins on
    * constants; above it the PPJoin prefix index wins on candidate
    * growth (at the 10× headroom SF the dense generator alone was ~65×,
    * PPJoin near-linear). Both forms are property-tested identical, so
    * the choice never changes the answer — only the plan. */
  private val components = Q(
    "dedup_components",
    (s, dir) => {
      import s.implicits._
      val d = docs(s, dir)
      val withShingles = d
        .select($"doc_id", TextOps.shingles($"text", 2).as("shingles"))
      val pairs = DedupOps.jaccardPairsAuto(withShingles, "doc_id", "shingles", 0.5)
      val comps = DedupOps.connectedComponents(pairs, "id_a", "id_b")
      d.select($"doc_id")
        .join(comps, $"doc_id" === $"id", "left")
        .select($"doc_id", coalesce($"label", $"doc_id").as("rep"))
        .orderBy($"doc_id")
    },
    Some(s"""WITH ${pairCteBody(0.5)},
            |${ccCteBody(8)}
            |SELECT doc_id, rep FROM labeled
            |UNION ALL SELECT -1, -1 FROM converged WHERE n_moved > 0
            |ORDER BY doc_id""".stripMargin))

  /** MinHash(k=16) + LSH(4 bands × 4 rows) candidates, verified with true
    * Jaccard ≥ 0.8 — the scale path for near-dup dedup: candidate cost is
    * Σ bucket², not N². */
  private val minhash = Q(
    "dedup_minhash_lsh",
    (s, dir) => {
      import s.implicits._
      // materialize the shingle sets once: they feed signature generation
      // AND two verification joins (3 re-evaluations of an interpreted HOF
      // otherwise)
      val withShingles = docs(s, dir)
        .select($"doc_id", TextOps.shingles($"text", 2).as("shingles"))
        .select($"doc_id", array_distinct($"shingles").as("shingles"))
        .cut(eager = false)
      val signed = DedupOps.minhashSignatures(withShingles, "doc_id", "shingles", 16)
        .withColumnRenamed("id", "doc_id")
      val cands = DedupOps.lshCandidatePairs(signed, "doc_id", "sig", 4, 4)
      val sets = withShingles.select($"doc_id".as("id"), $"shingles".as("ss"))
      cands
        .join(sets.withColumnRenamed("id", "id_a").withColumnRenamed("ss", "s_a"), "id_a")
        .join(sets.withColumnRenamed("id", "id_b").withColumnRenamed("ss", "s_b"), "id_b")
        // filter on the UNROUNDED ratio (matching the oracle's WHERE),
        // round only for output
        .withColumn("raw", size(array_intersect($"s_a", $"s_b")).cast("double") /
          size(array_union($"s_a", $"s_b")))
        .filter($"raw" >= 0.8)
        .select($"id_a", $"id_b", (floor(($"raw") * 1e6 + 0.5) / 1e6).as("jaccard"))
        .orderBy($"id_a", $"id_b")
    },
    Some {
      val coeffs = DedupOps.minhashCoeffs(16)
      val p = DedupOps.minhashPrime
      val sigExpr = coeffs.map { case (a, b) =>
        s"coalesce(list_min([(${a}*h + ${b}) % $p FOR h IN hs]), $p)"
      }.mkString("[", ",\n      ", "]")
      s"""$shingleCte,
         |h AS (SELECT doc_id, [('0x'||substr(md5(t),1,8))::BIGINT FOR t IN s] hs FROM sh),
         |sig AS (SELECT doc_id, $sigExpr sig FROM h),
         |banded AS (SELECT doc_id, b AS band,
         |             array_to_string(sig[4*b+1 : 4*b+4], ',') AS bucket
         |           FROM sig, generate_series(0,3) g(b)),
         |cand AS (SELECT DISTINCT l.doc_id a, r.doc_id b
         |         FROM banded l JOIN banded r
         |           ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id)
         |SELECT a AS id_a, b AS id_b,
         |       (floor((len(list_intersect(sa.s, sb.s))::DOUBLE
         |             / len(list_distinct(list_concat(sa.s, sb.s)))) * 1e6 + 0.5) / 1e6) AS jaccard
         |FROM cand JOIN sh sa ON sa.doc_id = a JOIN sh sb ON sb.doc_id = b
         |WHERE len(list_intersect(sa.s, sb.s))::DOUBLE
         |      / len(list_distinct(list_concat(sa.s, sb.s))) >= 0.8
         |ORDER BY id_a, id_b""".stripMargin
    })

  /** Per-doc 64-bit SimHash + near-dup pairs at hamming ≤ 3. Pairing is a
    * band join on the hash's 4 × 16-bit bands: ≤ 3 differing bits can
    * touch at most 3 bands, so every qualifying pair shares at least one
    * intact band (pigeonhole) — the join is a superset, then the exact
    * 64-bit hamming filters. The band join routes through
    * [[DedupOps.bucketedPairs]]' triangle-block hot-bucket sharding, and
    * 16-bit bands give 65 536 buckets per band — together these replace
    * the r7 geometry (8-bit bands = 256 buckets = ≥N²/16k candidate pairs
    * on ANY corpus) with Σ bucket² over a 65k-way histogram plus a skew
    * guard, the same scale posture as the MinHash-LSH and dHash plans.
    * The hamming join-back ships only the narrow (id, 4×i64 bands) table. */
  private val simhashQ = Q(
    "dedup_simhash",
    (s, dir) => {
      import s.implicits._
      val sim = DedupOps.simhashes64(docs(s, dir), "doc_id", TextOps.tokens($"text"))
      val banded = sim.select($"id", $"bands", posexplode($"bands"))
        .select($"id", $"bands", $"pos".as("band"), $"col".as("bucket"))
      DedupOps.bucketedPairs(banded, carry = Seq("bands"))
        .select($"id_a", $"id_b",
          DedupOps.hammingBands($"bands_a", $"bands_b").cast("int").as("hamming"))
        .filter($"hamming" <= 3)
        .orderBy($"id_a", $"id_b")
    },
    Some("""WITH d AS (SELECT doc_id, string_split(text,' ') toks FROM documents),
           |h AS (SELECT doc_id,
           |        [('0x'||substr(md5(t),1,8))::BIGINT FOR t IN toks] hs1,
           |        [('0x'||substr(md5(t),9,8))::BIGINT FOR t IN toks] hs2
           |      FROM d),
           |bits AS (SELECT doc_id, list_concat(
           |        [list_sum([((h//(2**j)::BIGINT)%2)*2-1 FOR h IN hs1]) FOR j IN generate_series(0,31)],
           |        [list_sum([((h//(2**j)::BIGINT)%2)*2-1 FOR h IN hs2]) FOR j IN generate_series(0,31)]) bs
           |      FROM h),
           |sim AS (SELECT doc_id,
           |        [(list_sum([CASE WHEN bs[16*b+jj+1] > 0 THEN (2**jj)::BIGINT ELSE 0 END
           |                    FOR jj IN generate_series(0,15)]))::BIGINT
           |         FOR b IN generate_series(0,3)] bands
           |      FROM bits)
           |SELECT id_a, id_b, hamming FROM (
           |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |         (bit_count(xor(a.bands[1], b.bands[1])) + bit_count(xor(a.bands[2], b.bands[2]))
           |        + bit_count(xor(a.bands[3], b.bands[3])) + bit_count(xor(a.bands[4], b.bands[4])))::INT AS hamming
           |  FROM sim a JOIN sim b ON a.doc_id < b.doc_id)
           |WHERE hamming <= 3
           |ORDER BY id_a, id_b""".stripMargin))

  /** C4-style line-level dedup: 10-token chunks (the corpus has no
    * newlines — the fixed-width chunk stands in for C4's line), global
    * keep-first per distinct chunk, documents reassembled from their
    * surviving chunks. One window shuffle on the chunk + one reassembly
    * aggregate — no pair join anywhere. */
  private val lines = Q(
    "dedup_lines",
    (s, dir) => {
      import s.implicits._
      DedupOps.lineDedup(docs(s, dir), "doc_id", "text", 10)
        .withColumnRenamed("id", "doc_id")
        .orderBy($"doc_id")
    },
    Some("""WITH t AS (SELECT doc_id, string_split(text,' ') toks FROM documents),
           |ch AS (SELECT doc_id,
           |         unnest([{'pos': i,
           |                  'chunk': array_to_string(list_slice(toks, i*10+1, i*10+10), ' ')}
           |                 FOR i IN generate_series(0, CAST(ceil(len(toks)/10.0) AS INT) - 1)],
           |                recursive := true)
           |       FROM t),
           |r AS (SELECT *, row_number() OVER
           |        (PARTITION BY chunk ORDER BY doc_id, pos) rn FROM ch)
           |SELECT doc_id, count(*)::INT AS n_chunks,
           |       coalesce(sum(CASE WHEN rn = 1 THEN 1 END), 0)::INT AS n_kept,
           |       coalesce(string_agg(chunk, ' ' ORDER BY pos)
           |                FILTER (WHERE rn = 1), '') AS clean_text
           |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** Delta dedup with a two-sided Bloom prefilter: events from 2024-01-02
    * onward whose user was never seen before the cutoff (new-user
    * detection against a history table). Bloom misses skip the join
    * scan-locally; the exact anti-join runs only on probe hits vs
    * bloom-reduced history — result is EXACT (≡ plain anti join), which is
    * what the oracle checks. */
  private val bloomDelta = Q(
    "dedup_bloom_delta",
    (s, dir) => {
      import s.implicits._
      val e = Tables(s, dir).events
      val cut = lit("2024-01-02").cast("timestamp")
      DedupOps.bloomDeltaNew(
          e.filter($"ts" >= cut), e.filter($"ts" < cut), "user_id",
          numBits = 1 << 16)
        .select($"event_id", $"user_id", $"event_type")
        .orderBy($"event_id")
    },
    Some("""SELECT event_id, user_id, event_type FROM events e
           |WHERE ts >= TIMESTAMP '2024-01-02' AND NOT EXISTS (
           |  SELECT 1 FROM events h
           |  WHERE h.ts < TIMESTAMP '2024-01-02' AND h.user_id = e.user_id)
           |ORDER BY event_id""".stripMargin))

  /** Entity resolution: near-identical part names (edit distance ≤ 2)
    * found via noun-blocked candidate pairs — the equi-join-then-verify
    * discipline applied to fuzzy string matching. Runs on the DISTINCT
    * name table (64 rows here, dictionary-sized at any SF), keyed by the
    * min part key per name. */
  private val fuzzy = Q(
    "dedup_fuzzy_names",
    (s, dir) => {
      import s.implicits._
      val names = Tables(s, dir).part
        .groupBy($"p_name").agg(min($"p_partkey").as("pk"))
      DedupOps.fuzzyPairs(names, "pk", "p_name",
          element_at(split($"p_name", " "), 2), 2)
        .select($"id_a", $"id_b", $"name_a", $"name_b", $"dist")
        .orderBy($"id_a", $"id_b")
    },
    Some("""WITH p AS (
           |  SELECT p_name, min(p_partkey) AS pk FROM part GROUP BY p_name)
           |SELECT a.pk AS id_a, b.pk AS id_b,
           |       a.p_name AS name_a, b.p_name AS name_b,
           |       levenshtein(a.p_name, b.p_name)::INT AS dist
           |FROM p a JOIN p b
           |  ON split_part(a.p_name, ' ', 2) = split_part(b.p_name, ' ', 2)
           | AND a.pk < b.pk
           |WHERE levenshtein(a.p_name, b.p_name) <= 2
           |ORDER BY id_a, id_b""".stripMargin))

  /** Exact substring-duplication profile over rolling 8-token windows
    * (suffix-array-style dedup signal): per doc, how many of its windows
    * occur ≥2 times anywhere in the corpus. Plan is explode → hash agg on
    * the window → join back → per-doc agg — linear, never a pair join. */
  private val substring = Q(
    "dedup_substring_spans",
    (s, dir) => {
      import s.implicits._
      DedupOps.substringDupProfile(docs(s, dir), "doc_id", "text", 8)
        .withColumnRenamed("id", "doc_id")
        .orderBy($"doc_id")
    },
    Some("""WITH d AS (SELECT doc_id, string_split(text,' ') toks FROM documents),
           |w AS (SELECT doc_id,
           |        unnest([array_to_string(toks[i:i+7],' ')
           |                FOR i IN generate_series(1, len(toks)-7)]) AS win
           |      FROM d WHERE len(toks) >= 8),
           |g AS (SELECT win, count(*) AS n_occ FROM w GROUP BY win),
           |p AS (SELECT doc_id, count(*)::INT AS n_windows,
           |        sum(CASE WHEN n_occ >= 2 THEN 1 ELSE 0 END)::INT AS n_dup_windows
           |      FROM w JOIN g USING (win) GROUP BY doc_id)
           |SELECT doc_id, n_windows, n_dup_windows,
           |       (floor((n_dup_windows / n_windows::DOUBLE) * 1e6 + 0.5) / 1e6) AS dup_frac
           |FROM p ORDER BY doc_id""".stripMargin))

  /** Duplicate-SPAN excision over the same rolling 8-token windows as
    * dedup_substring_spans (Lee et al. 2022 ExactSubstr dedup): each
    * window occurring ≥2 times corpus-wide keeps only its first
    * occurrence (min (doc_id, start)); later occurrences' positions are
    * cut and the docs reassembled. The profile query MEASURES, this one
    * REMOVES. Every doc returns (fully-excised docs with empty text). */
  private val exciseSpans = Q(
    "dedup_excise_spans",
    (s, dir) => {
      import s.implicits._
      HygieneOps.exciseDuplicateSpans(docs(s, dir), "doc_id", "text", 8)
        .orderBy($"doc_id")
    },
    Some("""WITH d AS (SELECT doc_id, string_split(text,' ') toks FROM documents),
           |wall AS (SELECT doc_id,
           |           unnest(generate_series(1, len(toks)-7)) wstart,
           |           unnest([array_to_string(toks[i:i+7],' ')
           |                   FOR i IN generate_series(1, len(toks)-7)]) g
           |         FROM d),
           |ranked AS (SELECT *, row_number()
           |             OVER (PARTITION BY g ORDER BY doc_id, wstart) rn
           |           FROM wall),
           |cov AS (SELECT DISTINCT doc_id,
           |          unnest([wstart+j FOR j IN generate_series(0,7)]) pos
           |        FROM ranked WHERE rn > 1),
           |cl AS (SELECT doc_id, list(pos) cps FROM cov GROUP BY doc_id)
           |SELECT d.doc_id,
           |       coalesce(array_to_string(
           |         [toks[i] FOR i IN generate_series(1, len(toks))
           |          IF NOT list_contains(coalesce(cps, []), i)],
           |         ' '), '') AS clean_text,
           |       len(toks)::INT AS n_tokens,
           |       len(coalesce(cps, []))::INT AS n_removed
           |FROM d LEFT JOIN cl USING (doc_id)
           |ORDER BY doc_id""".stripMargin))

  /** Asymmetric containment at t=0.8 over 2-gram shingles: catches
    * quote/superset pairs whose symmetric Jaccard is tiny. The oracle
    * verifies ALL pairs brute-force; the Spark side must reproduce it
    * exactly. Deployed as the COST-BASED generator (dense N² microkernel
    * below the ~10k-doc crossover where the hot shingle vocabulary
    * degenerates prefix selectivity — measured 1.6 s vs 7.6 s at sf0.1 —
    * one-sided-prefix index above it; branches property-tested equal). */
  private val containment = Q(
    "dedup_containment",
    (s, dir) => {
      import s.implicits._
      val withShingles = docs(s, dir)
        .select($"doc_id", TextOps.shingles($"text", 2).as("shingles"))
      DedupOps.containmentPairsAuto(withShingles, "doc_id", "shingles", 0.8)
        // repartition fence before the sort (the dedup_ngram_jaccard
        // lesson): the dense containment kernel's final stage (broadcast
        // NL join + overlap kernel) has no trailing exchange, so the
        // orderBy's range-sampling pass would re-run the whole N² kernel;
        // fenced, sampling re-reads the (tiny) materialized pair set
        // (OPTIMIZATION_r14.md A/B: 1.30× at sf0.1)
        .repartition(s.sparkContext.defaultParallelism)
        .orderBy($"id_a", $"id_b")
    },
    // count-based like pairCteBody (a containment ≥ 0.8 pair shares ≥ 1
    // token, so the posting join finds every qualifying pair); the old
    // full-pairwise list_intersect twin was the sf0.1 ORACLE-TIMEOUT
    Some(s"""$shingleCte,
            |sz AS (SELECT doc_id, len(s) AS n FROM sh),
            |post AS (SELECT doc_id, unnest(s) tok FROM sh),
            |common AS (SELECT l.doc_id a, r.doc_id b, count(*) AS c
            |           FROM post l JOIN post r
            |             ON l.tok = r.tok AND l.doc_id < r.doc_id
            |           GROUP BY 1, 2),
            |pc AS (SELECT a, b, c::DOUBLE AS shared,
            |              za.n::DOUBLE AS sa, zb.n::DOUBLE AS sb
            |       FROM common JOIN sz za ON za.doc_id = a
            |                   JOIN sz zb ON zb.doc_id = b)
            |SELECT a AS id_a, b AS id_b,
            |       (floor((shared/sa) * 1e6 + 0.5) / 1e6) AS containment_ab,
            |       (floor((shared/sb) * 1e6 + 0.5) / 1e6) AS containment_ba
            |FROM pc WHERE greatest(shared/sa, shared/sb) >= 0.8
            |ORDER BY id_a, id_b""".stripMargin))

  /** Bottom-k sketch containment at t=0.8, k=16 — the DEPLOYED 100 TB
    * path for the containment semantic ([[DedupOps.containmentSketchPairs]]):
    * candidate generation is the k-rows-per-doc sketch probe against full
    * postings (≤ k·N probe rows, never a pair join), where the exact
    * `dedup_containment` twin above must compare sets pairwise. The oracle
    * replays the identical md5-prefix sketch in DuckDB, so the estimate —
    * a ratio of integers — matches bit-exactly.
    *
    * Shingle width is the probe-selectivity knob and is deliberately 3
    * here (vs the exact twin's 2): candidate volume is Σ over sketch
    * slots of df(token), and this corpus's 2-gram vocabulary is ~900
    * tokens with avg df ≈ 275 — EVERY 2-gram is a stop-shingle, so the
    * sketch probe degenerates toward all-pairs (measured: 56% of all
    * pairs became candidates, slower than the exact prefix path). At
    * 3-gram the vocabulary is 27k with avg df 9.6 and the probe is ~30×
    * more selective; quote/superset detection over ≥3-token spans is the
    * realistic containment target anyway. */
  private val containmentSketch = Q(
    "dedup_containment_bottomk",
    (s, dir) => {
      import s.implicits._
      val withShingles = docs(s, dir)
        .select($"doc_id", TextOps.shingles($"text", 3).as("shingles"))
      DedupOps.containmentSketchPairs(withShingles, "doc_id", "shingles",
          0.8, 16)
        .orderBy($"id_a", $"id_b")
    },
    Some(s"""WITH d AS (SELECT doc_id, string_split(text,' ') toks FROM documents),
            |sh AS (SELECT doc_id,
            |         list_distinct([array_to_string(toks[i:i+2],' ')
            |                        FOR i IN generate_series(1, len(toks)-2)]) s
            |       FROM d),
            |hh AS (SELECT doc_id,
            |         list_sort(list_distinct(
            |           [('0x'||substr(md5(t),1,8))::BIGINT FOR t IN s])) hs
            |       FROM sh WHERE len(s) > 0),
            |post AS (SELECT doc_id, unnest(hs) h FROM hh),
            |probe AS (SELECT doc_id, len(hs) sza, unnest(hs[1:16]) h FROM hh),
            |m AS (SELECT p.doc_id a, q.doc_id b, p.sza, count(*) m
            |      FROM probe p JOIN post q
            |        ON p.h = q.h AND p.doc_id <> q.doc_id
            |      GROUP BY 1, 2, 3),
            |dir AS (SELECT a, b, m::DOUBLE / least(16, sza) est FROM m),
            |und AS (SELECT least(a,b) id_a, greatest(a,b) id_b,
            |          coalesce(max(CASE WHEN a < b THEN est END), 0) rab,
            |          coalesce(max(CASE WHEN a > b THEN est END), 0) rba
            |        FROM dir GROUP BY 1, 2)
            |SELECT id_a, id_b,
            |       (floor((rab) * 1e6 + 0.5) / 1e6) AS containment_ab_est,
            |       (floor((rba) * 1e6 + 0.5) / 1e6) AS containment_ba_est
            |FROM und WHERE greatest(rab, rba) >= 0.8
            |ORDER BY id_a, id_b""".stripMargin))

  /** Cluster-size audit over the near-dup components — the dedup QA
    * report every corpus run ships with (how much mass sits in big
    * duplicate families vs singletons, and what one keep-one-per-cluster
    * pass would remove). Rides the identical CC build as
    * dedup_components, then two tiny aggregates: label → size,
    * size → (n_clusters, docs, docs_removed). Singletons (docs in no
    * pair) count as size-1 clusters via the left-join coalesce. */
  private val clusterSizes = Q(
    "dedup_cluster_sizes",
    (s, dir) => {
      import s.implicits._
      val d = docs(s, dir)
      val withShingles = d
        .select($"doc_id", TextOps.shingles($"text", 2).as("shingles"))
      val pairs = DedupOps.jaccardPairsAuto(withShingles, "doc_id", "shingles", 0.5)
      val comps = DedupOps.connectedComponents(pairs, "id_a", "id_b")
      d.select($"doc_id")
        .join(comps, $"doc_id" === $"id", "left")
        .select($"doc_id", coalesce($"label", $"doc_id").as("rep"))
        .groupBy($"rep").agg(count(lit(1)).as("cluster_size"))
        .groupBy($"cluster_size")
        .agg(count(lit(1)).as("n_clusters"),
          (count(lit(1)) * $"cluster_size").as("docs"),
          (count(lit(1)) * ($"cluster_size" - 1)).as("docs_removed"))
        .orderBy($"cluster_size")
    },
    Some(s"""WITH ${pairCteBody(0.5)},
            |${ccCteBody(8)},
            |sizes AS (SELECT rep, count(*) AS cluster_size
            |          FROM labeled GROUP BY rep)
            |SELECT cluster_size,
            |       count(*)::BIGINT AS n_clusters,
            |       (count(*) * cluster_size)::BIGINT AS docs,
            |       (count(*) * (cluster_size - 1))::BIGINT AS docs_removed
            |FROM sizes GROUP BY cluster_size
            |UNION ALL SELECT -1, -1, -1, -1 FROM converged WHERE n_moved > 0
            |ORDER BY cluster_size""".stripMargin))

  /** Best-copy retention: the production variant of keep-one-per-cluster.
    * Near-dup clusters (same CC build as dedup_components) keep their
    * HIGHEST-QUALITY member, not their first — the standard corpus-dedup
    * policy (a page's cleanest mirror survives, not its lowest id).
    * Winner = argmax (quality, then min doc_id) per cluster, computed as
    * a `max(struct(...))` HASH AGGREGATE — partial/map-side, no window
    * sort; quality is the 6dp-rounded composite the text_quality_score
    * twin already pins cross-engine, so the comparison key is identical
    * bits on both sides. The tie-break negates doc_id, a non-negative
    * synthetic key by the corpus contract (the same contract keep_first
    * relies on), so no overflow is reachable. Scale: CC lineage-cut
    * iterations + two key shuffles; nothing pairwise. */
  private val keepBest = Q(
    "dedup_keep_best_quality",
    (s, dir) => {
      import s.implicits._
      val d = docs(s, dir)
      val withShingles = d
        .select($"doc_id", TextOps.shingles($"text", 2).as("shingles"))
      val pairs = DedupOps.jaccardPairsAuto(withShingles, "doc_id", "shingles", 0.5)
      val comps = DedupOps.connectedComponents(pairs, "id_a", "id_b")
      d.select($"doc_id", TextOps.qualityScore($"text").as("quality"))
        .join(comps, $"doc_id" === $"id", "left")
        .select($"doc_id", coalesce($"label", $"doc_id").as("rep"), $"quality")
        .groupBy($"rep")
        .agg(
          max(struct($"quality", (-$"doc_id").as("nid"))).as("w"),
          count(lit(1)).as("cluster_size"))
        .select($"rep", (-$"w.nid").as("kept_doc_id"),
          $"w.quality".as("quality"), $"cluster_size")
        .orderBy($"rep")
    },
    Some(s"""WITH ${pairCteBody(0.5)},
            |${ccCteBody(8)},
            |q AS (
            |  SELECT doc_id,
            |    (floor((length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))::DOUBLE
            |          / length(text)) * 1e6 + 0.5) / 1e6) AS punct_ratio,
            |    (floor((len(list_filter(string_split(text,' '),
            |              t -> t IN ('the','a','of','and','to','in')))::DOUBLE
            |          / len(string_split(text,' '))) * 1e6 + 0.5) / 1e6) AS stopword_ratio,
            |    length(text) AS n
            |  FROM documents),
            |qual AS (
            |  SELECT doc_id,
            |    (floor((least(n::DOUBLE/500.0, 1.0)*0.5
            |          + (1.0 - least(punct_ratio*5.0, 1.0))*0.3
            |          + least(stopword_ratio*4.0, 1.0)*0.2) * 1e6 + 0.5) / 1e6) AS quality
            |  FROM q),
            |ranked AS (
            |  SELECT l.rep, l.doc_id, qual.quality,
            |         row_number() OVER (PARTITION BY l.rep
            |                            ORDER BY qual.quality DESC, l.doc_id)
            |           AS rn,
            |         count(*) OVER (PARTITION BY l.rep) AS cluster_size
            |  FROM labeled l JOIN qual ON qual.doc_id = l.doc_id)
            |SELECT rep, doc_id AS kept_doc_id, quality,
            |       cluster_size::BIGINT AS cluster_size
            |FROM ranked WHERE rn = 1
            |UNION ALL SELECT -1, -1, -1.0, -1 FROM converged WHERE n_moved > 0
            |ORDER BY rep""".stripMargin))

  /** Round-6 capstone — the curation pipeline the round's new operators
    * exist for, as ONE declarative plan: classifier keep gate
    * ([[TextOps.classifierMargin]], integer margin > 0) → near-dup
    * clusters over the survivors (cost-based pair generator → CC) →
    * best-copy retention per cluster (argmax 6dp quality, tie min id) →
    * per-lang corpus stats. Every stage is individually oracle-verified
    * (text_quality_classifier, dedup_components, dedup_keep_best_quality);
    * this verifies their COMPOSITION — the gate must run BEFORE pair
    * generation (clusters among gated survivors differ from gating
    * cluster winners). Quality lands in integer micro-units before the
    * mean so the per-lang average is one exact integer sum + one trailing
    * division on both engines. Scale: gate is scan-local, pairs are
    * cost-based/blocked, CC iterates on (id, label), stats are one hash
    * aggregate — no stage is O(N²). */
  private val curated = Q(
    "pipeline_curated_corpus",
    (s, dir) => {
      import s.implicits._
      val d = docs(s, dir)
      val kept = d
        .withColumn("m", TextOps.classifierMargin($"text"))
        .filter($"m.z_milli" > 0)
        .select($"doc_id", $"lang", $"text")
        .cut(eager = false)
      val sh = kept.select($"doc_id", TextOps.shingles($"text", 2).as("shingles"))
      val pairs = DedupOps.jaccardPairsAuto(sh, "doc_id", "shingles", 0.5)
      val comps = DedupOps.connectedComponents(pairs, "id_a", "id_b")
      // the winner's own attributes ride INSIDE the max struct: the
      // (quality, −doc_id) prefix is unique per row, so trailing fields
      // never influence the ordering and the regex-heavy quality/token
      // expressions run exactly once per kept doc (no second scan+join)
      val winners = kept
        .select($"doc_id", $"lang",
          TextOps.qualityScore($"text").as("quality"),
          TextOps.tokenCount($"text").as("n_tokens"))
        .join(comps, $"doc_id" === $"id", "left")
        .select($"doc_id", $"lang", $"quality", $"n_tokens",
          coalesce($"label", $"doc_id").as("rep"))
        .groupBy($"rep")
        .agg(max(struct($"quality", (-$"doc_id").as("nid"),
          $"lang", $"n_tokens")).as("w"))
        .select($"w.lang".as("lang"), $"w.quality".as("quality"),
          $"w.n_tokens".as("n_tokens"))
      winners.groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_tokens".cast("bigint")).as("total_tokens"),
          // round BEFORE the bigint cast: Spark casts truncate where
          // DuckDB casts round — both sides round explicitly
          (floor(((sum((floor(($"quality" * 1e6) * 1e0 + 0.5) / 1e0).cast("bigint")) /
            (count(lit(1)) * lit(1e6)))) * 1e6 + 0.5) / 1e6).as("avg_quality"))
        .orderBy($"lang")
    },
    // Every CTE AS MATERIALIZED and the recursive `reach` replaced with
    // the unrolled min-label propagation (ccCteBody) — the recursive
    // reachability twin was worst-case quadratic AND re-inlined its whole
    // upstream per reference, the sf1 ORACLE-TIMEOUT class (NOTES_r11
    // §2/§11). `pairCteBody(0.5, gate)` divides the same two exact
    // integers as the list_intersect form; the `converged` sentinel turns
    // an un-converged unroll into a loud row mismatch, never a silent pass.
    Some(s"""WITH g0 AS MATERIALIZED (
            |  SELECT doc_id, lang, text, string_split(text,' ') toks
            |  FROM documents),
            |gate AS MATERIALIZED (
            |  SELECT doc_id, lang, text FROM (
            |    SELECT *, list_sum(list_transform(
            |      list_concat(toks, [array_to_string(toks[i:i+1],' ')
            |                         FOR i IN generate_series(1, len(toks)-1)]),
            |      tk -> ('0x' || substr(md5('w#' ||
            |              (('0x' || substr(md5(tk),1,8))::BIGINT % 1024)::VARCHAR),
            |            1,8))::BIGINT % 2001 - 1000)) z
            |    FROM g0) WHERE z > 0),
            |${pairCteBody(0.5, "gate")},
            |${ccCteBody(8, "gate")},
            |qual AS MATERIALIZED (
            |  SELECT doc_id, lang,
            |    (floor((least(length(text)::DOUBLE/500.0, 1.0)*0.5
            |      + (1.0 - least((floor((length(regexp_replace(text,'[a-zA-Z0-9 ]','','g'))::DOUBLE
            |                           / length(text)) * 1e6 + 0.5) / 1e6)*5.0, 1.0))*0.3
            |      + least((floor((len(list_filter(string_split(text,' '),
            |                        t -> t IN ('the','a','of','and','to','in')))::DOUBLE
            |                    / len(string_split(text,' '))) * 1e6 + 0.5) / 1e6)*4.0, 1.0)*0.2) * 1e6 + 0.5) / 1e6) AS quality,
            |    len(string_split(text,' '))::INT AS n_tokens
            |  FROM gate),
            |ranked AS (
            |  SELECT l.rep, l.doc_id, q.lang, q.quality, q.n_tokens,
            |         row_number() OVER (PARTITION BY l.rep
            |                            ORDER BY q.quality DESC, l.doc_id) AS rn
            |  FROM labeled l JOIN qual q ON q.doc_id = l.doc_id)
            |SELECT lang, count(*)::BIGINT AS n_docs,
            |       sum(n_tokens::BIGINT)::BIGINT AS total_tokens,
            |       (floor((sum((floor((quality*1e6) * 1e0 + 0.5) / 1e0)::BIGINT) / (count(*) * 1e6)) * 1e6 + 0.5) / 1e6)
            |         AS avg_quality
            |FROM ranked WHERE rn = 1 GROUP BY lang
            |UNION ALL
            |SELECT '~unconverged', -1, -1, -1.0 FROM converged WHERE n_moved > 0
            |ORDER BY lang""".stripMargin))

  /** Batch-incremental near-dup ([[DedupOps.lshProbeCandidates]]): the
    * new crawl increment (fixture split: doc_id % 3 == 0) probed against
    * the already-indexed history (the rest) — candidates only ever cross
    * the boundary, verified at true Jaccard ≥ 0.8. The third leg of the
    * incremental-dedup family next to bloom-delta (exact) and the
    * streaming LSH state op (stream≡batch parity-proven). */
  private val minhashDelta = Q(
    "dedup_minhash_delta",
    (s, dir) => {
      import s.implicits._
      val withShingles = docs(s, dir)
        .select($"doc_id", TextOps.shingles($"text", 2).as("shingles"))
        .select($"doc_id", array_distinct($"shingles").as("shingles"))
        .cut(eager = false)
      val signed = DedupOps.minhashSignatures(withShingles, "doc_id",
          "shingles", 16)
        .withColumnRenamed("id", "doc_id")
      val cands = DedupOps.lshProbeCandidates(
        signed.filter($"doc_id" % 3 =!= 0),
        signed.filter($"doc_id" % 3 === 0), "doc_id", "sig", 4, 4)
      val sets = withShingles.select($"doc_id".as("id"), $"shingles".as("ss"))
      cands
        .join(sets.withColumnRenamed("id", "batch_id")
          .withColumnRenamed("ss", "s_a"), "batch_id")
        .join(sets.withColumnRenamed("id", "hist_id")
          .withColumnRenamed("ss", "s_b"), "hist_id")
        .withColumn("raw", size(array_intersect($"s_a", $"s_b")).cast("double") /
          size(array_union($"s_a", $"s_b")))
        .filter($"raw" >= 0.8)
        .select($"batch_id", $"hist_id", (floor(($"raw") * 1e6 + 0.5) / 1e6).as("jaccard"))
        .orderBy($"batch_id", $"hist_id")
    },
    Some {
      val coeffs = DedupOps.minhashCoeffs(16)
      val p = DedupOps.minhashPrime
      val sigExpr = coeffs.map { case (a, b) =>
        s"coalesce(list_min([(${a}*h + ${b}) % $p FOR h IN hs]), $p)"
      }.mkString("[", ",\n      ", "]")
      s"""$shingleCte,
         |h AS (SELECT doc_id, [('0x'||substr(md5(t),1,8))::BIGINT FOR t IN s] hs FROM sh),
         |sig AS (SELECT doc_id, $sigExpr sig FROM h),
         |banded AS (SELECT doc_id, b AS band,
         |             array_to_string(sig[4*b+1 : 4*b+4], ',') AS bucket
         |           FROM sig, generate_series(0,3) g(b)),
         |cand AS (SELECT DISTINCT l.doc_id batch_id, r.doc_id hist_id
         |         FROM banded l JOIN banded r
         |           ON l.band = r.band AND l.bucket = r.bucket
         |          AND l.doc_id % 3 = 0 AND r.doc_id % 3 <> 0)
         |SELECT batch_id, hist_id,
         |       (floor((len(list_intersect(sa.s, sb.s))::DOUBLE
         |             / len(list_distinct(list_concat(sa.s, sb.s)))) * 1e6 + 0.5) / 1e6) AS jaccard
         |FROM cand JOIN sh sa ON sa.doc_id = batch_id JOIN sh sb ON sb.doc_id = hist_id
         |WHERE len(list_intersect(sa.s, sb.s))::DOUBLE
         |      / len(list_distinct(list_concat(sa.s, sb.s))) >= 0.8
         |ORDER BY batch_id, hist_id""".stripMargin
    })

  /** [[minhashDelta]] routed through the STORED banded-postings index —
    * the production shape: the history is written in TWO increments
    * ([[DedupOps.writeBandedIndex]] overwrite then append, so the append
    * path runs in the deployed query, not just a spec), and the probe
    * ([[DedupOps.lshProbeCandidatesStored]]) reads postings back with
    * scan-level bucket pruning instead of re-banding raw signatures.
    * Same candidates, same verified pairs, same oracle as the in-memory
    * form — what changes is WHERE the history's banding cost is paid:
    * once at index-build time, never again per probe. */
  private val minhashDeltaStored = Q(
    "dedup_minhash_delta_stored",
    (s, dir) => {
      import s.implicits._
      val withShingles = docs(s, dir)
        .select($"doc_id", TextOps.shingles($"text", 2).as("shingles"))
        .select($"doc_id", array_distinct($"shingles").as("shingles"))
        .cut(eager = false)
      val signed = DedupOps.minhashSignatures(withShingles, "doc_id",
          "shingles", 16)
        .withColumnRenamed("id", "doc_id")
        .cut(eager = false)
      val idx = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"), "graft_banded_index",
        Integer.toHexString(dir.hashCode)).toString
      // both increments in one maintenance batch (r15): segment writes
      // overlap on the driver pool, manifest generations publish in
      // order — committed history identical to write-then-append
      // (BandedIndexSpec pins batched ≡ sequential), ~half the serialized
      // driver-job chain of the two sequential calls
      DedupOps.writeBandedIndexIncrements(
        Seq(signed.filter($"doc_id" % 3 === 1),
          signed.filter($"doc_id" % 3 === 2)),
        "doc_id", "sig", 4, 4, idx)
      val cands = DedupOps.lshProbeCandidatesStored(s, idx,
        signed.filter($"doc_id" % 3 === 0), "doc_id", "sig", 4, 4)
      val sets = withShingles.select($"doc_id".as("id"), $"shingles".as("ss"))
      cands
        .join(sets.withColumnRenamed("id", "batch_id")
          .withColumnRenamed("ss", "s_a"), "batch_id")
        .join(sets.withColumnRenamed("id", "hist_id")
          .withColumnRenamed("ss", "s_b"), "hist_id")
        .withColumn("raw", size(array_intersect($"s_a", $"s_b")).cast("double") /
          size(array_union($"s_a", $"s_b")))
        .filter($"raw" >= 0.8)
        .select($"batch_id", $"hist_id", (floor(($"raw") * 1e6 + 0.5) / 1e6).as("jaccard"))
        .orderBy($"batch_id", $"hist_id")
    },
    minhashDelta.oracle)

  /** The DEPLOYED two-stage containment path as one plan — exactly the
    * 100 TB order the round-6 per-branch scaling table prescribes:
    * bottom-k sketch candidates at a LOOSE threshold (0.5, recall
    * headroom) → EXACT C(A→B)=∩/|A| verification of the survivors only
    * at 0.8. Stage-2 cost is pair-LOCAL (one array_intersect per
    * candidate row, ∝ #candidates) — the exact kernel never sees the
    * corpus as pairs. Reported values are the exact containments, so a
    * sketch that under-estimates a true pair below 0.5 drops it
    * (recall trade, documented); a sketch over-estimate is repaired by
    * the exact stage. Twin replays the identical md5 bottom-k sketch
    * then the identical exact verify. */
  private val containmentVerified = Q(
    "dedup_containment_verified",
    (s, dir) => {
      import s.implicits._
      val withShingles = docs(s, dir)
        .select($"doc_id", TextOps.shingles($"text", 3).as("shingles"))
      val sets = withShingles
        .select($"doc_id", array_distinct($"shingles").as("ss"))
        .cut(eager = false)
      val cands = DedupOps.containmentSketchPairs(withShingles, "doc_id",
          "shingles", 0.5, 16)
        .select($"id_a", $"id_b")
      cands
        .join(sets.select($"doc_id".as("id_a"), $"ss".as("s_a")), "id_a")
        .join(sets.select($"doc_id".as("id_b"), $"ss".as("s_b")), "id_b")
        .withColumn("inter", size(array_intersect($"s_a", $"s_b")).cast("double"))
        .withColumn("cab", $"inter" / size($"s_a"))
        .withColumn("cba", $"inter" / size($"s_b"))
        .filter(greatest($"cab", $"cba") >= 0.8)
        .select($"id_a", $"id_b",
          (floor(($"cab") * 1e6 + 0.5) / 1e6).as("containment_ab"),
          (floor(($"cba") * 1e6 + 0.5) / 1e6).as("containment_ba"))
        .orderBy($"id_a", $"id_b")
    },
    Some(s"""WITH d AS (SELECT doc_id, string_split(text,' ') toks FROM documents),
            |sh AS (SELECT doc_id,
            |         list_distinct([array_to_string(toks[i:i+2],' ')
            |                        FOR i IN generate_series(1, len(toks)-2)]) s
            |       FROM d),
            |hh AS (SELECT doc_id,
            |         list_sort(list_distinct(
            |           [('0x'||substr(md5(t),1,8))::BIGINT FOR t IN s])) hs
            |       FROM sh WHERE len(s) > 0),
            |post AS (SELECT doc_id, unnest(hs) h FROM hh),
            |probe AS (SELECT doc_id, len(hs) sza, unnest(hs[1:16]) h FROM hh),
            |m AS (SELECT p.doc_id a, q.doc_id b, p.sza, count(*) m
            |      FROM probe p JOIN post q
            |        ON p.h = q.h AND p.doc_id <> q.doc_id
            |      GROUP BY 1, 2, 3),
            |dir AS (SELECT a, b, m::DOUBLE / least(16, sza) est FROM m),
            |cand AS (SELECT least(a,b) id_a, greatest(a,b) id_b
            |         FROM dir GROUP BY 1, 2
            |         HAVING max(est) >= 0.5),
            |ver AS (SELECT id_a, id_b,
            |          len(list_intersect(sa.s, sb.s))::DOUBLE AS inter,
            |          len(sa.s) AS la, len(sb.s) AS lb
            |        FROM cand JOIN sh sa ON sa.doc_id = id_a
            |                  JOIN sh sb ON sb.doc_id = id_b)
            |SELECT id_a, id_b,
            |       (floor((inter / la) * 1e6 + 0.5) / 1e6) AS containment_ab,
            |       (floor((inter / lb) * 1e6 + 0.5) / 1e6) AS containment_ba
            |FROM ver WHERE greatest(inter / la, inter / lb) >= 0.8
            |ORDER BY id_a, id_b""".stripMargin))

  def all: Seq[Q] =
    Seq(exact, keepFirst, jaccard, ppjoin, inverted, components,
      minhash, simhashQ, lines, bloomDelta, fuzzy, substring, exciseSpans,
      containment, containmentSketch, clusterSizes, keepBest, curated,
      minhashDelta, minhashDeltaStored, containmentVerified)
}
