package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.core.Lineage.LineageOps
import graft.operators.{HygieneOps, TextOps, VectorOps}

/** [EXT] Corpus-hygiene queries: benchmark decontamination, Gopher-style
  * quality gates, and SemDedup cluster-local embedding near-dup pairs —
  * the remaining training-data-pipeline hygiene surface beyond dedup and
  * text analysis. All three are oracle-checked.
  */
object HygieneQueries {

  private def docs(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables(s, dir).documents

  /** Shared DuckDB CTE body (no WITH keyword — callers pick `WITH` or
    * `WITH RECURSIVE`): distinct word-3-gram postings over all documents
    * plus the fixture benchmark side (every 50th doc). */
  private val trigramCteBody =
    """t3 AS MATERIALIZED (SELECT doc_id, string_split(text,' ') toks FROM documents),
      |sh3 AS MATERIALIZED (SELECT doc_id,
      |         list_distinct([array_to_string(toks[i:i+2],' ')
      |                        FOR i IN generate_series(1, len(toks)-2)]) s
      |       FROM t3),
      |post3 AS MATERIALIZED (SELECT doc_id, unnest(s) sh FROM sh3),
      |bench3 AS MATERIALIZED (SELECT doc_id AS bench_id, sh FROM post3 WHERE doc_id % 50 = 0)""".stripMargin

  /** Shared DuckDB CTE body: Gopher metrics + the passing-doc set.
    * The thresholds (20..1000 tokens, 3..10 mean length, rep ≤ 0.05,
    * dominance ≤ 0.12) appear HERE and in HygieneOps.gopherRules — the
    * one pair of places to keep in lockstep. */
  private val gopherCteBody =
    """gtoks AS MATERIALIZED (SELECT doc_id, unnest(string_split(text,' ')) tok FROM documents),
      |gcnt AS MATERIALIZED (SELECT doc_id, tok, count(*) n FROM gtoks GROUP BY 1, 2),
      |gdom AS MATERIALIZED (SELECT doc_id, (floor((max(n)::DOUBLE / sum(n)) * 1e6 + 0.5) / 1e6) top_token_ratio
      |         FROM gcnt GROUP BY doc_id),
      |gmet AS MATERIALIZED (
      |  SELECT doc_id,
      |    len(string_split(text,' ')) AS n_tokens,
      |    (floor(((length(text) - len(string_split(text,' ')) + 1)::DOUBLE
      |          / len(string_split(text,' '))) * 1e6 + 0.5) / 1e6) AS mean_token_len,
      |    CASE WHEN len(string_split(text,' ')) < 2 THEN 0.0
      |         ELSE (floor((1.0 -
      |           len(list_distinct([array_to_string(string_split(text,' ')[i:i+1],' ')
      |                              FOR i IN generate_series(1, len(string_split(text,' '))-1)]))::DOUBLE
      |           / (len(string_split(text,' ')) - 1)) * 1e6 + 0.5) / 1e6) END AS rep_2gram
      |  FROM documents),
      |gpass AS MATERIALIZED (
      |  SELECT gmet.doc_id FROM gmet JOIN gdom USING (doc_id)
      |  WHERE n_tokens BETWEEN 20 AND 1000
      |    AND mean_token_len BETWEEN 3.0 AND 10.0
      |    AND rep_2gram <= 0.05 AND top_token_ratio <= 0.12)""".stripMargin

  /** Word-3-gram decontamination of the corpus against a fixture
    * "benchmark" set (every 50th doc). Equi-join on the shingle with the
    * benchmark side broadcast — the 100 TB shape (the benchmark is always
    * tiny relative to the corpus). */
  private val decontam = Q(
    "text_decontaminate",
    (s, dir) => {
      import s.implicits._
      val d = docs(s, dir)
      val benchmark = d.filter($"doc_id" % 50 === 0)
      HygieneOps.contaminationHits(d, benchmark, "doc_id", "text", 3)
        .orderBy($"doc_id", $"bench_id")
    },
    Some(s"""WITH $trigramCteBody
            |SELECT p.doc_id, b.bench_id, count(*) AS n_hits
            |FROM post3 p JOIN bench3 b ON p.sh = b.sh AND p.doc_id <> b.bench_id
            |GROUP BY 1, 2 ORDER BY doc_id, bench_id""".stripMargin))

  /** Span-level decontamination: same fixture benchmark (every 50th doc)
    * and word-3-grams as text_decontaminate, but the EXCISION policy —
    * matching windows are cut out of the train docs (corpus = the
    * non-benchmark docs) and the remainder reassembled; overlapping hits
    * merge through the covered-position set. Every train doc returns. */
  private val decontamSpans = Q(
    "text_decontaminate_spans",
    (s, dir) => {
      import s.implicits._
      val d = docs(s, dir)
      HygieneOps.exciseContaminatedSpans(
          d.filter($"doc_id" % 50 =!= 0), d.filter($"doc_id" % 50 === 0),
          "doc_id", "text", 3)
        .orderBy($"doc_id")
    },
    Some("""WITH d AS (SELECT doc_id, string_split(text,' ') toks FROM documents),
           |bg AS (SELECT DISTINCT unnest([array_to_string(toks[i:i+2],' ')
           |                               FOR i IN generate_series(1, len(toks)-2)]) sh
           |       FROM d WHERE doc_id % 50 = 0),
           |tr AS (SELECT doc_id, toks FROM d WHERE doc_id % 50 <> 0),
           |winsall AS (SELECT doc_id,
           |              unnest(generate_series(1, len(toks)-2)) wstart,
           |              unnest([array_to_string(toks[i:i+2],' ')
           |                      FOR i IN generate_series(1, len(toks)-2)]) g
           |            FROM tr),
           |wins AS (SELECT doc_id, wstart FROM winsall
           |         WHERE g IN (SELECT sh FROM bg)),
           |cov AS (SELECT DISTINCT doc_id,
           |          unnest([wstart, wstart+1, wstart+2]) pos
           |        FROM wins),
           |cl AS (SELECT doc_id, list(pos) cps FROM cov GROUP BY doc_id)
           |SELECT tr.doc_id,
           |       coalesce(array_to_string(
           |         [toks[i] FOR i IN generate_series(1, len(toks))
           |          IF NOT list_contains(coalesce(cps, []), i)],
           |         ' '), '') AS clean_text,
           |       len(toks)::INT AS n_tokens,
           |       len(coalesce(cps, []))::INT AS n_removed
           |FROM tr LEFT JOIN cl USING (doc_id)
           |ORDER BY doc_id""".stripMargin))

  /** Gopher-style quality gate (Rae et al. 2021 §A1.1 shape): doc length,
    * mean word length, duplicate-2-gram fraction, top-token dominance,
    * and the conjunction verdict. Thresholds fixed: 20 ≤ tokens ≤ 1000,
    * 3 ≤ mean len ≤ 10, rep ≤ 0.05, dominance ≤ 0.12. */
  private val gopher = Q(
    "text_gopher_rules",
    (s, dir) => {
      import s.implicits._
      HygieneOps.gopherRules(docs(s, dir), "doc_id", "text")
        .orderBy($"doc_id")
    },
    Some(s"""WITH $gopherCteBody
            |SELECT gmet.doc_id, n_tokens::INT AS n_tokens, mean_token_len,
            |       rep_2gram, top_token_ratio,
            |       gmet.doc_id IN (SELECT doc_id FROM gpass) AS passes
            |FROM gmet JOIN gdom USING (doc_id) ORDER BY doc_id""".stripMargin))

  /** SemDedup cluster-local embedding near-dup pairs: IVF assignment
    * (first 8 vectors as centroids, same fixture as sim_ivf_assign), then
    * pairs with cosine ≥ 0.4 compared only within a cluster — candidate
    * cost Σ cluster², the embedding-space twin of LSH bucketing. */
  private val semdedup = Q(
    "sim_semdedup_pairs",
    (s, dir) => {
      import s.implicits._
      val e = Tables(s, dir).embeddings
      VectorOps.semdedupPairs(e, e.filter($"vec_id" < 8),
          "vec_id", "embedding", "vec_id", "embedding", 0.4)
        .orderBy($"cluster", $"id_a", $"id_b")
    },
    Some {
      def dcos(a: String, b: String) =
        s"list_dot_product($a,$b)/(sqrt(list_dot_product($a,$a))*sqrt(list_dot_product($b,$b)))"
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
         |c AS (SELECT vec_id centroid_id, v cv FROM e WHERE vec_id < 8),
         |scored AS (SELECT e.vec_id, e.v, c.centroid_id,
         |             (floor((${dcos("e.v", "c.cv")}) * 1e6 + 0.5) / 1e6) cos
         |           FROM e CROSS JOIN c),
         |best AS (SELECT vec_id, v, centroid_id FROM (
         |  SELECT *, row_number() OVER
         |    (PARTITION BY vec_id ORDER BY cos DESC, centroid_id) rn FROM scored)
         |  WHERE rn = 1)
         |SELECT a.centroid_id AS cluster, a.vec_id AS id_a, b.vec_id AS id_b,
         |       (floor((${dcos("a.v", "b.v")}) * 1e6 + 0.5) / 1e6) AS cos
         |FROM best a JOIN best b
         |  ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
         |WHERE (floor((${dcos("a.v", "b.v")}) * 1e6 + 0.5) / 1e6) >= 0.4
         |ORDER BY cluster, id_a, id_b""".stripMargin
    })

  /** Deterministic data mixing: per-language hash sampling (all en, half
    * de, quarter fr, 10% rest) → salted train/val/test split → 2× English
    * upsampling, reduced to per-(lang, split) counts. Hash-based, not
    * rand(): the kept row set is a pure function of doc_id, so the oracle
    * verifies the EXACT sample — reproducible across runs, engines, and
    * retries. */
  private val mix = Q(
    "mix_deterministic_sample",
    (s, dir) => {
      import s.implicits._
      val d = docs(s, dir)
      val sampled = graft.operators.SamplingOps.stratifiedSample(
        d, "lang", "doc_id", Map("en" -> 1000, "de" -> 500, "fr" -> 250), 100)
      val split = graft.operators.SamplingOps.trainValTestSplit(sampled, "doc_id")
      graft.operators.SamplingOps.upsample(split, "lang", Map("en" -> 2))
        .groupBy($"lang", $"split")
        .agg(count(lit(1)).as("n"))
        .orderBy($"lang", $"split")
    },
    Some("""WITH h AS (
           |  SELECT lang,
           |    ('0x'||substr(md5(doc_id::VARCHAR),1,8))::BIGINT % 1000 AS b,
           |    ('0x'||substr(md5(doc_id::VARCHAR || ':split'),1,8))::BIGINT % 1000 AS bs
           |  FROM documents),
           |sampled AS (
           |  SELECT lang, bs FROM h
           |  WHERE b < CASE lang WHEN 'en' THEN 1000 WHEN 'de' THEN 500
           |                     WHEN 'fr' THEN 250 ELSE 100 END),
           |labeled AS (
           |  SELECT lang,
           |         CASE WHEN bs < 800 THEN 'train'
           |              WHEN bs < 900 THEN 'val' ELSE 'test' END AS split,
           |         CASE lang WHEN 'en' THEN 2 ELSE 1 END AS copies
           |  FROM sampled)
           |SELECT lang, split, sum(copies)::BIGINT AS n
           |FROM labeled GROUP BY lang, split ORDER BY lang, split""".stripMargin))

  /** Sequence packing into 2048-token bins by cumulative token count in
    * doc_id order, reduced to per-bin fill stats. The Spark side computes
    * the global cumsum with partition-local windows + broadcast prefix
    * offsets (no single-partition window); DuckDB's plain running-sum
    * window is the semantic twin — integer arithmetic, so both engines
    * agree exactly. A bin may overhang its budget by its last document's
    * tail: bin_tokens ≥ budget is expected for every bin but the last. */
  private val pack = Q(
    "mix_pack_sequences",
    (s, dir) => {
      import s.implicits._
      graft.operators.PackingOps
        .packSequences(docs(s, dir), "doc_id", "text", 2048L)
        .groupBy($"bin")
        .agg(count(lit(1)).cast("int").as("n_docs"),
          sum($"n_tokens").as("bin_tokens"))
        .orderBy($"bin")
    },
    Some("""WITH sized AS (
           |  SELECT doc_id, len(string_split(text,' '))::BIGINT AS n_tokens
           |  FROM documents),
           |cum AS (
           |  SELECT doc_id, n_tokens,
           |         sum(n_tokens) OVER (ORDER BY doc_id
           |           ROWS UNBOUNDED PRECEDING) AS c
           |  FROM sized)
           |SELECT ((c - n_tokens) // 2048)::BIGINT AS bin,
           |       count(*)::INT AS n_docs,
           |       sum(n_tokens)::BIGINT AS bin_tokens
           |FROM cum GROUP BY bin ORDER BY bin""".stripMargin))

  /** CAPSTONE: the full training-corpus preparation as ONE declarative
    * plan — Gopher quality gates → benchmark decontamination (≥5 shared
    * 3-grams vs the fixture benchmark set) → exact dedup (min-id per
    * md5) → PPJoin near-dup pairs at 0.9 resolved to connected
    * components, keeping ONE representative (the min id) per cluster —
    * greedy pair-dropping would transitively over-delete docs whose only
    * near-dup was itself removed — → salted train/val/test split →
    * per-(lang, split) stats. Every stage is individually
    * oracle-verified elsewhere; this query verifies their COMPOSITION.
    * At scale: gates are scan-local, decontamination broadcasts the
    * benchmark postings, near-dup candidates come from the prefix-
    * filtered index, cluster resolution iterates on the narrow
    * (id, label) table — no stage is O(N²). */
  private val trainingCorpus = Q(
    "pipeline_training_corpus",
    (s, dir) => {
      import s.implicits._
      import graft.operators.{DedupOps, SamplingOps, TextOps}
      val d = docs(s, dir)
      val gophered = HygieneOps.gopherRules(d, "doc_id", "text")
        .filter($"passes").select($"doc_id")
      val train = d.join(gophered, "doc_id").filter($"doc_id" % 50 =!= 0)
      val benchmark = d.filter($"doc_id" % 50 === 0)
      val contaminated = HygieneOps
        .contaminationHits(train, benchmark, "doc_id", "text", 3, minHits = 5L)
        .select($"doc_id").distinct()
      val clean = train.join(contaminated, Seq("doc_id"), "left_anti")
      val exactKept = clean
        .withColumn("keep", min($"doc_id").over(
          org.apache.spark.sql.expressions.Window.partitionBy(md5($"text"))))
        .filter($"doc_id" === $"keep").drop("keep")
        // evaluated twice (near-dup pair side + survivor join) and the
        // prefix above it is the whole gate+decontam pipeline — checkpoint
        // lazily so it materializes once at first action
        .cut(eager = false)
      val sh = exactKept.select($"doc_id", TextOps.shingles($"text", 2).as("sh"))
      val pairs = DedupOps.jaccardPairs(sh, "doc_id", "sh", 0.9)
      val nonReps = DedupOps.connectedComponents(pairs, "id_a", "id_b")
        .filter($"id" =!= $"label").select($"id".as("doc_id"))
      val survivors = exactKept.join(nonReps, Seq("doc_id"), "left_anti")
      SamplingOps.trainValTestSplit(survivors, "doc_id")
        .groupBy($"lang", $"split")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("total_chars"))
        .orderBy($"lang", $"split")
    },
    // Every CTE AS MATERIALIZED and the recursive `creach` replaced with
    // the unrolled min-label propagation (DedupQueries.ccCteBody) — the
    // recursive reachability + per-reference CTE re-inlining was the sf1
    // ORACLE-TIMEOUT class (NOTES_r11 §2/§11). pairCteBody(0.9,
    // exact_kept) is the count-based pair form proven at sf1 by
    // dedup_ngram_jaccard; the `converged` sentinel turns an un-converged
    // unroll into a loud row mismatch, never a silent pass.
    Some(s"""WITH $gopherCteBody,
            |$trigramCteBody,
            |train AS MATERIALIZED (
            |  SELECT d.* FROM documents d JOIN gpass USING (doc_id)
            |  WHERE doc_id % 50 <> 0),
            |contam AS MATERIALIZED (
            |  SELECT DISTINCT doc_id FROM (
            |    SELECT p.doc_id, b.bench_id FROM post3 p
            |    JOIN train t ON t.doc_id = p.doc_id
            |    JOIN bench3 b ON p.sh = b.sh AND p.doc_id <> b.bench_id
            |    GROUP BY p.doc_id, b.bench_id HAVING count(*) >= 5)),
            |clean AS MATERIALIZED (
            |          SELECT * FROM train
            |          WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
            |exact_kept AS MATERIALIZED (
            |  SELECT * FROM (
            |    SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) AS keep FROM clean)
            |  WHERE doc_id = keep),
            |${DedupQueries.pairCteBody(0.9, "exact_kept")},
            |${DedupQueries.ccCteBody(8, "exact_kept")},
            |nonrep AS (SELECT doc_id AS id FROM labeled WHERE doc_id <> rep),
            |surv AS MATERIALIZED (
            |         SELECT * FROM exact_kept
            |         WHERE doc_id NOT IN (SELECT id FROM nonrep))
            |SELECT lang,
            |       CASE WHEN ('0x'||substr(md5(doc_id::VARCHAR || ':split'),1,8))::BIGINT % 1000 < 800
            |              THEN 'train'
            |            WHEN ('0x'||substr(md5(doc_id::VARCHAR || ':split'),1,8))::BIGINT % 1000 < 900
            |              THEN 'val' ELSE 'test' END AS split,
            |       count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars
            |FROM surv GROUP BY lang, split
            |UNION ALL
            |SELECT '~unconverged', '~', -1, -1 FROM converged WHERE n_moved > 0
            |ORDER BY lang, split""".stripMargin))

  /** DSIR-style importance resampling toward the English slice: hashed
    * unigram buckets → add-one-smoothed target/raw distributions → per-doc
    * summed log-likelihood ratio → top 25 docs by weight (rounded BEFORE
    * the rank cut, doc_id tiebreak, so both engines cut identically).
    * The oracle refits the identical distributions and verifies the exact
    * resampled set — the determinism that makes domain re-weighting
    * reproducible at 100 TB. */
  private val importance = Q(
    "mix_importance_resample",
    (s, dir) => {
      import s.implicits._
      val d = docs(s, dir)
      graft.operators.SamplingOps
        .importanceWeights(d, "doc_id", "text", $"lang" === "en", 64)
        .join(d.select($"doc_id".as("id"), $"lang"), "id")
        .select($"id".as("doc_id"), $"lang", $"n_tokens",
          (floor(($"log_w") * 1e6 + 0.5) / 1e6).as("log_w"))
        .orderBy($"log_w".desc, $"doc_id")
        .limit(25)
    },
    Some("""WITH tok AS (
           |  SELECT doc_id, is_target,
           |         ('0x'||substr(md5(token),1,8))::BIGINT % 64 AS b
           |  FROM (SELECT doc_id, lang = 'en' AS is_target,
           |               unnest(string_split(text,' ')) AS token
           |        FROM documents)),
           |stats AS (
           |  SELECT b, count(*) AS c_raw,
           |         sum(CASE WHEN is_target THEN 1 ELSE 0 END)::BIGINT AS c_tgt
           |  FROM tok GROUP BY b),
           |tot AS (SELECT sum(c_raw)::BIGINT AS t_raw,
           |               sum(c_tgt)::BIGINT AS t_tgt FROM stats),
           |probs AS (
           |  SELECT b, (c_tgt + 1.0) / (t_tgt + 64) AS p_tgt,
           |         (c_raw + 1.0) / (t_raw + 64) AS p_raw
           |  FROM stats, tot),
           |w AS (
           |  SELECT doc_id, count(*)::BIGINT AS n_tokens,
           |         (floor((sum(ln(p_tgt) - ln(p_raw))) * 1e6 + 0.5) / 1e6) AS log_w
           |  FROM tok JOIN probs USING (b) GROUP BY doc_id)
           |SELECT w.doc_id, d.lang, w.n_tokens, w.log_w
           |FROM w JOIN documents d USING (doc_id)
           |ORDER BY log_w DESC, doc_id LIMIT 25""".stripMargin))

  /** Per-domain cap (web-corpus "≤ k docs per domain"): each source keeps
    * the 10 docs with the smallest salted portable hash — deterministic, so
    * the oracle verifies the exact survivor set. Spark plan: bounded-heap
    * TopKAggregator per source (map-side partial, ≤k pairs per partition
    * shuffled), NOT a row_number window over every row. */
  private val domainCap = Q(
    "mix_domain_cap",
    (s, dir) => {
      import s.implicits._
      graft.operators.SamplingOps.capPerStratum(docs(s, dir), "source",
          "doc_id", 10)
        .select($"source", $"doc_id", $"lang")
        .orderBy($"source", $"doc_id")
    },
    Some("""SELECT source, doc_id, lang FROM (
           |  SELECT source, doc_id, lang,
           |    row_number() OVER (PARTITION BY source
           |      ORDER BY ('0x'||substr(md5(doc_id::VARCHAR || ':cap'),1,8))::BIGINT,
           |               doc_id) AS rn
           |  FROM documents)
           |WHERE rn <= 10 ORDER BY source, doc_id""".stripMargin))

  /** Weighted sampling without replacement: 25 documents drawn with
    * probability ∝ n_chars (longer docs favored), Efraimidis–Spirakis
    * keys from the salted portable hash — the oracle reproduces the EXACT
    * sample. Plan: scan-local scoring + bounded TakeOrdered(25). */
  private val weighted = Q(
    "mix_weighted_sample",
    (s, dir) => {
      import s.implicits._
      graft.operators.SamplingOps.weightedSample(docs(s, dir), "doc_id",
          "n_chars", 25)
        .select($"doc_id", $"lang", $"n_chars")
        .orderBy($"doc_id")
    },
    Some("""SELECT doc_id, lang, n_chars FROM (
           |  SELECT doc_id, lang, n_chars,
           |    (floor((ln((('0x'||substr(md5(doc_id::VARCHAR || ':ws'),1,8))::BIGINT
           |              + 1.0) / 4294967296.0) / n_chars) * 1e12 + 0.5) / 1e12) AS wkey
           |  FROM documents ORDER BY wkey DESC, doc_id LIMIT 25)
           |ORDER BY doc_id""".stripMargin))

  /** Embedding-space capstone — SemDedup end-to-end as ONE plan:
    * IVF-assign every vector to its nearest (deterministic) centroid,
    * generate cluster-local near-dup pairs at cos ≥ 0.4 (triangle-blocked,
    * never a global pair join), resolve duplicate groups with pointer-
    * jumping connected components, keep the min-id representative of each
    * group, and report per-label survival — the embedding twin of
    * pipeline_training_corpus. Oracle: same centroids/pairs in SQL + a
    * recursive-CTE reachability twin for the components. */
  private val semdedupCorpus = Q(
    "pipeline_semdedup_embeddings",
    (s, dir) => {
      import s.implicits._
      val e = Tables(s, dir).embeddings
      val pairs = graft.operators.VectorOps.semdedupPairs(
        e, e.filter($"vec_id" < 8),
        "vec_id", "embedding", "vec_id", "embedding", 0.4)
      val comps = graft.operators.DedupOps
        .connectedComponents(pairs, "id_a", "id_b")
        .withColumnRenamed("label", "rep")
      e.join(comps, $"vec_id" === $"id", "left")
        .withColumn("survivor", coalesce($"rep", $"vec_id") === $"vec_id")
        .groupBy($"label")
        .agg(count(lit(1)).as("n_vectors"),
          sum(when($"survivor", 1L).otherwise(0L)).as("n_survivors"))
        .orderBy($"label")
    },
    Some {
      def dcos(a: String, b: String) =
        s"list_dot_product($a,$b)/(sqrt(list_dot_product($a,$a))*sqrt(list_dot_product($b,$b)))"
      s"""WITH RECURSIVE e AS (
         |  SELECT vec_id, label, embedding::DOUBLE[] v FROM embeddings),
         |c AS (SELECT vec_id centroid_id, v cv FROM e WHERE vec_id < 8),
         |scored AS (SELECT e.vec_id, e.v, c.centroid_id,
         |             (floor((${dcos("e.v", "c.cv")}) * 1e6 + 0.5) / 1e6) cos
         |           FROM e CROSS JOIN c),
         |best AS (SELECT vec_id, v, centroid_id FROM (
         |  SELECT *, row_number() OVER
         |    (PARTITION BY vec_id ORDER BY cos DESC, centroid_id) rn FROM scored)
         |  WHERE rn = 1),
         |prs AS (
         |  SELECT a.vec_id AS ia, b.vec_id AS ib
         |  FROM best a JOIN best b
         |    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
         |  WHERE (floor((${dcos("a.v", "b.v")}) * 1e6 + 0.5) / 1e6) >= 0.4),
         |edges AS (SELECT ia src, ib dst FROM prs UNION SELECT ib, ia FROM prs),
         |reach AS (
         |  SELECT src AS id, src AS r FROM edges
         |  UNION
         |  SELECT ed.dst, reach.r FROM reach JOIN edges ed ON ed.src = reach.id),
         |rep AS (SELECT id, min(r) AS rep FROM reach GROUP BY id)
         |SELECT e.label, count(*) AS n_vectors,
         |       sum(CASE WHEN coalesce(rep.rep, e.vec_id) = e.vec_id
         |                THEN 1 ELSE 0 END)::BIGINT AS n_survivors
         |FROM e LEFT JOIN rep ON rep.id = e.vec_id
         |GROUP BY e.label ORDER BY e.label""".stripMargin
    })

  /** Semantic decontamination: corpus vectors (labels 0–8) scored by max
    * cosine against the label-9 "benchmark" set — catches paraphrased
    * leakage with no shared n-grams. Benchmark broadcast; max partial-
    * aggregates map-side; 6dp-prerounded before the flag cut.
    *
    * The benchmark is pinned to a FIXED id range (`vec_id < 1000` — the
    * whole fixture at the oracle SFs, so those results are unchanged):
    * eval benchmarks do not grow with the training corpus, and the cost
    * model must reflect that — O(corpus × |benchmark|) with |benchmark|
    * a constant is LINEAR in the corpus. Without the pin the synthetic
    * label-9 side scales with SF and the scan is quadratic by fixture
    * artifact (measured 46× at the 10× headroom SF). For benchmark sets
    * too large to broadcast-scan, the IVF-prefiltered shape of
    * pipeline_semdedup_embeddings is the path. */
  private val semanticDecontam = Q(
    "sim_semantic_decontaminate",
    (s, dir) => {
      import s.implicits._
      val e = Tables(s, dir).embeddings
      graft.operators.HygieneOps.semanticContamination(
          e.filter($"label" =!= 9),
          e.filter($"label" === 9 && $"vec_id" < 1000),
          "vec_id", "embedding", 0.5)
        .select($"id".as("vec_id"), $"max_cos", $"contaminated")
        .orderBy($"vec_id")
    },
    Some {
      def dcos(a: String, b: String) =
        s"list_dot_product($a,$b)/(sqrt(list_dot_product($a,$a))*sqrt(list_dot_product($b,$b)))"
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] v FROM embeddings),
         |b AS (SELECT v AS bv FROM e WHERE label = 9 AND vec_id < 1000),
         |s AS (SELECT e.vec_id, (floor((${dcos("e.v", "bv")}) * 1e6 + 0.5) / 1e6) AS cos
         |      FROM e CROSS JOIN b WHERE e.label <> 9)
         |SELECT vec_id, max(cos) AS max_cos,
         |       max(cos) >= 0.5 AS contaminated
         |FROM s GROUP BY vec_id ORDER BY vec_id""".stripMargin
    })

  /** CCNet-style perplexity bucketing: within each language, docs split
    * into head/middle/tail thirds by bigram-LM bits/token (ntile over the
    * 6dp-rounded score with doc_id tiebreak — both engines cut
    * identically). The mixture-control step that keeps some high-
    * perplexity tail instead of hard-filtering. */
  private val pplBuckets = Q(
    "mix_perplexity_buckets",
    (s, dir) => {
      import s.implicits._
      val bits = graft.operators.TextOps
        .bigramLmBits(docs(s, dir), "doc_id", "text")
        .join(docs(s, dir).select($"doc_id".as("id"), $"lang"), "id")
        .withColumn("bits", (floor(($"bits_per_token") * 1e6 + 0.5) / 1e6))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"lang").orderBy($"bits", $"id")
      bits.withColumn("nt", ntile(3).over(w))
        .withColumn("bucket",
          when($"nt" === 1, "head").when($"nt" === 2, "middle")
            .otherwise("tail"))
        .groupBy($"lang", $"bucket")
        .agg(count(lit(1)).as("n"), (floor((avg($"bits")) * 1e6 + 0.5) / 1e6).as("avg_bits"))
        .orderBy($"lang", $"bucket")
    },
    Some(s"""WITH ${TextQueries.perplexityCteBody},
            |lb AS (
            |  SELECT d.lang, p.doc_id, p.bits_per_token AS bits,
            |         ntile(3) OVER (PARTITION BY d.lang
            |                        ORDER BY p.bits_per_token, p.doc_id) AS nt
            |  FROM perdoc p JOIN documents d USING (doc_id))
            |SELECT lang,
            |       CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
            |               ELSE 'tail' END AS bucket,
            |       count(*) AS n, (floor((avg(bits)) * 1e6 + 0.5) / 1e6) AS avg_bits
            |FROM lb GROUP BY lang, nt ORDER BY lang, bucket""".stripMargin))

  /** Token-budget corpus selection: take documents in quality order until
    * the running token total reaches the budget — the deterministic greedy
    * cut for "best N-token subset". Running sum over a narrow per-doc
    * stats table (the scalable form two-levels the cumsum exactly like
    * PackingOps.packSequences; the selection itself is one ordered
    * window + filter). */
  private val tokenBudget = Q(
    "mix_token_budget_select",
    (s, dir) => {
      import s.implicits._
      val d = docs(s, dir).select($"doc_id",
        (floor((graft.operators.TextOps.qualityScore($"text")) * 1e6 + 0.5) / 1e6).as("q"),
        graft.operators.TextOps.tokenCount($"text").cast("long").as("n_tokens"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy($"q".desc, $"doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      d.withColumn("cum_tokens", sum($"n_tokens").over(w))
        .filter($"cum_tokens" <= 5000)
        .select($"doc_id", $"q", $"n_tokens", $"cum_tokens")
        .orderBy($"doc_id")
    },
    Some {
      val stopIn = TextOps.stopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH d AS (
         |  SELECT doc_id,
         |    (floor((least(length(text)::DOUBLE/500.0, 1.0)*0.5
         |      + (1.0 - least((floor((length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))::DOUBLE
         |                    / length(text)) * 1e6 + 0.5) / 1e6)*5.0, 1.0))*0.3
         |      + least((floor((len(list_filter(string_split(text,' '),
         |                t -> t IN ($stopIn)))::DOUBLE
         |              / len(string_split(text,' '))) * 1e6 + 0.5) / 1e6)*4.0, 1.0)*0.2) * 1e6 + 0.5) / 1e6) AS q,
         |    len(string_split(text,' '))::BIGINT AS n_tokens
         |  FROM documents)
         |SELECT doc_id, q, n_tokens, cum_tokens FROM (
         |  SELECT *, sum(n_tokens) OVER
         |    (ORDER BY q DESC, doc_id ROWS UNBOUNDED PRECEDING)::BIGINT
         |    AS cum_tokens
         |  FROM d)
         |WHERE cum_tokens <= 5000 ORDER BY doc_id""".stripMargin
    })

  /** Temperature-scaled domain mixing (α = 0.5, i.e. T = 2): the target
    * sampling share of each source is n^α normalized — rare domains are
    * upsampled relative to their raw share. One hash aggregate + a
    * broadcast one-row totals join; Σn^α is pre-rounded to 6dp so both
    * engines' partition-order double sums round identically. */
  private val tempWeights = Q(
    "mix_temperature_weights",
    (s, dir) => {
      import s.implicits._
      graft.operators.SamplingOps.temperatureWeights(docs(s, dir),
          "source", 0.5)
        .orderBy($"source")
    },
    Some("""WITH s AS (SELECT source, count(*)::BIGINT AS n_docs
           |          FROM documents GROUP BY source),
           |t AS (SELECT sum(n_docs)::DOUBLE AS tot,
           |             (floor((sum(pow(n_docs, 0.5))) * 1e6 + 0.5) / 1e6) AS pa FROM s)
           |SELECT source, n_docs, (floor((n_docs/tot) * 1e6 + 0.5) / 1e6) AS p_raw,
           |       (floor((pow(n_docs, 0.5)/pa) * 1e6 + 0.5) / 1e6) AS w_temp
           |FROM s, t ORDER BY source""".stripMargin))

  /** Deterministic epoch shuffle — reproducible global permutation of
    * the training corpus per epoch: order = portable hash of
    * (epoch salt ‖ doc_id). Every engine, every rerun, every resume
    * sees the identical epoch-2 ordering, and different epochs are
    * independent permutations — the property data-loader shuffles need
    * and rand() cannot give. At scale the same hash key feeds
    * repartitionByRange (range-partitioned global order with no single
    * reducer); the query pins the first 20 docs of epoch 2 plus a
    * position checksum over the whole permutation (Σ pos·doc_id — any
    * transposition changes it). */
  private val epochShuffle = Q(
    "mix_epoch_shuffle",
    (s, dir) => {
      import s.implicits._
      val keyed = docs(s, dir).select($"doc_id")
        .withColumn("k", conv(substring(
          md5(concat(lit("epoch2:"), $"doc_id")), 1, 8), 16, 10)
          .cast("long"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy($"k", $"doc_id")
      val positioned = keyed
        .withColumn("pos", row_number().over(w).cast("long"))
      val checksum = positioned
        .agg(sum($"pos" * $"doc_id").as("perm_checksum"))
      positioned.filter($"pos" <= 20)
        .crossJoin(broadcast(checksum))
        .select($"pos", $"doc_id", $"perm_checksum")
        .orderBy($"pos")
    },
    Some("""WITH keyed AS (
           |  SELECT doc_id,
           |         ('0x' || substr(md5('epoch2:' || doc_id::VARCHAR),
           |                         1, 8))::BIGINT AS k
           |  FROM documents),
           |pos AS (
           |  SELECT doc_id,
           |         row_number() OVER (ORDER BY k, doc_id) AS pos
           |  FROM keyed),
           |ck AS (SELECT sum(pos * doc_id)::BIGINT AS perm_checksum
           |       FROM pos)
           |SELECT pos, doc_id, perm_checksum
           |FROM pos CROSS JOIN ck
           |WHERE pos <= 20 ORDER BY pos""".stripMargin))

  def all: Seq[Q] =
    Seq(decontam, decontamSpans, gopher, semdedup, mix, pack, trainingCorpus,
      importance, domainCap, weighted, semdedupCorpus, semanticDecontam,
      pplBuckets, tokenBudget, tempWeights, epochShuffle)
}
