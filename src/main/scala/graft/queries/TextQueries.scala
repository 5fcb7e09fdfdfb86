package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.core.Lineage.LineageOps
import graft.operators.TextOps

/** [EXT] Text-analysis queries over `documents` (SURVEY §2E): token
  * counting, quality scoring, language ID, fingerprinting, word
  * frequency. All pure column expressions — scan-local at scale except
  * the one explode+groupBy (word_freq), which shuffles on the token.
  *
  * DuckDB twins recompute the same arithmetic: the shared 32-bit hash is
  * `('0x' || substr(md5(s),1,8))::BIGINT` ≡ Spark
  * `conv(substring(md5(s),1,8),16,10)`.
  */
object TextQueries {

  private def t(s: org.apache.spark.sql.SparkSession, dir: String) = Tables(s, dir)

  // The text_* scans sort AFTER projecting doc_id+text and compute the
  // heavy regex/hash columns ABOVE the sort: the range partitioner's
  // sampling pass evaluates the plan below the sort over every row, so
  // expressions placed below an orderBy run TWICE (the f1_conform lesson,
  // measured 1.5×, NOTES_r14.md). The sort row carries the raw text
  // instead of the derived columns — at presentation-sort volumes that
  // trade is strictly cheaper than double-running the regex engine.
  private val tokenStats = Q(
    "text_token_stats",
    (s, dir) => {
      import s.implicits._
      t(s, dir).documents.select($"doc_id", $"text")
        .orderBy($"doc_id")
        .select(
          $"doc_id",
          TextOps.tokenCount($"text").as("n_tokens"),
          TextOps.distinctTokenCount($"text").as("n_distinct"),
          TextOps.bpeishTokenCount($"text").as("n_bpeish"),
          TextOps.meanTokenLength($"text").as("mean_token_len"))
    },
    Some("""SELECT doc_id,
           |  len(string_split(text,' '))::INT AS n_tokens,
           |  len(list_distinct(string_split(text,' ')))::INT AS n_distinct,
           |  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))::INT AS n_bpeish,
           |  (floor(((length(text) - len(string_split(text,' ')) + 1)::DOUBLE
           |        / len(string_split(text,' '))) * 1e6 + 0.5) / 1e6) AS mean_token_len
           |FROM documents ORDER BY doc_id""".stripMargin))

  private val quality = Q(
    "text_quality_score",
    (s, dir) => {
      import s.implicits._
      t(s, dir).documents.select($"doc_id", $"text")
        .orderBy($"doc_id")
        .select(
          $"doc_id",
          TextOps.punctRatio($"text").as("punct_ratio"),
          TextOps.stopwordRatio($"text").as("stopword_ratio"),
          TextOps.qualityScore($"text").as("quality"))
    },
    Some("""WITH m AS (
           |  SELECT doc_id,
           |    (floor((length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))::DOUBLE
           |          / length(text)) * 1e6 + 0.5) / 1e6) AS punct_ratio,
           |    (floor((len(list_filter(string_split(text,' '),
           |              t -> t IN ('the','a','of','and','to','in')))::DOUBLE
           |          / len(string_split(text,' '))) * 1e6 + 0.5) / 1e6) AS stopword_ratio,
           |    length(text) AS n
           |  FROM documents)
           |SELECT doc_id, punct_ratio, stopword_ratio,
           |  (floor((least(n::DOUBLE/500.0, 1.0)*0.5
           |        + (1.0 - least(punct_ratio*5.0, 1.0))*0.3
           |        + least(stopword_ratio*4.0, 1.0)*0.2) * 1e6 + 0.5) / 1e6) AS quality
           |FROM m ORDER BY doc_id""".stripMargin))

  private val langIdQ = Q(
    "text_lang_id",
    (s, dir) => {
      import s.implicits._
      // sort first, classify after: the n-gram marker scan below the
      // orderBy would run twice (range-sampling pass + sort input) —
      // carrying text through the sort is cheaper (A/B: 1.18x at sf0.1)
      t(s, dir).documents
        .select($"doc_id", $"lang", $"text")
        .orderBy($"doc_id")
        .select($"doc_id", $"lang", TextOps.langId($"text").as("lang_pred"))
    },
    Some {
      val scores = TextOps.langMarkers.map { case (lang, markers) =>
        val in = markers.map(m => s"'$m'").mkString(", ")
        s"len(list_filter(toks, t -> t IN ($in))) AS s_$lang"
      }.mkString(",\n    ")
      val langs = TextOps.langMarkers.map(_._1)
      val best = s"greatest(${langs.map("s_" + _).mkString(", ")})"
      val cases = langs.map(l => s"WHEN s_$l = best THEN '$l'").mkString(" ")
      s"""WITH toks AS (SELECT doc_id, lang, string_split(text,' ') toks FROM documents),
         |sc AS (SELECT doc_id, lang,
         |    $scores
         |  FROM toks),
         |b AS (SELECT *, $best AS best FROM sc)
         |SELECT doc_id, lang,
         |  CASE WHEN best = 0 THEN 'und' $cases ELSE 'und' END AS lang_pred
         |FROM b ORDER BY doc_id""".stripMargin
    })

  private val fingerprintQ = Q(
    "text_fingerprint",
    (s, dir) => {
      import s.implicits._
      t(s, dir).documents.select($"doc_id", $"text")
        .orderBy($"doc_id")
        .select(
          $"doc_id",
          TextOps.bagFingerprint($"text").as("bag_fp"),
          TextOps.rollingFingerprint($"text").as("rolling_fp"))
    },
    Some("""SELECT doc_id,
           |  md5(array_to_string(list_sort(list_distinct(string_split(text,' '))), ' ')) AS bag_fp,
           |  list_reduce(
           |    list_prepend(0::BIGINT,
           |      [('0x'||substr(md5(t),1,8))::BIGINT FOR t IN string_split(text,' ')]),
           |    (acc, x) -> (acc*31 + x) % 1000000007) AS rolling_fp
           |FROM documents ORDER BY doc_id""".stripMargin))

  private val wordFreq = Q(
    "text_word_freq",
    (s, dir) => {
      import s.implicits._
      t(s, dir).documents
        .select(explode(TextOps.tokens($"text")).as("token"))
        .groupBy($"token").agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"token")
        .limit(20)
    },
    Some("""SELECT token, count(*) AS n
           |FROM (SELECT unnest(string_split(text,' ')) AS token FROM documents)
           |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin))

  /** Top TF-IDF terms per language: tf = term/doc_len, smoothed idf,
    * max tf·idf per (lang, token), top-3 by rank. All rounding at 6dp
    * before the rank cut so both engines cut identically. */
  private val tfidfQ = Q(
    "text_tfidf_top_terms",
    (s, dir) => {
      import s.implicits._
      val docs = t(s, dir).documents
      val scored = TextOps.tfIdf(docs, "doc_id", "text")
        .join(docs.select($"doc_id".as("id"), $"lang"), "id")
        .groupBy($"lang", $"token")
        .agg((floor((max($"tf_idf")) * 1e6 + 0.5) / 1e6).as("max_tfidf"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"lang").orderBy($"max_tfidf".desc, $"token")
      scored.withColumn("rk", row_number().over(w))
        .filter($"rk" <= 3)
        .select($"lang", $"rk", $"token", $"max_tfidf")
        .orderBy($"lang", $"rk")
    },
    Some("""WITH toks AS (
           |  SELECT doc_id, lang, len(string_split(text,' ')) doc_len,
           |         unnest(string_split(text,' ')) token
           |  FROM documents),
           |tf AS (
           |  SELECT doc_id, lang, token, doc_len,
           |         count(*)::DOUBLE / doc_len AS tf
           |  FROM toks GROUP BY doc_id, lang, token, doc_len),
           |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
           |scored AS (
           |  SELECT lang, tf.token,
           |         (floor((max(tf * ln(((SELECT count(*) FROM documents) + 1.0)
           |                           / (df + 1.0)))) * 1e6 + 0.5) / 1e6) AS max_tfidf
           |  FROM tf JOIN dfreq ON tf.token = dfreq.token
           |  GROUP BY lang, tf.token)
           |SELECT lang, rk, token, max_tfidf FROM (
           |  SELECT *, (row_number() OVER
           |    (PARTITION BY lang ORDER BY max_tfidf DESC, token))::INT rk
           |  FROM scored)
           |WHERE rk <= 3 ORDER BY lang, rk""".stripMargin))

  /** BM25 document ranking for a fixed 3-term query. Per-term scores are
    * rounded at 6dp and converted to integer micro-units BEFORE the
    * per-document sum, so the aggregate is exact integer arithmetic —
    * associative, order-independent, bit-identical across engines (a
    * float sum's value depends on accumulation order; a long's doesn't).
    * DuckDB integer sum() is HUGEINT → cast ::BIGINT to match Spark. */
  private val bm25Q = Q(
    "text_bm25_top_docs",
    (s, dir) => {
      import s.implicits._
      TextOps.bm25(t(s, dir).documents, "doc_id", "text")
        .filter($"token".isin("join", "filter", "column"))
        .withColumn("score_micro",
          floor($"score" * 1e6 + 0.5).cast("long"))
        .groupBy($"id")
        .agg(count(lit(1)).cast("int").as("n_terms_hit"),
          sum($"score_micro").as("bm25_micro"))
        .orderBy($"bm25_micro".desc, $"id")
        .limit(10)
        .select($"id".as("doc_id"), $"n_terms_hit", $"bm25_micro")
    },
    Some("""WITH toks AS (
           |  SELECT doc_id, len(string_split(text,' ')) doc_len,
           |         unnest(string_split(text,' ')) token
           |  FROM documents),
           |tf AS (
           |  SELECT doc_id, doc_len, token, count(*) AS tc
           |  FROM toks GROUP BY doc_id, doc_len, token),
           |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
           |stats AS (SELECT count(*) AS n_docs,
           |                 sum(len(string_split(text,' '))) AS total_len
           |          FROM documents),
           |scored AS (
           |  SELECT tf.doc_id,
           |         CAST(floor(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
           |               * (tc * (1.2 + 1.0))
           |               / (tc + 1.2 * (1.0 - 0.75 + 0.75 * doc_len
           |                              / (total_len::DOUBLE / n_docs)))
           |               * 1e6 + 0.5) AS BIGINT) AS score_scaled
           |  FROM tf JOIN dfreq ON tf.token = dfreq.token CROSS JOIN stats
           |  WHERE tf.token IN ('join', 'filter', 'column'))
           |SELECT doc_id, count(*)::INT AS n_terms_hit,
           |       sum(score_scaled)::BIGINT AS bm25_micro
           |FROM scored GROUP BY doc_id
           |ORDER BY bm25_micro DESC, doc_id LIMIT 10""".stripMargin))

  /** Context-window chunking at 32 tokens / stride 16 (overlapping
    * windows, short tails kept). chunk_id ↔ start/stride: Spark's
    * posexplode position equals DuckDB's start // 16 because the start
    * sequence steps by exactly the stride. Scan-local — no shuffle. */
  private val chunkQ = Q(
    "text_chunk_windows",
    (s, dir) => {
      import s.implicits._
      graft.operators.PackingOps
        .chunkByTokens(t(s, dir).documents, "doc_id", "text", 32, 16)
        .orderBy($"doc_id", $"chunk_id")
    },
    Some("""WITH tok AS (
           |  SELECT doc_id, string_split(text,' ') AS toks FROM documents),
           |starts AS (
           |  SELECT doc_id, toks,
           |         unnest(generate_series(0, greatest(len(toks)-1, 0), 16)) AS s
           |  FROM tok)
           |SELECT doc_id, (s // 16)::INT AS chunk_id,
           |       array_to_string(list_slice(toks, s+1, s+32), ' ') AS chunk_text,
           |       len(list_slice(toks, s+1, s+32))::INT AS chunk_tokens
           |FROM starts ORDER BY doc_id, chunk_id""".stripMargin))

  /** PII redaction: the synthetic corpus carries no PII, so the query
    * injects one email and one IPv4 per document deterministically from
    * doc_id (both engines build the identical string), then counts and
    * redacts. The redacted md5 proves both engines replaced the exact
    * same spans. Scan-local column expressions — no shuffle. */
  private val piiRedact = Q(
    "text_pii_redact",
    (s, dir) => {
      import s.implicits._
      t(s, dir).documents.select($"doc_id", $"text")
        .orderBy($"doc_id")
        .select($"doc_id", concat(
          $"text", lit(" contact user"), $"doc_id".cast("string"),
          lit("@example.com at 10."), ($"doc_id" % 256).cast("string"),
          lit(".0."), ($"doc_id" % 100).cast("string")).as("text"))
        .select($"doc_id",
          TextOps.countMatches($"text", TextOps.emailRegex).as("n_emails"),
          TextOps.countMatches($"text", TextOps.ipv4Regex).as("n_ips"),
          md5(TextOps.redactPii($"text")).as("redacted_md5"))
    },
    Some(s"""WITH aug AS (
            |  SELECT doc_id,
            |    text || ' contact user' || doc_id::VARCHAR || '@example.com at 10.'
            |         || (doc_id % 256)::VARCHAR || '.0.' || (doc_id % 100)::VARCHAR AS text
            |  FROM documents)
            |SELECT doc_id,
            |  len(regexp_extract_all(text, '${TextOps.emailRegex}'))::INT AS n_emails,
            |  len(regexp_extract_all(text, '${TextOps.ipv4Regex}'))::INT AS n_ips,
            |  md5(regexp_replace(regexp_replace(text,
            |        '${TextOps.emailRegex}', '[EMAIL]', 'g'),
            |      '${TextOps.ipv4Regex}', '[IP]', 'g')) AS redacted_md5
            |FROM aug ORDER BY doc_id""".stripMargin))

  /** CCNet/C4-style normalization over a deterministically-dirtied copy
    * of each document (leading/trailing whitespace, an uppercased prefix
    * echo, a tab, an NBSP) — proving the cleanup pipeline actually folds
    * case, control chars, and space runs — plus the identity property on the
    * already-clean original. md5 of the normalized text keeps the output
    * compact while hash-checking every byte. */
  private val normalizeQ = Q(
    "text_normalize",
    (s, dir) => {
      import s.implicits._
      val dirty = concat(lit("  "), upper(substring($"text", 1, 12)),
        lit("\t"), $"text", lit(" \u00A0 "))
      // sort first, normalize after (house text_* rule): three regex
      // pipelines below the orderBy would run twice \u2014 OPTIMIZATION_r14.md:
      // 1.22\u00D7 at sf0.1
      t(s, dir).documents.select($"doc_id", $"text")
        .orderBy($"doc_id")
        .select(
          $"doc_id",
          md5(TextOps.normalizeText(dirty)).as("norm_md5"),
          length(TextOps.normalizeText(dirty)).as("n_chars_norm"),
          (TextOps.normalizeText($"text") === $"text").as("already_clean"))
    },
    Some {
      // the same pipeline, spelled in DuckDB: control chars → space,
      // unicode punctuation folded via the shared translate table, space
      // runs collapsed, trim, lower
      def norm(e: String) =
        s"""lower(trim(regexp_replace(translate(regexp_replace($e,
           |    '[\\x00-\\x1f\\x7f]', ' ', 'g'),
           |    '${TextOps.normFrom}', '${TextOps.normTo.replace("'", "''")}'),
           |  ' {2,}', ' ', 'g')))""".stripMargin
      s"""WITH aug AS (
         |  SELECT doc_id, text,
         |         '  ' || upper(text[1:12]) || chr(9) || text ||
         |           ' ' || chr(160) || ' ' AS dirty
         |  FROM documents)
         |SELECT doc_id,
         |       md5(${norm("dirty")}) AS norm_md5,
         |       length(${norm("dirty")})::INT AS n_chars_norm,
         |       (${norm("text")} = text) AS already_clean
         |FROM aug ORDER BY doc_id""".stripMargin
    })

  /** Shared DuckDB CTE body: the add-one bigram LM refit + per-doc
    * bits/token (`perdoc(doc_id, n_bigrams, bits_per_token)`) — used by
    * text_perplexity_bigram and HygieneQueries.mix_perplexity_buckets. */
  private[queries] val perplexityCteBody =
    """toks AS (
      |  SELECT doc_id, string_split(text,' ') AS t FROM documents),
      |big AS (
      |  SELECT doc_id,
      |         unnest([{'w1': t[i], 'w2': t[i+1]}
      |                 FOR i IN generate_series(1, len(t)-1)],
      |                recursive := true)
      |  FROM toks WHERE len(t) >= 2),
      |bc AS (SELECT w1, w2, count(*) AS c12 FROM big GROUP BY w1, w2),
      |cc AS (SELECT w1, sum(c12)::BIGINT AS c1 FROM bc GROUP BY w1),
      |v AS (SELECT count(DISTINCT token) AS v
      |      FROM (SELECT unnest(string_split(text,' ')) AS token
      |            FROM documents)),
      |perdoc AS (
      |  SELECT b.doc_id, count(*)::BIGINT AS n_bigrams,
      |         (floor((avg(-log2((bc.c12 + 1.0) / (cc.c1 + v.v)))) * 1e6 + 0.5) / 1e6)
      |           AS bits_per_token
      |  FROM big b JOIN bc USING (w1, w2) JOIN cc USING (w1) CROSS JOIN v
      |  GROUP BY b.doc_id)""".stripMargin

  /** Self-trained bigram-LM scoring (the CCNet perplexity-filter shape):
    * bits-per-token per document under add-one-smoothed corpus bigram
    * conditionals. DuckDB twin refits the identical model; both engines
    * compute (c12+1)/(c1+V) from exact integers, so only the final
    * avg(−log2) needs rounding. */
  private val perplexityQ = Q(
    "text_perplexity_bigram",
    (s, dir) => {
      import s.implicits._
      TextOps.bigramLmBits(t(s, dir).documents, "doc_id", "text")
        .select($"id".as("doc_id"), $"n_bigrams",
          (floor(($"bits_per_token") * 1e6 + 0.5) / 1e6).as("bits_per_token"))
        .orderBy($"doc_id")
    },
    Some(s"""WITH $perplexityCteBody
            |SELECT doc_id, n_bigrams, bits_per_token
            |FROM perdoc ORDER BY doc_id""".stripMargin))

  /** PMI collocation mining: pointwise mutual information over bigram
    * events, PMI(w1,w2) = ln(c12·NB / (cL(w1)·cR(w2))) — high-PMI pairs
    * co-occur far above chance (the classic collocation extractor).
    * Support floor c12 ≥ 5 kills noise; ranking cuts on the ROUNDED score
    * with a (w1, w2) tiebreak so both engines cut identically. All counts
    * are exact integers. The margin tables are O(vocab) — unbounded on a
    * real corpus — so their joins are left to Catalyst/AQE (broadcast
    * when measured-small, keyed shuffle otherwise); only the one-row NB
    * aggregate is explicitly broadcast-cross-joined. */
  private val pmiQ = Q(
    "text_pmi_collocations",
    (s, dir) => {
      import s.implicits._
      val big = t(s, dir).documents
        .select(explode(TextOps.bigramPairs($"text")).as("bg"))
        .select($"bg.w1", $"bg.w2")
        .cut(eager = false)
      val c12 = big.groupBy($"w1", $"w2").agg(count(lit(1)).as("c12"))
      val cl = big.groupBy($"w1").agg(count(lit(1)).as("cl"))
      val cr = big.groupBy($"w2").agg(count(lit(1)).as("cr"))
      val nb = big.agg(count(lit(1)).as("nb"))
      c12.filter($"c12" >= 5)
        .join(cl, "w1").join(cr, "w2")
        .crossJoin(broadcast(nb))
        .select($"w1", $"w2", $"c12",
          // cast BEFORE dividing: Spark long/long truncates where DuckDB's
          // integer `/` already yields DOUBLE — both products stay exact
          // in double (≪ 2^53)
          (floor((log(($"c12" * $"nb").cast("double") / ($"cl" * $"cr"))) * 1e6 + 0.5) / 1e6)
            .as("pmi"))
        .orderBy($"pmi".desc, $"w1", $"w2")
        .limit(15)
    },
    Some("""WITH big AS (
           |  SELECT doc_id,
           |         unnest([{'w1': t[i], 'w2': t[i+1]}
           |                 FOR i IN generate_series(1, len(t)-1)],
           |                recursive := true)
           |  FROM (SELECT doc_id, string_split(text,' ') AS t FROM documents)
           |  WHERE len(t) >= 2),
           |c12 AS (SELECT w1, w2, count(*) AS c12 FROM big GROUP BY w1, w2),
           |cl AS (SELECT w1, count(*) AS cl FROM big GROUP BY w1),
           |cr AS (SELECT w2, count(*) AS cr FROM big GROUP BY w2),
           |nb AS (SELECT count(*) AS nb FROM big)
           |SELECT w1, w2, c12,
           |       (floor((ln(c12 * nb / (cl * cr))) * 1e6 + 0.5) / 1e6) AS pmi
           |FROM c12 JOIN cl USING (w1) JOIN cr USING (w2) CROSS JOIN nb
           |WHERE c12 >= 5
           |ORDER BY pmi DESC, w1, w2 LIMIT 15""".stripMargin))

  /** Vocabulary coverage: fit the top-50 corpus vocabulary (count desc,
    * token asc — deterministic) and report each document's OOV occurrence
    * rate. Vocab broadcast into the scoring join; token scan runs once. */
  private val vocabOovQ = Q(
    "text_vocab_oov",
    (s, dir) => {
      import s.implicits._
      TextOps.vocabOov(t(s, dir).documents, "doc_id", "text", 50)
        .select($"id".as("doc_id"), $"n_tokens", $"oov_rate")
        .orderBy($"doc_id")
    },
    Some("""WITH tok AS (
           |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
           |  FROM documents),
           |v AS (
           |  SELECT token FROM tok GROUP BY token
           |  ORDER BY count(*) DESC, token LIMIT 50)
           |SELECT t.doc_id, count(*)::BIGINT AS n_tokens,
           |       (floor((avg(CASE WHEN v.token IS NULL THEN 1.0 ELSE 0.0 END)) * 1e6 + 0.5) / 1e6)
           |         AS oov_rate
           |FROM tok t LEFT JOIN v ON t.token = v.token
           |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin))

  /** One BPE-training iteration: count adjacent character pairs across
    * all token OCCURRENCES and rank the merge candidates — the inner loop
    * of byte-pair-encoding tokenizer training, distributed. Pure
    * generate+aggregate plan: `explode(sequence)` char-pair extraction is
    * scan-local; one hash aggregate on the pair. */
  private val bpePairs = Q(
    "text_bpe_pair_counts",
    (s, dir) => {
      import s.implicits._
      t(s, dir).documents
        .select(explode(TextOps.tokens($"text")).as("tok"))
        .filter(length($"tok") >= 2)
        .select($"tok", explode(sequence(lit(1), length($"tok") - 1)).as("i"))
        .select($"tok".substr($"i", lit(2)).as("pair"))
        .groupBy($"pair").agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"pair")
        .limit(15)
    },
    Some("""WITH tok AS (
           |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
           |p AS (
           |  SELECT substring(tok, unnest(generate_series(1, length(tok) - 1)), 2)
           |           AS pair
           |  FROM tok WHERE length(tok) >= 2)
           |SELECT pair, count(*)::BIGINT AS n FROM p
           |GROUP BY pair ORDER BY n DESC, pair LIMIT 15""".stripMargin))

  /** BPE tokenizer TRAINING, 3 merge rounds end-to-end: the oracle
    * replays the identical training loop as 3 unrolled CTE rounds (pair
    * count → lexicographic-tie argmax → leftmost-greedy merge via the
    * shared double-space `replace` encoding), so the learned merge table
    * — the tokenizer artifact itself — is value-pinned cross-engine. */
  private val bpeTrainQ = Q(
    "text_bpe_train",
    (s, dir) => {
      import s.implicits._
      TextOps.bpeTrain(t(s, dir).documents, "text", 3)
        .orderBy($"step")
    },
    Some {
      val rounds = (1 to 3).map { i =>
        s"""p$i AS (
           |  SELECT s[j] AS a, s[j+1] AS b, sum(wc) AS pair_count
           |  FROM (SELECT [x FOR x IN string_split(w, '  ') IF x <> ''] AS s,
           |               wc FROM w${i - 1}),
           |       LATERAL unnest(generate_series(1, len(s) - 1)) AS t(j)
           |  GROUP BY 1, 2),
           |m$i AS (SELECT a, b, pair_count, $i AS step FROM p$i
           |        ORDER BY pair_count DESC, a, b LIMIT 1),
           |w$i AS (SELECT replace(w, ' ' || a || '  ' || b || ' ',
           |                          ' ' || a || b || ' ') AS w, wc
           |        FROM w${i - 1}, m$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH w0 AS (
         |  SELECT '  ' || array_to_string(string_split(word, ''), '  ')
         |           || '  ' AS w,
         |         count(*)::BIGINT AS wc
         |  FROM (SELECT unnest(string_split(text, ' ')) AS word
         |        FROM documents)
         |  GROUP BY 1),
         |$rounds
         |SELECT step::INT AS step, a AS lhs, b AS rhs, a || b AS merged,
         |       pair_count::BIGINT AS pair_count
         |FROM (SELECT * FROM m1 UNION ALL SELECT * FROM m2
         |      UNION ALL SELECT * FROM m3)
         |ORDER BY step""".stripMargin
    })

  /** χ² feature selection: the tokens most associated with English
    * documents by the 2×2 presence contingency (doc frequency, not
    * occurrences), χ² = N(ad−bc)²/((a+b)(c+d)(a+c)(b+d)) with a df ≥ 5
    * floor. Counts are exact integers on both engines; only the final χ²
    * is floating (rounded). Two hash aggregates over per-doc distinct
    * tokens + one tiny corpus-stats cross join. */
  private val chi2 = Q(
    "text_chi2_features",
    (s, dir) => {
      import s.implicits._
      val d = t(s, dir).documents
        .select($"doc_id", ($"lang" === "en").as("is_en"),
          explode(array_distinct(TextOps.tokens($"text"))).as("token"))
      val stats = d.groupBy($"token")
        .agg(sum(when($"is_en", 1L).otherwise(0L)).as("a"),
          count(lit(1)).as("df"))
      val corpus = t(s, dir).documents
        .agg(count(lit(1)).as("n"),
          sum(when($"lang" === "en", 1L).otherwise(0L)).as("n_en"))
      stats.crossJoin(broadcast(corpus))
        .filter($"df" >= 5)
        .withColumn("b", $"df" - $"a")
        .withColumn("c", $"n_en" - $"a")
        .withColumn("d", $"n" - $"df" - $"c")
        // (ad−bc)² and the margin product stay EXACT 64-bit integers on
        // both engines; only the final mul/div is floating — identical
        // operand doubles ⇒ identical rounded χ²
        .withColumn("diff", $"a" * $"d" - $"b" * $"c")
        .withColumn("chi2", (floor((
          $"n".cast("double") * ($"diff" * $"diff").cast("double") /
            (($"a" + $"b") * ($"c" + $"d") * ($"a" + $"c") * ($"b" + $"d"))
              .cast("double")) * 1e6 + 0.5) / 1e6))
        .select($"token", $"a".as("df_en"), $"df", $"chi2")
        .orderBy($"chi2".desc, $"token")
        .limit(10)
    },
    Some("""WITH tok AS (
           |  SELECT doc_id, lang = 'en' AS is_en,
           |         unnest(list_distinct(string_split(text, ' '))) AS token
           |  FROM documents),
           |stats AS (
           |  SELECT token,
           |         sum(CASE WHEN is_en THEN 1 ELSE 0 END)::BIGINT AS a,
           |         count(*)::BIGINT AS df
           |  FROM tok GROUP BY token),
           |corpus AS (
           |  SELECT count(*)::BIGINT AS n,
           |         sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS n_en
           |  FROM documents),
           |cells AS (
           |  SELECT token, a, df, n, df - a AS b, n_en - a AS c,
           |         n - df - (n_en - a) AS d
           |  FROM stats CROSS JOIN corpus WHERE df >= 5)
           |SELECT token, a AS df_en, df,
           |       (floor((n::DOUBLE * ((a*d - b*c) * (a*d - b*c))::DOUBLE
           |             / ((a + b)*(c + d)*(a + c)*(b + d))::DOUBLE) * 1e6 + 0.5) / 1e6) AS chi2
           |FROM cells
           |ORDER BY chi2 DESC, token LIMIT 10""".stripMargin))

  /** Tokenizer encode: documents as token-id sequences under the fitted
    * top-50 vocab (ids in frequency-rank order, OOV → −1), emitted as a
    * space-joined string for portable comparison. The vocab compiles into
    * the scan as a literal map — encoding is scan-local, zero corpus
    * joins. */
  private val encodeQ = Q(
    "text_encode_ids",
    (s, dir) => {
      import s.implicits._
      TextOps.encodeIds(t(s, dir).documents, "doc_id", "text", 50)
        .select($"id".as("doc_id"),
          concat_ws(" ", $"ids").as("ids"))
        .orderBy($"doc_id")
    },
    Some("""WITH tok AS (
           |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
           |  FROM documents),
           |v AS (
           |  SELECT token, (row_number() OVER (ORDER BY c DESC, token) - 1)::INT AS tid
           |  FROM (SELECT token, count(*) AS c FROM tok GROUP BY token
           |        ORDER BY c DESC, token LIMIT 50)),
           |vm AS (SELECT map(list(token), list(tid)) AS m FROM v)
           |SELECT doc_id,
           |       array_to_string(
           |         [coalesce(m[t][1], -1) FOR t IN string_split(text, ' ')],
           |         ' ') AS ids
           |FROM documents CROSS JOIN vm ORDER BY doc_id""".stripMargin))

  /** URL canonicalization: two deterministic messy variants per doc (cased
    * scheme/host, default port, tracking params, fragment, trailing slash
    * vs the clean form) must collapse to ONE canonical URL — the dedup key
    * a web corpus needs before content dedup. The hash gate proves every
    * pair collapsed (n_variants = 2). */
  private val urlCanon = Q(
    "text_url_canonicalize",
    (s, dir) => {
      import s.implicits._
      val urls = t(s, dir).documents.select($"doc_id",
        explode(array(
          concat(lit("HTTPS://"), upper($"source"),
            lit(".Example.COM:443/Docs/"), $"doc_id",
            lit("/?utm_source=feed&ref=rss#frag")),
          concat(lit("https://"), $"source", lit(".example.com/Docs/"),
            $"doc_id"))).as("url"))
      urls.groupBy($"doc_id",
          TextOps.canonicalizeUrl($"url").as("canonical_url"))
        .agg(count(lit(1)).as("n_variants"))
        .orderBy($"doc_id")
    },
    Some("""WITH u AS (
           |  SELECT doc_id, unnest([
           |    'HTTPS://' || upper(source) || '.Example.COM:443/Docs/'
           |      || doc_id || '/?utm_source=feed&ref=rss#frag',
           |    'https://' || source || '.example.com/Docs/' || doc_id]) AS url
           |  FROM documents),
           |c AS (
           |  SELECT doc_id,
           |    regexp_replace(
           |      regexp_replace(
           |        regexp_replace(
           |          regexp_replace(
           |            regexp_replace(
           |              regexp_replace(
           |                lower(regexp_extract(url, '^[A-Za-z]+://[^/?#]*'))
           |                  || regexp_replace(url, '^[A-Za-z]+://[^/?#]*', ''),
           |                ':(80|443)(/|\?|$)', '\2'),
           |              '#.*$', ''),
           |            '[?&](utm_[A-Za-z]+|fbclid|gclid|ref)=[^&#]*', '', 'g'),
           |          '^([^?]*)&', '\1?'),
           |        '\?$', ''),
           |      '([^/:])/$', '\1') AS canonical_url
           |  FROM u)
           |SELECT doc_id, canonical_url, count(*) AS n_variants
           |FROM c GROUP BY doc_id, canonical_url ORDER BY doc_id""".stripMargin))

  /** Sparse TF-IDF cosine top-10 retrieval (TextOps.sparseCosineTopK):
    * inverted-index document search, the embedding-free complement of
    * sim_ivf_topk. Query side = docs 0–4, broadcast into the postings
    * join; top-k via the bounded-heap aggregator. Weights are
    * 6dp-rounded decimals so both engines rank identical exact dot
    * products (ties broken by neighbor id in both). */
  private val sparseTopk = Q(
    "sim_sparse_tfidf_topk",
    (s, dir) => {
      import s.implicits._
      val docs = t(s, dir).documents
      val qids = docs.filter($"doc_id" < 5).select($"doc_id")
      TextOps.sparseCosineTopK(docs, "doc_id", "text", qids, 10)
        .select($"qid".as("query_id"), $"rank", $"neighbor_id", $"cos")
        .orderBy($"query_id", $"rank")
    },
    Some("""WITH n AS (SELECT count(*)::DOUBLE AS nn FROM documents),
           |toks AS (SELECT doc_id, len(string_split(text,' ')) AS doc_len,
           |                unnest(string_split(text,' ')) AS token
           |         FROM documents),
           |tf AS (SELECT doc_id, token, doc_len, count(*) AS tc
           |       FROM toks GROUP BY 1, 2, 3),
           |dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
           |w AS (SELECT tf.doc_id, tf.token,
           |        (floor(((tc::DOUBLE/doc_len) * ln((nn+1)/(df+1))) * 1e6 + 0.5) / 1e6)
           |          ::DECIMAL(18,6) AS w
           |      FROM tf JOIN dfq USING (token) CROSS JOIN n
           |      WHERE df <= 0.9 * nn),
           |nrm AS (SELECT doc_id, sqrt((sum(w*w))::DOUBLE) AS nrm
           |        FROM w GROUP BY doc_id),
           |dots AS (SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
           |           sum(q.w * c.w) AS dot
           |         FROM w q JOIN w c USING (token)
           |         WHERE q.doc_id < 5 AND q.doc_id <> c.doc_id
           |         GROUP BY 1, 2),
           |scored AS (SELECT query_id, neighbor_id,
           |             (floor((dot::DOUBLE / (qn.nrm * cn.nrm)) * 1e6 + 0.5) / 1e6) AS cos
           |           FROM dots JOIN nrm qn ON qn.doc_id = query_id
           |                     JOIN nrm cn ON cn.doc_id = neighbor_id)
           |SELECT query_id, rank, neighbor_id, cos FROM (
           |  SELECT *, (row_number() OVER
           |    (PARTITION BY query_id ORDER BY cos DESC, neighbor_id))::INT
           |    AS rank
           |  FROM scored) WHERE rank <= 10
           |ORDER BY query_id, rank""".stripMargin))

  /** Fasttext-style keep/drop classifier gate
    * ([[TextOps.classifierMargin]]): hashing-trick features (unigrams ++
    * 2-grams mod 1024), integer milli-weights derived from the portable
    * hash (the trained-parameter STUB — see the operator Scaladoc), exact
    * integer margin, one trailing double division for the reported score.
    * The keep decision compares INTEGERS (z_milli > 0), so no float
    * tie can diverge between engines. Scan-local: the 100 TB cost is the
    * corpus scan itself. */
  private val classifierQ = Q(
    "text_quality_classifier",
    (s, dir) => {
      import s.implicits._
      // sort first, classify after (the house text_* rule, header comment
      // above): the per-gram md5 fold below the orderBy would run twice
      // (range-sampling pass + sort input) — OPTIMIZATION_r14.md: 1.64× at sf0.1
      t(s, dir).documents.select($"doc_id", $"text")
        .orderBy($"doc_id")
        .select($"doc_id",
          TextOps.classifierMargin($"text").as("m"))
        .select($"doc_id",
          $"m.n_feats".as("n_feats"),
          (floor(($"m.z_milli".cast("double") / ($"m.n_feats" * 1000.0)) * 1e6 + 0.5) / 1e6)
            .as("score"),
          ($"m.z_milli" > 0).as("keep"))
    },
    Some("""WITH d AS (SELECT doc_id, string_split(text,' ') toks FROM documents),
           |g AS (SELECT doc_id,
           |        list_concat(toks,
           |          [array_to_string(toks[i:i+1],' ')
           |           FOR i IN generate_series(1, len(toks)-1)]) grams
           |      FROM d),
           |f AS (SELECT doc_id, len(grams)::INT AS n_feats,
           |        list_sum(list_transform(grams, tk ->
           |          ('0x' || substr(md5('w#' ||
           |             (('0x' || substr(md5(tk),1,8))::BIGINT % 1024)::VARCHAR),
           |           1,8))::BIGINT % 2001 - 1000))::BIGINT AS z_milli
           |      FROM g)
           |SELECT doc_id, n_feats,
           |       (floor((z_milli::DOUBLE / (n_feats * 1000.0)) * 1e6 + 0.5) / 1e6) AS score,
           |       z_milli > 0 AS keep
           |FROM f ORDER BY doc_id""".stripMargin))

  def all: Seq[Q] =
    Seq(tokenStats, quality, langIdQ, fingerprintQ, wordFreq, tfidfQ, bm25Q,
      chunkQ, piiRedact, normalizeQ, perplexityQ, pmiQ, vocabOovQ, bpePairs,
      bpeTrainQ, chi2, encodeQ, urlCanon, sparseTopk, classifierQ)
}
