package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Lineage.LineageOps

/** [EXT] Deduplication operator library (SURVEY §2E): exact, n-gram
  * Jaccard, MinHash+LSH, SimHash — over `documents`.
  *
  * Scale posture: nothing here compares all pairs. Candidate generation is
  * always an inverted-index / LSH-bucket equi-join (shuffle on the bucket
  * key), so cost is Σ bucket² not N² — the standard way these survive
  * 100 TB. Verification (true Jaccard / hamming) runs only on candidate
  * pairs. All hashing is the portable md5-prefix hash32 (TextOps.hash32),
  * so DuckDB oracles reproduce values exactly.
  *
  * Fixed-point similarity outputs (Jaccard / containment scores) round
  * via the deterministic floor form `floor(x·10ⁿ + 0.5) / 10ⁿ` (half
  * toward +∞; all similarities here are non-negative). See TextOps.
  */
object DedupOps {

  /** Exact dedup by fingerprint: one survivor (min tiebreakCol) per key,
    * plus the group size. A single hash-shuffle groupBy with map-side
    * partial aggregation. */
  def exactDedupSummary(df: DataFrame, fingerprint: Column, idCol: String)
      : DataFrame =
    df.groupBy(fingerprint.as("fingerprint"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Exact dedup keeping the first row per key set — `row_number` over a
    * key-partitioned window; shuffles once on the keys. */
  def keepFirst(df: DataFrame, keys: Seq[String], tiebreak: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(tiebreak))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** C4-style line-level dedup (Raffel et al. 2020 §2.2 shape): split each
    * document into non-overlapping `w`-token chunks (this corpus has no
    * newlines, so the fixed-width chunk stands in for C4's line), keep the
    * globally FIRST occurrence of every distinct chunk (ordered by doc id
    * then position), and reassemble each document from its survivors.
    * One shuffle on the chunk text (the keep-first window) plus one hash
    * aggregate to reassemble — both keys are fine-grained (chunk text /
    * doc id), so the plan holds at 100 TB; no broadcast, no pair join.
    * Returns (id, n_chunks, n_kept, clean_text). */
  def lineDedup(docs: DataFrame, idCol: String, textCol: String, w: Int)
      : DataFrame = {
    val toks = TextOps.tokens(col(textCol))
    val nChunks = ceil(size(toks).cast("double") / w).cast("int")
    val chunks = docs.select(col(idCol).as("id"),
        posexplode(transform(sequence(lit(0), nChunks - 1),
          i => array_join(slice(toks, i * w + 1, lit(w)), " "))))
      .select(col("id"), col("pos"), col("col").as("chunk"))
    val win = Window.partitionBy(col("chunk")).orderBy(col("id"), col("pos"))
    chunks.withColumn("rn", row_number().over(win))
      .groupBy(col("id"))
      .agg(count(lit(1)).cast("int").as("n_chunks"),
        sum(when(col("rn") === 1, 1).otherwise(0)).cast("int").as("n_kept"),
        // survivors back in document order; the HOF runs once per DOC over
        // a handful of collected chunks — not a scan-path concern
        array_join(transform(array_sort(collect_list(
            when(col("rn") === 1, struct(col("pos"), col("chunk"))))),
          x => x.getField("chunk")), " ").as("clean_text"))
  }

  /** Dictionary-encode token sets ONCE: (id, sorted array<long> of
    * xxhash64(token), sz). Shared by the dense kernel and the PPJoin path
    * — the two must stay bit-identical for their exactness contract (the
    * ppjoin==dense property test). Fanned across all cores (a single
    * parquet split would single-thread the downstream pair work) and
    * LAZILY checkpointed: materialized once at the first action and then
    * reused by every self-join side, but constructing the plan (explain,
    * plan specs, query enumeration) triggers no job. */
  private def encodedSets(docs: DataFrame, idCol: String, setCol: String)
      : DataFrame =
    docs.select(col(idCol).as("id"),
        sort_array(transform(array_distinct(col(setCol)), t => xxhash64(t))).as("s"))
      .withColumn("sz", size(col("s")))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .cut(eager = false)

  /** Length prefilter shared by both exact paths:
    * J(A,B) ≥ t ⟹ min(|A|,|B|) ≥ t·max(|A|,|B|) (since J ≤ min/max). */
  private def lengthCompatible(threshold: Double, l: String, r: String): Column =
    least(col(s"$l.sz"), col(s"$r.sz")).cast("double") >=
      greatest(col(s"$l.sz"), col(s"$r.sz")) * threshold

  /** Dense exact Jaccard: all (a<b) pairs through the codegen'd
    * sorted-merge intersection kernel (graft.functions.SortedOverlapCount)
    * — O(N²·|s|) but allocation-free and whole-stage-codegen'd, which
    * beats the inverted index when the token vocabulary is small/hot (no
    * selective postings to exploit). Correct at any vocabulary; choose
    * [[jaccardPairs]] (prefix-filtered index) when postings are selective
    * and N is 100 TB-scale, this when N² pairs are tractable. */
  def jaccardPairsDense(docs: DataFrame, idCol: String, setCol: String,
                        threshold: Double): DataFrame = {
    // encodedSets: 64-bit-hash dictionary encoding — the merge kernel
    // compares primitive longs (no per-element allocation); the hash is
    // internal — results depend only on the intersection COUNT, and a
    // 64-bit collision anywhere is ~2⁻⁴⁰ at this scale
    val sets = encodedSets(docs, idCol, setCol)
    // join condition: cheap id ordering + the LENGTH prefilter, so
    // size-incompatible pairs never reach the kernel. The similarity
    // predicate itself is fenced with OptimizerBarrier: Catalyst would
    // otherwise push it into the nested-loop join condition, where the
    // kernel is evaluated interpreted, twice, for BOTH orderings of every
    // pair (measured 2.6× slower); fenced, it runs codegen'd once per
    // surviving pair.
    sets.as("a").join(sets.as("b"),
        col("a.id") < col("b.id") && lengthCompatible(threshold, "a", "b"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        graft.functions.SortedLongOverlapCount(col("a.s"), col("b.s")).as("common"),
        (col("a.sz") + col("b.sz")).as("szsum"))
      .filter(graft.functions.OptimizerBarrier(
        col("common").cast("double") / (col("szsum") - col("common")) >= threshold))
      .select(col("id_a"), col("id_b"), (floor((col("common").cast("double") /
        (col("szsum") - col("common"))) * 1e6 + 0.5) / 1e6).as("jaccard"))
  }

  /** Candidate pairs via inverted index: explode each doc's distinct
    * shingles, self-equi-join on the shingle, keep each (a<b) pair once.
    * This is the exact (non-approximate) candidate generator: any pair
    * with Jaccard > 0 shares ≥1 shingle, so no true near-dup is missed. */
  def invertedIndexPairs(docs: DataFrame, idCol: String, setCol: String)
      : DataFrame = {
    val posting = docs
      // fan a single input split out before the explode + self-join
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol).as("id"),
        explode(array_distinct(col(setCol))).as("token"))
      // lazy: build the posting list once (not once per join side), but
      // only when an action actually runs — plan-only callers stay free
      .cut(eager = false)
    posting.as("l").join(posting.as("r"),
        col("l.token") === col("r.token") && col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()
  }

  /** Rarest-prefix rows per document: for every doc, the `prefixLen`
    * lexicographically smallest (df, h) posting rows under the global
    * rarity order, with their 1-based rank `rn` — the shared prefix
    * selection behind [[jaccardPairs]] and [[containmentPairs]].
    *
    * A `row_number()` window. A bounded-heap partial aggregate was
    * measured against it in r15 and lost 0.79×/0.82× at sf0.1 and sf1
    * (OPTIMIZATION_r15.md): ObjectHashAggregateExec falls back to
    * sort-based aggregation past 128 groups per partition — every
    * realistic corpus — so the partial stage sorts the same posting rows
    * the window sorts and pays interpreted per-row heap updates on top. */
  private[graft] def rarestPrefixes(posting: DataFrame,
                                    prefixLen: Column): DataFrame = {
    val freq = posting.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy(col("id")).orderBy(col("df"), col("h"))
    posting.join(freq, "h")
      .withColumn("rn", row_number().over(byRarity))
      .filter(col("rn") <= prefixLen)
      .select(col("id"), col("sz"), col("rn"), col("h"))
  }

  /** Exact set-similarity join with PPJoin-style prefix filtering: under
    * a global rarest-first token order, any pair with `J(A,B) ≥ t` must
    * share a token within each side's first `|s| − ⌈t·|s|⌉ + 1` tokens —
    * so only those prefixes are indexed. The hot tokens that make a naive
    * inverted index quadratic are by construction the ones excluded from
    * prefixes, which is what makes this the 100 TB form (candidate rows
    * collapse from Σ n_t² over all tokens to Σ over rare-prefix tokens
    * only). Candidates are verified exactly on the full shingle sets, so
    * results are identical to the naive all-shared-token join. */
  def jaccardPairs(docs: DataFrame, idCol: String, setCol: String,
                   threshold: Double, nDocs: Long = -1L): DataFrame = {
    // ceil() guard: at exact-integer boundaries (t·sz or α integral) a 1-ulp
    // float overshoot would shorten a prefix / tighten a bound and silently
    // DROP a genuinely similar pair — subtract ε before every ceil
    val eps = 1e-9
    // same dictionary encoding as the dense kernel (shared helper — the
    // exactness contract between the two paths depends on it): candidate
    // rows carry primitive longs and verification runs the codegen'd
    // sorted-merge kernel instead of array_intersect. Reused 3×: posting
    // scan + both verify joins.
    val sets = encodedSets(docs, idCol, setCol)
    val posting = sets.select(col("id"), col("sz"), explode(col("s")).as("h"))
    val prefixLen = col("sz") - ceil(lit(threshold) * col("sz") - eps) + 1
    val prefixes = rarestPrefixes(posting, prefixLen)
    // candidate join: equi on the token hash, plus two sound prunes
    // evaluated BEFORE the distinct shuffle —
    //  length filter: J ≥ t ⟹ min(sz) ≥ t·max(sz);
    //  PPJoin position filter: under the global rarity order, at a pair's
    //  FIRST shared prefix token no earlier token of either set is shared,
    //  so overlap ≤ 1 + min(sz_l − rn_l, sz_r − rn_r); a similar pair needs
    //  overlap ≥ α = ⌈t/(1+t)·(sz_l+sz_r)⌉ and its first-match row always
    //  satisfies the bound, so OR-semantics over candidate rows is exact.
    val alpha = ceil(lit(threshold / (1 + threshold)) *
      (col("l.sz") + col("r.sz")) - eps)
    val positionOk =
      (lit(1) + least(col("l.sz") - col("l.rn"), col("r.sz") - col("r.rn"))) >= alpha
    val candidates = prefixes.as("l").join(prefixes.as("r"),
        col("l.h") === col("r.h") && col("l.id") < col("r.id") &&
          lengthCompatible(threshold, "l", "r") && positionOk)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()
    // verify-strategy crossover (same doctrine as the dense cutoff): the
    // attach-join verify has the smaller constants (codegen'd kernel, two
    // SMJs) but carries each pair's full array through the second sort —
    // candidate volume here grows ~N² on hot corpora (fixed-vocabulary
    // measured: 3.5M pairs at 50k docs → 354M at 500k → ~150 GB of wide
    // sort rows, the one-box sf10 ceiling). Above the cutoff the blocked
    // cogroup verify keeps pair rows 16 bytes end to end. Both paths are
    // property-tested identical, so this is purely a cost decision.
    val verifyCutoff = verifyJoinCutoff(docs)
    val n = if (nDocs >= 0L) nDocs
            else boundedCount(docs, idCol, verifyCutoff)
    if (n < verifyCutoff) verifyCandidatesJoin(candidates, sets, threshold)
    else verifyCandidates(candidates, sets, threshold)
  }

  /** O(cutoff) corpus-size probe for the cost-based dispatches: counts at
    * most `cutoff + 1` rows (`LocalLimit` stops every scan task early), so
    * comparing the result against any bound ≤ cutoff is EXACT while the
    * probe never pays a full O(N) pass — at 100 TB the r14 form's
    * `docs.count()` was one extra full scan per query purely to pick a
    * branch (VERDICT r14 "what's wrong" #3). Returns min(N, cutoff + 1).
    * The cutoff is a checked one ([[checkedCutoff]]), so `cutoff + 1`
    * fits the Int a `limit` takes. */
  private def boundedCount(docs: DataFrame, idCol: String,
                           cutoff: Long): Long =
    docs.select(col(idCol)).limit((cutoff + 1).toInt).count()

  /** The largest cutoff [[boundedCount]] compares exactly: its probe
    * counts `cutoff + 1` rows with an Int `limit`. */
  private val MaxCutoff = Int.MaxValue - 2L

  /** A cutoff outside `0..MaxCutoff` fails fast, naming its source: a
    * clamped probe would misclassify corpora at or above the clamp, and
    * `cutoff + 1` overflows at `Long.MaxValue`. */
  private def checkedCutoff(name: String, v: Long): Long = {
    if (v < 0 || v > MaxCutoff) throw new IllegalArgumentException(
      s"$name must be in 0..$MaxCutoff, got $v")
    v
  }

  private def verifyJoinCutoff(docs: DataFrame): Long = {
    val key = "spark.graft.dedup.verifyJoinCutoff"
    checkedCutoff(key, docs.sparkSession.conf.get(key, "100000").toLong)
  }

  /** Attach-join verify: join the full encoded arrays to each candidate
    * pair and run the codegen'd merge kernel — the low-constant form for
    * moderate candidate volume. Each pair row carries `s_a` through the
    * second join's shuffle, so cost is candidates × arrayBytes; above
    * `spark.graft.dedup.verifyJoinCutoff` docs [[jaccardPairs]] switches
    * to [[verifyCandidates]], which never shuffles a (pair, array) row. */
  private def verifyCandidatesJoin(candidates: DataFrame, sets: DataFrame,
                                   threshold: Double): DataFrame =
    candidates
      .join(sets.select(col("id").as("id_a"), col("s").as("s_a"),
        col("sz").as("sz_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("s").as("s_b"),
        col("sz").as("sz_b")), "id_b")
      // filter on the UNROUNDED ratio (same cut as jaccardPairsDense and
      // the DuckDB oracles), round only for output
      .withColumn("common",
        graft.functions.SortedLongOverlapCount(col("s_a"), col("s_b")).cast("double"))
      .withColumn("raw", col("common") / (col("sz_a") + col("sz_b") - col("common")))
      .filter(col("raw") >= threshold)
      .select(col("id_a"), col("id_b"),
        (floor((col("raw")) * 1e6 + 0.5) / 1e6).as("jaccard"))

  /** Exact verification of candidate pairs against their encoded sets
    * without ever shuffling a (pair, shingle-array) row — the stage the
    * plain relational form cannot keep narrow. Two attach-joins would
    * carry each pair's full array through the second join's shuffle:
    * measured 500k docs / 354M candidates → ~150 GB of sort-spill (the
    * sf10 one-box ceiling). Here the pair rows stay 16 bytes end to end
    * and each referenced set array moves AT MOST ONCE PER BUCKET
    * (Vernica, Carey & Li, SIGMOD 2010 §5.2's record-routing verify,
    * re-expressed on `cogroupSorted`):
    *
    *  - pairs are bucketed by `xxhash64(id_a) % P` (P =
    *    `spark.graft.dedup.verifyBuckets`, default shuffle partitions, so
    *    raising parallelism for a bigger corpus also shrinks per-task
    *    state);
    *  - the a-side set partition is the same hash — co-partitioned, no
    *    replication; it becomes a per-bucket id→array map of ~|S|/P
    *    bytes (the ONLY materialized state);
    *  - b-side demand is the DISTINCT (bucket, id_b) list, so a set
    *    referenced by many pairs of one bucket ships once, and the
    *    b-stream is merge-consumed against pairs sorted by id_b — never
    *    materialized.
    *
    * Shuffle volume: |candidates|·16 B + |S| + min(|candidates|,
    * N·P)·rowBytes, vs |candidates|·rowBytes for the join form. The
    * merge kernel is the Scala twin of the codegen'd
    * [[graft.functions.SortedLongOverlapCount]] (same sorted-long merge,
    * same duplicate semantics), and the ratio/rounding arithmetic
    * reproduces the previous column expressions op for op (int sum cast
    * to double, subtract, divide; floor(x·1e6+0.5)/1e6) so results stay
    * bit-identical to the dense path and the DuckDB oracles. */
  private def verifyCandidates(candidates: DataFrame, sets: DataFrame,
                               threshold: Double): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val spark = candidates.sparkSession
    val nBuckets = spark.conf.getOption("spark.graft.dedup.verifyBuckets")
      .getOrElse(spark.conf.get("spark.sql.shuffle.partitions", "200")).toInt
    val idType = candidates.schema("id_a").dataType

    val pairs = candidates.select(
      pmod(xxhash64(col("id_a")), lit(nBuckets)).cast("int").as("bucket"),
      col("id_a"), col("id_b"))
    // ship each b-side array once per bucket that needs it, not once per pair
    val demand = pairs.select(col("bucket"), col("id_b")).distinct()
    val bSide = demand
      .join(sets.select(col("id").as("id_b"), col("s")), "id_b")
      .select(col("bucket"), lit(1).as("side"), col("id_b").as("id"), col("s"))
    val aSide = sets.select(
      pmod(xxhash64(col("id")), lit(nBuckets)).cast("int").as("bucket"),
      lit(0).as("side"), col("id"), col("s"))
    val members = aSide.unionByName(bSide)

    val keyEnc = Encoders.scalaInt
    val pairsK = pairs.groupByKey((r: Row) => r.getInt(0))(keyEnc)
    val membersK = members.groupByKey((r: Row) => r.getInt(0))(keyEnc)
    val outSchema = StructType(Seq(
      StructField("id_a", idType), StructField("id_b", idType),
      StructField("jaccard", DoubleType)))
    val t = threshold
    pairsK.cogroupSorted(membersK)(col("id_b"), col("id_a"))(
        col("side"), col("id")) { (_, pairIt, memIt) =>
      // members sorted (side, id): the co-partitioned a-side map first,
      // then the demand-shipped b-side stream in id order
      val mem = memIt.buffered
      val aMap = new java.util.HashMap[Any, Array[Long]]()
      while (mem.hasNext && mem.head.getInt(1) == 0) {
        val r = mem.next()
        aMap.put(r.get(2), r.getSeq[Long](3).toArray)
      }
      var bId: Any = null
      var bArr: Array[Long] = null
      pairIt.flatMap { p =>
        val ida = p.get(1); val idb = p.get(2)
        // pairs are sorted by id_b and every demanded id is present, so
        // a mismatch only ever means "advance the b-stream"
        while (bId != idb) { val r = mem.next(); bId = r.get(2); bArr = r.getSeq[Long](3).toArray }
        val sa = aMap.get(ida)
        var i = 0; var j = 0; var c = 0
        while (i < sa.length && j < bArr.length) {
          val x = sa(i); val y = bArr(j)
          if (x == y) { c += 1; i += 1; j += 1 }
          else if (x < y) i += 1 else j += 1
        }
        val common = c.toDouble
        val raw = common / ((sa.length + bArr.length).toDouble - common)
        if (raw >= t) Some(Row(ida, idb, math.floor(raw * 1e6 + 0.5) / 1e6))
        else None
      }
    }(Encoders.row(outSchema)).toDF()
  }

  /** Cost-based exact pair generator: [[jaccardPairsDense]] and
    * [[jaccardPairs]] return IDENTICAL output (PropertySpec near-dup
    * identity), so the choice is purely a cost decision — the same shape
    * as `spark.sql.autoBroadcastJoinThreshold`. The dense all-pairs merge
    * kernel has tiny per-pair constants (one codegen'd long-merge, no
    * posting shuffles) and wins on small corpora; the PPJoin prefix index
    * pays ~6 s of fixed shuffle machinery (df ranking, position filter,
    * verify joins) but its candidate volume grows near-linearly and wins
    * at scale. Measured on this engine at t=0.5: 5k docs → dense 2.2 s vs
    * PPJoin 7.5 s; 50k docs → dense 78.6 s vs PPJoin 20 s; the c·N² =
    * a+b·N crossover lands ≈10k. The corpus size comes from ONE BOUNDED
    * probe of the id column ([[boundedCount]], r15 — LocalLimit stops
    * each scan task at cutoff+1 rows, so the decision is O(cutoff), not a
    * full corpus pass; unused set/shingle projections are pruned out). */
  def jaccardPairsAuto(docs: DataFrame, idCol: String, setCol: String,
                       threshold: Double,
                       denseCutoff: Long = -1L): DataFrame = {
    val dense = resolveDenseCutoff(docs, denseCutoff)
    val verifyCutoff = verifyJoinCutoff(docs)
    // one bounded probe serves BOTH downstream decisions (dense/prefix and
    // verify-join/cogroup): min(N, maxCutoff+1) compares exactly against
    // every bound ≤ maxCutoff
    val n = boundedCount(docs, idCol, math.max(dense, verifyCutoff))
    if (n < dense) jaccardPairsDense(docs, idCol, setCol, threshold)
    else jaccardPairs(docs, idCol, setCol, threshold, nDocs = n)
  }

  /** The dense/prefix crossover is a runtime-tunable session conf (the
    * same shape as `spark.sql.autoBroadcastJoinThreshold`): callers pass
    * an explicit cutoff to pin a branch (the branch-invariance property
    * tests do), everyone else inherits `spark.graft.dedup.denseCutoff`
    * (default 10000, the measured crossover) — so a bench run can pin
    * either branch with `--conf`, no recompile. Either source is checked
    * against `0..MaxCutoff`. */
  private def resolveDenseCutoff(docs: DataFrame, explicit: Long): Long =
    if (explicit >= 0) checkedCutoff("denseCutoff", explicit)
    else {
      val key = "spark.graft.dedup.denseCutoff"
      checkedCutoff(key, docs.sparkSession.conf.get(key, "10000").toLong)
    }

  /** Exact substring-level duplication profile (the suffix-array-style
    * dedup signal of RefinedWeb/Lee et al. 2022, re-expressed relationally
    * over rolling k-token windows): every doc emits its overlapping
    * k-token windows at `stride`; a window occurring ≥2 times ANYWHERE in
    * the corpus (cross-doc or a within-doc repeat) is a duplicated span.
    * Returns per doc (id, n_windows, n_dup_windows, dup_frac) — the
    * remove-or-keep policy (drop spans vs drop docs over a dup_frac cut)
    * composes downstream. Docs shorter than k tokens have no windows and
    * drop out, matching the oracle.
    *
    * Scale: one explode (N·L/stride rows), one hash-shuffle groupBy on the
    * window, one equi-join back on the same key (AQE reuses the
    * partitioning), one final groupBy id — never a pair join, so corpus
    * growth is linear. At 100 TB you would group on xxhash64(win) instead
    * of the window text to cut shuffle bytes ~10×; the text key is kept
    * here so the DuckDB twin pins the window arithmetic exactly
    * (collision-free by construction). */
  def substringDupProfile(docs: DataFrame, idCol: String, textCol: String,
                          k: Int, stride: Int = 1): DataFrame = {
    val toks = TextOps.tokens(col(textCol))
    // stride 1 windows ARE word k-shingles — use the zero-copy byte-slice
    // kernel (TextOps.shingles, r14); its empty array for short docs
    // makes the explode drop them, the same rows the size guard kept.
    // The strided general form keeps the transform chain (guard size>=k
    // BEFORE sequence(): Spark's sequence(0, negative) infers step -1
    // and would fabricate windows for short docs).
    val wins =
      if (stride == 1)
        docs.select(col(idCol).as("id"),
          explode(TextOps.shingles(col(textCol), k)).as("win"))
      else docs
        .select(col(idCol).as("id"), toks.as("toks"))
        .filter(size(col("toks")) >= k)
        .select(col("id"), explode(transform(
          sequence(lit(0),
            floor((size(col("toks")) - k).cast("double") / stride).cast("int")),
          i => array_join(slice(col("toks"), i * lit(stride) + 1, lit(k)), " ")))
          .as("win"))
    val occ = wins.groupBy(col("win")).agg(count(lit(1)).as("n_occ"))
    wins.join(occ, "win")
      .groupBy(col("id"))
      .agg(count(lit(1)).cast("int").as("n_windows"),
        sum(when(col("n_occ") >= 2, 1).otherwise(0)).cast("int")
          .as("n_dup_windows"))
      .withColumn("dup_frac",
        (floor((col("n_dup_windows").cast("double") / col("n_windows")) * 1e6 + 0.5) / 1e6))
  }

  /** Asymmetric containment join: C(A→B) = |A∩B| / |A| — finds docs
    * largely CONTAINED in another (quotes, page-of-site supersets,
    * boilerplate wrappers) that symmetric Jaccard misses: a 20-shingle doc
    * fully quoted inside a 500-shingle doc has J ≈ 0.04 but C = 1.0.
    * Emits each unordered pair once with both directions' containment,
    * kept when either direction ≥ `threshold`.
    *
    * Exact, via a one-sided prefix filter: max(C(A→B), C(B→A)) ≥ t needs
    * overlap ≥ ⌈t·min(|A|,|B|)⌉, and overlap ≥ ⌈t·|A|⌉ forces A to share a
    * token within its `|A| − ⌈t·|A|⌉ + 1` RAREST tokens (same theorem as
    * [[jaccardPairs]], applied to the contained side only — there is no
    * length-compatibility window here, tiny-inside-huge is the point). So
    * candidates are prefix(contained side) ⋈ full postings(container
    * side): hot tokens still index the container side but pair only with
    * rare-prefix rows, keeping candidates Σ df_prefix·df ≪ Σ df² — the
    * scale form. Verification runs the codegen'd sorted-merge kernel on
    * candidates only. */
  def containmentPairs(docs: DataFrame, idCol: String, setCol: String,
                       threshold: Double): DataFrame = {
    val eps = 1e-9
    val sets = encodedSets(docs, idCol, setCol)
    val posting = sets.select(col("id"), col("sz"), explode(col("s")).as("h"))
    val prefixLen = col("sz") - ceil(lit(threshold) * col("sz") - eps) + 1
    val prefixes = rarestPrefixes(posting, prefixLen)
    // position filter (contained side): at A's first shared prefix token
    // (rank rn under the rarity order) no earlier token of A is shared, so
    // overlap ≤ 1 + (szA − rn); a qualifying direction needs overlap ≥
    // ⌈t·szA⌉, and its first-match row always passes — OR-semantics over
    // candidate rows stays exact (same argument as jaccardPairs).
    val positionOk = lit(1) + col("l.sz") - col("l.rn") >=
      ceil(lit(threshold) * col("l.sz") - eps)
    val candidates = prefixes.as("l").join(posting.as("r"),
        col("l.h") === col("r.h") && col("l.id") =!= col("r.id") && positionOk)
      .select(least(col("l.id"), col("r.id")).as("id_a"),
        greatest(col("l.id"), col("r.id")).as("id_b"))
      .distinct()
    verifyContainment(candidates, sets, threshold)
  }

  /** Dense exact containment: all (a<b) pairs through the codegen'd
    * sorted-merge kernel. No length prefilter is sound here (tiny-inside-
    * huge is the point), so this is the FULL N² microkernel — tiny
    * per-pair constants, no posting shuffles; wins below the same ~10k-doc
    * crossover as the Jaccard twins (the hot shingle vocabulary that
    * degenerates prefix selectivity is exactly where the dense form is
    * cheapest). */
  def containmentPairsDense(docs: DataFrame, idCol: String, setCol: String,
                            threshold: Double): DataFrame = {
    val sets = encodedSets(docs, idCol, setCol)
    val pairs = sets.as("a").join(sets.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    verifyContainment(pairs, sets, threshold)
  }

  /** Shared exact verification: overlap kernel on full sets, keep pairs
    * with max-direction containment ≥ t (unrounded cut, rounded output).
    * The similarity predicate is OptimizerBarrier-fenced for the same
    * reason as jaccardPairsDense: unfenced, Catalyst pushes it into the
    * join condition where the kernel evaluates interpreted and twice. */
  private def verifyContainment(pairs: DataFrame, sets: DataFrame,
                                threshold: Double): DataFrame =
    pairs
      .join(sets.select(col("id").as("id_a"), col("s").as("s_a"),
        col("sz").as("sz_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("s").as("s_b"),
        col("sz").as("sz_b")), "id_b")
      .withColumn("common", graft.functions.SortedLongOverlapCount(
        col("s_a"), col("s_b")).cast("double"))
      .filter(graft.functions.OptimizerBarrier(
        greatest(col("common") / col("sz_a"),
          col("common") / col("sz_b")) >= threshold))
      .select(col("id_a"), col("id_b"),
        (floor((col("common") / col("sz_a")) * 1e6 + 0.5) / 1e6).as("containment_ab"),
        (floor((col("common") / col("sz_b")) * 1e6 + 0.5) / 1e6).as("containment_ba"))

  /** Cost-based containment generator — same decision shape as
    * [[jaccardPairsAuto]] (one O(cutoff) bounded probe against the
    * measured ~10k-doc dense/prefix crossover); both branches are exact
    * and identical, property-tested. */
  def containmentPairsAuto(docs: DataFrame, idCol: String, setCol: String,
                           threshold: Double,
                           denseCutoff: Long = -1L): DataFrame = {
    val cutoff = resolveDenseCutoff(docs, denseCutoff)
    if (boundedCount(docs, idCol, cutoff) < cutoff)
      containmentPairsDense(docs, idCol, setCol, threshold)
    else containmentPairs(docs, idCol, setCol, threshold)
  }

  /** APPROXIMATE one-sided containment via bottom-k sketches — the 100 TB
    * path for the containment semantic, playing the role `sim_lsh_rp_auto`
    * plays for cosine and `dedup_ppjoin_jaccard` plays for Jaccard: the
    * exact forms above stay as oracles, this is what deploys.
    *
    * Estimator (Broder-style bottom-k, one-sided): the k smallest
    * portable-hash values of A's element set are a uniform
    * without-replacement sample of A (hash order is independent of
    * content), so Ĉ(A→B) = |bottomk(A) ∩ B| / min(k,|A|) estimates
    * C(A→B) = |A∩B| / |A| with hypergeometric error ~1/√k per pair —
    * and is EXACT whenever |A| ≤ k (the sketch is the whole set), which
    * covers the tiny-quote-inside-huge-page direction that motivates the
    * operator. Pairs whose estimated max-direction containment ≥
    * `threshold` are emitted with both directions' estimates.
    *
    * Scale: candidate generation IS the sketch probe — a k-rows-per-doc
    * probe side equi-joined against full postings on the portable hash,
    * never a pair join. Probe volume is ≤ k·N rows regardless of document
    * length; expected candidate volume is k·N·E[df] (linear in corpus
    * size at fixed duplication density — the same band as MinHash LSH,
    * because the bottom-k sample hits a token proportionally to k/|A|,
    * uncorrelated with its df). Hashing is hash32 (md5 prefix), NOT the
    * internal xxhash64 dictionary, so the DuckDB oracle replays the exact
    * sketch; collisions merely merge two tokens identically on both
    * engines. Estimates are ratios of integers (no float aggregation), so
    * results are bit-stable under any partitioning. */
  def containmentSketchPairs(docs: DataFrame, idCol: String, setCol: String,
                             threshold: Double, k: Int): DataFrame = {
    // fan out BEFORE the sketch projection (r15): the per-doc md5 work
    // (one hash32 per distinct shingle) used to run below the round-robin
    // exchange, i.e. single-task on a single-split input — the order
    // invertedIndexPairs already uses. Same rows, same one exchange,
    // comparable shuffle bytes (raw text vs hash arrays); A/B 1.11–1.13×
    // on dedup_containment_bottomk (OPTIMIZATION_r15.md).
    val sets = docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol).as("id"),
        sort_array(array_distinct(
          transform(array_distinct(col(setCol)), t => TextOps.hash32(t))))
          .as("hs"))
      .withColumn("sz", size(col("hs")))
      .filter(col("sz") > 0)
      .cut(eager = false)
    val posting = sets.select(col("id"), explode(col("hs")).as("h"))
    val probe = sets.select(col("id"), col("sz"),
      explode(slice(col("hs"), 1, k)).as("h"))
    // m(a,b) = |bottomk(a) ∩ b|; sz rides in the grouping key (it is
    // functionally dependent on a, so the key cardinality is unchanged)
    val directed = probe.as("p")
      .join(posting.as("q"),
        col("p.h") === col("q.h") && col("p.id") =!= col("q.id"))
      .groupBy(col("p.id").as("a"), col("q.id").as("b"), col("p.sz").as("sza"))
      .agg(count(lit(1)).as("m"))
      .withColumn("est",
        col("m").cast("double") / least(lit(k), col("sza")))
    directed
      .select(least(col("a"), col("b")).as("id_a"),
        greatest(col("a"), col("b")).as("id_b"),
        when(col("a") < col("b"), col("est")).as("eab"),
        when(col("a") > col("b"), col("est")).as("eba"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(coalesce(max(col("eab")), lit(0.0)).as("rab"),
        coalesce(max(col("eba")), lit(0.0)).as("rba"))
      .filter(greatest(col("rab"), col("rba")) >= threshold)
      .select(col("id_a"), col("id_b"),
        (floor((col("rab")) * 1e6 + 0.5) / 1e6).as("containment_ab_est"),
        (floor((col("rba")) * 1e6 + 0.5) / 1e6).as("containment_ba_est"))
  }

  /** MinHash signature: k permutation-min values over the shingle set.
    * Permutation i is `(a_i·hash32(s) + b_i) mod p` with p prime > 2^32;
    * coefficients derive deterministically from i so the oracle can
    * recompute them. Empty shingle sets get p (an impossible-max sentinel). */
  val minhashPrime: Long = 4294967311L
  def minhashCoeffs(k: Int): Seq[(Long, Long)] =
    (0 until k).map(i => (2L * i + 1, 17L * i + 3))

  /** Per-row signature kernel ([[graft.functions.MinHashSigKernel]], r14):
    * one md5 per shingle, k permutation mins in a tight loop — the HOF
    * form this replaces re-hashed every shingle PER COEFFICIENT (k× the
    * digests, interpreted), and the explode+aggregate form paid a
    * posting explode plus k aggregate buffers plus a shuffle. Scan-local
    * at any scale. Identical values (including the empty-set sentinel
    * `minhashPrime` in every slot) — property-tested against both
    * superseded forms. */
  def minhashSignature(shingleSet: Column, k: Int): Column =
    graft.functions.MinHashSigKernel(shingleSet, k)

  /** The superseded HOF column form — kept as a property-test twin. */
  private[graft] def minhashSignatureHof(shingleSet: Column, k: Int): Column =
    array(minhashCoeffs(k).map { case (a, b) =>
      coalesce(
        array_min(transform(shingleSet,
          s => (lit(a) * TextOps.hash32(s) + lit(b)) % minhashPrime)),
        lit(minhashPrime))
    }: _*)

  /** MinHash signatures per document via the scan-local kernel (r14 —
    * previously explode + k hash-aggregate mins + a shuffle on the id;
    * the kernel computes the same integers in one loop per doc, no
    * shuffle). Docs with a NULL or empty shingle set drop out, exactly
    * like the explode form (no posting rows) — left-join the result and
    * fill with `minhashPrime` if they matter. */
  def minhashSignatures(docs: DataFrame, idCol: String, setCol: String,
                        k: Int): DataFrame =
    docs.select(col(idCol).as("id"), col(setCol).as("__s"))
      .filter(col("__s").isNotNull && size(col("__s")) > 0)
      .select(col("id"),
        graft.functions.MinHashSigKernel(col("__s"), k).as("sig"))

  /** The superseded explode + aggregate form — kept as a property-test
    * twin pinning the kernel's arithmetic and drop semantics. */
  private[graft] def minhashSignaturesAgg(docs: DataFrame, idCol: String,
                                          setCol: String, k: Int): DataFrame = {
    val posting = docs
      .select(col(idCol).as("id"), explode(array_distinct(col(setCol))).as("s"))
      .select(col("id"), TextOps.hash32(col("s")).as("h"))
    val mins = minhashCoeffs(k).zipWithIndex.map { case ((a, b), i) =>
      min((lit(a) * col("h") + lit(b)) % minhashPrime).as(s"m$i")
    }
    posting.groupBy(col("id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("id"),
        array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** LSH banding: signature split into `bands` bands of `rowsPerBand`;
    * docs sharing any band bucket become candidates. Returns (id_a, id_b)
    * distinct pairs. Shuffles on (band, bucket, block) — bucket sizes are
    * the skew knob, handled by triangle blocking (same grid as
    * `VectorOps.semdedupPairs`): a bucket at or above `skewThreshold`
    * members (one hot bucket of degenerate signatures would otherwise
    * serialize its |bucket|² candidate scan into ONE task at 100 TB) has
    * its rows split into `blocks` id-hash blocks, each row replicated onto
    * the (block_lo, block_hi) triangle so every pair is generated at
    * exactly one grid key — parallelism × B(B+1)/2 for the hot bucket, at
    * B× replication of its rows only; small buckets keep block 0 and pay
    * nothing. Same pairs, different task keys — exactness is unchanged
    * (block-invariance is property-tested). */
  /** Incremental LSH probe: near-dup candidates between a NEW batch and
    * a pre-indexed history. The batch explodes its signature bands and
    * equi-joins the history's banded postings on (band, bucket) — no
    * batch×batch and no history×history pair is ever generated, which is
    * the whole point of incremental dedup on a continuously-crawled
    * corpus. This overload re-bands an in-memory history each call; at
    * 100 TB use the STORED form — [[writeBandedIndex]] persists each
    * increment's postings (partitioned by band, bucket-sorted files) and
    * [[lshProbeCandidatesStored]] probes them with scan-level pruning, so
    * the per-increment candidate cost is |batch| × bucket occupancy,
    * independent of total corpus size. Completes the incremental-dedup
    * family: bloom delta (exact keys), this (batch near-dup),
    * lshCandidatesStream (streaming near-dup). */
  def lshProbeCandidates(index: DataFrame, batch: DataFrame, idCol: String,
                         sigCol: String, bands: Int,
                         rowsPerBand: Int): DataFrame =
    bandedPostings(batch, idCol, sigCol, bands, rowsPerBand, "batch_id")
      .join(bandedPostings(index, idCol, sigCol, bands, rowsPerBand, "hist_id"),
        Seq("band", "bucket"))
      .select(col("batch_id"), col("hist_id")).distinct()

  /** LSH banded postings `(id, band, bucket)` for a signature column —
    * the shared explode shape behind the self-join, the probe join, and
    * the stored index. */
  private[graft] def bandedPostings(df: DataFrame, idCol: String,
      sigCol: String, bands: Int, rowsPerBand: Int,
      idAs: String = "id"): DataFrame =
    df.select(col(idCol).as(idAs),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => slice(col(sigCol), b * rowsPerBand + 1, lit(rowsPerBand)))))
      .select(col(idAs), col("pos").as("band"),
        concat_ws(",", col("col").cast("array<string>")).as("bucket"))

  /** Persist a corpus increment's banded postings into the STORED index
    * that [[lshProbeCandidatesStored]] probes — the production shape of
    * incremental near-dup at 100 TB, where the history's signatures are
    * never re-banded per probe. Layout: parquet partitioned by `band`
    * (one directory per band), files within a band range-partitioned AND
    * sorted on `bucket` (`repartitionByRange` + `sortWithinPartitions`),
    * so every row group carries tight bucket min/max stats and a probe's
    * bucket IN-list prunes at the parquet-footer level — the read cost of
    * a probe is the occupied row groups, not the corpus. Commit is
    * MANIFEST-POINTER (see the commit-layer notes below): each call
    * writes one immutable `seg-*` directory and publishes a new manifest
    * generation; `append = true` lists the prior generation's segments
    * plus the new one, `append = false` lists only the new one (an
    * explicit reset — prior segments become garbage and are swept).
    * A crash at any point leaves the previous generation live and intact.
    * Pair appends with an [[graft.io.PartitionLedger]] mark per increment
    * so re-runs are idempotent (spec'd in BandedIndexSpec).
    *
    * When to use (measured — PROBEBENCH.json, history:batch = 99:1,
    * 8 increments): the COMPACTED stored probe beats re-banding the
    * in-memory history from ~50k history docs (1.14×, widening to 1.57×
    * at 150k and growing with history); below that the fixed
    * footer/open costs dominate and in-memory wins. Compaction matters:
    * the as-appended multi-file layout gives back most of the win. */
  def writeBandedIndex(increment: DataFrame, idCol: String, sigCol: String,
                       bands: Int, rowsPerBand: Int, path: String,
                       filesPerBand: Int = 8, append: Boolean = false): Unit = {
    val spark = increment.sparkSession
    val fs = indexFs(spark, path)
    val base = new org.apache.hadoop.fs.Path(path)
    // appending to a pre-manifest (directory-swap era) index is refused —
    // its commit state can't be trusted; an explicit OVERWRITE discards
    // whatever is there by intent, so legacy debris is simply cleared
    if (append) requireNotLegacy(fs, base)
    val prior = latestManifest(fs, base)
    val gen = prior.map(_.maxSeenGen).getOrElse(0) + 1
    val seg = segName(gen)
    // range-partition on (band, bucket) with AQE-sized partition count
    // (no explicit N): at bench SFs the postings coalesce to a handful of
    // right-sized files instead of bands×filesPerBand tiny ones (the §6
    // small-files tax measured as the dominant cost of the stored-index
    // query at sf0.1 — 32 near-empty files per segment), while a 100 TB
    // increment fans out to advisory-sized partitions. Contiguous range
    // coalescing preserves the sorted-bucket min/max layout the probe's
    // row-group pruning needs; filesPerBand stays the compaction-policy
    // fan-out unit (appendBandedIndexMaintained).
    bandedPostings(increment, idCol, sigCol, bands, rowsPerBand)
      .repartitionByRange(col("band"), col("bucket"))
      .sortWithinPartitions(col("bucket"))
      .write.mode("overwrite")
      .partitionBy("band")
      .parquet(new org.apache.hadoop.fs.Path(base, seg).toString)
    val live = (if (append) prior.map(_.segments).getOrElse(Nil) else Nil) :+ seg
    publishManifest(fs, base, gen, live)
    gcUnreferenced(fs, base, live.toSet)
    if (!append) { // sweep legacy root-level band dirs + marker, if any
      fs.globStatus(new org.apache.hadoop.fs.Path(base, "band=*"))
        .foreach(st => fs.delete(st.getPath, true))
      fs.delete(new org.apache.hadoop.fs.Path(base, "_SUCCESS"), false)
    }
  }

  /** Several increments in ONE maintenance batch: the immutable `seg-*`
    * parquet writes are independent of each other, so they are submitted
    * concurrently from a small driver pool (guide §2.6 — the same overlap
    * pattern as the parallel PQ codebook fits) and only the tiny manifest
    * publications run sequentially afterwards. The committed history is
    * IDENTICAL to calling [[writeBandedIndex]] once per increment: same
    * generation numbers, same per-generation segment lists, same live
    * state, same reader behavior (BandedIndexSpec pins batched ≡
    * sequential). What changes is the driver-job timeline: the r14 form
    * ran each increment's range-sampling + write jobs strictly after the
    * previous increment's manifest commit, serializing ~2 jobs per
    * increment that share no data (measured as the job-launch floor of
    * dedup_minhash_delta_stored).
    *
    * Crash contract (one honest difference, documented): a crash
    * mid-batch leaves NO generation of this batch committed (the old
    * flow could have committed a prefix of the increments) — every
    * partially- or fully-written segment is unreferenced garbage swept
    * by the next write's GC, and the prior generation stays live. Since
    * a batch is one maintenance operation with one ledger mark, its
    * all-or-nothing re-run is exactly what the idempotency story wants.
    *
    * The segment writes run under one job group of their own. When one
    * fails, the group's running and not-yet-started jobs are cancelled and
    * the pool is drained before the failure propagates, so no write of the
    * batch outlives the call (a retry's GC would otherwise race it). */
  def writeBandedIndexIncrements(increments: Seq[DataFrame], idCol: String,
      sigCol: String, bands: Int, rowsPerBand: Int, path: String,
      filesPerBand: Int = 8, append: Boolean = false): Unit = {
    require(increments.nonEmpty, "writeBandedIndexIncrements: no increments")
    val spark = increments.head.sparkSession
    val fs = indexFs(spark, path)
    val base = new org.apache.hadoop.fs.Path(path)
    if (append) requireNotLegacy(fs, base)
    val prior = latestManifest(fs, base)
    val gen0 = prior.map(_.maxSeenGen).getOrElse(0)
    val segs = increments.indices.map(i => segName(gen0 + i + 1))
    val sc = spark.sparkContext
    val group = s"graft-banded-index-${java.util.UUID.randomUUID}"
    val pool = java.util.concurrent.Executors
      .newFixedThreadPool(math.min(4, increments.size))
    val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
    val writes = increments.zip(segs).map { case (inc, seg) =>
      scala.concurrent.Future {
        sc.setJobGroup(group, s"banded index segment $seg")
        bandedPostings(inc, idCol, sigCol, bands, rowsPerBand)
          .repartitionByRange(col("band"), col("bucket"))
          .sortWithinPartitions(col("bucket"))
          .write.mode("overwrite")
          .partitionBy("band")
          .parquet(new org.apache.hadoop.fs.Path(base, seg).toString)
      }(ec)
    }
    pool.shutdown() // queued writes still run; the threads exit after them
    // fails as soon as any write fails (Future.sequence fails fast); its
    // callbacks run on the completing thread, since the pool takes no more
    implicit val callbacks: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.parasitic
    val all = scala.concurrent.Future.sequence(writes)
    try scala.concurrent.Await.result(all, scala.concurrent.duration.Duration.Inf)
    catch { case e: Throwable =>
      sc.cancelJobGroupAndFutureJobs(group)
      pool.awaitTermination(Long.MaxValue, java.util.concurrent.TimeUnit.NANOSECONDS)
      throw e
    }
    // ordered generation publishes — byte-identical manifest chain to the
    // sequential flow; only the LAST generation survives the final GC,
    // exactly as it does after N sequential appends
    var live = if (append) prior.map(_.segments).getOrElse(Nil)
               else Seq.empty[String]
    segs.zipWithIndex.foreach { case (seg, i) =>
      live = live :+ seg
      publishManifest(fs, base, gen0 + i + 1, live)
    }
    gcUnreferenced(fs, base, live.toSet)
    if (!append) { // sweep legacy root-level band dirs + marker, if any
      fs.globStatus(new org.apache.hadoop.fs.Path(base, "band=*"))
        .foreach(st => fs.delete(st.getPath, true))
      fs.delete(new org.apache.hadoop.fs.Path(base, "_SUCCESS"), false)
    }
  }

  // ---------------------------------------------------------------------
  // Manifest-pointer commit layer for the stored index — the table-format
  // approach (cf. Iceberg/Delta's metadata pointer). The index root holds
  // immutable `seg-*` postings directories plus `_manifests/NNNNNNNN.json`
  // generation files; the LIVE state is the highest-numbered PARSEABLE
  // manifest, nothing is ever inferred from directory contents, and no
  // directory is ever renamed. Commit = publish one tiny new manifest
  // file; every earlier crash point leaves only unreferenced garbage that
  // [[recoverBandedIndex]] (or the next write's post-publish GC) sweeps.
  // Correctness does NOT rely on an atomic file rename: a torn/partial
  // manifest fails to parse and the reader falls back to the previous
  // generation — by construction a torn manifest means its writer crashed
  // MID-PUBLISH, i.e. before that transaction's GC, so every segment the
  // previous generation references is still on disk. (The publish still
  // goes through write-temp + single-FILE rename as a fast path; on an
  // object store that rename is one atomic object copy.)
  // Single writer assumed, as with any external-maintenance index; readers
  // are lock-free and always see a committed generation.
  // ---------------------------------------------------------------------

  private[graft] case class BandedManifest(generation: Int,
      segments: Seq[String], maxSeenGen: Int)

  private def indexFs(spark: org.apache.spark.sql.SparkSession,
                      path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestDir(base: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(base, "_manifests")

  private def segName(gen: Int): String =
    f"seg-$gen%08d-${java.util.UUID.randomUUID().toString.take(8)}"

  /** Pre-manifest (r12-era) indexes committed via directory swap — a
    * layout this reader must never silently misread as "no index". */
  private def requireNotLegacy(fs: org.apache.hadoop.fs.FileSystem,
                               base: org.apache.hadoop.fs.Path): Unit =
    if (!fs.exists(manifestDir(base)) && fs.exists(base) &&
        fs.globStatus(new org.apache.hadoop.fs.Path(base, "band=*"))
          .nonEmpty)
      throw new IllegalStateException(
        s"banded index at $base uses the pre-manifest directory-swap " +
          "layout — rebuild it with writeBandedIndex (the manifest-pointer " +
          "layout); in-place migration is deliberately not attempted")

  /** The live generation: highest-numbered manifest that PARSES. A torn
    * top manifest (crashed mid-publish — its transaction never committed)
    * is skipped with a warning; `maxSeenGen` still counts it so the next
    * publish never reuses its number. */
  private[graft] def latestManifest(fs: org.apache.hadoop.fs.FileSystem,
      base: org.apache.hadoop.fs.Path): Option[BandedManifest] = {
    val md = manifestDir(base)
    if (!fs.exists(md)) return None
    val gens = fs.listStatus(md).map(_.getPath.getName)
      .filter(_.matches("\\d{8}\\.json"))
      .map(_.stripSuffix(".json").toInt)
      .sorted(Ordering[Int].reverse)
    if (gens.isEmpty) return None
    val maxSeen = gens.head
    gens.iterator.flatMap { g =>
      val p = new org.apache.hadoop.fs.Path(md, f"$g%08d.json")
      try {
        val in = fs.open(p)
        val txt =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        val node = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(txt)
        val segs = {
          val it = node.get("segments").elements()
          val b = Seq.newBuilder[String]
          while (it.hasNext) b += it.next().asText()
          b.result()
        }
        Some(BandedManifest(g, segs, maxSeen))
      } catch {
        case e: Exception =>
          System.err.println(s"[banded-index] skipping torn/unparseable " +
            s"manifest $p (${e.getMessage}) — falling back to the " +
            "previous generation")
          None
      }
    }.nextOption()
  }

  /** Publish one manifest generation. DIRECT create with
    * `overwrite = false` — not write-temp + rename: Hadoop's local
    * `rename` bottoms out in POSIX `renameTo`, which silently REPLACES an
    * existing destination, so a racing writer that lost the
    * read-prior-generation race would clobber the winner's committed
    * manifest (and its GC would then sweep the winner's segments). The
    * non-overwriting create makes a duplicate generation a LOUD failure
    * on every Hadoop filesystem, and a crash mid-write just leaves a torn
    * top manifest — which [[latestManifest]] already skips, falling back
    * to the previous generation (that fallback is what made the rename's
    * atomicity optional in the first place). Single writer remains the
    * documented contract; this turns a violated contract into an error
    * instead of silent data loss (spec: BandedIndexSpec "racing
    * appenders"). */
  private[graft] def publishManifest(fs: org.apache.hadoop.fs.FileSystem,
      base: org.apache.hadoop.fs.Path, gen: Int,
      segments: Seq[String]): Unit = {
    val md = manifestDir(base)
    fs.mkdirs(md)
    val json = segments.map(s => "\"" + s + "\"")
      .mkString(s"""{"generation":$gen,"segments":[""", ",", "]}")
    val dst = new org.apache.hadoop.fs.Path(md, f"$gen%08d.json")
    val out =
      try fs.create(dst, false)
      catch { case e: java.io.IOException =>
        throw new java.io.IOException(
          s"manifest publish failed: generation $gen already exists at " +
            s"$dst (concurrent writer?)", e)
      }
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }

  /** Sweep everything the live generation does not reference: orphaned
    * `seg-*` directories (crashed writes/compactions), tmp manifest
    * files, and manifests older than the live one (their segments are
    * gone once this runs, so keeping them would only invite a misread). */
  private def gcUnreferenced(fs: org.apache.hadoop.fs.FileSystem,
      base: org.apache.hadoop.fs.Path, live: Set[String]): Unit = {
    fs.listStatus(base).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("seg-") && !live(n)) fs.delete(st.getPath, true)
    }
    val md = manifestDir(base)
    val liveGen = latestManifest(fs, base).map(_.generation).getOrElse(0)
    if (fs.exists(md)) fs.listStatus(md).foreach { st =>
      val n = st.getPath.getName
      val stale = n.startsWith(".tmp-") ||
        (n.matches("\\d{8}\\.json") &&
          n.stripSuffix(".json").toInt < liveGen)
      if (stale) fs.delete(st.getPath, false)
    }
  }

  /** The live postings of the stored index at `path` — resolves the
    * manifest and reads exactly the referenced segments (each carries its
    * own `band=*` hive layout, so the partition column survives the
    * multi-root read). Fails loudly when no committed generation exists:
    * uncommitted `seg-*` debris from a crashed initial write is NOT an
    * index. */
  def readBandedIndex(spark: org.apache.spark.sql.SparkSession,
                      path: String): DataFrame = {
    val fs = indexFs(spark, path)
    val base = new org.apache.hadoop.fs.Path(path)
    requireNotLegacy(fs, base)
    val m = latestManifest(fs, base).getOrElse(
      throw new IllegalStateException(s"no committed banded index at $path"))
    // one scan per segment, unioned: each segment is its own partition-
    // discovery root (multi-root discovery rejects sibling roots), and
    // Catalyst pushes probe filters through the Union into every scan
    m.segments.map(s => spark.read.parquet(
        new org.apache.hadoop.fs.Path(base, s).toString))
      .reduce(_ unionByName _)
  }

  /** Absolute paths of the live generation's segment directories —
    * exposed for specs and maintenance tooling. */
  private[graft] def liveSegments(spark: org.apache.spark.sql.SparkSession,
                                  path: String): Seq[String] = {
    val fs = indexFs(spark, path)
    val base = new org.apache.hadoop.fs.Path(path)
    latestManifest(fs, base).map(_.segments.map(s =>
      new org.apache.hadoop.fs.Path(base, s).toString)).getOrElse(Nil)
  }

  /** Self-maintaining append for the stored index — the compaction
    * SCHEDULING POLICY the crossover measurement demands
    * (PROBEBENCH.json: the stored probe only beats in-memory re-banding
    * PROVIDED compaction runs; the as-appended multi-file layout gives
    * most of the win back). Appends the increment, then compacts when
    * the physical layout has degraded past `growthFactor` × the
    * single-writer layout: parquet files > bands × filesPerBand ×
    * growthFactor. Each append lays down ≤ bands × filesPerBand files,
    * so the policy bounds the probe's per-band file fan-out at
    * ~growthFactor × filesPerBand and amortizes one whole-index rewrite
    * over `growthFactor` increments — O(history/increment) amortized
    * write cost, same asymptotics as LSM level compaction. Returns true
    * iff a compaction ran (callers log/meter it).
    *
    * First call may create the index (append=false when `path` has no
    * COMMITTED generation yet — the manifest, not directory contents, is
    * what decides: a crashed prior write or compaction leaves the last
    * committed manifest live, so this never mistakes crash debris for a
    * fresh path and never overwrites history). */
  def appendBandedIndexMaintained(increment: DataFrame, idCol: String,
      sigCol: String, bands: Int, rowsPerBand: Int, path: String,
      filesPerBand: Int = 8, growthFactor: Int = 4,
      onPhase: String => Unit = _ => ()): Boolean = {
    val spark = increment.sparkSession
    val fs = indexFs(spark, path)
    val base = new org.apache.hadoop.fs.Path(path)
    requireNotLegacy(fs, base)
    val exists = latestManifest(fs, base).isDefined
    writeBandedIndex(increment, idCol, sigCol, bands, rowsPerBand, path,
      filesPerBand, append = exists)
    val nFiles = latestManifest(fs, base).map(_.segments).getOrElse(Nil)
      .map(s => fs.globStatus(new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(base, s), "band=*/*.parquet")).length)
      .sum
    if (nFiles > bands.toLong * filesPerBand * growthFactor) {
      compactBandedIndex(spark, path, filesPerBand, onPhase)
      true
    } else false
  }

  /** Maintenance for the stored index: every append lays down its OWN
    * bucket-range file set, so after many increments a band holds
    * k-increments × filesPerBand files whose bucket ranges all overlap —
    * row-group pruning still works per file, but a probe touches every
    * increment's files. Compaction reads the whole index and rewrites it
    * as ONE bucket-range-partitioned, bucket-sorted file set (the same
    * layout [[writeBandedIndex]] produces for a single increment),
    * restoring disjoint per-file bucket ranges.
    *
    * Crash safety (manifest-pointer commit — no directory is ever renamed
    * or deleted before its replacement is COMMITTED): the compacted set is
    * written as a fresh immutable `seg-*` directory, then a new manifest
    * generation naming only it is published, then the superseded segments
    * are swept. A crash before publish leaves the old generation live and
    * the new segment as unreferenced garbage; a crash after publish
    * leaves the new generation live and the old segments as garbage —
    * readers see a committed generation at EVERY point, on object stores
    * as well as HDFS/local, because commit is one small-file creation
    * rather than a directory swap. (The r11/r12 form renamed directories
    * through `__old__`/`__compact__` siblings; on S3A a directory rename
    * is a non-atomic copy+delete, so a crash mid-rename could leave no
    * complete copy — the exact window the manifest closes.) */
  def compactBandedIndex(spark: org.apache.spark.sql.SparkSession,
                         path: String, filesPerBand: Int = 8,
                         onPhase: String => Unit = _ => ()): Unit = {
    val fs = indexFs(spark, path)
    val base = new org.apache.hadoop.fs.Path(path)
    requireNotLegacy(fs, base)
    val m = latestManifest(fs, base).getOrElse(
      throw new IllegalStateException(s"no committed banded index at $path"))
    val postings = readBandedIndex(spark, path)
      .select(col("id"), col("band"), col("bucket"))
    // (the pre-AQE layout needed a countDistinct(band) job here to size
    // the explicit range-partition count; the AQE-sized form doesn't —
    // one whole-index pass saved per compaction)
    val gen = m.maxSeenGen + 1
    val seg = segName(gen)
    postings
      // AQE-sized range partitions — same rationale as writeBandedIndex
      .repartitionByRange(col("band"), col("bucket"))
      .sortWithinPartitions(col("bucket"))
      .write.mode("overwrite").partitionBy("band")
      .parquet(new org.apache.hadoop.fs.Path(base, seg).toString)
    onPhase("written")
    publishManifest(fs, base, gen, Seq(seg))
    onPhase("published")
    gcUnreferenced(fs, base, Set(seg))
  }

  /** Recovery after a crashed write or compaction — under the manifest
    * protocol this is pure GARBAGE COLLECTION, because no crash point can
    * damage committed state: the decision is read from the manifest chain,
    * never inferred from directory contents.
    *   - a committed generation exists: verify every referenced segment
    *     directory is present (absence means external tampering — fail
    *     loudly, never degrade to a subset of the index), then sweep
    *     unreferenced `seg-*` dirs, tmp manifests, and superseded
    *     manifest generations.
    *   - `seg-*` debris but NO committed generation: a crashed INITIAL
    *     write — there is no index; fail loudly (the caller's ledger will
    *     re-run the increment) rather than bless uncommitted data.
    *   - pre-manifest (directory-swap era) layout: refuse with a rebuild
    *     instruction — never guess at a foreign commit protocol's state.
    *   - nothing at all: IllegalStateException — a typo'd path must fail
    *     loudly, not "recover" to an empty index.
    * Idempotent; safe (and cheap) to run before any maintenance pass.
    * Not crash-sensitive itself: everything it deletes is garbage by
    * definition, so a crash mid-recovery just leaves some garbage for the
    * next run. */
  def recoverBandedIndex(spark: org.apache.spark.sql.SparkSession,
                         path: String): Unit = {
    val fs = indexFs(spark, path)
    val base = new org.apache.hadoop.fs.Path(path)
    requireNotLegacy(fs, base)
    latestManifest(fs, base) match {
      case Some(m) =>
        val missing = m.segments.filterNot(s =>
          fs.exists(new org.apache.hadoop.fs.Path(base, s)))
        if (missing.nonEmpty)
          throw new IllegalStateException(
            s"banded index at $path is CORRUPT: committed generation " +
              s"${m.generation} references missing segment(s) " +
              s"${missing.mkString(", ")} — segments are deleted only " +
              "after the superseding generation commits, so this means " +
              "external deletion; refusing to serve a subset of the index")
        gcUnreferenced(fs, base, m.segments.toSet)
      case None if fs.exists(base) &&
          fs.globStatus(new org.apache.hadoop.fs.Path(base, "seg-*"))
            .nonEmpty =>
        throw new IllegalStateException(
          s"no COMMITTED banded index at $path — only uncommitted segment " +
            "debris from a crashed initial write; re-run the initial " +
            "writeBandedIndex (its post-publish GC sweeps the debris)")
      case None =>
        throw new IllegalStateException(s"no banded index at $path")
    }
  }

  /** [[lshProbeCandidates]] against the STORED index at `path` instead of
    * an in-memory history — per-increment cost is now genuinely
    * independent of corpus size: the history side is read pre-banded
    * (no signature re-explode), and it is pruned BEFORE any shuffle.
    * Two pruning regimes, chosen by the batch's distinct-bucket count:
    * a small batch (≤ `maxPushdownBuckets` keys) becomes a literal
    * `bucket IN (...)` filter that reaches the parquet scan and skips
    * row groups via the sorted-bucket min/max stats the writer laid
    * down; a large batch becomes a broadcast semi-join on
    * (band, bucket) — history rows stream past the broadcast filter
    * without shuffling, and only survivors (|batch| × bucket occupancy
    * rows) enter the final equi-join. The IN-list over-selects across
    * bands by construction; the exact (band, bucket) join restores
    * exactness. */
  def lshProbeCandidatesStored(spark: org.apache.spark.sql.SparkSession,
      path: String, batch: DataFrame, idCol: String, sigCol: String,
      bands: Int, rowsPerBand: Int,
      maxPushdownBuckets: Int = 10000): DataFrame = {
    val bp = bandedPostings(batch, idCol, sigCol, bands, rowsPerBand,
      "batch_id").cut(eager = false)
    val hist = readBandedIndex(spark, path)
      .select(col("id").as("hist_id"), col("band"), col("bucket"))
    val keys = bp.select(col("band"), col("bucket")).distinct()
    val probeKeys = keys.limit(maxPushdownBuckets + 1).collect()
    val pruned =
      if (probeKeys.length <= maxPushdownBuckets)
        hist.filter(col("bucket").isInCollection(
          probeKeys.map(_.getString(1)).distinct.toSeq))
      else hist.join(broadcast(keys), Seq("band", "bucket"), "leftsemi")
    bp.join(pruned, Seq("band", "bucket"))
      .select(col("batch_id"), col("hist_id")).distinct()
  }

  def lshCandidatePairs(docs: DataFrame, idCol: String, sigCol: String,
                        bands: Int, rowsPerBand: Int,
                        skewThreshold: Int = 1024, blocks: Int = 8): DataFrame =
    bucketedPairs(bandedPostings(docs, idCol, sigCol, bands, rowsPerBand),
      skewThreshold, blocks)

  /** Distinct unordered candidate pairs from any banded posting table
    * with columns (id, band, bucket) — the shared pair-generation core
    * behind MinHash LSH ([[lshCandidatePairs]]), 64-bit SimHash banding,
    * and perceptual-hash banding (`MultimodalOps.hashBandPairs`).
    *
    * Shuffles on (band, bucket, block) — bucket sizes are the skew knob,
    * handled by triangle blocking: each (band, bucket) is sized once;
    * a bucket at or above `skewThreshold` members (one hot bucket of
    * degenerate values — empty docs, black frames — would otherwise
    * serialize its |bucket|² candidate scan into ONE task at 100 TB) has
    * its rows split into `blocks` id-hash blocks, each row replicated
    * onto the (block_lo, block_hi) triangle so every pair is generated at
    * exactly one grid key — parallelism × B(B+1)/2 for the hot bucket, at
    * B× replication of its rows only; small buckets keep block 0 and pay
    * nothing. Same pairs, different task keys — exactness is unchanged
    * (block-invariance is property-tested). Block assignment hashes the
    * id (`xxhash64`) so any id type shards, and shards uniformly even
    * when ids are clustered.
    *
    * `carry` names extra columns of `banded` (each a function of the id —
    * a hash, a signature) to ship through the pair join as `<c>_a`/`<c>_b`,
    * oriented with id_a/id_b. Carrying a narrow hash beats joining the
    * (id → hash) table back onto the pairs twice: the verify predicate
    * runs inside this plan and two join shuffles disappear. */
  def bucketedPairs(banded: DataFrame, skewThreshold: Int = 1024,
                    blocks: Int = 8, carry: Seq[String] = Nil): DataFrame = {
    // size each (band, bucket) once; oversized buckets get `blocks`-way
    // id blocks, the rest collapse to a single block (nb = 1 → blk = 0).
    // Lazily checkpointed: the tagged postings feed BOTH self-join sides.
    val sizes = banded.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("bsz"))
    val tagged = banded.join(sizes, Seq("band", "bucket"))
      .withColumn("nb",
        when(col("bsz") >= skewThreshold, lit(blocks)).otherwise(lit(1)))
      .withColumn("blk", pmod(xxhash64(col("id")), col("nb")).cast("int"))
      .cut(eager = false)
    val lhs = tagged.withColumn("bj",
      explode(sequence(col("blk"), col("nb") - 1)))
    val rhs = tagged.withColumn("bi",
      explode(sequence(lit(0), col("blk"))))
    // cross-block pairs arrive in grid order, not id order — orient every
    // output (ids AND carried columns) by the id comparison
    val flip = col("l.id") > col("r.id")
    lhs.as("l").join(rhs.as("r"),
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket") &&
          col("l.blk") === col("r.bi") && col("l.bj") === col("r.blk") &&
          (col("l.blk") =!= col("r.blk") || col("l.id") < col("r.id")))
      .select((Seq(
        when(flip, col("r.id")).otherwise(col("l.id")).as("id_a"),
        when(flip, col("l.id")).otherwise(col("r.id")).as("id_b")) ++
        carry.flatMap(c => Seq(
          when(flip, col(s"r.$c")).otherwise(col(s"l.$c")).as(s"${c}_a"),
          when(flip, col(s"l.$c")).otherwise(col(s"r.$c")).as(s"${c}_b")))): _*)
      .distinct()
  }

  /** 32-bit SimHash from a precomputed token-hash array (materialize
    * `transform(tokens, TextOps.hash32)` as a column first so each token
    * is md5'd once, not once per bit): bit j of the result is set iff the
    * frequency-weighted sum of (2·bit_j(hash) − 1) is positive. Pure
    * per-row HOF fold — no shuffle at all. Bit test is integer-only
    * (`h mod 2^(j+1) >= 2^j`) for exact oracle parity. */
  def simhash32FromHashes(hashes: Column): Column =
    aggregate(sequence(lit(0), lit(31)), lit(0L), (acc, j) => {
      val pow = org.apache.spark.sql.functions.pow(lit(2.0), j).cast("long")
      val bitSum = aggregate(hashes, lit(0L),
        (s, h) => s + when(h % (pow * 2) >= pow, 1L).otherwise(-1L))
      acc + when(bitSum > 0, pow).otherwise(0L)
    })

  /** SimHash via explode + hash aggregate — the fast form (same reasoning
    * as [[minhashSignatures]]): md5 once per token row, 32 codegen'd
    * conditional-sum partial aggregates, one shuffle on the id. */
  def simhashes(docs: DataFrame, idCol: String, tokensCol: Column): DataFrame = {
    val posting = docs.select(col(idCol).as("id"), explode(tokensCol).as("t"))
      .select(col("id"), TextOps.hash32(col("t")).as("h"))
    val bitSums = (0 until 32).map { j =>
      val pow = 1L << j
      sum(when(col("h") % (pow * 2) >= pow, 1L).otherwise(-1L)).as(s"b$j")
    }
    posting.groupBy(col("id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("id"),
        (0 until 32).map(j => when(col(s"b$j") > 0, 1L << j).otherwise(0L))
          .reduce(_ + _).as("simhash"))
  }

  /** 64-bit SimHash, produced as 4 × 16-bit band values (array<long>,
    * band b = bits [16b, 16b+16) of the conceptual 64-bit hash) — the
    * scale-grade replacement for the 32-bit form: 16-bit bands give 65 536
    * buckets per band (the dHash layout), so the banded self-join's
    * candidate volume is Σ bucket² over a 65k-way histogram instead of the
    * 256-way one that made the 32-bit geometry ≥N²/16k-quadratic on ANY
    * corpus. Band-array representation (not one packed i64) keeps every
    * value positive on both engines — no sign games at bit 63 — and makes
    * banding a plain `posexplode`.
    *
    * Bits 0..31 come from md5 hex digits 1-8 of the token (= `hash32`),
    * bits 32..63 from digits 9-16 — ONE md5 per token, because the
    * md5-prefix hash is the portable primitive both engines share.
    *
    * Per-row kernel ([[graft.functions.SimHash64Bands]], r14 —
    * previously explode + 64 conditional-sum aggregates + a shuffle on
    * the id, measured as ~90% of dedup_simhash at sf0.1): the same
    * integer votes in one loop per document, scan-local at any scale.
    * Docs with a NULL or empty token array drop out, exactly like the
    * explode form. Identity vs the aggregate twin is property-tested. */
  def simhashes64(docs: DataFrame, idCol: String, tokensCol: Column): DataFrame =
    docs.select(col(idCol).as("id"), tokensCol.as("__toks"))
      .filter(col("__toks").isNotNull && size(col("__toks")) > 0)
      .select(col("id"),
        graft.functions.SimHash64Bands(col("__toks")).as("bands"))

  /** The superseded explode + aggregate form — kept as a property-test
    * twin pinning the kernel's votes, band packing, and drop semantics. */
  private[graft] def simhashes64Agg(docs: DataFrame, idCol: String,
                                    tokensCol: Column): DataFrame = {
    val posting = docs.select(col(idCol).as("id"), explode(tokensCol).as("t"))
      .select(col("id"), md5(col("t")).as("m"))
      .select(col("id"),
        conv(substring(col("m"), 1, 8), 16, 10).cast("long").as("h1"),
        conv(substring(col("m"), 9, 8), 16, 10).cast("long").as("h2"))
    val bitSums = (0 until 64).map { j =>
      val (h, jj) = if (j < 32) (col("h1"), j) else (col("h2"), j - 32)
      val pow = 1L << jj
      sum(when(h % (pow * 2) >= pow, 1L).otherwise(-1L)).as(s"b$j")
    }
    posting.groupBy(col("id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("id"),
        array((0 until 4).map { b =>
          (0 until 16).map(jj =>
            when(col(s"b${16 * b + jj}") > 0, 1L << jj).otherwise(0L))
            .reduce(_ + _)
        }: _*).as("bands"))
  }

  /** Hamming distance between two simhash values. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Hamming distance between two band-array simhashes ([[simhashes64]]
    * layout): per-band xor popcounts, summed. */
  def hammingBands(a: Column, b: Column, nBands: Int = 4): Column =
    (0 until nBands).map(i =>
      bit_count(element_at(a, i + 1).bitwiseXOR(element_at(b, i + 1))))
      .reduce(_ + _)

  /** Connected components over an undirected pair graph — the cluster-
    * resolution step between near-dup pair generation and "keep one per
    * cluster": every node gets its component's minimum id as `label`.
    *
    * Min-label propagation WITH pointer jumping: each round every node
    * takes min(own label, neighbors' labels, label-of-its-label). The
    * shortcut hop doubles the propagation horizon per round, so
    * convergence is O(log diameter) — maxIter 20 covers diameters up to
    * ~2²⁰, not 20 (a 22-doc revision chain converges in 5 rounds, not 22).
    * Each round is two equi-joins + a hash aggregate over the NARROW
    * (id, label) table; the per-round checkpoint (lazy — the convergence
    * count is the materializing action, so each round runs one job) is
    * load-bearing: it cuts the lineage so round N's plan doesn't replay
    * rounds 1..N−1 (exponential otherwise). Peak storage is #rounds copies of the
    * narrow label table — bounded by the log-diameter round count, freed
    * by the ContextCleaner as the loop drops references. The driver-side
    * loop reads only the 1-value convergence count, never data — same
    * posture as the reference's XCom control flow. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 20): DataFrame = {
    // lazy cuts: edges and the initial labels are still materialized
    // exactly once (checkpoint storage is populated at the first action
    // and reused every later round), but LAZILY — round 1's convergence
    // count computes edges + labels + the first propagation in ONE fused
    // job instead of three sequential job launches. At sf0.1 the loop is
    // launch-overhead-bound, not data-bound, so fewer jobs = faster wall
    // clock; at 100 TB the materialize-once property is what matters and
    // it is unchanged.
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
      .cut(eager = false) // reused every round — materialize once
    // initialization IS the first propagation round: label₀ =
    // min(id, min neighbor id) — one aggregate instead of a full
    // join+checkpoint+count iteration
    var labels = edges.groupBy(col("src").as("id"))
      .agg(least(col("src"), min(col("dst"))).as("label"))
      .cut(eager = false)
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val neighborMin = edges.join(labels, col("dst") === col("id"))
        .groupBy(col("src")).agg(min(col("label")).as("nbr_min"))
      val propagated = labels.join(neighborMin, col("id") === col("src"), "left")
        .select(col("id"), col("label"),
          least(col("label"), coalesce(col("nbr_min"), col("label")))
            .as("mid_label"))
      // pointer jumping: follow the (new) label one hop — label of label
      val parents = propagated
        .select(col("id").as("pid"), col("mid_label").as("parent"))
      val updated = propagated
        .join(parents, col("mid_label") === col("pid"), "left")
        .select(col("id"), col("label"),
          least(col("mid_label"), coalesce(col("parent"), col("mid_label")))
            .as("new_label"))
        // lazy: the convergence count below is the materializing action,
        // so each round runs ONE job instead of checkpoint-then-count
        .cut(eager = false)
      changed = updated.filter(col("new_label") < col("label")).count()
      labels = updated.select(col("id"), col("new_label").as("label"))
      iter += 1
    }
    require(changed == 0,
      s"connectedComponents did not converge in $maxIter iterations")
    labels
  }

  /** Blocked fuzzy-match pairs (entity resolution): candidate pairs share
    * a blocking key (caller-derived — a token, a phonetic code, a length
    * bucket), and only candidates pay the edit-distance verify. Same
    * candidate-generation discipline as every other dedup path here: the
    * join is an equi-join on the block, cost Σ block², never N²;
    * `levenshtein` is exact integer DP on both engines. */
  def fuzzyPairs(df: DataFrame, idCol: String, nameCol: String,
                 block: Column, maxDist: Int): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), col(nameCol).as("name_a"),
      block.as("__b"))
    val b = df.select(col(idCol).as("id_b"), col(nameCol).as("name_b"),
      block.as("__b"))
    a.join(b, "__b")
      .filter(col("id_a") < col("id_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= maxDist)
      .drop("__b")
  }

  /** Delta dedup against a large history with a TWO-SIDED Bloom prefilter:
    * returns exactly the `batch` rows whose key does not appear in
    * `history` (≡ `batch LEFT ANTI JOIN history`), but shaped for the
    * 100 TB case where both sides are huge and the overlap is small.
    *
    *  1. One aggregate pass over history builds a fixed-size Bloom filter
    *     (mergeable bit array, OR-combined map-side), broadcast to the
    *     batch scan. Probe misses are DEFINITELY new (no false negatives)
    *     and bypass the join entirely — scan-local, zero shuffle.
    *  2. Probe hits (true dups + false positives) are the only batch rows
    *     that enter the exact anti-join; a second Bloom built over those
    *     candidate keys filters the HISTORY scan the same way, so the
    *     anti-join shuffles ≈ |overlap| keys from each side instead of
    *     |batch| + |history|.
    *
    * Both filters only ever discard provably-irrelevant rows, so the
    * result is exact — oracle-checked against the plain anti-join. */
  def bloomDeltaNew(batch: DataFrame, history: DataFrame, keyCol: String,
                    numBits: Int = 1 << 20, numHashes: Int = 5): DataFrame = {
    val bloomAgg = udaf(new graft.functions.BloomAggregator(numBits, numHashes))
    val key = col(keyCol).cast("string")

    val histBloom = history.agg(bloomAgg(key).as("__bloom"))
    val probed = batch.crossJoin(broadcast(histBloom))
    val hit = graft.functions.BloomAggregator
      .mightContain(col("__bloom"), key, numBits, numHashes)
    // run the scan once for both branches — the probe is the same pass.
    // NULL keys: Spark's hash(NULL) is the seed (never NULL), so a
    // NULL-key row probes a real bit and may spuriously "hit" — it then
    // flows to the exact anti-join, where NULL never equals a history key,
    // so it survives. Either branch keeps it: the result is exact for NULL
    // keys by anti-join semantics, not by the probe. The coalesce is a
    // belt-and-braces default for a NULL bloom (empty-history aggregate).
    val probedOnce = probed
      .withColumn("__hit", coalesce(hit, lit(false))).drop("__bloom")
      .cut(eager = false)
    val definitelyNew = probedOnce.filter(!col("__hit")).drop("__hit")
    val candidates = probedOnce.filter(col("__hit")).drop("__hit")

    val candBloom = candidates.agg(bloomAgg(key).as("__bloom"))
    val relevantHistory = history.select(key.as("__k"))
      .crossJoin(broadcast(candBloom))
      .filter(graft.functions.BloomAggregator
        .mightContain(col("__bloom"), col("__k"), numBits, numHashes))
      .select(col("__k"))
    definitelyNew.unionByName(
      candidates.join(relevantHistory, key === col("__k"), "left_anti"))
  }
}
