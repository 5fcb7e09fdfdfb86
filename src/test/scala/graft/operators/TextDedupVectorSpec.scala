package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("token counts") {
    val r = Seq("the quick brown fox the").toDF("text").select(
      TextOps.tokenCount($"text"),
      TextOps.distinctTokenCount($"text"),
      TextOps.bpeishTokenCount($"text")).head()
    assert(r.getInt(0) === 5)
    assert(r.getInt(1) === 4)
    assert(r.getInt(2) === 5)
  }

  test("bpeish splits punctuation and digits") {
    val n = Seq("ab12cd, x!").toDF("t")
      .select(TextOps.bpeishTokenCount($"t")).as[Int].head()
    // ab | 12 | cd | , | x | ! = 6
    assert(n === 6)
  }

  test("shingles: n=2 over 3 tokens gives 2; short docs give empty") {
    val out = Seq("a b c", "a").toDF("t")
      .select(TextOps.shingles($"t", 2).as("s"))
      .as[Seq[String]].collect()
    assert(out(0) === Seq("a b", "b c"))
    assert(out(1) === Seq.empty)
  }

  test("hash32 is stable and 32-bit") {
    val h = Seq("abc", "abc", "abd").toDF("t")
      .select(TextOps.hash32($"t")).as[Long].collect()
    assert(h(0) === h(1))
    assert(h(0) !== h(2))
    assert(h.forall(x => x >= 0 && x < (1L << 32)))
  }

  test("fingerprints: order-insensitive bag vs order-sensitive rolling") {
    val df = Seq("a b c", "c b a", "a b d").toDF("t").select(
      TextOps.bagFingerprint($"t").as("bag"),
      TextOps.rollingFingerprint($"t").as("roll"))
    val rows = df.collect()
    assert(rows(0).getString(0) === rows(1).getString(0)) // same bag
    assert(rows(0).getLong(1) !== rows(1).getLong(1))     // different order
    assert(rows(0).getString(0) !== rows(2).getString(0))
  }

  test("langId picks marker-majority language, und on no markers") {
    val out = Seq("the a of x", "der und das x", "xyz qqq").toDF("t")
      .select(TextOps.langId($"t")).as[String].collect()
    assert(out === Array("en", "de", "und"))
  }

  test("quality score bounded in [0,1]") {
    val q = graft.core.Tables(spark, graft.TestSpark.sfDir).documents
      .select(TextOps.qualityScore($"text").as("q"))
      .agg(min($"q"), max($"q")).head()
    assert(q.getDouble(0) >= 0.0 && q.getDouble(1) <= 1.0)
  }

  test("classifierMargin: driver recompute of hashed features and integer " +
       "milli-weights; gate flips with the margin sign") {
    // recompute the margin from first principles (java MessageDigest md5,
    // not Spark's) so a simultaneous bug in expression and twin can't
    // self-certify
    def h32(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16)
    }
    def margin(text: String): (Int, Long) = {
      val toks = text.split(" ", -1).toSeq
      val grams = toks ++ toks.sliding(2).filter(_.size == 2).map(_.mkString(" "))
      val z = grams.map { g =>
        h32("w#" + (h32(g) % 1024).toString) % 2001 - 1000
      }.sum
      (grams.size, z)
    }
    val rows = graft.core.Tables(spark, graft.TestSpark.sfDir).documents
      .limit(25)
      .select($"text", TextOps.classifierMargin($"text").as("m"))
      .select($"text", $"m.n_feats", $"m.z_milli")
      .as[(String, Int, Long)].collect()
    assert(rows.nonEmpty)
    for ((text, nf, z) <- rows) {
      val (en, ez) = margin(text)
      assert(nf === en, s"n_feats $nf != $en for: ${text.take(40)}")
      assert(z === ez, s"z_milli $z != $ez for: ${text.take(40)}")
    }
    // the keep gate is exactly sign(z): verified against the registry query
    val gate = graft.SparkEntry.queries("text_quality_classifier")(
      spark, graft.TestSpark.sfDir)
      .select($"keep", ($"score" > 0).as("pos")).distinct()
      .as[(Boolean, Boolean)].collect()
    assert(gate.forall { case (k, p) => k === p })
  }

  test("normalizeText folds case/ctl/nbsp/quotes and is identity on clean") {
    val out = Seq(
      "  Hello\t World  ",           // ws runs + tab + nbsp + case
      "‘a’ “b” –c—d", // unicode punct → ascii
      "already clean text")
      .toDF("t").select(TextOps.normalizeText($"t")).as[String].collect()
    assert(out(0) === "hello world")
    assert(out(1) === "'a' \"b\" -c-d")
    assert(out(2) === "already clean text")
  }

  test("bigram LM: repeated bigram is cheaper than a novel one") {
    // corpus: "a b" appears 3×, "a c" once → P(b|a) > P(c|a); the doc made
    // of the common bigram must score fewer bits than the rare one
    val docs = Seq((1L, "a b a b a b"), (2L, "a c"), (3L, "a b"))
      .toDF("doc_id", "text")
    val bits = TextOps.bigramLmBits(docs, "doc_id", "text")
      .select($"id", $"bits_per_token").as[(Long, Double)].collect().toMap
    assert(bits(3) < bits(2), s"common bigram must be cheaper: $bits")
    // hand-check doc 3: c("a b")=4 (3 in doc1 + doc3), context a appears
    // 5× as bigram-left ("a b"×4 + "a c"), V=3 → P = (4+1)/(5+3) = 5/8
    assert(math.abs(bits(3) - (-math.log(5.0 / 8) / math.log(2))) < 1e-9)
  }

  test("CMS: JVM bucket hash == builtin hash() column; never undercounts") {
    import graft.functions.CmsAggregator
    val width = 512
    // the pure-column probe is only valid if both sides hash identically
    val toks = Seq("alpha", "beta", "gamma:0", "", "x y").toDF("t")
    (0 until 4).foreach { r =>
      val cols = toks.select(
          pmod(hash(concat($"t", lit(":" + r))), lit(width))).as[Int].collect()
      val jvm = Seq("alpha", "beta", "gamma:0", "", "x y")
        .map(CmsAggregator.bucket(_, r, width))
      assert(cols.toSeq === jvm, s"row $r hash mismatch")
    }
    // merge of split sketches == sketch of the whole; estimates ≥ truth
    val agg = new CmsAggregator(4, width)
    val data = Seq.fill(200)("hot") ++ (1 to 300).map(i => s"tok$i")
    val (l, rr) = data.splitAt(137)
    val whole = data.foldLeft(agg.zero)(agg.reduce)
    val merged = agg.merge(l.foldLeft(agg.zero)(agg.reduce),
      rr.foldLeft(agg.zero)(agg.reduce))
    assert(whole.toSeq === merged.toSeq)
    def estimate(tok: String) = (0 until 4).map { r =>
      whole(r * width + CmsAggregator.bucket(tok, r, width))
    }.min
    assert(estimate("hot") >= 200)
    assert((1 to 300).forall(i => estimate(s"tok$i") >= 1))
  }

  test("canonicalizeUrl: case/port/fragment/tracking/slash normalization") {
    val cases = Seq(
      // tracking first param removed → next param promoted to ?
      ("https://A.com/p?utm_source=x&q=1", "https://a.com/p?q=1"),
      // non-tracking params survive; fragment dropped; path case kept
      ("HTTP://Host.COM:80/Path/Sub?q=1&utm_medium=m#sec",
        "http://host.com/Path/Sub?q=1"),
      // trailing slash dropped everywhere incl. root (both root forms are
      // the same resource; the scheme's // survives via the char class)
      ("https://x.com/", "https://x.com"),
      ("https://x.com/a/", "https://x.com/a"),
      // all params tracking → dangling ? cleaned
      ("https://x.com/a?fbclid=1&gclid=2", "https://x.com/a"),
      // non-default port kept
      ("https://x.com:8443/a", "https://x.com:8443/a"))
    val got = cases.map(_._1).toDF("url")
      .select(TextOps.canonicalizeUrl($"url")).as[String].collect().toSeq
    assert(got === cases.map(_._2))
  }

  test("vocabOov: deterministic tie-break, occurrence-weighted rate") {
    val docs = Seq(
      (1L, "a a b z"),   // with vocab {a, b}: 1 of 4 occurrences OOV
      (2L, "b b"),       // fully covered
      (3L, "q r s")      // fully OOV
    ).toDF("doc_id", "text")
    // counts: a=2(doc1) b=3 z=1 q=1 r=1 s=1 → v=2 picks b(3), a(2)
    val out = TextOps.vocabOov(docs, "doc_id", "text", 2)
      .orderBy($"id").as[(Long, Long, Double)].collect().toSeq
    assert(out === Seq((1L, 4L, 0.25), (2L, 2L, 0.0), (3L, 3L, 1.0)))
    // tie at count 1 → token-asc wins: vocab of size 4 is {b, a, q, r}
    val out4 = TextOps.vocabOov(docs, "doc_id", "text", 4)
      .orderBy($"id").as[(Long, Long, Double)].collect().toSeq
    assert(out4.map(_._3) === Seq(0.25, 0.0, 0.333333))
  }

  test("encodeIds: OOV -> -1, ids are frequency-rank order") {
    val docs = Seq((1L, "a a b z"), (2L, "b b")).toDF("doc_id", "text")
    // counts: b=3 a=2 z=1 → v=2 picks {b→0, a→1}; z is OOV
    val out = TextOps.encodeIds(docs, "doc_id", "text", 2)
      .orderBy($"id").as[(Long, Seq[Int])].collect().toSeq
    assert(out === Seq((1L, Seq(1, 1, 0, -1)), (2L, Seq(0, 0))))
  }

  test("encodeIds: NULL text encodes to NULL ids, not an NPE") {
    val docs = Seq((1L, Option("a a")), (2L, Option.empty[String]))
      .toDF("doc_id", "text")
    val out = TextOps.encodeIds(docs, "doc_id", "text", 2)
      .orderBy($"id").as[(Long, Option[Seq[Int]])].collect().toSeq
    assert(out === Seq((1L, Some(Seq(0, 0))), (2L, None)))
  }

  test("encodeIds: releaseEncoderBroadcasts reclaims per-fit vocab maps " +
      "without breaking an already-returned plan") {
    TextOps.releaseEncoderBroadcasts() // drain fits left by other tests
    val docs = Seq((1L, "a a b z"), (2L, "b b")).toDF("doc_id", "text")
    val fit1 = TextOps.encodeIds(docs, "doc_id", "text", 2)
    val fit2 = TextOps.encodeIds(docs, "doc_id", "text", 2)
    assert(fit1.count() === 2L)
    // two epochs fitted → two broadcasts released; the count is the
    // measured bound (E fits accumulate exactly E maps, nothing hidden)
    assert(TextOps.releaseEncoderBroadcasts() === 2)
    assert(TextOps.releaseEncoderBroadcasts() === 0, "drain is idempotent")
    // unpersist (not destroy): a plan executed AFTER release still works —
    // executors re-fetch the driver copy
    val out = fit2.orderBy($"id").as[(Long, Seq[Int])].collect().toSeq
    assert(out === Seq((1L, Seq(1, 1, 0, -1)), (2L, Seq(0, 0))))
  }

  test("encodeIds: a 100k-entry vocab stays OUT of the serialized plan") {
    // 1000 docs × 100 unique tokens = a 100k-distinct-token corpus — the
    // documented production vocab size. The fitted map must ship as a
    // broadcast variable, not a typedLit literal: a literal map this size
    // bloats the plan and can blow codegen method limits.
    val docs = spark.range(1000).select($"id",
      concat_ws(" ", (0 until 100).map(j =>
        concat(lit("tok"), ($"id" * 100 + j).cast("string"))): _*).as("text"))
    val enc = TextOps.encodeIds(docs, "id", "text", 100000)
    val plan = enc.queryExecution.executedPlan.toString
    assert(!plan.contains("tok99"),
      "vocab tokens must not be compiled into the plan")
    assert(plan.length < 20000,
      s"plan must stay O(1) in vocab size, got ${plan.length} chars")
    // every token is unique → the ids seen are exactly the permutation
    // 0..99999 with no OOV
    val ids = enc.select(explode($"ids").as("i"))
    assert(ids.distinct().count() === 100000L)
    val mm = ids.agg(min($"i"), max($"i")).head()
    assert(mm.getInt(0) === 0 && mm.getInt(1) === 99999)
  }

  test("Bloom: column probe == JVM bits; no false negatives; delta == anti join") {
    import graft.functions.BloomAggregator
    val bits = 1 << 10
    val hashes = 4
    // probe-vs-aggregator hash equality: every inserted key must probe true
    // (the no-false-negative contract the miss-path shortcut relies on)
    val agg = new BloomAggregator(bits, hashes)
    val keys = Seq("1", "42", "", "k:0", "long key with spaces")
    val bloom = keys.foldLeft(agg.zero)(agg.reduce)
    val probed = keys.toDF("k")
      .crossJoin(Seq(Tuple1(bloom)).toDF("bloom"))
      .select(BloomAggregator.mightContain($"bloom", $"k", bits, hashes))
      .as[Boolean].collect()
    assert(probed.forall(identity))
    // merge is OR: split build == whole build
    val (l, r) = keys.splitAt(2)
    assert(agg.merge(l.foldLeft(agg.zero)(agg.reduce),
      r.foldLeft(agg.zero)(agg.reduce)).toSeq === bloom.toSeq)
    // end-to-end exactness on overlapping key sets, incl. a tiny bit array
    // (high fp rate) — false positives cost work, never correctness
    val batch = spark.range(0, 300).select($"id", ($"id" % 7).as("tag"))
    val history = spark.range(150, 1000).toDF("id")
    for (nb <- Seq(64, 1 << 16)) {
      val got = DedupOps.bloomDeltaNew(batch, history, "id", numBits = nb)
        .select($"id").as[Long].collect().toSet
      assert(got === (0L until 150L).toSet, s"numBits=$nb")
    }
    // disjoint keys: everything is definitely-new (pure miss path)
    val disjoint = DedupOps.bloomDeltaNew(
      batch.filter($"id" < 10), spark.range(5000, 6000).toDF("id"), "id")
    assert(disjoint.count() === 10)
    // NULL-key batch rows survive (anti join keeps them: NULL matches
    // nothing) — they must not vanish into neither branch of the probe
    val withNull = Seq(Some(1L), None, Some(9999L)).toDF("id")
    val hist = Seq(Some(1L), None).toDF("id")
    val kept = DedupOps.bloomDeltaNew(withNull, hist, "id")
      .select($"id").as[Option[Long]].collect().toSet
    assert(kept === Set(None, Some(9999L)))
  }

  test("sparseCosineTopK: exact duplicate ranks first at cos 1, ranking matches brute force") {
    val docs = Seq(
      (0L, "alpha beta gamma delta"),
      (1L, "alpha beta gamma delta"),          // exact dup of 0
      (2L, "alpha beta epsilon zeta"),          // half-overlap
      (3L, "eta theta iota kappa"),             // disjoint vocab
      (4L, "alpha alpha alpha beta"))           // skewed tf
      .toDF("doc_id", "text")
    val out = TextOps.sparseCosineTopK(docs, "doc_id", "text",
        Seq(0L).toDF("doc_id"), 10, dfCapFrac = 1.0)
      .as[(Long, Int, Long, Double)].collect()
      .sortBy(_._2)
    // the exact duplicate is rank 1 with cosine exactly 1 (identical
    // 6dp-rounded decimal weight vectors)
    assert(out.head._3 === 1L && out.head._4 === 1.0)
    // disjoint-vocab doc 3 shares no token -> never a candidate row
    assert(!out.exists(_._3 === 3L))
    // brute-force check of the full ranking: recompute tf-idf cosines
    // driver-side with the same smoothing and 6dp weight rounding
    val texts = docs.as[(Long, String)].collect().toMap
    val n = texts.size.toDouble
    val tokd = texts.map { case (id, t) => id -> t.split(" ").toSeq }
    val df = tokd.values.flatMap(_.distinct).groupBy(identity)
      .map { case (t, xs) => t -> xs.size }
    def wvec(id: Long): Map[String, BigDecimal] = {
      val toks = tokd(id)
      toks.groupBy(identity).map { case (t, xs) =>
        val tf = xs.size.toDouble / toks.size
        val w = tf * math.log((n + 1) / (df(t) + 1))
        t -> BigDecimal(w).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      }
    }
    val q = wvec(0L)
    val qn = math.sqrt(q.values.map(x => (x * x).toDouble).sum)
    val expected = tokd.keys.filter(_ != 0L).toSeq
      .map { id =>
        val v = wvec(id)
        val dot = q.keys.toSeq.intersect(v.keys.toSeq)
          .map(t => (q(t) * v(t)).toDouble).sum
        val cn = math.sqrt(v.values.map(x => (x * x).toDouble).sum)
        (id, BigDecimal(dot / (qn * cn))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      .filter(_._2 > 0.0).sortBy { case (id, c) => (-c, id) }
    assert(out.map(r => (r._3, r._4)).toSeq === expected)
  }

  test("sparseCosineTopK: df-cap drops stop tokens from the similarity space") {
    // 'the' appears in ALL four docs; with the cap at 0.75 it is a stop
    // token and docs sharing ONLY 'the' must not become candidates
    val docs = Seq(
      (0L, "the alpha beta"),
      (1L, "the alpha beta"),
      (2L, "the gamma delta"),
      (3L, "the epsilon zeta"))
      .toDF("doc_id", "text")
    val capped = TextOps.sparseCosineTopK(docs, "doc_id", "text",
        Seq(0L).toDF("doc_id"), 10, dfCapFrac = 0.75)
      .as[(Long, Int, Long, Double)].collect()
    // only the true duplicate survives: rank 1, cosine exactly 1 over
    // the surviving {alpha, beta} space
    assert(capped.map(_._3).toSet === Set(1L))
    assert(capped.head._4 === 1.0)
    // without the cap every doc pairs with doc 0 through 'the'
    val uncapped = TextOps.sparseCosineTopK(docs, "doc_id", "text",
        Seq(0L).toDF("doc_id"), 10, dfCapFrac = 1.0)
      .as[(Long, Int, Long, Double)].collect()
    assert(uncapped.map(_._3).toSet === Set(1L, 2L, 3L))
  }

  test("importance weights: target-like docs outrank off-target docs") {
    // target slice speaks {x,y}; off-target speaks {p,q}; a fresh doc of
    // x/y must get a higher log-ratio weight than one of p/q
    val docs = Seq(
      (1L, "x y x y x", "en"), (2L, "x y y x", "en"),
      (3L, "p q p q p", "de"), (4L, "q p q q", "de"),
      (5L, "x y x", "fr"), (6L, "p q q", "fr")).toDF("doc_id", "text", "lang")
    val w = SamplingOps
      .importanceWeights(docs, "doc_id", "text", $"lang" === "en", 16)
      .select($"id", $"log_w").as[(Long, Double)].collect().toMap
    assert(w(5) > w(6), s"target-like doc must outweigh off-target: $w")
    // determinism: a second run produces bit-identical weights
    val w2 = SamplingOps
      .importanceWeights(docs, "doc_id", "text", $"lang" === "en", 16)
      .select($"id", $"log_w").as[(Long, Double)].collect().toMap
    assert(w === w2)
  }
}

class DedupOpsSpec extends SparkSpec {
  import spark.implicits._

  test("connectedComponents labels chains and leaves isolates alone") {
    // chain 1-2-3 (via 1-2, 2-3), separate pair 10-11
    val pairs = Seq((2L, 1L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val labels = DedupOps.connectedComponents(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connectedComponents converges on a deep chain (pointer jumping)") {
    // a 40-node path needs ~40 plain propagation rounds but O(log n) with
    // the shortcut hop — must converge well inside the default maxIter
    val chain = (0L until 39L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = DedupOps.connectedComponents(chain, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(labels.size === 40 && labels.values.forall(_ === 0L))
  }

  test("redactPii replaces emails before IPs and counts both") {
    val df = Seq("mail bob@x.co and 10.0.0.1 plus a@b.io end")
      .toDF("text")
      .select(
        TextOps.redactPii($"text").as("red"),
        TextOps.countMatches($"text", TextOps.emailRegex).as("ne"),
        TextOps.countMatches($"text", TextOps.ipv4Regex).as("ni"))
    val r = df.head()
    assert(r.getAs[String]("red") === "mail [EMAIL] and [IP] plus [EMAIL] end")
    assert(r.getAs[Int]("ne") === 2 && r.getAs[Int]("ni") === 1)
  }

  test("lineDedup keeps first global occurrence of each chunk, reassembles in order") {
    // w=2 chunks: doc1 = [a b][c d], doc2 = [a b][x y] — doc2 loses "a b"
    val docs = Seq((1L, "a b c d"), (2L, "a b x y")).toDF("doc_id", "text")
    val out = DedupOps.lineDedup(docs, "doc_id", "text", 2)
      .orderBy($"id").collect()
    assert(out(0).getAs[String]("clean_text") === "a b c d")
    assert(out(0).getAs[Int]("n_chunks") === 2 && out(0).getAs[Int]("n_kept") === 2)
    assert(out(1).getAs[String]("clean_text") === "x y")
    assert(out(1).getAs[Int]("n_chunks") === 2 && out(1).getAs[Int]("n_kept") === 1)
  }

  test("substringDupProfile: shared 8-token window flags both docs, short docs drop") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"),   // windows: a..h, b..i, c..j
      (2L, "a b c d e f g h x y"),   // shares only "a b c d e f g h" with doc 1
      (3L, "p q r s t u v w"),       // exactly one window, unique
      (4L, "m n o")                  // < 8 tokens: no windows at all
    ).toDF("doc_id", "text")
    val out = DedupOps.substringDupProfile(docs, "doc_id", "text", 8)
      .orderBy($"id").collect()
    assert(out.map(_.getAs[Long]("id")).toSeq === Seq(1L, 2L, 3L))
    assert(out(0).getAs[Int]("n_windows") === 3 &&
      out(0).getAs[Int]("n_dup_windows") === 1)
    assert(out(1).getAs[Int]("n_dup_windows") === 1)
    assert(out(2).getAs[Int]("n_dup_windows") === 0)
    assert(out(0).getAs[Double]("dup_frac") === 0.333333)
  }

  test("substringDupProfile counts a WITHIN-doc repeated window as duplicated") {
    // the same 8-gram occurs twice inside one doc (positions 1 and 9)
    val docs = Seq((1L, "a b c d e f g h a b c d e f g h")).toDF("doc_id", "text")
    val r = DedupOps.substringDupProfile(docs, "doc_id", "text", 8).head()
    assert(r.getAs[Int]("n_windows") === 9)
    // windows starting at 1 and 9 are both "a b c d e f g h" -> n_occ=2
    assert(r.getAs[Int]("n_dup_windows") === 2)
  }

  test("containmentPairs finds tiny-inside-huge pairs symmetric Jaccard misses") {
    val docs = Seq(
      (1L, (1 to 2).map(i => s"s$i")),                  // fully inside doc 2
      (2L, (1 to 10).map(i => s"s$i")),                 // the container
      (3L, Seq("t1", "t2", "t3")),                      // disjoint
      (4L, Seq("s1", "u2", "u3", "u4", "u5"))           // overlaps below t
    ).toDF("id", "set")
    val out = DedupOps.containmentPairs(docs, "id", "set", 0.8).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Long]("id_a") === 1L && r.getAs[Long]("id_b") === 2L)
    assert(r.getAs[Double]("containment_ab") === 1.0)   // |A∩B|/|A| = 2/2
    assert(r.getAs[Double]("containment_ba") === 0.2)   // |A∩B|/|B| = 2/10
  }

  test("exactDedupSummary groups identical texts (keep min id)") {
    val docs = Seq((1L, "x y z"), (2L, "x y z"), (3L, "q")).toDF("doc_id", "text")
    val out = DedupOps.exactDedupSummary(docs, md5($"text"), "doc_id")
      .orderBy("keep_id").collect()
    assert(out.length === 2)
    assert(out(0).getAs[Long]("keep_id") === 1L)
    assert(out(0).getAs[Long]("n_dups") === 2L)
  }

  test("keepFirst keeps one row per key by tiebreak") {
    val df = Seq((3L, "a"), (1L, "a"), (2L, "b")).toDF("id", "k")
    val out = DedupOps.keepFirst(df, Seq("k"), "id")
      .select($"id").as[Long].collect().sorted
    assert(out === Array(1L, 2L))
  }

  test("jaccardPairs finds crafted near-dups and skips far pairs") {
    val docs = Seq(
      (1L, Seq("a b", "b c", "c d")),
      (2L, Seq("a b", "b c", "c e")),  // jaccard 2/4 = 0.5
      (3L, Seq("q r"))).toDF("doc_id", "sh")
    val out = DedupOps.jaccardPairs(docs, "doc_id", "sh", 0.5).collect()
    assert(out.length === 1)
    assert(out(0).getAs[Long]("id_a") === 1L)
    assert(out(0).getAs[Double]("jaccard") === 0.5)
  }

  test("cost-based dispatch: a cutoff outside 0..Int.MaxValue-2 fails fast, naming its source") {
    val docs = Seq((1L, Seq("a b", "b c")), (2L, Seq("a b", "b d"))).toDF("doc_id", "sh")
    val max = Int.MaxValue - 2L
    // the largest accepted cutoff still pins the dense branch (jaccard 1/3)
    assert(DedupOps.jaccardPairsAuto(docs, "doc_id", "sh", 0.3, denseCutoff = max)
      .count() === 1L)
    for (bad <- Seq(max + 1, Long.MaxValue)) {
      val e = intercept[IllegalArgumentException](
        DedupOps.containmentPairsAuto(docs, "doc_id", "sh", 0.3, denseCutoff = bad))
      assert(e.getMessage.contains("denseCutoff") && e.getMessage.contains(bad.toString),
        e.getMessage)
    }
    for ((key, bad) <- Seq("spark.graft.dedup.denseCutoff" -> (max + 1).toString,
                           "spark.graft.dedup.verifyJoinCutoff" -> Long.MaxValue.toString,
                           "spark.graft.dedup.verifyJoinCutoff" -> "-1")) {
      spark.conf.set(key, bad)
      try {
        val e = intercept[IllegalArgumentException](
          DedupOps.jaccardPairsAuto(docs, "doc_id", "sh", 0.3))
        assert(e.getMessage.contains(key) && e.getMessage.contains(bad), e.getMessage)
      } finally spark.conf.unset(key)
    }
  }

  test("LSH candidates contain every pair the exact Jaccard path confirms") {
    // real documents at sf0.001: LSH(4x4) over minhash(16) must recall all
    // pairs with true jaccard >= 0.8 that the exact inverted-index finds
    val docs = graft.core.Tables(spark, graft.TestSpark.sfDir).documents
      .select($"doc_id", array_distinct(TextOps.shingles($"text", 2)).as("sh"))
    val exact = DedupOps.jaccardPairs(docs, "doc_id", "sh", 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val signed = docs.withColumn("sig", DedupOps.minhashSignature($"sh", 16))
    val cands = DedupOps.lshCandidatePairs(signed, "doc_id", "sig", 4, 4)
      .as[(Long, Long)].collect().toSet
    assert(exact.subsetOf(cands),
      s"missed: ${exact -- cands} (exact=${exact.size}, cands=${cands.size})")
  }

  test("LSH pairs are invariant to skew blocking (salted == unsalted)") {
    // forcing EVERY bucket through the triangle-block grid must yield the
    // exact same candidate set as no blocking at all — the salt changes
    // task keys, never pairs
    val docs = graft.core.Tables(spark, graft.TestSpark.sfDir).documents
      .select($"doc_id", array_distinct(TextOps.shingles($"text", 2)).as("sh"))
    val signed = docs.withColumn("sig", DedupOps.minhashSignature($"sh", 16))
    val unsalted = DedupOps.lshCandidatePairs(signed, "doc_id", "sig", 4, 4,
      skewThreshold = Int.MaxValue).as[(Long, Long)].collect().toSet
    val salted = DedupOps.lshCandidatePairs(signed, "doc_id", "sig", 4, 4,
      skewThreshold = 1, blocks = 4).as[(Long, Long)].collect().toSet
    assert(unsalted === salted)
    assert(unsalted.forall { case (a, b) => a < b })
  }

  test("lshProbeCandidates: only cross-boundary pairs, and exactly the " +
       "self-join candidates restricted to the boundary") {
    val docs = graft.core.Tables(spark, graft.TestSpark.sfDir).documents
      .select($"doc_id", array_distinct(TextOps.shingles($"text", 2)).as("sh"))
    val signed = docs.withColumn("sig", DedupOps.minhashSignature($"sh", 16))
    val hist = signed.filter($"doc_id" % 3 =!= 0)
    val batch = signed.filter($"doc_id" % 3 === 0)
    val probe = DedupOps.lshProbeCandidates(hist, batch, "doc_id", "sig", 4, 4)
      .as[(Long, Long)].collect().toSet
    // (a) no within-side pair can exist by construction
    assert(probe.forall { case (b, h) => b % 3 == 0 && h % 3 != 0 })
    // (b) completeness + no extras: the self-join generator over the full
    // corpus, restricted to cross-boundary pairs, is the same set
    val self = DedupOps.lshCandidatePairs(signed, "doc_id", "sig", 4, 4)
      .as[(Long, Long)].collect()
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .collect { case (x, y) if x % 3 == 0 && y % 3 != 0 => (x, y) }.toSet
    assert(probe === self)
    assert(probe.nonEmpty) // the fixture corpus has cross-boundary dups
  }

  test("connectedComponents identical in reliable-checkpoint mode") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set(graft.core.Lineage.confKey, dir)
    try {
      val pairs = Seq((2L, 1L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
      val labels = DedupOps.connectedComponents(pairs, "id_a", "id_b")
        .as[(Long, Long)].collect().toMap
      assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
      // the durable path must actually have been taken: reliable
      // checkpoints write rdd-* dirs under the configured root
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .anyMatch(p => p.getFileName.toString.startsWith("rdd-"))
      assert(wrote, s"no reliable checkpoint written under $dir")
    } finally spark.conf.unset(graft.core.Lineage.confKey)
  }

  test("simhash: identical token bags collide, hamming 0") {
    val df = Seq((1L, "x y z"), (2L, "x y z")).toDF("id", "t")
      .withColumn("hs", transform(TextOps.tokens($"t"), TextOps.hash32(_)))
      .select($"id", DedupOps.simhash32FromHashes($"hs").as("sh"))
    val v = df.select($"sh").as[Long].collect()
    assert(v(0) === v(1))
    assert(v(0) >= 0 && v(0) < (1L << 32))
  }

  test("simhashes64: halves reproduce the 32-bit HOF witness exactly") {
    // bits 0..31 of the 64-bit hash are BY CONSTRUCTION the 32-bit simhash
    // over md5 digits 1-8 (= hash32), bits 32..63 the one over digits
    // 9-16 — so packing bands (b0 + b1·2^16, b2 + b3·2^16) must bit-equal
    // the spec'd interpreted witness on real corpus text
    val docs = graft.core.Tables(spark, graft.TestSpark.sfDir).documents
      .limit(50)
    val fast = DedupOps.simhashes64(docs, "doc_id", TextOps.tokens($"text"))
      .select($"id",
        (element_at($"bands", 1) + element_at($"bands", 2) * 65536L).as("lo"),
        (element_at($"bands", 3) + element_at($"bands", 4) * 65536L).as("hi"))
    val witness = docs.select($"doc_id".as("id"),
      DedupOps.simhash32FromHashes(
        transform(TextOps.tokens($"text"), TextOps.hash32(_))).as("lo_w"),
      DedupOps.simhash32FromHashes(
        transform(TextOps.tokens($"text"),
          t => conv(substring(md5(t), 9, 8), 16, 10).cast("long"))).as("hi_w"))
    val joined = fast.join(witness, "id")
      .select($"id", $"lo", $"lo_w", $"hi", $"hi_w").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      assert(r.getLong(1) === r.getLong(2), s"lo mismatch id=${r.getLong(0)}")
      assert(r.getLong(3) === r.getLong(4), s"hi mismatch id=${r.getLong(0)}")
    }
  }

  test("simhashes64: bands are 16-bit and identical bags collide") {
    val sim = DedupOps.simhashes64(
      Seq((1L, "x y z"), (2L, "x y z")).toDF("id", "t"),
      "id", TextOps.tokens($"t"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(sim(1L) === sim(2L))
    assert(sim(1L).length === 4)
    assert(sim(1L).forall(b => b >= 0 && b < 65536))
  }

  test("bucketedPairs: string ids shard (xxhash blocks), salt-invariant") {
    // the generic kernel must handle non-numeric ids — block assignment
    // hashes the id — and forcing every bucket through the grid must not
    // change the pair set
    val banded = Seq(
      ("u1", 0, "a"), ("u2", 0, "a"), ("u3", 0, "a"), ("u4", 0, "a"),
      ("u5", 0, "b"), ("u6", 0, "b"), ("u7", 1, "a"), ("u1", 1, "c"),
      ("u2", 1, "c")).toDF("id", "band", "bucket")
    val plain = DedupOps.bucketedPairs(banded, skewThreshold = Int.MaxValue)
      .as[(String, String)].collect().toSet
    val sharded = DedupOps.bucketedPairs(banded, skewThreshold = 1, blocks = 3)
      .as[(String, String)].collect().toSet
    assert(plain === sharded)
    assert(plain === Set(("u1", "u2"), ("u1", "u3"), ("u1", "u4"),
      ("u2", "u3"), ("u2", "u4"), ("u3", "u4"), ("u5", "u6")))
  }
}

class VectorOpsSpec extends SparkSpec {
  import spark.implicits._

  test("cosine: identity 1, orthogonal 0, opposite -1") {
    val df = Seq(
      (Seq(1.0, 0.0), Seq(1.0, 0.0)),
      (Seq(1.0, 0.0), Seq(0.0, 1.0)),
      (Seq(1.0, 0.0), Seq(-1.0, 0.0))).toDF("a", "b")
      .select(round(VectorOps.cosine($"a", $"b"), 6).as("c"))
    assert(df.as[Double].collect().toSeq === Seq(1.0, 0.0, -1.0))
  }

  test("topKNeighbors: k results per query, self excluded, rank ordered") {
    val e = graft.core.Tables(spark, graft.TestSpark.sfDir).embeddings
    val out = VectorOps.topKNeighbors(e.filter($"vec_id" < 2), e,
      "vec_id", "embedding", 5).collect()
    assert(out.length === 10)
    val byQuery = out.groupBy(_.getAs[Long]("query_id"))
    byQuery.foreach { case (q, rows) =>
      assert(rows.length === 5)
      assert(!rows.exists(_.getAs[Long]("neighbor_id") === q))
      val cosines = rows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cos"))
      assert(cosines.sameElements(cosines.sortBy(-_)))
    }
  }

  test("ivfTopK with full probe == brute-force topKNeighbors exactly") {
    // nprobe = #centroids searches every inverted list, and every corpus
    // vector lives in exactly one list — the candidate set degenerates to
    // the whole corpus, so results must be identical to the exhaustive scan
    val e = graft.core.Tables(spark, graft.TestSpark.sfDir).embeddings
    val q = e.filter($"vec_id" < 3)
    val cents = e.filter($"vec_id" < 8)
    val ivf = VectorOps.ivfTopK(q, e, cents,
      "vec_id", "embedding", "vec_id", "embedding", k = 5, nprobe = 8)
      .orderBy($"query_id", $"rank").collect()
    val brute = VectorOps.topKNeighbors(q, e, "vec_id", "embedding", 5)
      .orderBy($"query_id", $"rank").collect()
    assert(ivf.toSeq === brute.toSeq)
  }

  test("ivfTopK with partial probe: high recall, exact within probed lists") {
    val e = graft.core.Tables(spark, graft.TestSpark.sfDir).embeddings
    val q = e.filter($"vec_id" < 5)
    val cents = e.filter($"vec_id" < 8)
    val ivf = VectorOps.ivfTopK(q, e, cents,
      "vec_id", "embedding", "vec_id", "embedding", k = 10, nprobe = 3)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val brute = VectorOps.topKNeighbors(q, e, "vec_id", "embedding", 10)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (ivf & brute).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall=$recall") // probe 3/8 lists
  }

  test("lshAutoParams: occupancy-bounded widths, signature fits a long") {
    // fixture corpora: the exact parameterizations the oracle twin derives
    assert(VectorOps.lshAutoParams(500) === ((3, 8)))
    assert(VectorOps.lshAutoParams(2000) === ((5, 8)))
    assert(VectorOps.lshAutoParams(20000) === ((9, 7)))
    // invariants across 9 orders of magnitude
    for (n <- Seq(1L, 100L, 10000L, 1000000L, 100000000L, 1000000000L)) {
      val (r, bands) = VectorOps.lshAutoParams(n)
      assert(r >= 2 && r <= 12 && bands >= 1 && r * bands <= 63, s"n=$n")
    }
    // monotone: more corpus never narrows a band
    val widths = Seq(100L, 1000L, 10000L, 100000L, 1000000L)
      .map(VectorOps.lshAutoParams(_)._1)
    assert(widths === widths.sorted)
  }

  test("sim_lsh_rp_auto output is a subset of the exact cosine pairs") {
    // every emitted pair is candidate-generated then VERIFIED at the same
    // threshold as the exact all-pairs baseline, so auto ⊆ exact always
    // (recall varies with banding; precision is 1 by construction)
    val dir = graft.TestSpark.sfDir
    val auto = graft.queries.VectorQueries.all.find(_.name == "sim_lsh_rp_auto").get
      .run(spark, dir).select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = graft.queries.VectorQueries.all.find(_.name == "sim_cosine_pairs").get
      .run(spark, dir).select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(auto.nonEmpty, "banding produced zero verified pairs at fixture SF")
    assert(auto.subsetOf(exact))
  }

  test("int8 quantization: 4x smaller codes, dequantized cosine within 1%") {
    val e = graft.core.Tables(spark, graft.TestSpark.sfDir).embeddings
      .select($"vec_id", VectorOps.toDouble($"embedding").as("v"))
      .limit(50)
    val q = e.withColumn("q", VectorOps.quantizeInt8($"v"))
      .withColumn("dq", VectorOps.dequantize($"q"))
    // codes bounded
    val bad = q.select(explode($"q.codes").as("c"))
      .filter($"c" < -127 || $"c" > 127).count()
    assert(bad === 0)
    // cosine between original and dequantized ≈ 1
    val minCos = q.select(round(VectorOps.cosine($"v", $"dq"), 4).as("c"))
      .agg(min($"c")).head().getDouble(0)
    assert(minCos > 0.99, s"minCos=$minCos")
  }

  test("Int8RoundTrip kernel is bit-identical to the HOF quantize∘dequantize") {
    import graft.functions.Int8RoundTrip
    // corpus vectors + adversarial fixtures: negative ties, zero vector,
    // empty vector, values that straddle the .5 rounding boundary
    val corpus = graft.core.Tables(spark, graft.TestSpark.sfDir).embeddings
      .select(VectorOps.toDouble($"embedding").as("v")).limit(100)
    val tricky = Seq(
      Seq(2.5, -2.5, 1.5, -1.5, 127.0),      // ties away from zero
      Seq(0.0, 0.0, 0.0),                     // zero vector -> scale 1.0
      Seq.empty[Double],                      // empty vector
      Seq(0.49999999999999994, -63.5, 63.5)   // shortest-decimal near-tie
    ).toDF("v").select($"v".cast("array<double>").as("v"))
    for (df <- Seq(corpus, tricky)) {
      val mismatches = df
        .withColumn("hof", VectorOps.dequantize(VectorOps.quantizeInt8($"v")))
        .withColumn("fused", Int8RoundTrip($"v"))
        // bit-level comparison: any elementwise difference (incl. NaN/-0.0
        // disagreements) breaks array equality on the double encoding
        .filter(not($"hof" <=> $"fused"))
        .count()
      assert(mismatches === 0)
    }
  }

  test("bpeTrain learns the textbook merges (low/lower) with lexicographic ties") {
    // words: low x3, lower x1. pairs: (l,o)=4, (o,w)=4, (w,e)=1, (e,r)=1
    // step1: tie (l,o)/(o,w) at 4 -> lexicographic -> (l,o)
    // step2: (lo,w)=4 wins; step3: tie (e,r)/(low,e) at 1 -> (e,r)
    val docs = Seq("low low low lower").toDF("text")
    val out = TextOps.bpeTrain(docs, "text", 3)
      .orderBy($"step")
      .as[(Int, String, String, String, Long)].collect().toSeq
    assert(out === Seq(
      (1, "l", "o", "lo", 4L),
      (2, "lo", "w", "low", 4L),
      (3, "e", "r", "er", 1L)))
  }

  test("bpeTrain merges leftmost-greedily: aaa -> (aa)a, not a(aa)") {
    val docs = Seq("aaa").toDF("text")
    val out = TextOps.bpeTrain(docs, "text", 2)
      .orderBy($"step")
      .as[(Int, String, String, String, Long)].collect().toSeq
    // step1: (a,a) occurs twice in 'aaa'; the merge must consume the
    // LEFT pair, leaving [aa, a] -> step2 sees exactly one (aa, a) pair
    assert(out === Seq(
      (1, "a", "a", "aa", 2L),
      (2, "aa", "a", "aaa", 1L)))
  }

  test("tfIdf: rare terms outscore ubiquitous ones") {
    val docs = Seq(
      (1L, "common rare1 common common"),
      (2L, "common common common common"),
      (3L, "common rare2 common common")).toDF("doc_id", "text")
    val scored = TextOps.tfIdf(docs, "doc_id", "text")
      .select($"token", $"tf_idf").as[(String, Double)].collect()
    val byTok = scored.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    assert(byTok("rare1") > byTok("common"))
    assert(byTok("common") < 1e-9) // df == N -> idf ~ ln(4/4)=0
  }

  test("bm25: term frequency saturates; longer docs are penalized; rare terms win") {
    val docs = Seq(
      (1L, "apple pear pear pear"),        // tc(pear)=3, len 4
      (2L, "apple pear plum kiwi"),        // tc(pear)=1, len 4
      (3L, "apple pear plum kiwi plum kiwi plum kiwi")) // tc(pear)=1, len 8
      .toDF("doc_id", "text")
    val byDoc = TextOps.bm25(docs, "doc_id", "text")
      .filter($"token" === "pear")
      .select($"id", $"score").as[(Long, Double)].collect().toMap
    // more occurrences score higher, but sublinearly (saturation < tc ratio)
    assert(byDoc(1L) > byDoc(2L))
    assert(byDoc(1L) / byDoc(2L) < 3.0)
    // same tc, longer doc -> lower score
    assert(byDoc(2L) > byDoc(3L))
    // idf: a term in every doc scores below a term in one doc at equal tc
    val all = TextOps.bm25(docs, "doc_id", "text")
      .filter($"id" === 2L).select($"token", $"score")
      .as[(String, Double)].collect().toMap
    assert(all("kiwi") > all("apple")) // kiwi df=2 < apple df=3
  }

  test("kmeans: seeded clustering is deterministic, covers all vectors") {
    val e = graft.core.Tables(spark, graft.TestSpark.sfDir).embeddings
    val c1 = VectorOps.kmeansClusters(e, "vec_id", "embedding", 4)
      .as[(Long, Int)].collect().toMap
    val c2 = VectorOps.kmeansClusters(e, "vec_id", "embedding", 4)
      .as[(Long, Int)].collect().toMap
    assert(c1 === c2)
    assert(c1.size === e.count())
    assert(c1.values.toSet.subsetOf((0 until 4).toSet))
  }

  test("rpSignature deterministic and within 16 bits") {
    val e = graft.core.Tables(spark, graft.TestSpark.sfDir).embeddings
      .select($"vec_id", VectorOps.toDouble($"embedding").as("v"))
    val sigs = e.select(VectorOps.rpSignature($"v", 16).as("s")).as[Long].collect()
    assert(sigs.forall(s => s >= 0 && s < (1L << 16)))
    val sigs2 = e.select(VectorOps.rpSignature($"v", 16).as("s")).as[Long].collect()
    assert(sigs.sameElements(sigs2))
  }
}
