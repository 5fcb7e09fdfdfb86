package graft

import graft.operators.{CalendarOps, RelationalOps, TextOps}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants (SURVEY §5.4): generator totality for
  * arbitrary years, reshaping identities, fingerprint ranges, write
  * idempotence over arbitrary partition payloads. Uses seeded ScalaCheck
  * generators directly (deterministic samples, no scalatestplus bridge).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def forAll[T](g: Gen[T], n: Int = 10)(f: T => Unit): Unit = {
    var checked = 0
    (1 to n * 4).foreach { i =>
      if (checked < n) g.apply(Gen.Parameters.default, Seed(i.toLong)).foreach { v =>
        checked += 1; f(v)
      }
    }
    assert(checked === n, s"only $checked/$n samples generated")
  }

  test("calendar: total, contiguous, one row per day for arbitrary years") {
    forAll(Gen.choose(1990, 2100)) { year =>
      val cal = CalendarOps.calendarDim(spark, year, year)
      val expected = if (java.time.Year.of(year).isLeap) 366 else 365
      val n = cal.count()
      assert(n === expected)
      assert(cal.select(countDistinct($"date")).as[Long].head() === expected.toLong)
      // DOW always in [0,6], weekend flag consistent with DOW
      assert(cal.filter($"day_of_week" < 0 || $"day_of_week" > 6).isEmpty)
      assert(cal.filter(
        $"is_market_holiday" =!= $"day_of_week".isin(0, 6)).isEmpty)
    }
  }

  test("percentile identity: distributed-prefix exactPercentiles == the percentile " +
      "aggregate on random multisets with ties") {
    // guards the op-for-op replication of Percentile.getPercentile
    // (position arithmetic, straddling ranks, BOTH special cases) behind
    // the high-cardinality percentile path — bit equality, no eps
    val entry = for {
      g <- Gen.choose(0, 2)
      // coarse value grid forces DUPLICATES (the lo/hi rank-span case)
      // mixed with fine doubles (the interpolation case)
      v <- Gen.oneOf(Gen.choose(0, 9).map(_ * 0.5),
        Gen.choose(0.0, 100.0))
    } yield (s"g$g", v)
    val data = Gen.choose(5, 60).flatMap(n => Gen.listOfN(n, entry))
    val ps = Seq(0.0, 0.25, 0.5, 0.9, 1.0)
    forAll(data, n = 6) { rows =>
      val df = rows.toDF("grp", "v")
      val aggCols = ps.map(p => expr(s"percentile(v, $p)").as(s"p$p"))
      val agg = df.groupBy($"grp").agg(aggCols.head, aggCols.tail: _*)
        .orderBy($"grp")
        .collect().map(_.toSeq).toSeq
      val win = graft.operators.ProfileOps.exactPercentiles(df, "grp", "v",
          ps.map(p => p -> s"p$p"))
        .orderBy($"grp")
        .collect().map(_.toSeq).toSeq
      assert(win === agg, s"windowed != aggregate percentiles on $rows")
    }
  }

  test("unpivot ∘ pivot is the identity on arbitrary wide frames") {
    val rowsGen = Gen.nonEmptyListOf(Gen.zip(
      Gen.choose(0L, 50L), Gen.choose(-1e6, 1e6), Gen.choose(-1e6, 1e6)))
    forAll(rowsGen) { rows =>
      val wide = rows.map { case (id, a, b) => (id, a, b) }
        .toDF("id", "a", "b").groupBy("id").agg(
          sum($"a").as("a"), sum($"b").as("b"))
      val long = RelationalOps.unpivotWide(wide, Seq("id"), Seq("a", "b"), "k", "v")
      val back = long.groupBy("id").pivot("k", Seq("a", "b")).agg(first("v"))
      assert(back.exceptAll(wide).isEmpty && wide.exceptAll(back).isEmpty)
    }
  }

  test("rolling fingerprint always lands in [0, 1e9+7)") {
    val textGen = Gen.listOf(Gen.oneOf("a", "bb", "ccc", "dddd", "the", "x1"))
      .map(_.mkString(" "))
    forAll(Gen.nonEmptyListOf(textGen)) { texts =>
      val fps = texts.toDF("text")
        .select(TextOps.rollingFingerprint($"text").as("fp"))
        .as[Long].collect()
      assert(fps.forall(f => f >= 0 && f < 1000000007L))
    }
  }

  test("partitioned write is idempotent for arbitrary payloads (C3)") {
    forAll(Gen.nonEmptyListOf(Gen.zip(Gen.alphaStr, Gen.choose(0, 999)))) { rows =>
      val dir = java.nio.file.Files.createTempDirectory("graft-prop").toString
      val df = rows.toDF("k", "v")
      graft.io.Writers.writeForDate(df, dir + "/t", "2025-02-03", "parquet")
      graft.io.Writers.writeForDate(df, dir + "/t", "2025-02-03", "parquet")
      assert(spark.read.parquet(dir + "/t").count() === rows.size.toLong)
    }
  }

  test("concurrent same-partition writers: last writer wins, never a mix (C3)") {
    // SURVEY §7 risk 5: the reference catches up with max_active_runs=5,
    // so two backfill runs CAN overwrite the same ymd concurrently; its
    // safety comes from S3 last-put-wins on whole objects. Spark's
    // dynamic-partition-overwrite commit alone does NOT give that
    // guarantee — it is a non-atomic delete-then-rename per partition, and
    // two uncoordinated jobs can interleave into a mixed/nested directory.
    // Writers therefore SERIALIZES same-path writes behind a per-path lock
    // (one driver JVM — exactly this test's shape), which makes "one
    // writer's complete payload wins" true by construction here. Across
    // drivers the lock cannot reach: same-source runs must be serialized
    // by the ledger (isProcessed gate + one runner per source, as
    // IngestJob does) — that contract is documented on Writers itself.
    forAll(Gen.choose(1, 999), n = 5) { seed =>
      val dir = java.nio.file.Files.createTempDirectory("graft-race").toString
      val payload = (w: String) =>
        (1 to 10).map(i => (w, seed * 1000 + i)).toDF("writer", "v")
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val runs = Seq("A", "B").map { w =>
        scala.concurrent.Future {
          graft.io.Writers.writeForDate(payload(w), dir + "/t", "2025-02-03",
            "parquet")
        }
      }
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(runs),
        scala.concurrent.duration.Duration(120, "s"))
      pool.shutdown()
      val out = spark.read.parquet(dir + "/t")
      val writers = out.select($"writer").distinct().as[String].collect()
      assert(writers.length === 1,
        s"partition must hold exactly one writer's payload, got ${writers.toSeq}")
      assert(out.count() === 10L, "the surviving payload must be complete")
    }
  }

  test("near-dup identity: PPJoin == dense kernel == inverted-index verify " +
      "on random corpora and thresholds") {
    // the exactness claim all three candidate generators share: identical
    // (id_a, id_b, jaccard) sets at any threshold — this is what guards
    // the prefix-length/position-filter ceil math (incl. the −ε bounds)
    val vocab = Gen.choose(0, 11).map(i => s"w$i") // hot 12-token vocabulary
    val doc = Gen.choose(2, 20).flatMap(n => Gen.listOfN(n, vocab)).map(_.mkString(" "))
    val corpus = Gen.listOfN(12, doc)
    val thresholds = Seq(0.3, 0.5, 0.7, 0.9)
    forAll(corpus, n = 4) { docsList =>
      val df = docsList.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
        .select($"doc_id", TextOps.shingles($"text", 2).as("sh"))
      for (t <- thresholds) {
        def pairs(d: org.apache.spark.sql.DataFrame) =
          d.select($"id_a", $"id_b", $"jaccard")
            .as[(Long, Long, Double)].collect().toSet
        val dense = pairs(graft.operators.DedupOps
          .jaccardPairsDense(df, "doc_id", "sh", t))
        val ppjoin = pairs(graft.operators.DedupOps
          .jaccardPairs(df, "doc_id", "sh", t))
        assert(ppjoin === dense, s"ppjoin != dense at t=$t on $docsList")
        // the verify-strategy crossover is branch-invariant too: forcing
        // the blocked cogroup verify (cutoff 0) must reproduce the
        // attach-join verify (cutoff ∞) bit for bit — this is what guards
        // the Scala merge kernel + ratio arithmetic against the codegen'd
        // SortedLongOverlapCount + column-expression form
        spark.conf.set("spark.graft.dedup.verifyJoinCutoff", "0")
        val ppjoinCogroup =
          try pairs(graft.operators.DedupOps.jaccardPairs(df, "doc_id", "sh", t))
          finally spark.conf.unset("spark.graft.dedup.verifyJoinCutoff")
        assert(ppjoinCogroup === dense,
          s"cogroup verify != join verify at t=$t on $docsList")
        // inverted index generates ⊇ candidates of any true pair
        val inverted = graft.operators.DedupOps
          .invertedIndexPairs(df, "doc_id", "sh")
          .as[(Long, Long)].collect().toSet
        assert(dense.forall { case (a, b, _) => inverted.contains((a, b)) })
        // the cost-based picker is branch-invariant: forcing either side
        // of the cutoff changes the plan, never the answer
        val autoDense = pairs(graft.operators.DedupOps
          .jaccardPairsAuto(df, "doc_id", "sh", t, denseCutoff = Int.MaxValue - 2L))
        val autoPp = pairs(graft.operators.DedupOps
          .jaccardPairsAuto(df, "doc_id", "sh", t, denseCutoff = 0L))
        assert(autoDense === dense && autoPp === dense)
      }
    }
  }

  test("containment identity: one-sided prefix == dense kernel on random " +
      "corpora and thresholds") {
    // guards the contained-side prefix length + position filter math: the
    // prefix-indexed form must find every pair the full N² kernel finds
    val vocab = Gen.choose(0, 11).map(i => s"w$i")
    val doc = Gen.choose(2, 20).flatMap(n => Gen.listOfN(n, vocab)).map(_.mkString(" "))
    val corpus = Gen.listOfN(12, doc)
    forAll(corpus, n = 4) { docsList =>
      val df = docsList.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
        .select($"doc_id", TextOps.shingles($"text", 2).as("sh"))
      for (t <- Seq(0.5, 0.8, 1.0)) {
        def pairs(d: org.apache.spark.sql.DataFrame) =
          d.select($"id_a", $"id_b", $"containment_ab", $"containment_ba")
            .as[(Long, Long, Double, Double)].collect().toSet
        val dense = pairs(graft.operators.DedupOps
          .containmentPairsDense(df, "doc_id", "sh", t))
        val prefix = pairs(graft.operators.DedupOps
          .containmentPairs(df, "doc_id", "sh", t))
        assert(prefix === dense, s"prefix != dense at t=$t on $docsList")
      }
    }
  }

  test("bottom-k containment sketch: exact when every set fits in k, " +
      "superset-biased never (estimates are genuine ratios)") {
    // the deployed approximate path's contract: with k ≥ max|set| the
    // sketch IS the set, so the estimator must reproduce the dense exact
    // kernel bit-for-bit (same pairs, same ratios); with tiny k it must
    // still emit only well-formed estimates m/min(k,|A|) in [0,1]
    val vocab = Gen.choose(0, 11).map(i => s"w$i")
    val doc = Gen.choose(2, 20).flatMap(n => Gen.listOfN(n, vocab)).map(_.mkString(" "))
    val corpus = Gen.listOfN(12, doc)
    forAll(corpus, n = 4) { docsList =>
      val df = docsList.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
        .select($"doc_id", TextOps.shingles($"text", 2).as("sh"))
      for (t <- Seq(0.5, 0.8)) {
        val exact = graft.operators.DedupOps
          .containmentPairsDense(df, "doc_id", "sh", t)
          .select($"id_a", $"id_b", $"containment_ab", $"containment_ba")
          .as[(Long, Long, Double, Double)].collect().toSet
        // k=64 ≥ any shingle set here (docs ≤ 20 tokens → ≤ 19 shingles)
        val sketch = graft.operators.DedupOps
          .containmentSketchPairs(df, "doc_id", "sh", t, 64)
          .select($"id_a", $"id_b", $"containment_ab_est", $"containment_ba_est")
          .as[(Long, Long, Double, Double)].collect().toSet
        assert(sketch === exact, s"k≥|set| sketch != exact at t=$t on $docsList")
        val tiny = graft.operators.DedupOps
          .containmentSketchPairs(df, "doc_id", "sh", t, 2)
          .select($"containment_ab_est", $"containment_ba_est")
          .as[(Double, Double)].collect()
        assert(tiny.forall { case (a, b) =>
          a >= 0.0 && a <= 1.0 && b >= 0.0 && b <= 1.0 })
      }
    }
  }

  test("OHLC aggregate form equals the window first/last formulation") {
    import org.apache.spark.sql.expressions.Window
    val e = graft.core.Tables(spark, TestSpark.sfDir).events
    val viaAgg = graft.gold.GoldOps
      .ohlcResample(e, "user_id", "ts", "event_id", "value",
        date_format($"ts", "yyyyMM"))
      .select($"user_id", $"bucket", round($"open", 6).as("open"),
        round($"close", 6).as("close"))
      .as[(Long, String, Double, Double)].collect().toSet
    val w = Window.partitionBy($"user_id", $"bucket")
      .orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val viaWindow = e.withColumn("bucket", date_format($"ts", "yyyyMM"))
      .withColumn("open", first($"value").over(w))
      .withColumn("close", last($"value").over(w))
      .groupBy($"user_id", $"bucket")
      .agg(round(max($"open"), 6).as("open"), round(max($"close"), 6).as("close"))
      .as[(Long, String, Double, Double)].collect().toSet
    assert(viaAgg === viaWindow && viaAgg.nonEmpty)
  }

  test("chunking is lossless and packing conserves tokens on random corpora") {
    val corpusGen = Gen.nonEmptyListOf(Gen.zip(
      Gen.choose(0L, 500L), Gen.choose(1, 40)))
    forAll(corpusGen, n = 5) { rows =>
      val docs = rows.distinctBy(_._1).map { case (id, n) =>
        (id, (0 until n).map(i => s"w${(id + i) % 13}").mkString(" "))
      }.toDF("doc_id", "text")
      val total = docs.select(sum(size(split($"text", " ")))).as[Long].head()
      // chunking at any (chunk, stride=chunk) partitions tokens exactly
      val chunked = graft.operators.PackingOps
        .chunkByTokens(docs, "doc_id", "text", 7, 7)
      assert(chunked.select(sum($"chunk_tokens")).as[Long].head() === total)
      // every doc's chunk ids are 0..k-1 dense (posexplode ordinality)
      val bad = chunked.groupBy($"doc_id")
        .agg(max($"chunk_id").as("mx"), count(lit(1)).as("k"))
        .filter($"mx" =!= $"k" - 1)
      assert(bad.isEmpty)
      // packing conserves every token and bins partition the id space
      val packed = graft.operators.PackingOps
        .packSequences(docs, "doc_id", "text", 11L, 4)
      assert(packed.select(sum($"n_tokens")).as[Long].head() === total)
      assert(packed.count() === docs.count())
    }
  }

  test("diffByKey: diff(a, a) is empty; diff(∅, b) is all-added") {
    val rowsGen = Gen.nonEmptyListOf(
      Gen.zip(Gen.choose(1L, 40L), Gen.alphaStr, Gen.choose(0.0, 9.0)))
    forAll(rowsGen, n = 5) { rows =>
      val a = rows.toDF("k", "s", "p").dropDuplicates("k")
      assert(RelationalOps.diffByKey(a, a, Seq("k"), Seq("s", "p")).isEmpty)
      val empty = a.filter(lit(false))
      val allAdded = RelationalOps.diffByKey(empty, a, Seq("k"), Seq("s", "p"))
      assert(allAdded.count() === a.count())
      assert(allAdded.filter($"change_type" =!= "added").isEmpty)
    }
  }

  test("bloomDeltaNew ≡ plain anti join on arbitrary overlapping key sets") {
    val setGen = Gen.zip(
      Gen.nonEmptyListOf(Gen.choose(0L, 300L)),
      Gen.nonEmptyListOf(Gen.choose(150L, 450L)))
    forAll(setGen, n = 5) { case (batchKeys, histKeys) =>
      val batch = batchKeys.toDF("id")
      val hist = histKeys.toDF("id")
      val got = graft.operators.DedupOps
        .bloomDeltaNew(batch, hist, "id", numBits = 256)
        .as[Long].collect().sorted.toSeq
      val want = batch.join(hist, Seq("id"), "left_anti")
        .as[Long].collect().sorted.toSeq
      assert(got === want)
    }
  }

  test("pageRank conserves unit mass on arbitrary graphs") {
    val edgeGen = Gen.nonEmptyListOf(
      Gen.zip(Gen.choose(0, 12), Gen.choose(0, 12), Gen.choose(1L, 5L)))
    forAll(edgeGen, n = 5) { edges =>
      val r = graft.operators.GraphOps
        .pageRank(edges.toDF("src", "dst", "w"), "src", "dst", "w", 3)
        .agg(sum($"rank")).as[Double].head()
      assert(math.abs(r - 1.0) < 1e-9)
    }
  }

  test("hash32 distributes: no value outside 32 bits, stable across evals") {
    forAll(Gen.nonEmptyListOf(Gen.alphaNumStr.suchThat(_.nonEmpty))) { tokens =>
      val h1 = tokens.toDF("t").select(TextOps.hash32($"t")).as[Long].collect()
      val h2 = tokens.toDF("t").select(TextOps.hash32($"t")).as[Long].collect()
      assert(h1.sameElements(h2))
      assert(h1.forall(h => h >= 0 && h < (1L << 32)))
    }
  }

  test("shingles kernel ≡ fold twin on adversarial strings: multi-space, " +
       "leading/trailing spaces, unicode, short docs, n = 1..8") {
    val strGen = Gen.frequency(
      5 -> Gen.nonEmptyListOf(Gen.oneOf("a", "bb", "ccc", "Ωµ", "d1", ""))
        .map(_.mkString(" ")),
      1 -> Gen.const(""),
      1 -> Gen.const(" "),
      1 -> Gen.const("  a  b "),
      1 -> Gen.const("one two three four five six seven eight nine"))
    forAll(Gen.zip(Gen.listOfN(8, strGen), Gen.choose(1, 8)), n = 8) {
      case (texts, nGram) =>
        val df = texts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("i", "t")
        val both = df.select($"i",
            TextOps.shingles($"t", nGram).as("kernel"),
            TextOps.shinglesHof($"t", nGram).as("hof"))
          .collect()
        both.foreach { r =>
          assert(r.getSeq[String](1) === r.getSeq[String](2),
            s"n=$nGram text=${texts(r.getInt(0))}")
        }
        // null text → null in both forms
        val nr = Seq((0, null: String)).toDF("i", "t")
          .select(TextOps.shingles($"t", nGram).isNull.as("k"),
            TextOps.shinglesHof($"t", nGram).isNull.as("h"))
          .head()
        assert(nr.getBoolean(0) && nr.getBoolean(1))
    }
  }

  test("classifier margin kernel ≡ HOF twin: n_feats and exact integer " +
       "z_milli match on adversarial strings") {
    val strGen = Gen.frequency(
      5 -> Gen.nonEmptyListOf(Gen.oneOf("a", "bb", "the", "of", "x1", ""))
        .map(_.mkString(" ")),
      1 -> Gen.const(""),
      1 -> Gen.const("single"),
      1 -> Gen.const("  two  spaced  "))
    forAll(Gen.listOfN(10, strGen), n = 6) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("i", "t")
      val both = df.select($"i",
          TextOps.classifierMargin($"t").as("k"),
          TextOps.classifierMarginHof($"t").as("h"))
        .select($"i", $"k.n_feats", $"k.z_milli", $"h.n_feats", $"h.z_milli")
        .collect()
      both.foreach { r =>
        assert(r.getInt(1) === r.getInt(3), s"n_feats for '${texts(r.getInt(0))}'")
        assert(r.getLong(2) === r.getLong(4), s"z_milli for '${texts(r.getInt(0))}'")
      }
    }
  }

  test("signature kernels ≡ superseded forms: simhash64 bands and minhash " +
       "sigs bit-match the explode+aggregate and HOF twins, including " +
       "empty-set sentinels and doc-drop semantics") {
    import graft.operators.DedupOps
    val docGen = for {
      nDocs <- Gen.choose(1, 12)
      docs <- Gen.listOfN(nDocs, Gen.frequency(
        4 -> Gen.nonEmptyListOf(Gen.oneOf("a", "bb", "ccc", "the", "of",
          "x1", "zz9", "tok")),
        1 -> Gen.const(List.empty[String])))
    } yield docs.zipWithIndex.map { case (toks, i) => (i.toLong, toks) }
    forAll(docGen, n = 6) { rows =>
      val df = rows.toDF("doc_id", "toks")
      // simhash64: kernel form == aggregate form (same ids, same bands)
      val kSim = DedupOps.simhashes64(df, "doc_id", $"toks")
        .as[(Long, Seq[Long])].collect().toMap
      val aSim = DedupOps.simhashes64Agg(df, "doc_id", $"toks")
        .as[(Long, Seq[Long])].collect().toMap
      assert(kSim === aSim)
      // minhash: kernel df form == aggregate df form
      val kMin = DedupOps.minhashSignatures(df, "doc_id", "toks", 16)
        .as[(Long, Seq[Long])].collect().toMap
      val aMin = DedupOps.minhashSignaturesAgg(df, "doc_id", "toks", 16)
        .as[(Long, Seq[Long])].collect().toMap
      assert(kMin === aMin)
      // minhash column form: kernel == HOF, including the empty-set
      // sentinel rows the df forms drop
      val kCol = df.select($"doc_id",
        DedupOps.minhashSignature($"toks", 16).as("sig"))
        .as[(Long, Seq[Long])].collect().toMap
      val hCol = df.select($"doc_id",
        DedupOps.minhashSignatureHof($"toks", 16).as("sig"))
        .as[(Long, Seq[Long])].collect().toMap
      assert(kCol === hCol)
    }
  }

  test("PQ kernels ≡ HOF twins: encode codes, ADC sums, and squared " +
       "distances bit-match on random vectors and codebooks") {
    import graft.operators.VectorOps
    // random m/sub/k geometry + random float vectors + random codebooks,
    // including exact-tie codewords (duplicated) so the first-min rule is
    // exercised, and near-identical values so 1-ulp drift would surface
    val geomGen = for {
      m <- Gen.choose(1, 4)
      sub <- Gen.choose(1, 4)
      k <- Gen.choose(1, 6)
      nVec <- Gen.choose(1, 12)
      cells <- Gen.listOfN(m * k * sub, Gen.choose(-8, 8).map(_ / 4.0))
      vecs <- Gen.listOfN(nVec * m * sub, Gen.choose(-16, 16).map(_ / 8.0f))
    } yield (m, sub, k, cells, vecs.grouped(m * sub).map(_.toSeq).toSeq)
    forAll(geomGen, n = 8) { case (m, sub, k, cells, vecs) =>
      val cbs: Seq[Seq[Seq[Double]]] = cells.grouped(sub).map(_.toSeq)
        .grouped(k).map(_.toSeq).toSeq
      // duplicate codeword 0 as codeword k-1 when k ≥ 2: a guaranteed
      // exact distance tie — both forms must pick the LOWEST index
      val cbsTied =
        if (k >= 2) cbs.map(book => book.updated(k - 1, book.head)) else cbs
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("id", "v")
      val both = df.select($"id",
          VectorOps.pqEncode($"v", cbsTied).as("kernel"),
          VectorOps.pqEncodeHof($"v", cbsTied).as("hof"))
        .collect()
      both.foreach { r =>
        assert(r.getSeq[Int](1) === r.getSeq[Int](2),
          s"encode mismatch for vec ${r.getLong(0)}")
      }
      // ADC sum kernel vs the aggregate/zip_with fold, on the codes the
      // kernel just produced and a random LUT
      val lut: Seq[Seq[Double]] =
        cells.grouped(k).map(_.map(_ + 0.125).toSeq).toSeq.take(m)
      val lutFull = if (lut.size == m) lut
        else Seq.fill(m)(Seq.tabulate(k)(_ * 0.25))
      val adc = df.select($"id",
          VectorOps.pqEncode($"v", cbsTied).as("codes"))
        .select($"id",
          graft.functions.AdcSumKernel($"codes", typedLit(lutFull)).as("kernel"),
          aggregate(zip_with($"codes", typedLit(lutFull),
            (c, l) => element_at(l, c + 1)), lit(0.0), (acc, x) => acc + x)
            .as("hof"))
        .collect()
      adc.foreach { r =>
        assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ===
          java.lang.Double.doubleToLongBits(r.getDouble(2)),
          s"adc mismatch for vec ${r.getLong(0)}")
      }
      // SqDist kernel vs the fold, vector vs itself shifted
      val sd = df.select(
          graft.functions.SqDist($"v".cast("array<double>"),
            reverse($"v").cast("array<double>")).as("kernel"),
          aggregate(zip_with($"v".cast("array<double>"),
            reverse($"v").cast("array<double>"),
            (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x)
            .as("hof"))
        .collect()
      sd.foreach { r =>
        assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
          java.lang.Double.doubleToLongBits(r.getDouble(1)))
      }
      // decode kernel vs the flatten/element_at HOF twin, and the fused
      // reconstruction vs zip_with(base, decode, +) — on the codes the
      // encode kernel just produced (r15 kernels)
      val dec = df.select($"id",
          VectorOps.pqEncode($"v", cbsTied).as("codes"),
          $"v".cast("array<double>").as("base"))
        .select($"id",
          VectorOps.pqDecode($"codes", cbsTied).as("kernel"),
          VectorOps.pqDecodeHof($"codes", cbsTied).as("hof"),
          VectorOps.pqReconstruct($"base", $"codes", cbsTied).as("rkernel"),
          zip_with($"base", VectorOps.pqDecodeHof($"codes", cbsTied),
            (a, b) => a + b).as("rhof"))
        .collect()
      dec.foreach { r =>
        assert(r.getSeq[Double](1).map(java.lang.Double.doubleToLongBits) ===
          r.getSeq[Double](2).map(java.lang.Double.doubleToLongBits),
          s"decode mismatch for vec ${r.getLong(0)}")
        assert(r.getSeq[Double](3).map(java.lang.Double.doubleToLongBits) ===
          r.getSeq[Double](4).map(java.lang.Double.doubleToLongBits),
          s"reconstruct mismatch for vec ${r.getLong(0)}")
      }
    }
  }
}
