package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Product-quantization math contract ([[VectorOps.pqTrainCodebooks]] /
  * pqEncode / pqDecode / pqAdcTopK). The registry query pins the same
  * invariants in-plan; here they are recomputed DRIVER-SIDE from first
  * principles so a simultaneous bug in encode and verify expressions
  * can't self-certify. */
class VectorPqSpec extends SparkSpec {
  import spark.implicits._

  private lazy val e = graft.core.Tables(spark, graft.TestSpark.sfDir)
    .embeddings
  private lazy val cbs = VectorOps.pqTrainCodebooks(e, "embedding", 4, 16)

  private def l2sq(a: Seq[Double], b: Seq[Double]): Double =
    a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum

  test("codebook shape is m x k x (D/m), bounded driver state") {
    assert(cbs.size === 4)
    assert(cbs.forall(_.size === 16))
    assert(cbs.forall(_.forall(_.size === 16))) // 64 dims / 4 subspaces
  }

  test("encode picks the argmin codeword per subspace (driver recompute)") {
    val rows = e.limit(20)
      .select($"vec_id", VectorOps.pqEncode($"embedding", cbs).as("codes"),
        VectorOps.toDouble($"embedding").as("v"))
      .as[(Long, Seq[Int], Seq[Double])].collect()
    assert(rows.nonEmpty)
    for ((_, codes, v) <- rows) {
      assert(codes.size === 4 && codes.forall(c => c >= 0 && c < 16))
      for (s <- 0 until 4) {
        val sub = v.slice(s * 16, s * 16 + 16)
        val dists = cbs(s).map(c => l2sq(sub, c))
        // same left-to-right double fold as the in-plan expression, so
        // the driver recompute is bit-identical: the chosen code must be
        // the FIRST index achieving the minimum (the tie contract)
        assert(codes(s) === dists.indexOf(dists.min),
          s"subspace $s: code ${codes(s)} d=${dists(codes(s))} min=${dists.min}")
      }
    }
  }

  test("decode concatenates the chosen codewords; ADC == ||q - decode||^2") {
    val enc = e.select($"vec_id",
      VectorOps.pqEncode($"embedding", cbs).as("codes"),
      VectorOps.pqDecode(VectorOps.pqEncode($"embedding", cbs), cbs).as("recon"))
    val got = enc.limit(10).as[(Long, Seq[Int], Seq[Double])].collect()
    for ((_, codes, recon) <- got) {
      val expected = (0 until 4).flatMap(s => cbs(s)(codes(s)))
      assert(recon === expected)
    }
    // ADC identity on the full top-k output of two query vectors
    val queries = e.filter($"vec_id" < 2)
    val adc = VectorOps.pqAdcTopK(queries, e, "vec_id", "embedding", cbs, 10)
      .as[(Long, Int, Long, Double)].collect()
    assert(adc.length === 20) // 2 queries x 10 ranks
    val reconById = e
      .select($"vec_id",
        VectorOps.pqDecode(VectorOps.pqEncode($"embedding", cbs), cbs).as("r"))
      .as[(Long, Seq[Double])].collect().toMap
    val qById = queries.select($"vec_id", VectorOps.toDouble($"embedding"))
      .as[(Long, Seq[Double])].collect().toMap
    for ((qid, _, nid, adc2) <- adc)
      assert(math.abs(adc2 - l2sq(qById(qid), reconById(nid))) <= 1e-9,
        s"ADC($qid,$nid)=$adc2 != direct ${l2sq(qById(qid), reconById(nid))}")
    // ranks are nondecreasing in distance with deterministic ordering
    adc.groupBy(_._1).foreach { case (_, rs) =>
      val byRank = rs.sortBy(_._2).map(_._4)
      assert(byRank === byRank.sorted)
    }
  }

  test("IVF-PQ: assignment is argmin L2 (driver recompute), ADC equals the " +
       "two-stage reconstruction distance, neighbors come from probed lists") {
    val cents = e.filter($"vec_id" < 8)
    val rcbs = VectorOps.pqTrainResidualCodebooks(
      e, cents, "vec_id", "embedding", "vec_id", "embedding", 4, 16)
    val centArr = cents.select($"vec_id", VectorOps.toDouble($"embedding"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1).map(_._2)
    // driver recompute of assignment + residual for a sample
    val assigned = VectorOps.assignWithResidual(e, cents, "vec_id",
        "embedding", "vec_id", "embedding")
      .limit(30).as[(Long, Long, Seq[Double])].collect()
    val vById = e.select($"vec_id", VectorOps.toDouble($"embedding"))
      .as[(Long, Seq[Double])].collect().toMap
    for ((id, cid, res) <- assigned) {
      val dists = centArr.map(c => l2sq(vById(id), c))
      assert(cid === dists.indexOf(dists.min), s"vec $id wrong list")
      val expect = vById(id).zip(centArr(cid.toInt)).map { case (a, b) => a - b }
      res.zip(expect).foreach { case (g, x) => assert(math.abs(g - x) <= 1e-12) }
    }
    // ADC distances equal ||q - (c + decode(codes))||^2 on every returned
    // pair, and every neighbor's list is within the query's probe set
    val nprobe = 3
    val adc = VectorOps.ivfPqTopK(e.filter($"vec_id" < 2), e, cents,
        "vec_id", "embedding", "vec_id", "embedding", rcbs, 5, nprobe)
      .as[(Long, Int, Long, Double)].collect()
    assert(adc.length === 10)
    val codesById = VectorOps.assignWithResidual(e, cents, "vec_id",
        "embedding", "vec_id", "embedding")
      .select($"vec_id", $"centroid_id",
        VectorOps.pqEncode($"residual", rcbs).as("codes"))
      .as[(Long, Long, Seq[Int])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    for ((qid, _, nid, adc2) <- adc) {
      val (cid, codes) = codesById(nid)
      val reconVec = centArr(cid.toInt).zip(
        (0 until 4).flatMap(s => rcbs(s)(codes(s)))).map { case (a, b) => a + b }
      assert(math.abs(adc2 - l2sq(vById(qid), reconVec)) <= 1e-9,
        s"IVF-PQ ADC($qid,$nid) != two-stage reconstruction distance")
      val probed = centArr.indices.sortBy(c => (l2sq(vById(qid), centArr(c)), c))
        .take(nprobe).toSet
      assert(probed.contains(cid.toInt), s"neighbor $nid outside probed lists")
    }
  }

  test("ADC never misranks reconstructions: searching the decoded corpus " +
       "reproduces exact distances") {
    // corpus whose vectors ARE reconstructions → encode is lossless on
    // them → ADC distance equals the true L2 distance, so the top-k
    // DISTANCES must match a driver-side brute force exactly
    val recon = e.filter($"vec_id" < 60)
      .select($"vec_id",
        VectorOps.pqDecode(VectorOps.pqEncode($"embedding", cbs), cbs)
          .cast("array<float>").as("embedding"))
    val queries = recon.filter($"vec_id" < 2)
    val adc = VectorOps.pqAdcTopK(queries, recon, "vec_id", "embedding", cbs, 5)
      .as[(Long, Int, Long, Double)].collect()
    val all = recon.select($"vec_id", VectorOps.toDouble($"embedding"))
      .as[(Long, Seq[Double])].collect().toMap
    // float32 storage round-trips the double codewords inexactly; the
    // re-encode of a reconstruction is still the same code (nearest
    // codeword to ~itself), so distances agree to float precision
    for (qid <- Seq(0L, 1L)) {
      val exact = all.keys.filter(_ != qid).map(n => l2sq(all(qid), all(n)))
        .toSeq.sorted.take(5)
      val got = adc.filter(_._1 == qid).sortBy(_._2).map(_._4)
      got.zip(exact).foreach { case (g, x) =>
        assert(math.abs(g - x) <= 1e-5, s"query $qid: ADC $g vs exact $x") }
    }
  }

  // m = 2 subspaces of k = 2 codewords of 2 dims
  private val tiny = Seq(Seq(Seq(1.0, 2.0), Seq(3.0, 4.0)), Seq(Seq(5.0, 6.0), Seq(7.0, 8.0)))
  private val kernels: Seq[(String, Column => Column)] = Seq(
    "PqDecodeKernel" -> (c => VectorOps.pqDecode(c, tiny)),
    "PqReconstructKernel" ->
      (c => VectorOps.pqReconstruct(array(Seq.fill(4)(lit(0.5)): _*), c, tiny)))

  /** A kernel over one row's `codes`, under whole-stage generated code or
    * the interpreted `nullSafeEval` path. The codes are computed from
    * `spark.range`, so neither constant folding nor a local relation
    * evaluates them at plan time. */
  private def decode(kernel: Column => Column, codes: Column,
                     codegen: Boolean): Seq[Double] = {
    val confs = Seq("spark.sql.codegen.wholeStage" -> codegen.toString,
      "spark.sql.codegen.factoryMode" -> (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN"))
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try spark.range(1).select(kernel(codes)).as[Seq[Double]].head()
    finally confs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  private def rejects(codes: Column, expected: String): Unit =
    for ((name, kernel) <- kernels; codegen <- Seq(true, false)) {
      val e = intercept[Exception](decode(kernel, codes, codegen))
      val cause = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case c: IllegalArgumentException => c.getMessage }
      assert(cause.exists(m => m.contains(name) && m.contains(expected)),
        s"$name, codegen=$codegen: $e")
    }

  test("PQ decode kernels: valid codes decode on both paths (control)") {
    val codes = array(($"id" + 1).cast("int"), $"id".cast("int"))
    for (codegen <- Seq(true, false)) {
      assert(decode(kernels(0)._2, codes, codegen) === Seq(3.0, 4.0, 5.0, 6.0))
      assert(decode(kernels(1)._2, codes, codegen) === Seq(3.5, 4.5, 5.5, 6.5))
    }
  }

  test("PQ decode kernels reject a code array of the wrong length") {
    rejects(array($"id".cast("int")), "expected 2 codes, got 1")
  }

  test("PQ decode kernels reject a null code") {
    rejects(array($"id".cast("int"), when($"id" > 0, 1).cast("int")), "code 1 is null")
  }

  test("PQ decode kernels reject a code outside 0 until k") {
    rejects(array($"id".cast("int"), ($"id" + 2).cast("int")), "code 1 is 2, outside 0..1")
    rejects(array(($"id" - 1).cast("int"), $"id".cast("int")), "code 0 is -1, outside 0..1")
  }
}
