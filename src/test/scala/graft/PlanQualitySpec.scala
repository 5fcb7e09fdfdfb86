package graft

import graft.core.Tables
import graft.operators.SkewOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession

/** Plan-quality assertions: the properties that keep the engine fast at
  * 100 TB are asserted on the PLAN, not just observed in bench numbers —
  * filter/column pushdown reaching the parquet scan, dims broadcast,
  * whole-stage codegen covering the hot path.
  */
class PlanQualitySpec extends SparkSpec {
  import spark.implicits._

  private def physicalPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter + projection push down to the parquet scan") {
    val t = Tables(spark, TestSpark.sfDir)
    val q = t.lineitem.filter($"l_quantity" > 30).select($"l_orderkey", $"l_quantity")
    val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters") && scan.contains("l_quantity"),
      s"expected quantity filter pushed to scan:\n$scan")
    assert(scan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"expected 2-column pruned read schema:\n$scan")
  }

  test("q5: all three dims join as broadcasts, no shuffle on dim side") {
    val q5 = SparkEntry.queries("q5_region_revenue")(spark, TestSpark.sfDir)
    val plan = physicalPlan(q5)
    assert(plan.split("BroadcastHashJoin").length - 1 >= 3,
      s"expected 3 broadcast hash joins:\n$plan")
    assert(!plan.contains("SortMergeJoin"), "dims must not sort-merge join")
  }

  private def codegenString(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))

  test("q1 aggregation is partial (map-side combine) + codegen'd") {
    val q1 = SparkEntry.queries("q1_pricing_summary")(spark, TestSpark.sfDir)
    val plan = physicalPlan(q1)
    // two HashAggregates (partial + final) around the exchange
    assert(plan.split("HashAggregate").length - 1 >= 2,
      s"expected partial+final hash aggregate:\n$plan")
    assert(codegenString(q1).contains("WholeStageCodegen subtrees"),
      "agg path must be codegen'd")
  }

  test("native kernels run inside whole-stage codegen (no fallback)") {
    // AQE reports 0 codegen subtrees before execution — inspect the
    // non-adaptive plan for this static assertion
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val gen = try {
      val e = Tables(spark, TestSpark.sfDir).embeddings
        .select($"vec_id", graft.operators.VectorOps.toDouble($"embedding").as("v"))
      val q = e.as("a").join(e.as("b"), $"a.vec_id" < $"b.vec_id")
        .select(graft.functions.DotProduct($"a.v", $"b.v").as("d"))
      codegenString(q)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    // the kernel's merge loop must appear in GENERATED java, not run via
    // interpreted eval: our doGenCode emits a `.getDouble(` loop
    assert(gen.contains("WholeStageCodegen"), s"no codegen stage:\n${gen.take(500)}")
    assert(gen.contains("getDouble"), "DotProduct loop not in generated code")
  }

  test("clean-corpus pipeline plans with no O(N²) join at scale (cost-based " +
       "near-dup stage, PPJoin branch pinned via denseCutoff=0)") {
    // the near-dup stage is the COST-BASED generator (r14): below the
    // ~10k-doc crossover it deliberately plans the dense kernel
    // (BroadcastNestedLoopJoin — cheapest exact form there, same doctrine
    // as dedup_containment above); this spec pins the SCALE branch, which
    // is what a 100 TB corpus plans
    spark.conf.set("spark.graft.dedup.denseCutoff", "0")
    val plan = try physicalPlan(
      SparkEntry.queries("pipeline_clean_corpus")(spark, TestSpark.sfDir))
    finally spark.conf.unset("spark.graft.dedup.denseCutoff")
    assert(!plan.contains("NestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"near-dup stage must be an equi-join candidate generator, not all-pairs:\n$plan")
  }

  test("rp_signature LSH kernel runs inside whole-stage codegen (no fallback)") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val gen = try {
      val e = Tables(spark, TestSpark.sfDir).embeddings
        .select(graft.operators.VectorOps.toDouble($"embedding").as("v"))
      codegenString(e.select(graft.functions.RpSignature($"v", 16).as("sig")))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(gen.contains("WholeStageCodegen"), s"no codegen stage:\n${gen.take(500)}")
    // the plane-weight arithmetic must be in GENERATED java (not interpreted)
    assert(gen.contains("% 13"), "RpSignature loop not in generated code")
  }

  test("decontamination joins the broadcast benchmark side, no pair scan") {
    val q = SparkEntry.queries("text_decontaminate")(spark, TestSpark.sfDir)
    val plan = physicalPlan(q)
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark posting must broadcast:\n$plan")
    assert(!plan.contains("NestedLoopJoin") && !plan.contains("CartesianProduct"))
  }

  test("candidate-generation dedup queries never plan an all-pairs join") {
    // (sim_semdedup_pairs is excluded: its centroid ASSIGNMENT is a
    // deliberate broadcast cross product over 8 centroids; the pair join
    // itself is the blocked equi-join, spec-asserted by block invariance)
    for (name <- Seq("dedup_ppjoin_jaccard", "dedup_inverted_index_pairs",
        "dedup_minhash_lsh", "sim_lsh_rp_auto", "dedup_substring_spans",
        "multimodal_phash_neardup", "dedup_simhash")) {
      val plan = physicalPlan(SparkEntry.queries(name)(spark, TestSpark.sfDir))
      assert(!plan.contains("NestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"$name must generate candidates via equi-join:\n${plan.take(800)}")
    }
    // containment's SCALE branch (the deployed form above the dense
    // crossover, where dedup_containment itself plans the dense kernel)
    val docs = graft.core.Tables(spark, TestSpark.sfDir).documents
      .select(org.apache.spark.sql.functions.col("doc_id"),
        graft.operators.TextOps.shingles(
          org.apache.spark.sql.functions.col("text"), 2).as("sh"))
    val prefixPlan = physicalPlan(
      graft.operators.DedupOps.containmentPairs(docs, "doc_id", "sh", 0.8))
    assert(!prefixPlan.contains("NestedLoopJoin") &&
      !prefixPlan.contains("CartesianProduct"),
      s"containment prefix path must be equi-join only:\n${prefixPlan.take(800)}")
  }

  test("TPC-H q4/q20/q21 decorrelate: no per-row subquery loops, no " +
      "cartesian, nation dim broadcasts") {
    for (name <- Seq("q4_order_priority_exists",
        "q20_excess_suppliers_nested_in",
        "q21_waiting_suppliers_double_exists")) {
      val plan = physicalPlan(SparkEntry.queries(name)(spark, TestSpark.sfDir))
      // Catalyst must rewrite every EXISTS/IN/scalar subquery into a
      // join on the correlation key — a surviving nested-loop or
      // cartesian means per-row re-execution, quadratic at scale
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a cartesian:\n${plan.take(800)}")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name plans a nested loop:\n${plan.take(800)}")
    }
    val q20Plan = physicalPlan(
      SparkEntry.queries("q20_excess_suppliers_nested_in")(spark, TestSpark.sfDir))
    assert(q20Plan.contains("BroadcastHashJoin"),
      s"q20's nation/part dim probes must broadcast:\n${q20Plan.take(800)}")
  }

  test("TPC-H q13/q15/q18/q22: outer join survives, IN/NOT-EXISTS/scalar " +
      "subqueries become joins, no cartesian") {
    for (name <- Seq("q13_customer_order_distribution",
        "q15_top_supplier_revenue_view", "q18_large_volume_customers",
        "q22_dormant_customers_antijoin")) {
      val plan = physicalPlan(SparkEntry.queries(name)(spark, TestSpark.sfDir))
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a cartesian:\n${plan.take(800)}")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name plans a nested loop:\n${plan.take(800)}")
    }
    // q13: the ON-clause filter must NOT turn the outer join inner — the
    // zero-order customers bucket is the point of the query
    val q13Plan = physicalPlan(SparkEntry.queries(
      "q13_customer_order_distribution")(spark, TestSpark.sfDir))
    assert(q13Plan.contains("LeftOuter"),
      s"q13's left outer join must survive optimization:\n${q13Plan.take(800)}")
    // q18: the IN (GROUP BY ... HAVING) subquery decorrelates to an
    // aggregate + semi join on l_orderkey, not a per-row re-aggregation
    val q18Plan = physicalPlan(SparkEntry.queries(
      "q18_large_volume_customers")(spark, TestSpark.sfDir))
    assert(q18Plan.contains("LeftSemi"),
      s"q18's IN subquery must plan as a semi join:\n${q18Plan.take(800)}")
    // q22: NOT EXISTS → anti join
    val q22Plan = physicalPlan(SparkEntry.queries(
      "q22_dormant_customers_antijoin")(spark, TestSpark.sfDir))
    assert(q22Plan.contains("LeftAnti"),
      s"q22's NOT EXISTS must plan as an anti join:\n${q22Plan.take(800)}")
  }

  test("TPC-H completion octet (q2/q9/q10/q11/q12/q14/q16/q19): no " +
      "cartesian anywhere; q19's disjunction extracts the shared equi-key " +
      "and pushes per-side OR branches into both scans") {
    for (name <- Seq("q2_min_cost_supplier",
        "q9_product_profit_by_nation_year", "q10_returned_item_customers",
        "q11_important_stock_having_scalar", "q12_late_lines_by_priority",
        "q14_promo_revenue_share", "q16_parts_supplier_not_in",
        "q19_disjunctive_brand_revenue")) {
      val plan = physicalPlan(SparkEntry.queries(name)(spark, TestSpark.sfDir))
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a cartesian:\n${plan.take(800)}")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name plans a nested loop:\n${plan.take(800)}")
    }
    // q19 is the disjunctive-pushdown stress case: the three OR-of-AND
    // branches share p_partkey = l_partkey, so Catalyst must plan ONE
    // hash join on that key (not a nested loop over the disjunction) and
    // extract each side's OR residue into the parquet scans — at 100 TB
    // the lineitem scan reading only the quantity-banded rows is the
    // difference between a table scan and a pruned one
    val q19Plan = physicalPlan(SparkEntry.queries(
      "q19_disjunctive_brand_revenue")(spark, TestSpark.sfDir))
    assert(q19Plan.contains("BroadcastHashJoin") ||
        q19Plan.contains("SortMergeJoin"),
      s"q19 must plan an equi hash join on partkey:\n${q19Plan.take(800)}")
    assert("PushedFilters: \\[[^\\]]*Or\\(".r.findAllIn(q19Plan).size >= 2,
      s"q19's OR branches must push into BOTH scans:\n${q19Plan.take(1500)}")
    // q16's NOT IN (nullable-free key) must become an anti join, and the
    // count(DISTINCT l_suppkey) a two-phase distinct aggregate
    val q16Plan = physicalPlan(SparkEntry.queries(
      "q16_parts_supplier_not_in")(spark, TestSpark.sfDir))
    assert(q16Plan.contains("LeftAnti"),
      s"q16's NOT IN must plan as an anti join:\n${q16Plan.take(800)}")
    // q11's HAVING scalar subquery must decorrelate (run once, broadcast
    // as a literal into the filter), not re-aggregate per group
    val q11Plan = physicalPlan(SparkEntry.queries(
      "q11_important_stock_having_scalar")(spark, TestSpark.sfDir))
    assert(q11Plan.contains("Subquery") || q11Plan.contains("scalar-subquery"),
      s"q11's total must be a one-shot scalar subquery:\n${q11Plan.take(800)}")
  }

  test("round-6 operators keep their scale posture: keep-best is a hash " +
      "aggregate, classifier is scan-local, IVF-PQ broadcasts probes only") {
    // best-copy retention: winner pick must be max(struct) hash
    // aggregation — a window form would sort-shuffle every doc per rep
    val kb = physicalPlan(SparkEntry.queries(
      "dedup_keep_best_quality")(spark, TestSpark.sfDir))
    assert(!kb.contains("Window"),
      s"keep-best winner must not plan a window:\n${kb.take(800)}")
    // classifier gate: one scan + one exchange for the final sort — no
    // join, no mid-plan aggregate exchange (the margin is per-row)
    val cls = physicalPlan(SparkEntry.queries(
      "text_quality_classifier")(spark, TestSpark.sfDir))
    assert(!cls.contains("Join"),
      s"classifier must be join-free (scan-local):\n${cls.take(800)}")
    // IVF-PQ: the probe/LUT table broadcasts; the corpus must reach the
    // search join through a non-broadcast (streamed) side
    val ivfpq = physicalPlan(SparkEntry.queries(
      "sim_ivfpq_topk")(spark, TestSpark.sfDir))
    assert(ivfpq.contains("BroadcastHashJoin"),
      s"IVF-PQ search join must broadcast the probe side:\n${ivfpq.take(800)}")
    assert(!ivfpq.contains("CartesianProduct"),
      s"IVF-PQ must never plan a cartesian:\n${ivfpq.take(800)}")
    // curated-corpus capstone: the composed plan inherits the no-O(N²)
    // guarantee of its pair generator
    val cur = physicalPlan(SparkEntry.queries(
      "pipeline_curated_corpus")(spark, TestSpark.sfDir))
    assert(!cur.contains("CartesianProduct") &&
        !cur.contains("BroadcastNestedLoopJoin"),
      s"curated pipeline must stay equi-join only:\n${cur.take(800)}")
  }

  test("IVF top-k search broadcasts the probe table, never the corpus") {
    val q = SparkEntry.queries("sim_ivf_topk")(spark, TestSpark.sfDir)
    val plan = physicalPlan(q)
    // centroid ranking is a deliberate broadcast cross product over the 8
    // fixture centroids; the LIST SEARCH itself must be a broadcast hash
    // equi-join on the probed list id — corpus-side shuffle only
    assert(plan.contains("BroadcastHashJoin"),
      s"list search must broadcast the (query × nprobe) probe table:\n${plan.take(800)}")
    assert(!plan.contains("SortMergeJoin"),
      "nothing in IVF search is big enough to sort-merge join")
  }

  test("centroid assignment argmax is a partial aggregate, not a window") {
    val q = SparkEntry.queries("sim_ivf_assign")(spark, TestSpark.sfDir)
    val plan = physicalPlan(q)
    // max_by collapses N·k scored rows to N map-side BEFORE the exchange;
    // a row_number window would sort-shuffle all N·k rows
    assert(!plan.contains("Window"),
      s"argmax must not be a window:\n${plan.take(800)}")
    assert(plan.contains("partial_max_by"),
      s"max_by must partial-aggregate map-side:\n${plan.take(800)}")
  }

  test("domain cap plans as a bounded-heap partial aggregate, not a window") {
    val q = SparkEntry.queries("mix_domain_cap")(spark, TestSpark.sfDir)
    val plan = physicalPlan(q)
    // the TopKAggregator must partial-aggregate map-side (≤k pairs per
    // partition cross the wire); a row_number window would sort-shuffle
    // every row of every domain
    assert(!plan.contains("Window"),
      s"cap must not be a window:\n${plan.take(800)}")
    assert(plan.split("ObjectHashAggregate").length - 1 >= 2,
      s"expected partial+final ObjectHashAggregate pair:\n${plan.take(800)}")
  }

  test("per-group top-k deploys as a bounded-heap partial aggregate, not a window") {
    val q = SparkEntry.queries("window_topk_per_group")(spark, TestSpark.sfDir)
    val plan = physicalPlan(q)
    // the TopKAggregator reduces each partition to ≤k pairs per segment
    // BEFORE the exchange; the row_number form (kept as
    // window_topk_window_form) shuffles every customer row onto #segment
    // keys — parallelism capped at #groups, full sort per group
    assert(!plan.contains("Window"),
      s"deployed top-k must not be a window:\n${plan.take(800)}")
    assert(plan.split("ObjectHashAggregate").length - 1 >= 2,
      s"expected partial+final ObjectHashAggregate pair:\n${plan.take(800)}")
  }

  test("bloom delta: scan-local getbit probe, single anti join on candidates") {
    val q = SparkEntry.queries("dedup_bloom_delta")(spark, TestSpark.sfDir)
    val plan = physicalPlan(q)
    // the membership probe must be a pure column expression over the
    // broadcast bit array (no UDF, no join for the miss path)
    assert(plan.contains("getbit"),
      s"expected getbit probe expressions in the plan:\n${plan.take(800)}")
    val antiJoins = "LeftAnti".r.findAllMatchIn(plan).length
    assert(antiJoins === 1,
      s"exactly one exact anti-join (on bloom hits only), got $antiJoins")
  }

  test("minhash LSH candidate join keys include the triangle-block columns") {
    val q = SparkEntry.queries("dedup_minhash_lsh")(spark, TestSpark.sfDir)
    val plan = physicalPlan(q)
    // the skew salt only shards a hot bucket if the grid coordinates are
    // part of the join KEY (band, bucket, block-lo, block-hi)
    val joinLine = plan.linesIterator
      .find(l => l.contains("Join") && l.contains("bucket")).getOrElse("")
    assert(joinLine.contains("blk") && joinLine.contains("bi") &&
      joinLine.contains("bj"),
      s"candidate join must be keyed on the block grid:\n$joinLine")
  }

  test("fx-adjusted returns: dims broadcast, close argmax partial-aggregates") {
    val q = SparkEntry.queries("gold_fx_adjusted_returns")(spark, TestSpark.sfDir)
    val plan = physicalPlan(q)
    // calendar working days + fx rates are tiny generated dims — both must
    // broadcast; the big price side must never sort-merge against them
    assert(plan.split("BroadcastHashJoin").length - 1 >= 2,
      s"calendar + fx joins must broadcast:\n${plan.take(1200)}")
    assert(!plan.contains("SortMergeJoin"),
      "price×dim joins must not sort-merge")
    // daily close = max_by hash aggregate (map-side partial), not a window
    assert(plan.contains("partial_max_by"),
      s"daily close must partial-aggregate map-side:\n${plan.take(1200)}")
  }

  test("funnel: zero joins, one hash exchange (layered windows on user)") {
    val q = SparkEntry.queries("events_funnel_steps")(spark, TestSpark.sfDir)
    val plan = physicalPlan(q)
    // the layered-window form never joins and shuffles the events once,
    // on user_id — the windows, per-user collapse, and global count all
    // reuse that one exchange (remaining exchanges are the single-row
    // global agg and the 3-row final sort)
    assert(!plan.contains("Join"), s"funnel must not join:\n${plan.take(1200)}")
    assert(plan.split("Exchange hashpartitioning").length - 1 === 1,
      s"events must shuffle exactly once:\n${plan.take(1200)}")
  }

  test("line dedup plans with no pair join (window + reassembly agg only)") {
    val q = SparkEntry.queries("dedup_lines")(spark, TestSpark.sfDir)
    val plan = physicalPlan(q)
    assert(!plan.contains("Join"),
      s"line dedup must not join at all:\n${plan.take(800)}")
    assert(plan.contains("Window") && plan.contains("ObjectHashAggregate"),
      s"expected keep-first window + collect_list reassembly:\n${plan.take(800)}")
  }

  test("scd2 history: one shuffle on the key, second window reuses the sort") {
    val q = SparkEntry.queries("events_scd2_history")(spark, TestSpark.sfDir)
    val plan = physicalPlan(q)
    // exactly one hash exchange on user_id feeds both window passes (the
    // final orderBy adds a range exchange; that's the output sort, not a
    // second per-key shuffle)
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashExchanges === 1,
      s"scd2 must shuffle once on the key, saw $hashExchanges:\n${plan.take(800)}")
  }

  test("OHLC resample plans as partial+final aggregate, no window sort") {
    val q = SparkEntry.queries("gold_ohlc_monthly")(spark, TestSpark.sfDir)
    val plan = physicalPlan(q)
    // struct-ordered min_by/max_by plans as SortAggregate — the property
    // that matters is the map-side partial before the exchange
    assert(plan.contains("partial_min_by"),
      s"min_by/max_by must aggregate map-side first:\n$plan")
    assert(!plan.contains("Window"), "bars must not be computed via windows")
  }

  test("semi/anti joins plan as broadcast variants on small probes") {
    val f5 = SparkEntry.queries("f5_anti_join_missing")(spark, TestSpark.sfDir)
    assert(physicalPlan(f5).contains("BroadcastHashJoin") ||
      physicalPlan(f5).contains("BroadcastNestedLoopJoin"))
  }

  test("partitioned layout gives partition pruning (ymd filter touches one dir)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-prune").toString
    val t = Tables(spark, TestSpark.sfDir)
    // write orders partitioned by order date (the engine's bronze layout)
    t.orders.withColumn("ymd", date_format($"o_orderdate", "yyyy-MM-dd"))
      .write.partitionBy("ymd").mode("overwrite").parquet(dir)
    val q = spark.read.parquet(dir).filter($"ymd" === "1995-01-01")
    val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("ymd"),
      s"expected ymd partition filter:\n$scan")
    // the data filter list must NOT contain the ymd predicate — it is
    // resolved at planning from the directory layout, not per row
    assert(!scan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1").isEmpty)
  }

  test("dim filter dynamically prunes fact partitions (DPP)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dpp").toString
    val t = Tables(spark, TestSpark.sfDir)
    // fact partitioned by ship month; the selective predicate lives on the
    // DIM side, so static pruning can't fire — the scan must instead pick
    // up a dynamicpruning expression fed by the dim's broadcast
    t.lineitem.withColumn("ym", date_format($"l_shipdate", "yyyy-MM"))
      .write.partitionBy("ym").mode("overwrite").parquet(dir)
    val dim = t.orders
      .select(date_format($"o_orderdate", "yyyy-MM").as("ym"))
      .distinct().filter($"ym" >= "1998-06")
    val q = spark.read.parquet(dir).join(dim, "ym").groupBy($"ym").count()
    q.collect() // finalize AQE so the inserted pruning subquery is visible
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected a dynamicpruningexpression in the fact scan's partition filters:\n$plan")
  }

  test("bucketed tables join without a shuffle (co-located join)") {
    val t = Tables(spark, TestSpark.sfDir)
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    t.orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("b_orders")
    t.lineitem.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("b_lineitem")
    // disable auto-broadcast: tiny test tables would otherwise BHJ and
    // hide the property under test (bucket co-location)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val plan = try {
      val joined = spark.table("b_lineitem")
        .join(spark.table("b_orders"), $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderstatus").count()
      joined.collect() // finalize AQE
      joined.queryExecution.executedPlan.toString
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    // the join itself must not introduce an Exchange on either side:
    // bucket layout already co-locates the keys
    val joinSection = plan.split("SortMergeJoin|ShuffledHashJoin").last
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
      s"expected a shuffle-family join over bucketed tables:\n$plan")
    assert(!joinSection.contains("Exchange hashpartitioning(l_orderkey") &&
      !joinSection.contains("Exchange hashpartitioning(o_orderkey"),
      s"bucketed join must not re-shuffle its keys:\n$plan")
  }

  test("AQE coalesces post-shuffle partitions (runtime re-plan at small SF)") {
    val t = Tables(spark, TestSpark.sfDir)
    val df = t.lineitem.groupBy($"l_orderkey").agg(sum($"l_quantity"))
    df.collect() // finalize the adaptive plan on THIS queryExecution
    val plan = df.queryExecution.executedPlan.toString
    // the static 4-partition shuffle must be read back as fewer coalesced
    // partitions — the knob that keeps task counts sane when the same
    // query runs at sf0.001 and at 100 TB
    assert(plan.contains("AQEShuffleRead") && plan.contains("coalesced"),
      s"expected AQE coalesced shuffle read:\n${plan.take(1200)}")
  }

  test("runtime bloom-filter reduction injects on a selective shuffle join") {
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set(keys(0), "true")
      conf.set(keys(1), "0")   // default 10GB — lower so the test SF qualifies
      conf.set(keys(2), "-1")  // force a shuffle join; bloom targets those
      val t = Tables(spark, TestSpark.sfDir)
      val dim = t.orders.filter($"o_orderpriority" === "1-URGENT")
      val q = t.lineitem.join(dim, $"l_orderkey" === $"o_orderkey")
        .groupBy($"l_returnflag").agg(count(lit(1)).as("n"))
      val optimized = q.queryExecution.optimizedPlan.toString
      // Catalyst's InjectRuntimeFilter should gate the fact scan with a
      // might_contain(bloom of the filtered dim keys) — the engine's own
      // version of the BloomAggregator prefilter, driven by the optimizer
      assert(optimized.contains("might_contain"),
        s"expected an injected bloom runtime filter:\n${optimized.take(1200)}")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("semantic decontamination broadcasts the benchmark, max partial-aggregates") {
    val q = SparkEntry.queries("sim_semantic_decontaminate")(spark, TestSpark.sfDir)
    val plan = physicalPlan(q)
    assert(plan.contains("BroadcastExchange"),
      s"benchmark side must broadcast:\n${plan.take(800)}")
    assert(!plan.contains("SortMergeJoin"),
      "corpus must never shuffle for the benchmark join")
    assert(plan.contains("partial_max"),
      s"per-id max must partial-aggregate map-side:\n${plan.take(800)}")
  }

  test("MAD outliers deployed path sketches — no exact-percentile group buffer") {
    val q = SparkEntry.queries("stats_mad_outliers")(spark, TestSpark.sfDir)
    val plan = physicalPlan(q)
    // exact `percentile` is a TypedImperativeAggregate buffering every
    // group value — the OOM shape at 100 TB. The deployed plan must carry
    // only the mergeable approx_percentile sketch (the exact form lives in
    // stats_mad_exact, oracle-checked at oracle scale only)
    assert(plan.contains("approx_percentile"),
      s"median/MAD must come from the rank sketch:\n${plan.take(800)}")
    assert("(?<!approx_)percentile\\(".r.findFirstIn(plan).isEmpty,
      s"no exact percentile buffer may plan on the deployed path:\n${plan.take(800)}")
  }

  test("tokenizer encode is join-free (vocab compiled into the scan)") {
    val q = SparkEntry.queries("text_encode_ids")(spark, TestSpark.sfDir)
    val plan = physicalPlan(q)
    assert(!plan.contains("Join"),
      s"encode must be scan-local, no corpus join:\n${plan.take(800)}")
  }

  test("nested struct access prunes to the leaf in the parquet ReadSchema") {
    val dir = java.nio.file.Files.createTempDirectory("graft-nested").toString
    graft.operators.MultimodalOps.fakeMediaFromDocuments(
      Tables(spark, TestSpark.sfDir).documents)
      .write.mode("overwrite").parquet(dir)
    val q = spark.read.parquet(dir).select($"doc_id", $"media.meta.mime")
    val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("mime") && !scan.contains("payload"),
      s"payload must be pruned when only meta.mime is read:\n$scan")
  }

  test("salted aggregation matches plain aggregation (skew path is exact)") {
    val t = Tables(spark, TestSpark.sfDir)
    val plain = t.lineitem.groupBy($"l_returnflag")
      .agg(round(sum($"l_quantity"), 4).as("s"), count(lit(1)).as("n"))
      .as[(String, Double, Long)].collect().map(t3 => t3._1 -> ((t3._2, t3._3))).toMap
    val salted = SkewOps.saltedSum(t.lineitem, Seq("l_returnflag"), "l_quantity", 8)
      .select($"l_returnflag", round($"sum_l_quantity", 4), $"n")
      .as[(String, Double, Long)].collect().map(t3 => t3._1 -> ((t3._2, t3._3))).toMap
    assert(plain === salted)
  }

  test("salted join matches plain join") {
    val t = Tables(spark, TestSpark.sfDir)
    val plain = t.orders.join(t.customer, $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment").count()
      .as[(String, Long)].collect().toMap
    val salted = SkewOps.saltedJoin(
      t.orders.withColumnRenamed("o_custkey", "k"),
      t.customer.withColumnRenamed("c_custkey", "k"), "k", 4)
      .groupBy($"c_mktsegment").count()
      .as[(String, Long)].collect().toMap
    assert(plain === salted)
  }

  test("chooseJoinPlan: measured skew selects salted, uniform keeps plain, " +
       "results identical") {
    // skewed fixture: one hot key holds 5000 rows, 200 cold keys ~10 each
    // → skewRatio max/p50 = 500; uniform fixture: every key 10 rows → 1.0
    val hot = (1 to 5000).map(i => (0L, i))
    val cold = for (k <- 1 to 200; i <- 1 to 10) yield (k.toLong, i)
    val skewed = (hot ++ cold).toDF("k", "v")
    val uniform = cold.toDF("k", "v")
    val dim = (0 to 200).map(k => (k.toLong, s"d$k")).toDF("k", "name")

    val pSkew = SkewOps.profileKey(skewed, "k")
    assert(pSkew.skewRatio >= 100.0, s"fixture skew ratio ${pSkew.skewRatio}")
    val pUni = SkewOps.profileKey(uniform, "k")
    assert(pUni.skewRatio <= 2.0, s"uniform ratio ${pUni.skewRatio}")

    val (chosenSkew, planSkew) = SkewOps.chooseJoinPlan(skewed, dim, "k", pSkew)
    val (chosenUni, planUni) = SkewOps.chooseJoinPlan(uniform, dim, "k", pUni)
    assert(chosenSkew === "salted")
    assert(chosenUni === "plain")
    // both chosen plans reproduce the plain join exactly
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select($"k", $"v", $"name").as[(Long, Int, String)].collect()
        .sorted.toSeq
    assert(canon(planSkew) === canon(skewed.join(dim, Seq("k"))))
    assert(canon(planUni) === canon(uniform.join(dim, Seq("k"))))
  }

  test("sparse retrieval: query side broadcasts, top-k is a bounded heap, no pair scan") {
    val q = SparkEntry.queries("sim_sparse_tfidf_topk")(spark, TestSpark.sfDir)
    val plan = physicalPlan(q)
    // the bounded query side must broadcast into the postings join — the
    // corpus postings table must never shuffle against itself
    assert(plan.contains("BroadcastHashJoin"),
      s"query postings must broadcast:\n${plan.take(800)}")
    assert(!plan.contains("NestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"candidates must come from the token equi-join:\n${plan.take(800)}")
    // final top-k is the bounded-heap aggregator, not a window sort over
    // every scored candidate
    assert(!plan.contains("Window"),
      s"top-k must not be a window:\n${plan.take(800)}")
    assert(plan.split("ObjectHashAggregate").length - 1 >= 2,
      s"expected partial+final bounded-heap aggregate:\n${plan.take(800)}")
  }

  test("label propagation argmax partial-aggregates map-side (no per-round window)") {
    val q = SparkEntry.queries("graph_label_propagation")(spark, TestSpark.sfDir)
    val plan = physicalPlan(q)
    // the per-round most-frequent-label argmax rides a (-count, label)
    // struct min — mergeable, map-side combined; a row_number window
    // would sort-shuffle every (node, label) row every round
    assert(plan.contains("partial_min"),
      s"argmax must be a partial min aggregate:\n${plan.take(800)}")
    assert(!plan.contains("Window"),
      s"per-round argmax must not be a window:\n${plan.take(800)}")
  }

  test("SQL surface: native functions registered via SparkSessionExtensions") {
    val base = spark // ensure shared context exists first
    // getOrCreate returns the existing default session (ignoring new
    // config), so clear it to force a fresh session — on the SAME context
    // — with the extensions applied, then restore.
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // withExtensions, not the spark.sql.extensions conf: that conf is
      // STATIC (read from the SparkContext at first-session creation) and
      // cannot apply to a context that already exists
      val s2 = SparkSession.builder()
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      val r = s2.sql(
        """SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
          |       sorted_long_overlap_count(array(1L,2L,3L), array(2L,3L,9L)) AS c,
          |       sorted_overlap_count(array('a','b'), array('b','c')) AS sc,
          |       rp_signature(array(1.0d, -2.0d, 0.5d), 16) AS sig,
          |       string_set_count(array('the','fox','a'), array('the','a','of')) AS ssc
          |""".stripMargin).head()
      assert(r.getDouble(0) === 11.0)
      assert(r.getInt(1) === 2)
      assert(r.getInt(2) === 1)
      assert(r.getLong(3) >= 0L && r.getLong(3) < (1L << 16))
      assert(r.getInt(4) === 2)
      // aggregate registration: sum128 over values crossing 2^63
      val agg = s2.sql(
        s"""SELECT CAST(sum128(x) AS STRING) AS s
           |FROM VALUES (${Long.MaxValue}L), (${Long.MaxValue}L), (5L) t(x)
           |""".stripMargin).head()
      assert(agg.getString(0) ===
        (BigInt(Long.MaxValue) * 2 + 5).toString)
      // second/cross moments: per-row square past 2^63 stays exact
      val agg2 = s2.sql(
        s"""SELECT CAST(sumsq128(x) AS STRING) AS sq,
           |       CAST(sumprod128(x, y) AS STRING) AS sp
           |FROM VALUES (${Long.MaxValue}L, 3L), (-4L, ${Long.MinValue}L)
           |  t(x, y)
           |""".stripMargin).head()
      assert(agg2.getString(0) ===
        (BigInt(Long.MaxValue).pow(2) + 16).toString)
      assert(agg2.getString(1) ===
        (BigInt(Long.MaxValue) * 3 + BigInt(-4) * BigInt(Long.MinValue)).toString)
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  // --- r14 watch-list claw-back plan pins --------------------------------
  // The adopted rewrites (OUTLIER_AB*.json) are shape properties of the
  // physical plan: per-row compute ABOVE the range sort (the sampling pass
  // re-executes everything below it), and a repartition fence below a sort
  // whose child stage has no exchange of its own. The plan string prints
  // root-first, so "above" = smaller string index.

  test("f7: interval formatters sit above the sort (sort-first projection)") {
    val q = SparkEntry.queries("f7_interval_formats")(spark, TestSpark.sfDir)
    val plan = physicalPlan(q)
    val fmt = plan.indexOf("AS fmt_daily")
    val sort = plan.indexOf("Sort [")
    assert(fmt >= 0 && sort >= 0, s"expected formatter and sort nodes:\n$plan")
    assert(fmt < sort,
      s"formatters must project above the sort, not below it (sampling " +
        s"would run them twice):\n$plan")
  }

  test("q3: date_format applies to the top-k survivors, not below them") {
    val q = SparkEntry.queries("q3_top_revenue_orders")(spark, TestSpark.sfDir)
    val plan = physicalPlan(q)
    // the optimizer collapses the post-limit select into
    // TakeOrderedAndProject's own projectList (applied AFTER the limit) —
    // so the formatter must appear in that node's output and NOWHERE
    // below: a `date_format` anywhere in the plan body means some stage
    // formatted every aggregated order again
    val topk = plan.linesIterator
      .find(_.contains("TakeOrderedAndProject"))
      .getOrElse(fail(s"expected a TakeOrderedAndProject top-k:\n$plan"))
    assert(topk.contains("order_date"),
      s"the formatted column must be produced by the top-k projection:\n$plan")
    assert(!plan.contains("date_format"),
      s"date_format below the top-k would format every aggregated order:\n$plan")
  }

  test("text_lang_id: marker scan projects above the sort") {
    val q = SparkEntry.queries("text_lang_id")(spark, TestSpark.sfDir)
    val plan = physicalPlan(q)
    val pred = plan.indexOf("AS lang_pred")
    val sort = plan.indexOf("Sort [")
    assert(pred >= 0 && sort >= 0, s"expected classifier and sort nodes:\n$plan")
    assert(pred < sort,
      s"langId must compute above the sort (classified once, text rows " +
        s"sorted raw):\n$plan")
  }

  test("dedup_ngram_jaccard: repartition fence between kernel and sort") {
    val q = SparkEntry.queries("dedup_ngram_jaccard")(spark, TestSpark.sfDir)
    val plan = physicalPlan(q)
    val sort = plan.indexOf("Sort [")
    val fence = plan.indexOf("Exchange RoundRobinPartitioning")
    val bnlj = plan.indexOf("BroadcastNestedLoopJoin")
    assert(sort >= 0 && fence >= 0 && bnlj >= 0,
      s"expected sort, round-robin fence and nested-loop kernel:\n$plan")
    assert(sort < fence && fence < bnlj,
      s"the fence must sit between the final sort and the O(n^2) kernel " +
        s"so range-sampling re-reads shuffle blocks, not the join:\n$plan")
  }

  test("sim_semdedup_pairs runs one final plan every time: its pair join " +
       "stays sort-merge") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, HashJoin}
    val aqe = new AdaptiveSparkPlanHelper {}
    // the triangle-blocked pair join is the one join keyed on `bj`
    def pairJoins(plan: SparkPlan): Seq[String] = aqe.collect(plan) {
      case j: BaseJoinExec
          if (j.leftKeys ++ j.rightKeys).exists(_.references.exists(_.name == "bj")) =>
        j match {
          case h: HashJoin => s"${j.nodeName} ${h.buildSide}"
          case _ => j.nodeName
        }
    }
    def normalized(plan: SparkPlan): String = plan.toString
      .replaceAll("#\\d+", "#").replaceAll("\\[plan_id=\\d+\\]", "")
    val q = SparkEntry.queries("sim_semdedup_pairs")
    // AQE re-plans a join once its shuffles have run; left to it, this
    // join became a broadcast built from whichever near-equal side
    // finished first, which differed from run to run
    val runs = (1 to 10).map { _ =>
      val df = q(spark, TestSpark.sfDir)
      val rows = df.collect().map(_.toString).sorted.toSeq
      val plan = df.queryExecution.executedPlan
      (pairJoins(plan), normalized(plan), rows)
    }
    assert(runs.map(_._3).distinct.size === 1, "rows differ between runs")
    assert(runs.head._3.nonEmpty, "no pair passed the threshold: vacuous")
    val joins = runs.map(_._1).distinct
    assert(joins === Seq(Seq("SortMergeJoin")),
      s"final pair joins over ${runs.size} runs: $joins")
    val plans = runs.map(_._2).distinct
    assert(plans.size === 1,
      s"${plans.size} distinct final plans over ${runs.size} runs:\n" +
        plans.mkString("\n----\n"))
  }

  test("a small global sort sorts in place: q1's final plan has no range " +
       "exchange, a sort over a Generate keeps it") {
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.{CoalesceExec, GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val aqe = new AdaptiveSparkPlanHelper {}
    // the final adaptive plan (query stages included), after AQE
    // re-optimized with the stages' sizes
    def finalPlan(df: org.apache.spark.sql.DataFrame): SparkPlan = {
      df.collect()
      df.queryExecution.executedPlan
    }
    def ranges(p: SparkPlan) = aqe.collect(p) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }
    def has(p: SparkPlan, f: SparkPlan => Boolean) = aqe.find(p)(f).isDefined
    val q1 = finalPlan(SparkEntry.queries("q1_pricing_summary")(spark, TestSpark.sfDir))
    assert(ranges(q1).isEmpty && has(q1, _.isInstanceOf[CoalesceExec]),
      s"q1's four-row sort must run over coalesce(1), with no range " +
        s"sampling job or shuffle:\n$q1")
    // a Generate multiplies rows beyond Spark's size estimate: the same
    // small aggregate keeps its range exchange once an explode sits above it
    val agg = Tables(spark, TestSpark.sfDir).orders
      .groupBy($"o_orderstatus").agg(count(lit(1)).as("n"))
    val plain = finalPlan(agg.orderBy($"n"))
    assert(ranges(plain).isEmpty, plain)
    val exploded = finalPlan(agg
      .select($"o_orderstatus", explode(array(lit(1), lit(2))).as("k"))
      .orderBy($"o_orderstatus", $"k"))
    assert(has(exploded, _.isInstanceOf[GenerateExec]) && ranges(exploded).size == 1,
      s"a sort above a Generate must keep its range exchange:\n$exploded")
  }
}
