package graft

import org.apache.spark.sql.functions._

/** Plan-shape contracts for the relational core: these assert the plan
  * we WANT at scale — pushdown reaching the scan, partial aggregation
  * before the single exchange, dimensions broadcasting instead of
  * shuffling the fact side — so a regression in plan quality fails CI
  * even while results stay correct.
  */
class PlanShapeSpec extends SparkSpec {

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q1_agg: map-side partial aggregation, exactly one exchange") {
    val p = planOf("q1_agg")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert("Exchange".r.findAllIn(p).size == 1, p)
  }

  test("q2_filter: the predicate reaches the parquet scan") {
    val df = SparkEntry.queries("q2_filter")(spark, sf)
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(formatted.contains("PushedFilters:"), formatted)
    // at least one real comparison pushed, not only IsNotNull
    assert("PushedFilters: \\[[^\\]]*(GreaterThan|LessThan|EqualTo|StringStartsWith)"
      .r.findFirstIn(formatted).isDefined, formatted)
  }

  test("AuditPlans.hazards flags an unpartitioned window, passes partitioned and limit-bounded forms") {
    import org.apache.spark.sql.expressions.Window
    val df = spark.range(100).select(col("id"), (col("id") % 7).as("k"))
    // sparkPlan (pre-AQE), matching the AuditPlans gate: AQE's
    // AdaptiveSparkPlanExec hides the inner tree from collect()
    def hz(d: org.apache.spark.sql.DataFrame) =
      AuditPlans.hazards(d.queryExecution.sparkPlan)
    // global window over unbounded input: the single-task scale killer
    val bad = df.select(col("id"),
      row_number().over(Window.orderBy("id")).as("rn"))
    assert(hz(bad).contains("UnpartitionedWindow"), bad.queryExecution)
    // partitioned window: fine
    val part = df.select(col("id"),
      row_number().over(Window.partitionBy("k").orderBy("id")).as("rn"))
    assert(hz(part).isEmpty, part.queryExecution)
    // global window over a top-k'd (limit-bounded) input: fine
    val bounded = df.orderBy(col("id").desc).limit(10).select(col("id"),
      row_number().over(Window.orderBy("id")).as("rn"))
    assert(hz(bounded).isEmpty, bounded.queryExecution)
    // a limit on a JOINED dimension does not bound the window input:
    // corpus x dim.limit(10) is corpus-sized — must still be flagged
    val dim = spark.range(50).select(col("id").as("dk")).limit(10)
    val joined = df.join(dim, col("dk") === col("id") % 50)
      .select(col("id"), row_number().over(Window.orderBy("id")).as("rn"))
    assert(hz(joined).contains("UnpartitionedWindow"),
      joined.queryExecution.sparkPlan)
  }

  test("q44_ranking plans with no WindowExec at all (distributed ranking path)") {
    val p = planOf("q44_ranking")
    assert(!p.contains("Window"), p)
    assert(AuditPlans.hazards(
      SparkEntry.queries("q44_ranking")(spark, sf).queryExecution.sparkPlan).isEmpty)
  }

  test("d19: bucketed band index joins the probe with no Exchange on the index side") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    // the ingest entry writes the bucketed index table
    SparkEntry.queries("d19_index_build")(spark, sf).collect()
    // exchanges are inserted by EnsureRequirements (executedPlan), and
    // AQE wraps that tree — disable AQE + broadcast so the probe join
    // plans as a plain SortMergeJoin whose sides we can inspect
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val index = spark.table(SparkEntry.d19IndexTable(sf))
      // the skew-cap aggregation rides the bucketing: zero exchanges
      val keep = index.groupBy("band", "sig").count()
      assert(keep.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e }.isEmpty)
      // a fresh (unbucketed) probe batch joins on the bucket key: the
      // probe side shuffles INTO the index's layout, the index side
      // never re-partitions
      val probe = spark.range(100).selectExpr("id", "cast(id % 4 as int) as band",
        "cast(id % 7 as bigint) as sig")
      val joined = probe.join(index, Seq("band", "sig"))
      val smj = joined.queryExecution.executedPlan.collect {
        case j: SortMergeJoinExec => j }
      assert(smj.nonEmpty, joined.queryExecution.executedPlan)
      def hasIndexScan(p: org.apache.spark.sql.execution.SparkPlan) =
        p.collect { case f: FileSourceScanExec
          if f.toString.contains(SparkEntry.d19IndexTable(sf)) => f }.nonEmpty
      val (indexSide, probeSide) =
        if (hasIndexScan(smj.head.right)) (smj.head.right, smj.head.left)
        else (smj.head.left, smj.head.right)
      assert(hasIndexScan(indexSide))
      assert(indexSide.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        indexSide)
      assert(probeSide.collect { case e: ShuffleExchangeExec => e }.nonEmpty,
        probeSide)
      // and the index scan itself reports its bucketing to the planner
      val scans = indexSide.collect { case f: FileSourceScanExec => f }
      assert(scans.forall(_.bucketedScan), scans.map(_.toString).mkString("\n"))
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("s12: bucketed IVF index joins the probe batch with no Exchange on the index side") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    // building the query once writes the bucketed index table
    SparkEntry.queries("s12_ann_index_probe")(spark, sf)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val index = spark.table("graft_s12_ivf_index")
      val probe = spark.range(50).selectExpr("id as query_id",
        "cast(id % 16 as int) as cell")
      val joined = probe.join(index, Seq("cell"))
      val smj = joined.queryExecution.executedPlan.collect {
        case j: SortMergeJoinExec => j }
      assert(smj.nonEmpty, joined.queryExecution.executedPlan)
      def hasIndexScan(p: org.apache.spark.sql.execution.SparkPlan) =
        p.collect { case f: FileSourceScanExec
          if f.toString.contains("graft_s12_ivf_index") => f }.nonEmpty
      val (indexSide, probeSide) =
        if (hasIndexScan(smj.head.right)) (smj.head.right, smj.head.left)
        else (smj.head.left, smj.head.right)
      assert(hasIndexScan(indexSide))
      assert(indexSide.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        indexSide)
      assert(probeSide.collect { case e: ShuffleExchangeExec => e }.nonEmpty,
        probeSide)
      val scans = indexSide.collect { case f: FileSourceScanExec => f }
      assert(scans.forall(_.bucketedScan), scans.map(_.toString).mkString("\n"))
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("q5_join5: every dimension join broadcasts; the fact side never shuffles for a join") {
    val p = planOf("q5_join5")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("cosinePairs blocked form plans as an equi-join, unblocked as a cross product") {
    val emb = Engine.table(spark, sf, "embeddings")
    val blocked = graft.operators.Similarity.cosinePairs(emb, 0.45, blocks = 2)
      .queryExecution.executedPlan.toString
    assert(!blocked.contains("NestedLoop") && !blocked.contains("Cartesian"),
      blocked)
    val full = graft.operators.Similarity.cosinePairs(emb, 0.45)
      .queryExecution.executedPlan.toString
    assert(full.contains("NestedLoop") || full.contains("Cartesian"), full)
  }

  test("q51 sketch shards partially aggregate before the exchange") {
    val p = planOf("q51_sketch_rollup")
    // HLL sketches are object aggregates: partial+final pairs per level
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("p16_temperature: rates broadcast back; the corpus crosses no extra exchange") {
    val p = planOf("p16_temperature")
    assert(p.contains("BroadcastHashJoin"), p)
    // exchanges: the tiny counts agg (plus its broadcast) — the corpus
    // side itself must not be hash-repartitioned
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("p17_dataset_diff: snapshots reduce to (id, hash) before the join") {
    val df = SparkEntry.queries("p17_dataset_diff")(spark, sf)
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // the hash projection must land BELOW the exchange: every Exchange
    // input is (doc_id, 8-byte hash), text never crosses the shuffle
    assert(formatted.contains("xxhash64"), formatted)
    val exchangeInputs =
      "(?s)\\(\\d+\\) Exchange.*?Input \\[\\d+\\]: \\[([^\\]]*)\\]".r
        .findAllMatchIn(formatted).map(_.group(1)).toSeq
    assert(exchangeInputs.nonEmpty, formatted)
    exchangeInputs.foreach(in => assert(!in.contains("text#"), in))
  }

  test("q56: custom TopKPerKeyExec plans partial-before-exchange-then-final") {
    val p = planOf("q56_topk_per_key")
    // nodeName renders without the Exec suffix
    assert("TopKPerKey \\[".r.findAllIn(p).size == 2, p)
    assert(p.contains("Exchange"), p)
    // the partial (pre-shuffle) bound must sit BELOW the exchange:
    // reading the tree top-down, final < exchange < partial
    val fin = p.indexOf("TopKPerKey [")
    val ex = p.indexOf("Exchange")
    val part = p.indexOf("TopKPerKey [", fin + 1)
    assert(fin < ex && ex < part, p)
    // and no window-function fallback anywhere
    assert(!p.contains("Window"), p)
  }

  test("q9_topk: ORDER BY + LIMIT plans as distributed top-k, not a global sort") {
    val p = planOf("q9_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("GlobalSort") && !"(?m)^\\s*Sort ".r.findFirstIn(p).isDefined, p)
  }

  test("p23_scd2: one join total, branches fan out via Generate, no re-join") {
    val p = planOf("p23_scd2_merge")
    assert("Join".r.findAllIn(p).size == 1, p)
    assert(p.contains("Generate"), p)
  }

  test("p22_profile: the whole audit is one aggregation pass (no join, no window)") {
    val p = planOf("p22_profile")
    assert(!p.contains("Join") && !p.contains("Window"), p)
    // multi-distinct rides a bounded Expand, then partial/final aggs
    assert(p.contains("Expand"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("d20_semantic_decontam: eval side broadcasts; corpus side never shuffles pre-join") {
    val p = planOf("d20_semantic_decontam")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    // below the join: only the eval side's BroadcastExchange — the
    // corpus scan feeds the join directly, no shuffle before it (the
    // one hash exchange is the post-join per-id aggregate, above)
    val below = p.substring(p.indexOf("BroadcastNestedLoopJoin"))
    assert(!below.contains("Exchange hashpartitioning"), p)
  }

  test("p24_incremental_agg: partial-state merge keeps map-side combine on both sides") {
    val p = planOf("p24_incremental_agg")
    assert(!p.contains("Join"), p)
    // two-level aggregation: base partials + delta partials + merge
    assert("HashAggregate".r.findAllIn(p).size >= 4, p)
  }

  test("d2: the shingle self-join reads the key-partitioned index with no Exchange on either side") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import graft.operators.Dedup
    // d2 = ngramJaccardPairsFromIndex over hashedShingleIndex; the index
    // materializes under the session's settings, then AQE and broadcast
    // are disabled so the self-join plans as a SortMergeJoin whose sides
    // show every exchange EnsureRequirements adds
    val idx = Dedup.hashedShingleIndex(Engine.table(spark, sf, "documents"),
      "doc_id", "text", n = 3, tokens = true, maxDocFreq = Some(50))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = Dedup.ngramJaccardPairsFromIndex(idx, 0.8)
        .queryExecution.executedPlan
      val selfJoin = plan.collect {
        case j: SortMergeJoinExec
          if j.leftKeys.exists(_.references.exists(_.name == "shingle")) => j }
      assert(selfJoin.size == 1, plan)
      selfJoin.head.children.foreach { side =>
        assert(side.collect { case e: ShuffleExchangeExec => e }.isEmpty, plan)
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("d3: every job of the query plans the MinHash signature aggregate once in all") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.Final
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    // the eager materializations are jobs of their own: count the final
    // signature aggregate over every planned physical tree (sparkPlan
    // holds every branch, including ones AQE later prunes)
    val (_, qes) = PlanCapture.executions(spark) {
      SparkEntry.queries("d3_minhash_lsh")(spark, sf).collect()
    }
    val sigAggs = qes.map(_._2.sparkPlan).flatMap(_.collect {
      case a: ObjectHashAggregateExec if a.aggregateExpressions.exists(e =>
        e.mode == Final && e.aggregateFunction.isInstanceOf[graft.plans.MinHashAgg]) => a
    })
    assert(sigAggs.size == 1, qes.map(_._2.sparkPlan).mkString("\n\n"))
  }

  test("a binding LSH bucket cap reports through the session listener when no pair survives") {
    import graft.operators.Similarity
    import spark.implicits._
    // 30 identical vectors: every bucket of every table holds all 30,
    // over maxBucket = 10, so every row is dropped and no pair survives
    val emb = (1 to 30).map(i => (i.toLong, Array.tabulate(64)(j => (j % 7).toDouble)))
      .toDF("vec_id", "embedding")
    val (_, qes) = PlanCapture.executions(spark) {
      val pairs = Similarity.cosinePairsLsh(emb, 0.5, bits = 4, tables = 3,
        maxBucket = 10)
      assert(pairs.collect().isEmpty)
    }
    val m = qes.map(_._2.observedMetrics).reduce(_ ++ _)
    def count(dir: String) = m.collectFirst { case (k, r)
      if k.startsWith(s"graft_bucketcap_${dir}_") => r.getLong(0) }
    assert(count("in").contains(90L) && count("out").contains(0L), m)
  }
}
