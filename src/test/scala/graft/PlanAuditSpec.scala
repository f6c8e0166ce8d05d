package graft

/** Physical-plan regression guards for the scale claims in SURVEY §5:
  * pushdown, pruning, broadcast dimension joins, TakeOrdered top-k,
  * and single-scan profiling. A refactor that silently breaks one of
  * these (e.g. a UDF blocking pushdown, a join flipping to
  * sort-merge + shuffle) fails here rather than in a cluster bill.
  */
class PlanAuditSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = explain(SparkEntry.queries(name)(spark, dir))

  private def explain(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)

  /** `name`'s plan, after checking that it reads pinned rows: a
    * `CacheScope` pin is a checkpoint leaf over a persisted RDD (a
    * `Scan ExistingRDD` in the physical plan), tracked for `clear`.
    */
  private def pinnedPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    val p = explain(df)
    val pins = CacheScope.pinsOf(df)
    assert(pins.nonEmpty && pins.forall(_.queryExecution.logical
        .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]) &&
      p.contains("Scan ExistingRDD"),
      s"$name: expected pinned intermediates in the plan:\n${p.take(2000)}")
    p
  }

  test("bitmap-dedup vocab path has no single-partition window (r11 verdict #8)") {
    // the ≤64-token dict is now a bounded driver-built broadcast
    // frame; the only acceptable plans on the tiny-vocab jaccard path
    // are scan → broadcast join → groupBy — a Window anywhere means
    // the row_number dict crept back
    for (q <- Seq("q_d4_jaccard", "q_d34_near_store_dedup")) {
      val p = plan(q)
      assert(!p.contains("Window"),
        s"$q: no WindowExec allowed on the dedup vocab path:\n${p.take(3000)}")
    }
  }

  test("snapshot diff is one full-outer join + one aggregation, never a cartesian") {
    val p = plan("q_d85_snapshot_diff")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"q_d85: keyed join only:\n${p.take(2000)}")
    assert(p.contains("FullOuter"), "q_d85: the merge must be a full-outer join")
  }

  test("weighted sample is TakeOrdered over a map-only key scan, no global sort") {
    val p = plan("q_d86_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"),
      s"q_d86: top-k must resolve as TakeOrdered:\n${p.take(2000)}")
  }

  test("search filters are pushed into the parquet scan") {
    val p = plan("q_c1_search")
    assert(p.contains("GreaterThanOrEqual(value,50.0)") &&
      p.contains("EqualTo(event_type,purchase)"),
      s"expected value/type predicates in PushedFilters:\n$p")
  }

  test("projection prunes the scan schema to referenced columns") {
    val p = plan("q_c1_search")
    assert(p.contains("ReadSchema: struct<event_id:bigint,user_id:bigint,event_type:string,value:double>"),
      s"expected pruned ReadSchema (no ts/props):\n$p")
  }

  test("gender dimension lookup is a broadcast join") {
    val p = plan("q_c12_gender")
    assert(p.contains("BroadcastHashJoin"), s"expected BroadcastHashJoin:\n$p")
    assert(!p.contains("SortMergeJoin"), "dimension join must not sort-merge")
  }

  test("sorted top-100 is TakeOrderedAndProject, not a global sort") {
    val p = plan("q_c14_sort")
    assert(p.contains("TakeOrderedAndProject"), s"expected TakeOrderedAndProject:\n$p")
  }

  test("multi-column profiles scan the table exactly once") {
    Seq("q_a2_null_profile", "q_a3_numeric_stats", "q_a11_corr").foreach { q =>
      val scanNodes = "\\(\\d+\\) Scan parquet".r.findAllIn(plan(q)).size
      assert(scanNodes == 1, s"$q: expected 1 scan, saw $scanNodes")
    }
  }

  test("one-call report: single scan; approx flavor keeps Expand out of the plan") {
    val tbl = Tables.load(spark, dir, "customer")
    val approx = graft.profile.Profiler.report(tbl).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(approx).size == 1,
      s"report must profile the whole table in ONE scan:\n$approx")
    assert(!approx.contains("Expand"),
      s"approx=true must use HLL/GK (mergeable, no Expand over the scan):\n$approx")
    val exact = graft.profile.Profiler.report(tbl, approx = false).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(exact.contains("Expand"),
      "exact countDistinct is expected to plan an Expand (documented oracle-path cost)")
    // per-group flavor: still ONE scan, metrics combine through a
    // grouped (keyed) aggregate — not one job per group
    val by = graft.profile.Profiler.reportBy(tbl, "c_mktsegment").queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(by).size == 1,
      s"reportBy must profile all groups in ONE scan:\n$by")
    assert(by.contains("HashAggregate") || by.contains("ObjectHashAggregate") ||
      by.contains("SortAggregate"), "grouped aggregate expected")
    assert(!by.contains("Expand"), "approx reportBy must not Expand")
  }

  test("grouped-profile totals avoid single-partition windows (broadcast scalar instead)") {
    Seq("q_a5_freq_table", "q_a7_pattern_profile", "q_a8_unexpected").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Window"),
        s"$q: pct denominator must be a broadcast-scalar cross join, not a global Window " +
          "(a Window over partitionBy() funnels the n-sized grouped result through ONE task):\n$p")
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
        s"$q: expected the 1-row total to ride a broadcast join:\n$p")
    }
  }

  test("grouped-profile total branch reuses the groupBy exchange at runtime (single scan)") {
    val df = SparkEntry.queries("q_a5_freq_table")(spark, dir)
    df.collect() // AQE reuses equal exchange stages only at execution time
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("ReusedExchange"),
      s"total denominator must reuse the grouped shuffle, not rescan the source:\n$executed")
  }

  test("rule checks stay scan-local: no shuffle exchange at all") {
    val p = plan("q_b7_rule_length")
    // single-partition aggregation of partial aggs is the only exchange
    val exchanges = p.sliding("Exchange".length).count(_ == "Exchange")
    assert(exchanges <= 2, s"rule check grew unexpected shuffles ($exchanges):\n$p")
  }

  test("cluster assignment is a map-only scan: no exchange, no join") {
    val p = SparkEntry.queries("q_d29_cluster_assign")(spark, dir)
      .queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
    // orderBy in the query adds the output sort's range exchange; the
    // ASSIGNMENT itself must add none — so exactly one Exchange and
    // no join of any kind
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 1, s"assignment grew a shuffle ($exchanges):\n$p")
    assert(!p.contains("Join"), s"assignment must not join:\n$p")
  }

  test("document chunking is map-only: no exchange beyond the output sort, no join, no window") {
    val p = SparkEntry.queries("q_d43_chunking")(spark, dir)
      .queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
    // the query's orderBy adds the output sort's range exchange; the
    // chunking itself (tokenize → sequence → explode → slice) must
    // stay inside the scan stage
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 1, s"chunking grew a shuffle ($exchanges):\n$p")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"chunking must not join or window:\n$p")
  }

  test("DSIR importance join broadcasts the bounded log-ratio table") {
    val p = SparkEntry.queries("q_d46_dsir")(spark, dir)
      .queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
    assert(p.contains("BroadcastHashJoin"),
      s"expected the bucket log-ratio table (<= buckets rows) to broadcast:\n$p")
  }

  test("winnowing's window pass partitions by document, never a global window") {
    val p = SparkEntry.queries("q_d50_winnow")(spark, dir)
      .queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
    // a Window with no PARTITION BY funnels the corpus through one
    // task; every window spec in this plan must carry the doc_id
    // partition key as its first argument
    assert(p.contains("windowspecdefinition("), s"expected a window pass:\n$p")
    assert("windowspecdefinition\\((\\w+)#".r.findAllMatchIn(p)
      .forall(_.group(1) == "doc_id"),
      s"window must be doc-partitioned:\n$p")
  }

  test("cluster-balanced sample broadcasts the quota frame") {
    val p = SparkEntry.queries("q_d48_cluster_sample")(spark, dir)
      .queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
    assert(p.contains("BroadcastHashJoin"),
      s"expected the per-cluster quota frame (a dimension) to broadcast:\n$p")
  }

  test("epoch shuffle is a range-partitioned sort, never a global row-number window") {
    val p = plan("q_d31_epoch_shuffle")
    assert(!p.contains("Window"),
      s"epoch shuffle must not compute positions via a single-task window:\n$p")
    assert(p.contains("rangepartitioning") || p.contains("Sort"),
      s"expected a parallel range sort:\n$p")
  }

  test("boilerplate strip joins the bounded hot-line set by broadcast") {
    val df = graft.text.Boilerplate.stripBoilerplate(
      Tables.documents(spark, dir), "text", "doc_id", minRepeatDocs = 30)
    val p = df.queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"hot-line strip must be a broadcast anti join:\n$p")
  }

  test("OOV vocabulary membership rides a broadcast join") {
    val p = plan("q_d30_oov")
    assert(p.contains("BroadcastHashJoin"),
      s"bounded vocab must broadcast, not shuffle the token stream by token:\n$p")
  }

  test("production approx stats never sort: no window, no Expand, one scan") {
    // the r8 certification query (q_a14) deliberately sorts for exact
    // rank bounds — but the PRODUCTION operator must stay sort-free
    val p = graft.profile.Profiler.numericStatsApprox(
      Tables.load(spark, dir, "lineitem"), Seq("l_quantity", "l_extendedprice"))
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("Window"), s"numericStatsApprox must not plan a window:\n$p")
    assert(!p.contains("Expand"), s"numericStatsApprox must not Expand:\n$p")
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(p).size == 1,
      s"one scan expected:\n$p")
  }

  test("e2e pipeline keeps its reused frames pinned (checkpoint leaves in plan)") {
    // without the CacheScope pins every downstream consumer re-derives
    // filter+repair+dedup (measured: the difference between one 2.9 s
    // pair job and re-running the whole upstream chain per stage)
    pinnedPlan("q_e2e_pipeline")
    CacheScope.clear()
  }

  test("e2e curation keeps the survivor corpus and raw features pinned") {
    // two pins: the span-gate survivor frame (feeds DSIR's raw AND
    // target featurization) and DSIR's raw feature frame (feeds the
    // bucket model AND the scoring join)
    pinnedPlan("q_e2e_curation")
    CacheScope.clear()
  }

  test("span removal: pinned span frame, no cartesian product anywhere") {
    // the span frame feeds the keeper aggregate AND the removal join
    // (one tokenize+hash pass, not two), and every join in the
    // pipeline is keyed (fingerprint, then (id, pos)) — a cartesian
    // appearing here would mean the coverage anti-join lost its keys
    val p = pinnedPlan("q_d58_span_removal")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"span removal must stay key-joined:\n${p.take(2000)}")
    CacheScope.clear()
  }

  test("source-overlap matrix: hash-keyed self-join + broadcast totals, no cartesian") {
    val p = plan("q_d59_source_overlap")
    assert(p.contains("BroadcastHashJoin"),
      s"expected broadcast totals joins:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"matrix must stay hash-keyed:\n${p.take(2000)}")
    CacheScope.clear()
  }

  test("CDC merge is a map-side-combined aggregate: no window, one key shuffle") {
    val p = plan("q_c22_merge")
    assert(!p.contains("Window"),
      s"latest-wins must be max(struct), not a row_number window:\n${p.take(2000)}")
    // exactly one key shuffle (the groupBy) + the output sort's range
    // exchange; partial_max before the exchange = map-side combine, so
    // the shuffle carries <= |keys| rows per map partition
    assert("hashpartitioning".r.findAllIn(p).size == 1,
      s"expected exactly one key shuffle:\n${p.take(2000)}")
    assert(p.contains("partial_max"),
      s"expected map-side partial aggregation:\n${p.take(2000)}")
  }

  test("semantic decontamination: broadcast-only joins, assignment map-only") {
    val p = plan("q_d62_semantic_decontam")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"bank joins must broadcast:\n${p.take(2000)}")
    // no hash shuffle anywhere — the only exchange is the output
    // sort's range partitioning
    assert(!p.contains("hashpartitioning"),
      s"decontamination pass must not shuffle:\n${p.take(2000)}")
  }

  test("JL projection is map-only: no join, no window, no hash shuffle") {
    val p = plan("q_d63_jl_project")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"projection must not join or window:\n${p.take(2000)}")
    assert(!p.contains("hashpartitioning"),
      s"projection must not shuffle:\n${p.take(2000)}")
  }

  test("tf-idf keyword window partitions by document, never a single partition") {
    val p = plan("q_d60_keywords")
    assert(p.contains("Window"), s"expected the per-doc rank window:\n${p.take(2000)}")
    assert(!p.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      s"rank window must partition by doc, not funnel one task:\n${p.take(2000)}")
    CacheScope.clear()
  }

  test("Bloom screening is map-only: the batch never joins the store") {
    val docs = Tables.load(spark, dir, "documents").limit(50)
    val bits = graft.dedup.Bloom.buildFilter(docs,
      org.apache.spark.sql.functions.md5(
        org.apache.spark.sql.functions.col("text")), 1000)
    val p = graft.dedup.Bloom.screenBatch(docs,
      org.apache.spark.sql.functions.md5(
        org.apache.spark.sql.functions.col("text")), bits)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("Join") && !p.contains("Exchange"),
      s"screening must be a pure scan-stage projection:\n${p.take(2000)}")
  }

  test("Unicode normalization stays scan-local (native expression, no shuffle)") {
    val p = plan("q_c23_nfc")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"normalization must not join or window:\n${p.take(2000)}")
    assert(!p.contains("hashpartitioning"),
      s"normalization must not shuffle:\n${p.take(2000)}")
  }

  // ---- r11 wave-3 pins

  test("canary scan (D74) is map-only: no join, no shuffle") {
    // audit the OPERATOR (the gate query adds a determinism sort)
    val p = graft.text.TextAnalysis.canaryScan(
      Tables.documents(spark, dir), "text", "doc_id",
      Seq("hash join", "merge"))
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("Join") && !p.contains("Exchange"),
      s"automaton scan must be a pure scan-stage chain:\n${p.take(2000)}")
  }

  test("range join (D72) is an equi-join on the bucket, never nested-loop") {
    val p = plan("q_d72_range_join")
    assert(!p.contains("BroadcastNestedLoop"), s"no BNLJ:\n${p.take(2000)}")
    assert(p.contains("Join"), "expected a join on the bucket key")
  }

  test("referential integrity (B19) aggregates before joining the parent") {
    val p = plan("q_b19_ref_integrity")
    // the child table collapses to distinct-FK counts before any join:
    // HashAggregate must appear under the join inputs, and the join is
    // on the fk, not a row-level nested predicate
    assert(p.contains("HashAggregate") && !p.contains("BroadcastNestedLoop"),
      s"expected pre-aggregated fk join:\n${p.take(2000)}")
  }

  test("URL canonicalization (D70) shuffles only for the domain window") {
    val p = plan("q_d70_url_canon")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 3, // window on _domain + join back on doc_id (AQE variants)
      s"expected bounded exchanges for window+join, saw $exchanges:\n${p.take(3000)}")
  }

  test("localized-number repair (C26) and date repair (C25) are scan-local") {
    Seq("q_c26_localized_num", "q_c25_date_parse").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Join") && !p.contains("hashpartitioning"),
        s"$q must not join or shuffle:\n${p.take(2000)}")
    }
  }

  test("type inference (A19) scans the table exactly once") {
    val scanNodes = "\\(\\d+\\) Scan parquet".r.findAllIn(plan("q_a19_infer_types")).size
    assert(scanNodes == 1, s"expected 1 scan, saw $scanNodes")
  }
  /** Rows each SinglePartition exchange wrote, over every plan `body`
    * executes — eager pins included (a QueryExecutionListener sees
    * them all; a sentinel action marks the end of `body`'s events).
    */
  private def singlePartitionRows(body: => Unit): Seq[Long] = {
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.util.QueryExecutionListener
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    import scala.jdk.CollectionConverters._
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      val sentinel = spark.range(1)
      sentinel.collect()
      eventually(timeout(30.seconds), interval(50.millis)) {
        assert(seen.asScala.exists(_ eq sentinel.queryExecution))
      }
    } finally spark.listenerManager.unregister(listener)
    val helper = new AdaptiveSparkPlanHelper {}
    seen.asScala.toSeq.flatMap { qe =>
      helper.collectWithSubqueries(qe.executedPlan) {
        case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition =>
          e.metrics("shuffleRecordsWritten").value
      }
    }
  }

  test("KS drift CDF never funnels its distinct-value frame through one partition") {
    val a = spark.range(3000).selectExpr("CAST(id AS DOUBLE) AS v")
    val b = spark.range(1500, 4500).selectExpr("CAST(id AS DOUBLE) AS v")
    val rows = singlePartitionRows {
      val r = graft.profile.Drift.ksStatistic(a, b, "v").collect()(0)
      assert(r.getAs[Long]("n_a") == 3000 && r.getAs[Double]("ks") == 0.5)
    }
    // only bounded frames may meet in one task: partial aggregates and
    // the partitions-sized offsets frame, never the 4500 values
    assert(rows.forall(_ <= 64), s"single-partition exchanges wrote $rows rows")
  }

  test("row index never funnels its rows through one partition") {
    val df = spark.range(3000).selectExpr("id", "CAST(id * 7 % 3000 AS STRING) AS s")
    val rows = singlePartitionRows {
      assert(graft.corrector.Corrector.withRowIndex(df, Seq("s"))
        .agg(org.apache.spark.sql.functions.max("row_index")).head().getInt(0) == 2999)
    }
    assert(rows.forall(_ <= 64), s"single-partition exchanges wrote $rows rows")
  }
}
