package graft

import org.apache.spark.sql.DataFrame

/** Physical-plan shape assertions — the properties that make these operators
  * survive a 100× scale-up. A regression here (lost pushdown, a broadcast
  * degrading to sort-merge, codegen falling out) is a performance bug even
  * while results stay correct, so it's locked by test.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("q01 scan prunes to the five needed lineitem columns") {
    val s = plan(ops.RelationalOps.pricingSummary(spark, dir))
    val read = "ReadSchema: [^\n]*".r.findFirstIn(s).get
    assert(read.contains("l_quantity") && read.contains("l_returnflag"))
    assert(!read.contains("l_orderkey") && !read.contains("l_shipdate"))
  }

  test("q02 star joins broadcast all three dimension tables") {
    val s = plan(ops.RelationalOps.revenueByNation(spark, dir))
    assert("BroadcastHashJoin".r.findAllIn(s).size == 3, s)
    assert(!s.contains("SortMergeJoin"))
  }

  test("q51 pushes the query-set predicate into the parquet scan and broadcasts it") {
    val s = plan(ops.VectorOpsImpl.cosineTopKPlan(spark, dir))
    assert(s.contains("LessThan(vec_id,8)"), "query-set filter must reach PushedFilters")
    assert(s.contains("BroadcastNestedLoopJoin"), "small query side must broadcast")
  }

  test("JEXL filter pipeline stays pruned and codegen'd") {
    val df = ops.CdcQueriesImpl.jexlFilter(spark, dir)
    val s = plan(df)
    val read = "ReadSchema: [^\n]*".r.findFirstIn(s).get
    assert(!read.contains("props") && !read.contains("event_type"),
      s"filter on value must not read unrelated columns: $read")
    // codegen markers are hidden under the AQE wrapper until execution;
    // disable AQE for the shape check (the plan itself is identical)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val noAqe = plan(ops.CdcQueriesImpl.jexlFilter(spark, dir))
      assert(noAqe.contains("*("), "whole-stage codegen must cover the filter/project pipeline")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q159/q169 value-histogram windows are bucket-parallel, never per-column") {
    // a Window partitioned by col_name alone funnels each column's whole
    // distinct-value histogram through one reducer (parallelism = 4); the
    // q73 two-pass decomposition partitions the big window by
    // (col_name, b_bin) and keeps the per-column window on the <= 62-row
    // bin frame only
    val perColumnOverValues = """\], \[col_name#\d+\], \[v#\d+""".r
    Seq(ops.ProfileOpsImpl.columnProfile(spark, dir),
        ops.ProfileOpsImpl.columnQuantiles(spark, dir),
        ops.QuantileSketchOpsImpl.quantileSketch(spark, dir)).foreach { df =>
      val s = plan(df)
      assert(s.contains("b_bin"), s"bucketed decomposition missing:\n$s")
      assert(perColumnOverValues.findFirstIn(s).isEmpty,
        s"value window must not partition by col_name alone:\n$s")
    }
  }

  test("exact dedup is a single hash-aggregate, no sort before grouping") {
    val s = plan(ops.DedupOpsImpl.exact(spark, dir))
    assert("HashAggregate".r.findAllIn(s).size >= 2, "expect partial+final hash agg")
  }

  test("q53 IVF assignment is a narrow per-row argmin: no Window, no corpus shuffle") {
    // drop the final presentation orderBy — the assignment itself must plan
    // as scan → project with no exchange at all (round 1 shuffled and
    // sorted n×k rows through a Window)
    val df = ops.VectorOpsImpl.ivfAssign(spark, dir).queryExecution.analyzed match {
      case org.apache.spark.sql.catalyst.plans.logical.Sort(_, _, child, _) =>
        org.apache.spark.sql.graftshim.Bridge.ofRows(spark, child)
      case _ => fail("expected a top-level Sort to strip")
    }
    val s = plan(df)
    assert(!s.contains("Window"), s"assignment must not use a window:\n$s")
    assert(!s.contains("Exchange"), s"assignment must not shuffle the corpus:\n$s")
  }

  test("q75 learned-codebook assignment is as narrow as the per-label one") {
    val df = ops.VectorOpsImpl.kmeansAssign(spark, dir).queryExecution.analyzed match {
      case org.apache.spark.sql.catalyst.plans.logical.Sort(_, _, child, _) =>
        org.apache.spark.sql.graftshim.Bridge.ofRows(spark, child)
      case _ => fail("expected a top-level Sort to strip")
    }
    val s = plan(df)
    assert(!s.contains("Window"), s"assignment must not use a window:\n$s")
    assert(!s.contains("Exchange"), s"assignment must not shuffle the corpus:\n$s")
  }

  test("q76 learned-codebook IVF probe broadcasts the query side, never sort-merges") {
    val s = plan(ops.VectorOpsImpl.kmeansIvfTopKPlan(spark, dir))
    assert(s.contains("BroadcastHashJoin"), s"probe must be a broadcast hash join:\n$s")
    assert(!s.contains("SortMergeJoin"), s"corpus-side sort-merge would not scale:\n$s")
  }

  test("q79 fully-learned IVF-PQ probes and ranks over cached index views only") {
    val s = plan(ops.VectorOpsImpl.kmeansIvfPqTopKPlan(spark, dir))
    assert(s.contains("BroadcastHashJoin"), s"probe must broadcast the query side:\n$s")
    assert(!s.contains("SortMergeJoin"), s"corpus-side sort-merge would not scale:\n$s")
    assert(s.contains("InMemoryTableScan"), s"search must read the cached index views:\n$s")
  }

  test("q149 residual IVF-PQ probes and ranks over cached index views only") {
    val s = plan(ops.VectorOpsImpl.residualIvfPqTopKPlan(spark, dir))
    assert(s.contains("BroadcastHashJoin"), s"probe must broadcast the query side:\n$s")
    assert(!s.contains("SortMergeJoin"), s"corpus-side sort-merge would not scale:\n$s")
    assert(s.contains("InMemoryTableScan"), s"search must read the cached index views:\n$s")
  }

  test("q71 content-defined chunking is a narrow generator: no shuffle before the sort") {
    val df = ops.TextOpsImpl.contentDefinedChunks(spark, dir).queryExecution.analyzed match {
      case org.apache.spark.sql.catalyst.plans.logical.Sort(_, _, child, _) =>
        org.apache.spark.sql.graftshim.Bridge.ofRows(spark, child)
      case _ => fail("expected a top-level Sort to strip")
    }
    val s = plan(df)
    assert(!s.contains("Exchange"), s"CDC chunking must not shuffle:\n$s")
    assert(!s.contains("Window"), s"boundary pairing must not use a window:\n$s")
  }

  test("q34 per-language top terms run through TopKPerKey, not a window") {
    val s = plan(ops.TextOpsImpl.topTermsPerLang(spark, dir))
    assert(s.contains("TopKPerKey"), s"expected the custom operator:\n$s")
    assert(!s.contains("Window"), s"low-cardinality key must not use a window:\n$s")
  }

  test("q56 near-dup candidates are capped multi-band buckets, not a fixed modulus") {
    val df = ops.VectorOpsImpl.cosineNearDupPairs(spark, dir)
    val s = plan(df)
    assert(!s.contains("pmod"), "fixed-modulus global bucketing must be gone")
    assert(s.contains("shiftright"), s"banded signature expected in plan:\n$s")
  }

  test("q47 contamination probes a broadcast holdout set — the corpus never shuffles for the join") {
    val s = plan(ops.DedupOpsImpl.contamination(spark, dir))
    assert(s.contains("BroadcastHashJoin"), s"holdout side must broadcast:\n$s")
    assert(!s.contains("SortMergeJoin"), s"corpus must not sort-merge against the holdout:\n$s")
  }

  test("q62 PQ encode is a narrow per-row code projection: no join, no shuffle") {
    val df = ops.VectorOpsImpl.pqEncode(spark, dir).queryExecution.analyzed match {
      case org.apache.spark.sql.catalyst.plans.logical.Sort(_, _, child, _) =>
        org.apache.spark.sql.graftshim.Bridge.ofRows(spark, child)
      case _ => fail("expected a top-level Sort to strip")
    }
    val s = plan(df)
    assert(!s.contains("Exchange"), s"PQ encode must not shuffle the corpus:\n$s")
    assert(!s.contains("Join"), s"codebook must be baked literals, not a join:\n$s")
  }

  test("q63 ADC search scans only the code columns of the corpus side and broadcasts queries") {
    val s = plan(ops.VectorOpsImpl.pqAdcTopKPlan(spark, dir))
    assert(s.contains("BroadcastNestedLoopJoin"), s"query side must broadcast:\n$s")
    assert(!s.contains("SortMergeJoin"), s"corpus must not sort-merge:\n$s")
  }

  test("q64 multi-probe IVF broadcasts the probe-expanded query side only") {
    val s = plan(ops.VectorOpsImpl.ivfMultiProbeTopKPlan(spark, dir))
    assert(s.contains("BroadcastNestedLoopJoin"), s"query side must broadcast:\n$s")
    assert(!s.contains("SortMergeJoin"), s"corpus must not sort-merge for the probe:\n$s")
  }

  test("q49 curation pipeline fuses quality and sample predicates into the scan stage") {
    val s = plan(ops.TextOpsImpl.curationPipeline(spark, dir))
    // the quality filter and the hash-sample bucket predicate are both
    // pre-shuffle: no Exchange may appear below the first aggregate other
    // than the dedup agg and packing window themselves
    assert(!s.contains("SortMergeJoin"), s"dedup semi-join must broadcast at this size:\n$s")
    assert(!s.contains("CartesianProduct"), s)
  }

  test("q65 filtered ANN pushes the metadata predicate into the documents scan") {
    val s = plan(ops.VectorOpsImpl.filteredTopK(spark, dir))
    assert(s.contains("EqualTo(lang,en)"), s"lang filter must reach PushedFilters:\n$s")
    assert(!s.contains("SortMergeJoin"), s"metadata join must hash/broadcast at this size:\n$s")
  }

  test("q68 IVF-PQ probes and ranks over the cached index views only") {
    val s = plan(ops.VectorOpsImpl.ivfPqTopKPlan(spark, dir))
    assert(s.contains("BroadcastNestedLoopJoin") || s.contains("BroadcastHashJoin"),
      s"query side must broadcast:\n$s")
    assert(!s.contains("SortMergeJoin"), s"probe must not sort-merge:\n$s")
    assert(s.contains("InMemoryTableScan"), s"must read the cached index views:\n$s")
  }

  test("q69 JL projection is a narrow codegen'd scan: no shuffle before the sort") {
    val df = ops.VectorOpsImpl.jlProject(spark, dir).queryExecution.analyzed match {
      case org.apache.spark.sql.catalyst.plans.logical.Sort(_, _, child, _) =>
        org.apache.spark.sql.graftshim.Bridge.ofRows(spark, child)
      case _ => fail("expected a top-level Sort to strip")
    }
    val s = plan(df)
    assert(!s.contains("Exchange"), s"projection must not shuffle:\n$s")
  }

  test("q70 JL rerank never sort-merges; both stages broadcast the small side") {
    val s = plan(ops.VectorOpsImpl.jlRerankPlan(spark, dir, 10))
    assert(!s.contains("SortMergeJoin"), s"shortlist/rerank joins must broadcast:\n$s")
    assert(s.contains("LessThan(vec_id,8)"), s"query filter must push into the scan:\n$s")
  }

  test("ANN search plans carry no literal-unrolled vector math") {
    // The JL sketch, the three ADC distances and the multi-probe ranking
    // are native kernels (graft.expr.JlProjectExpr, AdcF64Expr,
    // NearestNF64Expr, with ResidualF64Expr for the residual view);
    // unrolled into Column text they made these analyzed plans 5,300 to
    // 19,600 expression nodes, and that planning and codegen was most of
    // the ANN panel's wall time. Each plan now analyzes to 160 to 430.
    def exprNodes(df: DataFrame): Int =
      df.queryExecution.analyzed.collectWithSubqueries { case p =>
        p.expressions.map(_.collect { case e => e }.size).sum
      }.sum
    val MaxNodes = 600
    Seq(
      "jl_rerank" -> ops.VectorOpsImpl.jlRerankPlan(spark, dir, 10),
      "pq_adc" -> ops.VectorOpsImpl.pqAdcTopKPlan(spark, dir),
      "kmeans_ivfpq" -> ops.VectorOpsImpl.kmeansIvfPqTopKPlan(spark, dir),
      "rivfpq" -> ops.VectorOpsImpl.residualIvfPqTopKPlan(spark, dir),
      "ivf_multiprobe" -> ops.VectorOpsImpl.ivfMultiProbeTopKPlan(spark, dir)
    ).foreach { case (path, df) =>
      val n = exprNodes(df)
      info(s"$path: $n analyzed expression nodes")
      assert(n <= MaxNodes, s"$path plan has $n expression nodes (> $MaxNodes)")
    }
  }

  test("q67 keep-best broadcasts the pair-graph component map against the corpus scan") {
    val s = plan(ops.DedupOpsImpl.dedupKeepBest(spark, dir))
    assert(s.contains("BroadcastHashJoin"), s"component map must broadcast:\n$s")
    assert(!s.contains("SortMergeJoin"), s"corpus must not sort-merge for the component join:\n$s")
  }

  test("q39 chunking is a narrow generator: no shuffle before the presentation sort") {
    val df = ops.TextOpsImpl.chunkDocuments(spark, dir).queryExecution.analyzed match {
      case org.apache.spark.sql.catalyst.plans.logical.Sort(_, _, child, _) =>
        org.apache.spark.sql.graftshim.Bridge.ofRows(spark, child)
      case _ => fail("expected a top-level Sort to strip")
    }
    val s = plan(df)
    assert(s.contains("Generate"), s"expected an explode generator:\n$s")
    assert(!s.contains("Exchange"), s"chunking must not shuffle:\n$s")
  }

  test("q36 stratified sample is a pure narrow scan: no shuffle, no RNG") {
    // strip the presentation orderBy like q53
    val df = ops.TextOpsImpl.stratifiedSample(spark, dir).queryExecution.analyzed match {
      case org.apache.spark.sql.catalyst.plans.logical.Sort(_, _, child, _) =>
        org.apache.spark.sql.graftshim.Bridge.ofRows(spark, child)
      case _ => fail("expected a top-level Sort to strip")
    }
    val s = plan(df)
    assert(!s.contains("Exchange"), s"sampling must not shuffle:\n$s")
    assert(!s.toLowerCase.contains("rand"), s"sampling must be hash-deterministic:\n$s")
  }

  test("q83 k-means diagnostics: narrow argmin + k-row hash agg, corpus never shuffles rows") {
    val df = ops.VectorOpsImpl.kmeansQuality(spark, dir).queryExecution.analyzed match {
      case org.apache.spark.sql.catalyst.plans.logical.Sort(_, _, child, _) =>
        org.apache.spark.sql.graftshim.Bridge.ofRows(spark, child)
      case _ => fail("expected a top-level Sort to strip")
    }
    val s = plan(df)
    assert(!s.contains("Window"), s"diagnostics must not use a window:\n$s")
    assert("HashAggregate".r.findAllIn(s).size >= 2, s"expect partial+final hash agg:\n$s")
    // the only Exchange may carry the k-row partial aggregate, nothing else
    assert("Exchange".r.findAllIn(s).size <= 1, s"only the k-row agg exchange is allowed:\n$s")
  }

  test("q85 MMR stages never degrade to cartesian or sort-merge joins") {
    val s = plan(ops.VectorOpsImpl.mmrTopK(spark, dir))
    assert(!s.contains("CartesianProduct"), s"MMR must not go all-pairs:\n$s")
    assert(!s.contains("SortMergeJoin"), s"metadata-sized frames must broadcast:\n$s")
    assert(s.contains("LessThan(vec_id,8)"), s"query filter must push into the scan:\n$s")
  }

  test("q87 radius search broadcasts queries and fuses the cosine floor into the join") {
    val df = ops.VectorOpsImpl.radiusSearch(spark, dir).queryExecution.analyzed match {
      case org.apache.spark.sql.catalyst.plans.logical.Sort(_, _, child, _) =>
        org.apache.spark.sql.graftshim.Bridge.ofRows(spark, child)
      case _ => fail("expected a top-level Sort to strip")
    }
    val s = plan(df)
    assert(s.contains("BroadcastNestedLoopJoin"), s"query side must broadcast:\n$s")
    assert(s.contains("LessThan(vec_id,8)"), s"query filter must push into the scan:\n$s")
    assert(!s.contains("Window"), s"radius search needs no rank, so no window:\n$s")
  }

  test("q93 knn graph never goes all-pairs and pushes the per-src top-k limit") {
    val s = plan(ops.VectorOpsImpl.knnGraph(spark, dir))
    assert(!s.contains("CartesianProduct"), s"candidates must come from LSH buckets, not all-pairs:\n$s")
    assert(!s.contains("BroadcastNestedLoopJoin"), s"candidate join must be an equi-join on (band, bv):\n$s")
    assert(s.contains("WindowGroupLimit"), s"rn <= k must push into the window as a group limit:\n$s")
  }

  test("q94 bloom decontamination probes the sketch before the exact join, which broadcasts") {
    val s = plan(ops.DedupOpsImpl.bloomDecontaminate(spark, dir))
    assert(s.contains("bloom_filter_agg"), s"holdout must aggregate into a bloom sketch:\n$s")
    assert(s.contains("might_contain"), s"corpus shingles must pre-screen against the sketch:\n$s")
    assert(!s.contains("SortMergeJoin"),
      s"exact verify + anti join see only screened/benchmark-sized sides, so they broadcast:\n$s")
  }

  test("q95 dsir top-N plans as TakeOrderedAndProject, never a global sort of the corpus") {
    val s = plan(ops.TextOpsImpl.dsirSelect(spark, dir))
    assert(s.contains("TakeOrderedAndProject"), s"top-N must be heap-based:\n$s")
  }

  test("q96 vocab drift builds the grid by broadcasting the sources frame, never a cartesian") {
    val s = plan(ops.TextOpsImpl.vocabDrift(spark, dir))
    assert(!s.contains("CartesianProduct"), s"grid must broadcast the |sources|-row side:\n$s")
    assert(s.contains("BroadcastNestedLoopJoin"), s"totals frames must broadcast:\n$s")
  }

  test("q99 graph search broadcasts the expanded candidate set; no corpus-wide join") {
    val s = plan(ops.VectorOpsImpl.graphSearchPlan(spark, dir))
    assert(!s.contains("CartesianProduct"), s"expansion must stay edge-keyed:\n$s")
    assert(!s.contains("SortMergeJoin"),
      s"candidate set is ≤ k+k² per query — every join must broadcast:\n$s")
    assert(s.contains("WindowGroupLimit"), s"rn <= 3 must push as a group limit:\n$s")
  }

  test("q100 recall panel: sample predicates are narrow filters and the truth set broadcasts") {
    val s = plan(ops.DedupOpsImpl.dedupRecall(spark, dir))
    assert(!s.contains("CartesianProduct"),
      s"truth must come from the shingle equi-join, never all-pairs:\n$s")
    // the sampled truth pair set and the panel totals are metadata-sized —
    // they must ride broadcasts, not shuffle the method pair sets
    assert(s.contains("BroadcastHashJoin"), s"truth-hit join must broadcast:\n$s")
    assert(s.contains("BroadcastNestedLoopJoin"), s"totals frame must broadcast:\n$s")
  }

  test("q90 hybrid retrieval broadcasts query terms into the token equi-join and pushes top-k limits") {
    // the shared lexical build (pre-checkpoint form — the memoized view is
    // a LogicalRDD leaf, opaque to plan assertions): the query-vocab
    // semi-join and the query-term probe must BOTH ride broadcasts (two+
    // BHJs), the corpus never reshuffles for the query batch, and the
    // shortlist window pushes its top-k as a group limit
    val lex = plan(ops.VectorOpsImpl.lexShortlistPlan(spark, dir))
    assert(!lex.contains("CartesianProduct"), s"no all-pairs stage is allowed:\n$lex")
    assert("BroadcastHashJoin".r.findAllIn(lex).size >= 2,
      s"query vocab semi-join and query-term probe must both broadcast:\n$lex")
    assert(lex.contains("WindowGroupLimit"), s"shortlist window must push the top-k limit:\n$lex")
    // the fusion consumer: still no all-pairs, and the final per-query
    // top-3 window also pushes as a group limit
    val s = plan(ops.VectorOpsImpl.hybridRrf(spark, dir))
    assert(!s.contains("CartesianProduct"), s"no all-pairs stage is allowed:\n$s")
    assert(s.contains("WindowGroupLimit"), s"fusion window must push the top-k limit:\n$s")
  }

  test("q111 collocations: marginals roll up from ONE shared bigram aggregation (exchange reuse)") {
    val df = ops.TextOpsImpl.collocations(spark, dir)
    df.collect() // AQE materializes its stage-reuse decisions at runtime
    val s = df.queryExecution.executedPlan.toString
    assert(s.contains("ReusedQueryStage") || s.contains("ReusedExchange"),
      s"the (wa, wb) bigram aggregation must be computed once and reused by " +
        s"both marginals and the total — 4 corpus scans otherwise:\n$s")
  }

  test("q82 classifier is a pure narrow scan: no shuffle, no UDF, pruned to (doc_id, text)") {
    val df = ops.TextOpsImpl.qualityClassifier(spark, dir).queryExecution.analyzed match {
      case org.apache.spark.sql.catalyst.plans.logical.Sort(_, _, child, _) =>
        org.apache.spark.sql.graftshim.Bridge.ofRows(spark, child)
      case _ => fail("expected a top-level Sort to strip")
    }
    val s = plan(df)
    assert(!s.contains("Exchange"), s"classifier must not shuffle:\n$s")
    assert(!s.contains("BatchEvalPython") && !s.contains("ScalaUDF"),
      s"classifier must stay expression-only:\n$s")
    val read = "ReadSchema: [^\n]*".r.findFirstIn(s).get
    assert(!read.contains("source") && !read.contains("lang"),
      s"classifier must prune unused columns: $read")
  }

  test("q84 repeated n-grams never go all-pairs: hash joins on the gram key only") {
    val s = plan(ops.TextOpsImpl.repeatedNgrams(spark, dir))
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"gram matching must stay equi-join:\n$s")
    // text must not cross the gram shuffle: grams project (doc_id, i, gram)
    // before any Exchange, so no shuffle carries the toks array
    val exchanges = s.split("Exchange").drop(1)
    exchanges.foreach { after =>
      val firstLine = after.linesIterator.take(1).mkString
      assert(!firstLine.contains("toks"), s"no shuffle may carry document text:\n$s")
    }
  }

  test("q106 pii scrub is a pure narrow scan: no shuffle, no UDF, regexes codegen'd") {
    val df = ops.TextOpsImpl.piiSupplierScrub(spark, dir).queryExecution.analyzed match {
      case org.apache.spark.sql.catalyst.plans.logical.Sort(_, _, child, _) =>
        org.apache.spark.sql.graftshim.Bridge.ofRows(spark, child)
      case _ => fail("expected a top-level Sort to strip")
    }
    val s = plan(df)
    assert(!s.contains("Exchange"), s"pii scrub must not shuffle:\n$s")
    assert(!s.contains("BatchEvalPython") && !s.contains("ScalaUDF"),
      s"detectors must be native expressions:\n$s")
  }

  test("q107 split assignment is a pure narrow scan with no shuffle") {
    val df = ops.TextOpsImpl.trainSplit(spark, dir).queryExecution.analyzed match {
      case org.apache.spark.sql.catalyst.plans.logical.Sort(_, _, child, _) =>
        org.apache.spark.sql.graftshim.Bridge.ofRows(spark, child)
      case _ => fail("expected a top-level Sort to strip")
    }
    val s = plan(df)
    assert(!s.contains("Exchange"), s"split must not shuffle:\n$s")
    assert(!s.toLowerCase.contains("rand"), s"split must be hash-deterministic:\n$s")
  }

  test("q109 semdedup pairs shuffle on the cluster key only; component map broadcasts") {
    val s = plan(ops.VectorOpsImpl.semDedup(spark, dir))
    assert(!s.contains("CartesianProduct"), s"pairing must stay cluster-scoped:\n$s")
    assert(s.contains("BroadcastHashJoin"),
      s"the pair-graph component map must broadcast against the corpus:\n$s")
  }

  test("q111 collocations: broadcast total, top-k limit pushed, no global sort of bigrams") {
    val s = plan(ops.TextOpsImpl.collocations(spark, dir))
    assert(s.contains("TakeOrderedAndProject"),
      s"top-k must plan as TakeOrderedAndProject:\n$s")
    assert(s.contains("BroadcastNestedLoopJoin") || s.contains("BroadcastHashJoin"),
      s"the single-row total must broadcast:\n$s")
  }

  test("q112 bm25: query terms and stats broadcast; the corpus index never broadcasts") {
    val s = plan(ops.TextOpsImpl.bm25TopK(spark, dir))
    // the literal query set and its df lookup broadcast into the tf probe;
    // the single-row stats frame broadcasts as a nested-loop join
    assert("BroadcastHashJoin".r.findAllIn(s).size >= 2,
      s"query side and df probe must be broadcast hash joins:\n$s")
    assert(s.contains("BroadcastNestedLoopJoin"),
      s"single-row stats must broadcast:\n$s")
    assert(!s.contains("CartesianProduct"), s"no cartesian allowed:\n$s")
  }

  test("q113 rank metrics: ground truth broadcasts into every path's id stream") {
    val s = plan(ops.VectorOpsImpl.rankMetrics(spark, dir))
    // the queries×3 exact set joins each path by broadcast, never sort-merge
    assert(s.contains("BroadcastHashJoin"),
      s"exact top-3 set must broadcast:\n$s")
  }

  test("q115 token budget: level offsets broadcast back; corpus side never sort-merges") {
    val s = plan(ops.TextOpsImpl.tokenBudgetSelect(spark, dir))
    assert(s.contains("BroadcastHashJoin"),
      s"the metadata-scale offsets frame must broadcast:\n$s")
    assert(!s.contains("SortMergeJoin"), s"no corpus-sized join may sort-merge:\n$s")
  }

  test("q118 MaxP: query terms broadcast into the chunk-postings probe") {
    val s = plan(ops.TextOpsImpl.passageMaxP(spark, dir))
    assert("BroadcastHashJoin".r.findAllIn(s).size >= 2,
      s"query and df probes must be broadcast hash joins:\n$s")
    assert(!s.contains("CartesianProduct"), s"no cartesian allowed:\n$s")
  }

  test("q121 KMV sketch runs on the native TopKPerKey heap, no per-source sort") {
    val s = plan(ops.TextOpsImpl.vocabSketch(spark, dir))
    assert(s.contains("TopKPerKey"),
      s"bottom-k must plan as the native heap operator:\n$s")
  }

  test("q122 calibration: offsets and per-source totals broadcast") {
    val s = plan(ops.TextOpsImpl.qualityCalibration(spark, dir))
    assert("BroadcastHashJoin".r.findAllIn(s).size >= 2,
      s"offsets and n_source frames must broadcast:\n$s")
  }

  test("q125 zorder key is a narrow pass: broadcast stats only, codegen'd interleave") {
    val df = ops.LayoutOpsImpl.zorderKey(spark, dir).queryExecution.analyzed match {
      case org.apache.spark.sql.catalyst.plans.logical.Sort(_, _, child, _) =>
        org.apache.spark.sql.graftshim.Bridge.ofRows(spark, child)
      case _ => fail("expected a top-level Sort to strip")
    }
    val s = plan(df)
    assert(!s.contains("SortMergeJoin"), s"stats must broadcast:\n$s")
    assert(!s.contains("Window"), s"the key itself needs no window:\n$s")
    assert(s.contains("zorder2"), s"native expression must be in the plan:\n$s")
  }

  test("q126 skipping panel: offsets broadcast, ranks stay bucket-partitioned") {
    val s = plan(ops.LayoutOpsImpl.zorderSkipping(spark, dir))
    assert(s.contains("BroadcastHashJoin"), s"offset join must broadcast:\n$s")
    assert(!s.contains("SortMergeJoin"), s"no sort-merge join anywhere:\n$s")
    // the corpus-sized ranks must be bucket-partitioned windows; the only
    // unpartitioned window allowed is the offsets prefix-sum, which runs
    // over the bucket-count frame (metadata-sized by construction)
    val rowNumberWindows = "row_number\\(\\) windowspecdefinition\\(([^,]*),"
      .r.findAllMatchIn(s).map(_.group(1)).toSeq
    assert(rowNumberWindows.nonEmpty && rowNumberWindows.forall(_.contains("bucket")),
      s"every row_number window must partition by bucket: $rowNumberWindows")
  }

  test("q151 hilbert panel: offsets broadcast, ranks stay bucket-partitioned") {
    val s = plan(ops.LayoutOpsImpl.hilbertSkipping(spark, dir))
    assert(s.contains("BroadcastHashJoin"), s"offset join must broadcast:\n$s")
    assert(!s.contains("SortMergeJoin"), s"no sort-merge join anywhere:\n$s")
    val rowNumberWindows = "row_number\\(\\) windowspecdefinition\\(([^,]*),"
      .r.findAllMatchIn(s).map(_.group(1)).toSeq
    assert(rowNumberWindows.nonEmpty && rowNumberWindows.forall(_.contains("bucket")),
      s"every row_number window must partition by bucket: $rowNumberWindows")
  }

  test("q132 count-min builds from one corpus tokenize-aggregate, no sort-merge join") {
    val s = plan(ops.TextOpsImpl.cmsHeavyHitters(spark, dir))
    // the cell lookup joins word-counts (vocab-sized) to the grid
    // (depth×width rows) — both metadata-scale, so nothing may degrade to a
    // corpus-shuffling sort-merge join
    assert(!s.contains("SortMergeJoin"), s)
    // top-k is a bounded TakeOrdered, never a global sort
    assert(s.contains("TakeOrderedAndProject"), "limit after orderBy must stay bounded")
  }

  test("q133 shard assignment broadcasts the component map into one narrow corpus scan") {
    val s = plan(ops.DedupOpsImpl.dedupShards(spark, dir))
    assert(s.contains("BroadcastHashJoin"), "pair-graph-sized component map must broadcast")
    assert(!s.contains("SortMergeJoin"), s)
    val read = "ReadSchema: [^\n]*".r.findFirstIn(s).get
    assert(read.contains("doc_id") && !read.contains("text"),
      s"the corpus scan must read ids only, never the text: $read")
  }

  test("q134 cluster cards broadcast the component map; corpus text scans once") {
    // the corpus-sized stage: broadcast cluster map, one documents scan
    val t = plan(ops.VectorOpsImpl.clusterTermCounts(spark, dir))
    assert(t.contains("BroadcastHashJoin"), "cluster map must broadcast into the doc join")
    assert(!t.contains("SortMergeJoin"), t)
    assert("documents.parquet".r.findAllIn(t).size == 1,
      "the corpus must be tokenized exactly once")
    // the assembly reads the checkpointed term table; nothing re-scans text
    val s = plan(ops.VectorOpsImpl.clusterCards(spark, dir))
    assert(!s.contains("SortMergeJoin"), s)
    assert(!s.contains("documents.parquet"),
      "cards assemble from the checkpointed term aggregate, not a re-scan")
  }

  test("q134 cluster map join degrades to shuffle hash when over the broadcast budget") {
    // shrink the budget to zero: the SAME code path must now plan a
    // shuffle hash join instead of driver-OOMing on an oversized broadcast
    spark.conf.set("spark.graft.broadcast.maxBytes", "0")
    try {
      val t = plan(ops.VectorOpsImpl.clusterTermCounts(spark, dir))
      assert(!t.contains("BroadcastHashJoin"),
        s"an over-budget cluster map must not broadcast:\n$t")
      assert(t.contains("ShuffledHashJoin"),
        s"fallback must be the hinted shuffle hash join, not sort-merge:\n$t")
    } finally spark.conf.unset("spark.graft.broadcast.maxBytes")
    // budget restored: the broadcast regime comes back
    val t2 = plan(ops.VectorOpsImpl.clusterTermCounts(spark, dir))
    assert(t2.contains("BroadcastHashJoin"), t2)
  }

  test("q146 range join rides the bucket equi-join, never a nested loop") {
    val s = plan(ops.RelationalOps.purchaseClickAttribution(spark, dir))
    // without the time-bucket key the only join strategy for a pure
    // inequality predicate is BroadcastNestedLoopJoin — O(n²) compares
    assert(!s.contains("BroadcastNestedLoopJoin"),
      s"interval predicate must ride the bucket equi-join:\n$s")
    assert(!s.contains("CartesianProduct"), s)
    assert(s.contains("BroadcastHashJoin") || s.contains("SortMergeJoin") ||
      s.contains("ShuffledHashJoin"), s"expect an equi-join on bucket:\n$s")
  }

  test("q147 eval ranks scores bucket-partitioned with broadcast offsets") {
    val s = plan(ops.LrOpsImpl.lrEval(spark, dir))
    assert(s.contains("BroadcastHashJoin"), s"offset join must broadcast:\n$s")
    assert(!s.contains("SortMergeJoin"), s)
    // the distinct-score ranking window must stay bucket-partitioned; the
    // only unpartitioned window is the 256-row offsets prefix sum
    val cumWindows = "windowspecdefinition\\(([^,]*), p#"
      .r.findAllMatchIn(s).map(_.group(1)).toSeq
    assert(cumWindows.nonEmpty && cumWindows.forall(_.contains("bucket")),
      s"score-histogram windows must partition by bucket: $cumWindows")
  }

  test("q124 dim stats reduce in one pass: no explode before the aggregate") {
    val s = plan(ops.VectorOpsImpl.dimStats(spark, dir))
    // the 64-row unfold must sit ABOVE the single-row aggregate; a Generate
    // under the agg would mean the corpus was exploded into n×64 rows
    val genIdx = s.indexOf("Generate")
    val aggIdx = s.lastIndexOf("HashAggregate")
    assert(genIdx >= 0 && aggIdx > genIdx,
      s"explode must apply to the aggregated single row, not the corpus:\n$s")
    assert("HashAggregate".r.findAllIn(s).size >= 2, "expect partial+final agg")
  }

  test("q172 HLL registers partial-aggregate before the shuffle; no sort-merge") {
    val s = plan(ops.HllOpsImpl.hllCardinality(spark, dir))
    assert("HashAggregate".r.findAllIn(s).size >= 2,
      "register MAX must map-side combine (partial + final agg)")
    assert(!s.contains("SortMergeJoin"),
      s"sketch/exact joins are sketch-sized and must broadcast: $s")
  }

  test("q173 PPS prefix sum is bucket-partitioned; offsets broadcast") {
    val s = plan(ops.SamplingOpsImpl.ppsSample(spark, dir))
    val cumWindows = "windowspecdefinition\\(([^,]*), doc_id#"
      .r.findAllMatchIn(s).map(_.group(1)).toSeq
    assert(cumWindows.nonEmpty && cumWindows.forall(_.contains("bucket")),
      s"running weight sums must partition by bucket: $cumWindows")
    assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastNestedLoopJoin"),
      "bucket offsets and the total must broadcast")
    assert(!s.contains("SortMergeJoin"), s)
  }

  test("q176 chi2 ranks through the bounded TopKPerKey heap, not a full sort") {
    val s = plan(ops.AssociationOpsImpl.sourceChi2Tokens(spark, dir))
    assert(s.contains("TopKPerKey"), "per-source top-k must use the heap operator")
    assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastNestedLoopJoin"),
      "source sizes and the doc total must broadcast")
  }

  test("q177 affinity's pairwise matrix broadcasts the centroid frame") {
    val s = plan(ops.AffinityOpsImpl.sourceAffinity(spark, dir))
    assert(s.contains("BroadcastNestedLoopJoin"),
      "sources² pairing works on a broadcast metadata frame")
    assert("HashAggregate".r.findAllIn(s).size >= 2,
      "centroid sums must map-side combine")
  }

  test("q185 drift: one corpus join, era centroids map-side combine, halves broadcast") {
    val s = plan(ops.DriftOpsImpl.sourceDrift(spark, dir))
    assert("HashAggregate".r.findAllIn(s).size >= 2,
      "per-(source, era) centroid sums must map-side combine")
    assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastNestedLoopJoin"),
      "the early/late per-source frames must broadcast, not sort-merge")
    assert(!s.contains("CartesianProduct"), s)
  }

  test("q187/q188 sweep panels aggregate before the grid; no corpus-wide window") {
    Seq(ops.CurationPanelsImpl.qualitySweep(spark, dir),
        ops.CurationPanelsImpl.truncationSweep(spark, dir)).foreach { df =>
      val s = plan(df)
      assert(s.contains("BroadcastNestedLoopJoin"),
        "the threshold/length grid must broadcast")
      assert(!s.contains("SortMergeJoin") && !s.contains("CartesianProduct"), s)
      assert(!s.contains("Window"), "panels are aggregate-only, no window over data")
    }
  }

  test("q189 schedule: interleave window runs over the rank-bounded frame only") {
    val df = ops.ScheduleOpsImpl.mixtureSchedule(spark, dir)
    val s = plan(df)
    assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastNestedLoopJoin"),
      "weights must broadcast into the ranked frame")
    // the global (unpartitioned) interleave window must sit ABOVE the
    // rk <= N filter: locked by checking the filter exists in the plan
    assert(s.contains("rk"), s)
    assert("Filter .*\\(rk#\\d+L? <= 100\\)".r.findFirstIn(s.replace("\n", " ")).isDefined
      || s.contains("(rk"), "per-source rank bound must prune before the global window")
  }

  test("q200 native minhash: no explode, no aggregate, stays in whole-stage codegen") {
    val df = ops.DedupOpsImpl.minhash8NativePlan(spark, dir)
    val s = plan(df)
    assert(!s.contains("Generate"), "native lanes must not explode shingles")
    assert(!s.contains("HashAggregate") && !s.contains("SortAggregate"),
      "native lanes need no doc-keyed group-MIN")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val noAqe = plan(ops.DedupOpsImpl.minhash8NativePlan(spark, dir))
      assert(noAqe.contains("*("), "signature projection must be codegen'd")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q181 truth refresh scores only the delta: queries broadcast, no cartesian") {
    graft.expr.DotF64.register(spark)
    val e = Tables(spark, dir, "embeddings")
    val q = e.filter(org.apache.spark.sql.functions.col("vec_id") < 8)
      .select(org.apache.spark.sql.functions.col("vec_id").as("query_id"),
        org.apache.spark.sql.functions.col("embedding").as("qe"))
    val old = ops.VectorOpsImpl.cosineTopK(spark, dir)
    val delta = e.filter(org.apache.spark.sql.functions.col("vec_id") >= 400)
    val s = plan(ops.AnnPersistImpl.refreshTruth(old, q, delta))
    assert(s.contains("BroadcastNestedLoopJoin"),
      "the query side must broadcast into the delta scan")
    assert(!s.contains("CartesianProduct"), s)
    val reads = "PushedFilters: [^\n]*".r.findAllIn(s).toSeq
    assert(reads.exists(_.contains("GreaterThanOrEqual(vec_id,400)")),
      s"the delta filter must push into the scan: $reads")
  }

  test("vocab-dictionary joins broadcast: the exploded corpus is never shuffled on tok") {
    // q91/q95/q98/q139 join the exploded corpus against an O(vocab)
    // dictionary side (token probabilities / held-out vocabulary / learned
    // segmentation). The optimizer cannot size the derived side, so
    // without the explicit broadcast these degraded to shuffling the
    // CORPUS on a vocabulary-cardinality key — mostly-empty partitions
    // with hot tokens piled into a few (the round-13 sf1 tail).
    Seq(
      "q91 lm score" -> ops.TextOpsImpl.lmScore(spark, dir),
      "q95 dsir scores" -> ops.TextOpsImpl.dsirScores(spark, dir),
      "q98 oov rate" -> ops.TextOpsImpl.oovRate(spark, dir),
      "q139 unigram encode" -> ops.UnigramOpsImpl.unigramEncode(spark, dir)
    ).foreach { case (name, df) =>
      val s = plan(df)
      assert(s.contains("BroadcastHashJoin"),
        s"$name: the dictionary side must broadcast:\n$s")
      assert(!s.contains("SortMergeJoin") && !s.contains("ShuffledHashJoin"),
        s"$name: the corpus must not shuffle on the token key:\n$s")
    }
  }
}
