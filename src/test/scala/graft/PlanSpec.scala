package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Physical-plan quality gates: the properties that matter at 100 TB
  * (pushdown, pruning, broadcast choice, no accidental cartesian products,
  * bucketed co-located joins) asserted on the actual executed plans.
  */
class PlanSpec extends SparkSpec {
  import spark.implicits._

  private def plan(df: DataFrame): String = {
    df.collect() // force AQE to finalize the executed plan
    df.queryExecution.executedPlan.toString
  }

  test("q01_agg pushes the shipdate filter and prunes columns at the scan") {
    val p = SparkEntry.queries("q01_agg")(spark, sf).queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"missing pushdown:\n$p")
    // only the 5 referenced columns are read, not all 11
    assert(p.contains("l_returnflag") && !p.contains("l_suppkey"), s"column pruning failed:\n$p")
  }

  test("q03_join_left broadcasts the dimension tables") {
    val p = plan(SparkEntry.queries("q03_join_left")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"dims not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q06 theta self-join stays an equi-join on the region key (no cartesian)") {
    val p = plan(SparkEntry.queries("q06_cross_theta")(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"theta join degenerated to a product:\n$p")
  }

  test("q12 upsert compiles to a single left-anti join + union, no cartesian") {
    val p = plan(SparkEntry.queries("q12_upsert")(spark, sf))
    assert(p.contains("LeftAnti"), s"expected anti join:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("qt05 indexed + prefix-filtered jaccard have no nested-loop pair explosion") {
    for (q <- Seq("qt05_ngram_jaccard", "qt05p_ngram_jaccard_prefix")) {
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q pair generation degenerated:\n$p")
    }
  }

  test("near-dup and ANN candidate joins stay equi-keyed (no product anywhere in the family)") {
    for (q <- Seq("qt06_minhash_lsh", "qt07_simhash", "qt09_lsh_topk", "qt10_ivf_topk")) {
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q candidate generation degenerated to a product:\n$p")
    }
  }

  test("bruteForceTopK broadcasts the query side; corpus streams with no shuffle before the join") {
    val e = Tables.table(spark, sf, "embeddings")
    val df = graft.operators.Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 5), k = 3)
    // AQE's toString appends "== Initial Plan ==" after the final plan —
    // only the final plan is under test
    val p = plan(df).split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastNestedLoopJoin"), s"query side not broadcast:\n$p")
    // the only Exchange allowed is the window's partitioning on query_id,
    // downstream of the join — the corpus side must reach the join unshuffled
    val joinIdx = p.indexOf("BroadcastNestedLoopJoin")
    assert(!p.substring(joinIdx).contains("Exchange hashpartitioning"),
      s"corpus shuffled before the join:\n$p")
  }

  test("pqTopK: queries broadcast, corpus codes stream unshuffled, ADC lookups UDF-free") {
    val e = Tables.table(spark, sf, "embeddings")
    val df = graft.operators.Similarity.pqTopK(e, e.filter(col("vec_id") < 5), k = 3,
      m = 4, ksub = 16, lloydIters = 1, rerank = 0, oracleMode = true)
    val p = plan(df).split("== Initial Plan ==")(0)
    // the bruteForceTopK contract, but over the code store: BNLJ with the
    // query/tab side broadcast, corpus reaching the join with no Exchange
    assert(p.contains("BroadcastNestedLoopJoin"), s"query side not broadcast:\n$p")
    val joinIdx = p.indexOf("BroadcastNestedLoopJoin")
    assert(!p.substring(joinIdx).contains("Exchange hashpartitioning"),
      s"corpus shuffled before the join:\n$p")
    // the per-PAIR scoring is the element_at chain — the only UDFs in the
    // plan are the per-ROW encode and per-QUERY table builders, which sit
    // below the join, never applied to joined pairs
    val pairSide = p.substring(0, joinIdx)
    assert(!pairSide.contains("BatchEvalPython"), s"python in plan:\n$p")
  }

  test("ivfPqTopK: cell-pruned candidates via broadcast EQUI-join, codes unshuffled, no BNLJ") {
    val e = Tables.table(spark, sf, "embeddings")
    val df = graft.operators.Similarity.ivfPqTopK(e, e.filter(col("vec_id") < 5), k = 3,
      nlist = 16, nProbe = 4, m = 4, ksub = 16, lloydIters = 1, rerank = 0,
      oracleMode = true)
    val p = plan(df).split("== Initial Plan ==")(0)
    // the whole point vs pqTopK: candidate generation is a hash join on
    // cell (probes broadcast), NOT an exhaustive nested-loop pairing —
    // and the code store still streams to it with no shuffle
    assert(p.contains("BroadcastHashJoin [cell"), s"no cell equi-join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"exhaustive pairing crept in:\n$p")
    val joinIdx = p.indexOf("BroadcastHashJoin [cell")
    assert(!p.substring(joinIdx).contains("Exchange hashpartitioning"),
      s"code store shuffled before the cell join:\n$p")
  }

  test("partitioned writes enable partition pruning at the scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    Tables.overwrite(Tables.table(spark, sf, "customer"), dir, partitionBy = Seq("c_mktsegment"))
    val q = spark.read.parquet(dir).filter(col("c_mktsegment") === "BUILDING")
      .groupBy(col("c_nationkey")).count()
    q.collect()
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(c_mktsegment"),
      s"no partition pruning:\n$p")
  }

  test("bucketed tables join without a shuffle exchange") {
    val o = Tables.table(spark, sf, "orders")
    val l = Tables.table(spark, sf, "lineitem")
    o.write.mode("overwrite").bucketBy(4, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("orders_b")
    l.write.mode("overwrite").bucketBy(4, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("lineitem_b")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val p = try {
      // force the shuffle-join path: at test scale the dim would broadcast,
      // hiding the property under test (bucket co-location)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("lineitem_b")
        .join(spark.table("orders_b"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus")).agg(sum(col("l_quantity")).as("q"))
      joined.collect()
      joined.queryExecution.executedPlan.toString
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    // the join itself must not re-shuffle either bucketed side (the final
    // aggregation's exchange on o_orderstatus is expected and fine)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), s"unexpected join:\n$p")
    assert(!p.contains("Exchange hashpartitioning(l_orderkey") &&
      !p.contains("Exchange hashpartitioning(o_orderkey"),
      s"bucketed join still shuffles on the join key:\n$p")
  }

  test("split assignment is a narrow map: no join, no pre-aggregate shuffle of the table") {
    val df = graft.operators.Split.assignSplit(Tables.table(spark, sf, "orders"),
      col("o_orderkey"), Seq("a" -> 1.0, "b" -> 1.0))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join") && !p.contains("Exchange"),
      s"split must not shuffle — it's a pure column map:\n$p")
  }

  test("snapshotDiff is one full-outer join, both sides hash-partitioned, no product") {
    val base = Tables.table(spark, sf, "orders")
    val df = graft.operators.TableDiff.snapshotDiff(
      base.filter(col("o_orderkey") % 7 =!= 0), base.filter(col("o_orderkey") % 5 =!= 0),
      Seq("o_orderkey"))
    val p = plan(df)
    assert(p.contains("FullOuter"), s"expected full outer join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // exactly one join in the plan (not one per compared column)
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
      .findAllIn(p.split("== Initial Plan ==")(0)).size === 1, s"expected a single join:\n$p")
  }

  test("contamination and repetition plans stay equi-keyed (no product)") {
    for (q <- Seq("qt15_contamination", "qt14_repetition")) {
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q degenerated to a product:\n$p")
    }
  }

  test("mixture is a map: no join, no shuffle anywhere in the plan") {
    val docs = Tables.table(spark, sf, "documents").select("doc_id")
    val df = graft.operators.Mixture.mixCorpora(
      Seq(("a", docs, 1.5), ("b", docs, 0.4)), key = col("doc_id"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join") && !p.contains("Exchange"),
      s"mixing must not shuffle:\n$p")
  }

  test("bloom-pruned join: probe filter sits below the join on the fact side") {
    val p = plan(SparkEntry.queries("q45_bloom_join")(spark, sf))
      .split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct"))
    // the bloom probe (a UDF filter) must appear BELOW the join node —
    // plans print top-down, so its index is after the join's
    val joinIdx = p.indexOf("Join")
    val filterIdx = p.indexOf("UDF")
    assert(joinIdx >= 0 && filterIdx > joinIdx,
      s"bloom probe not below the join:\n$p")
  }

  test("delta dedup: fingerprint anti-join, no product") {
    val p = plan(SparkEntry.queries("qt21_dedup_delta")(spark, sf))
    assert(p.contains("LeftAnti"), s"expected fingerprint anti-join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("int8 quantization is map-only: no exchange, no join, no UDF") {
    val df = SparkEntry.queries("qt22_quantize_int8")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // projects over a scan, nothing else — higher-order array lambdas
    // (transform/aggregate) evaluate outside whole-stage codegen by Spark
    // design, but the operator never shuffles, joins, or leaves Catalyst
    assert(!p.contains("Exchange"), s"quantization shuffled:\n$p")
    assert(!p.contains("Join"), s"quantization joined:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.toLowerCase.contains("scalaudf"),
      s"quantization left Catalyst:\n$p")
  }

  test("incremental near-dup delta: every join equi-keyed, no product") {
    val p = plan(SparkEntry.queries("qt24_neardup_delta")(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"delta pair generation degenerated to a product:\n$p")
  }

  test("quantized ANN: bucket join + int8 shortlist + float rerank all equi-keyed, no UDF") {
    // the raw operator, not qt22r — the recall harness intentionally
    // contains the brute-force baseline (a pinned BNLJ) and a tiny
    // variant-dim crossJoin, which are gated separately
    val e = Tables.table(spark, sf, "embeddings")
    val df = graft.operators.Similarity.lshTopKInt8(e, e.filter($"vec_id" < 20),
      k = 5, planes = 6, tables = 4, probes = 4, rerank = 25)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"quantized ANN degenerated to a product:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.toLowerCase.contains("scalaudf"),
      s"quantized ANN left Catalyst:\n$p")
    // the IVF twin: same scoring tail over the cell-probe candidates (the
    // nearestCells scalar is the IVF family's declared, measured UDF)
    val pi = plan(graft.operators.Similarity.ivfTopKInt8(e, e.filter($"vec_id" < 20),
      k = 5, nlist = 16, nProbe = 4, lloydIters = 1, rerank = 25))
    assert(!pi.contains("CartesianProduct") && !pi.contains("BroadcastNestedLoopJoin"),
      s"quantized IVF degenerated to a product:\n$pi")
  }

  test("composed curation (qc01/qc02): no product in any stage frame's plan") {
    // Per-STAGE gates rather than one plan string over the 12-branch count
    // union: each stage frame's own operators sit at the top of its plan
    // (upstream stages appear only as InMemoryTableScan leaves), so a
    // product introduced by any single transition is caught in full — and
    // the k^depth nested-cached-subtree blowup of the one-giant-string
    // formulation (which OOM'd at 8 stages) never materializes past the
    // session's maxPlanStringLength cap.
    def gateStages(tag: String, st: graft.pipeline.Curation.Stages): Unit =
      for ((name, f) <- Seq("quality" -> st.quality, "spanGated" -> st.spanGated,
          "exact" -> st.exact, "deduped" -> st.deduped, "clean" -> st.clean,
          "split" -> st.split, "packed" -> st.packed)) {
        val p = plan(f)
        assert(!p.contains("CartesianProduct"),
          s"cartesian in composed curation ($tag/$name):\n$p")
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"nested-loop join in composed curation ($tag/$name):\n$p")
      }
    val (corpus, bench) = graft.queries.CurationQ.fixture(spark, sf)
    val batch = graft.pipeline.Curation.stages(corpus, bench, "doc_id", "text",
      graft.queries.CurationQ.cfg, graft.pipeline.Curation.Cached(release = false))
    gateStages("qc01", batch)
    val (corpusRaw, benchD, delta) = graft.queries.CurationQ.fixtureDelta(spark, sf)
    val state = graft.pipeline.Curation.stateOf(
      graft.pipeline.Curation.stages(corpusRaw, benchD, "doc_id", "text",
        graft.queries.CurationQ.cfgDelta, graft.pipeline.Curation.Cached(release = false)),
      "doc_id", "text")
    gateStages("qc02", graft.pipeline.Curation.curateDelta(state, delta, benchD,
      "doc_id", "text", graft.queries.CurationQ.cfgDelta,
      graft.pipeline.Curation.Cached(release = false)))
  }

  test("composed pipeline: dims broadcast, facts never sort-merge, no cartesian") {
    val p = plan(SparkEntry.queries("qp01_pipeline")(spark, sf))
    // every dim join (holidays flag, municipios ILIKE, relations) broadcasts
    // — the fact side (lineitem-derived OD) must not shuffle for them
    assert(p.contains("BroadcastHashJoin"), s"dims not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"a dim join fell back to sort-merge:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in the composed plan:\n$p")
    // the zones self-join may plan as a broadcast nested loop ONLY because
    // the single-branch fixture makes zone_level a folded constant (the
    // 3-branch reference shape keeps the equi-key); both sides are
    // dimension-sized. Any OTHER nested loop in the composed plan is a bug,
    // so every BNLJ occurrence must carry the zones-pair != condition.
    p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).foreach { l =>
      assert(l.contains("origin") && l.contains("destination"),
        s"unexpected nested-loop join (not the zones pair): $l\n$p")
    }
  }

  test("duplicate spans: hash equi-join over combinable aggregates, no product, no UDF") {
    for (q <- Seq("qt29_dup_spans", "qt29s_dup_span_stats")) {
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q span detection degenerated to a product:\n$p")
      assert(!p.contains("BatchEvalPython") && !p.toLowerCase.contains("scalaudf"),
        s"$q left Catalyst:\n$p")
      // the dup-hash aggregate must partial-aggregate before the shuffle
      // (map-side combine on the window-hash key)
      assert(p.contains("partial_count") || p.contains("HashAggregate"),
        s"$q lost map-side combine:\n$p")
    }
  }

  test("DSIR: bucket model broadcast back onto the corpus, shared exchange, no product, no UDF") {
    val p = plan(SparkEntry.queries("qt47_dsir")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"model table not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"DSIR grew a product:\n$p")
    assert(!p.toLowerCase.contains("scalaudf"), s"DSIR left Catalyst:\n$p")
    // the model derivation and the per-doc scoring read ONE (doc,bucket)
    // aggregation — the corpus explode+hash must not run twice
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
      s"the shared (doc,bucket) exchange is not reused:\n$p")
  }

  test("funnel: every step aggregation joins equi-keyed on user_id, no product") {
    val p = plan(SparkEntry.queries("q48_funnel")(spark, sf))
    assert(!p.contains("CartesianProduct"), s"funnel grew a product:\n$p")
    // three conditional-min aggregates — the step logic is aggregation,
    // not a full-stream window over events
    assert(!p.contains("WindowExec") || p.contains("HashAggregate"),
      s"funnel lost its aggregate shape:\n$p")
  }

  test("contrastive mining: query side broadcast, one BNLJ by contract, corpus unshuffled") {
    val emb = Tables.table(spark, sf, "embeddings")
    val df = graft.operators.Similarity.contrastivePairs(
      emb, emb.filter($"vec_id" < 5), kPos = 2, kNeg = 2)
    val p = plan(df)
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the pinned broadcast product is the documented contract:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"corpus must stream, never shuffle for the pair scan:\n$p")
  }

  test("native kernels reach the executed plans — no interpreted HOF left on a hot path") {
    // HOF lambdas (transform/aggregate/zip_with) never enter whole-stage
    // codegen; each conversion to a native expression is gated here so a
    // refactor can't silently reintroduce the interpreted form (the
    // hashEmbedding regression was 9.4 of the entry's 10.3 s). The
    // OPTIMIZED plan is the gate surface: the physical summary elides
    // aggregate result expressions (score rides ObjectHashAggregate's
    // output list), so the executed-plan string never shows them.
    def logical(q: String): String =
      SparkEntry.queries(q)(spark, sf).queryExecution.optimizedPlan.toString
    // r16 replaced the BM25 collect_list + array_sort + fold_sum score with
    // a running-sum window (Retrieval.bm25TopKIndexed): the gate is now the
    // ABSENCE of the per-group array machinery and the presence of the
    // window, so a refactor back to the interpreted fold (or to an
    // order-nondeterministic plain groupBy sum) cannot land silently.
    val bm25 = logical("qt28_bm25")
    assert(!bm25.contains("collect_list"),
      s"BM25 score path regressed to a per-group array:\n${bm25.take(4000)}")
    assert(bm25.contains("windowspecdefinition"),
      s"BM25 score path lost the running-sum window:\n${bm25.take(4000)}")
    val rag = logical("qr01_retrieval")
    assert(rag.contains("graft_hash_embedding"),
      "composed retrieval lost the native embedding expression")
    assert(!rag.contains("collect_list"),
      "composed retrieval regressed to a per-group array on the score path")
    assert(rag.contains("windowspecdefinition"),
      "composed retrieval lost the running-sum score window")
    val int8 = logical("qt25_ivf_int8_recall")
    assert(int8.contains("graft_dot_i32"),
      "int8 scoring lost the native integer-dot kernel")
    val scrub = logical("qt17_scrub")
    assert(scrub.contains("graft_scrub_pii"),
      "PII scrub lost the native one-pass expression (regex-chain regression)")
    val quality = logical("qt11_quality")
    assert(quality.contains("graft_token_count"),
      "quality gate lost the native token counter (interpreted filter-HOF regression)")
    assert(quality.contains("graft_profile_hits"),
      "stopword ratio lost the native profile-hits kernel")
    val lang = logical("qt02_langid")
    assert(lang.contains("graft_profile_hits"),
      "langId lost the native profile-hits kernel (per-profile HOF regression)")
  }

  test("RAG chunk key is a struct of both ids — never an arithmetic pack") {
    // the 10× oracle sweep caught (doc_id+1)·2^20 + chunk_id overflowing
    // int64 at 2^40-offset ids (Spark with ANSI off WRAPS silently — a key
    // collision, not an error); the struct key is total over the whole
    // long domain. Gate the schema so a refactor back to a packed integer
    // (or a hash surrogate with collision risk) cannot land silently.
    import org.apache.spark.sql.types.{LongType, StructType}
    val ck = graft.queries.TextOps.ragChunkStore(spark, sf).schema("ck")
    ck.dataType match {
      case st: StructType =>
        assert(st.fieldNames.toSeq === Seq("doc_id", "chunk_id"),
          s"ck must carry both ids by name: ${st.fieldNames.mkString(",")}")
        assert(st.fields.forall(_.dataType == LongType),
          s"ck fields must stay long (full id domain): $st")
      case other => fail(s"ck regressed to a non-struct key: $other")
    }
  }

  test("SCD2: one shuffle — both windows ride the same (key, ts) partitioning") {
    val ev = Tables.events(spark, sf).select($"user_id", $"event_type",
      expr("ts_ns div 1000").as("us"), $"event_id")
    val df = graft.operators.Scd2.buildScd2(ev, Seq("user_id"),
      Seq("event_type"), "us", tieBreak = Seq($"event_id".asc))
    // the AQE plan string echoes the initial plan below the final one —
    // count exchanges only in the executed section
    val p = plan(df).split("== Initial Plan ==").head
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 1, s"SCD2 should shuffle once on user_id, saw $exchanges:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("trade-edge store is bucketed: iteration join + outdegree leave the edge side unshuffled") {
    // force the store build + catalog registration through the real entry
    SparkEntry.queries("q50p_pagerank_prod")(spark, sf).collect()
    val tbl = graft.queries.Extras.tradeEdgeTable(sf)
    val e = spark.table(tbl)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // the power iteration's join shape: edges ⨝ rank on src, inflow by dst
      val ranks = spark.range(64)
        .select($"id".as("src"), lit(1.0).as("rank"))
      val j = e.join(ranks, "src").groupBy($"dst").agg(sum($"rank").as("inflow"))
      val pj = plan(j).split("== Initial Plan ==").head
      assert(pj.contains("SelectedBucketsCount"), s"edge scan is not a bucketed read:\n$pj")
      // the only hash(src) exchange allowed is the RANK side; the edge side
      // rides its buckets (the groupBy(dst) exchange is the iteration's one
      // intended shuffle and keys on dst, not src)
      val srcEx = "Exchange hashpartitioning\\(src".r.findAllIn(pj).length
      assert(srcEx <= 1, s"edge side re-shuffled on src:\n$pj")
      val po = plan(e.groupBy($"src").agg(count(lit(1)).as("odeg")))
        .split("== Initial Plan ==").head
      assert(!po.contains("Exchange hashpartitioning(src"),
        s"outdegree shuffles a table bucketed on its own key:\n$po")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("trade-edge store: catalog re-registration over existing bucketed files") {
    // the shared test session means tableExists is true after the first
    // build, so the fresh-session branch (CREATE TABLE ... CLUSTERED BY
    // ... LOCATION over the already-written bucket files) never runs in
    // the suite naturally — simulate it: DROP the EXTERNAL table
    // (metadata only, files retained) and let the entry re-register
    SparkEntry.queries("q50p_pagerank_prod")(spark, sf).collect() // ensure built
    val tbl = graft.queries.Extras.tradeEdgeTable(sf)
    val before = spark.table(tbl).count()
    spark.sql(s"DROP TABLE $tbl")
    val r = SparkEntry.queries("q50p_pagerank_prod")(spark, sf).collect()
    assert(spark.catalog.tableExists(tbl), "store was not re-registered")
    assert(spark.table(tbl).count() === before, "re-registered store lost rows")
    assert(r.length === 20)
    // bucket metadata survives re-registration: aggregation on the bucket
    // key still runs exchange-free
    val agg = spark.table(tbl).groupBy($"src").agg(count(lit(1)).as("c"))
    val p = plan(agg).split("== Initial Plan ==").head
    assert(!p.contains("Exchange hashpartitioning(src"),
      s"re-registered table lost its bucketing:\n$p")
  }

  test("derived-edge PageRank: repartition(src)+persist survives as co-partitioning") {
    // NOT localCheckpoint: under AQE the checkpointed RDD scans back as
    // UnknownPartitioning (measured — both join sides re-shuffled); an
    // explicit-count repartition inside a persisted frame keeps
    // HashPartitioning(src) visible to every iteration's join
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val e = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")).toDF("s", "t")
      .select($"s".as("src"), $"t".as("dst")).distinct()
      .repartition(parts, $"src").persist()
    e.count()
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val ranks = Seq(("a", 1.0), ("b", 1.0)).toDF("src", "rank")
      val pj = plan(e.join(ranks, "src")).split("== Initial Plan ==").head
      // the one-time REPARTITION_BY_NUM build shuffle prints INSIDE the
      // InMemoryRelation subtree; the property under test is that nothing
      // re-shuffles the edge side BETWEEN the join and the cache scan
      val aboveCache = pj.split("InMemoryTableScan").head
      assert(aboveCache.contains("SortMergeJoin") || aboveCache.contains("ShuffledHashJoin"),
        s"unexpected join shape:\n$pj")
      assert(!aboveCache.contains("Exchange hashpartitioning(src"),
        s"persisted edge frame lost its src partitioning (edge side re-shuffled):\n$pj")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("fenced hot projections: the chunker's tokenize runs once per row") {
    // the round-11 rule: an expensive projected expression with a filter
    // above it gets the tokenize subtree substituted into the pushed
    // predicate unless fenced (Expressions.barrier) — chunkTokens is the
    // representative gate (it feeds the whole RAG chain); the optimized
    // plan must contain the tokenize's split exactly ONCE
    val df = spark.range(60).select($"id".as("doc_id"),
      concat(lit("alpha beta gamma delta token "), $"id").as("text"))
    val q = graft.operators.Pack.chunkTokens(df, "doc_id", "text",
      window = 4, stride = 3)
    q.collect()
    val p = q.queryExecution.optimizedPlan.toString
    val splits = "split\\(".r.findAllIn(p).length
    assert(splits === 1, s"chunker tokenize re-nested ($splits sites):\n$p")
  }

  test("bucketed corpus state: delta anti-join and id-agg leave the state side unshuffled") {
    import graft.pipeline.Curation
    val dir = java.nio.file.Files.createTempDirectory("graft_state_bk").toString
    val docs = (1L to 300L)
      .map(i => (i, s"state doc $i body tok${i % 11} tok${i % 7}"))
      .toDF("doc_id", "text")
    val st = Curation.CorpusState(
      docs,
      docs.select(graft.functions.TextFns.fingerprint($"text").as("fp")).distinct(),
      Seq((0, 0L)).toDF("shard", "offset_tokens"))
    Curation.saveState(st, dir, bucketIdCol = Some("doc_id"))
    val loaded = Curation.loadState(spark, dir)
    val delta = (301L to 400L).map(i => (i, s"delta doc $i body")).toDF("doc_id", "text")
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force the shuffle-join path; the store was saved in this session,
      // so its bucket count is this session's shuffle partitions
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // dedupDelta's shape: delta fingerprint window, then anti-join the
      // corpus fingerprint index — the state side must ride its buckets
      val q = graft.operators.Dedup.dedupDelta(delta, loaded.fingerprints, "text", "doc_id")
      val pj = plan(q).split("== Initial Plan ==").head
      assert(pj.contains("SelectedBucketsCount"),
        s"state fingerprint scan is not a bucketed read:\n$pj")
      // the one allowed __fp exchange is the DELTA side's (its dedup
      // window needs it and the join reuses it); a second would be the
      // corpus-growing state shuffle the bucketing exists to kill
      val fpEx = "Exchange hashpartitioning\\(__fp".r.findAllIn(pj).length
      assert(fpEx <= 1, s"state fingerprint side re-shuffled:\n$pj")
      // docs bucketed on the id: an id-keyed aggregate is exchange-free
      val pa = plan(loaded.docs.groupBy($"doc_id").agg(count(lit(1)).as("c")))
        .split("== Initial Plan ==").head
      assert(pa.contains("SelectedBucketsCount") &&
        !pa.contains("Exchange hashpartitioning(doc_id"),
        s"state docs table lost its bucketing:\n$pa")
      // fresh-session path: DROP the external tables (metadata only) and
      // let loadState re-register from the manifest over the same files
      Seq("docs", "fingerprints").foreach { sub =>
        spark.sql("DROP TABLE " + graft.sources.Artifacts.tableName(dir, sub))
      }
      val again = Curation.loadState(spark, dir)
      assert(again.docs.count() === 300)
      val pr = plan(again.fingerprints.groupBy($"fp").agg(count(lit(1)).as("c")))
        .split("== Initial Plan ==").head
      assert(pr.contains("SelectedBucketsCount") &&
        !pr.contains("Exchange hashpartitioning(fp"),
        s"re-registered state table lost its bucketing:\n$pr")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
    }
  }
}
