package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.storage.StorageLevel

/** Fixed-iteration PageRank (Page et al. 1999) and its personalized /
  * TrustRank variant (Gyöngyi et al. 2004) as pure DataFrame joins — the
  * canonical iterative-graph workloads a corpus engine needs for
  * link-based quality signals: global authority for ranking a crawl, and
  * seed-set propagation for spreading trusted-domain quality through the
  * link graph (the TrustRank curation recipe).
  *
  * Per iteration: every node sends rank/outdegree along its out-edges
  * (edge join on src — equi-key), inflow is summed per destination
  * (groupBy dst — the one shuffle), dangling mass (rank parked on nodes
  * with no out-edges) redistributes along the teleport vector, and
  *
  *   rank' = (1−d)·t + d·(inflow + dangling·t)
  *
  * with t = 1/N uniform (classic) or 1/|S| on the seed set (personalized).
  *
  * Lineage is truncated per iteration by an eager cache cut
  * (`Bridge.materialize`; the final iteration by a `localCheckpoint`);
  * the edge frame itself is hash-partitioned on src and PERSISTED instead
  * (a derived edge list would otherwise be recomputed iters+2 times —
  * measured 2.1× on q50 — and re-shuffled once per iteration; the cached
  * partitioning makes every iteration's join and the outdegree groupBy
  * exchange-free on the edge side, PlanSpec-gated). The node count
  * collects one scalar to the driver — bounded by construction.
  *
  * `oracleMode` folds each per-node inflow sorted by source, and the
  * dangling mass sorted by node, so every intermediate double is
  * bit-identical across partitionings and engines (the IVF oracle-mode
  * discipline); production mode uses plain combinable `sum` — last-ulp
  * nondeterminism no ranking consumer cares about, at a fraction of the
  * cost. Ranks are rounded at 6 only on the final output.
  *
  * Float-parity note: the classic path keeps teleport as the literal
  * (1−d)/N and dangling as dmass/N (divisions), the personalized path as
  * (1−d)·t and dmass·t (multiplications) — each entry's SQL twin mirrors
  * its own operation tree, since x/n and x·(1/n) differ by an ulp in IEEE.
  */
object PageRank {

  private def sortedFold(key: Column, value: Column) =
    graft.functions.Expressions.foldSumField(
      array_sort(collect_list(struct(key.as("k"), value.as("v")))))

  /** Normalized distinct edges. `assumeDistinct` says the caller serves
    * from an already-distinct MATERIALIZED edge store (the persisted-graph
    * seam): the dedup shuffle is skipped (outdegree and inflow would
    * silently double-count on a caller who lies — and since r16's
    * running-sum inflow window, a duplicate (src, dst) edge additionally
    * breaks the window's one-row-per-node filter(src = max(src)) in oracle
    * mode: the node emits MULTIPLE inflow rows with different partial
    * sums, so nodes⨝inflow duplicates node rows and the rank frame's
    * cardinality corrupts compounding per iteration — distinctness is a
    * hard correctness precondition here, not just a summation nicety) and
    * so is the eager
    * localCheckpoint — re-scanning a parquet store per consumer is cheaper
    * than copying it into checkpoint blocks, and the checkpoint exists to
    * stop DERIVED edge lists recomputing per iteration (the measured 2.1×),
    * which a store scan never does.
    */
  private def edgeFrame(edges: DataFrame, srcCol: String, dstCol: String,
                        assumeDistinct: Boolean): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    // hash-partition on src and PERSIST (not localCheckpoint: under AQE a
    // checkpointed RDD scans back as UnknownPartitioning — measured in
    // PlanSpec — while InMemoryRelation keeps the cached plan's
    // partitioning visible): every iteration's edge⨝rank join and the
    // outdegree groupBy then read co-partitioned edges instead of
    // re-shuffling the (corpus-sized) edge frame once per iteration —
    // distinct() alone leaves hash(src,dst), which satisfies neither.
    // The one-time explicit-count repartition (AQE won't coalesce
    // REPARTITION_BY_NUM, which would erase the guarantee) costs one edge
    // shuffle and saves iters of them; the cache also stops the derived
    // edge list recomputing per iteration, the job localCheckpoint did
    // here before (the measured 2.1×). The store-served path
    // (assumeDistinct) gets the same property from the bucketed edge
    // table instead; see Extras.tradeGraph.
    if (assumeDistinct) e
    else {
      val parts = edges.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
      e.distinct().repartition(parts, col("src"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    }
  }

  /** Node universe, hash-partitioned on node and persisted (not
    * checkpointed — the same AQE partitioning loss as the edge frame):
    * the per-iteration nodes⨝inflow join then meets inflow already
    * hash(node)-partitioned from its groupBy, exchange-free on both
    * sides.
    */
  private def nodeFrame(e: DataFrame): DataFrame = {
    val parts = e.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .repartition(parts, col("node"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
  }

  /** The shared power iteration. `nodes` may carry extra columns (the
    * personalized teleport weight rides along); `init` is the rank-0
    * column; `next(inflow, dmass)` builds the update expression against
    * the joined per-node frame.
    */
  private def iterate(e: DataFrame, nodes: DataFrame, iters: Int,
                      oracleMode: Boolean,
                      init: Column,
                      next: (Column, Column) => Column,
                      checkpointDir: Option[String] = None): DataFrame = {
    // Per-iteration lineage cut. Local mode (default): INTERMEDIATE
    // iterations cross a cache cut (Bridge.materialize), whose view keeps
    // the rank frame's hash(node) partitioning: the next iteration's
    // contribs join (rank renamed node→src against the hash(src) edge
    // frame) and the dangling semi-join are then exchange-free on the rank
    // side, and only the inflow groupBy(dst) shuffle remains per iteration
    // (guide §2.4). The materializing action is a NOOP-SINK write, not a
    // count: the count's value was never read, yet it planned a partial
    // agg + single-partition exchange + final agg — one more AQE
    // stage-job per iteration (guide §1.4). The FINAL iteration stays an
    // eager localCheckpoint: its frame has no join consumers (round +
    // output only), and checkpoint blocks are ContextCleaner-managed, so
    // nothing stays pinned in the CacheManager after the caller is done.
    // Reliable mode (checkpointDir set): a parquet round-trip
    // (Bridge.durable) — localCheckpoint blocks die with their executor
    // and are UNRECOVERABLE, so a 1000-executor run of a long iteration
    // wants the rank frame on durable storage; both modes produce
    // identical ranks (PageRankSpec pins it). Ping-pong between two
    // slots: the write never targets the slot the current rank is being
    // read from, and disk stays bounded at two node-sized snapshots per
    // call (Bridge.durableCallDir: one subdir per call, caller-reclaimed).
    val callDir = checkpointDir.map(Bridge.durableCallDir(_, "call"))
    var live: Option[Bridge.Cut] = None // the live intermediate iteration
    def cut(df: DataFrame, i: Int): DataFrame = callDir match {
      case Some(dir) => Bridge.durable(df, s"$dir/rank_${i % 2}")
      case None if i == iters => df.localCheckpoint() // the finally releases live
      case None =>
        val c = Bridge.materialize(df, StorageLevel.MEMORY_AND_DISK_SER)(
          _.write.format("noop").mode("overwrite").save())
        live.foreach(_.release()) // the superseded iteration fed this job
        live = Some(c)
        c.view
    }
    // persisted, not checkpointed: the aggregation inherits e's hash(src)
    // partitioning (bucketed store or pre-partitioned derived frame), and
    // persist keeps it visible to every iteration's join — checkpoint
    // would re-shuffle this node-sized frame once per iteration
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("odeg"))
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    // The dangling node SET is iteration-independent (nodes with no
    // out-edge); only its MASS changes per iteration. Computing the set
    // once (r16, guide §1.2 "don't compute things you throw away")
    // replaces the per-iteration rank⨝outdeg anti-join with a semi-join
    // against this node-sized frame — and when the set is EMPTY (every
    // bidirectional graph, e.g. the trade graph: both directions of every
    // edge exist by construction) the whole dmass machinery disappears
    // from the iteration plan: no anti-join subtree, no one-row aggregate,
    // no broadcast job, no BroadcastNestedLoopJoin — measured 3-4 fewer
    // AQE stage-jobs per iteration. dmass = lit(0.0) is bit-exact with
    // the fold-over-empty it replaces (both engines coalesce to 0.0, and
    // x + 0.0/n ≡ x, 0.0·t ≡ 0.0 for the non-negative ranks/teleports
    // here), so the oracle twins are unchanged.
    val danglingNodes = nodes.select(col("node"))
      .join(outdeg.withColumnRenamed("src", "node"), Seq("node"), "left_anti")
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    var rank = nodes.withColumn("rank", init)
    try {
      val nDangling = danglingNodes.count()
      for (i <- 1 to iters) {
        val contribs = e
          .join(rank.select(col("node").as("src"), col("rank")), "src")
          .join(outdeg, "src")
          .select(col("dst").as("node"), col("src"), (col("rank") / col("odeg")).as("c"))
        // oracle-mode inflow: the source-ordered sum as a RUNNING-SUM
        // window (r16, the BM25-scoring fix): WindowExec accumulates one
        // row at a time in (node, src) sort order — bit-identical to the
        // collect_list + array_sort + fold it replaces ((node, src) is
        // unique per contribution row; c ≥ +0.0, so the sum buffer's
        // null+c₁ ≡ the fold's 0.0+c₁) — without the per-node struct
        // array, its sort, or the interpreted fold. Output partitioning
        // is hash(node) either way, so the downstream join stays
        // exchange-free.
        val inflow =
          if (oracleMode) {
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy(col("node")).orderBy(col("src"))
            contribs
              .withColumn("__run", sum(col("c")).over(w.rowsBetween(
                org.apache.spark.sql.expressions.Window.unboundedPreceding,
                org.apache.spark.sql.expressions.Window.currentRow)))
              .withColumn("__last", max(col("src")).over(w.rowsBetween(
                org.apache.spark.sql.expressions.Window.unboundedPreceding,
                org.apache.spark.sql.expressions.Window.unboundedFollowing)))
              .filter(col("src") === col("__last"))
              .select(col("node"), col("__run").as("inflow"))
          } else contribs.groupBy(col("node")).agg(sum(col("c")).as("inflow"))
        val updated =
          if (nDangling == 0)
            nodes.join(inflow, Seq("node"), "left")
              .withColumn("rank",
                next(coalesce(col("inflow"), lit(0.0)), lit(0.0)))
              .drop("inflow")
          else {
            // same rows the anti-join form produced (rank carries every
            // node, so rank ⋉ danglingNodes ≡ rank ▷ outdeg), same sorted
            // fold — bit-identical dmass in oracle mode
            val dangling = rank.join(danglingNodes, Seq("node"), "left_semi")
            val dmass = dangling.agg(
              (if (oracleMode) sortedFold(col("node"), col("rank"))
               else coalesce(sum(col("rank")), lit(0.0))).as("dmass"))
            nodes.join(inflow, Seq("node"), "left")
              .crossJoin(broadcast(dmass))
              .withColumn("rank",
                next(coalesce(col("inflow"), lit(0.0)), col("dmass")))
              .drop("inflow", "dmass")
          }
        rank = cut(updated, i)
        // both cut modes are eager: the final round's data is materialized
        // (checkpoint blocks or parquet files) before the finally releases
        // the frames it was computed from
      }
    } finally {
      // SQL-cache entries are strongly held by the CacheManager until
      // explicit unpersist (unlike checkpoint RDDs, GC'd by the
      // ContextCleaner) — a long-lived session would otherwise pin a
      // node-sized cache per pageRank call
      live.foreach(_.release()); outdeg.unpersist(); danglingNodes.unpersist()
    }
    rank.select(col("node"), round(col("rank"), 6).as("rank"))
  }

  /** `checkpointDir`: opt-in reliable mode for cluster-scale runs — the
    * per-iteration rank frame round-trips durable storage instead of
    * executor-local checkpoint blocks (which die unrecoverably with an
    * executor). Identical ranks either way; the local fast path is the
    * default and its plan is unchanged (PlanSpec/PageRankSpec).
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int, damping: Double = 0.85,
               oracleMode: Boolean = false,
               assumeDistinct: Boolean = false,
               checkpointDir: Option[String] = None): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    require(damping > 0.0 && damping < 1.0, s"damping out of (0,1): $damping")
    val e = edgeFrame(edges, srcCol, dstCol, assumeDistinct)
    val nodes = nodeFrame(e)
    try {
      val n = nodes.count()
      iterate(e, nodes, iters, oracleMode,
        init = lit(1.0 / n),
        next = (inflow, dmass) =>
          lit((1 - damping) / n) + lit(damping) * (inflow + dmass / lit(n.toDouble)),
        checkpointDir = checkpointDir)
    } finally { // iterate's eager checkpoints already hold the result;
      e.unpersist() // no-op on the store-served (assumeDistinct) path
      nodes.unpersist()
    }
  }

  /** Personalized PageRank over a trusted seed set: teleport (and dangling
    * mass) flow only to `seeds`, so rank measures proximity to trust —
    * nodes unreachable from the seeds score exactly (1−d)·0 = 0. Seeds not
    * present in the graph are ignored; at least one must be.
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
                           srcCol: String, dstCol: String,
                           seedCol: String, iters: Int,
                           damping: Double = 0.85,
                           oracleMode: Boolean = false,
                           assumeDistinct: Boolean = false,
                           checkpointDir: Option[String] = None): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    require(damping > 0.0 && damping < 1.0, s"damping out of (0,1): $damping")
    val e = edgeFrame(edges, srcCol, dstCol, assumeDistinct)
    val nodes = nodeFrame(e)
    // persist (partitioning flows from the persisted node frame through
    // the broadcast seed join and the projection); checkpoint would drop it
    var nt: DataFrame = null
    try {
      val sd = seeds.select(col(seedCol).as("node")).distinct()
      val ns = sd.join(nodes, "node").count()
      require(ns > 0, "no seed is present in the graph")
      nt = nodes.join(sd.withColumn("__s", lit(true)), Seq("node"), "left")
        .withColumn("t", when(col("__s"), lit(1.0 / ns)).otherwise(lit(0.0)))
        .drop("__s")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      iterate(e, nt, iters, oracleMode,
        init = col("t"),
        next = (inflow, dmass) =>
          lit(1 - damping) * col("t") + lit(damping) * (inflow + dmass * col("t")),
        checkpointDir = checkpointDir)
    } finally { // see pageRank: CacheManager holds these until unpersist
      e.unpersist()
      nodes.unpersist()
      if (nt != null) nt.unpersist()
    }
  }
}
