package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Artifacts

/** Ranked text retrieval over the corpus — the query-side complement of
  * the dedup/vocab family: BM25 scoring against an inverted index built
  * with one word-count-shaped aggregation pass.
  */
object Retrieval {

  /** Okapi BM25 top-k (Robertson et al., TREC-3; the Lucene-default
    * `(k1+1)` numerator formulation): rank `docs` against each query by
    *
    *   Σ_t  idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),
    *   idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))
    *
    * over the DISTINCT query terms t (whitespace tokens — the vocabulary
    * family's tokenizer).
    *
    * Plan shape at 100 TB: postings (doc, term, tf), doc lengths, and
    * document frequencies are word-count aggregations — map-side
    * combinable, shuffling one row per distinct key. Scoring is an
    * EQUI-join of query terms against the postings on term (the inverted
    * index — candidate docs are those sharing ≥1 term, never a product),
    * then a per-(query, doc) reduction. Corpus stats ride a broadcast
    * one-row frame.
    *
    * Determinism: N, tf, df, dl are integer-valued doubles (exact in fp;
    * their sums/avg are order-free), so every per-term contribution is
    * bit-reproducible; the per-document score SUM is made order-
    * deterministic by folding contributions sorted by term (the buffer is
    * one row per matched query term — bounded by query length, not corpus
    * size), then rounded to 6 decimals — which also absorbs the ≤1-ulp
    * `ln` variation across engines. Ties rank by doc id.
    *
    * `maxDf` is the hot-term prune: query terms whose document frequency
    * exceeds the cap are dropped BEFORE the postings join. Unbounded, a
    * stopword query term candidates its entire posting list — correct
    * (its idf contribution is near zero) but a full-corpus shuffle per
    * hot term at 100 TB; the cap is the standard df-based stopword
    * definition (e.g. 0.5·N = "in more than half the corpus"), trading
    * those near-zero contributions for candidate generation bounded by
    * the RARE terms' posting lists — the same accuracy-for-scan-cost
    * knob as the n-gram family's `maxShingleDf` (qt05c). The filter runs
    * on the query×dfreq join (rows = query length), never on postings.
    * Capped scoring is a different ranking function (missing low-idf
    * terms); its oracle must apply the identical cap.
    *
    * Output: (query_id, doc_id, score, rnk), rnk ≤ k.
    */
  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int,
               k1: Double = 1.2, b: Double = 0.75,
               maxDf: Option[Double] = None,
               idCol: String = "doc_id", textCol: String = "text",
               qidCol: String = "query_id", qtextCol: String = "qtext"): DataFrame =
    bm25TopKIndexed(bm25Index(docs, idCol, textCol), queries, k, k1, b, maxDf,
      idCol, qidCol, qtextCol)

  /** The BM25 inverted index — the build-once state the serve half scores
    * against: `postings` (doc, term, tf) and `docLens` (doc, dl) are
    * corpus-sized (the things that stay resident at 100 TB); `dfreq`
    * (term, df) is vocabulary-sized; `stats` is ONE row (n, avgdl). All
    * four are word-count-shaped aggregations — map-side combinable, one
    * shuffled row per distinct key.
    */
  case class Bm25Index(postings: DataFrame, docLens: DataFrame,
                       dfreq: DataFrame, stats: DataFrame)

  /** Build the [Bm25Index] of a corpus — the single expensive corpus
    * pass; serve every query batch against it with [bm25TopKIndexed]
    * (in-session, or persisted via [saveBm25Index]/[loadBm25Index] the
    * way a production index lives between query batches).
    */
  def bm25Index(docs: DataFrame,
                idCol: String = "doc_id", textCol: String = "text"): Bm25Index = {
    val tok = docs.select(col(idCol).as("__doc"),
      explode(graft.functions.Expressions.ngrams(col(textCol), 1)).as("term"))
    val post = tok.groupBy(col("__doc"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    // doc length = Σ per-term tf (exact: integer-valued doubles ≪ 2^53, so
    // the sum is order-free and bit-identical to a count over the raw
    // token explode). Deriving dl from `post` instead of from `tok` makes
    // the corpus tokenization/explode a SINGLE subtree: the planner reuses
    // post's (doc, term) exchange for all three downstream aggregations
    // (ReusedExchange — PlanSpec gates it), so the build shuffles the
    // token-occurrence rows once and dl re-aggregates the already-combined
    // per-(doc, term) rows — strictly fewer bytes than the second full
    // explode + hash(doc) shuffle of every occurrence it replaces (guide
    // §2.3 "aggregate before you shuffle"; VERDICT r16 #7, measured at 32
    // and 8 cores — see OPTIMIZATION_r17.md).
    val dl = post.groupBy(col("__doc")).agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n"), avg(col("dl")).as("avgdl"))
    val dfreq = post.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
    Bm25Index(post, dl, dfreq, stats)
  }

  /** Persist a [Bm25Index] under `dir` as one [graft.sources.Artifacts]
    * store (parts postings/ doclens/ dfreq/ stats/; the manifest, written
    * last, is the commit). tf/df/dl/n/avgdl are integer-valued doubles
    * except avgdl — doubles round-trip parquet bit-exactly, so a reloaded
    * index serves rankings bit-identical to the in-session one
    * (RetrievalSpec round-trip).
    */
  def saveBm25Index(index: Bm25Index, dir: String): Unit =
    saveBm25Index(index, dir, bucketed = false)

  /** `bucketed = true` writes the two term-keyed frames (postings, dfreq)
    * bucketed on `term` instead of loose parquet. A small query panel
    * broadcasts and never shuffles the postings anyway; the bucketed
    * layout is for the OTHER serve regime — a large query batch
    * (re-scoring a corpus slice, offline eval sweeps) whose term join goes
    * sort-merge: the postings side then reads co-partitioned, and the
    * exchange that grows with the INDEX (not the queries) vanishes
    * (PlanSpec gates it). Both parts get the saving session's
    * `spark.sql.shuffle.partitions` buckets ([graft.sources.Artifacts]),
    * so serve from a session configured like the one that saved.
    */
  def saveBm25Index(index: Bm25Index, dir: String, bucketed: Boolean): Unit = {
    val byTerm = Option.when(bucketed)("term")
    Artifacts.write(dir, "bm25_index", Seq(
      Artifacts.Part("postings", index.postings, byTerm),
      Artifacts.Part("dfreq", index.dfreq, byTerm),
      Artifacts.Part("doclens", index.docLens),
      Artifacts.Part("stats", index.stats.coalesce(1))))
  }

  /** Reload [saveBm25Index] output — every frame stays a lazy scan
    * (nothing collects to the driver; the one-row stats frame is
    * broadcast by the serve plan exactly like the in-session build), and
    * a bucketed store keeps its term partitioning visible. Throws
    * FileNotFoundException when `dir` holds no committed index.
    */
  def loadBm25Index(spark: org.apache.spark.sql.SparkSession, dir: String): Bm25Index = {
    val a = Artifacts.load(spark, dir, "bm25_index")
    Bm25Index(a("postings"), a("doclens"), a("dfreq"), a("stats"))
  }

  /** Reciprocal Rank Fusion (Cormack et al., SIGIR 2009) of two ranked
    * lists — the standard hybrid-retrieval combiner (sparse BM25 +
    * dense ANN): fused score = Σ_systems 1/(kRrf + rank), summed over
    * the systems that ranked the pair (a full-outer join on the result
    * identity — a doc found by only one system still scores). Rank-based,
    * so the two systems' incomparable score scales never need
    * calibration; kRrf=60 is the paper's constant. Plan shape: one
    * equi-join of two k-row-per-query frames + one per-query window —
    * negligible next to either retrieval leg.
    */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int, kRrf: Int = 60,
              qidCol: String = "query_id", idCol: String = "doc_id"): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val ra = a.select(col(qidCol), col(idCol), col("rnk").cast("long").as("__ra"))
    val rb = b.select(col(qidCol), col(idCol), col("rnk").cast("long").as("__rb"))
    // exact integer ranks → both fraction terms and their left-to-right
    // sum are bit-identical across engines; round(6) only fixes the
    // printed width
    val score = round(
      coalesce(lit(1.0) / (lit(kRrf) + col("__ra")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(kRrf) + col("__rb")), lit(0.0)), 6)
    val w = Window.partitionBy(col(qidCol))
      .orderBy(col("rrf_score").desc, col(idCol).asc)
    ra.join(rb, Seq(qidCol, idCol), "full_outer")
      .withColumn("rrf_score", score)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col(qidCol), col(idCol), col("rrf_score"), col("rnk"))
  }

  /** The serve half of [bm25TopK], against a prebuilt [Bm25Index]. */
  def bm25TopKIndexed(index: Bm25Index, queries: DataFrame, k: Int,
                      k1: Double = 1.2, b: Double = 0.75,
                      maxDf: Option[Double] = None,
                      idCol: String = "doc_id",
                      qidCol: String = "query_id", qtextCol: String = "qtext"): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val post = index.postings
    val dl = index.docLens
    val stats = index.stats
    val dfreq = index.dfreq
    val qterms = queries.select(col(qidCol).as("__query"),
        explode(graft.functions.Expressions.ngrams(col(qtextCol), 1)).as("term"))
      .distinct()
    // same operation order as the SQL oracle — left-associative throughout
    val idf = log(lit(1.0) + (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val contrib = (idf * col("tf") * lit(k1 + 1) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))).as("c")
    // df attaches to the query terms FIRST (rows = query length), so the
    // optional cap prunes hot terms before their posting lists ever join
    val qdf = qterms.join(dfreq, "term")
    val qkept = maxDf.fold(qdf)(cap => qdf.filter(col("df") <= cap))
    val matched = qkept
      .join(post, "term")
      .join(dl, "__doc")
      .crossJoin(broadcast(stats))
      .select(col("__query"), col("__doc"), col("term"), contrib)
    // Order-deterministic per-document score sum via a RUNNING-SUM window
    // ordered by term (r16): WindowExec's running frame accumulates one
    // row at a time in sort order, so the value is bit-identical to the
    // previous collect_list + array_sort + fold formulation (terms are
    // unique per (query, doc); contributions are > 0, and null+c1 ≡
    // 0.0+c1 for positive doubles) — but the per-group array allocation,
    // its sort, and the interpreted fold expression are replaced by one
    // codegen-friendly sort + an incremental aggregate processor. The
    // row kept per group is the one carrying the last term (max over the
    // full frame rides the same WindowExec pass).
    val w0 = Window.partitionBy(col("__query"), col("__doc")).orderBy(col("term"))
    val score = matched
      .withColumn("__run", sum(col("c")).over(
        w0.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__lastTerm", max(col("term")).over(
        w0.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .filter(col("term") === col("__lastTerm"))
      .select(col("__query"), col("__doc"), round(col("__run"), 6).as("score"))
    val w = Window.partitionBy(col("__query"))
      .orderBy(col("score").desc, col("__doc").asc)
    score.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("__query").as(qidCol), col("__doc").as(idCol),
        col("score"), col("rnk"))
  }
}
