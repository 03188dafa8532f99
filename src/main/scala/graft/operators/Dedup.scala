package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFns
import graft.sources.Artifacts
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.storage.StorageLevel

/** Deduplication operators for training-data pipelines: exact, n-gram
  * Jaccard, MinHash+LSH, SimHash. All shuffle-conscious:
  *   - exact dedup = one hash-aggregate on the content key;
  *   - near-dup variants avoid the O(n²) all-pairs comparison by banding /
  *     bucketing so candidate pairs co-locate in one shuffle, then verify
  *     exactly within buckets.
  */
object Dedup {

  /** Exact dedup: keep the lowest-id row per identical content. One
    * map-side-combinable aggregate; no window needed.
    */
  def exact(df: DataFrame, contentCol: String, idCol: String): DataFrame =
    df.groupBy(col(contentCol))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** Exact dedup by md5 fingerprint (normalized text) — the scale path:
    * group by a 16-byte hash instead of the full document, so the shuffle
    * carries hashes + ids, not 100 TB of text.
    */
  def exactByFingerprint(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(TextFns.fingerprint(col(textCol)).as("fp"), col(idCol))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Word n-gram shingle set (distinct, first-occurrence order): tokens by
    * whitespace, short docs collapse to the whole text. Scalar UDF: the
    * pure-column formulation (transform + slice + concat_ws per position)
    * measured ~13 µs/shingle in codegen — the primitive loop is ~40× faster
    * and this feeds every near-dup operator's hot path.
    */
  def shingleSet(text: String, n: Int): Array[String] = {
    if (text == null) return Array.empty
    val ts = text.split("\\s+").filter(_.nonEmpty)
    if (ts.isEmpty) Array.empty[String]
    else if (ts.length < n) Array(ts.mkString(" "))
    else ts.sliding(n).map(_.mkString(" ")).toArray.distinct
  }

  private[graft] val wordShinglesUdf =
    udf((text: String, n: Int) => shingleSet(text, n))

  /** Production path: the native codegen'd expression (no String/Seq
    * bridging per row — measured ~2× on the shingling stage); the UDF above
    * stays as the independent implementation for differential testing.
    */
  def wordShingles(text: Column, n: Int): Column =
    graft.functions.Expressions.shingleSet(text, n)

  /** All-pairs n-gram Jaccard similarity ≥ threshold (exact, quadratic) —
    * the verification baseline. Blocked on `blockCols` (e.g. language) so
    * each block's pair space shuffles independently; only use unblocked on
    * small-dimension data.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int, threshold: Double,
                        blockCols: Seq[String] = Nil): DataFrame = {
    val withSh = df.select((idCol +: blockCols).map(col) :+
      graft.functions.Expressions.barrier(wordShingles(col(textCol), n)).as("sh"): _*)
    val a = withSh.select(Seq(col(idCol).as("id_a"), col("sh").as("sh_a")) ++
      blockCols.map(c => col(c).as(s"${c}_a")): _*)
    val b = withSh.select(Seq(col(idCol).as("id_b"), col("sh").as("sh_b")) ++
      blockCols.map(c => col(c).as(s"${c}_b")): _*)
    val cond = blockCols.map(c => col(s"${c}_a") === col(s"${c}_b"))
      .foldLeft(col("id_a") < col("id_b"))(_ && _)
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
    val uni = size(col("sh_a")) + size(col("sh_b")) - size(array_intersect(col("sh_a"), col("sh_b")))
    a.join(b, cond)
      .withColumn("jaccard", round(inter / uni.cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Exact n-gram Jaccard ≥ threshold via an inverted-index join — the
    * 100 TB formulation. Identical output to `ngramJaccardPairs` for any
    * threshold > 0 (jaccard > 0 requires ≥1 shared shingle), but pairs with
    * no shared shingle never materialize:
    *   explode shingles → self-join on (block, shingle) → count = |∩| →
    *   jaccard from carried set sizes.
    * The only shuffles are the shingle-key join and the (id_a, id_b)
    * aggregation; cost scales with Σ(docs-per-shingle)², not n².
    *
    * `maxShingleDf` / `maxShingleDfFrac` cap the shingle document frequency
    * (absolute count / fraction of the block's documents; both given → the
    * larger wins): shingles above the cap are dropped from the shingle SETS,
    * and Jaccard is computed over the surviving shingle space — the standard
    * production-dedup bound on posting-list length, since a shingle shared
    * by x% of a 100 TB corpus contributes df² join rows while carrying no
    * near-duplicate signal. Off by default (exact semantics).
    */
  def ngramJaccardPairsIndexed(df: DataFrame, idCol: String, textCol: String,
                               n: Int, threshold: Double,
                               blockCols: Seq[String] = Nil,
                               maxShingleDf: Option[Long] = None,
                               maxShingleDfFrac: Option[Double] = None): DataFrame = {
    val sized = df.select(Seq(col(idCol)) ++ blockCols.map(col) :+
        graft.functions.Expressions.barrier(wordShingles(col(textCol), n)).as("sh"): _*)
      .filter(size(col("sh")) > 0)
      .withColumn("n_sh", size(col("sh")))
    val rawPosts = sized.select(Seq(col(idCol)) ++ blockCols.map(col) :+
      col("n_sh") :+ explode(col("sh")).as("shingle"): _*)
    if (maxShingleDf.isEmpty && maxShingleDfFrac.isEmpty) {
      val a = rawPosts.select(Seq(col(idCol).as("id_a"), col("n_sh").as("n_a"), col("shingle")) ++
        blockCols.map(col): _*)
      val b = rawPosts.select(Seq(col(idCol).as("id_b"), col("n_sh").as("n_b"), col("shingle")) ++
        blockCols.map(col): _*)
      a.join(b, Seq("shingle") ++ blockCols)
        .filter(col("id_a") < col("id_b"))
        .groupBy(col("id_a"), col("id_b"), col("n_a"), col("n_b"))
        .agg(count(lit(1)).as("inter"))
        .withColumn("jaccard", round(col("inter") / (col("n_a") + col("n_b") - col("inter")), 6))
        .filter(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"), col("jaccard"))
    } else {
      // Capped path. The df cap bounds every surviving posting list, so
      // pairs are generated IN-ARRAY from one grouped posting table instead
      // of a posting-level self-join: the round-2 self-join formulation
      // re-evaluated the shingling subtree ~6× (df pass + totals pass + the
      // a/b sides each recomputing the semi-join tree) plus a per-doc window
      // shuffle, and benched 7× slower than the uncapped variant it exists
      // to beat. One groupBy((block, shingle)) carries ids and df together.
      val grouped = rawPosts
        .groupBy((blockCols :+ "shingle").map(col): _*)
        .agg(collect_list(col(idCol)).as("__ids"), count(lit(1)).as("__df"))
      // Per-block doc totals for the fraction cap, from token counts alone:
      // a doc has ≥1 shingle iff it has ≥1 token (shingleSet collapses short
      // docs to the whole text), so this pass never touches the shingling
      // expression — the measured hot path.
      val totals = df.filter(size(TextFns.tokens(col(textCol))) > 0)
        .groupBy(blockCols.map(col): _*)
        .agg(count(lit(1)).as("__ndocs"))
      val withTotals =
        if (blockCols.isEmpty) grouped.crossJoin(broadcast(totals))
        else grouped.join(broadcast(totals), blockCols)
      val capExpr = (maxShingleDf.map(v => lit(v.toDouble)).toSeq ++
        maxShingleDfFrac.map(f => lit(f) * col("__ndocs")).toSeq) match {
        case Seq(one) => one
        case many => greatest(many: _*)
      }
      val kept = withTotals.filter(col("__df") <= capExpr)
        .select(col("__ids"))
      // Surviving set sizes: docs whose shingles are all capped disappear —
      // they can form no pair, and their n_sh must not count capped shingles.
      // One row per doc, joined back to the (small, post-cap) pair set.
      val nsh = kept.select(explode(col("__ids")).as("__id"))
        .groupBy(col("__id")).agg(count(lit(1)).as("n_sh"))
      // All i<j pairs within each ≤cap-sized posting list: O(cap²) rows per
      // shingle — exactly the bound the cap exists to provide.
      val ids = array_sort(col("__ids"))
      val pairCol = flatten(transform(ids, (a, i) =>
        transform(slice(ids, i + lit(2), size(ids) - i - lit(1)),
          b => struct(a.as("id_a"), b.as("id_b")))))
      kept.select(explode(pairCol).as("__p"))
        .select(col("__p.id_a").as("id_a"), col("__p.id_b").as("id_b"))
        .groupBy(col("id_a"), col("id_b"))
        .agg(count(lit(1)).as("inter"))
        .join(nsh.select(col("__id").as("id_a"), col("n_sh").as("n_a")), "id_a")
        .join(nsh.select(col("__id").as("id_b"), col("n_sh").as("n_b")), "id_b")
        .withColumn("jaccard", round(col("inter") / (col("n_a") + col("n_b") - col("inter")), 6))
        .filter(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"), col("jaccard"))
    }
  }

  /** Benchmark-contamination scan: for every (corpus doc, benchmark doc)
    * pair sharing at least one word n-gram, the CONTAINMENT of the benchmark
    * item in the corpus doc — |sh(doc) ∩ sh(bench)| / |sh(bench)| — i.e.
    * "what fraction of this eval example's n-grams does this training
    * document carry". Containment, not Jaccard: a 10-line benchmark answer
    * pasted into a 10-page document has tiny Jaccard but containment ≈ 1,
    * and it's the training doc that must be dropped (Brown et al. 2020 §C
    * use the same n-gram-containment definition for GPT-3 decontamination).
    *
    * Same inverted-index plan as [ngramJaccardPairsIndexed]: explode both
    * sides' shingle sets, equi-join on the shingle, count intersections —
    * pairs sharing nothing never materialize, and the benchmark side is
    * tiny (eval suites, not corpora), so at 100 TB the join is effectively
    * a semi-broadcast probe of the corpus posting lists.
    */
  def ngramContainmentPairs(corpus: DataFrame, benchmark: DataFrame,
                            idCol: String, textCol: String,
                            n: Int, threshold: Double): DataFrame = {
    val bench = benchmark
      .select(col(idCol).as("bench_id"), graft.functions.Expressions.barrier(wordShingles(col(textCol), n)).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("bench_id"), size(col("sh")).as("n_bench"),
        explode(col("sh")).as("shingle"))
    // a benchmark item with fewer than n tokens collapses to ONE
    // whole-text shingle (k tokens, k < n); the corpus side must then also
    // emit k-grams at those exact lengths, or a verbatim-contained short
    // eval answer could never equi-join a long document's n-grams. The
    // distinct length set is driver-collected — benchmarks are eval
    // suites (thousands of rows), not corpora, and the set is < n values.
    val shortLens = benchmark
      .select(size(graft.functions.TextFns.tokens(col(textCol))).as("k"))
      .filter(col("k") > 0 && col("k") < n).distinct()
      .collect().map(_.getInt(0)).toSeq
    val corpusPosts = (n +: shortLens).distinct.map { k =>
      corpus.select(col(idCol).as("doc_id"), graft.functions.Expressions.barrier(wordShingles(col(textCol), k)).as("sh"))
        .filter(size(col("sh")) > 0)
        .select(col("doc_id"), explode(col("sh")).as("shingle"))
    }.reduce(_ unionByName _)
      .distinct() // a short doc's whole-text fallback can coincide with its own k-gram
    corpusPosts
      .join(bench, "shingle")
      .groupBy(col("doc_id"), col("bench_id"), col("n_bench"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("containment", round(col("inter") / col("n_bench"), 6))
      .filter(col("containment") >= threshold)
      .select(col("doc_id"), col("bench_id"), col("containment"))
  }

  /** Incremental exact dedup: the rows of a new `delta` batch that are
    * genuinely new against an already-deduped corpus — at 100 TB you never
    * re-dedup the world, you dedup the day's arrivals against the
    * corpus's FINGERPRINT INDEX (16-byte hashes, a ~0.01% shadow of the
    * text) and append. Two steps, both equi-keyed on the fingerprint:
    * collapse duplicates WITHIN the delta (keep min id, as [exact]), then
    * anti-join the corpus index. The corpus side ships only fingerprints;
    * when the daily delta is small its fingerprint set broadcasts and the
    * whole operation is one scan of the delta.
    */
  def dedupDelta(delta: DataFrame, corpusFingerprints: DataFrame,
                 textCol: String, idCol: String,
                 fpCol: String = "fp"): DataFrame = {
    val withFp = delta.withColumn("__fp", TextFns.fingerprint(col(textCol)))
    val w = Window.partitionBy(col("__fp"))
    withFp
      .withColumn("__keep", min(col(idCol)).over(w))
      .filter(col(idCol) === col("__keep"))
      .join(corpusFingerprints.select(col(fpCol).as("__fp")), Seq("__fp"), "left_anti")
      .drop("__fp", "__keep")
  }

  /** Exact n-gram Jaccard ≥ threshold with PREFIX FILTERING — the AllPairs/
    * PPJoin family (Bayardo et al., "Scaling Up All Pairs Similarity
    * Search", WWW'07; Xiao et al., "Efficient Similarity Joins for Near
    * Duplicate Detection", WWW'08). Output is IDENTICAL to
    * `ngramJaccardPairsIndexed` — exact, no recall trade — but only each
    * document's PREFIX enters the posting join: under a global rarest-first
    * shingle order (document frequency asc, shingle asc), a pair with
    * J ≥ t must share at least one shingle among the first
    * |s| − ⌈t·|s|⌉ + 1 of each side, so candidate generation cost drops
    * from Σ df² over ALL posting lists to Σ df² over PREFIX postings — and
    * the ubiquitous head shingles (the ones the df-cap variant must DROP,
    * trading exactness) sort to the END of the order, where they are
    * rarely indexed at all. This is the 100 TB exact path: the df pass is
    * one map-combinable aggregate, the prefix is a per-document window,
    * and the verify step computes true Jaccard only on surviving
    * candidates.
    *
    * Candidates also pass the length filter t·max(|a|,|b|) ≤ min(|a|,|b|).
    * Both pruning comparisons run against t − 5e-7, not t: the final
    * filter (like every Jaccard variant here) compares round(J, 6) ≥ t,
    * which admits true J down to t − 5e-7 — pruning at raw t could drop a
    * boundary pair the indexed/quadratic variants (and the oracle) emit.
    * An additional 1e-9 slack covers binary rounding of t·n itself, so
    * pruning can only ADMIT extra candidates (the final exact filter
    * rejects them), never wrongly drop one.
    */
  def ngramJaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String,
                              n: Int, threshold: Double,
                              blockCols: Seq[String] = Nil): DataFrame = {
    val sized = df.select(Seq(col(idCol)) ++ blockCols.map(col) :+
        graft.functions.Expressions.barrier(wordShingles(col(textCol), n)).as("__sh"): _*)
      .filter(size(col("__sh")) > 0)
      .withColumn("__n_sh", size(col("__sh")))
    val posts = sized.select(Seq(col(idCol), col("__n_sh")) ++ blockCols.map(col) :+
      explode(col("__sh")).as("__shingle"): _*)
    // rarest-first global order: per-(block, shingle) document frequency
    val dfs = posts.groupBy((blockCols :+ "__shingle").map(col): _*)
      .agg(count(lit(1)).as("__df"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("__df").asc, col("__shingle").asc)
    // the pruning threshold: t minus the 6-decimal rounding window the
    // final round(J,6) >= t filter admits
    val tPrune = math.max(threshold - 5e-7, 0.0)
    // prefix length |s| − ⌈t'·|s|⌉ + 1; the 1e-9 slack can only lengthen it
    val prefix = posts.join(dfs, (blockCols :+ "__shingle"))
      .withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <=
        col("__n_sh") - ceil(lit(tPrune) * col("__n_sh") - lit(1e-9)) + 1)
    val a = prefix.select(Seq(col(idCol).as("id_a"), col("__n_sh").as("__n_a"),
      col("__shingle")) ++ blockCols.map(col): _*)
    val b = prefix.select(Seq(col(idCol).as("id_b"), col("__n_sh").as("__n_b"),
      col("__shingle")) ++ blockCols.map(col): _*)
    val cands = a.join(b, ("__shingle" +: blockCols))
      .filter(col("id_a") < col("id_b"))
      .filter(greatest(col("__n_a"), col("__n_b")) * tPrune <=
        least(col("__n_a"), col("__n_b")) + lit(1e-9))
      .select(col("id_a"), col("id_b")).distinct()
    // verify: true Jaccard over the (small) candidate set only
    val setsA = sized.select(col(idCol).as("id_a"), col("__sh").as("__sh_a"))
    val setsB = sized.select(col(idCol).as("id_b"), col("__sh").as("__sh_b"))
    val inter = size(array_intersect(col("__sh_a"), col("__sh_b"))).cast("double")
    cands.join(setsA, "id_a").join(setsB, "id_b")
      .withColumn("jaccard", round(inter /
        (size(col("__sh_a")) + size(col("__sh_b")) - inter).cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Incremental NEAR-dup: every n-gram-Jaccard pair ≥ threshold that
    * TOUCHES a new `delta` batch against an already-deduped corpus —
    * pair generation is restricted to (delta × corpus ∪ delta × delta)
    * and corpus × corpus pairs never materialize, which is the whole
    * point: the daily 100 TB operation re-pairs the arrivals, not the
    * world. Output is EXACTLY the full re-dedup of corpus ∪ delta
    * restricted to pairs with a delta member (the qt24 oracle).
    *
    * Prefix-filtered (the [ngramJaccardPairsPrefix] machinery) under a
    * rarest-first order FROZEN FROM THE CORPUS INDEX: document
    * frequencies come from the corpus postings alone — the production
    * shape, where the corpus's posting/prefix index is persisted and the
    * delta must not require re-aggregating 100 TB to update it. Shingles
    * unseen by the corpus get df 0 (rarer than anything indexed). The
    * prefix theorem needs only that both sides' prefixes are taken under
    * the SAME total order — any fixed order is exact — so freezing the
    * order costs nothing but optimality drift as the corpus ages.
    *
    * Contract: corpus and delta ids must be disjoint (pairs are
    * canonicalized as id_a = least, id_b = greatest over the union id
    * space). At scale, `corpus` would be the persisted (id, shingles)
    * table and `dfs` its posting-count sidecar; here both derive from
    * the text column, with the derivation seams matching what a
    * production run would persist.
    */
  def nearDupDelta(corpus: DataFrame, delta: DataFrame,
                   idCol: String, textCol: String,
                   n: Int, threshold: Double): DataFrame =
    nearDupDeltaIndexed(nearDupIndexOf(corpus, idCol, textCol, n),
      delta, idCol, textCol, threshold)

  /** The persisted prefix-posting state [nearDupDelta] serves from — the
    * corpus's sized shingle sets and its per-shingle document-frequency
    * sidecar (the frozen rarest-first order). `sized` is corpus-sized
    * (one row per doc: id, shingle array, its size); `dfs` is
    * vocabulary-sized. Built once per shipped batch, persisted via
    * [saveNearDupIndex], and served by every delta run that follows —
    * the same build/serve seam as [Retrieval.Bm25Index] /
    * [EmbedNearDupIndex]: re-deriving corpus shingles per delta run means
    * re-tokenizing 100 TB every day (and the r16 plan probe showed the
    * in-query derivation planned 3-4× inside one qc02 run).
    */
  case class NearDupIndex(sized: DataFrame, dfs: DataFrame, n: Int)

  /** Build the [NearDupIndex] of a deduped corpus — one tokenization pass
    * plus one vocabulary-sized aggregation.
    */
  def nearDupIndexOf(corpus: DataFrame, idCol: String, textCol: String,
                     n: Int): NearDupIndex = {
    val cSized = corpus
      .select(col(idCol).as("__id"),
        graft.functions.Expressions.barrier(wordShingles(col(textCol), n)).as("__sh"))
      .filter(size(col("__sh")) > 0)
      .withColumn("__n_sh", size(col("__sh")))
    // the FROZEN index: per-shingle df over corpus postings only
    val dfs = cSized.select(explode(col("__sh")).as("__shingle"))
      .groupBy(col("__shingle")).agg(count(lit(1)).as("__df"))
    NearDupIndex(cSized, dfs, n)
  }

  /** Persist a [NearDupIndex] under `dir` as one [graft.sources.Artifacts]
    * store (parts sized/ dfs/, the shingle width a manifest param).
    * Strings and integers round-trip parquet bit-exactly, so a reloaded
    * index serves pairs bit-identical to the in-session build (DedupSpec
    * round-trip).
    */
  def saveNearDupIndex(index: NearDupIndex, dir: String): Unit =
    Artifacts.write(dir, "neardup_index",
      Seq(Artifacts.Part("sized", index.sized), Artifacts.Part("dfs", index.dfs)),
      Map("n" -> index.n.toString))

  /** Reload [saveNearDupIndex] output — both frames lazy parquet scans;
    * the shingle width rides the manifest so serve-side tokenization of
    * the delta cannot drift from what the index was built with.
    */
  def loadNearDupIndex(spark: org.apache.spark.sql.SparkSession, dir: String): NearDupIndex = {
    val a = Artifacts.load(spark, dir, "neardup_index")
    NearDupIndex(a("sized"), a("dfs"), a.param("n").toInt)
  }

  /** The serve half of [nearDupDelta], against a prebuilt [NearDupIndex]
    * (shingle width comes from the index — the delta side must tokenize
    * identically or the prefix theorem's shared total order breaks).
    */
  def nearDupDeltaIndexed(index: NearDupIndex, delta: DataFrame,
                          idCol: String, textCol: String,
                          threshold: Double): DataFrame = {
    val n = index.n
    def sized(df: DataFrame, side: String) =
      df.select(col(idCol).as("__id"), graft.functions.Expressions.barrier(wordShingles(col(textCol), n)).as("__sh"))
        .filter(size(col("__sh")) > 0)
        .withColumn("__n_sh", size(col("__sh")))
        .withColumn("__side", lit(side))
    val cSized = index.sized
      .select(col("__id"), col("__sh"), col("__n_sh"))
      .withColumn("__side", lit("c"))
    val dSized = sized(delta, "d")
    val allSized = cSized.unionByName(dSized)
    val dfs = index.dfs
    val tPrune = math.max(threshold - 5e-7, 0.0)
    val w = Window.partitionBy(col("__id"))
      .orderBy(col("__df").asc, col("__shingle").asc)
    // prefixes for BOTH sides under the corpus-frozen order (left join:
    // delta-only shingles take df 0)
    def prefix(s: DataFrame) = s
      .select(col("__id"), col("__n_sh"), col("__side"), explode(col("__sh")).as("__shingle"))
      .join(dfs, Seq("__shingle"), "left")
      .withColumn("__df", coalesce(col("__df"), lit(0L)))
      .withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <=
        col("__n_sh") - ceil(lit(tPrune) * col("__n_sh") - lit(1e-9)) + 1)
      .select(col("__id"), col("__n_sh"), col("__side"), col("__shingle"))
    // one prefix pass over corpus ∪ delta; the delta side is a filter of
    // it (allSized ⊇ dSized — a second prefix(dSized) would re-run the
    // explode + df join + rank window over every delta posting)
    val allPrefix = prefix(allSized)
    val dPrefix = allPrefix.filter(col("__side") === "d")
    // delta side × (corpus ∪ delta) side: every emitted pair touches the
    // delta; corpus × corpus cannot appear. least/greatest canonicalizes
    // (delta × delta pairs arrive in both orientations; distinct folds them)
    val cands = dPrefix.select(col("__id").as("__id_l"), col("__n_sh").as("__n_l"),
        col("__shingle"))
      .join(allPrefix.select(col("__id").as("__id_r"), col("__n_sh").as("__n_r"),
        col("__shingle")), Seq("__shingle"))
      .filter(col("__id_l") =!= col("__id_r"))
      .filter(greatest(col("__n_l"), col("__n_r")) * tPrune <=
        least(col("__n_l"), col("__n_r")) + lit(1e-9))
      .select(least(col("__id_l"), col("__id_r")).as("id_a"),
        greatest(col("__id_l"), col("__id_r")).as("id_b"))
      .distinct()
    // verify: true Jaccard over the candidate set only
    val setsA = allSized.select(col("__id").as("id_a"), col("__sh").as("__sh_a"))
    val setsB = allSized.select(col("__id").as("id_b"), col("__sh").as("__sh_b"))
    val inter = size(array_intersect(col("__sh_a"), col("__sh_b"))).cast("double")
    cands.join(setsA, "id_a").join(setsB, "id_b")
      .withColumn("jaccard", round(inter /
        (size(col("__sh_a")) + size(col("__sh_b")) - inter).cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Connected components over an undirected pair graph — the step that
    * turns near-dup PAIRS (any of the operators above) into dedup
    * DECISIONS: docs joined by a chain of pairwise matches form one
    * cluster, and the cluster keeps one canonical member. Min-label
    * propagation: every node starts labeled with its own id; each round a
    * node adopts the smallest label among itself and its neighbors;
    * converges in O(cluster diameter) rounds. Near-dup graphs are piles of
    * small dense clusters (diameter rarely exceeds a handful), so the
    * round count is tiny and data-independent of corpus size; each round
    * is one equi-join + min-aggregate over the PAIRED nodes only (not the
    * corpus), and each round's label frame crosses a cache cut
    * ([Bridge.materialize]) that bounds the logical lineage.
    * The O(log n)-round large-star/small-star variant (Kiveris et al.,
    * "Connected Components in MapReduce", 2014) only pays off on
    * long-chain graphs that near-dup sets don't produce.
    */
  /** `checkpointDir`: opt-in reliable mode — per-round label frames
    * round-trip durable storage instead of executor-local checkpoint
    * blocks (unrecoverable on executor death at cluster scale).
    * Identical components either way (DedupSpec pins it); the local
    * fast path is the default and unchanged.
    */
  def connectedComponents(pairs: DataFrame, aCol: String = "id_a",
                          bCol: String = "id_b", maxIter: Int = 20,
                          checkpointDir: Option[String] = None): DataFrame = {
    // hash-partitioned on dst and PERSISTED, not localCheckpoint'd: the
    // per-round join keys edges on dst, and a checkpointed RDD scans back
    // as UnknownPartitioning under AQE (measured on PageRank, PlanSpec),
    // re-shuffling the edge frame every round. The cached explicit-count
    // repartition keeps HashPartitioning(dst) visible, so rounds shuffle
    // only the label frame (+ the groupBy(src), the round's real shuffle);
    // the cache also keeps a derived pair graph from recomputing per round.
    val parts = pairs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct().repartition(parts, col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    // reliable mode: the round's label frame lands on durable storage
    // (ping-pong slots bound disk at two label-frame snapshots); the write
    // is the round's materializing job and the changed-count reads the
    // files back — same one-action-per-round shape as the cache cut
    val callDir = checkpointDir.map(Bridge.durableCallDir(_, "cc"))
    // local mode: the live round's cache cut. Its view keeps the label
    // frame's hash(id) partitioning — established once by the init
    // repartition and preserved by each round's left join — so the edge
    // join and the label⨝nbrMin update join stay exchange-free on the
    // label side; only the groupBy(src) shuffle remains per round.
    var live: Option[Bridge.Cut] = None
    try {
      val ids = edges.select(col("src").as("id")).distinct()
      var labels = callDir match {
        case Some(dir) => Bridge.durable(ids.withColumn("component", col("id")), s"$dir/labels_init")
        case None =>
          // explicit-count repartition on id (AQE would otherwise coalesce
          // the distinct's output to a data-dependent partition count that
          // cannot match the edge frame's `parts`). It runs BEFORE the
          // component projection: over the projection the optimizer
          // canonicalizes the key onto the `component` alias (id ≡
          // component at init), and hash(component) then fails the round
          // join's hash(id) requirement by exprId — one avoidable exchange
          // on round 1 (PartProbe/JobsProbe broadcast-off dumps).
          // A NOOP-SINK write, not a count: count plans a two-stage
          // aggregate for a value nobody reads; the noop write computes
          // every column in ONE job (guide §1.4)
          val init = Bridge.materialize(
            ids.repartition(parts, col("id")).withColumn("component", col("id")),
            StorageLevel.MEMORY_AND_DISK_SER)(_.write.format("noop").mode("overwrite").save())
          live = Some(init)
          init.view
      }
      var changed = 1L
      var iter = 0
      def countChanged(df: DataFrame): Unit =
        changed = df.filter(col("component") =!= col("prev")).count()
      while (changed > 0 && iter < maxIter) {
        val nbrMin = edges.join(labels, edges("dst") === labels("id"))
          .groupBy(col("src")).agg(min(col("component")).as("nbr_min"))
        val next = labels.join(nbrMin, labels("id") === nbrMin("src"), "left")
          .select(col("id"),
            least(col("component"), coalesce(col("nbr_min"), col("component"))).as("component"),
            col("component").as("prev"))
        // the convergence count is the round's one action
        val mat = callDir match {
          case Some(dir) =>
            val d = Bridge.durable(next, s"$dir/labels_${iter % 2}")
            countChanged(d)
            d
          case None =>
            val cut = Bridge.materialize(next, StorageLevel.MEMORY_AND_DISK_SER)(countChanged)
            live.foreach(_.release()) // the superseded round fed this job
            live = Some(cut)
            cut.view
        }
        labels = mat.select("id", "component")
        iter += 1
      }
      require(changed == 0,
        s"connectedComponents did not converge in $maxIter rounds — raise maxIter " +
          "(a pair graph this deep is not a near-dup cluster shape)")
      // copy the converged frame out of the cache into self-contained
      // checkpoint blocks (ContextCleaner-managed) so the finally below
      // can release every CacheManager entry this call pinned — a
      // long-lived session must not accumulate a label-frame cache per
      // connectedComponents call. One cache-scan job; the durable path
      // returns its parquet scan as before.
      if (callDir.isEmpty) labels.localCheckpoint(true) else labels
    } finally { live.foreach(_.release()); edges.unpersist() } // every exit path
  }

  /** Near-dup dedup decision: every document keeps its cluster's minimum
    * id as `component`; unpaired documents are their own singleton
    * cluster. `is_canonical` marks the one row per cluster to keep.
    */
  def nearDupClusters(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    // internal names so the caller's id column may itself be named "id"
    // or "component" without an ambiguous-reference failure
    val comp = connectedComponents(pairs)
      .select(col("id").as("__cc_id"), col("component").as("__cc_comp"))
    df.select(col(idCol))
      .join(comp, df(idCol) === comp("__cc_id"), "left")
      .select(col(idCol), coalesce(col("__cc_comp"), col(idCol)).as("component"))
      .withColumn("is_canonical", col(idCol) === col("component"))
  }

  /** Near-dup dedup with the PRODUCTION decision rule: within each cluster
    * keep the single highest-scoring copy (longest, best quality — caller
    * supplies the score column computed over `df`), not the minimum id.
    * Min-id (`nearDupClusters`) is the right oracle-stable default for a
    * correctness row; real curation keeps the best copy — when a page is
    * scraped five times, four truncated, the keeper must be the full one.
    * The score must be deterministic; ties break on ascending id so the
    * decision is total. One extra shuffle over `nearDupClusters`: a
    * `row_number` window partitioned by cluster — clusters are near-dup
    * groups (tiny by construction), so the window never sees a hot key
    * bigger than the worst duplicate pile-up, and at 100 TB that pile-up
    * is exactly the thing this operator exists to collapse.
    * Output: (idCol, component, score, is_kept).
    */
  def keepBestInCluster(df: DataFrame, idCol: String, pairs: DataFrame,
                        scoreCol: Column): DataFrame = {
    val clusters = nearDupClusters(df, idCol, pairs).select(col(idCol), col("component"))
    val scored = df.select(col(idCol), scoreCol.as("score"))
    val w = Window.partitionBy(col("component"))
      .orderBy(col("score").desc, col(idCol).asc)
    clusters.join(scored, Seq(idCol))
      .withColumn("is_kept", row_number().over(w) === 1)
  }

  /** splitmix64-style finalizer used to derive hash-family member i from a
    * base hash (one string hash per shingle, numHashes cheap mixes).
    */
  private[graft] def mix64(h: Long): Long = {
    var z = h + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** MinHash signature: min over the shingle set of hash-family member i,
    * for i < numHashes. Single pass per document (hash each shingle once,
    * mix per family member).
    */
  def minhashSig(shingles: Seq[String], numHashes: Int): Array[Long] = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    shingles.foreach { s =>
      val h = fnv1a64(s)
      var i = 0
      while (i < numHashes) {
        val m = mix64(h ^ (i.toLong * 0xC2B2AE3D27D4EB4FL))
        if (m < sig(i)) sig(i) = m
        i += 1
      }
    }
    sig
  }

  private[graft] val minhashSigUdf =
    udf((sh: Seq[String], numHashes: Int) => minhashSig(sh, numHashes))

  /** Production path: native codegen'd expression; the UDF above stays as
    * the independent implementation for differential testing.
    */
  def minhashSignature(shingles: Column, numHashes: Int): Column =
    graft.functions.Expressions.minhashSig(shingles, numHashes)

  /** MinHash + LSH near-dup candidate pairs, verified with exact Jaccard.
    * bands × rowsPerBand = numHashes. Pipeline:
    *   shingles → signature → explode bands → groupBy (band, band-slice hash)
    *   → candidate pairs within buckets → exact Jaccard verify.
    * The only all-to-all shuffle is on band-bucket keys — candidates
    * co-locate; no quadratic blow-up as long as buckets stay small (banding
    * parameters control the collision probability curve).
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      shingleN: Int = 3, bands: Int = 8, rowsPerBand: Int = 2,
                      threshold: Double = 0.7): DataFrame = {
    val numHashes = bands * rowsPerBand
    val withSh = df
      .select(col(idCol), graft.functions.Expressions.barrier(wordShingles(col(textCol), shingleN)).as("sh"))
      .filter(size(col("sh")) > 0)
    val withSig = withSh.withColumn("sig", minhashSignature(col("sh"), numHashes))
    // banding path carries only (id, band, bucket) — candidate-pair dedup
    // shuffles ids, never the shingle arrays
    val banded = withSig.select(
      col(idCol),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(concat_ws(",", slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    val cands = banded.select(col("band"), col("bucket"), col(idCol).as("id_a"))
      .join(banded.select(col("band"), col("bucket"), col(idCol).as("id_b")), Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    // exact-Jaccard verification only on the deduped candidate set
    val a = withSh.select(col(idCol).as("id_a"), col("sh").as("sh_a"))
    val b = withSh.select(col(idCol).as("id_b"), col("sh").as("sh_b"))
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
    val uni = (size(col("sh_a")) + size(col("sh_b"))).cast("double") - inter
    cands.join(a, "id_a").join(b, "id_b")
      .withColumn("jaccard", round(inter / uni, 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** FNV-1a 64-bit string hash (stable, engine-independent). */
  def fnv1a64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** SimHash-64 of a token multiset: per-bit majority vote over token
    * hashes. A compact UDF: the pure-column formulation needs 64 array
    * `aggregate` expressions whose generated code dwarfs its own runtime
    * (one scalar call per row is cheaper and the hot loop is primitive).
    */
  val simhash64Udf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((text: String) => {
      if (text == null) null.asInstanceOf[java.lang.Long]
      else {
        val votes = new Array[Int](64)
        text.toLowerCase.split("\\s+").foreach { t =>
          if (t.nonEmpty) {
            val h = fnv1a64(t)
            var b = 0
            while (b < 64) {
              if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
              b += 1
            }
          }
        }
        var out = 0L
        var b = 0
        while (b < 64) {
          if (votes(b) > 0) out |= (1L << b)
          b += 1
        }
        java.lang.Long.valueOf(out)
      }
    })

  /** Production path: the native codegen'd expression; the UDF above stays
    * as an independent implementation for differential testing.
    */
  def simhash64(text: Column): Column = graft.functions.Expressions.simhash64(text)

  /** Embedding-cosine near-duplicate pairs, exact: every (id_a < id_b) pair
    * with cosine ≥ threshold. Quadratic all-pairs — the verification
    * baseline and the oracle target, same role `ngramJaccardPairs` plays for
    * text. Use `embeddingNearDupPairsLsh` at scale.
    */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                            threshold: Double): DataFrame = {
    // norms once per row (n of them), dot once per pair (n²/2) — see
    // Similarity.norm; the n² side evaluates one primitive-loop expression
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("v_a"),
      Similarity.norm(col(vecCol)).as("n_a"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("v_b"),
      Similarity.norm(col(vecCol)).as("n_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos_sim", graft.functions.Expressions.barrier( // fence:
        // the threshold filter would otherwise push below this projection
        // with the DOT PRODUCT substituted into the condition — computing
        // the pair dot twice on a pair-quadratic join
        round(Similarity.dotProduct(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")), 6)))
      .filter(col("cos_sim") >= threshold)
      .select("id_a", "id_b", "cos_sim")
  }

  /** Exact near-dup pairs restricted to pairs TOUCHING a deterministic
    * query panel (`idCol % mod == res`): the sampled ground truth for the
    * recall probes (qt12r/qt26r). The full exact baseline is N²/2 dot
    * products — affordable as its own priced entry (qt12) but wasteful to
    * recompute inside every recall probe, and impossible at 10× fixture
    * scale. Recall over the panel-touching subset is an unbiased estimate
    * of pair recall (the panel is a uniform residue class, independent of
    * the LSH/cluster hashes being graded), with cost |panel|·N: the panel
    * side broadcasts and each corpus partition scans it — no shuffle, no
    * quadratic term. The modulus/residue pair IS the seed, derivable in
    * SQL (`vec_id % mod = res`), so the estimate stays oracle-checkable.
    *
    * Both-in-panel pairs emerge once per side of the q×corpus join;
    * `distinct()` over (id_a, id_b, cos_sim) collapses them (cos_sim is
    * rounded identically on both evaluations, so the triple is stable).
    */
  def embeddingNearDupPairsSampled(df: DataFrame, idCol: String, vecCol: String,
                                   threshold: Double, mod: Int, res: Int): DataFrame = {
    val q = df.filter(pmod(col(idCol), lit(mod)) === res)
      .select(col(idCol).as("id_q"), col(vecCol).as("v_q"),
        Similarity.norm(col(vecCol)).as("n_q"))
    val b = df.select(col(idCol).as("id_o"), col(vecCol).as("v_o"),
      Similarity.norm(col(vecCol)).as("n_o"))
    broadcast(q).join(b, col("id_q") =!= col("id_o"))
      .withColumn("cos_sim", graft.functions.Expressions.barrier( // same fence
        round(Similarity.dotProduct(col("v_q"), col("v_o")) / (col("n_q") * col("n_o")), 6)))
      .filter(col("cos_sim") >= threshold)
      .select(least(col("id_q"), col("id_o")).as("id_a"),
        greatest(col("id_q"), col("id_o")).as("id_b"), col("cos_sim"))
      .distinct()
  }

  /** Embedding-cosine near-dup at scale: sign-LSH bucketing generates the
    * candidate pairs (same-bucket in any of `tables` hash tables, each
    * vector probing its `probes` most-plausible buckets per table), exact
    * cosine verifies them — the vector twin of `minhashLshPairs`' band →
    * bucket → verify shape. All joins equi-key (table, bucket); the
    * candidate-dedup shuffle carries only id pairs; the verify join fetches
    * vectors for the deduped candidate set only. Recall < 1 by construction
    * (two near vectors can disagree on some plane in every table) — the
    * planes/tables/probes triple trades recall against candidate density,
    * and the driver records the measured recall each round (qt12r).
    */
  /** The PRODUCTION planes rule: planes ride log₂ of the corpus size so
    * per-table bucket count scales WITH the corpus and expected bucket
    * occupancy stays ~`targetPerBucket` — fixed fixture-scale operating
    * points instead funnel ~10¹⁰ same-bucket pairs into the candidate
    * shuffle at 100× (the measured r13 disk-fill). planes =
    * clamp(floor, cap, ceil(log₂(⌈n/target⌉))), computed in INTEGER
    * arithmetic (bit length of buckets−1) so the DuckDB oracle re-derives
    * it bit-for-bit (`length(bin(b-1))`) with no fp-log boundary hazard at
    * exact powers of two. The floor keeps tiny corpora from degenerating
    * into one bucket; the cap (≤24, well under LshBucket's 63-bit limit)
    * bounds the oracle's (1 << p) INT32 shifts and the plane-dot grid.
    * Candidate volume then scales ~linearly: tables · probes² · n ·
    * target/2 expected same-bucket pairs, never quadratic in n.
    */
  def lshPlanesForCorpus(n: Long, targetPerBucket: Int = 8,
                         floorPlanes: Int = 6, capPlanes: Int = 24): Int = {
    require(n >= 0 && targetPerBucket >= 1 && floorPlanes >= 1 &&
      capPlanes >= floorPlanes && capPlanes <= 24)
    // overflow-safe ceil division (n + target - 1 wraps near Long.MaxValue)
    val buckets = n / targetPerBucket + (if (n % targetPerBucket != 0) 1L else 0L)
    val bits =
      if (buckets <= 1L) 1
      else 64 - java.lang.Long.numberOfLeadingZeros(buckets - 1)
    math.min(capPlanes, math.max(floorPlanes, bits))
  }

  /** `planes = 0` (the DEFAULT) derives the plane count from the corpus
    * via [[lshPlanesForCorpus]] — one count() job, then the log-N rule.
    * A caller who takes the default therefore gets the production shape
    * at every corpus size; fixed operating points (instrumentation, the
    * qt12/qt12r recall grids) pass an explicit positive planes.
    */
  def embeddingNearDupPairsLsh(df: DataFrame, idCol: String, vecCol: String,
                               threshold: Double, planes: Int = 0, tables: Int = 4,
                               probes: Int = 1): DataFrame = {
    require(planes >= 0 && planes <= 24,
      s"planes must be in [1, 24], or 0 to derive from the corpus count: $planes")
    val v = df.select(col(idCol), col(vecCol).as("__v"))
    val planesEff = if (planes == 0) lshPlanesForCorpus(v.count()) else planes
    verifyPairsExact(
      lshCandidatePairs(lshMemberships(v, idCol, planesEff, tables, probes), idCol),
      v, idCol, threshold)
  }

  /** The (id, table, bucket) membership frame of the sign-LSH pair path —
    * one row per (vector, hash table, probed bucket). `v` must carry
    * (idCol, __v). This frame IS the persistable index artifact: plane
    * hyperplanes are pure functions of (planes, table), so the operating
    * point triple is the only metadata a reload needs.
    */
  private def lshMemberships(v: DataFrame, idCol: String, planes: Int,
                             tables: Int, probes: Int): DataFrame =
    v.withColumn("tb", explode(array((0 until tables).map(t =>
        struct(lit(t).as("t"),
          graft.functions.Expressions.lshProbes(col("__v"), planes, t, probes).as("bs"))): _*)))
      .select(col(idCol), col("tb.t").as("table"), explode(col("tb.bs")).as("bucket"))

  /** Same-bucket candidate id pairs from a membership frame: equi-join on
    * (table, bucket), ordered ids, deduped across tables/probes.
    */
  private def lshCandidatePairs(bucketed: DataFrame, idCol: String): DataFrame =
    bucketed.select(col("table"), col("bucket"), col(idCol).as("id_a"))
      .join(bucketed.select(col("table"), col("bucket"), col(idCol).as("id_b")),
        Seq("table", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()

  /** Exact-cosine verify tail over a candidate id-pair frame: fetch both
    * vectors (equi-joins on id), threshold on round(cos, 6).
    */
  private def verifyPairsExact(cands: DataFrame, v: DataFrame, idCol: String,
                               threshold: Double): DataFrame = {
    val withNorm = v.withColumn("__n", Similarity.norm(col("__v")))
    cands
      .join(withNorm.select(col(idCol).as("id_a"), col("__v").as("v_a"), col("__n").as("n_a")), "id_a")
      .join(withNorm.select(col(idCol).as("id_b"), col("__v").as("v_b"), col("__n").as("n_b")), "id_b")
      .withColumn("cos_sim", graft.functions.Expressions.barrier( // fence:
        // the threshold filter would otherwise push below this projection
        // with the DOT PRODUCT substituted into the condition — computing
        // the pair dot twice on a pair-quadratic join
        round(Similarity.dotProduct(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")), 6)))
      .filter(col("cos_sim") >= threshold)
      .select("id_a", "id_b", "cos_sim")
  }

  /** A built embedding near-dup LSH index: the (id, table, bucket)
    * membership store plus the operating point it was built at. The
    * production shape mirrors the ANN families' build/serve splits
    * ([[Similarity.PqIndex]] et al.): bucketing the corpus is the one-off
    * index pass; a pair scan (or a later re-scan at a different verify
    * threshold — memberships are threshold-independent) serves from the
    * persisted store without re-hashing a single vector.
    */
  case class EmbedNearDupIndex(planes: Int, tables: Int, probes: Int,
                               idCol: String, buckets: DataFrame)

  /** Build the membership index. `planes = 0` (default) derives the plane
    * count from the corpus count via [[lshPlanesForCorpus]] — the
    * production rule; the derived value is recorded in the returned index.
    */
  def embedNearDupIndex(df: DataFrame, idCol: String, vecCol: String,
                        planes: Int = 0, tables: Int = 4,
                        probes: Int = 1): EmbedNearDupIndex = {
    require(planes >= 0 && planes <= 24,
      s"planes must be in [1, 24], or 0 to derive from the corpus count: $planes")
    val v = df.select(col(idCol), col(vecCol).as("__v"))
    val planesEff = if (planes == 0) lshPlanesForCorpus(v.count()) else planes
    EmbedNearDupIndex(planesEff, tables, probes, idCol,
      lshMemberships(v, idCol, planesEff, tables, probes))
  }

  /** Persist an [[EmbedNearDupIndex]] under `dir` as one
    * [graft.sources.Artifacts] store: part `buckets/` — the membership
    * store (the corpus-sized artifact) — with planes, tables, probes and
    * id_col as manifest params. Buckets are BIGINT-exact, so a reloaded
    * index reproduces the in-session pair set bit-for-bit (DedupSpec
    * round-trip).
    */
  def saveEmbedNearDupIndex(index: EmbedNearDupIndex, dir: String): Unit =
    Artifacts.write(dir, "embed_neardup_index", Seq(Artifacts.Part("buckets", index.buckets)),
      Map("planes" -> index.planes.toString, "tables" -> index.tables.toString,
        "probes" -> index.probes.toString, "id_col" -> index.idCol))

  /** Reload [[saveEmbedNearDupIndex]] output; the bucket store stays a
    * lazy parquet scan (never collected).
    */
  def loadEmbedNearDupIndex(spark: org.apache.spark.sql.SparkSession,
                            dir: String): EmbedNearDupIndex = {
    val a = Artifacts.load(spark, dir, "embed_neardup_index")
    EmbedNearDupIndex(a.param("planes").toInt, a.param("tables").toInt,
      a.param("probes").toInt, a.param("id_col"), a("buckets"))
  }

  /** The serve half of [[embeddingNearDupPairsLsh]], against a prebuilt
    * (possibly reloaded) index: candidate pairs come from the persisted
    * membership store; `df` supplies the vectors for the exact-cosine
    * verify only. Bit-identical to the one-shot form at the same
    * operating point.
    */
  def embeddingNearDupPairsLshIndexed(index: EmbedNearDupIndex, df: DataFrame,
                                      idCol: String, vecCol: String,
                                      threshold: Double): DataFrame = {
    require(index.idCol == idCol,
      s"index was built with id column '${index.idCol}', not '$idCol'")
    val v = df.select(col(idCol), col(vecCol).as("__v"))
    verifyPairsExact(lshCandidatePairs(index.buckets, idCol), v, idCol, threshold)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    * k-means cluster blocking. Embeddings are clustered into `nlist` cells
    * with the same deterministic Lloyd machinery as [[Similarity.ivfTopK]]
    * (hash-chosen seeds, optional sampled training, oracle-mode
    * order-deterministic means); cosine is compared only WITHIN a cell —
    * the candidate join is equi-key on cell id, never all-pairs — and a
    * document is dropped when a smaller-id semantic duplicate
    * (round(cosine, 6) ≥ tau) exists in its cell. Returns one row per
    * non-null input vector: (idCol, cell, kept).
    *
    * At 100 TB: one shuffle on cell id; pair volume is Σ|cell|², bounded by
    * nlist sizing (the paper runs web-scale corpora at ~10k docs/cluster) —
    * the same Σdf² economics as the posting-list dedup family. Recall vs
    * exact all-pairs is < 1 by construction (near-dups straddling a cell
    * boundary are never compared) — that loss is the price of
    * linearization; [[embeddingNearDupPairsLsh]] is the recall-tunable
    * multi-table alternative when boundary misses matter.
    *
    * Keep-rule determinism: "drop iff a smaller-id duplicate shares the
    * cell" is order-free (no greedy scan), so the survivor set is a pure
    * function of (centroids, tau) and DuckDB re-derives it bit-for-bit in
    * oracle mode.
    */
  /** Cluster assignment shared by [semDedup] and [semDedupPairs]:
    * (\_\_id, \_\_v, cell, \_\_n). Home cell is a narrow per-row scalar
    * (broadcast centroid closure); norms once per ROW before any pair
    * join.
    */
  private def semAssign(df: DataFrame, idCol: String, vecCol: String,
                        nlist: Int, lloydIters: Int,
                        trainFraction: Double, oracleMode: Boolean): DataFrame = {
    val v = df.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("__id"), col(vecCol).as("__v"))
    val centroids = Similarity.trainCentroids(
      v.select(col("__id").as("corpus_id"), col("__v").as("cv")),
      nlist, lloydIters, trainFraction, oracleMode)
    v.withColumn("cell", Similarity.nearestCells(centroids, 1)(col("__v")).getItem(0))
      .withColumn("__n", Similarity.norm(col("__v")))
  }

  /** Within-cell duplicate pairs from an assignment frame: equi-join on
    * cell id, dot once per within-cell pair.
    */
  private def semPairs(assigned: DataFrame, tau: Double): DataFrame =
    assigned
      .select(col("cell"), col("__id").as("id_a"), col("__v").as("v_a"), col("__n").as("n_a"))
      .join(assigned.select(col("cell"), col("__id").as("id_b"),
        col("__v").as("v_b"), col("__n").as("n_b")), Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(round(Similarity.dotProduct(col("v_a"), col("v_b")) /
        (col("n_a") * col("n_b")), 6) >= tau)
      .select(col("id_a"), col("id_b"), col("cell"))

  def semDedup(df: DataFrame, idCol: String, vecCol: String,
               nlist: Int, tau: Double, lloydIters: Int = 2,
               trainFraction: Double = 1.0,
               oracleMode: Boolean = false): DataFrame = {
    val assigned = semAssign(df, idCol, vecCol, nlist, lloydIters, trainFraction, oracleMode)
    val dropped = semPairs(assigned, tau)
      .select(col("id_b").as("__id")).distinct()
    assigned
      .join(dropped.withColumn("__dup", lit(1)), Seq("__id"), "left")
      .select(col("__id").as(idCol), col("cell"), col("__dup").isNull.as("kept"))
  }

  /** The duplicate PAIRS SemDeDup's cluster blocking finds — the measurable
    * face of its recall loss: a near-dup pair straddling a cell boundary is
    * never compared, so the pair set shrinks as `nlist` grows (and with it
    * the per-cell join cost Σ|cell|²). Recorded per round against the
    * exact all-pairs set (qt26r), the same honest-floor discipline as the
    * LSH/IVF recall entries.
    */
  def semDedupPairs(df: DataFrame, idCol: String, vecCol: String,
                    nlist: Int, tau: Double, lloydIters: Int = 2,
                    trainFraction: Double = 1.0,
                    oracleMode: Boolean = false): DataFrame =
    semPairs(semAssign(df, idCol, vecCol, nlist, lloydIters, trainFraction, oracleMode), tau)
      .select(col("id_a"), col("id_b"))

  /** [semDedupPairs] restricted to pairs touching the `idCol % mod == res`
    * query panel — the sampled counterpart for the recall probe (qt26r),
    * same panel discipline as [embeddingNearDupPairsSampled]: training and
    * cell assignment run on the FULL corpus (they are what is being
    * graded), but the within-cell pair join puts only panel members on its
    * left side, so pair volume is |panel|·avg-cell instead of Σ|cell|².
    * This is also the shape a production recall monitor runs at 100 TB:
    * a fixed panel priced per batch, never the full pair set.
    */
  def semDedupPairsSampled(df: DataFrame, idCol: String, vecCol: String,
                           nlist: Int, tau: Double, lloydIters: Int = 2,
                           trainFraction: Double = 1.0,
                           oracleMode: Boolean = false,
                           mod: Int = 31, res: Int = 7): DataFrame = {
    val assigned =
      semAssign(df, idCol, vecCol, nlist, lloydIters, trainFraction, oracleMode)
    val panel = assigned.filter(pmod(col("__id"), lit(mod)) === res)
      .select(col("cell"), col("__id").as("id_q"), col("__v").as("v_q"),
        col("__n").as("n_q"))
    broadcast(panel)
      .join(assigned.select(col("cell"), col("__id").as("id_o"),
        col("__v").as("v_o"), col("__n").as("n_o")), Seq("cell"))
      .filter(col("id_q") =!= col("id_o"))
      .filter(round(Similarity.dotProduct(col("v_q"), col("v_o")) /
        (col("n_q") * col("n_o")), 6) >= tau)
      .select(least(col("id_q"), col("id_o")).as("id_a"),
        greatest(col("id_q"), col("id_o")).as("id_b"))
      .distinct()
  }

  /** Exact near-dup pairs with BOTH endpoints in the `idCol % mod == res`
    * panel — the q50s residue-class-subgraph discipline applied to the
    * recall baseline. The panel-TOUCHING baseline above costs |panel|·N
    * (fine on Spark, capacity-bound for the SQL oracle at the 100×
    * fixture); both-endpoints costs |panel|²/2 — (N/31)²/2, i.e. 961×
    * cheaper than all-pairs at any corpus size, and the oracle stays
    * feasible at every decade. Recall over both-in-panel pairs is an
    * unbiased estimate of pair recall on the panel subpopulation (the
    * residue class is independent of the cluster/LSH hashes graded).
    */
  def embeddingNearDupPairsPanel(df: DataFrame, idCol: String, vecCol: String,
                                 threshold: Double, mod: Int, res: Int): DataFrame = {
    val p = df.filter(pmod(col(idCol), lit(mod)) === res)
      .select(col(idCol).as("__id"), col(vecCol).as("__v"),
        Similarity.norm(col(vecCol)).as("__n"))
    broadcast(p.select(col("__id").as("id_a"), col("__v").as("v_a"), col("__n").as("n_a")))
      .join(p.select(col("__id").as("id_b"), col("__v").as("v_b"), col("__n").as("n_b")),
        col("id_a") < col("id_b"))
      .withColumn("cos_sim", graft.functions.Expressions.barrier( // same fence
        round(Similarity.dotProduct(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")), 6)))
      .filter(col("cos_sim") >= threshold)
      .select("id_a", "id_b", "cos_sim")
  }

  /** [semDedupPairs] with BOTH pair endpoints in the panel (the
    * both-endpoints counterpart of [semDedupPairsSampled]): training and
    * cell assignment still run on the FULL corpus — they are what is
    * being graded — but the within-cell join puts panel members on BOTH
    * sides, so pair volume is (|panel|/nlist)²·nlist. Each unordered pair
    * appears once (home cell is unique per vector; id_a < id_b orders it),
    * so no dedup pass is needed.
    */
  def semDedupPairsPanel(df: DataFrame, idCol: String, vecCol: String,
                         nlist: Int, tau: Double, lloydIters: Int = 2,
                         trainFraction: Double = 1.0,
                         oracleMode: Boolean = false,
                         mod: Int = 31, res: Int = 7): DataFrame = {
    val assigned =
      semAssign(df, idCol, vecCol, nlist, lloydIters, trainFraction, oracleMode)
    val panel = assigned.filter(pmod(col("__id"), lit(mod)) === res)
    broadcast(panel.select(col("cell"), col("__id").as("id_a"),
        col("__v").as("v_a"), col("__n").as("n_a")))
      .join(panel.select(col("cell"), col("__id").as("id_b"),
        col("__v").as("v_b"), col("__n").as("n_b")), Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(round(Similarity.dotProduct(col("v_a"), col("v_b")) /
        (col("n_a") * col("n_b")), 6) >= tau)
      .select(col("id_a"), col("id_b"))
  }

  /** Cross-document duplicate SPAN detection — the window-granular, Spark-
    * native analog of suffix-array exact-substring dedup (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better": verbatim
    * boilerplate repeats at SUBSTRING granularity, which document-level
    * Jaccard/MinHash never sees once the surrounding text differs). A
    * suffix array is a global sorted structure that doesn't shard; the
    * scalable reformulation is fixed-width token windows: every run of
    * duplicated text ≥ w tokens long is caught exactly (a run of length
    * L ≥ w duplicates all its L−w+1 windows), shorter runs are below the
    * detection width by design.
    *
    * Plan shape at 100 TB: one map pass emits (doc, pos, fnv1a64(window))
    * per token position — O(tokens) rows of fixed width, never text; the
    * duplicated-hash table is two map-combinable aggregations (per-doc
    * occurrence count, then distinct-doc/total counts per hash); the span
    * frame is one equi-join of windows against that table on the hash.
    * Nothing is quadratic; the shuffle carries 8-byte hashes.
    *
    * A window is "duplicated" iff it occurs in ≥ `minDocs` DISTINCT
    * documents (cross-doc duplication, the dedup target; within-doc
    * repetition is `Repetition`'s beat). Identity is the 64-bit window
    * hash — same 2^-64 collision contract as the fingerprint/MinHash
    * family (the oracle groups by the window STRING, so a collision would
    * surface as a hash mismatch).
    *
    * Output: one row per duplicated-window OCCURRENCE —
    * (id, pos [1-based token position], n_docs, n_occ), where n_docs /
    * n_occ are the window's corpus-wide distinct-doc / total counts.
    */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
                     w: Int, minDocs: Int = 2): DataFrame = {
    require(w >= 1, s"window width must be >= 1: $w")
    require(minDocs >= 1, s"minDocs must be >= 1: $minDocs")
    import graft.functions.Expressions
    val wins = df.filter(col(textCol).isNotNull)
      .select(col(idCol), posexplode(Expressions.windowHashes(col(textCol), w)))
      .select(col(idCol), (col("pos") + 1).cast("long").as("pos"), col("col").as("__h"))
    val perDoc = wins.groupBy(col("__h"), col(idCol))
      .agg(count(lit(1)).as("__occ"))
    val dups = perDoc.groupBy(col("__h"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__occ")).as("n_occ"))
      .filter(col("n_docs") >= minDocs)
    wins.join(dups, "__h")
      .select(col(idCol), col("pos"), col("n_docs"), col("n_occ"))
  }

  /** Line-level boilerplate removal (the CCNet / RefinedWeb paragraph-dedup
    * shape): drop every line whose normalized form (lower + trim) appears
    * in more than `maxDocFreq` distinct documents — navigation chrome,
    * cookie banners, copyright footers — and reassemble each document with
    * its surviving lines in original order. Complement to `duplicateSpans`:
    * spans catch duplicated token runs anywhere; this catches structural
    * repetition aligned to line boundaries, the dominant form in scraped
    * web text. Empty lines never count toward doc-frequency and are always
    * kept (they are formatting, not content).
    *
    * Scale shape: one explode, one distinct+count aggregate keyed on the
    * normalized line (both map-side combinable), one equi-join against the
    * hot-line set (tiny by construction — only lines shared by > maxDocFreq
    * docs — so it broadcasts), and one per-doc aggregate whose ordered
    * reassembly rides a collect_list + array_sort, never a window over the
    * corpus. No all-pairs anything.
    *
    * Output: (idCol, text, n_kept, n_dropped).
    */
  def dedupLines(df: DataFrame, idCol: String, textCol: String,
                 maxDocFreq: Long): DataFrame = {
    require(maxDocFreq >= 1, s"maxDocFreq must be >= 1: $maxDocFreq")
    val lines = df.select(col(idCol), posexplode(split(col(textCol), "\n")))
      .select(col(idCol), col("pos").cast("long").as("pos"), col("col").as("line"))
      .withColumn("__key", lower(trim(col("line"))))
    val hot = lines.filter(col("__key") =!= "")
      .select(col(idCol), col("__key")).distinct()
      .groupBy(col("__key")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxDocFreq)
      .select(col("__key"), lit(true).as("__hot"))
    val tagged = lines.join(broadcast(hot), Seq("__key"), "left")
      .withColumn("__hot", coalesce(col("__hot"), lit(false)))
    tagged.groupBy(col(idCol)).agg(
      array_join(
        transform(
          array_sort(collect_list(when(!col("__hot"),
            struct(col("pos").as("p"), col("line").as("l"))))),
          s => s.getField("l")),
        "\n").as("text"),
      sum(when(!col("__hot"), 1L).otherwise(0L)).as("n_kept"),
      sum(when(col("__hot"), 1L).otherwise(0L)).as("n_dropped"))
  }

  /** Per-document duplication profile over `duplicateSpans`: how much of
    * each document is covered by cross-document duplicated windows — the
    * per-doc signal a curation gate thresholds on ("drop docs that are
    * > x% boilerplate"). Overlapping spans are interval-merged per
    * document (a run of L ≥ w duplicated tokens contributes L covered
    * tokens, not (L−w+1)·w), via one per-doc window pass: a span starting
    * at p covers [p, p+w−1]; its NEW coverage is the part past both its
    * own start and the running max end of earlier spans.
    *
    * Output: (id, n_tokens, n_dup_windows, covered_tokens, dup_frac) for
    * every non-null-text document — zeros when nothing duplicated.
    */
  def dupSpanStats(df: DataFrame, idCol: String, textCol: String,
                   w: Int, minDocs: Int = 2): DataFrame = {
    import graft.functions.Expressions
    val spans = duplicateSpans(df, idCol, textCol, w, minDocs)
    val prevEnd = max(col("pos") + (w - 1)).over(
      Window.partitionBy(col(idCol)).orderBy(col("pos"))
        .rowsBetween(Window.unboundedPreceding, -1))
    val newCov = greatest(lit(0L),
      (col("pos") + (w - 1)) - greatest(col("pos") - 1, coalesce(prevEnd, lit(0L))))
    val cov = spans
      .withColumn("__new", newCov)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_dup_windows"), sum(col("__new")).as("covered_tokens"))
    df.filter(col(textCol).isNotNull)
      .select(col(idCol), size(Expressions.ngrams(col(textCol), 1)).cast("long").as("n_tokens"))
      .join(cov, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(round(coalesce(col("covered_tokens"), lit(0L)) /
            col("n_tokens"), 6)).as("dup_frac"))
  }

  /** Near-dup pairs by SimHash hamming distance ≤ maxDist, candidate-blocked
    * on 4 16-bit chunks (any pair within distance ≤3 shares ≥1 exact chunk —
    * pigeonhole), so the join is equi-key, not quadratic.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxDist: Int = 3): DataFrame = {
    require(maxDist <= 3, "4-chunk blocking guarantees recall only for maxDist<=3")
    // fenced: the join-key constraint inference derives isnotnull(h) and
    // pushes it below this projection with the simhash subtree substituted
    // — simhash then runs twice per row per join side (the lint's qt07
    // find); the barrier keeps it in the projection, computed once
    val withH = df.select(col(idCol),
      graft.functions.Expressions.barrier(simhash64(col(textCol))).as("h"))
    val chunked = withH.select(col(idCol), col("h"),
      posexplode(array((0 until 4).map(c =>
        shiftright(col("h"), c * 16).bitwiseAND(0xFFFFL)): _*)))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "key")
    val l = chunked.select(col("chunk"), col("key"), col(idCol).as("id_a"), col("h").as("h_a"))
    val r = chunked.select(col("chunk"), col("key"), col(idCol).as("id_b"), col("h").as("h_b"))
    l.join(r, Seq("chunk", "key")).filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "h_a", "h_b").distinct()
      .withColumn("dist", bit_count(col("h_a").bitwiseXOR(col("h_b"))))
      .filter(col("dist") <= maxDist)
      .select("id_a", "id_b", "dist")
  }
}
