package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Artifacts

/** Vector similarity search over an embedding column (`array<float>`).
  *
  * Two paths:
  *   - brute-force cosine top-k — exact baseline, O(n·m) pairs; fine when
  *     one side broadcasts (queries ≪ corpus) — correctness oracle;
  *   - LSH-bucketed (random-hyperplane signs) — the 100 TB path: corpus is
  *     bucketed once (shuffle on bucket key), probes join only their bucket.
  * Dot products are pure column `aggregate`/`zip_with` — codegen-friendly,
  * no UDF.
  */
object Similarity {

  /** Cosine similarity of two equal-length float arrays, computed in
    * double precision: dot / (||a||·||b||).
    */
  def cosine(a: Column, b: Column): Column =
    dotProduct(a, b) / (norm(a) * norm(b))

  /** Symmetric int8 quantization of an embedding column — the standard 4×
    * memory cut for ANN at corpus scale (a 100 TB float32 embedding store
    * is 25 TB at int8 with ~1% cosine-recall loss; see Johnson et al.,
    * "Billion-scale similarity search with GPUs", 2017 §3 for the scheme).
    * Per-vector scale s = max|xᵢ|/127; quantized qᵢ = ⌊xᵢ·127/max|xᵢ| + ½⌋
    * (round-half-toward-+∞, so every |qᵢ| ≤ 127 and dequant error ≤ s/2).
    * All arithmetic is double-precision column expressions in a fixed
    * evaluation order, so the quantized ints are bit-deterministic across
    * engines — the property the oracle hashes. Zero vectors quantize to
    * all-zero with scale 0; EMPTY vectors follow the same contract (empty
    * quantized array, scale 0 — array_max of an empty array is null, so
    * without the explicit size guard both when-branches would miss and
    * nulls would propagate silently); null vectors stay null, like every
    * other operator here. Map-only: no shuffle, no UDF.
    */
  def quantizeInt8(df: DataFrame, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val maxAbs = when(size(col(vecCol)) === 0, lit(0.0))
      .otherwise(array_max(transform(col(vecCol), x => abs(x.cast("double")))))
    val quant = when(col("__max_abs") === 0.0,
        transform(col(vecCol), _ => lit(0).cast("int")))
      .otherwise(transform(col(vecCol),
        x => floor(x.cast("double") * 127.0 / col("__max_abs") + 0.5).cast("int")))
    df.select(col(idCol), col(vecCol))
      .withColumn("__max_abs", maxAbs)
      .withColumn("quantized", quant)
      .select(col(idCol),
        (col("__max_abs") / 127.0).as("scale"),
        col("quantized"))
  }

  /** Σ aᵢ·bᵢ in double precision (left-to-right accumulation) — the native
    * codegen'd primitive loop (Expressions.DotF32); `dotProductColumns`
    * below is the bit-identical Column formulation kept for differential
    * testing.
    */
  def dotProduct(a: Column, b: Column): Column =
    graft.functions.Expressions.dotF32(a, b)

  private[graft] def dotProductColumns(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** L2 norm in double precision (√(v·v), same left-to-right accumulation
    * as the aggregate form it replaces). A norm depends only on its own
    * vector, so every pairwise operator below computes it ONCE per row
    * before the pair join instead of per pair — bit-identical results, but
    * per-pair work drops from three array traversals to one dot product.
    */
  def norm(a: Column): Column = sqrt(graft.functions.Expressions.dotF32(a, a))

  /** Exact brute-force top-k cosine neighbors for every vector of `queries`
    * against `corpus`. Self-pairs excluded when ids collide.
    *
    * Contract: `queries` must be the SMALL side — the `=!=` theta join is a
    * nested-loop product, and the explicit `broadcast` hint pins it to a
    * BroadcastNestedLoopJoin that streams the corpus exactly once with no
    * shuffle on it (plan-gated in PlanSpec). A large query side belongs in
    * `lshTopK`/`ivfTopK`; this is the exact baseline those are measured
    * against.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"),
      norm(col(vecCol)).as("cn"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      norm(col(vecCol)).as("qn"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("corpus_id"))
      .withColumn("sim", round(dotProduct(col("qv"), col("cv")) / (col("qn") * col("cn")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("corpus_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("corpus_id"), col("sim"), col("rnk"))
  }

  /** Contrastive training-pair mining: for every query vector, the top-kPos
    * most-similar SAME-label neighbors (positives) and the top-kNeg
    * most-similar DIFFERENT-label neighbors — the "hard negatives" of
    * DPR/SimCSE-style embedding training (Karpukhin et al. 2020: the
    * negatives that matter are the highest-scoring wrong answers, not
    * random ones). One scored pass over the label-tagged product, one
    * per-(query,role) window; same small-query broadcast contract as
    * [bruteForceTopK]. At corpus scale, feed the candidate set from
    * [ivfTopK]/[lshTopK] with k ≫ kPos+kNeg and apply the same role
    * split — the window logic is identical on any candidate frame.
    */
  def contrastivePairs(corpus: DataFrame, queries: DataFrame,
                       kPos: Int, kNeg: Int,
                       idCol: String = "vec_id", vecCol: String = "embedding",
                       labelCol: String = "label"): DataFrame = {
    require(kPos >= 1 && kNeg >= 1, s"kPos/kNeg must be >= 1: $kPos/$kNeg")
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"),
      col(labelCol).as("__cl"), norm(col(vecCol)).as("cn"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      col(labelCol).as("__ql"), norm(col(vecCol)).as("qn"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("corpus_id"))
      .withColumn("sim", round(dotProduct(col("qv"), col("cv")) / (col("qn") * col("cn")), 6))
      .withColumn("role", when(col("__ql") === col("__cl"), lit("pos")).otherwise(lit("neg")))
    val w = Window.partitionBy(col("query_id"), col("role"))
      .orderBy(col("sim").desc, col("corpus_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter((col("role") === "pos" && col("rnk") <= kPos) ||
        (col("role") === "neg" && col("rnk") <= kNeg))
      .select(col("query_id"), col("corpus_id"), col("role"), col("sim"), col("rnk"))
  }

  /** Sign-random-projection LSH bucket id: `planes` hyperplanes → one bit
    * each (dot ≥ 0) → integer bucket. Vectors in the same bucket are
    * cosine-similar with probability rising in their angle. `family` selects
    * an independent hyperplane set (one per hash table).
    *
    * Production path is the native codegen'd expression — one pass per plane
    * with the plane seed hoisted out of the dim loop. The Column formulation
    * below (`lshBucketColumns`) evaluates planes×tables array `aggregate`s
    * per row, each re-hashing (plane, dim) per element — measured 32% of
    * total bench time at sf0.1; it stays as the bit-identical differential
    * baseline (ExpressionsSpec).
    */
  def lshBucket(vec: Column, planes: Int, family: Int = 0): Column =
    graft.functions.Expressions.lshBucket(vec, planes, family)

  /** splitmix64 finalizer as Column arithmetic: Spark longs wrap with Java
    * semantics under the ANSI-off session, so the three multiply/xor/shift
    * stages translate literally. Bit-identical to `Dedup.mix64`.
    */
  private def mix64Col(h: Column): Column = {
    val z0 = h + lit(0x9E3779B97F4A7C15L)
    val z1 = (z0.bitwiseXOR(shiftrightunsigned(z0, 30))) * lit(0xBF58476D1CE4E5B9L)
    val z2 = (z1.bitwiseXOR(shiftrightunsigned(z1, 27))) * lit(0x94D049BB133111EBL)
    z2.bitwiseXOR(shiftrightunsigned(z2, 31))
  }

  /** `Long.remainderUnsigned(h, m)` as Column arithmetic: math-mod of the
    * signed value, plus 2^64 mod m when the sign bit was set.
    */
  private def remainderUnsignedCol(h: Column, m: Long): Column =
    pmod(pmod(h, lit(m)) + when(h < 0, lit(BigInt(2).pow(64).mod(BigInt(m)).toLong))
      .otherwise(lit(0L)), lit(m))

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * a fixed hash mapped to [-1, 1]. Reproducible across engines/runs
    * without a random number generator — drawn from the mix64 family that
    * TextOps.HashSql re-derives in DuckDB SQL, so the oracle can rebuild
    * the identical hyperplanes (see ExprImpl.planeDots, the production
    * primitive-loop twin).
    */
  private def planeComponent(plane: Int, dim: Column): Column =
    (remainderUnsignedCol(
      mix64Col(mix64Col(lit(plane.toLong)).bitwiseXOR(
        dim.cast("long") * lit(0xC2B2AE3D27D4EB4FL))),
      2000001L).cast("double") / 1000000.0) - 1.0

  /** Deterministic hash-derived embedding for a text column — the encoder
    * stand-in that lets a COMPOSED retrieval pipeline be oracled
    * end-to-end: component i = remainderUnsigned(mix64(mix64(fnv1a64(
    * text)) xor i·0xC2B2AE3D27D4EB4F), 2000001)/10⁶ − 1 (the same mix64
    * family as the LSH hyperplanes, re-derivable in DuckDB SQL), cast to
    * float like a real model's output. A production pipeline swaps in a
    * real encoder's column here; everything downstream (ANN, fusion,
    * dedup) is indifferent to where the floats came from.
    */
  def hashEmbedding(text: Column, dim: Int): Column =
    graft.functions.Expressions.hashEmbedding(text, dim)

  /** Pluggable BATCHED text-encoder seam — the multimodal codec
    * discipline applied to embeddings. A real encoder is a model server
    * or an in-process ONNX/JNI session that wants BATCHES (padded tensor
    * inference amortizes per-call overhead ~100×), so the production
    * boundary is `encodeBatch`, crossed inside a mapPartitions stage —
    * never a per-row UDF. Implementations are constructed on the driver
    * and serialized to executors (hold session handles in @transient
    * lazy vals so each executor opens its own); a null text slot must
    * yield a null vector, never throw — malformed input must not crash a
    * partition (the codec rule, Multimodal.scala).
    */
  trait TextEncoder extends Serializable {
    def dim: Int
    /** texts.length ≤ the seam's batchSize; result aligns index-for-index. */
    def encodeBatch(texts: Array[String]): Array[Array[Float]]
  }

  /** The deterministic hash encoder as a [TextEncoder] — the in-repo
    * instance that makes the seam TESTABLE: it delegates to the same
    * scalar kernel as the native-expression column path
    * (ExprImpl.hashEmbedding), so an ANN pipeline served through the seam
    * must reproduce the direct `hashEmbedding(col)` path bit-for-bit
    * (SimilaritySpec pins it). Production swaps this one class for a real
    * model; everything downstream is indifferent.
    */
  final case class HashTextEncoder(dim: Int) extends TextEncoder {
    require(dim >= 1, s"dim must be >= 1: $dim")
    def encodeBatch(texts: Array[String]): Array[Array[Float]] =
      texts.map { t =>
        if (t == null) null
        else graft.functions.ExprImpl.hashEmbedding(
          org.apache.spark.unsafe.types.UTF8String.fromString(t), dim)
          .toFloatArray()
      }
  }

  /** Run `encoder` over a text column in batches: (id, text) →
    * (id, embedding float[dim]). One narrow mapPartitions stage — no
    * shuffle, scan-shaped at any corpus width; `batchSize` bounds the
    * per-call tensor, the iterator never materializes the partition.
    * Ids are long (the corpus key type everywhere in this library).
    */
  def encodeText(df: DataFrame, idCol: String, textCol: String,
                 encoder: TextEncoder, batchSize: Int = 64,
                 outCol: String = "embedding"): DataFrame = {
    require(batchSize >= 1, s"batchSize must be >= 1: $batchSize")
    val session = df.sparkSession
    import session.implicits._
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          val vecs = encoder.encodeBatch(batch.map(_._2).toArray)
          // fail loudly on a contract-violating encoder: a silent zip
          // truncation would DROP rows (or vectors) without a trace
          require(vecs.length == batch.length,
            s"TextEncoder.encodeBatch returned ${vecs.length} vectors for " +
              s"${batch.length} texts — the contract is index-aligned, same length")
          batch.iterator.zip(vecs.iterator).map { case ((id, _), v) => (id, v) }
        }
      }.toDF(idCol, outCol)
  }

  /** [encodeText] for frames whose key is not a long (the RAG chunk store
    * keys by a (doc_id, chunk_id) STRUCT): appends `outCol` while
    * PRESERVING every input column. Same batched mapPartitions seam — one
    * narrow stage, no shuffle, iterator-incremental (grouped(batchSize)
    * bounds what is resident); null text → null vector per the codec rule.
    */
  def encodeTextRows(df: DataFrame, textCol: String, encoder: TextEncoder,
                     batchSize: Int = 64,
                     outCol: String = "embedding"): DataFrame = {
    require(batchSize >= 1, s"batchSize must be >= 1: $batchSize")
    require(!df.columns.contains(outCol),
      s"output column '$outCol' already exists in the input frame — " +
        "schema.add would create a duplicate field; drop or rename it first")
    val tIdx = df.schema.fieldIndex(textCol)
    val outSchema = df.schema.add(outCol,
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, containsNull = false),
      nullable = true)
    df.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        val texts = batch.map(r =>
          if (r.isNullAt(tIdx)) null else r.getString(tIdx)).toArray
        val vecs = encoder.encodeBatch(texts)
        require(vecs.length == texts.length,
          s"TextEncoder.encodeBatch returned ${vecs.length} vectors for " +
            s"${texts.length} texts — the contract is index-aligned, same length")
        batch.iterator.zip(vecs.iterator).map { case (r, v) =>
          org.apache.spark.sql.Row.fromSeq(
            r.toSeq :+ (if (v == null) null else v.toSeq))
        }
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Column-expression formulation of [hashEmbedding] — same bits, kept
    * only as an independent implementation for differential testing
    * (RetrievalSpec). As the production path it interpreted the whole
    * fnv+mix chain per array element (HOF lambdas never reach codegen):
    * ~9 s of the composed retrieval entry's 10 s at sf0.1, the lshBucket
    * Column-form story repeated.
    */
  private[graft] def hashEmbeddingColumns(text: Column, dim: Int): Column = {
    require(dim >= 1, s"dim must be >= 1: $dim")
    val h = mix64Col(graft.functions.Expressions.fnv1a64(text))
    transform(sequence(lit(0), lit(dim - 1)), i =>
      ((remainderUnsignedCol(
        mix64Col(h.bitwiseXOR(i.cast("long") * lit(0xC2B2AE3D27D4EB4FL))),
        2000001L).cast("double") / 1000000.0) - 1.0).cast("float"))
  }

  /** Column-expression formulation of `lshBucket` — same bits, kept only as
    * an independent implementation for differential testing.
    */
  private[graft] def lshBucketColumns(vec: Column, planes: Int, family: Int = 0): Column = {
    val bits = (0 until planes).map { p =>
      val dot = aggregate(zip_with(vec, sequence(lit(0), size(vec) - 1),
        (v, i) => v.cast("double") * planeComponent(family * 10007 + p, i)),
        lit(0.0), (acc, v) => acc + v)
      when(dot >= 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }
    bits.reduce(_.bitwiseOR(_))
  }

  /** The Lloyd training pass shared by [ivfTopK] and [ivfTopKInt8]: `c`
    * must carry (corpus_id, cv). Returns the (nlist × dim) centroid
    * table. Training re-scans its input 1 + lloydIters times (seed pick +
    * one mean pass per iteration) — cached for the duration and released
    * before returning. At 100 TB training runs on a SAMPLE:
    * `trainFraction` takes a deterministic hash-slice of the corpus
    * (k-means cells only need the density shape, not every vector; the
    * docs/SCALE.md ANN crossover record shows the mean pass otherwise
    * growing linearly with n).
    */
  private[graft] def trainCentroids(c: DataFrame, nlist: Int, lloydIters: Int,
                                    trainFraction: Double,
                                    oracleMode: Boolean): Array[Array[Float]] = {
    val sampled =
      if (trainFraction >= 1.0) c
      else c.filter(remainderUnsignedCol(mix64Col(col("corpus_id").cast("long")), 1000000L) <
        lit((trainFraction * 1000000).toLong))
    val train = sampled.persist()
    try {
      // deterministic seeds: the nlist vectors with smallest mix64(id) (id
      // tiebreak — hash collisions must not make seed choice load-order-
      // dependent); cell id = position in the centroid array. mix64 rather
      // than xxhash64 so a DuckDB oracle can re-derive the seed set
      // (TextOps.HashSql) for the lloydIters=0 operating point.
      var centroids: Array[Array[Float]] =
        train.withColumn("__h", mix64Col(col("corpus_id").cast("long")))
          .orderBy(col("__h"), col("corpus_id")).limit(nlist)
          .select(col("cv")).collect()
          .map(_.getSeq[Float](0).toArray)
      // an empty sample (tiny trainFraction × small corpus) would build an
      // empty index and return ZERO neighbors for every query — a caller
      // would read that as "no matches", so fail fast instead
      require(centroids.nonEmpty,
        s"IVF training sample is empty (trainFraction=$trainFraction over this " +
          "corpus) — raise trainFraction or use a larger corpus")
      // Production mean is `avg` (combinable partial aggregate — summation
      // order varies with partitioning, as floats allow). `oracleMode`
      // swaps in an ORDER-DETERMINISTIC mean — values sorted by corpus_id,
      // summed left-to-right, divided by the count — which DuckDB
      // reproduces bit-for-bit as `list_sum(list(v ORDER BY vec_id)) /
      // count(*)`: identical fp order ⇒ bit-equal centroids ⇒ the whole
      // Lloyd-trained path becomes hash-checkable (TextOps qt10). The
      // collect_list buffer is one cell's members × one dim — bounded by
      // the training slice, which `trainFraction` caps at scale.
      val meanAgg =
        if (oracleMode)
          (graft.functions.Expressions.foldSumField(
            array_sort(collect_list(struct(col("corpus_id").as("id"),
              col("col").cast("double").as("v")))))
            / count(lit(1))).as("m")
        else avg(col("col").cast("double")).as("m")
      var iter = 0
      while (iter < lloydIters) {
        // assignment is a narrow per-row scalar (no crossJoin + window
        // shuffle per pass); the only shuffle is the per-dim mean aggregate
        val means = train
          .withColumn("cell", nearestCells(centroids, 1)(col("cv")).getItem(0))
          .select(col("corpus_id"), col("cell"), posexplode(col("cv")))
          .groupBy(col("cell"), col("pos"))
          .agg(meanAgg)
          .groupBy(col("cell"))
          .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
          .select(col("cell"), transform(col("pm"), x => x.getField("m").cast("float")).as("centroid"))
          .collect()
        val next = centroids.clone() // empty cells keep their old centroid
        means.foreach(r => next(r.getInt(0)) = r.getSeq[Float](1).toArray)
        centroids = next
        iter += 1
      }
      centroids
    } finally train.unpersist()
  }

  /** IVF (inverted-file) ANN: coarse-quantize the corpus into `nlist`
    * cells with a few Lloyd iterations of k-means (deterministic seeding:
    * the vectors with the smallest hashed ids), then probe only the
    * `nProbe` nearest cells per query and exact-rerank inside them.
    *
    * At 100 TB the corpus is partitioned by cell id (one shuffle at index
    * build); each query touches nProbe/nlist of the data. Training runs on
    * the corpus itself via posexplode→per-dim mean — all DataFrame ops, no
    * driver-side vectors except the (nlist × dim) centroid table, which is
    * broadcast.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nlist: Int = 16, nProbe: Int = 4, lloydIters: Int = 2,
              idCol: String = "vec_id", vecCol: String = "embedding",
              trainFraction: Double = 1.0,
              oracleMode: Boolean = false): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"))
    val centroids = trainCentroids(c, nlist, lloydIters, trainFraction, oracleMode)
    ivfTopKCentroids(centroids, corpus, queries, k, nProbe, idCol, vecCol)
  }

  /** The serve half of [ivfTopK], against already-trained centroids —
    * in-session or reloaded by [loadCentroids]. Build-once/query-many:
    * training is the expensive corpus pass; serving a query batch against
    * a persisted centroid table touches nProbe/nlist of the corpus.
    */
  def ivfTopKCentroids(centroids: Array[Array[Float]],
                       corpus: DataFrame, queries: DataFrame, k: Int,
                       nProbe: Int = 4,
                       idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"))
    // Index + probe: the (nlist × dim) centroid table rides inside the
    // scalar's closure (tiny, task-broadcast); corpus rows get exactly one
    // home cell and each query probes nProbe distinct cells, so a
    // (query, corpus) candidate materializes at most once — no dedup pass.
    val indexed = c.withColumn("cell", nearestCells(centroids, 1)(col("cv")).getItem(0))
      .withColumn("cn", norm(col("cv")))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      norm(col(vecCol)).as("qn"))
    val probes = q.withColumn("cell", explode(nearestCells(centroids, nProbe)(col("qv"))))
    val scored = probes.join(indexed, Seq("cell"))
      .filter(col("query_id") =!= col("corpus_id"))
      .withColumn("sim", round(dotProduct(col("qv"), col("cv")) / (col("qn") * col("cn")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("corpus_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("corpus_id"), col("sim"), col("rnk"))
  }

  /** Persist trained IVF centroids under `dir` as one
    * [graft.sources.Artifacts] store (part centroids/: cell, centroid).
    * Floats round-trip parquet bit-exactly, so rankings served from a
    * reloaded table are bit-identical to the in-session index
    * (SimilaritySpec round-trip).
    */
  def saveCentroids(centroids: Array[Array[Float]], dir: String,
                    spark: org.apache.spark.sql.SparkSession): Unit =
    Artifacts.write(dir, "ivf_centroids", Seq(centroidsPart(centroids, spark)))

  private def centroidsPart(centroids: Array[Array[Float]],
                            spark: org.apache.spark.sql.SparkSession): Artifacts.Part = {
    import spark.implicits._
    Artifacts.Part("centroids", centroids.zipWithIndex.map { case (cent, cell) => (cell, cent.toSeq) }
      .toSeq.toDF("cell", "centroid")
      .repartition(1)) // nlist × dim floats — one small file
  }

  /** Reload [saveCentroids] output; cell ids index the returned array. */
  def loadCentroids(spark: org.apache.spark.sql.SparkSession,
                    dir: String): Array[Array[Float]] =
    centroidsOf(Artifacts.load(spark, dir, "ivf_centroids"))

  // the by-design collect: nlist centroids are driver-side probe state
  private def centroidsOf(a: Artifacts.Loaded): Array[Array[Float]] =
    a("centroids").orderBy(col("cell")).collect()
      .map(r => r.getSeq[Float](1).toArray)

  /** Cosine of a row vector against a driver-side centroid — primitive loop,
    * same left-to-right accumulation order as the `cosine` Column form.
    */
  private def cosineToCentroid(a: Seq[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Scalar returning the `take` nearest cell ids (cosine desc, cell asc
    * tiebreak) for a vector against the captured centroid array. A scalar
    * UDF on purpose: the per-row work is an nlist×dim primitive float
    * loop, where a Column formulation would compile nlist
    * array-`aggregate` expressions per row (the measured qt09/qt10 bench
    * tail of round 1). PQ's squared-L2 subspace assignment lives in its
    * own inline scalar (trainPq/pqEncode — it slices subvectors, which
    * this whole-vector scalar cannot express).
    */
  private[graft] def nearestCells(centroids: Array[Array[Float]], take: Int) =
    udf { (v: Seq[Float]) =>
      // null embedding → null cells → the row drops out of index and probes
      // (explode of null emits nothing; a null home cell joins nothing)
      if (v == null) null
      else {
        val ks = Array.tabulate(centroids.length)(i => -cosineToCentroid(v, centroids(i)))
        Array.tabulate(centroids.length)(identity)
          .sortBy(i => (ks(i), i))
          .take(take)
      }
    }

  /** Approximate top-k: bucket corpus and queries with `planes`-bit LSH
    * (optionally multiple tables via `tables` different plane offsets),
    * join within buckets only, exact cosine re-rank inside the candidate
    * set. Recall < 1, cost ≪ brute force; candidates-per-query bounded by
    * bucket sizes, not corpus size.
    *
    * `probes` > 1 enables query-side multi-probe (Lv et al., VLDB'07): each
    * query additionally probes the `probes - 1` neighbor buckets whose
    * hyperplane margin is smallest — where a true near neighbor most
    * plausibly landed. Recall rises toward multi-table levels at probes×
    * candidate cost per query while the CORPUS side stays one bucket per
    * table — at 100 TB the corpus index is the expensive side (bucketing
    * shuffle + storage × tables), so probing is the cheaper recall knob:
    * tables multiply the index, probes only multiply the per-query join
    * fan-out.
    */
  /** Σ aᵢ·bᵢ over two int arrays as a LONG — exact integer arithmetic
    * (|q| ≤ 127 ⇒ each product ≤ 16129; the long sum is overflow-safe to
    * dim ~5.7e14), so quantized scores are bit-identical across engines
    * with no fp-order caveats at all.
    */
  private def intDot(a: Column, b: Column): Column =
    graft.functions.Expressions.dotI32(a, b)

  private def intNorm2(a: Column): Column =
    graft.functions.Expressions.dotI32(a, a)

  /** Column HOF formulations of [intDot]/[intNorm2] — kept only as the
    * bit-identical differential baselines (SimilaritySpec); as production
    * paths they ran interpreted per element (HOFs never enter codegen).
    * Operands are widened to long BEFORE the multiply, matching dotI32's
    * long arithmetic, so bit-identity holds for the full int domain, not
    * just |x| ≤ ~46340 where an int multiply happens not to overflow.
    */
  private[graft] def intDotColumns(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("long") * y.cast("long")),
      lit(0L), (acc, v) => acc + v)

  private[graft] def intNorm2Columns(a: Column): Column =
    aggregate(transform(a, x => x.cast("long") * x.cast("long")),
      lit(0L), (acc, v) => acc + v)

  /** Quantized scoring frame: (prefix_qid, prefix q, prefix qn) — the int8
    * store plus precomputed integer norms, shared by the quantized ANN
    * paths (LSH and IVF).
    */
  private def quantFrames(df: DataFrame, prefix: String,
                          idCol: String, vecCol: String): DataFrame =
    quantizeInt8(df, idCol, vecCol)
      .select(col(idCol).as(s"${prefix}_qid"), col("quantized").as(s"${prefix}q"),
        sqrt(intNorm2(col("quantized")).cast("double")).as(s"${prefix}qn"))

  /** Int8 shortlist + float rerank over a (query_id, corpus_id) candidate
    * frame — the scoring tail both quantized ANN paths share: quantized
    * cosine (exact BIGINT dot over a double norm product — deterministic
    * with corpus-id tiebreak), top-`rerank` cut, exact float32 cosine on
    * the shortlist only.
    */
  private def int8RerankTail(cands: DataFrame, corpus: DataFrame, queries: DataFrame,
                             k: Int, rerank: Int,
                             idCol: String, vecCol: String): DataFrame = {
    val shortW = Window.partitionBy(col("query_id"))
      .orderBy(col("qsim").desc, col("corpus_id").asc)
    val shortlist = cands
      .join(quantFrames(queries, "q", idCol, vecCol), col("query_id") === col("q_qid"))
      .join(quantFrames(corpus, "c", idCol, vecCol), col("corpus_id") === col("c_qid"))
      .withColumn("qsim",
        intDot(col("qq"), col("cq")).cast("double") / (col("qqn") * col("cqn")))
      .withColumn("qrnk", row_number().over(shortW))
      .filter(col("qrnk") <= rerank)
      .select(col("query_id"), col("corpus_id"))
    val cF = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"),
      norm(col(vecCol)).as("cn"))
    val qF = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      norm(col(vecCol)).as("qn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("corpus_id").asc)
    shortlist.join(qF, "query_id").join(cF, "corpus_id")
      .withColumn("sim", round(dotProduct(col("qv"), col("cv")) / (col("qn") * col("cn")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("corpus_id"), col("sim"), col("rnk"))
  }

  /** LSH ANN over the INT8-QUANTIZED store — the path that makes the 4×
    * memory cut of [quantizeInt8] real: candidate generation is the same
    * sign-LSH bucket join as [lshTopK] (buckets come from the float
    * vectors at INDEX BUILD time — a one-off cost; the per-query scoring
    * store is what must stay resident at 100 TB), candidates are scored
    * on quantized vectors — cosine of dequantized vectors equals cosine
    * of the raw int vectors, the per-vector scales cancel — and only the
    * top-`rerank` shortlist per query is re-scored exactly on float32.
    * So the float store is touched for rerank·queries rows instead of
    * every candidate, and the scoring store is a quarter the size; the
    * recall cost of quantized shortlisting is recorded per round as
    * qt22r operating points (matching the ~1% loss cited at
    * quantizeInt8's scheme source). The quantized score is an exact
    * integer dot over a double norm product — deterministic ranking with
    * corpus-id tiebreak, so the shortlist (and thus the result) is
    * bit-reproducible and SQL-oracle-checkable end to end.
    */
  def lshTopKInt8(corpus: DataFrame, queries: DataFrame, k: Int,
                  planes: Int = 12, tables: Int = 2, probes: Int = 1,
                  rerank: Int = 25,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(rerank >= k, s"rerank shortlist ($rerank) must be at least k ($k)")
    def bucketed(df: DataFrame, prefix: String, nProbes: Int): DataFrame =
      df.select(col(idCol).as(s"${prefix}_id"), col(vecCol).as("__v"))
        .withColumn("tb", explode(array((0 until tables).map(t =>
          struct(lit(t).as("t"),
            graft.functions.Expressions.lshProbes(col("__v"), planes, t, nProbes).as("bs"))): _*)))
        .select(col(s"${prefix}_id"), col("tb.t").as("table"), explode(col("tb.bs")).as("bucket"))
    val cands = bucketed(queries, "q", probes)
      .join(bucketed(corpus, "c", 1), Seq("table", "bucket"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id").as("query_id"), col("c_id").as("corpus_id"))
      .distinct()
    int8RerankTail(cands, corpus, queries, k, rerank, idCol, vecCol)
  }

  /** IVF ANN over the int8 store — [ivfTopK]'s candidate generation (same
    * trained centroids, same cell probing) with [lshTopKInt8]'s scoring
    * contract: candidates scored on quantized vectors, exact float rerank
    * on the top-`rerank` shortlist only. Together the two quantized paths
    * mean BOTH ANN index families can serve queries from a store a
    * quarter the size, touching float32 only for rerank·queries rows.
    */
  def ivfTopKInt8(corpus: DataFrame, queries: DataFrame, k: Int,
                  nlist: Int = 16, nProbe: Int = 4, lloydIters: Int = 2,
                  rerank: Int = 25,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  trainFraction: Double = 1.0,
                  oracleMode: Boolean = false): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"))
    val centroids = trainCentroids(c, nlist, lloydIters, trainFraction, oracleMode)
    ivfTopKInt8Centroids(centroids, corpus, queries, k, nProbe, rerank, idCol, vecCol)
  }

  /** The serve half of [ivfTopKInt8], against already-trained centroids —
    * the [ivfTopKCentroids] split applied to the int8 path, so a caller
    * sweeping serve-side knobs (nProbe, rerank) over ONE trained index
    * pays the training pass once (qt25 previously trained the identical
    * Lloyd-1 centroids three times, one per operating point).
    */
  def ivfTopKInt8Centroids(centroids: Array[Array[Float]],
                           corpus: DataFrame, queries: DataFrame, k: Int,
                           nProbe: Int = 4, rerank: Int = 25,
                           idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(rerank >= k, s"rerank shortlist ($rerank) must be at least k ($k)")
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"))
    val indexed = c.withColumn("cell", nearestCells(centroids, 1)(col("cv")).getItem(0))
    val probes = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("cell", explode(nearestCells(centroids, nProbe)(col("qv"))))
    val cands = probes.join(indexed, Seq("cell"))
      .filter(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"))
    int8RerankTail(cands, corpus, queries, k, rerank, idCol, vecCol)
  }

  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              planes: Int = 12, tables: Int = 2, probes: Int = 1,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    def bucketed(df: DataFrame, prefix: String, nProbes: Int): DataFrame =
      df.select(col(idCol).as(s"${prefix}_id"), col(vecCol).as(s"${prefix}v"),
          norm(col(vecCol)).as(s"${prefix}n"))
        .withColumn("tb", explode(array((0 until tables).map(t =>
          struct(lit(t).as("t"),
            graft.functions.Expressions.lshProbes(col(s"${prefix}v"), planes, t, nProbes).as("bs"))): _*)))
        .select(col(s"${prefix}_id"), col(s"${prefix}v"), col(s"${prefix}n"),
          col("tb.t").as("table"), explode(col("tb.bs")).as("bucket"))
    val c = bucketed(corpus, "c", 1)
    val q = bucketed(queries, "q", probes)
    val cands = q.join(c, Seq("table", "bucket"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id").as("query_id"), col("c_id").as("corpus_id"),
        col("qv"), col("cv"), col("qn"), col("cn"))
      .distinct()
    val scored = cands.withColumn("sim",
      round(dotProduct(col("qv"), col("cv")) / (col("qn") * col("cn")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("corpus_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("corpus_id"), col("sim"), col("rnk"))
  }

  /** Product-quantization codebooks (Jégou, Douze, Schmid — "Product
    * quantization for nearest neighbor search", TPAMI 2011; the IndexPQ
    * scheme of Johnson et al. 2017): the vector is split into `m`
    * contiguous subvectors of dim/m; each subspace trains its own
    * `ksub`-centroid codebook with the shared Lloyd machinery (hash-chosen
    * seeds — the SAME seed ids in every subspace — optional sampled
    * training, oracle-mode ordered means) under squared-L2, the
    * reconstruction metric PQ minimizes (unlike the cosine cells of the
    * IVF coarse quantizer). Returns m × ksub × (dim/m) floats — tiny, and
    * broadcast inside closures by the consumers below.
    */
  private[graft] def trainPq(c: DataFrame, m: Int, ksub: Int, lloydIters: Int,
                             trainFraction: Double,
                             oracleMode: Boolean): Array[Array[Array[Float]]] = {
    val cc = c.filter(col("cv").isNotNull)
    val first = cc.select(col("cv")).limit(1).collect()
    require(first.nonEmpty,
      "PQ training corpus is empty (no non-null vectors) — nothing to train on")
    val dim = first(0).getSeq[Float](0).length
    require(dim % m == 0, s"embedding dim $dim is not divisible by m=$m subspaces")
    val dsub = dim / m
    // All m subspaces train in ONE pass over the sample — the per-subspace
    // formulation (m trainCentroids calls) ran 2 + lloydIters jobs per
    // subspace and job-scheduling overhead dominated the actual work (the
    // qt27r bench tail). Arithmetic is unchanged: the same hash-chosen
    // seed ids sliced per subspace, the same strict-less L2 argmin with
    // smallest-cell ties, the same per-(subspace, cell, dim) means
    // (ordered fold under oracleMode) cast to float, empty cells keeping
    // their seed — the SQL oracle and the per-subspace form reproduce it
    // bit-for-bit (SimilaritySpec pins encode determinism; qt27 hashes it).
    val sampled =
      if (trainFraction >= 1.0) cc
      else cc.filter(remainderUnsignedCol(mix64Col(col("corpus_id").cast("long")), 1000000L) <
        lit((trainFraction * 1000000).toLong))
    val train = sampled.persist()
    try {
      val seedVecs = train.withColumn("__h", mix64Col(col("corpus_id").cast("long")))
        .orderBy(col("__h"), col("corpus_id")).limit(ksub)
        .select(col("cv")).collect()
        .map(_.getSeq[Float](0).toArray)
      require(seedVecs.nonEmpty,
        s"PQ training sample is empty (trainFraction=$trainFraction over this " +
          "corpus) — raise trainFraction or use a larger corpus")
      var books: Array[Array[Array[Float]]] = Array.tabulate(m)(j =>
        seedVecs.map(v => java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub)))
      val meanAgg =
        if (oracleMode)
          (graft.functions.Expressions.foldSumField(
            array_sort(collect_list(struct(col("corpus_id").as("id"),
              col("col").cast("double").as("v")))))
            / count(lit(1))).as("mv")
        else avg(col("col").cast("double")).as("mv")
      var iter = 0
      while (iter < lloydIters) {
        val bk = books
        val assign = udf { (v: Seq[Float]) =>
          Array.tabulate(m) { j =>
            var best = 0; var bestD = Double.MaxValue
            var cIdx = 0
            while (cIdx < bk(j).length) {
              val cb = bk(j)(cIdx)
              var d = 0.0; var i = 0
              while (i < dsub) {
                val diff = v(j * dsub + i).toDouble - cb(i).toDouble
                d += diff * diff
                i += 1
              }
              if (d < bestD) { bestD = d; best = cIdx }
              cIdx += 1
            }
            best
          }
        }
        // one wide pass: subspace j = pos / dsub, in-subspace dim = pos %
        // dsub, cell = this row's code for j; the groups are exactly the
        // per-subspace formulation's (cell, pos) groups
        val means = train
          .withColumn("codes", assign(col("cv")))
          .select(col("corpus_id"), col("codes"), posexplode(col("cv")))
          .select(col("corpus_id"), col("codes"), col("col"),
            (col("pos") / lit(dsub)).cast("int").as("j"),
            (col("pos") % lit(dsub)).as("p"))
          .withColumn("cell", element_at(col("codes"), col("j") + 1))
          .groupBy(col("j"), col("cell"), col("p"))
          .agg(meanAgg)
          .collect()
        val next = books.map(_.clone())
        means.groupBy(r => (r.getInt(0), r.getInt(1))).foreach { case ((j, cell), rows) =>
          val cent = new Array[Float](dsub)
          rows.foreach(r => cent(r.getInt(2)) = r.getDouble(3).toFloat)
          next(j)(cell) = cent
        }
        books = next
        iter += 1
      }
      books
    } finally train.unpersist()
  }

  /** PQ-encode a vector column: per subspace, the index of the L2-nearest
    * codebook centroid (strict-less keeps the smallest cell on ties — the
    * `ORDER BY dist ASC, cell ASC` the oracle replays). m codes of
    * ⌈log2 ksub⌉ bits replace dim floats — at m=8, ksub=16 a 64-dim
    * float32 vector (256 B) becomes 8 codes + one stored float norm, a
    * ~32× cut in what the scoring scan must read. A scalar UDF on purpose
    * (the nearestCells justification): m×ksub×dsub primitive float loops
    * per row. Output: (idCol, codes array, vnorm — the exact float norm,
    * kept so quantized cosines can be normalized without touching floats).
    */
  def pqEncode(df: DataFrame, codebooks: Array[Array[Array[Float]]],
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val enc = udf { (v: Seq[Float]) =>
      if (v == null) null
      else {
        val m = codebooks.length
        val dsub = codebooks(0)(0).length
        Array.tabulate(m) { j =>
          var best = 0; var bestD = Double.MaxValue
          var cIdx = 0
          while (cIdx < codebooks(j).length) {
            val cb = codebooks(j)(cIdx)
            var d = 0.0; var i = 0
            while (i < dsub) {
              val diff = v(j * dsub + i).toDouble - cb(i).toDouble
              d += diff * diff
              i += 1
            }
            if (d < bestD) { bestD = d; best = cIdx }
            cIdx += 1
          }
          best
        }
      }
    }
    df.select(col(idCol), enc(col(vecCol)).as("codes"),
      norm(col(vecCol)).as("vnorm"))
  }

  /** Per-query ADC lookup table (asymmetric distance computation): tab[j ·
    * ksub + c] = ⟨query subvector j, codebook[j][c]⟩, doubles accumulated
    * left-to-right. m·ksub entries per QUERY — after this one scalar per
    * query, scoring a corpus code costs m array lookups and m-1 adds, no
    * float arithmetic over the corpus at all.
    */
  private def adcTable(codebooks: Array[Array[Array[Float]]]) =
    udf { (q: Seq[Float]) =>
      if (q == null) null
      else {
        val m = codebooks.length
        val ksub = codebooks(0).length
        val dsub = codebooks(0)(0).length
        val tab = new Array[Double](m * ksub)
        var j = 0
        while (j < m) {
          var c = 0
          while (c < ksub) {
            val cb = codebooks(j)(c)
            var d = 0.0; var i = 0
            while (i < dsub) { d += q(j * dsub + i).toDouble * cb(i).toDouble; i += 1 }
            tab(j * ksub + c) = d
            c += 1
          }
          j += 1
        }
        tab
      }
    }

  /** PQ top-k by asymmetric distance: the corpus is scanned as CODES —
    * dot(q, x) ≈ Σⱼ tab[j·ksub + codeⱼ], m table lookups per pair via a
    * codegen'd `element_at` chain (no UDF in the per-pair hot path) —
    * normalized by the stored exact norms, then the top-`rerank` shortlist
    * per query is re-scored exactly on float32 (`rerank <= 0` returns the
    * pure-ADC ranking). The [bruteForceTopK] contract applies: queries are
    * the broadcast side, the corpus streams exactly once — but streaming
    * CODES, not floats: at m=8 the scan reads ~1/30th the bytes, which is
    * the difference between a 100 TB and a 3 TB scoring store. Shortlist
    * ranking uses UNROUNDED doubles (fixed accumulation order on both
    * engines) with corpus-id tiebreak, so the result is bit-reproducible
    * and SQL-oracle-checkable end to end; recall vs the float exact scan is
    * recorded per round (qt27r).
    */
  /** A built PQ index: the trained codebooks plus the encoded corpus
    * (corpus_id, codes, cn — the exact float norm). In production this is
    * the one-off artifact you persist and amortize over every query batch
    * (docs/SCALE.md's PQ records charge build and scan separately);
    * `codes` is ~m bytes + one float per vector — the store
    * that must stay resident at 100 TB.
    */
  case class PqIndex(codebooks: Array[Array[Array[Float]]], codes: DataFrame)

  /** Train + encode — the index-build half of [pqTopK]. */
  def pqIndex(corpus: DataFrame,
              m: Int = 4, ksub: Int = 16, lloydIters: Int = 1,
              idCol: String = "vec_id", vecCol: String = "embedding",
              trainFraction: Double = 1.0,
              oracleMode: Boolean = false): PqIndex = {
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"))
    val cb = trainPq(c, m, ksub, lloydIters, trainFraction, oracleMode)
    // null-embedding rows encode to null codes; excluded from the store so
    // the pure-ADC branch can't rank them (the LSH/IVF paths drop null
    // vectors at candidate generation — same null contract)
    PqIndex(cb, pqEncode(corpus.filter(col(vecCol).isNotNull), cb, idCol, vecCol)
      .select(col(idCol).as("corpus_id"), col("codes"), col("vnorm").as("cn")))
  }

  /** Persist a [PqIndex] under `dir` as one [graft.sources.Artifacts]
    * store: part `codes/` — the (corpus_id, codes, cn) scoring store, the
    * thing that must stay resident at 100 TB — and part `codebooks/` — the
    * m × ksub × dsub centroid table (tiny). This is the production shape:
    * build once (trainPq + pqEncode are the corpus pass), persist, then
    * serve every query batch from the reloaded artifact — [SimilaritySpec]
    * pins that the served ranking is bit-identical to the in-session index
    * (floats round-trip parquet exactly; the ADC scan reads the same codes).
    */
  def savePqIndex(index: PqIndex, dir: String): Unit =
    Artifacts.write(dir, "pq_index", pqParts(index))

  private def pqParts(index: PqIndex): Seq[Artifacts.Part] = {
    val spark = index.codes.sparkSession
    import spark.implicits._
    Seq(Artifacts.Part("codes", index.codes),
      Artifacts.Part("codebooks", index.codebooks.zipWithIndex.flatMap { case (book, j) =>
        book.zipWithIndex.map { case (cent, cell) => (j, cell, cent.toSeq) }
      }.toSeq.toDF("j", "cell", "centroid")
        .repartition(1))) // m × ksub × dsub floats — one small file
  }

  /** Reload [savePqIndex] output. The codes frame stays a lazy parquet
    * scan (the 100 TB store is served, never collected); only the
    * codebook table is collected, in (j, cell) order.
    */
  def loadPqIndex(spark: org.apache.spark.sql.SparkSession, dir: String): PqIndex =
    pqIndexOf(Artifacts.load(spark, dir, "pq_index"))

  private def pqIndexOf(a: Artifacts.Loaded): PqIndex = {
    val books = a("codebooks")
      .orderBy(col("j"), col("cell")).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](2).toArray))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.map(_._2))
      .toArray
    PqIndex(books, a("codes"))
  }

  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             m: Int = 4, ksub: Int = 16, lloydIters: Int = 1, rerank: Int = 25,
             idCol: String = "vec_id", vecCol: String = "embedding",
             trainFraction: Double = 1.0,
             oracleMode: Boolean = false): DataFrame =
    pqTopKIndexed(
      pqIndex(corpus, m, ksub, lloydIters, idCol, vecCol, trainFraction, oracleMode),
      corpus, queries, k, rerank, idCol, vecCol)

  /** The query half of [pqTopK], against a prebuilt [PqIndex]. */
  def pqTopKIndexed(index: PqIndex, corpus: DataFrame, queries: DataFrame,
                    k: Int, rerank: Int = 25,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(rerank <= 0 || rerank >= k,
      s"rerank shortlist ($rerank) must be at least k ($k), or <= 0 for pure ADC")
    val cb = index.codebooks
    val m = cb.length
    val ksub = cb(0).length
    val enc = index.codes
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        norm(col(vecCol)).as("qn"))
      .withColumn("tab", adcTable(cb)(col("qv")))
      .select("query_id", "qn", "tab")
    val adc = (0 until m).map(j =>
        element_at(col("tab"), col("codes").getItem(j) + lit(j * ksub + 1)))
      .reduce(_ + _)
    val scored = enc.join(broadcast(q), col("query_id") =!= col("corpus_id"))
      .withColumn("qsim", adc / (col("qn") * col("cn")))
    pqRankTail(scored, corpus, queries, k, rerank, idCol, vecCol)
  }

  /** Shared ADC-ranking tail: shortlist by the quantized score, then
    * (rerank > 0) re-score the shortlist with exact float cosine — used
    * by the exhaustive-ADC [pqTopKIndexed] and the cell-pruned
    * [ivfPqTopKIndexed], which differ only in how `scored` candidates
    * were generated.
    */
  private def pqRankTail(scored: DataFrame, corpus: DataFrame, queries: DataFrame,
                         k: Int, rerank: Int,
                         idCol: String, vecCol: String): DataFrame = {
    val shortW = Window.partitionBy(col("query_id"))
      .orderBy(col("qsim").desc, col("corpus_id").asc)
    if (rerank <= 0) {
      scored.withColumn("rnk", row_number().over(shortW))
        .filter(col("rnk") <= k)
        .select(col("query_id"), col("corpus_id"),
          round(col("qsim"), 6).as("sim"), col("rnk"))
    } else {
      val shortlist = scored.withColumn("qrnk", row_number().over(shortW))
        .filter(col("qrnk") <= rerank)
        .select(col("query_id"), col("corpus_id"))
      val cF = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"),
        norm(col(vecCol)).as("cn"))
      val qF = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        norm(col(vecCol)).as("qn"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("corpus_id").asc)
      shortlist.join(qF, "query_id").join(cF, "corpus_id")
        .withColumn("sim", round(dotProduct(col("qv"), col("cv")) / (col("qn") * col("cn")), 6))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= k)
        .select(col("query_id"), col("corpus_id"), col("sim"), col("rnk"))
    }
  }

  /** Composed IVF+PQ index (the Faiss-IVFPQ production shape): a coarse
    * IVF quotient over full vectors assigns each code row a `cell`, so
    * the ADC scan that [pqTopKIndexed] runs exhaustively touches only the
    * nProbe probed cells — candidate generation becomes a cell EQUI-join
    * (nProbe/nlist of the store) while scoring stays m byte-code table
    * lookups per candidate. At 100 TB this is the serving layout: codes
    * partitioned by cell on storage, a query batch reads only its probed
    * partitions, and the two driver-resident artifacts (nlist×dim
    * centroids, m×ksub×dsub codebooks) stay tiny.
    */
  case class IvfPqIndex(centroids: Array[Array[Float]], pq: PqIndex)

  /** Build the composed index: coarse centroids + PQ codebooks/codes with
    * each code row's home cell attached.
    */
  def ivfPqIndex(corpus: DataFrame, nlist: Int = 16,
                 m: Int = 4, ksub: Int = 16, lloydIters: Int = 1,
                 idCol: String = "vec_id", vecCol: String = "embedding",
                 trainFraction: Double = 1.0,
                 oracleMode: Boolean = false): IvfPqIndex = {
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"))
    val centroids = trainCentroids(c, nlist, lloydIters, trainFraction, oracleMode)
    val base = pqIndex(corpus, m, ksub, lloydIters, idCol, vecCol, trainFraction, oracleMode)
    val cells = corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("corpus_id"),
        nearestCells(centroids, 1)(col(vecCol)).getItem(0).as("cell"))
    IvfPqIndex(centroids, PqIndex(base.codebooks, base.codes.join(cells, "corpus_id")))
  }

  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                nlist: Int = 16, nProbe: Int = 4,
                m: Int = 4, ksub: Int = 16, lloydIters: Int = 1, rerank: Int = 25,
                idCol: String = "vec_id", vecCol: String = "embedding",
                trainFraction: Double = 1.0,
                oracleMode: Boolean = false): DataFrame =
    ivfPqTopKIndexed(
      ivfPqIndex(corpus, nlist, m, ksub, lloydIters, idCol, vecCol, trainFraction, oracleMode),
      corpus, queries, k, nProbe, rerank, idCol, vecCol)

  /** The query half of [ivfPqTopK]: probe nProbe cells, ADC-score only
    * the codes homed there, rank (optional exact rerank of the
    * shortlist). Each corpus row has exactly ONE home cell and a query
    * probes nProbe DISTINCT cells, so a candidate materializes at most
    * once — no dedup pass (the [ivfTopKCentroids] argument, inherited).
    */
  def ivfPqTopKIndexed(index: IvfPqIndex, corpus: DataFrame, queries: DataFrame,
                       k: Int, nProbe: Int = 4, rerank: Int = 25,
                       idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(rerank <= 0 || rerank >= k,
      s"rerank shortlist ($rerank) must be at least k ($k), or <= 0 for pure ADC")
    val cb = index.pq.codebooks
    val m = cb.length
    val ksub = cb(0).length
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        norm(col(vecCol)).as("qn"))
      .withColumn("tab", adcTable(cb)(col("qv")))
      .withColumn("cell", explode(nearestCells(index.centroids, nProbe)(col("qv"))))
      .select("query_id", "qn", "tab", "cell")
    val adc = (0 until m).map(j =>
        element_at(col("tab"), col("codes").getItem(j) + lit(j * ksub + 1)))
      .reduce(_ + _)
    val scored = index.pq.codes.join(broadcast(q), Seq("cell"))
      .filter(col("query_id") =!= col("corpus_id"))
      .withColumn("qsim", adc / (col("qn") * col("cn")))
    pqRankTail(scored, corpus, queries, k, rerank, idCol, vecCol)
  }

  /** Persist/reload the composed index as one [graft.sources.Artifacts]
    * store: centroids/ + the [savePqIndex] parts (codes carry their `cell`
    * column through the round-trip).
    */
  def saveIvfPqIndex(index: IvfPqIndex, dir: String): Unit =
    Artifacts.write(dir, "ivf_pq_index",
      centroidsPart(index.centroids, index.pq.codes.sparkSession) +: pqParts(index.pq))

  def loadIvfPqIndex(spark: org.apache.spark.sql.SparkSession, dir: String): IvfPqIndex = {
    val a = Artifacts.load(spark, dir, "ivf_pq_index")
    IvfPqIndex(centroidsOf(a), pqIndexOf(a))
  }
}
