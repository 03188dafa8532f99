package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable
import graft.functions.{Expressions, TextFns}
import graft.operators.{Dedup, Pack, Split}
import graft.sources.Artifacts

/** The operators composed into the pipeline they exist for: raw crawl →
  * training sequences. Each stage is one of the library's scale-shaped
  * primitives; the composition adds NO new shuffles beyond what the
  * stages themselves declare, and every stage's semantics is already
  * oracle-verified on its own catalog query — this file is the
  * integration, tested end-to-end on planted fixtures (CurationSpec).
  *
  * Stage order matters and is the standard one:
  * canonicalize first (hashes must see one byte representation),
  * cheap row-local gates before pairwise ops (shrink the pair space),
  * exact dedup before near-dup (exact copies would bloat every posting
  * list), decontamination last among filters (a contaminated doc must
  * not survive via a near-dup twin: the filter runs on the deduped
  * survivor set that ships), then split/pack on what remains.
  *
  * At 100 TB each arrow between stages is where a production run would
  * persist (checkpoint tables, as the reference's medallion layers do);
  * the composition itself stays lazy so small runs execute as one job.
  */
object Curation {

  /** Storage level for the persist-mode stage caches. The columnar SQL
    * cache holds corpus-sized byte-array batches on the heap; under memory
    * pressure those blocks are exactly what the collector scans and what
    * amplified the composed entries 2-3× in contended environments
    * (docs/SCALE.md round-9/10 contention notes). Chosen by the round-10
    * qc01 contention A/B under the calibrated adversary (2 GB ballast +
    * 512 MB/s churn + 16 bandwidth hogs on 32 cpus; docs/SCALE.md
    * "Round-10 delta: contention-robustness"): MEMORY_AND_DISK 31.3→39.4 s
    * (1.26×), MEMORY_AND_DISK_SER 28.8→32.5 s (1.13×), DISK_ONLY
    * 31.7→47.0 s (1.48× — spilled reads traverse the same contended memory
    * subsystem, and lose the cache hits too). Serialized wins BOTH
    * regimes: compact batches shrink the scannable heap (GC) and the
    * resident bytes the adversary can evict.
    */
  private[graft] val stageStorageLevel: org.apache.spark.storage.StorageLevel =
    org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER

  /** Storage level for the DELTA pipeline's stage caches. Measured the
    * other way from the batch default on the same adversary: qc02 at
    * MEMORY_AND_DISK 15.7→24.7 s (1.57×) vs MEMORY_AND_DISK_SER
    * 16.4→28.9 s (1.76×). Delta-sized frames are small (footprint is not
    * the binding constraint) but re-read by several consumers, so
    * serialized caching just adds a deserialization pass per read — CPU
    * the contended regime has least to spare. Corpus-sized state is NOT
    * affected: it arrives via [loadState] as parquet scans.
    */
  private[graft] val deltaStorageLevel: org.apache.spark.storage.StorageLevel =
    org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

  case class Config(
      minTokens: Int = 10,
      minQuality: Double = 0.5,
      maxDupLineFrac: Double = 0.5,
      maxTopBigramFrac: Double = 0.5,
      ngramN: Int = 3,
      nearDupJaccard: Double = 0.85,
      // when set, near-dup candidate pairs are CONFIRMED by Levenshtein
      // before clustering: pairs whose edit distance exceeds this fraction
      // of the longer text are rejected as shingle-coincidence false
      // positives. Runs on candidates only — never n².
      maxEditRatio: Option[Double] = None,
      // when set, docs whose cross-document duplicated-window coverage
      // (Dedup.dupSpanStats at width dupSpanWidth, windows appearing in
      // >= dupSpanMinDocs distinct docs) exceeds this fraction are dropped
      // BEFORE the pairwise dedup stages — the substring-granular
      // boilerplate gate of Lee et al. 2021 ("drop docs that are > x%
      // verbatim-repeated text"), which document-level Jaccard never sees
      // once the surrounding text differs. minDocs >= 3 keeps the gate
      // orthogonal to exact dedup: a single re-submitted copy (2 docs)
      // stays the exact stage's kill, while template boilerplate repeated
      // across >= 3 docs dies here.
      maxDupSpanFrac: Option[Double] = None,
      dupSpanWidth: Int = 8,
      dupSpanMinDocs: Int = 3,
      contaminationMax: Double = 0.8,
      // when set, line-level boilerplate removal (Dedup.dedupLines) runs
      // as a TEXT TRANSFORM between canonicalization and every hash: lines
      // shared by > this many docs are stripped, so chrome differences
      // (footers, banners) stop defeating exact dedup — two docs with
      // identical bodies but different boilerplate hash equal AFTER the
      // strip. Drops no documents (row counts unchanged; the audit frame
      // keeps its shape), rewrites their text.
      lineDedupMaxDocFreq: Option[Long] = None,
      // when non-empty, a blocklist hit-RATIO gate joins the row-local
      // quality filters: docs whose banned-token ratio (Blocklist.termHits
      // semantics, rounded at 6) exceeds blockMaxRatio die. Config-sized
      // lists evaluate as a map-only array_contains filter — no join; use
      // Blocklist.filterClean directly for table-sized lists.
      blockTerms: Seq[String] = Nil,
      blockMaxRatio: Double = 0.1,
      splits: Seq[(String, Double)] = Seq("train" -> 98.0, "val" -> 1.0, "test" -> 1.0),
      trainSplit: String = "train",
      seqBudget: Long = 2048,
      packShards: Int = 64) {
    require(splits.exists(_._1 == trainSplit),
      s"trainSplit '$trainSplit' must be one of the configured splits: ${splits.map(_._1)}")
  }

  /** Curated output: `documents` — the surviving rows (id, canonical
    * text, split); `sequences` — the train split packed into
    * `cfg.seqBudget`-token sequences.
    */
  case class Curated(documents: DataFrame, sequences: DataFrame)

  /** Every intermediate survivor set of one [curate] run — the stage
    * frames a production run would checkpoint between arrows. Exposed so
    * the composed pipeline can be verified STAGE BY STAGE (qc01): each
    * frame is lazy and shares the plan subtree of the previous one, so
    * counting all of them is one job per frame over a common lineage, not
    * a re-run per stage.
    */
  case class Stages(input: DataFrame, quality: DataFrame, spanGated: DataFrame,
                    exact: DataFrame, deduped: DataFrame, clean: DataFrame,
                    split: DataFrame, packed: DataFrame,
                    /** Audit counts captured BY the persist-mode
                      * materialization itself (`mark`'s count, the per-split
                      * histogram, the packed-stats single agg) — a stage-count
                      * observer reads these instead of re-running an action
                      * per stage, halving the actions of a counted run. Keys:
                      * input quality spans exact neardup clean split_<name>
                      * pieces sequences; packed_tokens is ABSENT when the
                      * packed frame is empty (sum-of-nothing is SQL NULL, and
                      * the observer must reproduce that). Empty map when
                      * persist = false (nothing was materialized to count).
                      */
                    counts: Map[String, Long] = Map.empty,
                    /** Wall seconds between consecutive materialization
                      * boundaries of a persist/storage-mode run, keyed like
                      * `counts` — stage N's value covers everything since
                      * stage N−1 materialized, so eager construction work
                      * (the component loop's checkpoint rounds) is
                      * attributed to the stage that triggered it. Bench
                      * cost attribution only (see [lastStageSecs]) — never
                      * part of an oracle frame. Empty on lazy runs.
                      */
                    stageSecs: Map[String, Double] = Map.empty)

  /** The most recent persist/storage-mode [stages] run's per-stage wall
    * seconds ON THIS THREAD — a diagnostic side-channel for Bench (qc01 is
    * ~18% of the catalog total; its next optimization needs per-stage
    * attribution, not a guess). Bench measures an entry and snapshots this
    * on the same thread, so the value it records is that entry's last
    * timed run; thread-locality means concurrent curate() calls (parallel
    * tests) can never interleave their attribution into Bench's snapshot.
    * Never read on a correctness path.
    */
  val lastStageSecs = new ThreadLocal[Map[String, Double]] {
    override def initialValue(): Map[String, Double] = Map.empty
  }

  def curate(docs: DataFrame, benchmark: DataFrame, idCol: String, textCol: String,
             cfg: Config = Config()): Curated = {
    val st = stages(docs, benchmark, idCol, textCol, cfg)
    Curated(st.split, st.packed)
  }

  /** `persist = true` caches each stage frame as it is built — the
    * "persist at every arrow" mode the object doc describes for
    * production runs (and for anything that observes more than one stage,
    * like qc01's count union: without it every observer re-executes the
    * shared upstream chain, and the near-dup stage's component loop —
    * which runs eagerly during construction — would pay the quality/exact
    * chain a second time). `false` (default) keeps the composition fully
    * lazy so small single-output runs execute as one job and leak no
    * cache entries.
    */
  /** `release = true` (persist mode only) unpersists each stage's cache as
    * soon as the next stage's materialization has consumed it — the
    * pipeline's peak cached footprint drops from every-stage-resident
    * (~9 corpus-sized caches) to the 2-3 frames still live (split, packed,
    * and the in-flight stage). A 100 TB run cannot hold nine corpus copies
    * in cluster memory either; checkpoint-and-release is the production
    * discipline. Lineage stays intact, so a caller who re-reads a released
    * Stages frame recomputes it (correct, just uncached) — the stage
    * counts observer reads `Stages.counts`, which is captured before any
    * release. Released mode also shrinks GC/eviction churn under a tight
    * heap — the mechanism that amplified the composed entries 2-3× under
    * memory pressure (see docs/SCALE.md round-9 note).
    */
  /** `storageDir = Some(dir)` (with persist = true) swaps the cache-based
    * per-arrow materialization for STORAGE round-trips: each stage frame
    * writes to parquet under `dir` and downstream stages re-read the
    * files — the medallion (bronze→silver) discipline a 100 TB run
    * actually uses between pipeline arrows, where nine corpus-sized
    * frames cannot sit in cluster memory and a stage boundary doubles as
    * the restart point. Stage counts ride the same observer contract
    * (parquet footer counts — metadata reads, not scans), so the output
    * frame is bit-identical to the cache mode's and the two share one
    * oracle (qc01 vs qc01s prices exactly this choice).
    */
  /** `resume = true` (storage mode only) turns each stage boundary into
    * the restart point the mode's doc promises: a stage whose parquet is
    * already COMMITTED under `storageDir` (directory + `_SUCCESS` marker —
    * a crash mid-write leaves no marker and the stage rewrites) is READ
    * instead of recomputed, and everything downstream rebuilds from the
    * surviving prefix. Works for any surviving subset, not just prefixes:
    * every stored stage's downstream plan reads the parquet scan, never
    * the upstream lineage. The caller owns the resume invariant — same
    * input, same config, same code version as the interrupted run (the
    * medallion restart contract; CurationSpec pins bit-identical output
    * and untouched surviving-stage files).
    */
  def stages(docs: DataFrame, benchmark: DataFrame, idCol: String, textCol: String,
             cfg: Config = Config(), persist: Boolean = false,
             release: Boolean = false,
             storageDir: Option[String] = None,
             resume: Boolean = false): Stages = {
    // persist mode materializes each stage EAGERLY (count after persist):
    // a lazily-persisted stage is cold when the first multi-branch action
    // runs, and concurrent branches race-recompute the shared upstream
    // chain instead of reading cache — adding the span-gate stage (one
    // more multi-reference layer) took the 12-branch qc01 entry from
    // 26 s to 93 s at sf0.1 under lazy persist; eager per-arrow
    // materialization runs every chain exactly once.
    val marker = new StageMarker(persist && storageDir.isEmpty, release, stageStorageLevel)
    marker.guard {
      val audit = marker.audit
      // storage mode: write the stage to parquet and return the SCAN of the
      // files — the count reads parquet footers (metadata, not a data pass).
      // A fresh write is read back with the schema it was written with; a
      // resumed stage infers from its files, so one written by other code
      // fails loudly downstream instead of being read as this schema
      def storeOnly(name: String, df: DataFrame): DataFrame = {
        val path = s"${storageDir.get}/$name.parquet"
        val spark = df.sparkSession
        val committed = resume && {
          val p = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
          p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
        }
        if (committed) spark.read.parquet(path)
        else {
          df.write.mode("overwrite").parquet(path)
          spark.read.schema(df.schema).parquet(path)
        }
      }
      def store(name: String, df: DataFrame): DataFrame = {
        val back = storeOnly(name, df)
        audit(name) = back.count()
        back
      }
      // Per-stage wall attribution (Stages.stageSecs): boundary-to-boundary
      // deltas, so eager work between two marks (the component loop's
      // checkpoint rounds run during construction, not inside any count)
      // lands on the stage whose materialization follows it.
      val stageWall = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      var lastBoundary = System.nanoTime()
      def stamp(name: String): Unit = {
        val now = System.nanoTime()
        stageWall(name) = (now - lastBoundary) / 1e9
        lastBoundary = now
      }
      // Persist mode cuts the logical plan at each boundary (the marker's
      // cache cuts): uncut, r16 measured the cache-mode entry at 26.8 s
      // against the storage-mode twin's 9.7 s for the SAME pipeline, the gap
      // concentrated in the deepest stages (split 4.3 s, packed 7.5 s of
      // near-zero real compute) — a parquet re-read is a flat scan already.
      def mark(name: String, df: DataFrame): DataFrame = {
        val out = if (storageDir.isDefined) store(name, df) else marker.counted(name, df)
        if (storageDir.isDefined || persist) stamp(name)
        out
      }
      // see curateDelta's lineageCut: eager one-shot materialization (under
      // AQE) for the pair frame connectedComponents' edge union reads twice.
      // Storage mode cuts through parquet instead — at cluster scale the
      // pair frame on durable storage is also the dedup-stage restart point.
      def lineageCut(df: DataFrame): DataFrame =
        if (storageDir.isDefined) storeOnly("pairs", df) // a checkpoint, not a
        // counted stage: no audit row, so both modes emit identical counts
        else if (persist) df.localCheckpoint(true, stageStorageLevel) else df
      val id = col(idCol)

      // 1. canonicalize: one byte representation (NFC) with PII gone, BEFORE
      // any hash sees the text. Persisted in persist mode: the quality stage
      // reads it twice (gate filter + repetition signals), and NFC+PII regex
      // scrubbing is the most expensive row-local pass in the pipeline —
      // without the cache it runs once per consumer.
      // Parallelism note (measured, round 9): the fixture's documents.parquet
      // is ONE row group, so this scan — and every row-local pass over it —
      // runs on one core (the canon+quality block is ~7.6 s of qc01's 32 s).
      // A repartition(defaultParallelism) here parallelizes the regex 32×
      // but REGRESSES the entry to 40.4 s: the pipeline's ~25 downstream
      // jobs then schedule 32 tasks each over kilobyte partitions, and task
      // overhead swamps the regex win at this corpus size. Partition count
      // must track data volume — at 100 TB the scan has thousands of real
      // splits and no repartition is needed; forcing one at demo scale is a
      // fixture-tuned pessimization, so the input partitioning is left to
      // the source.
      // barrier-fenced (see Expressions.Barrier): in persist mode the stage
      // cache is the materialization point, but a persist=false caller's
      // gate filters would otherwise be pushed below this projection with
      // the scrub∘NFC subtree substituted per reference (measured 14.7 vs
      // 1.9 s/M on the streaming twin of this exact shape)
      val scrubbed = docs.select(id,
        Expressions.barrier(
          TextFns.scrubPii(Expressions.normalizeText(col(textCol), "NFC"))).as(textCol))
      // 1b. optional line-level boilerplate strip (CCNet paragraph dedup) —
      // BEFORE any hash: chrome differences must not defeat exact dedup.
      // Rewrites text, drops no rows, so the audit frame keeps its shape.
      val lineClean = cfg.lineDedupMaxDocFreq.fold(scrubbed) { k =>
        Dedup.dedupLines(scrubbed, idCol, textCol, k)
          .select(id, col("text").as(textCol))
      }
      val canon = mark("input", lineClean)

      // 2. row-local quality gates (narrow, no shuffle), then the doc-keyed
      // repetition signals — cheap filters shrink every pairwise stage after
      val gated0 = canon
        .filter(TextFns.tokenCount(col(textCol)) >= cfg.minTokens &&
          TextFns.qualityScore(col(textCol)) >= cfg.minQuality)
      // 2a'. optional blocklist ratio gate (Blocklist.keepPredicate —
      // map-only for the Config-sized term list)
      val gated = if (cfg.blockTerms.isEmpty) gated0
        else gated0.filter(graft.operators.Blocklist.keepPredicate(
          col(textCol), cfg.blockTerms, cfg.blockMaxRatio))
      val rep = graft.operators.Repetition.repetitionSignals(gated, idCol, textCol)
        .filter(col("dup_line_frac") <= cfg.maxDupLineFrac &&
          col("top_bigram_frac") <= cfg.maxTopBigramFrac)
        .select(id)
      val quality = mark("quality", gated.join(rep, Seq(idCol), "left_semi"))
      marker.drop(canon) // quality (gate + repetition) was canon's only consumer —
      // and canon is the pipeline's LARGEST cache (full corpus text)

      // 2b. optional boilerplate gate: drop docs mostly covered by windows
      // duplicated across >= dupSpanMinDocs documents (substring-granular —
      // the signal the document-level stages below can't see). One window-
      // hash map pass + two combinable aggregates + one 8-byte-hash join
      // over the quality survivors; a no-op frame when disabled.
      val spanGated = cfg.maxDupSpanFrac.fold(quality) { maxFrac =>
        val keep = Dedup.dupSpanStats(quality, idCol, textCol,
            cfg.dupSpanWidth, cfg.dupSpanMinDocs)
          .filter(col("dup_frac") <= maxFrac).select(id)
        mark("spans", quality.join(keep, Seq(idCol), "left_semi"))
      }
      // gate off → the spans frame IS the quality frame; the audit row still
      // exists so a silently (de)activated gate flips the observer's hash
      if ((persist || storageDir.isDefined) && !audit.contains("spans"))
        audit("spans") = audit("quality")
      if (spanGated ne quality) marker.drop(quality) // gate on: quality fed only the gate

      // 3. exact dedup (fingerprint aggregate), keep the min-id copy
      val exactKeep = Dedup.exactByFingerprint(spanGated, textCol, idCol)
        .select(col("keep_id").as(idCol))
      val exact = mark("exact", spanGated.join(exactKeep, Seq(idCol), "left_semi"))
      marker.drop(spanGated)

      // 4. near-dup clusters over the survivors, keep canonical members.
      // Prefix-filtered pair generation (exact — identical output to the
      // plain inverted index, the DedupSpec-pinned equivalence): at a
      // production dedup threshold the prefix indexes ~15-30% of each doc
      // and hot boilerplate shingles sort to the unindexed tail, which is
      // the regime a real corpus (and this fixture's ~31-word vocabulary)
      // lives in — see docs/SCALE.md "Round-6 delta: prefix filtering's
      // crossover".
      // Optional verify stage: confirm Jaccard candidates by edit distance
      // (normalized by the longer text) before they merge clusters
      val rawPairs = Dedup.ngramJaccardPairsPrefix(exact, idCol, textCol,
        n = cfg.ngramN, threshold = cfg.nearDupJaccard)
      val pairs = lineageCut(cfg.maxEditRatio.fold(rawPairs) { maxRatio =>
        val ta = exact.select(id.as("id_a"), col(textCol).as("__ta"))
        val tb = exact.select(id.as("id_b"), col(textCol).as("__tb"))
        // BOUNDED Levenshtein: the DP early-exits (and returns -1) once the
        // distance exceeds ⌈maxRatio·max(|a|,|b|)⌉ — O(bound·min) per pair
        // instead of O(|a|·|b|), which matters when candidates are long
        // documents. -1 (exceeded) fails the ≤ comparison like any
        // over-bound distance; the exact unrounded ratio check stays.
        val bound = ceil(lit(maxRatio) *
          greatest(length(col("__ta")), length(col("__tb"))).cast("double")).cast("int")
        val dist = Bridge.column(
          org.apache.spark.sql.catalyst.expressions.Levenshtein(
            Bridge.expression(col("__ta")),
            Bridge.expression(col("__tb")),
            Some(Bridge.expression(bound))))
        rawPairs.join(ta, "id_a").join(tb, "id_b")
          .filter(dist >= 0 && dist.cast("double") <=
            lit(maxRatio) * greatest(length(col("__ta")), length(col("__tb"))).cast("double"))
          .select(col("id_a"), col("id_b"), col("jaccard"))
      })
      val canonical = Dedup.nearDupClusters(exact, idCol, pairs)
        .filter(col("is_canonical")).select(id)
      val deduped = mark("neardup", exact.join(canonical, Seq(idCol), "left_semi"))
      marker.drop(exact) // pairs are checkpointed, clusters collected — exact is done

      // 5. decontaminate against the benchmark (containment, not Jaccard).
      // The benchmark goes through the SAME canonicalization as stage 1 —
      // shingles must compare canonical bytes to canonical bytes, or a
      // decomposed-Unicode benchmark item (or one containing PII the corpus
      // copy had rewritten to <EMAIL>/<IP>/<PHONE>) could never match its
      // contaminated twin and would silently ship in the training set
      val benchCanon = benchmark.select(col(idCol),
        TextFns.scrubPii(Expressions.normalizeText(col(textCol), "NFC")).as(textCol))
      val contaminated = Dedup.ngramContainmentPairs(deduped, benchCanon, idCol, textCol,
        n = cfg.ngramN, threshold = cfg.contaminationMax)
        .select(col("doc_id").as(idCol)).distinct()
      val clean = mark("clean", deduped.join(contaminated, Seq(idCol), "left_anti"))
      marker.drop(deduped)

      // 6. deterministic split, 7. pack the configured train split
      val split0 = Split.assignSplit(clean, id, cfg.splits)
      val split =
        if (storageDir.isDefined) {
          val back = store("split", split0)
          audit.remove("split") // observer contract wants per-split rows
          marker.splitCounts(back)
          back
        } else marker(split0)(marker.splitCounts)
      if (storageDir.isDefined || persist) stamp("split")
      marker.drop(clean)
      val trainTokens = split.filter(col("split") === lit(cfg.trainSplit))
        .select(id, TextFns.tokenCount(col(textCol)).cast("long").as("n_tokens"))
      val packed0 = Pack.packSequences(trainTokens, idCol, "n_tokens",
        cfg.seqBudget, cfg.packShards)
      val packed =
        if (storageDir.isDefined) {
          val back = store("packed", packed0)
          audit.remove("packed")
          marker.packedStats(back)
          back
        } else marker(packed0)(marker.packedStats)
      if (storageDir.isDefined || persist) stamp("packed")
      // ListMap: keep pipeline order so the bench JSON reads as the stage
      // sequence (a plain toMap re-hashes the keys)
      val stageSecsOrdered =
        scala.collection.immutable.ListMap(stageWall.toSeq: _*)
      lastStageSecs.set(stageSecsOrdered)
      Stages(canon, quality, spanGated, exact, deduped, clean, split, packed,
        counts = audit.toMap, stageSecs = stageSecsOrdered)
    }
  }

  /** The persist-mode stage boundaries [stages] and [curateDelta] share.
    * Each boundary is one cache cut (Bridge.materialize) whose action is
    * the stage's observer read, recorded in `audit` (Stages.counts) so
    * observers never pay a second action per stage. Outside persist mode
    * frames pass through untouched and nothing is recorded.
    */
  private final class StageMarker(persist: Boolean, release: Boolean, level: StorageLevel) {
    val audit = mutable.LinkedHashMap.empty[String, Long]
    private val held = mutable.Map.empty[DataFrame, Bridge.Cut]

    def apply(df: DataFrame)(action: DataFrame => Unit): DataFrame =
      if (!persist) df else {
        val c = Bridge.materialize(df, level)(action)
        held(c.view) = c
        c.view
      }

    /** A stage boundary whose action is the stage's row count. */
    def counted(name: String, df: DataFrame): DataFrame = apply(df)(p => audit(name) = p.count())

    /** The split frame's action: the per-split histogram (one job) rather
      * than a bare count — the observer's `05_split_*` rows ride it.
      */
    def splitCounts(df: DataFrame): Unit =
      df.groupBy(col("split")).count().collect()
        .foreach(r => audit("split_" + r.getString(0)) = r.getLong(1))

    /** The packed frame's action: piece count, distinct (shard, seq)
      * sequences and total tokens in ONE agg job. `packed_tokens` is
      * recorded only when pieces exist: an empty pack's token sum is SQL
      * NULL and the observer reproduces that by the key's absence.
      */
    def packedStats(df: DataFrame): Unit = {
      val r = df.agg(count(lit(1)).as("pieces"),
        countDistinct(col("shard"), col("seq")).as("sequences"),
        sum(col("tok_len")).cast("long").as("tokens")).collect()(0)
      audit("pieces") = r.getLong(0)
      audit("sequences") = r.getLong(1)
      if (!r.isNullAt(2)) audit("packed_tokens") = r.getLong(2)
    }

    /** Release a stage's cache once the downstream materialization has
      * consumed it (release mode only; a no-op on frames it never cut).
      */
    def drop(df: DataFrame): Unit = if (release) held.remove(df).foreach(_.release())

    /** Build the stages; if construction throws, release every stage
      * still held, so a failed run leaves no cache entry behind.
      */
    def guard[T](build: => T): T =
      try build catch { case t: Throwable => held.values.foreach(_.release()); throw t }
  }

  /** The persisted state an incremental run needs from the batch that
    * shipped: the curated corpus documents (id + CANONICAL text — the
    * near-dup index is derived from these), their fingerprint set (exact
    * index — a ~0.01% shadow of the text), and where each packing shard's
    * token stream ended. Everything else the delta needs (split
    * assignment, gates) is a pure function of the row.
    */
  case class CorpusState(docs: DataFrame, fingerprints: DataFrame,
                         shardOffsets: DataFrame,
                         /** The corpus's prefix-posting near-dup index
                           * ([Dedup.NearDupIndex]) when the batch publisher
                           * built one — [curateDelta] then serves pair
                           * generation from it instead of re-deriving the
                           * corpus shingles and their df sidecar per run
                           * (VERDICT r16 #4: the build/serve split, same
                           * seam as the BM25/PQ/embed indexes). Absent →
                           * the in-query derivation, bit-identical output.
                           */
                         nearDupIndex: Option[Dedup.NearDupIndex] = None)

  /** Derive [CorpusState] from a completed batch run's stage frames.
    *
    * The frames are EAGERLY lineage-truncated (localCheckpoint): state is
    * by definition what a production run persists to storage between
    * batches, and [curateDelta] references each state frame several
    * times — carrying the full batch plan into every reference multiplies
    * an already-deep lineage until analysis itself becomes the bottleneck
    * (measured: minutes of planning and an OOM building the explain
    * string on a toy fixture). The checkpoint is the storage round-trip's
    * stand-in; loading state from real tables needs no truncation.
    *
    * `ngramN = Some(n)` additionally derives the near-dup prefix-posting
    * index (shingle width n — MUST equal the delta config's ngramN) from
    * the checkpointed docs frame, so the batch publishes the index the
    * deltas serve from.
    */
  def stateOf(st: Stages, idCol: String, textCol: String,
              ngramN: Option[Int] = None): CorpusState = {
    val docs = st.clean.select(col(idCol), col(textCol))
      .localCheckpoint(true, stageStorageLevel)
    val index = ngramN.map { n =>
      // derive from the already-checkpointed docs (one tokenization pass
      // over stored blocks, never a re-run of the batch pipeline)
      val ix = Dedup.nearDupIndexOf(docs, idCol, textCol, n)
      Dedup.NearDupIndex(ix.sized.localCheckpoint(true, stageStorageLevel),
        ix.dfs.localCheckpoint(true, stageStorageLevel), n)
    }
    CorpusState(
      docs = docs,
      fingerprints = st.clean
        .select(TextFns.fingerprint(col(textCol)).as("fp")).distinct()
        .localCheckpoint(true, stageStorageLevel),
      shardOffsets = Pack.shardOffsets(st.packed)
        .localCheckpoint(true, stageStorageLevel),
      nearDupIndex = index)
  }

  /** Persist a [CorpusState] under `dir` as one [graft.sources.Artifacts]
    * store (parts docs/ fingerprints/ shard_offsets/; the manifest,
    * written last, is the commit) — the artifact a batch run leaves behind
    * and the next day's [curateDelta] resumes from. This is the REAL
    * storage round-trip [stateOf]'s localCheckpoint stands in for: docs
    * and fingerprints are corpus-sized distributed tables (never
    * driver-resident), shard offsets are `packShards` rows. Pass
    * `bucketIdCol` (the overload below) to write the corpus-sized tables
    * bucketed on their join keys.
    */
  def saveState(state: CorpusState, dir: String): Unit =
    saveState(state, dir, bucketIdCol = None)

  /** With `bucketIdCol = Some(id)`, the corpus-sized state tables are
    * written bucketed — docs on the id, fingerprints on `fp` — instead of
    * loose parquet: curateDelta anti-joins the corpus fingerprint index
    * (and id-joins the docs) once per delta run, and a plain parquet scan
    * re-shuffles the state side every run, the shuffle that grows with
    * the CORPUS while the delta stays a day wide. A bucketed scan reports
    * its hash partitioning and those exchanges vanish (PlanSpec gates
    * it) — at cluster scale this is "bucket the state tables by their
    * join keys", decided once at batch-publish time and amortized over
    * every delta that follows.
    *
    * The near-dup index is its own artifact under `neardup_index/`,
    * written after the state commits: the save clears the whole state
    * directory first, so a state saved without an index leaves none, and
    * an interrupted index save loads as `nearDupIndex = None` (curateDelta
    * then derives pairs from the corpus) — never as an older corpus's
    * index.
    */
  def saveState(state: CorpusState, dir: String,
                bucketIdCol: Option[String]): Unit = {
    Artifacts.write(dir, "corpus_state", Seq(
      Artifacts.Part("docs", state.docs, bucketIdCol),
      Artifacts.Part("fingerprints", state.fingerprints, bucketIdCol.map(_ => "fp")),
      Artifacts.Part("shard_offsets", state.shardOffsets.coalesce(1))))
    state.nearDupIndex.foreach(Dedup.saveNearDupIndex(_, s"$dir/neardup_index"))
  }

  /** Reload [saveState] output — every frame a lazy scan; the delta
    * pipeline's multiple references re-read storage rather than holding
    * the corpus resident, exactly as a production resume would. A store
    * written bucketed comes back as catalog tables so its hash
    * partitioning is visible to the planner. Throws FileNotFoundException
    * when `dir` holds no committed state.
    */
  def loadState(spark: org.apache.spark.sql.SparkSession, dir: String): CorpusState = {
    val a = Artifacts.load(spark, dir, "corpus_state")
    val ixDir = s"$dir/neardup_index"
    CorpusState(a("docs"), a("fingerprints"), a("shard_offsets"),
      Option.when(Artifacts.exists(spark, ixDir))(Dedup.loadNearDupIndex(spark, ixDir)))
  }

  /** INCREMENTAL curation: one day's `delta` batch through the same
    * stages as [curate], against an already-curated corpus — without
    * ever reprocessing the corpus. The per-stage substitutions are the
    * incremental operators the batch stages pair with:
    *
    *   - exact dedup    → [Dedup.dedupDelta]: within-delta collapse +
    *     anti-join of the corpus FINGERPRINT index (never the text);
    *   - near-dup       → [Dedup.nearDupDelta]: prefix pairs restricted
    *     to delta×corpus ∪ delta×delta under the corpus-frozen rarest-
    *     first order — corpus×corpus never re-pairs;
    *   - packing        → [Pack.packSequences] with the corpus's shard
    *     offsets: each shard's stream CONTINUES where the batch ended
    *     (sequence ids keep counting, the last partial sequence tops up).
    *
    * Drop policy for near-dup pairs (after the optional edit-distance
    * verify): a delta doc paired with ANY corpus doc drops — the corpus
    * copy already shipped and must stay canonical (training-set stability:
    * an arrival never retroactively evicts shipped data); within
    * delta-only clusters the min-id member ships, exactly like [curate].
    * Since corpus ids precede delta ids in any sane ingest scheme, this
    * is the same min-id-canonical decision the batch run would make —
    * with ONE documented divergence: a delta doc whose only near-dup link
    * is to a corpus doc the batch run itself retired (a non-canonical
    * cluster member, absent from `state.docs`) is not caught; threshold-
    * transitive chains through retired docs are inherently invisible to
    * any index that stores canonical survivors only.
    *
    * The quality gates, decontamination, and split assignment are pure
    * per-row functions and run unchanged — a re-submitted doc gets the
    * identical verdict it got the first time.
    */
  def curateDelta(state: CorpusState, delta: DataFrame, benchmark: DataFrame,
                  idCol: String, textCol: String,
                  cfg: Config = Config(), persist: Boolean = false,
                  release: Boolean = false): Stages = {
    // eager per-arrow materialization in persist mode, count captured;
    // release drops each stage's cache once consumed — see stages()
    val marker = new StageMarker(persist, release, deltaStorageLevel)
    marker.guard {
      // Eager one-shot materialization for the verified pair frame: it fans
      // out FIVE ways (the connected-components edge union reads it twice,
      // corpusLinked twice, deltaPairs once) and its first consumer is CC's
      // eager edge checkpoint, so an unpersisted chain re-runs posting-join
      // pair generation + the edit-distance verify per reference (qc02
      // benched 42.2 s). localCheckpoint rather than persist: the checkpoint
      // job runs the chain once UNDER AQE and downstream consumers read
      // stored blocks, whereas .persist() compiles the cached subtree
      // without AQE's runtime re-planning — measured 57.1 s, WORSE than no
      // caching at all (and the round's earlier 3-consumer persist attempt
      // measured the same effect, 44.8 vs 37.7 s).
      def lineageCut(df: DataFrame): DataFrame =
        if (persist) df.localCheckpoint(true, deltaStorageLevel) else df
      val id = col(idCol)

      // 1-2. canonicalize + row-local gates: identical to the batch stages
      // (canon persisted for the same double-read reason; input partitioning
      // left to the source for the same task-overhead reason — see stages())
      val scrubbedDelta = delta.select(id,
        Expressions.barrier( // same fence as stages() — see the note there
          TextFns.scrubPii(Expressions.normalizeText(col(textCol), "NFC"))).as(textCol))
      // 1b. optional line strip, incremental analog: line doc-frequencies
      // count over corpus ∪ delta (chrome shared with shipped docs must
      // count), only delta docs are rewritten. Honest caveat: the corpus
      // side contributes its SURVIVING lines — chrome the batch gate already
      // stripped is absent from state, so an old footer re-protects only if
      // the delta alone re-reaches maxDocFreq (persisting the batch's line
      // df table as state would close this, the same trade as the span
      // gate's window-hash table — see stateOf).
      val lineClean = cfg.lineDedupMaxDocFreq.fold(scrubbedDelta) { k =>
        val corpusOnly = state.docs.select(id, col(textCol))
          .join(scrubbedDelta.select(id), Seq(idCol), "left_anti")
        Dedup.dedupLines(corpusOnly.unionByName(scrubbedDelta), idCol, textCol, k)
          .join(scrubbedDelta.select(id), Seq(idCol), "left_semi")
          .select(id, col("text").as(textCol))
      }
      val canon = marker.counted("input", lineClean)
      val gated0 = canon
        .filter(TextFns.tokenCount(col(textCol)) >= cfg.minTokens &&
          TextFns.qualityScore(col(textCol)) >= cfg.minQuality)
      // 2a'. optional blocklist ratio gate — identical to the batch stage
      val gated = if (cfg.blockTerms.isEmpty) gated0
        else gated0.filter(graft.operators.Blocklist.keepPredicate(
          col(textCol), cfg.blockTerms, cfg.blockMaxRatio))
      val rep = graft.operators.Repetition.repetitionSignals(gated, idCol, textCol)
        .filter(col("dup_line_frac") <= cfg.maxDupLineFrac &&
          col("top_bigram_frac") <= cfg.maxTopBigramFrac)
        .select(id)
      val quality = marker.counted("quality", gated.join(rep, Seq(idCol), "left_semi"))
      marker.drop(canon)

      // 2b. optional boilerplate gate, the incremental analog: a delta doc's
      // windows are counted against corpus ∪ delta (boilerplate shared with
      // already-shipped docs must count — the batch gate would have seen
      // it), then only delta docs are gated; shipped corpus docs are never
      // re-judged. Reads the corpus text like nearDupDelta does; a
      // production run would persist the corpus window-hash table as state
      // instead of recomputing it (same class of trade as the near-dup
      // index, see stateOf).
      val spanGated = cfg.maxDupSpanFrac.fold(quality) { maxFrac =>
        val all = state.docs.select(id, col(textCol))
          .unionByName(quality.select(id, col(textCol)))
        val keep = Dedup.dupSpanStats(all, idCol, textCol,
            cfg.dupSpanWidth, cfg.dupSpanMinDocs)
          .filter(col("dup_frac") <= maxFrac).select(id)
        marker.counted("spans", quality.join(keep, Seq(idCol), "left_semi"))
      }
      if (persist && !marker.audit.contains("spans"))
        marker.audit("spans") = marker.audit("quality")
      if (spanGated ne quality) marker.drop(quality)

      // 3. exact dedup against the corpus fingerprint index
      val exact = marker.counted("exact", Dedup.dedupDelta(spanGated, state.fingerprints, textCol, idCol))
      marker.drop(spanGated)

      // 4. near-dup against corpus + within delta, optional edit verify.
      // When the state carries the published prefix-posting index, pair
      // generation SERVES from it (the corpus shingle table + frozen df
      // sidecar read as parquet scans) instead of re-tokenizing the corpus
      // text inside the run — bit-identical pairs (strings/ints round-trip
      // parquet exactly; the prefix order is the same frozen df), one
      // posting subtree on the serve path instead of the 3-4 planned
      // derivations the r16 probe measured.
      val rawPairs = state.nearDupIndex match {
        case Some(ix) =>
          require(ix.n == cfg.ngramN,
            s"near-dup index shingle width ${ix.n} != config ngramN ${cfg.ngramN}")
          Dedup.nearDupDeltaIndexed(ix, exact, idCol, textCol,
            threshold = cfg.nearDupJaccard)
        case None => Dedup.nearDupDelta(state.docs, exact, idCol, textCol,
          n = cfg.ngramN, threshold = cfg.nearDupJaccard)
      }
      val pairs = lineageCut(cfg.maxEditRatio.fold(rawPairs) { maxRatio =>
        val texts = state.docs.unionByName(exact.select(id, col(textCol)))
        val ta = texts.select(id.as("id_a"), col(textCol).as("__ta"))
        val tb = texts.select(id.as("id_b"), col(textCol).as("__tb"))
        val bound = ceil(lit(maxRatio) *
          greatest(length(col("__ta")), length(col("__tb"))).cast("double")).cast("int")
        val dist = Bridge.column(
          org.apache.spark.sql.catalyst.expressions.Levenshtein(
            Bridge.expression(col("__ta")),
            Bridge.expression(col("__tb")),
            Some(Bridge.expression(bound))))
        rawPairs.join(ta, "id_a").join(tb, "id_b")
          .filter(dist >= 0 && dist.cast("double") <=
            lit(maxRatio) * greatest(length(col("__ta")), length(col("__tb"))).cast("double"))
          .select(col("id_a"), col("id_b"), col("jaccard"))
      })
      // delta docs linked to a corpus doc drop outright; delta-only pairs
      // cluster and keep the min-id canonical, as the batch stage does
      val corpusIds = state.docs.select(id.as("__cid"))
      val corpusLinked =
        pairs.join(corpusIds, pairs("id_a") === col("__cid"), "left_semi")
          .select(col("id_b").as(idCol))
        .unionByName(
          pairs.join(corpusIds, pairs("id_b") === col("__cid"), "left_semi")
            .select(col("id_a").as(idCol)))
        .distinct()
      val deltaPairs = pairs
        .join(corpusIds, pairs("id_a") === col("__cid"), "left_anti")
        .join(corpusIds, pairs("id_b") === col("__cid"), "left_anti")
        .select(col("id_a"), col("id_b"), col("jaccard"))
      val canonical = Dedup.nearDupClusters(exact, idCol, deltaPairs)
        .filter(col("is_canonical")).select(id)
      val deduped = marker.counted("neardup", exact
        .join(corpusLinked, Seq(idCol), "left_anti")
        .join(canonical, Seq(idCol), "left_semi"))
      marker.drop(exact) // pairs checkpointed, clusters collected — exact is done

      // 5. decontaminate (same canonicalization on the benchmark side)
      val benchCanon = benchmark.select(col(idCol),
        TextFns.scrubPii(Expressions.normalizeText(col(textCol), "NFC")).as(textCol))
      val contaminated = Dedup.ngramContainmentPairs(deduped, benchCanon, idCol, textCol,
        n = cfg.ngramN, threshold = cfg.contaminationMax)
        .select(col("doc_id").as(idCol)).distinct()
      val clean = marker.counted("clean", deduped.join(contaminated, Seq(idCol), "left_anti"))
      marker.drop(deduped)

      // 6-7. per-row split; pack CONTINUES the corpus's shard streams
      val split = marker(Split.assignSplit(clean, id, cfg.splits))(marker.splitCounts)
      marker.drop(clean)
      val trainTokens = split.filter(col("split") === lit(cfg.trainSplit))
        .select(id, TextFns.tokenCount(col(textCol)).cast("long").as("n_tokens"))
      val packed = marker(Pack.packSequences(trainTokens, idCol, "n_tokens",
        cfg.seqBudget, cfg.packShards, shardOffsets = Some(state.shardOffsets)))(marker.packedStats)
      Stages(canon, quality, spanGated, exact, deduped, clean, split, packed,
        counts = marker.audit.toMap)
    }
  }
}
