package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.storage.StorageLevel
import scala.collection.immutable.ListMap
import scala.collection.mutable
import graft.functions.{Expressions, TextFns}
import graft.operators.{Blocklist, Dedup, Pack, Repetition, Split}
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

  /** Storage level for the [Cached]-mode stage caches. The columnar SQL
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
                    /** Audit counts captured BY the materializing
                      * boundaries themselves (the stage count, the
                      * per-split histogram, the packed-stats single agg)
                      * — a stage-count observer reads these instead of
                      * re-running an action per stage, halving the actions
                      * of a counted run. Keys: input quality spans exact
                      * neardup clean split_<name> pieces sequences;
                      * packed_tokens is ABSENT when the packed frame is
                      * empty (sum-of-nothing is SQL NULL, and the observer
                      * must reproduce that). Empty in [Lazy] mode (nothing
                      * was materialized to count).
                      */
                    counts: Map[String, Long] = Map.empty)

  /** The most recent [Cached]/[Stored] [stages] run's per-stage wall
    * seconds ON THIS THREAD, keyed like `Stages.counts` — a diagnostic
    * side-channel for Bench (qc01 is ~18% of the catalog total; its next
    * optimization needs per-stage attribution, not a guess). Stage N's
    * value covers everything since stage N−1 materialized, so eager
    * construction work (the component loop's checkpoint rounds) lands on
    * the stage that triggered it. Bench measures an entry and snapshots
    * this on the same thread, so the value it records is that entry's last
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

  /** Where a [stages] or [curateDelta] run keeps each stage frame between
    * arrows — the one boundary policy both chains hand to [StageMarker].
    *
    *   - [Lazy] (default) keeps the composition fully lazy, so a small
    *     single-output run executes as one job and leaks no cache entry.
    *   - [Cached] caches each stage frame as it is built — "persist at
    *     every arrow", for production runs and for anything that observes
    *     more than one stage, like qc01's counts: lazily, every observer
    *     re-executes the shared upstream chain, and the near-dup stage's
    *     component loop, which runs eagerly during construction, would pay
    *     the quality/exact chain a second time. Each stage materializes
    *     EAGERLY through its observer action: a lazily persisted stage is
    *     cold when the first multi-branch action runs, and concurrent
    *     branches race-recompute the shared upstream chain (adding the
    *     span-gate stage took the 12-branch qc01 entry from 26 s to 93 s at
    *     sf0.1 under lazy persist). `release = true` unpersists each
    *     stage's cache as soon as the next stage's materialization has
    *     consumed it: the peak cached footprint drops from ~9 corpus-sized
    *     caches to the 2-3 frames still live, as a 100 TB run must, and
    *     GC/eviction churn under a tight heap shrinks with it (the
    *     mechanism that amplified the composed entries 2-3× under memory
    *     pressure, docs/SCALE.md round-9 note). Lineage stays intact, so a
    *     re-read released frame recomputes (correct, just uncached);
    *     `Stages.counts` is captured before any release.
    *   - [Stored] swaps the caches for STORAGE round-trips: each stage frame
    *     is written to `<dir>/<stage>.parquet` and downstream stages read
    *     the files — the medallion (bronze→silver) discipline a 100 TB run
    *     uses between arrows, where nine corpus-sized frames cannot sit in
    *     cluster memory and a boundary doubles as the restart point. Counts
    *     and frames equal [Cached]'s (qc01 and qc01s share one oracle).
    *     `resume = true` READS a stage already COMMITTED under `dir`
    *     (directory + `_SUCCESS` marker; a crash mid-write leaves none and
    *     the stage rewrites) instead of recomputing it, and everything
    *     downstream rebuilds from the surviving stages — any subset, since
    *     every stored stage's downstream plan reads the parquet scan, never
    *     the upstream lineage. The caller owns the resume invariant: same
    *     input, config and code version as the interrupted run (the
    *     medallion restart contract; CurationSpec pins bit-identical output
    *     and untouched surviving-stage files).
    *
    * [curateDelta] takes the [InMemory] modes only.
    */
  sealed trait StageMode
  sealed trait InMemory extends StageMode
  case object Lazy extends InMemory
  final case class Cached(release: Boolean) extends InMemory
  final case class Stored(dir: String, resume: Boolean = false) extends StageMode

  /** Canonical text: one byte representation (NFC) with PII gone — what
    * every hash, shingle and gate of the pipeline must see, on the corpus
    * and the benchmark side alike (and at the door, [[graft.streaming.Streams]]).
    */
  private[graft] def canonicalText(text: Column): Column =
    TextFns.scrubPii(Expressions.normalizeText(text, "NFC"))

  /** Row-local quality gates (narrow, no shuffle), the optional blocklist
    * ratio gate (Blocklist.keepPredicate — map-only for the Config-sized
    * term list), then the doc-keyed repetition signals: cheap filters
    * that shrink every pairwise stage after.
    */
  private def qualityGated(canon: DataFrame, idCol: String, textCol: String,
                           cfg: Config): DataFrame = {
    val gated0 = canon
      .filter(TextFns.tokenCount(col(textCol)) >= cfg.minTokens &&
        TextFns.qualityScore(col(textCol)) >= cfg.minQuality)
    val gated = if (cfg.blockTerms.isEmpty) gated0
      else gated0.filter(Blocklist.keepPredicate(
        col(textCol), cfg.blockTerms, cfg.blockMaxRatio))
    val rep = Repetition.repetitionSignals(gated, idCol, textCol)
      .filter(col("dup_line_frac") <= cfg.maxDupLineFrac &&
        col("top_bigram_frac") <= cfg.maxTopBigramFrac)
      .select(col(idCol))
    gated.join(rep, Seq(idCol), "left_semi")
  }

  /** The optional verify stage: confirm near-dup candidate pairs by edit
    * distance (normalized by the longer text) before they merge clusters.
    * `texts` holds the text of every id a pair can name.
    */
  private def editVerified(rawPairs: DataFrame, texts: => DataFrame, idCol: String,
                           textCol: String, cfg: Config): DataFrame =
    cfg.maxEditRatio.fold(rawPairs) { maxRatio =>
      val ta = texts.select(col(idCol).as("id_a"), col(textCol).as("__ta"))
      val tb = texts.select(col(idCol).as("id_b"), col(textCol).as("__tb"))
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
    }

  /** Decontaminate against the benchmark (containment, not Jaccard). The
    * benchmark goes through the SAME canonicalization as the corpus —
    * shingles must compare canonical bytes to canonical bytes, or a
    * decomposed-Unicode benchmark item (or one containing PII the corpus
    * copy had rewritten to <EMAIL>/<IP>/<PHONE>) could never match its
    * contaminated twin and would silently ship in the training set.
    */
  private def decontaminated(deduped: DataFrame, benchmark: DataFrame, idCol: String,
                             textCol: String, cfg: Config): DataFrame = {
    val benchCanon = benchmark.select(col(idCol), canonicalText(col(textCol)).as(textCol))
    val contaminated = Dedup.ngramContainmentPairs(deduped, benchCanon, idCol, textCol,
      n = cfg.ngramN, threshold = cfg.contaminationMax)
      .select(col("doc_id").as(idCol)).distinct()
    deduped.join(contaminated, Seq(idCol), "left_anti")
  }

  /** The last two stages: deterministic per-row split, then the configured
    * train split packed into sequences — continuing each shard's stream
    * from `shardOffsets` when an incremental run passes the corpus's.
    */
  private def splitPacked(marker: StageMarker, clean: DataFrame, idCol: String,
                          textCol: String, cfg: Config,
                          shardOffsets: Option[DataFrame]): (DataFrame, DataFrame) = {
    val split = marker("split", Split.assignSplit(clean, col(idCol), cfg.splits))(
      marker.splitCounts)
    marker.drop(clean)
    val trainTokens = split.filter(col("split") === lit(cfg.trainSplit))
      .select(col(idCol), TextFns.tokenCount(col(textCol)).cast("long").as("n_tokens"))
    val packed = marker("packed", Pack.packSequences(trainTokens, idCol, "n_tokens",
      cfg.seqBudget, cfg.packShards, shardOffsets))(marker.packedStats)
    (split, packed)
  }

  def stages(docs: DataFrame, benchmark: DataFrame, idCol: String, textCol: String,
             cfg: Config = Config(), mode: StageMode = Lazy): Stages = {
    val marker = new StageMarker(mode, stageStorageLevel)
    marker.guard {
      val id = col(idCol)

      // 1. canonicalize BEFORE any hash sees the text. A stage boundary:
      // the quality stage reads it twice (gate filter + repetition
      // signals), and NFC+PII regex scrubbing is the most expensive
      // row-local pass in the pipeline — uncut, it runs once per consumer.
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
      // barrier-fenced (see Expressions.Barrier): in Cached mode the stage
      // cache is the materialization point, but a Lazy caller's gate
      // filters would otherwise be pushed below this projection with the
      // scrub∘NFC subtree substituted per reference (measured 14.7 vs
      // 1.9 s/M on the streaming twin of this exact shape)
      val scrubbed = docs.select(id,
        Expressions.barrier(canonicalText(col(textCol))).as(textCol))
      // 1b. optional line-level boilerplate strip (CCNet paragraph dedup) —
      // BEFORE any hash: chrome differences must not defeat exact dedup.
      // Rewrites text, drops no rows, so the audit frame keeps its shape.
      val lineClean = cfg.lineDedupMaxDocFreq.fold(scrubbed) { k =>
        Dedup.dedupLines(scrubbed, idCol, textCol, k)
          .select(id, col("text").as(textCol))
      }
      val canon = marker.counted("input", lineClean)

      // 2. quality gates
      val quality = marker.counted("quality", qualityGated(canon, idCol, textCol, cfg))
      marker.drop(canon) // quality (gate + repetition) was canon's only consumer —
      // and canon is the pipeline's LARGEST cache (full corpus text)

      // 2b. optional boilerplate gate: drop docs mostly covered by windows
      // duplicated across >= dupSpanMinDocs documents (substring-granular —
      // the signal the document-level stages below can't see). One window-
      // hash map pass + two combinable aggregates + one 8-byte-hash join
      // over the quality survivors.
      val spanGated = cfg.maxDupSpanFrac.fold(marker.same("spans", "quality", quality)) {
        maxFrac =>
          val keep = Dedup.dupSpanStats(quality, idCol, textCol,
              cfg.dupSpanWidth, cfg.dupSpanMinDocs)
            .filter(col("dup_frac") <= maxFrac).select(id)
          marker.counted("spans", quality.join(keep, Seq(idCol), "left_semi"))
      }
      if (spanGated ne quality) marker.drop(quality) // gate on: quality fed only the gate

      // 3. exact dedup (fingerprint aggregate), keep the min-id copy
      val exactKeep = Dedup.exactByFingerprint(spanGated, textCol, idCol)
        .select(col("keep_id").as(idCol))
      val exact = marker.counted("exact", spanGated.join(exactKeep, Seq(idCol), "left_semi"))
      marker.drop(spanGated)

      // 4. near-dup clusters over the survivors, keep canonical members.
      // Prefix-filtered pair generation (exact — identical output to the
      // plain inverted index, the DedupSpec-pinned equivalence): at a
      // production dedup threshold the prefix indexes ~15-30% of each doc
      // and hot boilerplate shingles sort to the unindexed tail, which is
      // the regime a real corpus (and this fixture's ~31-word vocabulary)
      // lives in — see docs/SCALE.md "Round-6 delta: prefix filtering's
      // crossover".
      val rawPairs = Dedup.ngramJaccardPairsPrefix(exact, idCol, textCol,
        n = cfg.ngramN, threshold = cfg.nearDupJaccard)
      val pairs = marker.lineageCut(editVerified(rawPairs, exact, idCol, textCol, cfg))
      val canonical = Dedup.nearDupClusters(exact, idCol, pairs)
        .filter(col("is_canonical")).select(id)
      val deduped = marker.counted("neardup", exact.join(canonical, Seq(idCol), "left_semi"))
      marker.drop(exact) // pairs are checkpointed, clusters collected — exact is done

      // 5. decontaminate, 6. split, 7. pack
      val clean = marker.counted("clean",
        decontaminated(deduped, benchmark, idCol, textCol, cfg))
      marker.drop(deduped)
      val (split, packed) = splitPacked(marker, clean, idCol, textCol, cfg, None)
      lastStageSecs.set(marker.stageSecs)
      Stages(canon, quality, spanGated, exact, deduped, clean, split, packed,
        counts = marker.audit.toMap)
    }
  }

  /** The stage boundaries [stages] and [curateDelta] share, under one
    * [StageMode]. A [Cached] boundary is one cache cut (Bridge.materialize),
    * a [Stored] one a parquet write and read-back; either way the boundary
    * runs the stage's observer action once on the materialized frame and
    * records it in `audit` (Stages.counts), so observers never pay a
    * second action per stage. [Lazy] frames pass through untouched and
    * nothing is recorded.
    */
  private final class StageMarker(mode: StageMode, level: StorageLevel) {
    val audit = mutable.LinkedHashMap.empty[String, Long]
    /** Boundary-to-boundary wall seconds ([lastStageSecs]). */
    var stageSecs = ListMap.empty[String, Double]
    private var lastBoundary = System.nanoTime()
    private val held = mutable.Map.empty[DataFrame, Bridge.Cut]

    /** Stage `name`'s boundary, running `action` on the materialized frame.
      * The cache cut matters beyond reuse: uncut, r16 measured the cached
      * entry at 26.8 s against the stored twin's 9.7 s for the SAME
      * pipeline, the gap concentrated in the deepest stages (split 4.3 s,
      * packed 7.5 s of near-zero real compute) — a parquet re-read is a
      * flat scan already.
      */
    def apply(name: String, df: DataFrame)(action: DataFrame => Unit): DataFrame =
      mode match {
        case Lazy => df
        case Cached(_) => stamped(name) {
          val c = Bridge.materialize(df, level)(action)
          held(c.view) = c
          c.view
        }
        case Stored(dir, resume) => stamped(name) {
          val back = stored(dir, resume, name, df)
          action(back)
          back
        }
      }

    private def stamped(name: String)(out: DataFrame): DataFrame = {
      val now = System.nanoTime()
      stageSecs = stageSecs.updated(name, (now - lastBoundary) / 1e9)
      lastBoundary = now
      out
    }

    /** A stage boundary whose action is the stage's row count. */
    def counted(name: String, df: DataFrame): DataFrame = apply(name, df)(p => audit(name) = p.count())

    /** A stage the configuration switched off: `df` passes on as the stage
      * frame and its audit row repeats `as`'s, so a gate that silently
      * (de)activates still flips the observer's hash.
      */
    def same(name: String, as: String, df: DataFrame): DataFrame = {
      if (mode != Lazy) audit(name) = audit(as)
      df
    }

    /** The near-dup pair frame's cut — a checkpoint, not a counted stage
      * (no audit row, so every mode emits identical counts). It fans out
      * several ways (connected components' edge union reads it twice, the
      * delta chain's corpus links twice more) and its first consumer is
      * the component loop's eager edge checkpoint, so an uncut chain
      * re-runs pair generation + the edit-distance verify per reference
      * (qc02 benched 42.2 s). localCheckpoint rather than persist: the
      * checkpoint job runs the chain once UNDER AQE and downstream
      * consumers read stored blocks, whereas .persist() compiles the
      * cached subtree without AQE's runtime re-planning — measured 57.1 s,
      * WORSE than no caching at all. [Stored] cuts through `pairs.parquet`
      * instead: at cluster scale the pair frame on durable storage is also
      * the dedup-stage restart point.
      */
    def lineageCut(df: DataFrame): DataFrame = mode match {
      case Lazy => df
      case Cached(_) => df.localCheckpoint(true, level)
      case Stored(dir, resume) => stored(dir, resume, "pairs", df)
    }

    /** `<dir>/<name>.parquet` as the stage frame: a committed one (resume
      * mode) is read and infers its schema from its files, so a stage
      * written by other code fails loudly downstream instead of being read
      * as this schema; otherwise `df` is written and read back.
      */
    private def stored(dir: String, resume: Boolean, name: String, df: DataFrame): DataFrame = {
      val path = s"$dir/$name.parquet"
      val spark = df.sparkSession
      val committed = resume && {
        val p = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
      }
      if (committed) spark.read.parquet(path) else Bridge.durable(df, path)
    }

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
      * consumed it (`Cached(release = true)` only; a no-op on frames it
      * never cut).
      */
    def drop(df: DataFrame): Unit =
      if (mode == Cached(release = true)) held.remove(df).foreach(_.release())

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
                  cfg: Config = Config(), mode: InMemory = Lazy): Stages = {
    val marker = new StageMarker(mode, deltaStorageLevel)
    marker.guard {
      val id = col(idCol)

      // 1-2. canonicalize + row-local gates: identical to the batch stages
      // (canon cut for the same double-read reason, fenced the same way;
      // input partitioning left to the source for the same task-overhead
      // reason — see stages())
      val scrubbedDelta = delta.select(id,
        Expressions.barrier(canonicalText(col(textCol))).as(textCol))
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
      val quality = marker.counted("quality", qualityGated(canon, idCol, textCol, cfg))
      marker.drop(canon)

      // 2b. optional boilerplate gate, the incremental analog: a delta doc's
      // windows are counted against corpus ∪ delta (boilerplate shared with
      // already-shipped docs must count — the batch gate would have seen
      // it), then only delta docs are gated; shipped corpus docs are never
      // re-judged. Reads the corpus text like nearDupDelta does; a
      // production run would persist the corpus window-hash table as state
      // instead of recomputing it (same class of trade as the near-dup
      // index, see stateOf).
      val spanGated = cfg.maxDupSpanFrac.fold(marker.same("spans", "quality", quality)) {
        maxFrac =>
          val all = state.docs.select(id, col(textCol))
            .unionByName(quality.select(id, col(textCol)))
          val keep = Dedup.dupSpanStats(all, idCol, textCol,
              cfg.dupSpanWidth, cfg.dupSpanMinDocs)
            .filter(col("dup_frac") <= maxFrac).select(id)
          marker.counted("spans", quality.join(keep, Seq(idCol), "left_semi"))
      }
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
      val pairs = marker.lineageCut(editVerified(rawPairs,
        state.docs.unionByName(exact.select(id, col(textCol))), idCol, textCol, cfg))
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

      // 5. decontaminate, 6-7. per-row split; pack CONTINUES the corpus's
      // shard streams
      val clean = marker.counted("clean",
        decontaminated(deduped, benchmark, idCol, textCol, cfg))
      marker.drop(deduped)
      val (split, packed) = splitPacked(marker, clean, idCol, textCol, cfg,
        Some(state.shardOffsets))
      Stages(canon, quality, spanGated, exact, deduped, clean, split, packed,
        counts = marker.audit.toMap)
    }
  }
}
