package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.Curation
import graft.sources.Tables

/** The COMPOSED LLM-curation pipeline under the oracle — the qp01
  * treatment applied to `Curation.curate` (the workload this library
  * exists for): one catalog entry runs every stage of the composition —
  * canonicalize → quality/repetition gates → exact dedup → near-dup
  * clusters WITH the edit-distance verify stage on → benchmark
  * decontamination → split → pack — and emits the per-stage survivor
  * counts plus packed-sequence stats, each re-derived independently in
  * DuckDB SQL from the same fixtures. Stage-composition bugs (ordering,
  * a gate applied to the wrong survivor set, a stage silently dropped)
  * hash-mismatch here even though every stage is also individually
  * oracled on its own entry (qt04/qt05/qt11/qt14/qt15/qt16/qt23/q43).
  *
  * Fixture construction (all precedented): corpus = documents with
  * doc_id % 17 != 0 plus RE-SUBMITTED copies of docs < 50 under id+10000
  * (qt21's shape — the copies are exact duplicates the exact-dedup stage
  * must kill); benchmark = the doc_id % 17 == 0 slice (qt15's split).
  * Gates are set where the fixture actually discriminates (minTokens 20,
  * minQuality 0.76, maxTopBigramFrac 0.12, J ≥ 0.85, edit-ratio ≤ 0.02,
  * containment ≥ 0.8): at sf0.01 every stage drops rows — 517 → 381 →
  * 346 → 333 → 332 — and the edit-ratio verify genuinely rejects 6 of
  * the 23 candidate pairs, so a verify stage that stopped rejecting (or
  * rejected everything) flips the count.
  *
  * Oracle note: the fixture text is printable ASCII with no digits
  * (checked), so stage 1's NFC-normalize + PII-scrub canonicalization is
  * the identity on it and the SQL twin reads raw text; the non-identity
  * behavior of those two ops is differentially verified on their own
  * entries (qt13 manufactures composed/decomposed accents, qt17 embeds
  * synthetic PII). The SQL uses MATERIALIZED CTE hints: each stage
  * references the previous one several times, and without the hint
  * DuckDB's inlining re-evaluates the upstream chain per reference —
  * exponential in stage depth (measured: >120 s vs 0.7 s at sf0.01).
  */
object CurationQ {

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

  /** The qc01 configuration — one place, so the Spark entry and any spec
    * pinning its behavior agree by construction.
    */
  val cfg: Curation.Config = Curation.Config(
    minTokens = 20, minQuality = 0.76,
    maxDupLineFrac = 0.5, maxTopBigramFrac = 0.12,
    ngramN = 3, nearDupJaccard = 0.85,
    maxEditRatio = Some(0.02), contaminationMax = 0.8,
    // boilerplate gate: at w=8/minDocs=3 the fixture's template docs sit
    // at dup_frac >= 0.7 and everything else at 0, so 0.5 discriminates;
    // minDocs=3 keeps the re-submitted exact copies (2 docs) for the
    // exact-dedup stage — the gate and the dedup stages drop DIFFERENT
    // rows, so the composed oracle pins both
    maxDupSpanFrac = Some(0.5), dupSpanWidth = 8, dupSpanMinDocs = 3,
    splits = Seq("train" -> 98.0, "val" -> 1.0, "test" -> 1.0),
    trainSplit = "train", seqBudget = 2048, packShards = 64)

  /** The qc02 configuration: the same gates with the boilerplate gate OFF —
    * the incremental entry oracles the gate-disabled path (its spanGated
    * frame must equal quality bit-for-bit), while the delta-side gate
    * semantics (windows counted over corpus ∪ delta) is CurationSpec's
    * planted case. One knob's difference, explicit here so the entry and
    * its oracle stay in lockstep.
    */
  val cfgDelta: Curation.Config = cfg.copy(maxDupSpanFrac = None)

  /** The qc01 fixture — ONE definition (qc01, qc01s and PlanSpec's
    * curation gates share it, so what a gate checks is by construction the
    * workload the bench entry runs): corpus = the doc_id % 17 != 0 slice
    * plus re-submitted copies of docs < 50 under id+10000; benchmark =
    * the doc_id % 17 == 0 slice.
    */
  def fixture(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val docs = T(s, d, "documents")
    val corpus = docs.filter(col("doc_id") % 17 =!= 0).select("doc_id", "text")
      .unionByName(docs.filter(col("doc_id") < 50 && col("doc_id") % 17 =!= 0)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
    val bench = docs.filter(col("doc_id") % 17 === 0).select("doc_id", "text")
    (corpus, bench)
  }

  /** The qc02 fixture: the batch corpus is the doc_id < 250 slice (minus
    * benchmark docs), the DELTA is the day's arrivals — the remaining
    * docs plus re-submitted copies of corpus-range docs under id+10000
    * (ids above every corpus id, the ingest ordering curateDelta's drop
    * policy assumes). Copies of docs the batch run itself dropped are the
    * interesting cases: a quality-dropped doc's copy re-fails the same
    * gates; a near-dup-retired doc's copy pairs with the SHIPPED
    * canonical; a contaminated doc's copy (absent from the fingerprint
    * index — it never shipped) passes dedup and dies at decontamination
    * again.
    */
  def fixtureDelta(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
    val docs = T(s, d, "documents")
    val corpusRaw = docs.filter(col("doc_id") < 250 && col("doc_id") % 17 =!= 0)
      .select("doc_id", "text")
    val bench = docs.filter(col("doc_id") % 17 === 0).select("doc_id", "text")
    // copies range < 200 deliberately covers doc 166, the corpus-slice
    // contaminated doc (droped by the BATCH run's decontamination, so
    // absent from the fingerprint index): its re-submission must travel
    // the whole delta pipeline and die at decontamination AGAIN — the
    // stage would otherwise drop nothing on this fixture
    val delta = docs.filter(col("doc_id") >= 250 && col("doc_id") % 17 =!= 0)
      .select("doc_id", "text")
      .unionByName(docs.filter(col("doc_id") < 200 && col("doc_id") % 17 =!= 0)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
    (corpusRaw, bench, delta)
  }

  /** Per-stage survivor counts + packed-sequence stats of one Stages run —
    * the 12-row frame both composed entries hash against their oracles
    * (the 01_spans row equals 01_quality when the boilerplate gate is off,
    * as in qc02 — still emitted, so a gate that silently activated or
    * deactivated flips the hash).
    */
  private def stageCounts(st: Curation.Stages): DataFrame = {
    // every number was already captured BY the materializing boundaries
    // (Stages.counts) — emit them as a literal frame, zero further Spark
    // jobs. r7's shape re-counted all 12 rows as a union of aggregates
    // over the cached frames: 11 more actions per run, and the single
    // biggest slice of qc01's 202.7 s cold bench price.
    require(st.counts.nonEmpty,
      "stage counts need a materializing run (Cached or Stored), not a Lazy one")
    val spark = st.packed.sparkSession
    val order = Seq("input" -> "00_input", "quality" -> "01_quality",
      "spans" -> "01_spans", "exact" -> "02_exact", "neardup" -> "03_neardup",
      "clean" -> "04_clean")
    val head = order.map { case (k, label) => (label, Some(st.counts(k))) }
    val splits = st.counts.keys.filter(_.startsWith("split_")).toSeq.sorted
      .map(k => ("05_" + k, Some(st.counts(k))))
    // packed_tokens key absent ⇔ empty pack ⇔ SQL sum is NULL
    val tail = Seq(("06_pieces", Some(st.counts("pieces"))),
      ("06_sequences", Some(st.counts("sequences"))),
      ("06_packed_tokens", st.counts.get("packed_tokens")))
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("stage", StringType, nullable = false),
      StructField("n", LongType, nullable = true)))
    val rows = (head ++ splits ++ tail).map { case (s, n) =>
      org.apache.spark.sql.Row(s, n.map(java.lang.Long.valueOf).orNull)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "qc01_curation" -> ((s, d) => {
      val (corpus, bench) = fixture(s, d)
      // Cached: the 11 count branches share one lineage; fully lazy,
      // every branch re-executes the full upstream chain (~11× the
      // pipeline — the sf0.1 bench measured 115 s). The persist-at-every-
      // arrow mode materializes each stage once (the component loop that
      // runs during construction warms the caches). release = true drops
      // each stage's cache the moment its consumer is materialized — the
      // counts observer reads Stages.counts, so nothing re-reads a
      // released frame, and peak cached footprint stays at ~2 stages
      // instead of 9 (the working-set mass that made this entry amplify
      // 2-3× under driver-side memory pressure, BENCH_r07/r08).
      stageCounts(Curation.stages(corpus, bench, "doc_id", "text", cfg,
        Curation.Cached(release = true)))
    }),

    // The STORAGE twin: the same stages under the same config, but every
    // arrow round-trips durable storage (parquet write + re-read) instead
    // of the executor cache — the medallion discipline the object doc
    // prescribes for 100 TB runs, where nine corpus-sized frames cannot
    // sit in cluster memory and a stage boundary doubles as the restart
    // point. Shares qc01's oracle verbatim (the output frame is
    // bit-identical by construction); the bench delta qc01s − qc01 is the
    // measured price of storage round-trips vs caches.
    "qc01s_curation_stored" -> ((s, d) => {
      val (corpus, bench) = fixture(s, d)
      val dir = java.nio.file.Files.createTempDirectory("graft_qc01s_").toString
      graft.sources.Tables.deleteOnExit(dir)
      stageCounts(Curation.stages(corpus, bench, "doc_id", "text", cfg,
        Curation.Stored(dir)))
    }),

    // The INCREMENTAL twin: one day's delta through curateDelta against
    // the state of a batch run over the corpus slice — dedupDelta's
    // fingerprint anti-join, nearDupDelta's corpus-frozen prefix pairs,
    // per-row gates/split, and offset-continued packing, with the same
    // 11 stage counts re-derived in SQL (which must therefore re-derive
    // the BATCH run too — the state is an intermediate of the oracle).
    "qc02_curation_delta" -> ((s, d) => {
      val (_, bench, delta) = fixtureDelta(s, d)
      stageCounts(Curation.curateDelta(deltaState(s, d), delta, bench,
        "doc_id", "text", cfgDelta, Curation.Cached(release = true)))
    }))

  /** The qc02 corpus state, built ONCE per fixture dir and PERSISTED to a
    * temp directory via [Curation.saveState] — each run then
    * [Curation.loadState]s it as lazy parquet scans. A production delta
    * run READS state persisted by the previous batch — re-deriving it
    * inside every timed run would charge the incremental entry for the
    * batch pipeline the bench already tracks as qc01. The filesystem memo
    * survives Bench's inter-entry cache isolation and the test harness's
    * per-suite cleanup, and (unlike r7's driver-collected row memo) keeps
    * the corpus distributed — the exact artifact shape a big-corpus
    * resume uses, at any scale. Correctness is unaffected: the same state
    * values feed curateDelta, as the oracle (which re-derives state in
    * SQL) hash-confirms.
    */
  private val stateMemo = scala.collection.concurrent.TrieMap.empty[String, String]

  private def deltaState(s: SparkSession, d: String): Curation.CorpusState = {
    val dir = stateMemo.getOrElseUpdate(d, {
      val out = java.nio.file.Files.createTempDirectory("graft_qc02_state").toString
      Tables.deleteOnExit(out)
      val (corpusRaw, bench, _) = fixtureDelta(s, d)
      // ngramN: the batch publisher also builds the near-dup prefix-posting
      // index (r17) — the delta entry serves pair generation from it, the
      // production form VERDICT r16 #4 asked for
      Curation.saveState(Curation.stateOf(
        Curation.stages(corpusRaw, bench, "doc_id", "text", cfgDelta,
          Curation.Cached(release = false)),
        "doc_id", "text", ngramN = Some(cfgDelta.ngramN)), out, bucketIdCol = Some("doc_id"))
      out
    })
    Curation.loadState(s, dir)
  }

  private val toks = "list_filter(regexp_split_to_array(text, '\\s+'), t -> t != '')"
  private val ltoks = "list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t != '')"
  private val stopList = graft.functions.TextFns.LangId.profiles.flatMap(_._2).distinct
    .map(w => s"'$w'").mkString("(", ",", ")")
  private val hashFrac =
    "(('0x' || substr(md5(doc_id::VARCHAR), 1, 12))::BIGINT)::DOUBLE / 281474976710656.0"

  private def shingleSql(src: String): String =
    s"""SELECT doc_id, CASE WHEN len(ts) = 0 THEN []
       |    WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')]
       |    ELSE list_distinct(list_transform(range(1, len(ts) - 1),
       |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) END AS sh
       |  FROM (SELECT doc_id, $toks AS ts FROM $src)""".stripMargin

  // ---------- oracle CTE builders ----------
  // Suffix-parameterized so qc02 can re-derive the BATCH chain (its state
  // is an oracle intermediate) and stack the delta chain on top. All
  // multi-referenced stages carry MATERIALIZED hints — DuckDB's default
  // inlining re-evaluates a CTE per reference, exponential in chain depth.

  /** quality gates: emits `quality$x(doc_id, text)` from `$src`. */
  private def gatesCtes(x: String, src: String): String =
    s"""q$x AS (SELECT doc_id, text, len($toks)::DOUBLE AS n_tok,
       |   length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE AS n_chars,
       |   CASE WHEN length(text) = 0 THEN 0.0
       |        ELSE length(regexp_replace(text, '[^[:punct:]]', '', 'g'))::DOUBLE / length(text) END AS pr,
       |   CASE WHEN len($toks) = 0 THEN 0.0
       |        ELSE len(list_filter($ltoks, w -> w IN $stopList))::DOUBLE / len($toks) END AS sr
       |  FROM $src),
       | qs$x AS (SELECT doc_id, text, n_tok,
       |   (CASE WHEN n_tok >= 10 AND n_tok <= 100000 THEN 1.0 ELSE 0.3 END) * 0.25
       |   + (CASE WHEN (CASE WHEN n_tok = 0 THEN 0.0 ELSE n_chars / n_tok END) >= 2.0
       |           AND (CASE WHEN n_tok = 0 THEN 0.0 ELSE n_chars / n_tok END) <= 12.0
       |      THEN 1.0 ELSE 0.3 END) * 0.25
       |   + (1.0 - least(pr * 4, 1.0)) * 0.25 + least(sr * 5, 1.0) * 0.25 AS quality
       |  FROM q$x),
       | gated$x AS MATERIALIZED (SELECT doc_id, text FROM qs$x WHERE n_tok >= 20 AND quality >= 0.76),
       | lraw$x AS (SELECT doc_id, trim(l) AS line
       |  FROM gated$x, unnest(string_split(text, chr(10))) AS u(l) WHERE trim(l) != ''),
       | lcnt$x AS (SELECT doc_id, line, count(*) AS cnt FROM lraw$x GROUP BY 1, 2),
       | lstat$x AS (SELECT doc_id, sum(cnt - 1)::DOUBLE / sum(cnt) AS dlf FROM lcnt$x GROUP BY 1),
       | bg$x AS (SELECT doc_id, ts[i] || ' ' || ts[i + 1] AS g
       |  FROM (SELECT doc_id, $toks AS ts FROM gated$x), unnest(range(1, len(ts))) r(i)
       |  WHERE len(ts) >= 2),
       | bgc$x AS (SELECT doc_id, g, count(*) AS cnt FROM bg$x GROUP BY 1, 2),
       | bgs$x AS (SELECT doc_id, max(cnt)::DOUBLE / sum(cnt) AS tbf FROM bgc$x GROUP BY 1),
       | quality$x AS MATERIALIZED (SELECT g.doc_id, g.text FROM gated$x g
       |   LEFT JOIN lstat$x USING (doc_id) LEFT JOIN bgs$x USING (doc_id)
       |   WHERE coalesce(dlf, 0.0) <= 0.5 AND coalesce(tbf, 0.0) <= 0.12)""".stripMargin

  /** boilerplate span gate (Lee et al. 2021, the qt29s chain over the
    * quality survivors): emits `spang$x(doc_id, text)` — docs whose
    * interval-merged coverage by windows duplicated across >= minDocs
    * documents stays <= maxFrac. Same w-token windows, same merged
    * coverage, same round-to-6 dup_frac as the Spark gate.
    */
  private def spanGateCtes(x: String, w: Int, minDocs: Int, maxFrac: Double): String = {
    val wm1 = w - 1
    s"""wtk$x AS MATERIALIZED (SELECT doc_id, text, $toks AS ts FROM quality$x),
       | wst$x AS MATERIALIZED (SELECT doc_id, pos, array_to_string(ts[pos:pos+$wm1], ' ') AS w
       |  FROM (SELECT doc_id, unnest(range(1, len(ts) - ${w - 2})) AS pos, ts
       |        FROM wtk$x WHERE len(ts) >= $w)),
       | wdp$x AS (SELECT w FROM (SELECT w, doc_id FROM wst$x GROUP BY 1, 2)
       |   GROUP BY w HAVING count(*) >= $minDocs),
       | wmg$x AS (SELECT doc_id, greatest(0, pos + $wm1 - greatest(pos - 1,
       |     coalesce(max(pos + $wm1) OVER (PARTITION BY doc_id ORDER BY pos
       |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))) AS newcov
       |   FROM (SELECT s.doc_id, s.pos FROM wst$x s JOIN wdp$x d USING (w))),
       | wcv$x AS (SELECT doc_id, sum(newcov) AS covered FROM wmg$x GROUP BY 1),
       | spang$x AS MATERIALIZED (SELECT t.doc_id, t.text FROM wtk$x t
       |   LEFT JOIN wcv$x c USING (doc_id)
       |   WHERE len(t.ts) = 0
       |      OR round(coalesce(c.covered, 0)::DOUBLE / len(t.ts), 6) <= $maxFrac)""".stripMargin
  }

  /** exact dedup (min-id per fingerprint): emits `exact$x` from `$src`. */
  private def exactMinCtes(x: String, src: String): String =
    s"""fps$x AS (SELECT doc_id, text,
       |   md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp FROM $src),
       | exact$x AS MATERIALIZED (SELECT doc_id, text FROM
       |   (SELECT doc_id, text, min(doc_id) OVER (PARTITION BY fp) AS k FROM fps$x)
       |  WHERE doc_id = k)""".stripMargin

  /** batch tail: near-dup pairs + edit verify + components + decontamination
    * + split + pack over `exact$x`; requires a shared `bsized` CTE (the
    * benchmark shingles) and a `reach$x` slot in the WITH RECURSIVE list.
    * Emits neardup$x, clean$x, split$x, pieces$x.
    */
  private def batchTailCtes(x: String): String =
    s"""sized$x AS MATERIALIZED (SELECT doc_id, sh, len(sh) AS n
       |  FROM (${shingleSql(s"exact$x")}) WHERE len(sh) > 0),
       | posts$x AS (SELECT doc_id, n, unnest(sh) AS s FROM sized$x),
       | cand$x AS (SELECT a.doc_id AS ia, b.doc_id AS ib, a.n AS na, b.n AS nb, count(*) AS inter
       |   FROM posts$x a JOIN posts$x b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2, 3, 4),
       | rawpairs$x AS (SELECT ia, ib FROM cand$x WHERE round(inter / (na + nb - inter), 6) >= 0.85),
       | -- edit-distance VERIFY: multiplication form (d <= r * maxlen), matching
       | -- the Spark comparison bit-for-bit (a division twin rounds differently)
       | pairs$x AS MATERIALIZED (SELECT ia, ib FROM rawpairs$x
       |   JOIN exact$x ea ON ea.doc_id = ia JOIN exact$x eb ON eb.doc_id = ib
       |   WHERE levenshtein(ea.text, eb.text)::DOUBLE <=
       |     0.02 * greatest(length(ea.text), length(eb.text))::DOUBLE),
       | edges$x AS MATERIALIZED (SELECT ia AS src, ib AS dst FROM pairs$x
       |   UNION SELECT ib, ia FROM pairs$x),
       | reach$x(id, l) AS (SELECT src, src FROM edges$x
       |   UNION SELECT e.src, r.l FROM edges$x e JOIN reach$x r ON r.id = e.dst),
       | comp$x AS MATERIALIZED (SELECT id, min(l) AS component FROM reach$x GROUP BY id),
       | neardup$x AS MATERIALIZED (SELECT e.doc_id, e.text FROM exact$x e
       |   LEFT JOIN comp$x c ON e.doc_id = c.id
       |   WHERE coalesce(c.component, e.doc_id) = e.doc_id),
       | cposts$x AS (SELECT doc_id, unnest(sh) AS s FROM (${shingleSql(s"neardup$x")}) WHERE len(sh) > 0),
       | cont$x AS MATERIALIZED (SELECT DISTINCT doc_id FROM (
       |   SELECT c.doc_id, b.bench_id, b.nb, count(*) AS inter
       |    FROM cposts$x c JOIN bposts b USING (s) GROUP BY 1, 2, 3)
       |  WHERE round(inter / nb, 6) >= 0.8),
       | clean$x AS MATERIALIZED (SELECT n.doc_id, n.text FROM neardup$x n
       |   WHERE n.doc_id NOT IN (SELECT doc_id FROM cont$x)),
       | su$x AS (SELECT doc_id, text, $hashFrac AS u FROM clean$x),
       | split$x AS MATERIALIZED (SELECT doc_id, text,
       |   CASE WHEN u < 0.98 THEN 'train' WHEN u < 0.99 THEN 'val' ELSE 'test' END AS split
       |  FROM su$x),
       | tr$x AS (SELECT doc_id, len($toks)::BIGINT AS n_tokens FROM split$x WHERE split = 'train'),
       | sharded$x AS (SELECT doc_id, n_tokens, floor($hashFrac * 64)::INT AS shard
       |  FROM tr$x WHERE n_tokens > 0),
       | cums$x AS (SELECT doc_id, shard, n_tokens,
       |   sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM sharded$x),
       | spans$x AS (SELECT doc_id, shard, cum, cum - n_tokens AS prev FROM cums$x),
       | pieces$x AS MATERIALIZED (SELECT doc_id, shard, prev, cum,
       |   unnest(generate_series(floor(prev / 2048)::BIGINT, floor((cum - 1) / 2048)::BIGINT)) AS seq
       |  FROM spans$x)""".stripMargin

  /** the benchmark-shingle CTEs both decontamination stages probe. */
  private val benchCtes: String =
    s"""bsized AS MATERIALIZED (SELECT doc_id AS bench_id, sh, len(sh) AS nb
       |  FROM (${shingleSql("bench")}) WHERE len(sh) > 0),
       | bposts AS (SELECT bench_id, nb, unnest(sh) AS s FROM bsized)""".stripMargin

  /** the 12 stage-count rows over suffix-`$x` frames, input CTE `$input`;
    * `spansSrc` is the post-boilerplate-gate frame (= the quality frame
    * when the gate is off, as in qc02).
    */
  private def countsSelect(x: String, input: String, spansSrc: String): String =
    s"""SELECT '00_input' AS stage, count(*)::BIGINT AS n FROM $input
       |UNION ALL SELECT '01_quality', count(*) FROM quality$x
       |UNION ALL SELECT '01_spans', count(*) FROM $spansSrc
       |UNION ALL SELECT '02_exact', count(*) FROM exact$x
       |UNION ALL SELECT '03_neardup', count(*) FROM neardup$x
       |UNION ALL SELECT '04_clean', count(*) FROM clean$x
       |UNION ALL SELECT '05_split_' || split, count(*) FROM split$x GROUP BY split
       |UNION ALL SELECT '06_pieces', count(*) FROM pieces$x
       |UNION ALL SELECT '06_sequences', count(*) FROM (SELECT DISTINCT shard, seq FROM pieces$x)
       |UNION ALL SELECT '06_packed_tokens',
       |  sum(least(cum, (seq + 1) * 2048) - greatest(prev, seq * 2048))::BIGINT FROM pieces$x""".stripMargin

  private val qc01Sql: String =
    s"""WITH RECURSIVE corpus AS MATERIALIZED (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 17 != 0
       |  UNION ALL
       |  SELECT doc_id + 10000, text FROM documents WHERE doc_id < 50 AND doc_id % 17 != 0),
       | bench AS MATERIALIZED (SELECT doc_id, text FROM documents WHERE doc_id % 17 = 0),
       | $benchCtes,
       | ${gatesCtes("", "corpus")},
       | ${spanGateCtes("", w = 8, minDocs = 3, maxFrac = 0.5)},
       | ${exactMinCtes("", "spang")},
       | ${batchTailCtes("")}
       |${countsSelect("", "corpus", "spang")}""".stripMargin

  val oracle: Map[String, String] = Map(
    "qc01_curation" -> qc01Sql,
    // the storage twin's output frame is bit-identical to qc01's by
    // construction — one oracle, two execution disciplines priced apart
    "qc01s_curation_stored" -> qc01Sql,

    // The incremental twin: the BATCH chain over the corpus slice
    // (suffix c) is re-derived first — its clean set, fingerprint index,
    // and per-shard pack offsets ARE the state — then the delta chain
    // (suffix d) applies the incremental operators: min-id-within-delta
    // exact collapse + fingerprint anti-join; union near-dup pairs
    // restricted to delta-touching (corpus ids < 250 <= delta ids, so
    // id_b >= 250 is exactly "touches delta" under id_a < id_b);
    // edit-verify; corpus-linked deltas drop, delta-only clusters keep
    // min id (its own recursive reach); containment vs the same
    // benchmark; per-row split; packing continued from the corpus
    // offsets (LEFT JOIN + coalesce 0 for shards the corpus never hit).
    "qc02_curation_delta" ->
      s"""WITH RECURSIVE corpusraw AS MATERIALIZED (
         |  SELECT doc_id, text FROM documents WHERE doc_id < 250 AND doc_id % 17 != 0),
         | bench AS MATERIALIZED (SELECT doc_id, text FROM documents WHERE doc_id % 17 = 0),
         | delta AS MATERIALIZED (
         |  SELECT doc_id, text FROM documents WHERE doc_id >= 250 AND doc_id % 17 != 0
         |  UNION ALL
         |  SELECT doc_id + 10000, text FROM documents WHERE doc_id < 200 AND doc_id % 17 != 0),
         | $benchCtes,
         | ${gatesCtes("c", "corpusraw")},
         | ${exactMinCtes("c", "qualityc")},
         | ${batchTailCtes("c")},
         | cfps AS MATERIALIZED (SELECT DISTINCT
         |   md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp FROM cleanc),
         | offsets AS MATERIALIZED (SELECT shard,
         |   sum(least(cum, (seq + 1) * 2048) - greatest(prev, seq * 2048)) AS offset_tokens
         |  FROM piecesc GROUP BY shard),
         | ${gatesCtes("d", "delta")},
         | fpsd AS (SELECT doc_id, text,
         |   md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp FROM qualityd),
         | exactd AS MATERIALIZED (SELECT doc_id, text FROM
         |   (SELECT doc_id, text, fp, min(doc_id) OVER (PARTITION BY fp) AS k FROM fpsd)
         |  WHERE doc_id = k AND fp NOT IN (SELECT fp FROM cfps)),
         | uall AS MATERIALIZED (SELECT doc_id, text FROM cleanc
         |   UNION ALL SELECT doc_id, text FROM exactd),
         | usized AS MATERIALIZED (SELECT doc_id, sh, len(sh) AS n
         |  FROM (${shingleSql("uall")}) WHERE len(sh) > 0),
         | uposts AS (SELECT doc_id, n, unnest(sh) AS s FROM usized),
         | ucand AS (SELECT a.doc_id AS ia, b.doc_id AS ib, a.n AS na, b.n AS nb, count(*) AS inter
         |   FROM uposts a JOIN uposts b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2, 3, 4),
         | urawpairs AS (SELECT ia, ib FROM ucand
         |  WHERE round(inter / (na + nb - inter), 6) >= 0.85 AND ib >= 250),
         | upairs AS MATERIALIZED (SELECT ia, ib FROM urawpairs
         |   JOIN uall ea ON ea.doc_id = ia JOIN uall eb ON eb.doc_id = ib
         |   WHERE levenshtein(ea.text, eb.text)::DOUBLE <=
         |     0.02 * greatest(length(ea.text), length(eb.text))::DOUBLE),
         | linked AS MATERIALIZED (SELECT DISTINCT ib AS doc_id FROM upairs WHERE ia < 250),
         | ddedges AS MATERIALIZED (SELECT ia AS src, ib AS dst FROM upairs WHERE ia >= 250
         |   UNION SELECT ib, ia FROM upairs WHERE ia >= 250),
         | reachd(id, l) AS (SELECT src, src FROM ddedges
         |   UNION SELECT e.src, r.l FROM ddedges e JOIN reachd r ON r.id = e.dst),
         | compd AS MATERIALIZED (SELECT id, min(l) AS component FROM reachd GROUP BY id),
         | neardupd AS MATERIALIZED (SELECT e.doc_id, e.text FROM exactd e
         |   LEFT JOIN compd c ON e.doc_id = c.id
         |   WHERE coalesce(c.component, e.doc_id) = e.doc_id
         |     AND e.doc_id NOT IN (SELECT doc_id FROM linked)),
         | cpostsd AS (SELECT doc_id, unnest(sh) AS s FROM (${shingleSql("neardupd")}) WHERE len(sh) > 0),
         | contd AS MATERIALIZED (SELECT DISTINCT doc_id FROM (
         |   SELECT c.doc_id, b.bench_id, b.nb, count(*) AS inter
         |    FROM cpostsd c JOIN bposts b USING (s) GROUP BY 1, 2, 3)
         |  WHERE round(inter / nb, 6) >= 0.8),
         | cleand AS MATERIALIZED (SELECT n.doc_id, n.text FROM neardupd n
         |   WHERE n.doc_id NOT IN (SELECT doc_id FROM contd)),
         | sud AS (SELECT doc_id, text, $hashFrac AS u FROM cleand),
         | splitd AS MATERIALIZED (SELECT doc_id, text,
         |   CASE WHEN u < 0.98 THEN 'train' WHEN u < 0.99 THEN 'val' ELSE 'test' END AS split
         |  FROM sud),
         | trd AS (SELECT doc_id, len($toks)::BIGINT AS n_tokens FROM splitd WHERE split = 'train'),
         | shardedd AS (SELECT doc_id, n_tokens, floor($hashFrac * 64)::INT AS shard
         |  FROM trd WHERE n_tokens > 0),
         | cumsd AS (SELECT s.doc_id, s.shard, s.n_tokens,
         |   coalesce(o.offset_tokens, 0) +
         |   sum(s.n_tokens) OVER (PARTITION BY s.shard ORDER BY s.doc_id ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM shardedd s LEFT JOIN offsets o USING (shard)),
         | spansd AS (SELECT doc_id, shard, cum, cum - n_tokens AS prev FROM cumsd),
         | piecesd AS MATERIALIZED (SELECT doc_id, shard, prev, cum,
         |   unnest(generate_series(floor(prev / 2048)::BIGINT, floor((cum - 1) / 2048)::BIGINT)) AS seq
         |  FROM spansd)
         |${countsSelect("d", "delta", "qualityd")}""".stripMargin)
}
