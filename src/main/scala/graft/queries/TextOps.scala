package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.TextFns
import graft.operators.{Dedup, Similarity}

/** Training-data-pipeline query catalog over `documents` / `embeddings`:
  * text statistics, language ID, quality scoring, fingerprinting, exact +
  * near dedup, vector similarity. SQL-expressible ops carry a DuckDB oracle —
  * including the fnv1a64/splitmix64 hash family (MinHash, SimHash), which
  * `HashSql` re-derives in pure DuckDB SQL over UBIGINT — including the
  * sign-LSH hyperplanes, so the LSH ANN path (qt09/qt09r) is oracled end
  * to end — and so is the Lloyd-trained IVF path (qt10/qt10r), whose
  * oracle-mode order-deterministic means make even the k-means training
  * bit-reproducible in SQL. Only estimator internals (HLL) keep a
  * tolerance contract, cross-checked in ScalaTest.
  */
object TextOps {

  /** DuckDB-SQL fragments reproducing graft's 64-bit hash family
    * (Dedup.fnv1a64, the splitmix64 `mix64` finalizer) bit-exactly. All
    * arithmetic runs in UBIGINT with 32-bit-split multiplication because
    * DuckDB raises on 64-bit overflow instead of wrapping. Generated
    * fragments reference their argument several times, so every `a` must be
    * a cheap reference (column, lambda variable, literal) — larger
    * intermediates are staged through lateral column aliases instead.
    */
  private object HashSql {
    private val U = "::UBIGINT"
    private val B32 = "4294967296"
    private def hex(s: String) = BigInt(s, 16)

    /** (a * const) mod 2^64: split both into 32-bit halves; the low product
      * fits UBIGINT, the cross terms are reduced mod 2^32 before recombining.
      */
    private def mulConst(a: String, const: BigInt): String = {
      val b0 = const % BigInt(B32); val b1 = const / BigInt(B32)
      val a0 = s"(($a)%$B32$U)"; val a1 = s"(($a)//$B32$U)"
      val m = s"(($a1*$b0$U%$B32$U + $a0*$b1$U%$B32$U)%$B32$U)"
      val x = s"($a0*$b0$U)"
      s"($x%$B32$U + ($x//$B32$U + $m)%$B32$U*$B32$U)"
    }

    /** (a + const) mod 2^64 without intermediate overflow: subtract the
      * two's-complement threshold instead of adding past 2^64.
      */
    private def addConst(a: String, const: BigInt): String = {
      val t = (BigInt(1) << 64) - const
      s"(CASE WHEN ($a) >= $t$U THEN ($a) - $t$U ELSE ($a) + $const$U END)"
    }

    /** fnv1a64 over a string's UTF-16 code units (fixture text is BMP-only,
      * where DuckDB's code points coincide), folded with list_reduce.
      */
    def fnv(tok: String): String =
      s"list_reduce(list_prepend(14695981039346656037$U, " +
        s"list_transform(regexp_split_to_array($tok, ''), c -> unicode(c)$U)), " +
        s"(h, c) -> ${mulConst("xor(h, c)", hex("100000001b3"))})"

    /** splitmix64 finalizer staged through lateral aliases z0..z2; emit
      * these four columns in a SELECT, then read `m` downstream. `suf`
      * distinguishes the aliases when two applications are chained across
      * CTEs (the LSH plane hash applies mix64 twice).
      */
    def mixCols(zIn: String, suf: String = ""): String =
      s"${addConst(zIn, hex("9E3779B97F4A7C15"))} AS z0$suf, " +
        s"${mulConst(s"xor(z0$suf, z0$suf >> 30)", hex("BF58476D1CE4E5B9"))} AS z1$suf, " +
        s"${mulConst(s"xor(z1$suf, z1$suf >> 27)", hex("94D049BB133111EB"))} AS z2$suf, " +
        s"xor(z2$suf, z2$suf >> 31) AS m$suf"

    /** hash-family member seed: (i * 0xC2B2AE3D27D4EB4F) mod 2^64. */
    def familySeed(i: String): String = mulConst(i, hex("C2B2AE3D27D4EB4F"))

    /** UBIGINT → the BIGINT with the same 64 bits (Scala Long semantics). */
    def toSigned(a: String): String =
      s"(CASE WHEN $a >= 9223372036854775808$U " +
        s"THEN (($a)::HUGEINT - 18446744073709551616::HUGEINT)::BIGINT ELSE ($a)::BIGINT END)"
  }

  /** DuckDB CTEs re-deriving the sign-LSH hyperplane dots of
    * `ExprImpl.planeDots` bit-for-bit: component (pg = t·10007+p, dim i) =
    * remainderUnsigned(mix64(mix64(pg) xor i·0xC2B2AE3D27D4EB4F), 2000001)
    * / 1e6 − 1 — over UBIGINT, where plain `%` IS remainderUnsigned — and
    * dot = the same left-to-right list fold as the qt08 oracle (doubles
    * from identical expressions are bit-equal across the engines, so the
    * `dot >= 0` sign bits agree exactly). Emits `dots(vec_id, t, p, dot)`
    * covering t < maxTables, p < maxPlanes — one grid sliced by every
    * operating point, since plane identity t·10007+p is independent of the
    * variant's plane count.
    */
  private def lshDotsCtes(maxTables: Int, maxPlanes: Int,
                          planesFilter: String = "",
                          vecWhere: String = ""): String = {
    // planesFilter: optional SQL predicate over `p` (e.g. the derived
    // production-rule plane count, `p < (SELECT pl FROM plc)`) so the grid
    // upper bound can be the rule's static CAP while the dots frame stays
    // sized to the DERIVED planes. vecWhere: optional extra predicate over
    // `e` (panel twins restrict the dots to the residue class — sign-LSH
    // hyperplanes are data-independent, so a pair's buckets don't change
    // when the rest of the corpus is filtered away).
    val pf = if (planesFilter.isEmpty) "" else s"\n   WHERE $planesFilter"
    s"""dims AS (SELECT max(len(embedding)) AS d FROM embeddings),
       | pgrid AS (SELECT t, p, i, (t*10007 + p)::UBIGINT AS pg
       |   FROM (SELECT unnest(range(0, $maxTables)) AS t),
       |        (SELECT unnest(range(0, $maxPlanes)) AS p),
       |        (SELECT unnest(range(0, (SELECT d FROM dims))) AS i)$pf),
       | s1 AS (SELECT t, p, i, ${HashSql.mixCols("pg", "a")} FROM pgrid),
       | s2 AS (SELECT t, p, i,
       |   ${HashSql.mixCols(s"xor(ma, ${HashSql.familySeed("i::UBIGINT")})", "b")} FROM s1),
       | comps AS (SELECT t, p, i,
       |   (mb % 2000001::UBIGINT)::DOUBLE / 1000000.0 - 1.0 AS comp FROM s2),
       | cl AS (SELECT t, p, list(comp ORDER BY i) AS cs FROM comps GROUP BY t, p),
       | dots AS (SELECT e.vec_id, c.t, c.p,
       |    list_sum(list_transform(range(1, len(e.embedding) + 1),
       |      i -> e.embedding[i]::DOUBLE * c.cs[i])) AS dot
       |   FROM embeddings e CROSS JOIN cl c
       |   WHERE e.embedding IS NOT NULL $vecWhere)""".stripMargin
  }

  /** CTEs deriving the production planes rule of
    * [[graft.operators.Dedup.lshPlanesForCorpus]] in SQL — emits
    * `plc(pl INTEGER)`. Integer-exact on both engines: ceil(log₂(B)) for
    * B = ⌈n/target⌉ is the bit length of B−1 (`length(bin(B-1))` — DuckDB's
    * bin() has no leading zeros), clamped to [floor, cap]; no fp log that
    * could round differently at an exact power of two.
    */
  private def lshPlanesRuleCtes(targetPerBucket: Int = 8, floorP: Int = 6,
                                capP: Int = 24): String =
    // greatest(buckets, 1): n = 0 would make buckets−1 = −1, and DuckDB's
    // bin(-1) is 64 one-bits (planes would read 24) while the Scala rule's
    // buckets<=1 branch yields the floor — clamp so both engines agree for
    // ALL n >= 0, not just non-empty fixtures
    s"""nrows AS (SELECT count(*)::BIGINT AS n FROM embeddings),
       | plc AS (SELECT greatest($floorP, least($capP,
       |     length(bin(greatest((n + ${targetPerBucket - 1}) // $targetPerBucket, 1) - 1))))::INTEGER AS pl
       |   FROM nrows)""".stripMargin

  /** Shared bucket + probe + candidate CTEs for a query-side (vec_id < 20)
    * LSH operating point, namespaced by `tag`: base buckets are the
    * plane-sign bits (sum of disjoint powers of two == the OR ExprImpl
    * folds), query probes add the `probes-1` smallest-|margin| one-bit
    * flips (ExprImpl.lshProbes order: |dot| asc, plane asc), candidates
    * join per (table, bucket). Emits `cand$tag(query_id, corpus_id)` —
    * the one candidate-generation definition both the float and the int8
    * rerank oracles build on, so probe-logic fixes cannot diverge.
    */
  private def lshCandCtes(tag: String, planes: Int, tables: Int,
                          probes: Int): String = {
    val base =
      s"""b$tag AS (SELECT vec_id, t,
         |    sum(CASE WHEN dot >= 0 THEN (1 << p) ELSE 0 END)::BIGINT AS bucket
         |   FROM dots WHERE t < $tables AND p < $planes GROUP BY vec_id, t)""".stripMargin
    val probeCtes =
      if (probes == 1)
        s""",
           | qp$tag AS (SELECT vec_id, t, bucket FROM b$tag WHERE vec_id < 20)""".stripMargin
      else
        s""",
           | mr$tag AS (SELECT vec_id, t, p,
           |    row_number() OVER (PARTITION BY vec_id, t ORDER BY abs(dot) ASC, p ASC) AS mrnk
           |   FROM dots WHERE vec_id < 20 AND t < $tables AND p < $planes),
           | qp$tag AS (
           |   SELECT vec_id, t, bucket FROM b$tag WHERE vec_id < 20
           |   UNION ALL
           |   SELECT m.vec_id, m.t, xor(b.bucket::UBIGINT, (1 << m.p)::UBIGINT)::BIGINT AS bucket
           |   FROM mr$tag m JOIN b$tag b ON b.vec_id = m.vec_id AND b.t = m.t
           |   WHERE m.mrnk <= ${probes - 1})""".stripMargin
    base + probeCtes +
      s""",
         | cand$tag AS (SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS corpus_id
         |   FROM qp$tag qb JOIN b$tag cb ON qb.t = cb.t AND qb.bucket = cb.bucket
         |     AND qb.vec_id != cb.vec_id)""".stripMargin
  }

  /** The qt08 exact-cosine rerank over a (query_id, corpus_id) CTE `src`,
    * emitting `topk$tag(query_id, corpus_id, sim, rnk)` with rnk ≤ k.
    */
  private def cosineTopkCtes(tag: String, src: String, k: Int): String =
    s"""sc$tag AS (SELECT query_id, corpus_id,
       |     round(list_sum(list_transform(range(1, len(q.embedding) + 1),
       |       i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)) /
       |     (sqrt(list_sum(list_transform(q.embedding, x -> x::DOUBLE * x::DOUBLE))) *
       |      sqrt(list_sum(list_transform(c.embedding, x -> x::DOUBLE * x::DOUBLE)))), 6) AS sim
       |   FROM $src JOIN embeddings q ON q.vec_id = query_id
       |     JOIN embeddings c ON c.vec_id = corpus_id),
       | topk$tag AS (SELECT query_id, corpus_id, sim, rnk FROM (
       |     SELECT query_id, corpus_id, sim,
       |       row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, corpus_id ASC) AS rnk
       |     FROM sc$tag) WHERE rnk <= $k)""".stripMargin

  /** Bucket + exact-rerank CTEs for one float LSH operating point:
    * [lshCandCtes] candidates, [cosineTopkCtes] rerank.
    */
  private def lshTopkCtes(tag: String, planes: Int, tables: Int,
                          probes: Int, k: Int): String =
    lshCandCtes(tag, planes, tables, probes) +
      s""",
         | ${cosineTopkCtes(tag, s"cand$tag", k)}""".stripMargin

  /** Bucketed near-dup PAIR CTEs for one LSH operating point (the
    * `Dedup.embeddingNearDupPairsLsh` shape): unlike the top-k path, BOTH
    * pair sides are probe-expanded, candidates are id_a < id_b pairs
    * sharing any (table, bucket), and the verify stage is the exact-cosine
    * threshold, not a rank cut. Emits `pv$tag(id_a, id_b)`.
    */
  private def lshPairCtes(tag: String, planes: String, tables: Int,
                          probes: Int, threshold: Double,
                          emitSim: Boolean = false): String = {
    // `planes` is a SQL expression, not an Int: fixed operating points pass
    // a literal ("8"); the production-rule point passes the derived count
    // ("(SELECT pl FROM plc)" — see lshPlanesRuleCtes) so the plane cut
    // rides the corpus size identically to the Scala side.
    val base =
      s"""b$tag AS (SELECT vec_id, t,
         |    sum(CASE WHEN dot >= 0 THEN (1 << p) ELSE 0 END)::BIGINT AS bucket
         |   FROM dots WHERE t < $tables AND p < $planes GROUP BY vec_id, t)""".stripMargin
    val probeCtes =
      if (probes == 1)
        s""",
           | qp$tag AS (SELECT vec_id, t, bucket FROM b$tag)""".stripMargin
      else
        s""",
           | mr$tag AS (SELECT vec_id, t, p,
           |    row_number() OVER (PARTITION BY vec_id, t ORDER BY abs(dot) ASC, p ASC) AS mrnk
           |   FROM dots WHERE t < $tables AND p < $planes),
           | qp$tag AS (
           |   SELECT vec_id, t, bucket FROM b$tag
           |   UNION ALL
           |   SELECT m.vec_id, m.t, xor(b.bucket::UBIGINT, (1 << m.p)::UBIGINT)::BIGINT AS bucket
           |   FROM mr$tag m JOIN b$tag b ON b.vec_id = m.vec_id AND b.t = m.t
           |   WHERE m.mrnk <= ${probes - 1})""".stripMargin
    val simExpr =
      s"""round(list_sum(list_transform(range(1, len(ea.embedding) + 1),
         |       i -> ea.embedding[i]::DOUBLE * eb.embedding[i]::DOUBLE)) /
         |     (sqrt(list_sum(list_transform(ea.embedding, x -> x::DOUBLE * x::DOUBLE))) *
         |      sqrt(list_sum(list_transform(eb.embedding, x -> x::DOUBLE * x::DOUBLE)))), 6)""".stripMargin
    val simCol = if (emitSim) s",\n   $simExpr AS cos_sim" else ""
    base + probeCtes +
      s""",
         | pr$tag AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |   FROM qp$tag a JOIN qp$tag b ON a.t = b.t AND a.bucket = b.bucket
         |     AND a.vec_id < b.vec_id),
         | pv$tag AS (SELECT id_a, id_b$simCol FROM pr$tag
         |   JOIN embeddings ea ON ea.vec_id = id_a JOIN embeddings eb ON eb.vec_id = id_b
         |   WHERE $simExpr >= $threshold)""".stripMargin
  }

  /** Int8-shortlist + float-rerank CTEs for one QUANTIZED LSH operating
    * point (the `Similarity.lshTopKInt8` shape): [lshCandCtes]
    * candidates — the same definition the float oracle uses — then a
    * quantized-score shortlist cut, then the qt08 exact rerank on it.
    * Requires the shared `dots` grid AND a shared `qzn` CTE (quantized
    * vectors + integer norms — see the qt22r oracle). The quantized
    * score is an exact BIGINT dot over a double norm product — identical
    * fp sequence to the Spark side, so the shortlist ranking (corpus-id
    * tiebreak) reproduces bit-for-bit. Emits
    * `topk$tag(query_id, corpus_id, sim, rnk)`.
    */
  private def lshTopkInt8Ctes(tag: String, planes: Int, tables: Int,
                              probes: Int, k: Int, rerank: Int): String =
    lshCandCtes(tag, planes, tables, probes) +
      s""",
         | qsc$tag AS (SELECT query_id, corpus_id,
         |     list_sum(list_transform(range(1, len(a.qv) + 1),
         |       i -> (a.qv[i] * b.qv[i])::BIGINT))::DOUBLE / (a.qn * b.qn) AS qsim
         |   FROM cand$tag JOIN qzn a ON a.vec_id = query_id
         |     JOIN qzn b ON b.vec_id = corpus_id),
         | sl$tag AS (SELECT query_id, corpus_id FROM (
         |     SELECT query_id, corpus_id,
         |       row_number() OVER (PARTITION BY query_id ORDER BY qsim DESC, corpus_id ASC) AS qrnk
         |     FROM qsc$tag) WHERE qrnk <= $rerank),
         | ${cosineTopkCtes(tag, s"sl$tag", k)}""".stripMargin

  /** CTE chain re-deriving ONE operating point of the Lloyd-trained
    * (lloydIters=1) oracle-mode `Similarity.ivfTopK` in DuckDB, namespaced
    * by `tag`. Stage-for-stage mirror of the Scala path: seeds = smallest
    * signed mix64(id) of the TRAINING slice (id tiebreak, cell = rank),
    * training assignment = raw-double cosine vs seeds (cell-asc tiebreak),
    * centroid = order-deterministic per-dim mean (`list_sum(list(v ORDER
    * BY vec_id)) / count(*)` — the same left-to-right fp fold oracle mode
    * runs), cast to FLOAT; empty cells keep their seed; full-corpus
    * assignment, nProbe probing, exact rerank. `trainScaled` is
    * trainFraction × 1e6: the slice is `mix64(vec_id) % 1000000 <
    * trainScaled` over UBIGINT — bit-identical to the Scala
    * remainderUnsigned filter. Requires a shared `hh` CTE (embeddings +
    * mix64 of vec_id). Emits `tk$tag(query_id, corpus_id, sim, rnk)` with
    * rnk <= k applied.
    */
  /** Training + cell-assignment prefix of the IVF oracle (through
    * `asg$tag`: per-vector cell ranks against the Lloyd-1 centroids) —
    * shared by the top-k probing tail below and the SemDeDup oracle, which
    * consumes only the crnk=1 home cells.
    */
  /** CTE chain replaying `Vocab.bpeMerges` training for `nM` rounds:
    * w1 = the word-frequency table with per-character symbol lines; round
    * i emits p$i (weighted adjacent-pair counts), m$i (the argmax merge),
    * and w${i+1} (the merge applied via the space-doubling replace).
    */
  private def bpeTrainCtes(nM: Int): String = {
    val init =
      s"""w1 AS MATERIALIZED (SELECT w, count(*)::BIGINT AS freq,
         |     trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS syms
         |   FROM (SELECT t.term AS w
         |     FROM (SELECT $tokensSql AS ts FROM documents), unnest(ts) AS t(term))
         |   GROUP BY w)""".stripMargin
    val stages = (1 to nM).map { i =>
      s"""p$i AS (SELECT t.sl[u.i] AS l, t.sl[u.i + 1] AS r, sum(t.freq)::BIGINT AS cnt
         |   FROM (SELECT freq, string_split(syms, ' ') AS sl FROM w$i) t,
         |     unnest(range(1, len(t.sl))) AS u(i)
         |   GROUP BY 1, 2),
         | m$i AS MATERIALIZED (SELECT l, r, cnt FROM p$i
         |   ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
         | w${i + 1} AS MATERIALIZED (SELECT w.freq,
         |     trim(regexp_replace(
         |       replace(' ' || replace(w.syms, ' ', '  ') || ' ',
         |         ' ' || m.l || '  ' || m.r || ' ', ' ' || m.l || m.r || ' '),
         |       ' +', ' ', 'g')) AS syms
         |   FROM w$i w CROSS JOIN m$i m)""".stripMargin
    }
    s"$init,\n ${stages.mkString(",\n ")}"
  }

  private def ivfAssignCtes(tag: String, nlist: Int,
                            trainScaled: Long = 1000000L): String = {
    def dotSql(a: String, b: String): String =
      s"list_sum(list_transform(range(1, len($a) + 1), i -> $a[i]::DOUBLE * $b[i]::DOUBLE))"
    def nrmSql(a: String): String =
      s"sqrt(list_sum(list_transform($a, x -> x::DOUBLE * x::DOUBLE)))"
    val trainFilter =
      if (trainScaled >= 1000000L) ""
      else s" WHERE m % 1000000::UBIGINT < $trainScaled::UBIGINT"
    s"""tr$tag AS (SELECT vec_id, embedding, m FROM hh$trainFilter),
       | seeds$tag AS (SELECT vec_id, embedding,
       |     row_number() OVER (ORDER BY ${HashSql.toSigned("m")} ASC, vec_id ASC) - 1 AS cell
       |   FROM tr$tag QUALIFY cell < $nlist),
       | tasg$tag AS (SELECT t.vec_id, s.cell,
       |     row_number() OVER (PARTITION BY t.vec_id ORDER BY
       |       ${dotSql("t.embedding", "s.embedding")} /
       |         (${nrmSql("t.embedding")} * ${nrmSql("s.embedding")}) DESC, s.cell ASC) AS crnk
       |   FROM tr$tag t CROSS JOIN seeds$tag s),
       | mexp$tag AS (SELECT a.cell, u.i AS pos, e.vec_id, e.embedding[u.i]::DOUBLE AS v
       |   FROM (SELECT vec_id, cell FROM tasg$tag WHERE crnk = 1) a
       |     JOIN embeddings e ON e.vec_id = a.vec_id,
       |     unnest(range(1, len(e.embedding) + 1)) AS u(i)),
       | mean$tag AS (SELECT cell, pos, list_sum(list(v ORDER BY vec_id)) / count(*) AS m
       |   FROM mexp$tag GROUP BY cell, pos),
       | cent$tag AS (SELECT cell, list(m::FLOAT ORDER BY pos) AS c FROM mean$tag GROUP BY cell),
       | cen$tag AS (SELECT s.cell, coalesce(c.c, s.embedding) AS centroid
       |   FROM seeds$tag s LEFT JOIN cent$tag c USING (cell)),
       | asg$tag AS (SELECT e.vec_id, kc.cell,
       |     row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |       ${dotSql("e.embedding", "kc.centroid")} /
       |         (${nrmSql("e.embedding")} * ${nrmSql("kc.centroid")}) DESC, kc.cell ASC) AS crnk
       |   FROM embeddings e CROSS JOIN cen$tag kc WHERE e.embedding IS NOT NULL)""".stripMargin
  }

  private def ivfCtes(tag: String, nlist: Int, nProbe: Int, k: Int,
                      trainScaled: Long = 1000000L): String = {
    def dotSql(a: String, b: String): String =
      s"list_sum(list_transform(range(1, len($a) + 1), i -> $a[i]::DOUBLE * $b[i]::DOUBLE))"
    def nrmSql(a: String): String =
      s"sqrt(list_sum(list_transform($a, x -> x::DOUBLE * x::DOUBLE)))"
    s"""${ivfAssignCtes(tag, nlist, trainScaled)},
       | cnd$tag AS (SELECT p.query_id, h.corpus_id
       |   FROM (SELECT vec_id AS query_id, cell FROM asg$tag
       |          WHERE vec_id < 20 AND crnk <= $nProbe) p
       |   JOIN (SELECT vec_id AS corpus_id, cell FROM asg$tag WHERE crnk = 1) h
       |     ON p.cell = h.cell AND p.query_id != h.corpus_id),
       | sct$tag AS (SELECT query_id, corpus_id,
       |     round(${dotSql("q.embedding", "c.embedding")} /
       |       (${nrmSql("q.embedding")} * ${nrmSql("c.embedding")}), 6) AS sim
       |   FROM cnd$tag JOIN embeddings q ON q.vec_id = query_id
       |     JOIN embeddings c ON c.vec_id = corpus_id),
       | tk$tag AS (SELECT query_id, corpus_id, sim,
       |     row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, corpus_id ASC) AS rnk
       |   FROM sct$tag QUALIFY rnk <= $k)""".stripMargin
  }

  /** CTE chain re-deriving PQ codebooks + codes for one (m, ksub)
    * configuration of oracle-mode `Similarity.trainPq`/`pqEncode` in
    * DuckDB, namespaced by `tag`: per subspace j, seeds = the SAME
    * hash-chosen ksub ids in every subspace (sliced), seed assignment
    * under raw-double squared L2 (diff·diff summed left-to-right, cell-asc
    * tiebreak), Lloyd-1 ordered-fold means cast to FLOAT (empty cells keep
    * their seed slice), full-corpus assignment → `code$tag$j(vec_id,
    * code)`; plus the per-query ADC tables `tab$tag$j(query_id, cell, tv)`
    * for vec_id < 20. Requires the shared `hh` CTE. Multi-referenced CTEs
    * are MATERIALIZED (DuckDB re-inlines CTE chains per reference —
    * exponential in stage depth otherwise).
    */
  private def pqCtes(tag: String, m: Int, ksub: Int): String = {
    def l2Sql(a: String, b: String): String =
      s"list_sum(list_transform(range(1, len($a) + 1), " +
        s"i -> ($a[i]::DOUBLE - $b[i]::DOUBLE) * ($a[i]::DOUBLE - $b[i]::DOUBLE)))"
    def dotSql(a: String, b: String): String =
      s"list_sum(list_transform(range(1, len($a) + 1), i -> $a[i]::DOUBLE * $b[i]::DOUBLE))"
    val seeds =
      s"""sd$tag AS (SELECT vec_id,
         |     row_number() OVER (ORDER BY ${HashSql.toSigned("m")} ASC, vec_id ASC) - 1 AS cell
         |   FROM hh QUALIFY cell < $ksub)""".stripMargin
    val blocks = (0 until m).map { j =>
      val t = s"$tag$j"
      s"""sub$t AS MATERIALIZED (SELECT vec_id,
         |     embedding[(1 + $j * (len(embedding) // $m)):(($j + 1) * (len(embedding) // $m))] AS sv
         |   FROM hh),
         | ss$t AS (SELECT d.cell, u.sv FROM sd$tag d JOIN sub$t u USING (vec_id)),
         | ta$t AS (SELECT t.vec_id, s.cell,
         |     row_number() OVER (PARTITION BY t.vec_id ORDER BY
         |       ${l2Sql("t.sv", "s.sv")} ASC, s.cell ASC) AS crnk
         |   FROM sub$t t CROSS JOIN ss$t s),
         | mx$t AS (SELECT a.cell, u.i AS pos, t.vec_id, t.sv[u.i]::DOUBLE AS v
         |   FROM (SELECT vec_id, cell FROM ta$t WHERE crnk = 1) a
         |     JOIN sub$t t USING (vec_id),
         |     unnest(range(1, len(t.sv) + 1)) AS u(i)),
         | mn$t AS (SELECT cell, pos, list_sum(list(v ORDER BY vec_id)) / count(*) AS mv
         |   FROM mx$t GROUP BY cell, pos),
         | cbk$t AS (SELECT cell, list(mv::FLOAT ORDER BY pos) AS cent FROM mn$t GROUP BY cell),
         | cc$t AS MATERIALIZED (SELECT s.cell, coalesce(c.cent, s.sv) AS cent
         |   FROM ss$t s LEFT JOIN cbk$t c USING (cell)),
         | asg$t AS (SELECT e.vec_id, kc.cell,
         |     row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |       ${l2Sql("e.sv", "kc.cent")} ASC, kc.cell ASC) AS crnk
         |   FROM sub$t e CROSS JOIN cc$t kc),
         | code$t AS MATERIALIZED (SELECT vec_id, cell AS code FROM asg$t WHERE crnk = 1),
         | tab$t AS MATERIALIZED (SELECT q.vec_id AS query_id, kc.cell,
         |     ${dotSql("q.sv", "kc.cent")} AS tv
         |   FROM (SELECT vec_id, sv FROM sub$t WHERE vec_id < 20) q CROSS JOIN cc$t kc)""".stripMargin
    }
    (seeds +: blocks).mkString(",\n ")
  }

  /** ADC scoring CTE `qsc$vtag(query_id, corpus_id, qsim)` over the
    * `code`/`tab` CTEs of [pqCtes] tag `cbTag`: per pair, m table lookups
    * summed LEFT-TO-RIGHT (the same fold Spark's `element_at` chain
    * evaluates), normalized by the shared `nrm` CTE's exact norms —
    * unrounded doubles, so the shortlist ranking is bit-equal across
    * engines.
    */
  private def pqScoreCtes(vtag: String, cbTag: String, m: Int,
                          pairsFrom: Option[String] = None): String = {
    val joins = (0 until m).map(j =>
      s"""JOIN code$cbTag$j c$j ON c$j.vec_id = p.corpus_id
         |   JOIN tab$cbTag$j t$j ON t$j.query_id = p.query_id AND t$j.cell = c$j.code""".stripMargin)
      .mkString("\n   ")
    val sum = (0 until m).map(j => s"t$j.tv").mkString(" + ")
    // default: the exhaustive ADC scan; pairsFrom names a candidate CTE
    // (query_id, corpus_id) — e.g. an IVF cnd$tag — for cell-pruned IVFPQ
    val pairs = pairsFrom.getOrElse(
      """(SELECT q.vec_id AS query_id, c.vec_id AS corpus_id
        |      FROM hh q JOIN hh c ON q.vec_id < 20 AND q.vec_id != c.vec_id)""".stripMargin)
    s"""qsc$vtag AS (SELECT p.query_id, p.corpus_id,
       |     ($sum) / (qn.nv * cn.nv) AS qsim
       |   FROM $pairs p
       |   $joins
       |   JOIN nrm qn ON qn.vec_id = p.query_id
       |   JOIN nrm cn ON cn.vec_id = p.corpus_id)""".stripMargin
  }

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

  /** Recall of each approximate variant against ONE shared exact baseline:
    * the exact subtree appears once in the plan (cross-joined with the tiny
    * variant dimension, then left-joined against the tagged union of the
    * approx results), so the brute-force pass executes once regardless of
    * how many operating points are reported. `idCols` names the result-pair
    * identity ((query_id, corpus_id) for top-k; (id_a, id_b) for near-dup
    * pair sets); each variant is keyed by a 3-int operating point labeled
    * `labels`.
    */
  private def recallQuery(exact: DataFrame, idCols: Seq[String],
                          labels: (String, String, String),
                          variants: Seq[((Int, Int, Int), DataFrame)]): DataFrame = {
    import exact.sparkSession.implicits._
    val (c1, c2, c3) = labels
    val vdim = variants.map(_._1).toDF(c1, c2, c3)
    val tagged = variants.map { case ((a, b, p), approx) =>
      approx.select(idCols.map(col): _*)
        .withColumn(c1, lit(a)).withColumn(c2, lit(b)).withColumn(c3, lit(p))
        .withColumn("__hit", lit(1))
    }.reduce(_ unionByName _)
    exact.select(idCols.map(col): _*).crossJoin(vdim)
      .join(tagged, Seq(c1, c2, c3) ++ idCols, "left")
      .groupBy(col(c1), col(c2), col(c3))
      .agg(round(avg(when(col("__hit").isNotNull, 1.0).otherwise(0.0)), 4).as("recall_vs_brute"))
      .select(col(c1), col(c2), col(c3), col("recall_vs_brute"))
  }

  /** qr01/qr01c's composed RAG chain: token-window chunking → hash
    * embeddings → dense cosine AND sparse BM25 over the SAME chunk store →
    * RRF fusion, chunk keys unpacked back to (doc, chunk). The chunk store
    * feeds BOTH legs (postings build + embedding) so it is materialized
    * once (the PageRank edge-frame lesson; in production this is the
    * persisted chunk table both indexes build from). `capped` applies the
    * ⌊0.5·N⌋ df stopword prune (qt28c) to the sparse leg's query terms.
    * Chunk keys are a STRUCT (doc_id, chunk_id), not an arithmetic pack:
    * `(doc_id+1)·2^20 + chunk_id` overflows int64 beyond doc ≈ 2^43 —
    * the 10× scale fixture's 2^40-offset ids hit it (found by the 10×
    * oracle sweep: DuckDB raised, Spark with ANSI off would have WRAPPED
    * SILENTLY), and any production 64-bit doc id would too. The struct
    * is total over the whole long domain with zero collision risk (a
    * hash surrogate has some; a decimal(38,0) surrogate was measured
    * 40–120 % slower on qr01 — BigDecimal-backed key compares), costs
    * the same 16 bytes flat in Tungsten rows, joins/groups/orders as one
    * opaque key through every downstream operator, and unpacking is a
    * field access instead of div/mod. DuckDB mirrors it as a STRUCT with
    * identical field-lexicographic ordering, so rank tie-breaks agree.
    * The chunk-id headroom guard (chunk_id < 2^20 or raise_error) is
    * kept: it no longer protects the KEY, but a 2^20-chunk document is
    * still a malformed input worth failing loudly on.
    */
  private[graft] val RagWindow = 32
  private[graft] val RagStride = 24
  private[graft] val RagKeyShift = 1048576L // 2^20: room for 2^20 chunks/doc
  private[graft] val RagDim = 16
  private[graft] val RagK = 10

  /** qr01's chunk store, pre-checkpoint — ONE definition shared by the
    * inline retrieval chain and the persisted index stores, so every
    * retrieval entry reads exactly the chunks the others build.
    */
  private[graft] def ragChunkStore(s: SparkSession, d: String): DataFrame =
    graft.operators.Pack.chunkTokens(T(s, d, "documents"), "doc_id", "text",
        window = RagWindow, stride = RagStride)
      .select(struct(
          col("doc_id"),
          when(col("chunk_id") < lit(RagKeyShift), col("chunk_id"))
            .otherwise(raise_error(concat(
              lit("ragChunkStore: chunk_id exceeds the 2^20 headroom: "),
              col("chunk_id").cast("string"))).cast("long"))
            .as("chunk_id")).as("ck"),
        col("chunk_text"))

  private def retrievalChain(s: SparkSession, d: String,
                             capped: Boolean): DataFrame = {
    val k = RagK; val dim = RagDim
    val docs = T(s, d, "documents")
    val chunks = ragChunkStore(s, d).localCheckpoint()
    val maxDf = if (capped)
      Some(scala.math.floor(0.5 * chunks.count()).max(1)) else None
    val queries = docs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("query_id"), col("text").as("qtext"))
    val sparse = graft.operators.Retrieval.bm25TopK(chunks, queries, k = k,
      maxDf = maxDf, idCol = "ck", textCol = "chunk_text")
    val cEmb = chunks.select(col("ck").as("vid"),
      graft.operators.Similarity.hashEmbedding(col("chunk_text"), dim).as("emb"))
    // the query side wears the same struct key type (chunk_id −1 can
    // never collide with a real chunk), so the operator's self-match
    // exclusion compares like with like
    val qEmb = queries.select(
      struct(col("query_id").as("doc_id"), lit(-1L).as("chunk_id")).as("vid"),
      graft.operators.Similarity.hashEmbedding(col("qtext"), dim).as("emb"))
    val dense = graft.operators.Similarity.bruteForceTopK(cEmb, qEmb, k = k,
        idCol = "vid", vecCol = "emb")
      .select(col("query_id.doc_id").as("query_id"),
        col("corpus_id").as("ck"), col("rnk"))
    graft.operators.Retrieval.rrfFuse(
        sparse.select(col("query_id"), col("ck"), col("rnk")), dense,
        k = k, idCol = "ck")
      .select(col("query_id"), col("ck.doc_id").as("doc_id"),
        col("ck.chunk_id").as("chunk_id"), col("rrf_score"), col("rnk"))
  }

  /** qr02's persisted index artifacts, built ONCE per (JVM, table dir)
    * and written to a temp store: the chunk table, its BM25 index
    * ([Retrieval.saveBm25Index] — the real artifact shape), and the chunk
    * embedding table. qr01 prices the full chain BUILD+SERVE fused (a
    * re-index run); qr02 serves the SAME query panel from these
    * artifacts — the number a production RAG deployment actually cares
    * about, where the index is built once per corpus refresh and queries
    * arrive forever after. The memo lives on the filesystem (survives
    * Bench's cache isolation) and the build runs in the untimed warmup,
    * so timed runs price serve-only: query-side embed + postings join +
    * cosine + RRF. Rankings are BIT-IDENTICAL to qr01's (strings and
    * doubles round-trip parquet exactly; the BM25 per-doc score is a
    * sorted fold; cosine is the same kernel), so qr02 shares qr01's
    * oracle SQL verbatim.
    */
  private val ragIndexMemo = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def ragIndexDir(s: SparkSession, d: String): String =
    ragIndexMemo.computeIfAbsent(d, _ => {
      val out = java.nio.file.Files.createTempDirectory("graft_rag_index_").toString
      graft.sources.Tables.deleteOnExit(out)
      ragChunkStore(s, d).write.mode("overwrite").parquet(s"$out/chunks")
      val stored = s.read.parquet(s"$out/chunks")
      // bucketed on term: neutral for this entry's broadcast-sized panel,
      // but it makes the persisted artifact the production layout (a
      // large query batch's term join reads co-partitioned postings)
      graft.operators.Retrieval.saveBm25Index(
        graft.operators.Retrieval.bm25Index(stored, "ck", "chunk_text"),
        s"$out/bm25", bucketed = true)
      stored.select(col("ck").as("vid"),
          graft.operators.Similarity.hashEmbedding(col("chunk_text"), RagDim).as("emb"))
        .write.mode("overwrite").parquet(s"$out/emb")
      out
    })

  /** qr03's index artifacts: the SAME layout as [ragIndexDir] but with the
    * chunk embedding table built THROUGH the batched encoder seam
    * ([Similarity.encodeTextRows] over [Similarity.HashTextEncoder]) instead
    * of the native column expression. HashTextEncoder delegates to the same
    * scalar kernel, so the persisted vectors are bit-identical — which is
    * exactly what makes the seam a driver-checkable entry (the qc01s
    * pattern: same oracle, different production machinery).
    */
  private def ragIndexDirEncoded(s: SparkSession, d: String): String =
    ragIndexMemo.computeIfAbsent("enc:" + d, _ => {
      val out = java.nio.file.Files.createTempDirectory("graft_rag_index_enc_").toString
      graft.sources.Tables.deleteOnExit(out)
      ragChunkStore(s, d).write.mode("overwrite").parquet(s"$out/chunks")
      val stored = s.read.parquet(s"$out/chunks")
      graft.operators.Retrieval.saveBm25Index(
        graft.operators.Retrieval.bm25Index(stored, "ck", "chunk_text"),
        s"$out/bm25", bucketed = true)
      graft.operators.Similarity.encodeTextRows(stored, "chunk_text",
          graft.operators.Similarity.HashTextEncoder(RagDim), outCol = "emb")
        .select(col("ck").as("vid"), col("emb"))
        .write.mode("overwrite").parquet(s"$out/emb")
      out
    })

  /** The serve half of the RAG chain against [ragIndexDir]'s artifacts;
    * `encoded = true` (qr03) serves from [ragIndexDirEncoded] and embeds
    * the query panel through the encoder seam too — every vector in the
    * chain then crossed the production encodeBatch boundary.
    */
  private def retrievalServe(s: SparkSession, d: String,
                             encoded: Boolean = false): DataFrame = {
    val k = RagK
    val dir = if (encoded) ragIndexDirEncoded(s, d) else ragIndexDir(s, d)
    val queries = T(s, d, "documents").filter(col("doc_id") < 5)
      .select(col("doc_id").as("query_id"), col("text").as("qtext"))
    val sparse = graft.operators.Retrieval.bm25TopKIndexed(
      graft.operators.Retrieval.loadBm25Index(s, s"$dir/bm25"),
      queries, k = k, idCol = "ck")
    val cEmb = Tables.parquet(s, s"$dir/emb")
    val qRaw =
      if (encoded)
        graft.operators.Similarity.encodeText(queries, "query_id", "qtext",
          graft.operators.Similarity.HashTextEncoder(RagDim), outCol = "emb")
      else queries.select(col("query_id"),
        graft.operators.Similarity.hashEmbedding(col("qtext"), RagDim).as("emb"))
    val qEmb = qRaw.select(
      struct(col("query_id").as("doc_id"), lit(-1L).as("chunk_id")).as("vid"),
      col("emb"))
    val dense = graft.operators.Similarity.bruteForceTopK(cEmb, qEmb, k = k,
        idCol = "vid", vecCol = "emb")
      .select(col("query_id.doc_id").as("query_id"),
        col("corpus_id").as("ck"), col("rnk"))
    graft.operators.Retrieval.rrfFuse(
        sparse.select(col("query_id"), col("ck"), col("rnk")), dense,
        k = k, idCol = "ck")
      .select(col("query_id"), col("ck.doc_id").as("doc_id"),
        col("ck.chunk_id").as("chunk_id"), col("rrf_score"), col("rnk"))
  }

  /** Shared stopword list literal for the SQL oracles. */
  private val langProfilesSql: Map[String, String] =
    TextFns.LangId.profiles.toMap.map { case (k, ws) =>
      k -> ws.map(w => s"'$w'").mkString("(", ",", ")")
    }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Token counting + basic text stats (all codegen'd column ops).
    "qt01_token_stats" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val toks = TextFns.tokens(col("text"))
      docs.select(
        col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        length(regexp_replace(col("text"), "\\s+", "")).cast("long").as("n_chars_nospace"),
        round(length(regexp_replace(col("text"), "\\s+", "")).cast("double") /
          size(toks).cast("double"), 6).as("mean_word_len"))
    }),

    // Language-ID heuristic: stopword-profile scoring, deterministic argmax.
    "qt02_langid" -> ((s, d) => {
      T(s, d, "documents").select(
        col("doc_id"),
        TextFns.LangId.langId(col("text")).as("lang_guess"))
    }),

    // Composite quality score (length/word-length/punctuation/stopword
    // components, equal-weighted).
    "qt11_quality" -> ((s, d) => {
      T(s, d, "documents").select(
        col("doc_id"), TextFns.qualityScore(col("text")).as("quality"))
    }),

    // Document fingerprint: md5 of whitespace-normalized lowercase text.
    "qt03_fingerprint" -> ((s, d) => {
      T(s, d, "documents").select(
        col("doc_id"), TextFns.fingerprint(col("text")).as("fp"))
    }),

    // Exact dedup via fingerprint grouping (the 100 TB path: shuffle carries
    // 16-byte hashes, not document text).
    "qt04_dedup_exact" -> ((s, d) =>
      Dedup.exactByFingerprint(T(s, d, "documents"), "text", "doc_id")),

    // Exact word-3-gram Jaccard ≥ 0.15 within a language block, via the
    // inverted-index join (identical results to all-pairs, sub-quadratic;
    // Dedup.ngramJaccardPairs remains the quadratic verification baseline,
    // cross-checked in DedupSpec).
    "qt05_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairsIndexed(T(s, d, "documents"), "doc_id", "text",
        n = 3, threshold = 0.15, blockCols = Seq("lang"))),

    // The prefix-filtered variant (AllPairs/PPJoin): EXACT like qt05 — the
    // oracle is qt05's SQL at this threshold — but only each doc's rarest
    // |s|−⌈t·|s|⌉+1 shingles enter the posting join. What the prefix buys
    // is a WORST-CASE bound: candidate cost drops from Σdf² over all
    // posting lists to Σdf² over prefix postings, and the hot head
    // shingles (the ones qt05c's df cap must DROP, trading exactness)
    // sort to the unindexed tail of the rarest-first order. On the small
    // sf0.1 fixture the df pass + per-doc rank window roughly cancel
    // what the shorter postings save, and this benches LEVEL with the
    // plain inverted index at the same threshold (qt05t is the
    // apples-to-apples twin: 1.47 vs 1.43 s — BENCH_r05's 4.37 s reading
    // was first-run cost inside the timed window, gone since the bench
    // warms each entry untimed). On a hot-shingle corpus the plain index
    // explodes quadratically while the prefix path stays near-linear
    // (9.4× at 12k boilerplate docs and diverging — docs/SCALE.md
    // "Round-6 delta: prefix filtering's crossover"). At 100 TB the
    // corpus IS hot-shingle-heavy, which is why this is the exact scale
    // path.
    "qt05p_ngram_jaccard_prefix" -> ((s, d) =>
      Dedup.ngramJaccardPairsPrefix(T(s, d, "documents"), "doc_id", "text",
        n = 3, threshold = 0.7, blockCols = Seq("lang"))),

    // The same-threshold inverted-index twin of qt05p: identical output
    // (same oracle SQL), same threshold 0.7 — exists so the bench records
    // an apples-to-apples prefix-vs-plain pair per round instead of
    // comparing qt05p against qt05's different-threshold 0.15 run.
    "qt05t_ngram_jaccard_t07" -> ((s, d) =>
      Dedup.ngramJaccardPairsIndexed(T(s, d, "documents"), "doc_id", "text",
        n = 3, threshold = 0.7, blockCols = Seq("lang"))),

    // Edit-distance VERIFICATION of near-dup candidates — the confirm
    // stage a production dedup runs after candidate generation: true
    // Levenshtein on the candidate pairs only (a handful of pairs, never
    // the n² corpus), normalized by the longer text. Engine parity note:
    // DuckDB's levenshtein counts bytes, Spark's counts code points — the
    // ASCII fixture makes them identical, and the production contract is
    // ASCII-normalized text (qt13's normalizer runs first).
    "qt23_editdist_verify" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val pairs = Dedup.ngramJaccardPairsIndexed(docs, "doc_id", "text",
        n = 3, threshold = 0.15, blockCols = Seq("lang"))
      val a = docs.select(col("doc_id").as("id_a"), col("text").as("__ta"))
      val b = docs.select(col("doc_id").as("id_b"), col("text").as("__tb"))
      val dist = levenshtein(col("__ta"), col("__tb"))
      pairs.join(a, "id_a").join(b, "id_b")
        .select(col("id_a"), col("id_b"), col("jaccard"),
          dist.cast("long").as("edit_dist"),
          (dist.cast("double") /
            greatest(length(col("__ta")), length(col("__tb"))).cast("double"))
            .as("edit_ratio"))
    }),

    // The capped variant: shingles with document frequency above
    // max(4, 5% of the lang block) are dropped from the shingle space —
    // the production bound on posting-list density (worst-case join cost is
    // Σdf², and ubiquitous shingles carry no near-dup signal).
    "qt05c_ngram_jaccard_capped" -> ((s, d) =>
      Dedup.ngramJaccardPairsIndexed(T(s, d, "documents"), "doc_id", "text",
        n = 3, threshold = 0.15, blockCols = Seq("lang"),
        maxShingleDf = Some(4L), maxShingleDfFrac = Some(0.05))),

    // MinHash + LSH banding near-dup candidates. Oracled: the banding
    // bucket hash (xxhash64 of the signature slice) only GROUPS — the
    // DuckDB twin groups on the slice values themselves, which is the same
    // partition up to a 2^-64 hash collision; signatures come from HashSql.
    "qt06_minhash_lsh" -> ((s, d) =>
      Dedup.minhashLshPairs(T(s, d, "documents"), "doc_id", "text",
        shingleN = 3, bands = 8, rowsPerBand = 2, threshold = 0.15)),

    // SimHash hamming-distance near-dups (oracled via HashSql).
    "qt07_simhash" -> ((s, d) =>
      Dedup.simhashPairs(T(s, d, "documents"), "doc_id", "text", maxDist = 3)
        .withColumn("dist", col("dist").cast("long"))),

    // Brute-force cosine top-5 neighbors for the first 20 vectors.
    "qt08_cosine_topk" -> ((s, d) => {
      val e = T(s, d, "embeddings")
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 20), k = 5)
        .withColumn("rnk", col("rnk").cast("long"))
    }),

    // Int8 embedding quantization (the 4× ANN memory cut): per-vector
    // max-abs scale, round-half-up ints. Both engines evaluate the same
    // double-precision expression in the same order, so the quantized
    // vectors are bit-identical — hashed here via per-vector sum/min/max
    // over the int array plus the raw scale.
    "qt22_quantize_int8" -> ((s, d) =>
      graft.operators.Similarity.quantizeInt8(T(s, d, "embeddings"))
        .select(col("vec_id"), col("scale"),
          aggregate(col("quantized"), lit(0L), (a, v) => a + v.cast("long")).as("q_sum"),
          array_min(col("quantized")).cast("long").as("q_min"),
          array_max(col("quantized")).cast("long").as("q_max"))),

    // LSH-bucketed approximate top-5, oracled end to end: the hyperplanes
    // come from the mix64 family HashSql re-derives in SQL, so DuckDB
    // rebuilds the identical buckets, candidates, and rerank. 6 planes ×
    // 4 tables ≈ 6% of the corpus scanned per query.
    "qt09_lsh_topk" -> ((s, d) => {
      val e = T(s, d, "embeddings")
      Similarity.lshTopK(e, e.filter(col("vec_id") < 20), k = 5, planes = 6, tables = 4)
        .withColumn("rnk", col("rnk").cast("long"))
    }),

    // IVF ANN scale path, oracled END TO END including the Lloyd pass:
    // `oracleMode` makes the per-cell per-dim mean an order-deterministic
    // fold (values sorted by corpus_id, summed left-to-right — DuckDB's
    // `list_sum(list(v ORDER BY vec_id)) / count(*)` is the same fp
    // sequence), so seeds, trained centroids, cell assignment, probing and
    // rerank are all bit-reproduced in SQL. Production keeps `avg`
    // (combinable partial agg); SimilaritySpec pins the two modes to the
    // same neighbor sets on the fixture. Probe 4 of 16 cells per query.
    "qt10_ivf_topk" -> ((s, d) => {
      val e = T(s, d, "embeddings")
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 20), k = 5, nlist = 16, nProbe = 4,
        lloydIters = 1, oracleMode = true)
        .withColumn("rnk", col("rnk").cast("long"))
    }),

    // The lloydIters=0 operating point of the SAME IVF machinery, oracled:
    // with no mean-refinement the centroids are corpus vectors chosen by
    // mix64(id) — no summation-order-sensitive float averaging — so DuckDB
    // re-derives seed choice, cell assignment, probe set, and rerank
    // exactly. Verifies everything in qt10's plan except the Lloyd passes.
    "qt10s_ivf_seeded" -> ((s, d) => {
      val e = T(s, d, "embeddings")
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 20), k = 5, nlist = 16, nProbe = 4,
        lloydIters = 0)
        .withColumn("rnk", col("rnk").cast("long"))
    }),

    // ANN recall vs the exact baseline, recorded by the driver each round
    // (both hash-verified — the oracle recomputes both sides in SQL).
    // Operating
    // points: the economical qt09/qt10 setting, and a generous budget
    // showing the recall/cost curve — fixture embeddings are near-random
    // (top-5 cosine ≈ 0.32), the adversarial case for any ANN index, so the
    // economical recall here is a floor, not what clustered real-world
    // embeddings would give.
    "qt09r_lsh_recall" -> ((s, d) => {
      val e = T(s, d, "embeddings")
      val q = e.filter(col("vec_id") < 20)
      recallQuery(Similarity.bruteForceTopK(e, q, k = 5),
        Seq("query_id", "corpus_id"), ("planes", "tables", "probes"),
        Seq(((6, 4, 1), Similarity.lshTopK(e, q, k = 5, planes = 6, tables = 4)),
          ((3, 12, 1), Similarity.lshTopK(e, q, k = 5, planes = 3, tables = 12)),
          // multi-probe: same 4-table index as point 1, 4 probe buckets per
          // query per table — recall bought at query time, not index time
          ((6, 4, 4), Similarity.lshTopK(e, q, k = 5, planes = 6, tables = 4, probes = 4))))
    }),
    // IVF recall operating points (all lloydIters=1, oracle-mode means):
    // the economical setting, a generous probe budget, and the 100 TB
    // TRAINING path — a 25% deterministic hash-slice of the corpus
    // (trainFraction) so sampled k-means training has a recorded recall,
    // not just machinery.
    "qt10r_ivf_recall" -> ((s, d) => {
      val e = T(s, d, "embeddings")
      val q = e.filter(col("vec_id") < 20)
      // the full-sample points share (nlist=16, Lloyd-1, tf=1.0): train
      // that index ONCE and sweep nProbe on the serve side (the qt30
      // build-once discipline, r16 — training is deterministic in oracle
      // mode, so the served rankings are bit-identical to the per-point
      // form); the sampled point trains its own (different sample)
      val cents = Similarity.trainCentroids(
        e.select(col("vec_id").as("corpus_id"), col("embedding").as("cv")),
        nlist = 16, lloydIters = 1, trainFraction = 1.0, oracleMode = true)
      recallQuery(Similarity.bruteForceTopK(e, q, k = 5),
        Seq("query_id", "corpus_id"), ("nlist", "n_probe", "train_pct"),
        Seq(((16, 4, 100), Similarity.ivfTopKCentroids(cents, e, q, k = 5, nProbe = 4)),
          ((16, 14, 100), Similarity.ivfTopKCentroids(cents, e, q, k = 5, nProbe = 14)),
          ((16, 4, 25), Similarity.ivfTopK(e, q, k = 5, nlist = 16, nProbe = 4,
            lloydIters = 1, trainFraction = 0.25, oracleMode = true))))
    }),

    // The quantized ANN path (lshTopKInt8): same 6-plane/4-table/4-probe
    // index as qt09r's multi-probe point, but candidates are scored on the
    // int8 store (the 4× memory cut of qt22) with an exact float rerank
    // on the top-`rerank` shortlist only. Operating points: rerank=0 is
    // the all-float path (the baseline the memory cut is measured
    // against), rerank=10 and rerank=25 are the quantized path at two
    // shortlist budgets — the recall delta IS the cost of scoring on a
    // quarter of the memory, recorded hash-verified per round.
    "qt22r_quantized_ann_recall" -> ((s, d) => {
      val e = T(s, d, "embeddings")
      val q = e.filter(col("vec_id") < 20)
      recallQuery(Similarity.bruteForceTopK(e, q, k = 5),
        Seq("query_id", "corpus_id"), ("planes", "tables", "rerank"),
        Seq(((6, 4, 0), Similarity.lshTopK(e, q, k = 5, planes = 6, tables = 4, probes = 4)),
          ((6, 4, 10), Similarity.lshTopKInt8(e, q, k = 5, planes = 6, tables = 4,
            probes = 4, rerank = 10)),
          ((6, 4, 25), Similarity.lshTopKInt8(e, q, k = 5, planes = 6, tables = 4,
            probes = 4, rerank = 25))))
    }),

    // The quantized IVF path — the SECOND index family served from the
    // int8 store (qt22r covers LSH): identical trained centroids and
    // probe set as qt10's operating point, candidates scored quantized,
    // exact float rerank on the shortlist. rerank=0 is the all-float
    // ivfTopK baseline. With both families recorded, the 4× memory cut
    // is demonstrated wherever the index choice lands.
    "qt25_ivf_int8_recall" -> ((s, d) => {
      val e = T(s, d, "embeddings")
      val q = e.filter(col("vec_id") < 20)
      // all three points share (nlist=16, Lloyd-1, tf=1.0): ONE training
      // pass, serve-side sweep (r16; deterministic oracle-mode training ⇒
      // rankings bit-identical to the train-per-point form)
      val cents = Similarity.trainCentroids(
        e.select(col("vec_id").as("corpus_id"), col("embedding").as("cv")),
        nlist = 16, lloydIters = 1, trainFraction = 1.0, oracleMode = true)
      recallQuery(Similarity.bruteForceTopK(e, q, k = 5),
        Seq("query_id", "corpus_id"), ("nlist", "n_probe", "rerank"),
        Seq(((16, 4, 0), Similarity.ivfTopKCentroids(cents, e, q, k = 5, nProbe = 4)),
          ((16, 4, 10), Similarity.ivfTopKInt8Centroids(cents, e, q, k = 5,
            nProbe = 4, rerank = 10)),
          ((16, 4, 25), Similarity.ivfTopKInt8Centroids(cents, e, q, k = 5,
            nProbe = 4, rerank = 25))))
    }),

    // Product quantization (Jégou et al. 2011): the full trained artifact —
    // per-subspace L2 codebooks + every vector's m codes — hash-checked
    // against a DuckDB re-derivation. This oracles PQ TRAINING + ENCODING
    // end to end (seeds, Lloyd-1 subspace means, L2 assignment with
    // smallest-cell tiebreak); qt27r below oracles the ADC scoring built
    // on these codes. Codes are serialized to a '-'-joined string: the
    // harness canonicalizer sorts raw output columns and cannot order
    // array values, so every catalog entry must emit scalars only.
    "qt27_pq_encode" -> ((s, d) => {
      val e = T(s, d, "embeddings").filter(col("embedding").isNotNull)
      val cb = Similarity.trainPq(
        e.select(col("vec_id").as("corpus_id"), col("embedding").as("cv")),
        m = 4, ksub = 16, lloydIters = 1, trainFraction = 1.0, oracleMode = true)
      Similarity.pqEncode(e, cb)
        .select(col("vec_id"),
          concat_ws("-", col("codes").cast("array<string>")).as("codes"))
    }),

    // PQ ADC recall vs the brute-force float scan, hash-verified per
    // operating point: pure-ADC ranking at m=4 (the corpus is scored as 4
    // codes + a stored norm — ~16× less scan I/O than float32), the same
    // codes with an exact float rerank of the top-25 shortlist, and the
    // finer m=8 codebook with rerank. Each point trains inside its own
    // pqTopK call (the m=4 training runs twice; it is a ksub×dsub collect,
    // negligible next to the scan).
    "qt27r_pq_recall" -> ((s, d) => {
      val e = T(s, d, "embeddings")
      val q = e.filter(col("vec_id") < 20)
      // the two m=4 points share the identical codebook training: build
      // ONE PqIndex (codes stay a lazy frame — no extra barrier) and
      // sweep rerank on the serve side (r16; deterministic oracle-mode
      // training ⇒ bit-identical rankings). m=8 trains its own.
      val idx4 = Similarity.pqIndex(e, m = 4, ksub = 16, lloydIters = 1,
        oracleMode = true)
      recallQuery(Similarity.bruteForceTopK(e, q, k = 5),
        Seq("query_id", "corpus_id"), ("m", "ksub", "rerank"),
        Seq(((4, 16, 0), Similarity.pqTopKIndexed(idx4, e, q, k = 5, rerank = 0)),
          ((4, 16, 25), Similarity.pqTopKIndexed(idx4, e, q, k = 5, rerank = 25)),
          ((8, 16, 25), Similarity.pqTopK(e, q, k = 5, m = 8, ksub = 16,
            lloydIters = 1, rerank = 25, oracleMode = true))))
    }),

    // Filtered vector search (the metadata-predicate + ANN combination
    // every vector store serves): the filter applies to the CORPUS SIDE
    // BEFORE ranking — pre-filtering keeps the top-k guarantee exact,
    // where post-filtering k results can return fewer than k survivors.
    // Exact baseline here (predicate → brute-force top-k; the filter
    // reaches the parquet scan); the index-served variant is the same
    // pre-filter applied to the IVFPQ code store (SimilaritySpec pins
    // that pattern's k-guarantee on the composed index).
    "qt37_filtered_ann" -> ((s, d) => {
      val e = T(s, d, "embeddings")
      val q = e.filter(col("vec_id") < 20)
      Similarity.bruteForceTopK(e.filter(col("label") === 3), q, k = 5)
        .withColumn("rnk", col("rnk").cast("long"))
    }),

    // Composed IVF+PQ (the Faiss-IVFPQ production shape): coarse cells
    // prune the ADC scan to nProbe/nlist of the code store. Recall vs the
    // exact baseline per (n_probe, rerank) operating point, hash-verified
    // against a DuckDB twin that composes the SAME ivf-assignment and
    // PQ-codebook CTE chains the qt10/qt27 oracles pin individually.
    "qt30_ivfpq_recall" -> ((s, d) => {
      val e = T(s, d, "embeddings")
      val q = e.filter(col("vec_id") < 20)
      // The three operating points share (nlist=16, m=4, ksub=16, Lloyd-1),
      // so ONE index serves all of them — build once, freeze the code store
      // (localCheckpoint = the in-JVM stand-in for the persisted parquet
      // index a cluster would serve from), sweep (nProbe, rerank) on the
      // serve side. Round 10: previously each variant rebuilt the identical
      // index, tripling the entry's cost for zero information.
      val idx = Similarity.ivfPqIndex(e, nlist = 16, m = 4, ksub = 16,
        lloydIters = 1, oracleMode = true)
      val frozen = Similarity.IvfPqIndex(idx.centroids,
        idx.pq.copy(codes = idx.pq.codes.localCheckpoint(true)))
      recallQuery(Similarity.bruteForceTopK(e, q, k = 5),
        Seq("query_id", "corpus_id"), ("n_probe", "nlist", "rerank"),
        Seq(((4, 16, 0), Similarity.ivfPqTopKIndexed(frozen, e, q, k = 5,
            nProbe = 4, rerank = 0)),
          ((4, 16, 25), Similarity.ivfPqTopKIndexed(frozen, e, q, k = 5,
            nProbe = 4, rerank = 25)),
          ((14, 16, 25), Similarity.ivfPqTopKIndexed(frozen, e, q, k = 5,
            nProbe = 14, rerank = 25))))
    }),

    // Embedding-cosine near-dup, exact all-pairs (quadratic baseline —
    // the oracle target; threshold 0.4 sits just under the fixture's max
    // pairwise cosine so the pair set is non-trivial at both SFs).
    "qt12_embed_neardup" -> ((s, d) =>
      Dedup.embeddingNearDupPairs(T(s, d, "embeddings"), "vec_id", "embedding",
        threshold = 0.4)),
    // The scale path: LSH-bucketed candidates + exact-cosine verify, recall
    // vs the exact pair set recorded per operating point: single-probe,
    // multi-probe on the same index, a fewer-tables+probes tradeoff, and
    // the PRODUCTION point (6 planes / 4 tables / 6 probes) — measured
    // recall 0.98 at both sf0.01 and sf0.1 on the near-random fixture (the
    // ANN-adversarial case), i.e. the setting a production dedup would
    // actually run. Recall is bought with coarser buckets (2^6 per table)
    // + probes, not more tables, so the corpus-side index cost stays at 4
    // tables — the cheap knob at 100 TB (see lshTopK's scaladoc).
    "qt12r_embed_neardup_recall" -> ((s, d) => {
      val e = T(s, d, "embeddings")
      // SAMPLED ground truth (round 10): exact pairs touching the vec_id %
      // 31 == 7 panel (~64 queries at sf0.1) — |panel|·N dots instead of
      // N²/2. The full exact baseline stays priced as qt12; the recall
      // estimate here is unbiased over the panel-touching pair subset and
      // the panel predicate is the oracle's too.
      val exact = Dedup.embeddingNearDupPairsSampled(e, "vec_id", "embedding",
        threshold = 0.4, mod = 31, res = 7)
      recallQuery(exact, Seq("id_a", "id_b"), ("planes", "tables", "probes"),
        Seq(((8, 4, 1), Dedup.embeddingNearDupPairsLsh(e, "vec_id", "embedding", 0.4,
            planes = 8, tables = 4, probes = 1)),
          ((8, 4, 4), Dedup.embeddingNearDupPairsLsh(e, "vec_id", "embedding", 0.4,
            planes = 8, tables = 4, probes = 4)),
          ((8, 2, 4), Dedup.embeddingNearDupPairsLsh(e, "vec_id", "embedding", 0.4,
            planes = 8, tables = 2, probes = 4)),
          ((6, 4, 6), Dedup.embeddingNearDupPairsLsh(e, "vec_id", "embedding", 0.4,
            planes = 6, tables = 4, probes = 6))))
    }),

    // The PRODUCTION-RULE near-dup entry: planes derived from the corpus
    // size (Dedup.lshPlanesForCorpus — ceil(log₂⌈N/8⌉) clamped to [6,24]),
    // so expected bucket occupancy stays ~8 at every decade instead of the
    // fixed-point candidate blowup the r13 100× sweep measured. Full pair
    // set with exact-cosine verify at qt12's threshold; the derived plane
    // count rides the output so the oracle value-checks the rule itself.
    "qt12p_embed_neardup_prod" -> ((s, d) => {
      val e = T(s, d, "embeddings")
      val pl = Dedup.lshPlanesForCorpus(e.count())
      Dedup.embeddingNearDupPairsLsh(e, "vec_id", "embedding", threshold = 0.4,
        planes = pl, tables = 4, probes = 2)
        .withColumn("planes", lit(pl))
    }),

    // qt12r's both-endpoints-panel twin (the qt26rs discipline): recall of
    // the qt12r grid PLUS the production-rule point, measured over
    // both-in-panel exact pairs. The LSH sides run on the panel-filtered
    // frame — legitimate, unlike semdedup, because sign-LSH buckets are
    // data-independent per vector (a pair's candidacy never depends on the
    // rest of the corpus; spec-gated in DedupSpec) — EXCEPT the production
    // point's plane count, which derives from the FULL corpus count: that
    // is what the rule is graded on. tau 0.2 per the qt26rs calibration
    // (no both-in-panel pair clears 0.4 at base scale).
    "qt12rs_embed_neardup_recall_panel" -> ((s, d) => {
      val e = T(s, d, "embeddings")
      val pl = Dedup.lshPlanesForCorpus(e.count())
      val panel = e.filter(pmod(col("vec_id"), lit(31)) === 7)
      val exact = Dedup.embeddingNearDupPairsPanel(e, "vec_id", "embedding",
        threshold = 0.2, mod = 31, res = 7)
      recallQuery(exact, Seq("id_a", "id_b"), ("planes", "tables", "probes"),
        Seq(((8, 4, 1), Dedup.embeddingNearDupPairsLsh(panel, "vec_id", "embedding", 0.2,
            planes = 8, tables = 4, probes = 1)),
          ((8, 4, 4), Dedup.embeddingNearDupPairsLsh(panel, "vec_id", "embedding", 0.2,
            planes = 8, tables = 4, probes = 4)),
          ((6, 4, 6), Dedup.embeddingNearDupPairsLsh(panel, "vec_id", "embedding", 0.2,
            planes = 6, tables = 4, probes = 6)),
          ((pl, 4, 2), Dedup.embeddingNearDupPairsLsh(panel, "vec_id", "embedding", 0.2,
            planes = pl, tables = 4, probes = 2))))
    }),

    // SemDeDup (Abbas et al. 2023): k-means cluster blocking + within-cell
    // cosine, drop the larger id of every within-cell duplicate pair. The
    // full survivor decision — Lloyd-1 centroids, home cells, pair
    // thresholding, keep rule — is hash-checked (the oracle re-derives the
    // centroids via the order-deterministic ivf machinery). tau matches
    // qt12's 0.4 so the fixture yields a non-trivial dup set; nlist=16
    // matches the IVF entries so the cell structure is the already-audited
    // one.
    "qt26_semdedup" -> ((s, d) =>
      Dedup.semDedup(T(s, d, "embeddings"), "vec_id", "embedding",
        nlist = 16, tau = 0.4, lloydIters = 1, oracleMode = true)
        .withColumn("cell", col("cell").cast("long"))),

    // SemDeDup's recall floor, recorded per round: the fraction of the
    // exact all-pairs dup set that cluster blocking still compares, per
    // nlist. Finer clustering (bigger nlist) cuts the Σ|cell|² join cost
    // but loses more boundary-straddling pairs — the tradeoff the paper
    // accepts, here hash-verified instead of assumed.
    "qt26r_semdedup_recall" -> ((s, d) => {
      val e = T(s, d, "embeddings")
      // sampled ground truth, same panel discipline as qt12r (see there)
      val exact = Dedup.embeddingNearDupPairsSampled(e, "vec_id", "embedding",
        threshold = 0.4, mod = 31, res = 7)
      recallQuery(exact, Seq("id_a", "id_b"), ("nlist", "lloyd_iters", "tau_pct"),
        Seq(((4, 1, 40), Dedup.semDedupPairsSampled(e, "vec_id", "embedding",
            nlist = 4, tau = 0.4, lloydIters = 1, oracleMode = true)),
          ((16, 1, 40), Dedup.semDedupPairsSampled(e, "vec_id", "embedding",
            nlist = 16, tau = 0.4, lloydIters = 1, oracleMode = true)),
          ((64, 1, 40), Dedup.semDedupPairsSampled(e, "vec_id", "embedding",
            nlist = 64, tau = 0.4, lloydIters = 1, oracleMode = true))))
    }),

    // qt26r's SCALED-ORACLE twin (the q50s both-endpoints-in-panel
    // discipline): the same recall grid with BOTH the exact baseline and
    // the semdedup pair sets restricted to both-endpoints-in-panel pairs.
    // qt26r's oracle pays |panel|·N for the baseline and Σ|cell|² per
    // operating point — capacity-bound at the 100× fixture (400s timeout
    // + standalone 900s/80GB retry, r13); both-endpoints cuts those to
    // |panel|²/2 and (|panel|/nlist)²·nlist, 961× cheaper at any decade.
    // Training and assignment still run on the FULL corpus (what is being
    // graded); tau drops to 0.2 because the near-random fixture has no
    // both-in-panel pair above 0.4 at base scale (6 pairs ≥ 0.2 at
    // sf0.01, 111 at sf0.1 — non-trivial at every fixture).
    "qt26rs_semdedup_recall_panel" -> ((s, d) => {
      val e = T(s, d, "embeddings")
      val exact = Dedup.embeddingNearDupPairsPanel(e, "vec_id", "embedding",
        threshold = 0.2, mod = 31, res = 7)
      recallQuery(exact, Seq("id_a", "id_b"), ("nlist", "lloyd_iters", "tau_pct"),
        Seq(((4, 1, 20), Dedup.semDedupPairsPanel(e, "vec_id", "embedding",
            nlist = 4, tau = 0.2, lloydIters = 1, oracleMode = true)),
          ((16, 1, 20), Dedup.semDedupPairsPanel(e, "vec_id", "embedding",
            nlist = 16, tau = 0.2, lloydIters = 1, oracleMode = true)),
          ((64, 1, 20), Dedup.semDedupPairsPanel(e, "vec_id", "embedding",
            nlist = 64, tau = 0.2, lloydIters = 1, oracleMode = true))))
    }),

    // Unicode normalization differential: the fixture text is ASCII, so the
    // query MANUFACTURES the two canonical-equivalence hazards from it —
    // composed accents (translate a→á …) and decomposed ones (e + U+0301) —
    // then hash-compares graft's java.text.Normalizer-backed expressions
    // against DuckDB's utf8proc (nfc_normalize / strip_accents): two
    // independent Unicode implementations agreeing on NFC and mark
    // stripping, per document.
    "qt13_normalize" -> ((s, d) => {
      val E = graft.functions.Expressions
      val accented = translate(col("text"), "aeiou", "áéíóú")
      val decomposed = regexp_replace(col("text"), "e", "e\u0301") // e + combining acute
      T(s, d, "documents").select(
        col("doc_id"),
        md5(E.normalizeText(decomposed, "NFC")).as("nfc_md5"),
        length(E.normalizeText(decomposed, "NFC")).cast("long").as("nfc_len"),
        length(decomposed).cast("long").as("raw_len"),
        md5(E.stripAccents(accented)).as("strip_md5"),
        (E.stripAccents(accented) === col("text")).as("strip_roundtrip"))
    }),

    // Gopher-style within-document repetition signals. The fixture has no
    // line structure, so both engines first materialize 2-word lines
    // (regexp: every non-overlapping "w1 w2 " → "w1 w2\n") — short lines
    // from a ~31-word vocabulary so SOME docs genuinely repeat a line, while
    // top_bigram_frac is dense everywhere.
    "qt14_repetition" -> ((s, d) =>
      graft.operators.Repetition.repetitionSignals(
        T(s, d, "documents").withColumn("text",
          regexp_replace(col("text"), "(\\S+ \\S+) ", "$1\n")),
        "doc_id", "text")),

    // Benchmark decontamination: docs 17|doc_id play the eval suite, the
    // rest the training corpus; report every corpus doc carrying ≥5% of a
    // benchmark item's 3-gram shingles (the fixture's two planted
    // contaminated docs surface at containment ≈ 1).
    "qt15_contamination" -> ((s, d) => {
      val docs = T(s, d, "documents")
      Dedup.ngramContainmentPairs(
        docs.filter(col("doc_id") % 17 =!= 0),
        docs.filter(col("doc_id") % 17 === 0),
        "doc_id", "text", n = 3, threshold = 0.05)
    }),

    // Pairs → decisions: connected components over the qt05 near-dup pair
    // graph, each doc labeled with its cluster's min id and whether it is
    // the canonical keeper. The oracle walks the same graph with a
    // recursive CTE — an independent transitive closure validating the
    // iterative min-label propagation.
    "qt18_dedup_clusters" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val pairs = Dedup.ngramJaccardPairsIndexed(docs, "doc_id", "text",
        n = 3, threshold = 0.15, blockCols = Seq("lang"))
      Dedup.nearDupClusters(docs, "doc_id", pairs)
    }),

    // Same cluster graph, production keeper rule: keep the LONGEST copy
    // per near-dup cluster (token count, id-ascending tiebreak) instead of
    // the min id — the decision real curation makes when one scrape of a
    // page is complete and the others truncated. Integer score keeps the
    // argmax oracle-exact.
    "qt38_keep_best" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val pairs = Dedup.ngramJaccardPairsIndexed(docs, "doc_id", "text",
        n = 3, threshold = 0.15, blockCols = Seq("lang"))
      Dedup.keepBestInCluster(docs, "doc_id", pairs,
        TextFns.tokenCount(col("text")).cast("long"))
    }),

    // Line-level boilerplate removal (CCNet paragraph-dedup shape): the
    // fixture has no newlines, so both engines append the same synthetic
    // chrome to every document — a universal footer (df = all docs), a
    // 7-way rotating copyright line (df ≈ n/7), and a unique ref line —
    // then must agree on the surviving text byte-for-byte after dropping
    // lines shared by > 30 docs. Same differential pattern as qt17.
    "qt39_line_dedup" -> ((s, d) => {
      val lined = T(s, d, "documents").select(col("doc_id"),
        concat_ws("\n", col("text"),
          lit("Subscribe to our newsletter"),
          concat(lit("copyright footer "), pmod(col("doc_id"), lit(7L))),
          concat(lit("ref "), col("doc_id"))).as("text"))
      Dedup.dedupLines(lined, "doc_id", "text", maxDocFreq = 30L)
    }),

    // CCNet-style LM quality signal: average bigram negative log-likelihood
    // under an add-one LM trained on the corpus itself. The oracle re-runs
    // the whole train+score in SQL; the per-doc float sum is
    // position-ordered on both sides (sorted fold vs list ORDER BY) so the
    // only engine divergence is sub-round ulp noise in ln.
    "qt40_lm_score" -> ((s, d) =>
      graft.operators.LmScore.bigramNll(T(s, d, "documents"), "doc_id", "text")),

    // The SCALED-ORACLE twin of qt40 (qt46s discipline): the identical
    // train+score chain over the deterministic doc_id % 31 slice — model,
    // scores, and unscored zero-bigram rows all scoped to the slice, so
    // it is semantics-complete on its own corpus. qt40's one-statement
    // oracle re-derives the full corpus bigram model and OOMs DuckDB at
    // the 100× fixture (measured r13, incl. a standalone 900s/80GB
    // retry); the 1/31 slice keeps the oracle's bigram volume ~3× BASE
    // scale even at 100× while still exercising the scaled fixture's
    // re-keyed id domain — the per-doc NLL VALUES stay checked at every
    // decade where qt40 itself must skip.
    "qt40s_lm_score_sampled" -> ((s, d) =>
      graft.operators.LmScore.bigramNll(
        T(s, d, "documents").filter(col("doc_id") % 31 === 0),
        "doc_id", "text")),

    // Retrieval-side chunking: overlapping 32-token windows advancing 24
    // (8-token overlap), the embedding-index prep shape. Map-only explode;
    // the oracle replays the start grid + 1-based clamped list slice.
    "qt41_chunk" -> ((s, d) =>
      graft.operators.Pack.chunkTokens(T(s, d, "documents"), "doc_id", "text",
        window = 32, stride = 24)),

    // Training-shard manifest: deterministic md5-fraction shard assignment
    // (16 shards), per-shard row/token totals and a bit_xor membership
    // fingerprint. The oracle re-derives assignment, totals, AND
    // fingerprint independently — a wrong shard for any single doc flips
    // two shards' fps.
    "qt42_shard_manifest" -> ((s, d) => {
      val docs = T(s, d, "documents")
      graft.operators.Shards.manifest(docs, "doc_id",
        TextFns.tokenCount(col("text")), nShards = 16, seed = "r8")
    }),

    // Blocklist ratio gate: banned-token hit ratio per document (broadcast
    // join formulation); the oracle recomputes it as an IN-list filter —
    // two independent formulations of the same semantics. 'slow' exists in
    // the fixture vocabulary; the other terms test the zero-hit path.
    "qt43_blocklist" -> ((s, d) => {
      val terms = s.createDataFrame(
        Seq(Tuple1("slow"), Tuple1("legacy"), Tuple1("deprecated"))
      ).toDF("term")
      graft.operators.Blocklist.termHits(T(s, d, "documents"),
        "doc_id", "text", terms, maxRatio = 0.02)
    }),

    // PMI collocations: top-20 bigrams by pointwise mutual information
    // (min count 5, positional marginals, rounded-pmi ranking). The
    // oracle re-derives joint + marginal counts and the all-double PMI.
    "qt44_collocations" -> ((s, d) =>
      graft.operators.Vocab.collocations(T(s, d, "documents"), "text",
        minCount = 5L, topK = 20)),

    // Unicode script profile: the fixture is pure ASCII, so both engines
    // append the same Cyrillic / Han snippets by doc_id residue (qt17's
    // differential pattern) and must agree on per-script counts, ratios,
    // and the dominant-script call. BMP-only injections keep Java UTF-16
    // counts == DuckDB codepoint counts.
    "qt45_script_profile" -> ((s, d) => {
      val base = T(s, d, "documents")
      val t = when(pmod(col("doc_id"), lit(3)) === 0,
          concat(col("text"), lit(" привет мир")))
        .when(pmod(col("doc_id"), lit(3)) === 1,
          concat(col("text"), lit(" 你好世界")))
        .otherwise(col("text"))
      val d2 = base.select(col("doc_id"), t.as("text"))
      val nLatin = TextFns.scriptCount(col("text"), "Latin")
      val nCyr = TextFns.scriptCount(col("text"), "Cyrillic")
      val nHan = TextFns.scriptCount(col("text"), "Han")
      val nChars = TextFns.charCount(col("text"))
      d2.select(col("doc_id"), nChars.as("n_chars"),
        nLatin.as("n_latin"), nCyr.as("n_cyrillic"), nHan.as("n_han"),
        round(nLatin.cast("double") / nChars, 6).as("latin_ratio"),
        when(nLatin >= nCyr && nLatin >= nHan, "latin")
          .when(nCyr >= nHan, "cyrillic").otherwise("han").as("dominant"))
    }),

    // CCNet head/middle/tail over the qt40 LM score: rank-tertile split
    // (nll asc, id tiebreak — exact integer bucketing, no float threshold
    // boundary for engines to disagree on), per-bucket size and nll range.
    "qt46_lm_buckets" -> ((s, d) =>
      graft.operators.LmScore.nllBuckets(
        graft.operators.LmScore.bigramNll(T(s, d, "documents"), "doc_id", "text"),
        "doc_id", nBuckets = 3)),

    // The 100 TB bucketing path, driver-visible (qt46 above reports via a
    // global ntile window): per-doc bucket assignment from sketch
    // thresholds (one combinable approx-percentile aggregate, map-side
    // compare — no window at all). Exact while sketch accuracy ≥ N —
    // pinned at 2^20 here so the quantile_disc oracle stays row-exact
    // through the synthesized 10×/100× scale decades too (sketch memory
    // is O(accuracy) on one aggregate, ~8 MB: free insurance).
    "qt46a_lm_buckets_approx" -> ((s, d) =>
      graft.operators.LmScore.bucketByApproxNll(
        graft.operators.LmScore.bigramNll(T(s, d, "documents"), "doc_id", "text"),
        nBuckets = 3, accuracy = 1 << 20)
        .select(col("doc_id"), col("n_bigrams"), col("nll"), col("bucket"))),

    // The SCALED-ORACLE twin of qt46a: the identical chain over the
    // deterministic doc_id % 31 slice. qt46a's DuckDB twin re-derives the
    // corpus bigram-NLL model inside one query and exhausts a ~105 GB
    // budget at the 100× fixture (500 k docs) — a capacity skip, leaving
    // the family value-unchecked at that decade. The 1/31 slice keeps the
    // oracle's model derivation ~3× BASE scale even at 100× (oracle-
    // feasible by construction) while still exercising the scaled
    // fixture's re-keyed id domain and per-copy text structure. The slice
    // is semantics-complete (its own model, cuts, and null-bucket rows) —
    // a sampled twin in the qt12r residue-class-panel tradition, kept
    // green at EVERY decade where qt46a itself must skip.
    "qt46s_lm_buckets_sampled" -> ((s, d) =>
      graft.operators.LmScore.bucketByApproxNll(
        graft.operators.LmScore.bigramNll(
          T(s, d, "documents").filter(col("doc_id") % 31 === 0), "doc_id", "text"),
        nBuckets = 3, accuracy = 1 << 20)
        .select(col("doc_id"), col("n_bigrams"), col("nll"), col("bucket"))),

    // DSIR importance resampling (Xie et al. 2023): hashed-unigram bucket
    // model (1024 buckets), target = the English slice, raw = the whole
    // corpus; Laplace-smoothed log-ratio weight per document, top-25% rank
    // cut. The oracle re-derives the bucket model, the smoothed ratios,
    // and the bucket-ordered fold over the same fnv1a64 in pure SQL.
    "qt47_dsir" -> ((s, d) => {
      val w = graft.operators.Dsir.importanceWeights(
        T(s, d, "documents"), col("lang") === "en", "doc_id", "text",
        buckets = 1024)
      graft.operators.Dsir.selectTopFraction(w, 0.25, "doc_id")
        .select(col("doc_id"), col("weight"), col("rnk"), col("selected"))
    }),

    // The 100 TB DSIR selection path, driver-visible (qt47 above runs the
    // exact global-rank cut — a single-partition window a full-width
    // corpus must not pay): threshold from the quantile sketch (ONE
    // combinable aggregate) + a map-side compare. The sketch is exact
    // while accuracy ≥ N — pinned at 2^20 here so the cut IS the (1−frac)
    // order statistic and the quantile_disc oracle pins the whole
    // selection through the synthesized 10×/100× decades (at the default
    // 10⁴ accuracy, 10× scale flips 5 of 50 000 boundary-tie rows — the
    // rank-ε band the sketch contract promises); at true corpus scale the
    // identical code path trades only boundary-tie precision (DsirSpec
    // pins the containment invariant).
    "qt47t_dsir_threshold" -> ((s, d) => {
      val w = graft.operators.Dsir.importanceWeights(
        T(s, d, "documents"), col("lang") === "en", "doc_id", "text",
        buckets = 1024).localCheckpoint()
      val thr = graft.operators.Dsir.thresholdForFraction(w, 0.25,
        accuracy = 1 << 20)
      graft.operators.Dsir.selectAboveThreshold(w, thr)
        .select(col("doc_id"), col("weight"), col("selected"))
    }),

    // Composed retrieval pipeline (the RAG serving chain end-to-end under
    // ONE oracle): token-window chunking → deterministic hash-embeddings
    // (Similarity.hashEmbedding — the encoder stand-in; production swaps
    // in a real model column, downstream is indifferent) → dense cosine
    // AND sparse BM25 over the SAME chunk store → RRF fusion, chunk keys
    // mapped back to (doc, chunk). Every stage reuses an already-oracled
    // operator; the oracle replays the whole chain in one statement.
    "qr01_retrieval" -> ((s, d) => retrievalChain(s, d, capped = false)),

    // The capped twin (qt28c's maxDf = ⌊0.5·N⌋ stopword prune applied to
    // the COMPOSED chain, not just the isolated BM25 entry): candidate
    // generation on the sparse leg is bounded by the rare terms' posting
    // lists — the knob a 100 TB RAG serve turns. The dense leg and RRF
    // fusion are untouched; the oracle applies the identical cap.
    "qr01c_retrieval_capped" -> ((s, d) => retrievalChain(s, d, capped = true)),

    // The SERVE-ONLY twin: the same panel answered from the PERSISTED
    // index artifacts (chunk table + saveBm25Index + embedding table,
    // built once per corpus in the untimed warmup) — build cost is
    // qr01's to price, this entry prices the production serve path.
    // Rankings are bit-identical to qr01 (see ragIndexDir), so the
    // oracle SQL is qr01's verbatim.
    "qr02_retrieval_serve" -> ((s, d) => retrievalServe(s, d)),

    // qr02's chain served through the BATCHED TEXT-ENCODER seam: chunk
    // embeddings built via Similarity.encodeTextRows(HashTextEncoder) at
    // index-build time, the query panel via encodeText at serve time —
    // every vector crosses the production encodeBatch boundary (the
    // mapPartitions batch seam a real model server plugs into).
    // HashTextEncoder delegates to the same scalar kernel as the native
    // column path, so rankings are bit-identical and the entry shares
    // qr01's oracle verbatim — the driver now value-checks the seam, not
    // just SimilaritySpec.
    "qr03_retrieval_encoded" -> ((s, d) => retrievalServe(s, d, encoded = true)),

    // Heavy hitters via Misra–Gries candidates + verification counts: the
    // MG summary (bounded O(k) buffer per group, any vocabulary size)
    // guarantees every term with f > n/k survives; counting ONLY the
    // candidates and filtering on the exact threshold restores exactness
    // — so the output is deterministic and the oracle needs no MG at all
    // (if the sketch ever lost a true hitter, the row sets would differ).
    "qt50_heavy_hitters" -> ((s, d) => {
      val k = 32
      val tok = T(s, d, "documents").select(col("lang"),
        explode(graft.functions.Expressions.ngrams(col("text"), 1)).as("term"))
      val cand = tok.groupBy(col("lang"))
        .agg(graft.functions.Aggregators.heavyHitters(k)(col("term")).as("summary"))
        .select(col("lang"), explode(map_keys(col("summary"))).as("term"))
      val totals = tok.groupBy(col("lang")).agg(count(lit(1)).as("n_tokens"))
      tok.join(broadcast(cand), Seq("lang", "term"))
        .groupBy(col("lang"), col("term")).agg(count(lit(1)).as("n"))
        .join(broadcast(totals), "lang")
        .filter(col("n") * k > col("n_tokens"))
        .select(col("lang"), col("term"), col("n"), col("n_tokens"))
    }),

    // Character-entropy + type-token-ratio quality signals (the exact
    // information-theoretic cousins of qt49's zlib proxy — value-level
    // cross-engine oracle-able where qt49 is invariant-oracled): Shannon
    // entropy over the per-doc
    // character distribution (probabilities from integer counts, the
    // contribution fold ordered by character) and distinct/total token
    // ratio. Low entropy or low TTR = repetitive/templated text.
    "qt51_entropy" -> ((s, d) => entropyProfile(T(s, d, "documents"))),

    // The SCALED-ORACLE twin of qt51 (qt46s discipline). The entropy/TTR
    // values are doc-LOCAL (no corpus model), so the slice twin is simply
    // the same chain over the doc_id % 7 slice — but the oracle premium
    // is not: qt51's SQL explodes text to characters (~1e9 rows at the
    // 100× fixture; DuckDB OOM incl. a standalone 900s/80GB retry, r13),
    // while the slice keeps the exploded volume ~14% of the corpus at
    // every decade (widened from %31's 3.2% in r15 so the 100× evidence
    // covers ≥10% of the docs; the oracle's explode stays ~1/7 of the
    // full-corpus volume that OOMed).
    "qt51s_entropy_sampled" -> ((s, d) =>
      entropyProfile(T(s, d, "documents").filter(col("doc_id") % 7 === 0))),

    // Compressibility quality signal (Rae et al. 2021's repetition rule).
    // The raw DEFLATE length/ratio is JVM-zlib-specific, so the oracle is
    // an INVARIANT differential: the entry computes per-doc booleans from
    // the real zlib output, DuckDB predicts them from text length alone —
    //   len_within_bound: deflate_len ≤ zlib's documented deflateBound
    //     (n + n>>12 + n>>14 + n>>25 + 13 — holds for ANY input byte
    //     stream at any size, including documents ≥ 32 MB where the
    //     n>>25 term starts contributing);
    //   ratio_positive + empty_guard: ratio ∈ (0,∞), exactly 1.0 on empty
    //     text (the guard);
    //   dup_no_worse: deflate(text‖text) ≤ 2·deflate(text) + 16 (the
    //     doubled text never costs more than twice);
    //   dup_second_copy_cheap: within the 32 KB LZ77 window the second
    //     copy costs only match tokens — ≤ n/64 + 64 bytes (258-byte
    //     max-match ⇒ ~n/86 of encoding, bounded with slack), i.e.
    //     repetition ⇒ compression, the rule's premise.
    // A zlib regression flipping any row breaks the hash. The raw
    // per-doc ratio + repetitive flag remain the production surface
    // (TextFns.compressionRatio, TextFnsSpec-verified).
    "qt49_compress" -> ((s, d) => {
      val n = octet_length(col("text")).cast("long")
      val dl = graft.functions.Expressions.deflateLen(col("text"), 6)
      val dl2 = graft.functions.Expressions.deflateLen(
        concat(col("text"), col("text")), 6)
      T(s, d, "documents").select(col("doc_id"), n.as("n_bytes"),
          dl.as("__dl"), dl2.as("__dl2"),
          TextFns.compressionRatio(col("text")).as("__ratio"))
        .select(col("doc_id"), col("n_bytes"),
          (col("__dl") > 0).as("len_positive"),
          (col("__dl") <= col("n_bytes") + shiftright(col("n_bytes"), 12) +
            shiftright(col("n_bytes"), 14) + shiftright(col("n_bytes"), 25) +
            13).as("len_within_bound"),
          (col("__ratio") > 0.0).as("ratio_positive"),
          (col("n_bytes") > 0 || col("__ratio") === 1.0).as("empty_guard"),
          (col("__dl2") <= col("__dl") * 2 + 16).as("dup_no_worse"),
          when(col("n_bytes").between(1, 30000),
            col("__dl2") <= col("__dl") + col("n_bytes") / 64 + 64)
            .as("dup_second_copy_cheap"))
    }),

    // Contrastive pair mining (DPR-style): per query vector, top-3
    // same-label positives and top-5 cross-label hard negatives by exact
    // cosine. The oracle re-scores the labeled product and applies the
    // identical per-(query, role) window.
    "qt48_contrastive" -> ((s, d) => {
      val emb = T(s, d, "embeddings")
      graft.operators.Similarity.contrastivePairs(
        emb, emb.filter(col("vec_id") < 10), kPos = 3, kNeg = 5)
        .withColumn("rnk", col("rnk").cast("long"))
    }),

    // Sequence packing (concat-and-chunk): documents → fixed-128-token
    // training sequences across 8 hash shards; the oracle re-derives the
    // whole assignment (shard hash, running totals, boundary splits) in
    // windowed SQL. Budget and shard count are powers of two so every
    // division in the assignment is exact in both engines.
    "qt16_pack" -> ((s, d) => {
      // tokenCount fenced: packSequences filters n_tokens > 0 and the
      // pushdown would re-nest the kernel into the predicate (lint find);
      // the fence lives at the CALLER because the operator-level form
      // measured as a qc02 regression (see packSequences' comment)
      val docs = T(s, d, "documents")
        .select(col("doc_id"), graft.functions.Expressions.barrier(
          TextFns.tokenCount(col("text")).cast("long")).as("n_tokens"))
      graft.operators.Pack.packSequences(docs, "doc_id", "n_tokens",
        budget = 128L, shards = 8)
    }),

    // PII scrub differential: the fixture has no PII, so both engines embed
    // the same synthetic email/IP/phone into each document, then must agree
    // byte-for-byte on the redacted text (same RE2-safe patterns, Java
    // regex vs RE2).
    "qt17_scrub" -> ((s, d) => {
      val pii = concat(substring(col("text"), 1, 40),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com from 192.168."), (col("doc_id") % 256).cast("string"),
        lit(".42 or call +34 600 123 4"),
        lpad((col("doc_id") % 100).cast("string"), 2, "0"))
      T(s, d, "documents").select(
        col("doc_id"), TextFns.scrubPii(pii).as("scrubbed"))
    }),

    // Corpus mixture: 1.5 epochs of the en slice + 0.4 of es — one full en
    // copy, a hash-sampled half second epoch, and a hash-sampled 40% of
    // es; the oracle re-derives every epoch membership from the same md5
    // fractions.
    "qt19_mixture" -> ((s, d) => {
      val docs = T(s, d, "documents")
      graft.operators.Mixture.mixCorpora(Seq(
        ("en", docs.filter(col("lang") === "en").select("doc_id"), 1.5),
        ("es", docs.filter(col("lang") === "es").select("doc_id"), 0.4)),
        key = col("doc_id"))
    }),

    // Per-source quota (C4/RefinedWeb-style domain balancing): top-50
    // docs per source by length, skew-safe two-phase path (preBuckets=8:
    // rank within (source, hash-bucket) first, bounding the final window
    // to 8·quota rows per source) — output-identical to the plain window,
    // which is exactly what the one-window SQL oracle runs.
    "qt31_source_quota" -> ((s, d) =>
      graft.operators.Mixture.sourceQuota(T(s, d, "documents"),
          "source", "doc_id", quota = 50, rankBy = col("n_chars"), preBuckets = 8)
        .select(col("doc_id"), col("source"), col("n_chars"))),

    // BPE merge learning (Sennrich et al. 2016): 6 most-frequent-pair
    // merges from the character alphabet over the corpus word-frequency
    // table — the merge table a BPE tokenizer ships, hash-checked against
    // a DuckDB twin replaying every round.
    "qt35_bpe_merges" -> ((s, d) =>
      graft.operators.Vocab.bpeMerges(T(s, d, "documents"), "text", nMerges = 6)),

    // The encode half: train the 6 merges, apply them per document (map
    // pass + one combinable count) — per-doc BPE vs whitespace token
    // counts, the numbers sequence packing would budget by.
    "qt36_bpe_encode" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val merges = graft.operators.Vocab.bpeMerges(docs, "text", nMerges = 6)
        .orderBy(col("step")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.operators.Vocab.bpeEncode(docs, "doc_id", "text", merges)
    }),

    // Corpus audit report: per-(source, lang) docs/tokens/mean-quality/
    // exact median length — the shipped-corpus accounting table every
    // curation run materializes.
    "qt32_corpus_report" -> ((s, d) =>
      graft.operators.Report.corpusReport(T(s, d, "documents"),
        "source", "lang", "text")),

    // Rank-based global quality cut: keep the best 60% per language —
    // the per-block fraction a fixed threshold can't express when score
    // distributions differ by block. Exact ceil(frac·n) survivors.
    "qt33_top_fraction" -> ((s, d) => {
      val docs = T(s, d, "documents").select(col("doc_id"), col("lang"),
        TextFns.qualityScore(col("text")).as("quality"))
      graft.operators.Report.topFractionBy(docs, Seq("lang"), "doc_id",
          fraction = 0.6, rankBy = col("quality"))
        .select(col("doc_id"), col("lang"), round(col("quality"), 6).as("quality"))
    }),

    // Corpus vocabulary: top-10 token bigrams per language block — the
    // word-count-shaped reduction behind tokenizer training and corpus
    // reports; deterministic (count desc, gram asc) tiebreak.
    "qt20_vocab" -> ((s, d) =>
      graft.operators.Vocab.topNgrams(T(s, d, "documents"), "text",
        n = 2, k = 10, blockCols = Seq("lang"))),

    // BM25 ranked retrieval (query-by-document: the first 10 docs play the
    // queries): inverted-index equi-join scoring, ordered-fold score sum,
    // the whole ranking hash-checked against DuckDB.
    "qt28_bm25" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val q = docs.filter(col("doc_id") < 10)
        .select(col("doc_id").as("query_id"), col("text").as("qtext"))
      graft.operators.Retrieval.bm25TopK(docs, q, k = 10)
    }),

    // Hybrid retrieval: RRF fusion of the BM25 ranking (documents) and
    // the dense cosine ranking (embeddings; ids 0..n align with doc ids)
    // for the same 10 queries — rank-based, so the two systems'
    // incomparable score scales need no calibration.
    "qt34_hybrid_rrf" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val emb = T(s, d, "embeddings")
      val sparse = graft.operators.Retrieval.bm25TopK(docs,
        docs.filter(col("doc_id") < 10)
          .select(col("doc_id").as("query_id"), col("text").as("qtext")), k = 10)
      val dense = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), k = 10)
        .select(col("query_id"), col("corpus_id").as("doc_id"), col("rnk"))
      graft.operators.Retrieval.rrfFuse(sparse, dense, k = 10)
    }),

    // The hot-term-pruned twin (qt05c precedent): maxDf = 0.5·N — the
    // stopword definition — drops every query term in more than half the
    // corpus BEFORE the postings join. On this fixture the cut is extreme
    // and the point: 30 of the 31 vocabulary terms are stopwords by that
    // test, so candidate generation collapses from ~88k posting rows to
    // the rare terms' lists (25 rows at sf0.01) and only queries carrying
    // a rare term rank anything. The capped ranking is hash-checked
    // against a DuckDB twin applying the identical cap.
    "qt28c_bm25_capped" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val q = docs.filter(col("doc_id") < 10)
        .select(col("doc_id").as("query_id"), col("text").as("qtext"))
      graft.operators.Retrieval.bm25TopK(docs, q, k = 10,
        maxDf = Some(scala.math.floor(0.5 * docs.count()).max(1)))
    }),

    // Incremental dedup: docs < 250 play the already-ingested corpus
    // (fingerprint index only); the delta is the remaining docs plus 100
    // re-submitted copies of corpus docs under new ids. The re-submissions
    // and any within-delta duplicates must vanish.
    "qt21_dedup_delta" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val corpusFps = docs.filter(col("doc_id") < 250)
        .select(TextFns.fingerprint(col("text")).as("fp")).distinct()
      val delta = docs.filter(col("doc_id") >= 250)
        .unionByName(docs.filter(col("doc_id") < 100)
          .withColumn("doc_id", col("doc_id") + 10000))
      Dedup.dedupDelta(delta, corpusFps, "text", "doc_id").select("doc_id", "lang")
    }),

    // Incremental NEAR-dup (the qt21 treatment for the near-dup family):
    // every 25th doc plays the day's arrival batch, joined by re-submitted
    // copies of the %25==1 docs under new ids; everything else is the
    // already-deduped corpus. Pair generation is delta×corpus ∪ delta×delta
    // only, prefix-filtered under a rarest-first order FROZEN from the
    // corpus posting index — the oracle is the full re-dedup of corpus ∪
    // delta restricted to pairs touching the delta, which exactness makes
    // identical. Round 10 inverted the split (was corpus=250, delta=rest):
    // a delta LARGER than the corpus re-priced full re-dedup, not the
    // incremental operation — the production shape is a small arrival
    // batch (~8% here) against a corpus that grows with SF, and that is
    // what the delta×corpus candidate volume now reflects.
    "qt24_neardup_delta" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val corpus = docs.filter(col("doc_id") % 25 =!= 0).select("doc_id", "text")
      // the synthetic re-arrival twin carries NEGATIVE ids (-(id+1)):
      // collision-free with, and distinguishable from, any real id at any
      // scale — the previous +100000 shift collided with the 10×/100×
      // scale fixtures' 2^40-offset ids, where the oracle's ">= 100000"
      // delta-membership test misclassified every scaled copy
      val delta = docs.filter(col("doc_id") % 25 === 0).select("doc_id", "text")
        .unionByName(docs.filter(col("doc_id") % 25 === 1)
          .select((-(col("doc_id") + 1)).as("doc_id"), col("text")))
      Dedup.nearDupDelta(corpus, delta, "doc_id", "text", n = 3, threshold = 0.7)
    }),

    // Duplicate SPANS — substring-granular exact dedup (the signal document-
    // level Jaccard/MinHash can't see): every duplicated 8-token window
    // across documents, via the one-pass window-hash map + two combinable
    // aggregates + one hash equi-join. Identity is the 64-bit window hash;
    // the oracle groups by the window STRING, so the entry also certifies
    // collision-freedom on the fixture.
    "qt29_dup_spans" -> ((s, d) =>
      Dedup.duplicateSpans(T(s, d, "documents"), "doc_id", "text", w = 8)),

    // Per-doc duplication profile: interval-merged coverage of the spans
    // above — the "drop docs > x% boilerplate" curation signal.
    "qt29s_dup_span_stats" -> ((s, d) =>
      Dedup.dupSpanStats(T(s, d, "documents"), "doc_id", "text", w = 8)),

    // Multimodal plumbing over deterministic synthetic assets (no fixture
    // table exists for binary payloads). The generator's size/modality/
    // duration contract is pure arithmetic, so BOTH queries carry a DuckDB
    // oracle re-deriving it from range() — the audit aggregate and the
    // frame generator are hash-checked; only the opaque payload bytes
    // themselves stay ScalaTest-verified (MultimodalSpec).
    "qm01_payload_stats" -> ((s, _) =>
      graft.multimodal.Multimodal.payloadStats(
        graft.multimodal.Multimodal.syntheticAssets(s, 600))
        .withColumn("min_bytes", col("min_bytes").cast("long"))
        .withColumn("max_bytes", col("max_bytes").cast("long"))),
    "qm02_frame_sample" -> ((s, _) =>
      graft.multimodal.Multimodal.sampleFrames(
        graft.multimodal.Multimodal.syntheticAssets(s, 600), everyMs = 10000)),

    // Mixed-format image-column decode audit: 1/3 real binary netpbm, 1/3
    // real JPEG (encoded AND decoded by the JDK's javax.imageio — a real
    // lossy codec, not the stub), 1/3 corrupt blobs. The audit reports
    // which codec accepted each payload plus the DECODED dims/channels —
    // all pure functions of the asset id, so the oracle re-derives the
    // full frame without touching payload bytes (which stay
    // ScalaTest-verified down to pixel values in MultimodalSpec).
    "qm03_image_audit" -> ((s, _) =>
      graft.multimodal.Multimodal.imageAudit(
        graft.multimodal.Multimodal.syntheticImageAssets(s, 600))),

    // Mixed image+AUDIO column audit (qm03 extended across modalities):
    // real netpbm + JPEG images, real 16-bit PCM WAV, real 8-bit unsigned
    // PCM WAV (decoded through javax.sound.sampled's format converter),
    // and corrupt blobs in both modalities. Codec identity and the decoded
    // dims/rate/channels/frames/duration are all pure functions of the
    // asset id — the oracle re-derives the full frame; sample values stay
    // ScalaTest-verified (MultimodalSpec).
    "qm04_multimodal_audit" -> ((s, _) =>
      graft.multimodal.Multimodal.multimodalAudit(
        graft.multimodal.Multimodal.syntheticMixedAssets(s, 600))))

  // \s+ split matches TextFns.tokens (tabs/newlines are separators too)
  private val tokensSql = "list_filter(regexp_split_to_array(text, '\\s+'), t -> t != '')"

  /** qt47/qt47t's shared weight derivation: the hashed-unigram bucket
    * model, Laplace-smoothed log ratios, and the bucket-ordered per-doc
    * fold — everything up to the `allw` (doc_id, weight) frame.
    */
  private def dsirWeightCtes: String =
    s"""WITH tok AS MATERIALIZED (SELECT doc_id, lang = 'en' AS tgt,
       |   (${HashSql.fnv("t.term")} % 1024::UBIGINT)::BIGINT AS bucket
       |  FROM (SELECT doc_id, lang, $tokensSql AS ts FROM documents), unnest(ts) AS t(term)),
       | cb AS MATERIALIZED (SELECT bucket, count(*)::BIGINT AS cr,
       |   sum(CASE WHEN tgt THEN 1 ELSE 0 END)::BIGINT AS ct FROM tok GROUP BY 1),
       | tot AS (SELECT sum(cr)::BIGINT AS nr, sum(ct)::BIGINT AS nt FROM cb),
       | ratio AS (SELECT bucket,
       |   ln(((ct + 1.0) * (nr + 1024.0)) / ((cr + 1.0) * (nt + 1024.0))) AS lr
       |  FROM cb CROSS JOIN tot),
       | pb AS (SELECT doc_id, bucket, count(*)::BIGINT AS n FROM tok GROUP BY 1, 2),
       | wts AS (SELECT doc_id, round(list_sum(list(n::DOUBLE * lr ORDER BY bucket)), 6) AS weight
       |  FROM pb JOIN ratio USING (bucket) GROUP BY doc_id),
       | allw AS (SELECT d.doc_id, coalesce(w.weight, 0.0) AS weight
       |  FROM documents d LEFT JOIN wts w USING (doc_id))""".stripMargin

  /** qt51/qt51s's shared DuckDB twin, `src` a FROM-clause subquery string
    * (the bigramNllCtes generalization pattern). */
  private def entropySql(src: String): String =
    s"""WITH ch AS (SELECT doc_id, c
       |  FROM (SELECT doc_id, regexp_split_to_array(text, '') AS cs FROM $src sdocs),
       |    unnest(cs) AS t(c) WHERE c != ''),
       | cc AS (SELECT doc_id, c, count(*)::BIGINT AS n FROM ch GROUP BY 1, 2),
       | tt AS (SELECT doc_id, sum(n)::BIGINT AS nc FROM cc GROUP BY 1),
       | ent AS (SELECT doc_id,
       |   round(-list_sum(list((n::DOUBLE / nc) * ln(n::DOUBLE / nc) ORDER BY c)), 6) AS char_entropy
       |  FROM cc JOIN tt USING (doc_id) GROUP BY doc_id),
       | tk AS (SELECT doc_id, len(ts)::BIGINT AS n_tokens,
       |   len(list_distinct(ts))::BIGINT AS n_types
       |  FROM (SELECT doc_id, $tokensSql AS ts FROM $src sdocs2))
       |SELECT d.doc_id, coalesce(t2.nc, 0)::BIGINT AS n_chars,
       | coalesce(e.char_entropy, 0.0) AS char_entropy,
       | tk.n_tokens, tk.n_types,
       | CASE WHEN tk.n_tokens > 0 THEN round(tk.n_types::DOUBLE / tk.n_tokens, 6) END AS ttr
       |FROM $src d LEFT JOIN ent e USING (doc_id)
       | LEFT JOIN tt t2 USING (doc_id) JOIN tk ON tk.doc_id = d.doc_id""".stripMargin

  /** qt51/qt51s's shared chain: Shannon entropy over the per-doc character
    * distribution (probabilities from integer counts, contribution fold
    * ordered by character) plus distinct/total token ratio. Doc-local —
    * the frame passed in defines the corpus, so the slice twin is exactly
    * this over a filtered frame.
    */
  private def entropyProfile(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val cc = docs.select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .filter(col("ch") =!= "")
      .groupBy(col("doc_id"), col("ch")).agg(count(lit(1)).as("n"))
    val tot = cc.groupBy(col("doc_id")).agg(sum(col("n")).as("nc"))
    val p = col("n").cast("double") / col("nc")
    val ent = cc.join(tot, "doc_id")
      .select(col("doc_id"), col("nc"), col("ch"), (p * log(p)).as("c"))
      .groupBy(col("doc_id"))
      .agg(first(col("nc")).as("n_chars"),
        round(-graft.functions.Expressions.foldSumField(
          array_sort(collect_list(struct(col("ch"), col("c"))))), 6).as("char_entropy"))
    val tk = docs.select(col("doc_id"),
      graft.functions.Expressions.ngrams(col("text"), 1).as("ts"))
      .select(col("doc_id"), size(col("ts")).cast("long").as("n_tokens"),
        size(array_distinct(col("ts"))).cast("long").as("n_types"))
    docs.select(col("doc_id")).join(ent, Seq("doc_id"), "left").join(tk, "doc_id")
      .select(col("doc_id"), coalesce(col("n_chars"), lit(0L)).as("n_chars"),
        coalesce(col("char_entropy"), lit(0.0)).as("char_entropy"),
        col("n_tokens"), col("n_types"),
        when(col("n_tokens") > 0,
          round(col("n_types").cast("double") / col("n_tokens"), 6)).as("ttr"))
  }

  /** qt46/qt46a's shared NLL derivation: the corpus-trained add-one bigram
    * LM and the position-ordered per-doc average — up to the `per`
    * (doc_id, n_bigrams, nll) frame (scored docs only).
    */
  private def bigramNllCtes: String = bigramNllCtes("documents")

  /** `src` generalizes the corpus source so qt46s can run the identical
    * chain over a deterministic slice (a FROM-clause subquery string).
    */
  private def bigramNllCtes(src: String): String =
    s"""WITH toks AS (SELECT doc_id, $tokensSql AS ts FROM $src),
       | bg AS (SELECT doc_id, i AS pos, ts[i] AS w1, ts[i + 1] AS w2
       |  FROM toks, unnest(range(1, len(ts))) AS r(i) WHERE len(ts) >= 2),
       | c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
       | c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
       | v AS (SELECT count(DISTINCT t.w)::DOUBLE AS v
       |  FROM (SELECT unnest(ts) AS w FROM toks) t),
       | contrib AS (SELECT b.doc_id, b.pos,
       |   -ln((c.c12 + 1.0) / (u.c1 + v.v)) AS c
       |  FROM bg b JOIN c12 c USING (w1, w2) JOIN c1 u USING (w1) CROSS JOIN v),
       | per AS (SELECT doc_id, count(*)::BIGINT AS n_bigrams,
       |   round(list_sum(list(c ORDER BY pos)) / count(*), 6) AS nll
       |  FROM contrib GROUP BY doc_id)""".stripMargin

  /** qr01/qr01c's DuckDB twin: the whole RAG chain (chunk → BM25 + hash-
    * embed cosine → RRF) replayed in one statement; `capped` inserts the
    * identical ⌊0.5·N⌋ df prune on the query-term side (qt28c's pattern).
    */
  private def retrievalOracle(capped: Boolean): String = {
    val (qsrc, dfRef, capCte) =
      if (!capped) ("qt q JOIN post p USING (term) JOIN dfreq f USING (term)", "f.df", "")
      else ("qkept q JOIN post p USING (term)", "q.df",
        """
          | qkept AS (SELECT q.query_id, q.term, f.df FROM qt q JOIN dfreq f USING (term)
          |   WHERE f.df <= greatest(floor(0.5 * (SELECT count(*) FROM chunks)), 1)),""")
    s"""WITH toks AS (SELECT doc_id, $tokensSql AS ts FROM documents),
       | st AS (SELECT doc_id, ts, i AS start
       |  FROM toks, unnest(range(0, len(ts), 24)) AS r(i) WHERE len(ts) >= 1),
       | chunks AS MATERIALIZED (SELECT
       |   {'doc_id': doc_id, 'chunk_id': (start // 24)} AS ck,
       |   array_to_string(ts[start + 1 : start + 32], ' ') AS chunk_text FROM st),
       | ctok AS MATERIALIZED (SELECT ck, t.term
       |  FROM (SELECT ck, list_filter(regexp_split_to_array(chunk_text, '\\s+'), t -> t != '') AS ts2 FROM chunks),
       |    unnest(ts2) AS t(term)),
       | post AS MATERIALIZED (SELECT ck, term, count(*)::DOUBLE AS tf FROM ctok GROUP BY 1, 2),
       | dl AS MATERIALIZED (SELECT ck, count(*)::DOUBLE AS dl FROM ctok GROUP BY 1),
       | stq AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
       | dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM post GROUP BY 1),
       | qt AS (SELECT DISTINCT doc_id AS query_id, t.term
       |  FROM (SELECT doc_id, $tokensSql AS ts FROM documents WHERE doc_id < 5),
       |    unnest(ts) AS t(term)),$capCte
       | contrib AS (SELECT q.query_id, p.ck, p.term,
       |    ln(1 + (stq.n - $dfRef + 0.5) / ($dfRef + 0.5)) * p.tf * 2.2 /
       |      (p.tf + 1.2 * (0.25 + 0.75 * d.dl / stq.avgdl)) AS c
       |   FROM $qsrc
       |     JOIN dl d ON d.ck = p.ck CROSS JOIN stq),
       | bsc AS (SELECT query_id, ck, round(list_sum(list(c ORDER BY term)), 6) AS score
       |   FROM contrib GROUP BY query_id, ck),
       | bm AS (SELECT query_id, ck, rnk FROM (
       |   SELECT query_id, ck, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, ck ASC) AS rnk
       |   FROM bsc) WHERE rnk <= 10),
       | ch0 AS (SELECT ck, ${HashSql.fnv("chunk_text")} AS h0 FROM chunks),
       | ch1 AS (SELECT ck, ${HashSql.mixCols("h0", "a")} FROM ch0),
       | cg AS (SELECT ck, ma, i FROM ch1, unnest(range(0, 16)) AS r(i)),
       | ch2 AS (SELECT ck, i,
       |   ${HashSql.mixCols(s"xor(ma, ${HashSql.familySeed("i::UBIGINT")})", "b")} FROM cg),
       | cemb AS (SELECT ck,
       |   list(((mb % 2000001::UBIGINT)::DOUBLE / 1000000.0 - 1.0)::FLOAT ORDER BY i) AS emb
       |  FROM ch2 GROUP BY ck),
       | qh0 AS (SELECT doc_id AS query_id, ${HashSql.fnv("text")} AS q0 FROM documents WHERE doc_id < 5),
       | qh1 AS (SELECT query_id, ${HashSql.mixCols("q0", "c")} FROM qh0),
       | qg AS (SELECT query_id, mc, i FROM qh1, unnest(range(0, 16)) AS r(i)),
       | qh2 AS (SELECT query_id, i,
       |   ${HashSql.mixCols(s"xor(mc, ${HashSql.familySeed("i::UBIGINT")})", "d")} FROM qg),
       | qemb AS (SELECT query_id,
       |   list(((md % 2000001::UBIGINT)::DOUBLE / 1000000.0 - 1.0)::FLOAT ORDER BY i) AS emb
       |  FROM qh2 GROUP BY query_id),
       | dp AS (SELECT q.query_id, c.ck,
       |   list_sum(list_transform(range(1, 17), i -> q.emb[i]::DOUBLE * c.emb[i]::DOUBLE)) AS dot,
       |   sqrt(list_sum(list_transform(q.emb, x -> x::DOUBLE * x::DOUBLE))) AS nq,
       |   sqrt(list_sum(list_transform(c.emb, x -> x::DOUBLE * x::DOUBLE))) AS nc
       |  FROM qemb q JOIN cemb c
       |    ON {'doc_id': q.query_id, 'chunk_id': -1::BIGINT} != c.ck),
       | ds AS (SELECT query_id, ck, round(dot/(nq*nc), 6) AS sim FROM dp),
       | dn AS (SELECT query_id, ck, rnk FROM (
       |   SELECT query_id, ck, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, ck ASC) AS rnk
       |   FROM ds) WHERE rnk <= 10),
       | fused AS (SELECT query_id, ck,
       |    round(coalesce(1.0 / (60 + b.rnk), 0.0) + coalesce(1.0 / (60 + n.rnk), 0.0), 6) AS rrf_score
       |   FROM bm b FULL JOIN dn n USING (query_id, ck)),
       | ranked AS (SELECT query_id, ck, rrf_score,
       |    row_number() OVER (PARTITION BY query_id ORDER BY rrf_score DESC, ck ASC) AS rnk FROM fused)
       |SELECT query_id, ck.doc_id AS doc_id, ck.chunk_id AS chunk_id,
       | rrf_score, rnk::INT AS rnk
       |FROM ranked WHERE rnk <= 10""".stripMargin
  }

  val oracle: Map[String, String] = withDerived(Map(
    "qt01_token_stats" ->
      s"""SELECT doc_id, len($tokensSql)::BIGINT AS n_tokens,
         | length(regexp_replace(text, '\\s+', '', 'g'))::BIGINT AS n_chars_nospace,
         | round(length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE / len($tokensSql), 6) AS mean_word_len
         |FROM documents""".stripMargin,
    "qt02_langid" -> {
      val toks = "list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t != '')"
      def score(lang: String) =
        s"len(list_filter($toks, t -> t IN ${langProfilesSql(lang)}))"
      s"""WITH sc AS (SELECT doc_id, text, ${score("en")} AS s_en, ${score("es")} AS s_es,
         |  ${score("fr")} AS s_fr, ${score("de")} AS s_de FROM documents)
         |SELECT doc_id,
         | CASE WHEN text IS NULL THEN NULL
         |      WHEN s_en = 0 AND s_es = 0 AND s_fr = 0 AND s_de = 0 THEN 'und'
         |      WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
         |      WHEN s_es >= s_fr AND s_es >= s_de THEN 'es'
         |      WHEN s_fr >= s_de THEN 'fr'
         |      ELSE 'de' END AS lang_guess
         |FROM sc""".stripMargin
    },
    "qt11_quality" -> {
      val stopList = TextFns.LangId.profiles.flatMap(_._2).distinct
        .map(w => s"'$w'").mkString("(", ",", ")")
      s"""WITH t AS (SELECT doc_id, text,
         |  len($tokensSql)::DOUBLE AS n_tok,
         |  length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE AS n_chars,
         |  CASE WHEN length(text) = 0 THEN 0.0
         |       ELSE length(regexp_replace(text, '[^[:punct:]]', '', 'g'))::DOUBLE / length(text) END AS punct_ratio
         | FROM documents),
         | s AS (SELECT doc_id, n_tok, punct_ratio,
         |  CASE WHEN n_tok = 0 THEN 0.0 ELSE n_chars / n_tok END AS mwl,
         |  CASE WHEN n_tok = 0 THEN 0.0
         |       ELSE len(list_filter(list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t != ''),
         |              w -> w IN $stopList))::DOUBLE / n_tok END AS stop_ratio
         | FROM t)
         |SELECT doc_id,
         | CASE WHEN n_tok IS NULL THEN NULL ELSE
         |  (CASE WHEN n_tok >= 10 AND n_tok <= 100000 THEN 1.0 ELSE 0.3 END) * 0.25
         |  + (CASE WHEN mwl >= 2.0 AND mwl <= 12.0 THEN 1.0 ELSE 0.3 END) * 0.25
         |  + (1.0 - least(punct_ratio * 4, 1.0)) * 0.25
         |  + least(stop_ratio * 5, 1.0) * 0.25 END AS quality
         |FROM s""".stripMargin
    },
    "qt03_fingerprint" ->
      """SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |FROM documents""".stripMargin,
    "qt04_dedup_exact" ->
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
        | min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,
    "qt05_ngram_jaccard" -> ngramJaccardOracle("0.15"),
    // qm01/qm02: re-derive the synthetic-asset contract (asset_id i in
    // range(600); modality = i%3 image/audio/video; payload fixed 256 bytes;
    // video duration 60 s sampled every 10 s) — payload BYTES are opaque
    // binary and stay out of the oracle on purpose.
    "qm01_payload_stats" ->
      """SELECT CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
        | count(*) AS n_assets, (count(*) * 256)::BIGINT AS total_bytes,
        | min(256)::BIGINT AS min_bytes, max(256)::BIGINT AS max_bytes
        |FROM range(600) t(i) GROUP BY 1""".stripMargin,
    "qm02_frame_sample" ->
      """SELECT i::BIGINT AS asset_id, 60000::BIGINT AS duration_ms,
        | ts::BIGINT AS frame_ts_ms, (ts // 10000)::BIGINT AS frame_index
        |FROM range(600) t(i), range(0, 60000, 10000) r(ts)
        |WHERE i % 3 = 2""".stripMargin,
    // qm03: the synthetic mixed-image contract (i%3: 0 netpbm / 1 jpeg /
    // 2 garbage; dims 8+i%5 × 6+i%7; netpbm channels 1 for even ids else
    // 3, jpeg always RGB) — codec identity and decoded dims are id-pure.
    "qm03_image_audit" ->
      """SELECT i::BIGINT AS asset_id,
        | CASE i % 3 WHEN 0 THEN 'netpbm' WHEN 1 THEN 'imageio' ELSE 'none' END AS codec,
        | (CASE WHEN i % 3 = 2 THEN NULL ELSE 8 + i % 5 END)::INT AS width,
        | (CASE WHEN i % 3 = 2 THEN NULL ELSE 6 + i % 7 END)::INT AS height,
        | (CASE WHEN i % 3 = 0 THEN (CASE WHEN i % 2 = 0 THEN 1 ELSE 3 END)
        |       WHEN i % 3 = 1 THEN 3 END)::INT AS channels
        |FROM range(600) t(i)""".stripMargin,
    // qm04: the mixed image+audio contract (i%6: 0 netpbm / 2 jpeg /
    // 1 wav16 / 3 wav8 / 4,5 garbage; dims 8+i%5 × 6+i%7; rate
    // 8000·(1+(i//6)%3), frames 160·(1+i%5); wav16 channels 1+(i//6)%2,
    // wav8 mono; duration = frames·1000 // rate, both sides truncating
    // integer division).
    "qm04_multimodal_audit" ->
      """SELECT i::BIGINT AS asset_id,
        | CASE WHEN i % 6 IN (0, 2, 4) THEN 'image' ELSE 'audio' END AS modality,
        | CASE i % 6 WHEN 0 THEN 'netpbm' WHEN 2 THEN 'imageio'
        |   WHEN 1 THEN 'wav' WHEN 3 THEN 'wav' ELSE 'none' END AS codec,
        | (CASE WHEN i % 6 IN (0, 2) THEN 8 + i % 5 END)::INT AS width,
        | (CASE WHEN i % 6 IN (0, 2) THEN 6 + i % 7 END)::INT AS height,
        | (CASE WHEN i % 6 = 0 THEN (CASE WHEN (i // 6) % 2 = 0 THEN 1 ELSE 3 END)
        |       WHEN i % 6 = 2 THEN 3
        |       WHEN i % 6 = 1 THEN 1 + (i // 6) % 2
        |       WHEN i % 6 = 3 THEN 1 END)::INT AS channels,
        | (CASE WHEN i % 6 IN (1, 3) THEN 8000 * (1 + (i // 6) % 3) END)::INT AS sample_rate,
        | (CASE WHEN i % 6 IN (1, 3) THEN 160 * (1 + i % 5) END)::INT AS n_frames,
        | (CASE WHEN i % 6 IN (1, 3)
        |   THEN (160 * (1 + i % 5) * 1000) // (8000 * (1 + (i // 6) % 3)) END)::BIGINT AS duration_ms
        |FROM range(600) t(i)""".stripMargin,
    "qt05c_ngram_jaccard_capped" ->
      s"""WITH toks AS (SELECT doc_id, lang, $tokensSql AS ts FROM documents),
         | shl AS (SELECT doc_id, lang,
         |   CASE WHEN len(ts) = 0 THEN []
         |        WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')]
         |        ELSE list_distinct(list_transform(range(1, len(ts) - 1),
         |               i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) END AS sh
         |  FROM toks),
         | sized AS (SELECT doc_id, lang, sh FROM shl WHERE len(sh) > 0),
         | posts0 AS (SELECT doc_id, lang, unnest(sh) AS shingle FROM sized),
         | dfc AS (SELECT lang, shingle, count(*) AS df FROM posts0 GROUP BY 1, 2),
         | tot AS (SELECT lang, count(*) AS ndocs FROM sized GROUP BY 1),
         | keep AS (SELECT lang, shingle FROM dfc JOIN tot USING (lang)
         |   WHERE df <= greatest(4, 0.05 * ndocs)),
         | posts AS (SELECT p.doc_id, p.lang, p.shingle FROM posts0 p
         |   JOIN keep k ON p.lang = k.lang AND p.shingle = k.shingle),
         | sizedf AS (SELECT doc_id, lang, shingle,
         |   count(*) OVER (PARTITION BY doc_id, lang) AS n FROM posts),
         | cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb,
         |   count(*) AS inter
         |  FROM sizedf a JOIN sizedf b
         |   ON a.shingle = b.shingle AND a.lang = b.lang AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 3, 4)
         |SELECT id_a, id_b, round(inter/(na + nb - inter), 6) AS jaccard
         |FROM cand WHERE round(inter/(na + nb - inter), 6) >= 0.15""".stripMargin,
    "qt07_simhash" -> {
      val ltoks = "list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t != '')"
      s"""WITH posts AS (SELECT doc_id, unnest($ltoks) AS tok FROM documents),
         | th AS (SELECT doc_id, ${HashSql.fnv("tok")} AS h FROM posts),
         | bits AS (SELECT doc_id, b,
         |    sum(CASE WHEN (h >> b) & 1::UBIGINT = 1::UBIGINT THEN 1 ELSE -1 END) AS vote
         |   FROM th, (SELECT unnest(range(64)) AS b) t(b) GROUP BY doc_id, b),
         | agg AS (SELECT doc_id,
         |    sum(CASE WHEN vote > 0 THEN (1::UBIGINT << b)::HUGEINT ELSE 0::HUGEINT END)::UBIGINT AS hu
         |   FROM bits GROUP BY doc_id),
         | -- zero-token docs have no posts rows but simhash 0 (all votes 0);
         | -- NULL-text docs are excluded: the engine's simhash64(NULL) is
         | -- NULL and null chunk keys never join
         | sh AS (SELECT d.doc_id, coalesce(a.hu, 0::UBIGINT) AS hu
         |   FROM documents d LEFT JOIN agg a USING (doc_id)
         |   WHERE d.text IS NOT NULL),
         | chunks AS (SELECT doc_id, hu, c, (hu >> (c*16)::UBIGINT) & 65535::UBIGINT AS key
         |   FROM sh, (SELECT unnest(range(4)) AS c) t(c)),
         | cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.hu AS ha, b.hu AS hb
         |   FROM chunks a JOIN chunks b ON a.c = b.c AND a.key = b.key AND a.doc_id < b.doc_id)
         |SELECT id_a, id_b, bit_count(xor(ha, hb))::BIGINT AS dist
         |FROM cand WHERE bit_count(xor(ha, hb)) <= 3""".stripMargin
    },
    "qt06_minhash_lsh" ->
      s"""WITH toks AS (SELECT doc_id, $tokensSql AS ts FROM documents),
         | shl AS (SELECT doc_id,
         |   CASE WHEN len(ts) = 0 THEN []
         |        WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')]
         |        ELSE list_distinct(list_transform(range(1, len(ts) - 1),
         |               i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) END AS sh
         |  FROM toks),
         | sized AS (SELECT doc_id, sh, len(sh) AS n FROM shl WHERE len(sh) > 0),
         | posts AS (SELECT doc_id, unnest(sh) AS shingle FROM sized),
         | th AS (SELECT doc_id, ${HashSql.fnv("shingle")} AS h FROM posts),
         | hi AS (SELECT doc_id, i0, xor(h, ${HashSql.familySeed("i0")}) AS s0
         |   FROM th, (SELECT unnest(range(16))::UBIGINT AS i0) t(i0)),
         | mx AS (SELECT doc_id, i0, ${HashSql.mixCols("s0")} FROM hi),
         | ms AS (SELECT doc_id, i0, ${HashSql.toSigned("m")} AS msig FROM mx),
         | sig AS (SELECT doc_id, i0, min(msig) AS v FROM ms GROUP BY 1, 2),
         | -- bucket key: the signature slice itself (Spark hashes it; equal
         | -- slices <=> equal buckets up to a 2^-64 collision)
         | bands AS (SELECT doc_id, i0 // 2 AS band, string_agg(v, ',' ORDER BY i0) AS key
         |   FROM sig GROUP BY 1, 2),
         | cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |   FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
         | pair AS (SELECT id_a, id_b, len(list_intersect(sa.sh, sb.sh))::DOUBLE AS inter,
         |     sa.n + sb.n AS ns
         |   FROM cand JOIN sized sa ON sa.doc_id = id_a JOIN sized sb ON sb.doc_id = id_b)
         |SELECT id_a, id_b, round(inter / (ns - inter), 6) AS jaccard
         |FROM pair WHERE round(inter / (ns - inter), 6) >= 0.15""".stripMargin,
    "qt12_embed_neardup" ->
      """WITH a AS (SELECT vec_id AS id_a, embedding AS va FROM embeddings),
        | b AS (SELECT vec_id AS id_b, embedding AS vb FROM embeddings),
        | p AS (SELECT id_a, id_b,
        |   list_sum(list_transform(range(1, len(va) + 1), i -> va[i]::DOUBLE * vb[i]::DOUBLE)) AS dot,
        |   sqrt(list_sum(list_transform(va, x -> x::DOUBLE * x::DOUBLE))) AS na,
        |   sqrt(list_sum(list_transform(vb, x -> x::DOUBLE * x::DOUBLE))) AS nb
        |  FROM a JOIN b ON id_a < id_b)
        |SELECT id_a, id_b, round(dot/(na*nb), 6) AS cos_sim FROM p
        |WHERE round(dot/(na*nb), 6) >= 0.4""".stripMargin,

    // SemDeDup: re-derive the Lloyd-1 centroids + home cells with the IVF
    // assignment CTEs (order-deterministic means — bit-equal to Spark's
    // oracleMode), then the within-cell pair set and the min-id keep rule.
    "qt26_semdedup" ->
      s"""WITH hh AS (SELECT vec_id, embedding, ${HashSql.mixCols("vec_id::UBIGINT")}
         |   FROM embeddings WHERE embedding IS NOT NULL),
         | ${ivfAssignCtes("a", nlist = 16)},
         | home AS (SELECT vec_id, cell FROM asga WHERE crnk = 1),
         | p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |   list_sum(list_transform(range(1, len(ea.embedding) + 1),
         |     i -> ea.embedding[i]::DOUBLE * eb.embedding[i]::DOUBLE)) AS dot,
         |   sqrt(list_sum(list_transform(ea.embedding, x -> x::DOUBLE * x::DOUBLE))) AS na,
         |   sqrt(list_sum(list_transform(eb.embedding, x -> x::DOUBLE * x::DOUBLE))) AS nb
         |  FROM home a JOIN home b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  JOIN embeddings ea ON ea.vec_id = a.vec_id
         |  JOIN embeddings eb ON eb.vec_id = b.vec_id),
         | dropped AS (SELECT DISTINCT id_b FROM p WHERE round(dot/(na*nb), 6) >= 0.4)
         |SELECT h.vec_id, h.cell, (d.id_b IS NULL) AS kept
         |FROM home h LEFT JOIN dropped d ON h.vec_id = d.id_b""".stripMargin,

    // SemDeDup recall per nlist: three cluster-blocked pair sets (the IVF
    // assignment CTEs at nlist 4/16/64) measured against the exact
    // all-pairs dup set — recall VALUES hash-verified.
    "qt26r_semdedup_recall" -> {
      def pairCtes(tag: String): String =
        s"""home$tag AS (SELECT vec_id, cell FROM asg$tag WHERE crnk = 1),
           | pr$tag AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
           |  FROM home$tag a JOIN home$tag b ON a.cell = b.cell AND a.vec_id < b.vec_id
           |  JOIN embeddings ea ON ea.vec_id = a.vec_id
           |  JOIN embeddings eb ON eb.vec_id = b.vec_id
           |  WHERE round(list_sum(list_transform(range(1, len(ea.embedding) + 1),
           |      i -> ea.embedding[i]::DOUBLE * eb.embedding[i]::DOUBLE)) /
           |    (sqrt(list_sum(list_transform(ea.embedding, x -> x::DOUBLE * x::DOUBLE))) *
           |     sqrt(list_sum(list_transform(eb.embedding, x -> x::DOUBLE * x::DOUBLE)))), 6) >= 0.4),
           | r$tag AS (SELECT round(avg(CASE WHEN p.id_a IS NOT NULL THEN 1.0 ELSE 0.0 END), 4) AS rec
           |   FROM exactp e LEFT JOIN pr$tag p ON p.id_a = e.id_a AND p.id_b = e.id_b)""".stripMargin
      s"""WITH hh AS (SELECT vec_id, embedding, ${HashSql.mixCols("vec_id::UBIGINT")}
         |   FROM embeddings WHERE embedding IS NOT NULL),
         | exactp AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |  WHERE (a.vec_id % 31 = 7 OR b.vec_id % 31 = 7)
         |    AND round(list_sum(list_transform(range(1, len(a.embedding) + 1),
         |      i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)) /
         |    (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE))) *
         |     sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)))), 6) >= 0.4),
         | ${ivfAssignCtes("sa", nlist = 4)},
         | ${pairCtes("sa")},
         | ${ivfAssignCtes("sb", nlist = 16)},
         | ${pairCtes("sb")},
         | ${ivfAssignCtes("sc", nlist = 64)},
         | ${pairCtes("sc")}
         |SELECT 4 AS nlist, 1 AS lloyd_iters, 40 AS tau_pct, rec AS recall_vs_brute FROM rsa
         |UNION ALL SELECT 16, 1, 40, rec FROM rsb
         |UNION ALL SELECT 64, 1, 40, rec FROM rsc""".stripMargin
    },
    // qt26rs: qt26r's grid with both-endpoints-in-panel pair sets (home
    // cells restricted to the panel on BOTH join sides, exact baseline
    // panel×panel) — the ivf training CTEs still run on the full corpus.
    // tau 0.2 (see the entry); |panel|²-scale pair volume at any decade.
    "qt26rs_semdedup_recall_panel" -> {
      def pairCtes(tag: String): String =
        s"""home$tag AS (SELECT vec_id, cell FROM asg$tag
           |   WHERE crnk = 1 AND vec_id % 31 = 7),
           | pr$tag AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
           |  FROM home$tag a JOIN home$tag b ON a.cell = b.cell AND a.vec_id < b.vec_id
           |  JOIN embeddings ea ON ea.vec_id = a.vec_id
           |  JOIN embeddings eb ON eb.vec_id = b.vec_id
           |  WHERE round(list_sum(list_transform(range(1, len(ea.embedding) + 1),
           |      i -> ea.embedding[i]::DOUBLE * eb.embedding[i]::DOUBLE)) /
           |    (sqrt(list_sum(list_transform(ea.embedding, x -> x::DOUBLE * x::DOUBLE))) *
           |     sqrt(list_sum(list_transform(eb.embedding, x -> x::DOUBLE * x::DOUBLE)))), 6) >= 0.2),
           | r$tag AS (SELECT round(avg(CASE WHEN p.id_a IS NOT NULL THEN 1.0 ELSE 0.0 END), 4) AS rec
           |   FROM exactp e LEFT JOIN pr$tag p ON p.id_a = e.id_a AND p.id_b = e.id_b)""".stripMargin
      s"""WITH hh AS (SELECT vec_id, embedding, ${HashSql.mixCols("vec_id::UBIGINT")}
         |   FROM embeddings WHERE embedding IS NOT NULL),
         | exactp AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |  WHERE a.vec_id % 31 = 7 AND b.vec_id % 31 = 7
         |    AND round(list_sum(list_transform(range(1, len(a.embedding) + 1),
         |      i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)) /
         |    (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE))) *
         |     sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)))), 6) >= 0.2),
         | ${ivfAssignCtes("sa", nlist = 4)},
         | ${pairCtes("sa")},
         | ${ivfAssignCtes("sb", nlist = 16)},
         | ${pairCtes("sb")},
         | ${ivfAssignCtes("sc", nlist = 64)},
         | ${pairCtes("sc")}
         |SELECT 4 AS nlist, 1 AS lloyd_iters, 20 AS tau_pct, rec AS recall_vs_brute FROM rsa
         |UNION ALL SELECT 16, 1, 20, rec FROM rsb
         |UNION ALL SELECT 64, 1, 20, rec FROM rsc""".stripMargin
    },
    // Two independent Unicode stacks (java.text.Normalizer vs utf8proc)
    // must produce byte-identical NFC/strip-accents output on the
    // manufactured composed/decomposed text.
    "qt13_normalize" ->
      """WITH t AS (SELECT doc_id, text,
        |   translate(text, 'aeiou', 'áéíóú') AS accented,
        |   replace(text, 'e', 'e' || chr(769)) AS decomposed
        |  FROM documents)
        |SELECT doc_id,
        | md5(nfc_normalize(decomposed)) AS nfc_md5,
        | length(nfc_normalize(decomposed))::BIGINT AS nfc_len,
        | length(decomposed)::BIGINT AS raw_len,
        | md5(strip_accents(accented)) AS strip_md5,
        | strip_accents(accented) = text AS strip_roundtrip
        |FROM t""".stripMargin,
    "qt14_repetition" -> {
      val toks = "list_filter(regexp_split_to_array(text, '\\s+'), t -> t != '')"
      s"""WITH lined AS (SELECT doc_id,
         |   regexp_replace(text, '(\\S+ \\S+) ', '\\1' || chr(10), 'g') AS text
         |  FROM documents),
         | lraw AS (SELECT doc_id, trim(l) AS line
         |  FROM lined, unnest(string_split(text, chr(10))) AS u(l) WHERE trim(l) != ''),
         | lcnt AS (SELECT doc_id, line, count(*) AS cnt, max(length(line)) AS len
         |  FROM lraw GROUP BY doc_id, line),
         | lstat AS (SELECT doc_id, sum(cnt)::BIGINT AS n_lines,
         |   sum(cnt - 1)::DOUBLE / sum(cnt) AS dup_line_frac,
         |   sum((cnt - 1) * len)::DOUBLE / sum(cnt * len) AS dup_line_char_frac
         |  FROM lcnt GROUP BY doc_id),
         | toks AS (SELECT doc_id, $toks AS ts FROM lined),
         | bg AS (SELECT doc_id, ts[i] || ' ' || ts[i + 1] AS g
         |  FROM toks, unnest(range(1, len(ts))) AS r(i) WHERE len(ts) >= 2),
         | bgc AS (SELECT doc_id, g, count(*) AS cnt FROM bg GROUP BY doc_id, g),
         | bgstat AS (SELECT doc_id, max(cnt)::DOUBLE / sum(cnt) AS top_bigram_frac
         |  FROM bgc GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(n_lines, 0) AS n_lines,
         | coalesce(dup_line_frac, 0.0) AS dup_line_frac,
         | coalesce(dup_line_char_frac, 0.0) AS dup_line_char_frac,
         | coalesce(top_bigram_frac, 0.0) AS top_bigram_frac
         |FROM documents d LEFT JOIN lstat USING (doc_id) LEFT JOIN bgstat USING (doc_id)""".stripMargin
    },
    "qt15_contamination" -> {
      val toks = "list_filter(regexp_split_to_array(text, '\\s+'), t -> t != '')"
      s"""WITH t AS (SELECT doc_id, $toks AS ts FROM documents),
         | sh AS (SELECT doc_id, CASE WHEN len(ts) = 0 THEN []
         |    WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')]
         |    ELSE list_distinct(list_transform(range(1, len(ts) - 1),
         |      i -> ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2])) END AS sh FROM t),
         | sized AS (SELECT doc_id, sh, len(sh) AS n FROM sh WHERE len(sh) > 0),
         | pc AS (SELECT doc_id, s FROM (SELECT doc_id, sh FROM sized WHERE doc_id % 17 != 0), unnest(sh) AS u(s)),
         | pb AS (SELECT bench_id, n_bench, s
         |  FROM (SELECT doc_id AS bench_id, sh, n AS n_bench FROM sized WHERE doc_id % 17 = 0), unnest(sh) AS u(s)),
         | pair AS (SELECT doc_id, bench_id, n_bench, count(*) AS inter
         |  FROM pc JOIN pb USING (s) GROUP BY doc_id, bench_id, n_bench)
         |SELECT doc_id, bench_id, round(inter / n_bench, 6) AS containment
         |FROM pair WHERE round(inter / n_bench, 6) >= 0.05""".stripMargin
    },
    "qt18_dedup_clusters" ->
      s"""WITH RECURSIVE toks AS (SELECT doc_id, lang, $tokensSql AS ts FROM documents),
         | sh AS (SELECT doc_id, lang,
         |   CASE WHEN len(ts) = 0 THEN []
         |        WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')]
         |        ELSE list_distinct(list_transform(range(1, len(ts) - 1),
         |               i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) END AS sh
         |  FROM toks),
         | sized AS (SELECT doc_id, lang, sh, len(sh) AS n FROM sh WHERE len(sh) > 0),
         | posts AS (SELECT doc_id, lang, n, unnest(sh) AS shingle FROM sized),
         | cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb,
         |   count(*) AS inter
         |  FROM posts a JOIN posts b
         |   ON a.shingle = b.shingle AND a.lang = b.lang AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 3, 4),
         | pair AS (SELECT id_a, id_b FROM cand
         |  WHERE round(inter/(na + nb - inter), 6) >= 0.15),
         | edges AS (SELECT id_a AS src, id_b AS dst FROM pair
         |  UNION SELECT id_b, id_a FROM pair),
         | reach(id, l) AS (SELECT src, src FROM edges
         |  UNION SELECT e.src, r.l FROM edges e JOIN reach r ON r.id = e.dst),
         | comp AS (SELECT id, min(l) AS component FROM reach GROUP BY id)
         |SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component,
         | d.doc_id = coalesce(c.component, d.doc_id) AS is_canonical
         |FROM documents d LEFT JOIN comp c ON d.doc_id = c.id""".stripMargin,
    "qt38_keep_best" ->
      s"""WITH RECURSIVE toks AS (SELECT doc_id, lang, $tokensSql AS ts FROM documents),
         | sh AS (SELECT doc_id, lang,
         |   CASE WHEN len(ts) = 0 THEN []
         |        WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')]
         |        ELSE list_distinct(list_transform(range(1, len(ts) - 1),
         |               i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) END AS sh
         |  FROM toks),
         | sized AS (SELECT doc_id, lang, sh, len(sh) AS n FROM sh WHERE len(sh) > 0),
         | posts AS (SELECT doc_id, lang, n, unnest(sh) AS shingle FROM sized),
         | cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb,
         |   count(*) AS inter
         |  FROM posts a JOIN posts b
         |   ON a.shingle = b.shingle AND a.lang = b.lang AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 3, 4),
         | pair AS (SELECT id_a, id_b FROM cand
         |  WHERE round(inter/(na + nb - inter), 6) >= 0.15),
         | edges AS (SELECT id_a AS src, id_b AS dst FROM pair
         |  UNION SELECT id_b, id_a FROM pair),
         | reach(id, l) AS (SELECT src, src FROM edges
         |  UNION SELECT e.src, r.l FROM edges e JOIN reach r ON r.id = e.dst),
         | comp AS (SELECT id, min(l) AS component FROM reach GROUP BY id),
         | scored AS (SELECT t.doc_id, coalesce(c.component, t.doc_id) AS component,
         |   len(t.ts)::BIGINT AS score
         |  FROM toks t LEFT JOIN comp c ON t.doc_id = c.id)
         |SELECT doc_id, component, score,
         | row_number() OVER (PARTITION BY component
         |   ORDER BY score DESC, doc_id ASC) = 1 AS is_kept
         |FROM scored""".stripMargin,
    "qt39_line_dedup" ->
      """WITH docs2 AS (SELECT doc_id,
        |   text || chr(10) || 'Subscribe to our newsletter'
        |        || chr(10) || 'copyright footer ' || (doc_id % 7)
        |        || chr(10) || 'ref ' || doc_id AS text
        |  FROM documents),
        | lines AS (SELECT doc_id, i AS pos, ln[i] AS line, lower(trim(ln[i])) AS key
        |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ln FROM docs2),
        |    unnest(range(1, len(ln) + 1)) AS r(i)),
        | hot AS (SELECT key FROM (
        |   SELECT key, count(DISTINCT doc_id) AS df FROM lines
        |   WHERE key != '' GROUP BY key) WHERE df > 30),
        | tagged AS (SELECT l.doc_id, l.pos, l.line, h.key IS NOT NULL AS is_hot
        |  FROM lines l LEFT JOIN hot h USING (key))
        |SELECT doc_id,
        | coalesce(array_to_string(list(line ORDER BY pos) FILTER (WHERE NOT is_hot), chr(10)), '') AS text,
        | count(*) FILTER (WHERE NOT is_hot)::BIGINT AS n_kept,
        | count(*) FILTER (WHERE is_hot)::BIGINT AS n_dropped
        |FROM tagged GROUP BY doc_id""".stripMargin,
    "qt40_lm_score" ->
      s"""WITH toks AS (SELECT doc_id, $tokensSql AS ts FROM documents),
         | bg AS (SELECT doc_id, i AS pos, ts[i] AS w1, ts[i + 1] AS w2
         |  FROM toks, unnest(range(1, len(ts))) AS r(i) WHERE len(ts) >= 2),
         | c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
         | c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
         | v AS (SELECT count(DISTINCT t.w)::DOUBLE AS v
         |  FROM (SELECT unnest(ts) AS w FROM toks) t),
         | contrib AS (SELECT b.doc_id, b.pos,
         |   -ln((c.c12 + 1.0) / (u.c1 + v.v)) AS c
         |  FROM bg b JOIN c12 c USING (w1, w2) JOIN c1 u USING (w1) CROSS JOIN v),
         | per AS (SELECT doc_id, count(*)::BIGINT AS n_bigrams,
         |   round(list_sum(list(c ORDER BY pos)) / count(*), 6) AS nll
         |  FROM contrib GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(p.n_bigrams, 0)::BIGINT AS n_bigrams, p.nll
         |FROM documents d LEFT JOIN per p USING (doc_id)""".stripMargin,
    // qt40s: qt40's chain verbatim over the doc_id % 31 slice (the qt46s
    // discipline) — model, scores, and unscored rows all slice-scoped, so
    // the oracle's bigram volume stays ~3× base even at the 100× fixture
    "qt40s_lm_score_sampled" ->
      s"""${bigramNllCtes("(SELECT * FROM documents WHERE doc_id % 31 = 0) sdocs")}
         |SELECT d.doc_id, coalesce(p.n_bigrams, 0)::BIGINT AS n_bigrams, p.nll
         |FROM documents d LEFT JOIN per p USING (doc_id)
         |WHERE d.doc_id % 31 = 0""".stripMargin,
    "qt41_chunk" ->
      s"""WITH toks AS (SELECT doc_id, $tokensSql AS ts FROM documents),
         | st AS (SELECT doc_id, ts, i AS start
         |  FROM toks, unnest(range(0, len(ts), 24)) AS r(i) WHERE len(ts) >= 1)
         |SELECT doc_id, (start // 24)::BIGINT AS chunk_id,
         | len(ts[start + 1 : start + 32])::BIGINT AS n_chunk_tokens,
         | array_to_string(ts[start + 1 : start + 32], ' ') AS chunk_text
         |FROM st""".stripMargin,
    "qt42_shard_manifest" ->
      s"""WITH b AS (SELECT doc_id, len($tokensSql)::BIGINT AS w,
         |   ('0x' || substr(md5(doc_id::VARCHAR || 'r8'), 1, 12))::BIGINT AS h
         |  FROM documents)
         |SELECT floor((h::DOUBLE / 281474976710656.0) * 16)::BIGINT AS shard,
         | count(*)::BIGINT AS n_docs, sum(w)::BIGINT AS n_tokens, bit_xor(h) AS fp
         |FROM b GROUP BY 1""".stripMargin,
    "qt43_blocklist" ->
      """WITH t AS (SELECT doc_id,
        |   list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != '') AS ts
        |  FROM documents),
        | b AS (SELECT doc_id, len(ts)::BIGINT AS n_tokens,
        |   len(list_filter(ts, x -> x IN ('slow', 'legacy', 'deprecated')))::BIGINT AS n_hits
        |  FROM t)
        |SELECT doc_id, n_tokens, n_hits,
        | round(CASE WHEN n_tokens > 0 THEN n_hits::DOUBLE / n_tokens ELSE 0.0 END, 6) AS hit_ratio,
        | round(CASE WHEN n_tokens > 0 THEN n_hits::DOUBLE / n_tokens ELSE 0.0 END, 6) > 0.02 AS blocked
        |FROM b""".stripMargin,
    "qt44_collocations" ->
      s"""WITH t AS (SELECT $tokensSql AS ts FROM documents),
         | bg AS (SELECT ts[i] AS w1, ts[i + 1] AS w2
         |  FROM t, unnest(range(1, len(ts))) AS r(i) WHERE len(ts) >= 2),
         | c12 AS (SELECT w1, w2, count(*) AS n FROM bg GROUP BY 1, 2),
         | cl AS (SELECT w1, count(*) AS cl FROM bg GROUP BY 1),
         | cr AS (SELECT w2, count(*) AS cr FROM bg GROUP BY 1),
         | tt AS (SELECT count(*)::DOUBLE AS t FROM bg),
         | sc AS (SELECT c.w1 || ' ' || c.w2 AS gram, c.n,
         |   round(ln((c.n::DOUBLE * tt.t) / (l.cl::DOUBLE * r.cr::DOUBLE)), 6) AS pmi
         |  FROM c12 c JOIN cl l USING (w1) JOIN cr r USING (w2) CROSS JOIN tt
         |  WHERE c.n >= 5),
         | ranked AS (SELECT gram, n, pmi,
         |   row_number() OVER (ORDER BY pmi DESC, gram ASC) AS rnk FROM sc)
         |SELECT gram, n::BIGINT AS n, pmi, rnk::INT AS rnk
         |FROM ranked WHERE rnk <= 20""".stripMargin,
    "qt47_dsir" ->
      s"""$dsirWeightCtes,
         | ranked AS (SELECT doc_id, weight,
         |   row_number() OVER (ORDER BY weight DESC, doc_id ASC) AS rnk,
         |   count(*) OVER () AS nn FROM allw)
         |SELECT doc_id, weight, rnk::INT AS rnk, rnk <= ceil(0.25 * nn) AS selected
         |FROM ranked""".stripMargin,
    // qt47t: the sketch is exact at this N, so the threshold is the 0.75
    // order statistic (quantile_disc) and selection is a plain compare —
    // no window in either engine.
    "qt47t_dsir_threshold" ->
      s"""$dsirWeightCtes,
         | thr AS (SELECT quantile_disc(weight, 0.75) AS t FROM allw)
         |SELECT doc_id, weight, weight >= thr.t AS selected
         |FROM allw CROSS JOIN thr""".stripMargin,
    "qr01_retrieval" -> retrievalOracle(capped = false),
    "qr01c_retrieval_capped" -> retrievalOracle(capped = true),
    // serve-only twin returns qr01's exact rows (bit-identical serve from
    // persisted artifacts) — one oracle definition, shared
    "qr02_retrieval_serve" -> retrievalOracle(capped = false),
    // qr03 serves bit-identical rankings through the encoder seam
    // (HashTextEncoder = the same scalar kernel), so it shares the chain
    // oracle verbatim — the qc01s same-oracle/different-machinery pattern.
    "qr03_retrieval_encoded" -> retrievalOracle(capped = false),
    // qt49's invariant twin: DuckDB predicts every boolean from text
    // length alone; the Spark side computes them from actual zlib output.
    "qt49_compress" ->
      """SELECT doc_id, strlen(text)::BIGINT AS n_bytes,
        | TRUE AS len_positive, TRUE AS len_within_bound,
        | TRUE AS ratio_positive, TRUE AS empty_guard, TRUE AS dup_no_worse,
        | CASE WHEN strlen(text) BETWEEN 1 AND 30000 THEN TRUE END AS dup_second_copy_cheap
        |FROM documents""".stripMargin,
    "qt51_entropy" -> entropySql("documents"),
    // qt51s: the identical chain over the doc_id % 7 slice (14% of docs —
    // widened from %31 in r15) — the char-explode volume stays ~1/7 of
    // the full-corpus ~1e9 rows that OOM DuckDB at the 100× fixture
    "qt51s_entropy_sampled" ->
      entropySql("(SELECT * FROM documents WHERE doc_id % 7 = 0)"),
    "qt50_heavy_hitters" ->
      s"""WITH tok AS (SELECT lang, t.term
         |  FROM (SELECT lang, $tokensSql AS ts FROM documents), unnest(ts) AS t(term)),
         | tot AS (SELECT lang, count(*)::BIGINT AS n_tokens FROM tok GROUP BY 1),
         | cnt AS (SELECT lang, term, count(*)::BIGINT AS n FROM tok GROUP BY 1, 2)
         |SELECT c.lang, c.term, c.n, t.n_tokens
         |FROM cnt c JOIN tot t USING (lang) WHERE c.n * 32 > t.n_tokens""".stripMargin,
    "qt48_contrastive" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS ql FROM embeddings WHERE vec_id < 10),
        | c AS (SELECT vec_id AS corpus_id, embedding AS cv, label AS cl FROM embeddings),
        | p AS (SELECT query_id, corpus_id, ql, cl,
        |   list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i]::DOUBLE * cv[i]::DOUBLE)) AS dot,
        |   sqrt(list_sum(list_transform(qv, x -> x::DOUBLE * x::DOUBLE))) AS nq,
        |   sqrt(list_sum(list_transform(cv, x -> x::DOUBLE * x::DOUBLE))) AS nc
        |  FROM q JOIN c ON query_id != corpus_id),
        | s AS (SELECT query_id, corpus_id,
        |   CASE WHEN ql = cl THEN 'pos' ELSE 'neg' END AS role,
        |   round(dot/(nq*nc), 6) AS sim FROM p),
        | r AS (SELECT query_id, corpus_id, role, sim,
        |   row_number() OVER (PARTITION BY query_id, role ORDER BY sim DESC, corpus_id ASC) AS rnk FROM s)
        |SELECT query_id, corpus_id, role, sim, rnk::BIGINT AS rnk
        |FROM r WHERE (role = 'pos' AND rnk <= 3) OR (role = 'neg' AND rnk <= 5)""".stripMargin,
    "qt45_script_profile" ->
      """WITH d2 AS (SELECT doc_id,
        |   CASE WHEN doc_id % 3 = 0 THEN text || ' привет мир'
        |        WHEN doc_id % 3 = 1 THEN text || ' 你好世界'
        |        ELSE text END AS text
        |  FROM documents),
        | c AS (SELECT doc_id,
        |   length(regexp_replace(text, '\s+', '', 'g'))::BIGINT AS n_chars,
        |   length(regexp_replace(text, '[^\p{Latin}]', '', 'g'))::BIGINT AS n_latin,
        |   length(regexp_replace(text, '[^\p{Cyrillic}]', '', 'g'))::BIGINT AS n_cyrillic,
        |   length(regexp_replace(text, '[^\p{Han}]', '', 'g'))::BIGINT AS n_han
        |  FROM d2)
        |SELECT doc_id, n_chars, n_latin, n_cyrillic, n_han,
        | round(n_latin::DOUBLE / n_chars, 6) AS latin_ratio,
        | CASE WHEN n_latin >= n_cyrillic AND n_latin >= n_han THEN 'latin'
        |      WHEN n_cyrillic >= n_han THEN 'cyrillic' ELSE 'han' END AS dominant
        |FROM c""".stripMargin,
    "qt46_lm_buckets" ->
      s"""$bigramNllCtes,
         | lab AS (SELECT doc_id, nll,
         |   ntile(3) OVER (ORDER BY nll ASC, doc_id ASC) AS nt FROM per)
         |SELECT CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
         |               ELSE 'tail' END AS bucket,
         | count(*)::BIGINT AS n_docs, min(nll) AS min_nll, max(nll) AS max_nll,
         | round(avg(nll), 6) AS avg_nll
         |FROM lab GROUP BY 1""".stripMargin,
    // qt46a: the sketch thresholds are exact at this N, so the cut points
    // are the 1/3 and 2/3 order statistics (quantile_disc over the scored
    // rows) and every row's bucket is a plain compare; unscored rows
    // (< 2 tokens) carry a NULL bucket.
    "qt46a_lm_buckets_approx" ->
      s"""$bigramNllCtes,
         | allr AS (SELECT d.doc_id, coalesce(p.n_bigrams, 0)::BIGINT AS n_bigrams, p.nll
         |  FROM documents d LEFT JOIN per p USING (doc_id)),
         | cuts AS (SELECT quantile_disc(nll, [0.3333333333333333, 0.6666666666666666]) AS cs
         |  FROM allr WHERE nll IS NOT NULL)
         |SELECT doc_id, n_bigrams, nll,
         | CASE WHEN nll IS NULL THEN NULL
         |      WHEN nll <= cs[1] THEN 'head'
         |      WHEN nll <= cs[2] THEN 'middle' ELSE 'tail' END AS bucket
         |FROM allr CROSS JOIN cuts""".stripMargin,
    // qt46s: qt46a's chain verbatim over the doc_id % 31 slice — the
    // model, cuts, and null rows all scoped to the slice, so the oracle's
    // bigram volume stays ~3× base even at the 100× fixture
    "qt46s_lm_buckets_sampled" ->
      s"""${bigramNllCtes("(SELECT * FROM documents WHERE doc_id % 31 = 0) sdocs")},
         | allr AS (SELECT d.doc_id, coalesce(p.n_bigrams, 0)::BIGINT AS n_bigrams, p.nll
         |  FROM documents d LEFT JOIN per p USING (doc_id) WHERE d.doc_id % 31 = 0),
         | cuts AS (SELECT quantile_disc(nll, [0.3333333333333333, 0.6666666666666666]) AS cs
         |  FROM allr WHERE nll IS NOT NULL)
         |SELECT doc_id, n_bigrams, nll,
         | CASE WHEN nll IS NULL THEN NULL
         |      WHEN nll <= cs[1] THEN 'head'
         |      WHEN nll <= cs[2] THEN 'middle' ELSE 'tail' END AS bucket
         |FROM allr CROSS JOIN cuts""".stripMargin,
    "qt20_vocab" -> {
      val toks = "list_filter(regexp_split_to_array(text, '\\s+'), t -> t != '')"
      s"""WITH t AS (SELECT lang, $toks AS ts FROM documents),
         | bg AS (SELECT lang, ts[i] || ' ' || ts[i + 1] AS gram
         |  FROM t, unnest(range(1, len(ts))) AS r(i) WHERE len(ts) >= 2),
         | c AS (SELECT lang, gram, count(*) AS occurrences FROM bg GROUP BY lang, gram),
         | ranked AS (SELECT lang, gram, occurrences,
         |   row_number() OVER (PARTITION BY lang ORDER BY occurrences DESC, gram ASC) AS rank
         |  FROM c)
         |SELECT lang, gram, occurrences::BIGINT AS occurrences, rank::INT AS rank
         |FROM ranked WHERE rank <= 10""".stripMargin
    },
    // BM25: integer-valued stats are fp-exact (order-free), the per-doc
    // score is a term-ordered left fold rounded at 6 (absorbing ≤1-ulp ln
    // differences), operation order mirrors the Scala expression exactly.
    // The capped twin adds the identical df <= floor(0.5·N) prune to the
    // query-term side before postings join.
    "qt28c_bm25_capped" -> {
      val toks = "list_filter(regexp_split_to_array(text, '\\s+'), t -> t != '')"
      s"""WITH tok AS MATERIALIZED (SELECT doc_id, t.term
         |   FROM (SELECT doc_id, $toks AS ts FROM documents), unnest(ts) AS t(term)),
         | post AS MATERIALIZED (SELECT doc_id, term, count(*)::DOUBLE AS tf
         |   FROM tok GROUP BY doc_id, term),
         | dl AS MATERIALIZED (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id),
         | st AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
         | dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM post GROUP BY term),
         | qt AS (SELECT DISTINCT doc_id AS query_id, t.term
         |   FROM (SELECT doc_id, $toks AS ts FROM documents WHERE doc_id < 10),
         |     unnest(ts) AS t(term)),
         | qkept AS (SELECT q.query_id, q.term, f.df FROM qt q JOIN dfreq f USING (term)
         |   WHERE f.df <= greatest(floor(0.5 * (SELECT count(*) FROM documents)), 1)),
         | contrib AS (SELECT q.query_id, p.doc_id, p.term,
         |     ln(1 + (st.n - q.df + 0.5) / (q.df + 0.5)) * p.tf * 2.2 /
         |       (p.tf + 1.2 * (0.25 + 0.75 * d.dl / st.avgdl)) AS c
         |   FROM qkept q JOIN post p USING (term)
         |     JOIN dl d ON d.doc_id = p.doc_id CROSS JOIN st),
         | sc AS (SELECT query_id, doc_id,
         |     round(list_sum(list(c ORDER BY term)), 6) AS score
         |   FROM contrib GROUP BY query_id, doc_id)
         |SELECT query_id, doc_id, score, rnk::INT AS rnk FROM (
         |  SELECT query_id, doc_id, score,
         |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rnk
         |  FROM sc) WHERE rnk <= 10""".stripMargin
    },
    "qt28_bm25" -> {
      val toks = "list_filter(regexp_split_to_array(text, '\\s+'), t -> t != '')"
      s"""WITH tok AS MATERIALIZED (SELECT doc_id, t.term
         |   FROM (SELECT doc_id, $toks AS ts FROM documents), unnest(ts) AS t(term)),
         | post AS MATERIALIZED (SELECT doc_id, term, count(*)::DOUBLE AS tf
         |   FROM tok GROUP BY doc_id, term),
         | dl AS MATERIALIZED (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id),
         | st AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
         | dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM post GROUP BY term),
         | qt AS (SELECT DISTINCT doc_id AS query_id, t.term
         |   FROM (SELECT doc_id, $toks AS ts FROM documents WHERE doc_id < 10),
         |     unnest(ts) AS t(term)),
         | contrib AS (SELECT q.query_id, p.doc_id, p.term,
         |     ln(1 + (st.n - f.df + 0.5) / (f.df + 0.5)) * p.tf * 2.2 /
         |       (p.tf + 1.2 * (0.25 + 0.75 * d.dl / st.avgdl)) AS c
         |   FROM qt q JOIN post p USING (term) JOIN dfreq f USING (term)
         |     JOIN dl d ON d.doc_id = p.doc_id CROSS JOIN st),
         | sc AS (SELECT query_id, doc_id,
         |     round(list_sum(list(c ORDER BY term)), 6) AS score
         |   FROM contrib GROUP BY query_id, doc_id)
         |SELECT query_id, doc_id, score, rnk::INT AS rnk FROM (
         |  SELECT query_id, doc_id, score,
         |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rnk
         |  FROM sc) WHERE rnk <= 10""".stripMargin
    },
    // Hybrid RRF: the qt28 BM25 chain and the qt08 dense chain composed,
    // fused by 1/(60+rank) over a full-outer join of the two rankings.
    "qt34_hybrid_rrf" -> {
      val toks = "list_filter(regexp_split_to_array(text, '\\s+'), t -> t != '')"
      s"""WITH tok AS MATERIALIZED (SELECT doc_id, t.term
         |   FROM (SELECT doc_id, $toks AS ts FROM documents), unnest(ts) AS t(term)),
         | post AS MATERIALIZED (SELECT doc_id, term, count(*)::DOUBLE AS tf
         |   FROM tok GROUP BY doc_id, term),
         | dl AS MATERIALIZED (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id),
         | st AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
         | dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM post GROUP BY term),
         | qt AS (SELECT DISTINCT doc_id AS query_id, t.term
         |   FROM (SELECT doc_id, $toks AS ts FROM documents WHERE doc_id < 10),
         |     unnest(ts) AS t(term)),
         | contrib AS (SELECT q.query_id, p.doc_id, p.term,
         |     ln(1 + (st.n - f.df + 0.5) / (f.df + 0.5)) * p.tf * 2.2 /
         |       (p.tf + 1.2 * (0.25 + 0.75 * d.dl / st.avgdl)) AS c
         |   FROM qt q JOIN post p USING (term) JOIN dfreq f USING (term)
         |     JOIN dl d ON d.doc_id = p.doc_id CROSS JOIN st),
         | bsc AS (SELECT query_id, doc_id,
         |     round(list_sum(list(c ORDER BY term)), 6) AS score
         |   FROM contrib GROUP BY query_id, doc_id),
         | bm AS (SELECT query_id, doc_id, rnk FROM (
         |   SELECT query_id, doc_id,
         |     row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rnk
         |   FROM bsc) WHERE rnk <= 10),
         | dq AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
         | dc AS (SELECT vec_id AS doc_id, embedding AS cv FROM embeddings),
         | dp AS (SELECT query_id, doc_id,
         |   list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i]::DOUBLE * cv[i]::DOUBLE)) AS dot,
         |   sqrt(list_sum(list_transform(qv, x -> x::DOUBLE * x::DOUBLE))) AS nq,
         |   sqrt(list_sum(list_transform(cv, x -> x::DOUBLE * x::DOUBLE))) AS nc
         |  FROM dq JOIN dc ON query_id != doc_id),
         | ds AS (SELECT query_id, doc_id, round(dot/(nq*nc), 6) AS sim FROM dp),
         | dn AS (SELECT query_id, doc_id, rnk FROM (
         |   SELECT query_id, doc_id, sim,
         |     row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, doc_id ASC) AS rnk
         |   FROM ds) WHERE rnk <= 10),
         | fused AS (SELECT query_id, doc_id,
         |     round(coalesce(1.0 / (60 + b.rnk), 0.0) + coalesce(1.0 / (60 + n.rnk), 0.0), 6) AS rrf_score
         |   FROM bm b FULL JOIN dn n USING (query_id, doc_id))
         |SELECT query_id, doc_id, rrf_score, rnk::INT AS rnk FROM (
         |  SELECT query_id, doc_id, rrf_score,
         |    row_number() OVER (PARTITION BY query_id ORDER BY rrf_score DESC, doc_id ASC) AS rnk
         |  FROM fused) WHERE rnk <= 10""".stripMargin
    },
    "qt21_dedup_delta" ->
      """WITH corpus AS (SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents WHERE doc_id < 250),
        | delta AS (SELECT doc_id, text, lang FROM documents WHERE doc_id >= 250
        |  UNION ALL SELECT doc_id + 10000, text, lang FROM documents WHERE doc_id < 100),
        | fps AS (SELECT doc_id, lang,
        |   md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp FROM delta),
        | kept AS (SELECT doc_id, lang, fp FROM
        |   (SELECT doc_id, lang, fp, min(doc_id) OVER (PARTITION BY fp) AS k FROM fps)
        |  WHERE doc_id = k)
        |SELECT doc_id, lang FROM kept WHERE fp NOT IN (SELECT fp FROM corpus)""".stripMargin,
    "qt19_mixture" ->
      """WITH en AS (SELECT doc_id,
        |   (('0x' || substr(md5(doc_id::VARCHAR || 'en'), 1, 12))::BIGINT)::DOUBLE
        |     / 281474976710656.0 AS u
        |  FROM documents WHERE lang = 'en'),
        | es AS (SELECT doc_id,
        |   (('0x' || substr(md5(doc_id::VARCHAR || 'es'), 1, 12))::BIGINT)::DOUBLE
        |     / 281474976710656.0 AS u
        |  FROM documents WHERE lang = 'es')
        |SELECT doc_id, 0::BIGINT AS mix_epoch, 'en' AS mix_source FROM en
        |UNION ALL SELECT doc_id, 1::BIGINT, 'en' FROM en WHERE u < 0.5
        |UNION ALL SELECT doc_id, 0::BIGINT, 'es' FROM es WHERE u < 0.4""".stripMargin,
    // BPE oracle: round i counts adjacent symbol pairs of w{i} weighted by
    // word frequency, picks the (cnt desc, l asc, r asc) argmax as m{i},
    // and applies it with the SAME space-doubling replace the Spark loop
    // uses — w/m CTEs MATERIALIZED (each is re-referenced; DuckDB would
    // otherwise re-inline the whole chain per reference, exponential in
    // rounds).
    "qt35_bpe_merges" -> {
      val out = (1 to 6).map(i =>
        s"""SELECT $i AS step, l AS "left", r AS "right", cnt AS pair_count FROM m$i""")
        .mkString("\nUNION ALL ")
      s"WITH ${bpeTrainCtes(6)}\n$out"
    },

    // BPE encode oracle: the training chain's m1..m6 applied in order to
    // every (doc, token) symbol line — the same per-round replace —
    // then one per-doc count.
    "qt36_bpe_encode" -> {
      val e0 =
        s"""e0 AS MATERIALIZED (SELECT doc_id,
           |     trim(regexp_replace(t.term, '(.)', '\\1 ', 'g')) AS syms
           |   FROM (SELECT doc_id, $tokensSql AS ts FROM documents), unnest(ts) AS t(term))""".stripMargin
      val estages = (1 to 6).map { i =>
        s"""e$i AS MATERIALIZED (SELECT e.doc_id,
           |     trim(regexp_replace(
           |       replace(' ' || replace(e.syms, ' ', '  ') || ' ',
           |         ' ' || m.l || '  ' || m.r || ' ', ' ' || m.l || m.r || ' '),
           |       ' +', ' ', 'g')) AS syms
           |   FROM e${i - 1} e CROSS JOIN m$i m)""".stripMargin
      }
      s"""WITH ${bpeTrainCtes(6)},
         | $e0,
         | ${estages.mkString(",\n ")}
         |SELECT doc_id, sum(len(string_split(syms, ' ')))::BIGINT AS n_bpe_tokens,
         | count(*)::BIGINT AS n_ws_tokens
         |FROM e6 GROUP BY doc_id""".stripMargin
    },
    "qt32_corpus_report" -> {
      val stopList = TextFns.LangId.profiles.flatMap(_._2).distinct
        .map(w => s"'$w'").mkString("(", ",", ")")
      s"""WITH t AS (SELECT source, lang,
         |  len($tokensSql)::DOUBLE AS n_tok,
         |  length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE AS n_chars,
         |  CASE WHEN length(text) = 0 THEN 0.0
         |       ELSE length(regexp_replace(text, '[^[:punct:]]', '', 'g'))::DOUBLE / length(text) END AS punct_ratio,
         |  CASE WHEN len($tokensSql) = 0 THEN 0.0
         |       ELSE len(list_filter(list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t != ''),
         |              w -> w IN $stopList))::DOUBLE / len($tokensSql) END AS stop_ratio,
         |  length(text)::BIGINT AS doc_len
         | FROM documents),
         | q AS (SELECT source, lang, n_tok::BIGINT AS tok, doc_len,
         |  (CASE WHEN n_tok >= 10 AND n_tok <= 100000 THEN 1.0 ELSE 0.3 END) * 0.25
         |  + (CASE WHEN (CASE WHEN n_tok = 0 THEN 0.0 ELSE n_chars / n_tok END) >= 2.0
         |          AND (CASE WHEN n_tok = 0 THEN 0.0 ELSE n_chars / n_tok END) <= 12.0 THEN 1.0 ELSE 0.3 END) * 0.25
         |  + (1.0 - least(punct_ratio * 4, 1.0)) * 0.25
         |  + least(stop_ratio * 5, 1.0) * 0.25 AS quality
         | FROM t),
         | r AS (SELECT *, row_number() OVER (PARTITION BY source, lang ORDER BY doc_len ASC, tok ASC) AS rn,
         |       count(*) OVER (PARTITION BY source, lang) AS n FROM q)
         |SELECT source, lang, count(*)::BIGINT AS n_docs, sum(tok)::BIGINT AS n_tokens,
         | round(avg(quality), 6) AS mean_quality,
         | max(CASE WHEN rn = (n + 1) // 2 THEN doc_len END)::BIGINT AS median_len
         |FROM r GROUP BY source, lang""".stripMargin
    },
    "qt33_top_fraction" -> {
      val stopList = TextFns.LangId.profiles.flatMap(_._2).distinct
        .map(w => s"'$w'").mkString("(", ",", ")")
      s"""WITH t AS (SELECT doc_id, lang,
         |  len($tokensSql)::DOUBLE AS n_tok,
         |  length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE AS n_chars,
         |  CASE WHEN length(text) = 0 THEN 0.0
         |       ELSE length(regexp_replace(text, '[^[:punct:]]', '', 'g'))::DOUBLE / length(text) END AS punct_ratio,
         |  CASE WHEN len($tokensSql) = 0 THEN 0.0
         |       ELSE len(list_filter(list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t != ''),
         |              w -> w IN $stopList))::DOUBLE / len($tokensSql) END AS stop_ratio
         | FROM documents),
         | q AS (SELECT doc_id, lang,
         |  (CASE WHEN n_tok >= 10 AND n_tok <= 100000 THEN 1.0 ELSE 0.3 END) * 0.25
         |  + (CASE WHEN (CASE WHEN n_tok = 0 THEN 0.0 ELSE n_chars / n_tok END) >= 2.0
         |          AND (CASE WHEN n_tok = 0 THEN 0.0 ELSE n_chars / n_tok END) <= 12.0 THEN 1.0 ELSE 0.3 END) * 0.25
         |  + (1.0 - least(punct_ratio * 4, 1.0)) * 0.25
         |  + least(stop_ratio * 5, 1.0) * 0.25 AS quality
         | FROM t),
         | r AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id ASC) AS rn,
         |       count(*) OVER (PARTITION BY lang) AS n FROM q)
         |SELECT doc_id, lang, round(quality, 6) AS quality
         |FROM r WHERE rn <= ceil(0.6 * n)""".stripMargin
    },
    // the oracle runs the PLAIN one-window formulation — the Spark entry's
    // two-phase skew path must be row-identical to it
    "qt31_source_quota" ->
      """SELECT doc_id, source, n_chars FROM (
        | SELECT doc_id, source, n_chars,
        |   row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id ASC) AS rn
        | FROM documents) WHERE rn <= 50""".stripMargin,
    "qt16_pack" -> {
      val toks = "list_filter(regexp_split_to_array(text, '\\s+'), t -> t != '')"
      s"""WITH d AS (SELECT doc_id, len($toks)::BIGINT AS n_tokens FROM documents),
         | sharded AS (SELECT doc_id, n_tokens,
         |   floor((('0x' || substr(md5(doc_id::VARCHAR), 1, 12))::BIGINT)::DOUBLE
         |     / 281474976710656.0 * 8)::INT AS shard
         |  FROM d WHERE n_tokens > 0),
         | cums AS (SELECT doc_id, shard, n_tokens,
         |   sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |     ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM sharded),
         | spans AS (SELECT doc_id, shard, cum, cum - n_tokens AS prev FROM cums),
         | pieces AS (SELECT doc_id, shard, prev, cum,
         |   unnest(generate_series(floor(prev / 128)::BIGINT,
         |     floor((cum - 1) / 128)::BIGINT)) AS seq
         |  FROM spans)
         |SELECT doc_id, shard, seq,
         | (greatest(prev, seq * 128) - prev)::BIGINT AS tok_start,
         | (least(cum, (seq + 1) * 128) - greatest(prev, seq * 128))::BIGINT AS tok_len
         |FROM pieces""".stripMargin
    },
    "qt17_scrub" -> {
      import graft.functions.TextFns.Pii
      s"""WITH p AS (SELECT doc_id,
         |   substr(text, 1, 40) || ' contact user' || doc_id::VARCHAR ||
         |   '@mail.example.com from 192.168.' || (doc_id % 256)::VARCHAR ||
         |   '.42 or call +34 600 123 4' || lpad((doc_id % 100)::VARCHAR, 2, '0') AS pii
         |  FROM documents)
         |SELECT doc_id,
         | regexp_replace(regexp_replace(regexp_replace(pii,
         |   '${Pii.email}', '<EMAIL>', 'g'),
         |   '${Pii.ipv4}', '<IP>', 'g'),
         |   '${Pii.phone}', '<PHONE>', 'g') AS scrubbed
         |FROM p""".stripMargin
    },
    "qt37_filtered_ann" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 20),
        | c AS (SELECT vec_id AS corpus_id, embedding AS cv FROM embeddings WHERE label = 3),
        | p AS (SELECT query_id, corpus_id,
        |   list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i]::DOUBLE * cv[i]::DOUBLE)) AS dot,
        |   sqrt(list_sum(list_transform(qv, x -> x::DOUBLE * x::DOUBLE))) AS nq,
        |   sqrt(list_sum(list_transform(cv, x -> x::DOUBLE * x::DOUBLE))) AS nc
        |  FROM q JOIN c ON query_id != corpus_id),
        | s AS (SELECT query_id, corpus_id, round(dot/(nq*nc), 6) AS sim FROM p),
        | r AS (SELECT query_id, corpus_id, sim,
        |   row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, corpus_id ASC) AS rnk FROM s)
        |SELECT query_id, corpus_id, sim, rnk::BIGINT AS rnk FROM r WHERE rnk <= 5""".stripMargin,
    "qt08_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 20),
        | c AS (SELECT vec_id AS corpus_id, embedding AS cv FROM embeddings),
        | p AS (SELECT query_id, corpus_id,
        |   list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i]::DOUBLE * cv[i]::DOUBLE)) AS dot,
        |   sqrt(list_sum(list_transform(qv, x -> x::DOUBLE * x::DOUBLE))) AS nq,
        |   sqrt(list_sum(list_transform(cv, x -> x::DOUBLE * x::DOUBLE))) AS nc
        |  FROM q JOIN c ON query_id != corpus_id),
        | s AS (SELECT query_id, corpus_id, round(dot/(nq*nc), 6) AS sim FROM p),
        | r AS (SELECT query_id, corpus_id, sim,
        |   row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, corpus_id ASC) AS rnk FROM s)
        |SELECT query_id, corpus_id, sim, rnk::BIGINT AS rnk FROM r WHERE rnk <= 5""".stripMargin,

    // Sign-LSH top-k, END TO END in SQL: hyperplanes re-derived from the
    // mix64 chain (HashSql), buckets from the dot signs, same bucket join +
    // exact rerank as the Spark plan. Exercises the full approximate path,
    // not just its recall summary.
    "qt09_lsh_topk" ->
      s"""WITH ${lshDotsCtes(maxTables = 4, maxPlanes = 6)},
         |${lshTopkCtes("v0", planes = 6, tables = 4, probes = 1, k = 5)}
         |SELECT query_id, corpus_id, sim, rnk::BIGINT AS rnk FROM topkv0""".stripMargin,

    // Recall of three LSH operating points vs the brute-force baseline —
    // both sides computed in SQL, so the driver verifies the recall VALUES,
    // not just that rows came back. One dot grid (12 tables × 6 planes)
    // serves every variant.
    "qt09r_lsh_recall" -> {
      def recallCte(tag: String): String =
        s"""r$tag AS (SELECT round(avg(CASE WHEN t.corpus_id IS NOT NULL THEN 1.0 ELSE 0.0 END), 4) AS rec
           |   FROM exact e LEFT JOIN topk$tag t
           |     ON t.query_id = e.query_id AND t.corpus_id = e.corpus_id)""".stripMargin
      s"""WITH ${lshDotsCtes(maxTables = 12, maxPlanes = 6)},
         | exact AS (SELECT query_id, corpus_id FROM (
         |   SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
         |     row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |       round(list_sum(list_transform(range(1, len(q.embedding) + 1),
         |         i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)) /
         |       (sqrt(list_sum(list_transform(q.embedding, x -> x::DOUBLE * x::DOUBLE))) *
         |        sqrt(list_sum(list_transform(c.embedding, x -> x::DOUBLE * x::DOUBLE)))), 6) DESC,
         |       c.vec_id ASC) AS rnk
         |   FROM embeddings q JOIN embeddings c ON q.vec_id < 20 AND q.vec_id != c.vec_id)
         |  WHERE rnk <= 5),
         |${lshTopkCtes("v1", planes = 6, tables = 4, probes = 1, k = 5)},
         |${lshTopkCtes("v2", planes = 3, tables = 12, probes = 1, k = 5)},
         |${lshTopkCtes("v3", planes = 6, tables = 4, probes = 4, k = 5)},
         |${recallCte("v1")},
         |${recallCte("v2")},
         |${recallCte("v3")}
         |SELECT 6 AS planes, 4 AS tables, 1 AS probes, rec AS recall_vs_brute FROM rv1
         |UNION ALL SELECT 3, 12, 1, rec FROM rv2
         |UNION ALL SELECT 6, 4, 4, rec FROM rv3""".stripMargin
    },

    // Seeded IVF (lloydIters=0): centroid choice (smallest signed
    // mix64(id), id tiebreak), cosine cell assignment (raw doubles — bit-
    // equal across engines, ranked before any rounding, exactly like the
    // Scala sortBy), nProbe probing, and exact rerank, all re-derived.
    "qt10s_ivf_seeded" -> {
      def dotSql(a: String, b: String): String =
        s"list_sum(list_transform(range(1, len($a) + 1), i -> $a[i]::DOUBLE * $b[i]::DOUBLE))"
      def nrmSql(a: String): String =
        s"sqrt(list_sum(list_transform($a, x -> x::DOUBLE * x::DOUBLE)))"
      s"""WITH h AS (SELECT vec_id, embedding, ${HashSql.mixCols("vec_id::UBIGINT")}
         |   FROM embeddings WHERE embedding IS NOT NULL),
         | seeds AS (SELECT vec_id, embedding,
         |     row_number() OVER (ORDER BY ${HashSql.toSigned("m")} ASC, vec_id ASC) - 1 AS cell
         |   FROM h QUALIFY cell < 16),
         | asgn AS (SELECT e.vec_id, s.cell,
         |     ${dotSql("e.embedding", "s.embedding")} /
         |       (${nrmSql("e.embedding")} * ${nrmSql("s.embedding")}) AS csim
         |   FROM embeddings e CROSS JOIN seeds s WHERE e.embedding IS NOT NULL),
         | ranked AS (SELECT vec_id, cell,
         |     row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell ASC) AS crnk
         |   FROM asgn),
         | home AS (SELECT vec_id AS corpus_id, cell FROM ranked WHERE crnk = 1),
         | probes AS (SELECT vec_id AS query_id, cell FROM ranked
         |   WHERE vec_id < 20 AND crnk <= 4),
         | cand AS (SELECT p.query_id, hm.corpus_id
         |   FROM probes p JOIN home hm ON p.cell = hm.cell AND p.query_id != hm.corpus_id),
         | sc AS (SELECT query_id, corpus_id,
         |     round(${dotSql("q.embedding", "c.embedding")} /
         |       (${nrmSql("q.embedding")} * ${nrmSql("c.embedding")}), 6) AS sim
         |   FROM cand JOIN embeddings q ON q.vec_id = query_id
         |     JOIN embeddings c ON c.vec_id = corpus_id),
         | r AS (SELECT query_id, corpus_id, sim,
         |     row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, corpus_id ASC) AS rnk
         |   FROM sc)
         |SELECT query_id, corpus_id, sim, rnk::BIGINT AS rnk FROM r WHERE rnk <= 5""".stripMargin
    },

    // Lloyd-trained IVF (lloydIters=1, oracle-mode means): the full
    // training → assignment → probe → rerank chain re-derived in SQL —
    // see ivfCtes. The shared `hh` CTE carries mix64(vec_id) for both the
    // seed ranking and (in qt10r's sampled variant) the training slice.
    "qt10_ivf_topk" ->
      s"""WITH hh AS (SELECT vec_id, embedding, ${HashSql.mixCols("vec_id::UBIGINT")}
         |   FROM embeddings WHERE embedding IS NOT NULL),
         | ${ivfCtes("a", nlist = 16, nProbe = 4, k = 5)}
         |SELECT query_id, corpus_id, sim, rnk::BIGINT AS rnk FROM tka""".stripMargin,

    // IVF recall operating points vs the brute-force baseline — both sides
    // in SQL so the recall VALUES are hash-verified (the qt09r discipline),
    // including the trainFraction=0.25 sampled-training point.
    "qt10r_ivf_recall" -> {
      def recallCte(tag: String): String =
        s"""r$tag AS (SELECT round(avg(CASE WHEN t.corpus_id IS NOT NULL THEN 1.0 ELSE 0.0 END), 4) AS rec
           |   FROM exact e LEFT JOIN tk$tag t
           |     ON t.query_id = e.query_id AND t.corpus_id = e.corpus_id)""".stripMargin
      s"""WITH hh AS (SELECT vec_id, embedding, ${HashSql.mixCols("vec_id::UBIGINT")}
         |   FROM embeddings WHERE embedding IS NOT NULL),
         | exact AS (SELECT query_id, corpus_id FROM (
         |   SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
         |     row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |       round(list_sum(list_transform(range(1, len(q.embedding) + 1),
         |         i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)) /
         |       (sqrt(list_sum(list_transform(q.embedding, x -> x::DOUBLE * x::DOUBLE))) *
         |        sqrt(list_sum(list_transform(c.embedding, x -> x::DOUBLE * x::DOUBLE)))), 6) DESC,
         |       c.vec_id ASC) AS rnk
         |   FROM embeddings q JOIN embeddings c ON q.vec_id < 20 AND q.vec_id != c.vec_id)
         |  WHERE rnk <= 5),
         |${ivfCtes("v1", nlist = 16, nProbe = 4, k = 5)},
         |${ivfCtes("v2", nlist = 16, nProbe = 14, k = 5)},
         |${ivfCtes("v3", nlist = 16, nProbe = 4, k = 5, trainScaled = 250000L)},
         |${recallCte("v1")},
         |${recallCte("v2")},
         |${recallCte("v3")}
         |SELECT 16 AS nlist, 4 AS n_probe, 100 AS train_pct, rec AS recall_vs_brute FROM rv1
         |UNION ALL SELECT 16, 14, 100, rec FROM rv2
         |UNION ALL SELECT 16, 4, 25, rec FROM rv3""".stripMargin
    },

    // Quantized-ANN recall: the int8-scored shortlist path vs the
    // all-float path on the same index — both sides AND the exact
    // baseline in SQL, so the recall deltas (the price of the 4× memory
    // cut) are hash-verified values. The shared `qzn` CTE re-derives the
    // qt22 quantization plus integer norms once for all variants.
    "qt22r_quantized_ann_recall" -> {
      def recallCte(tag: String): String =
        s"""r$tag AS (SELECT round(avg(CASE WHEN t.corpus_id IS NOT NULL THEN 1.0 ELSE 0.0 END), 4) AS rec
           |   FROM exact e LEFT JOIN topk$tag t
           |     ON t.query_id = e.query_id AND t.corpus_id = e.corpus_id)""".stripMargin
      s"""WITH ${lshDotsCtes(maxTables = 4, maxPlanes = 6)},
         | qzn AS (SELECT vec_id, qv,
         |    sqrt(list_sum(list_transform(qv, x -> (x * x)::BIGINT))::DOUBLE) AS qn
         |   FROM (SELECT vec_id,
         |     CASE WHEN mab = 0 THEN list_transform(embedding, x -> 0)
         |          ELSE list_transform(embedding,
         |                 x -> floor(x::DOUBLE * 127.0 / mab + 0.5)::INTEGER) END AS qv
         |    FROM (SELECT vec_id, embedding,
         |      CASE WHEN len(embedding) = 0 THEN 0.0
         |           ELSE list_max(list_transform(embedding, x -> abs(x::DOUBLE))) END AS mab
         |     FROM embeddings WHERE embedding IS NOT NULL))),
         | exact AS (SELECT query_id, corpus_id FROM (
         |   SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
         |     row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |       round(list_sum(list_transform(range(1, len(q.embedding) + 1),
         |         i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)) /
         |       (sqrt(list_sum(list_transform(q.embedding, x -> x::DOUBLE * x::DOUBLE))) *
         |        sqrt(list_sum(list_transform(c.embedding, x -> x::DOUBLE * x::DOUBLE)))), 6) DESC,
         |       c.vec_id ASC) AS rnk
         |   FROM embeddings q JOIN embeddings c ON q.vec_id < 20 AND q.vec_id != c.vec_id)
         |  WHERE rnk <= 5),
         |${lshTopkCtes("v1", planes = 6, tables = 4, probes = 4, k = 5)},
         |${lshTopkInt8Ctes("v2", planes = 6, tables = 4, probes = 4, k = 5, rerank = 10)},
         |${lshTopkInt8Ctes("v3", planes = 6, tables = 4, probes = 4, k = 5, rerank = 25)},
         |${recallCte("v1")},
         |${recallCte("v2")},
         |${recallCte("v3")}
         |SELECT 6 AS planes, 4 AS tables, 0 AS rerank, rec AS recall_vs_brute FROM rv1
         |UNION ALL SELECT 6, 4, 10, rec FROM rv2
         |UNION ALL SELECT 6, 4, 25, rec FROM rv3""".stripMargin
    },

    // Quantized-IVF recall: one shared Lloyd-trained candidate set
    // (ivfCtes emits cndv1 alongside tkv1 — unreferenced CTEs cost
    // nothing), one shared quantized scoring pass, two shortlist cuts.
    "qt25_ivf_int8_recall" -> {
      s"""WITH hh AS (SELECT vec_id, embedding, ${HashSql.mixCols("vec_id::UBIGINT")}
         |   FROM embeddings WHERE embedding IS NOT NULL),
         | qzn AS (SELECT vec_id, qv,
         |    sqrt(list_sum(list_transform(qv, x -> (x * x)::BIGINT))::DOUBLE) AS qn
         |   FROM (SELECT vec_id,
         |     CASE WHEN mab = 0 THEN list_transform(embedding, x -> 0)
         |          ELSE list_transform(embedding,
         |                 x -> floor(x::DOUBLE * 127.0 / mab + 0.5)::INTEGER) END AS qv
         |    FROM (SELECT vec_id, embedding,
         |      CASE WHEN len(embedding) = 0 THEN 0.0
         |           ELSE list_max(list_transform(embedding, x -> abs(x::DOUBLE))) END AS mab
         |     FROM embeddings WHERE embedding IS NOT NULL))),
         | exact AS (SELECT query_id, corpus_id FROM (
         |   SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
         |     row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |       round(list_sum(list_transform(range(1, len(q.embedding) + 1),
         |         i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)) /
         |       (sqrt(list_sum(list_transform(q.embedding, x -> x::DOUBLE * x::DOUBLE))) *
         |        sqrt(list_sum(list_transform(c.embedding, x -> x::DOUBLE * x::DOUBLE)))), 6) DESC,
         |       c.vec_id ASC) AS rnk
         |   FROM embeddings q JOIN embeddings c ON q.vec_id < 20 AND q.vec_id != c.vec_id)
         |  WHERE rnk <= 5),
         |${ivfCtes("v1", nlist = 16, nProbe = 4, k = 5)},
         | qscv2 AS (SELECT query_id, corpus_id,
         |     list_sum(list_transform(range(1, len(a.qv) + 1),
         |       i -> (a.qv[i] * b.qv[i])::BIGINT))::DOUBLE / (a.qn * b.qn) AS qsim
         |   FROM cndv1 JOIN qzn a ON a.vec_id = query_id
         |     JOIN qzn b ON b.vec_id = corpus_id),
         | slv2 AS (SELECT query_id, corpus_id FROM (
         |     SELECT query_id, corpus_id,
         |       row_number() OVER (PARTITION BY query_id ORDER BY qsim DESC, corpus_id ASC) AS qrnk
         |     FROM qscv2) WHERE qrnk <= 10),
         | ${cosineTopkCtes("v2", "slv2", 5)},
         | slv3 AS (SELECT query_id, corpus_id FROM (
         |     SELECT query_id, corpus_id,
         |       row_number() OVER (PARTITION BY query_id ORDER BY qsim DESC, corpus_id ASC) AS qrnk
         |     FROM qscv2) WHERE qrnk <= 25),
         | ${cosineTopkCtes("v3", "slv3", 5)},
         | rv1 AS (SELECT round(avg(CASE WHEN t.corpus_id IS NOT NULL THEN 1.0 ELSE 0.0 END), 4) AS rec
         |   FROM exact e LEFT JOIN tkv1 t
         |     ON t.query_id = e.query_id AND t.corpus_id = e.corpus_id),
         | rv2 AS (SELECT round(avg(CASE WHEN t.corpus_id IS NOT NULL THEN 1.0 ELSE 0.0 END), 4) AS rec
         |   FROM exact e LEFT JOIN topkv2 t
         |     ON t.query_id = e.query_id AND t.corpus_id = e.corpus_id),
         | rv3 AS (SELECT round(avg(CASE WHEN t.corpus_id IS NOT NULL THEN 1.0 ELSE 0.0 END), 4) AS rec
         |   FROM exact e LEFT JOIN topkv3 t
         |     ON t.query_id = e.query_id AND t.corpus_id = e.corpus_id)
         |SELECT 16 AS nlist, 4 AS n_probe, 0 AS rerank, rec AS recall_vs_brute FROM rv1
         |UNION ALL SELECT 16, 4, 10, rec FROM rv2
         |UNION ALL SELECT 16, 4, 25, rec FROM rv3""".stripMargin
    },

    // PQ training + encoding re-derived in SQL: same seeds, same Lloyd-1
    // subspace means (ordered fold, FLOAT cast), same L2 assignment and
    // tiebreak — the code strings must hash-match bit-for-bit ('-'-joined
    // scalar on both sides; the harness cannot sort array columns).
    "qt27_pq_encode" -> {
      s"""WITH hh AS (SELECT vec_id, embedding, ${HashSql.mixCols("vec_id::UBIGINT")}
         |   FROM embeddings WHERE embedding IS NOT NULL),
         | ${pqCtes("p", m = 4, ksub = 16)}
         |SELECT h.vec_id,
         |  array_to_string([c0.code, c1.code, c2.code, c3.code], '-') AS codes
         |FROM hh h JOIN codep0 c0 USING (vec_id) JOIN codep1 c1 USING (vec_id)
         |  JOIN codep2 c2 USING (vec_id) JOIN codep3 c3 USING (vec_id)""".stripMargin
    },

    // PQ ADC recall operating points vs the brute-force baseline — codes,
    // lookup tables, left-to-right ADC sums, shortlists, and exact reranks
    // all re-derived in SQL so the recall VALUES are hash-verified.
    "qt27r_pq_recall" -> {
      def recallCte(rtag: String, src: String): String =
        s"""r$rtag AS (SELECT round(avg(CASE WHEN t.corpus_id IS NOT NULL THEN 1.0 ELSE 0.0 END), 4) AS rec
           |   FROM exact e LEFT JOIN $src t
           |     ON t.query_id = e.query_id AND t.corpus_id = e.corpus_id)""".stripMargin
      s"""WITH hh AS (SELECT vec_id, embedding, ${HashSql.mixCols("vec_id::UBIGINT")}
         |   FROM embeddings WHERE embedding IS NOT NULL),
         | nrm AS MATERIALIZED (SELECT vec_id,
         |     sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nv
         |   FROM hh),
         | exact AS (SELECT query_id, corpus_id FROM (
         |   SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
         |     row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |       round(list_sum(list_transform(range(1, len(q.embedding) + 1),
         |         i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)) /
         |       (sqrt(list_sum(list_transform(q.embedding, x -> x::DOUBLE * x::DOUBLE))) *
         |        sqrt(list_sum(list_transform(c.embedding, x -> x::DOUBLE * x::DOUBLE)))), 6) DESC,
         |       c.vec_id ASC) AS rnk
         |   FROM embeddings q JOIN embeddings c ON q.vec_id < 20 AND q.vec_id != c.vec_id)
         |  WHERE rnk <= 5),
         | ${pqCtes("a", m = 4, ksub = 16)},
         | ${pqScoreCtes("4", "a", m = 4)},
         | tkv1 AS (SELECT query_id, corpus_id FROM (
         |     SELECT query_id, corpus_id,
         |       row_number() OVER (PARTITION BY query_id ORDER BY qsim DESC, corpus_id ASC) AS rnk
         |     FROM qsc4) WHERE rnk <= 5),
         | slv2 AS (SELECT query_id, corpus_id FROM (
         |     SELECT query_id, corpus_id,
         |       row_number() OVER (PARTITION BY query_id ORDER BY qsim DESC, corpus_id ASC) AS qrnk
         |     FROM qsc4) WHERE qrnk <= 25),
         | ${cosineTopkCtes("v2", "slv2", 5)},
         | ${pqCtes("b", m = 8, ksub = 16)},
         | ${pqScoreCtes("8", "b", m = 8)},
         | slv3 AS (SELECT query_id, corpus_id FROM (
         |     SELECT query_id, corpus_id,
         |       row_number() OVER (PARTITION BY query_id ORDER BY qsim DESC, corpus_id ASC) AS qrnk
         |     FROM qsc8) WHERE qrnk <= 25),
         | ${cosineTopkCtes("v3", "slv3", 5)},
         | ${recallCte("v1", "tkv1")},
         | ${recallCte("v2", "topkv2")},
         | ${recallCte("v3", "topkv3")}
         |SELECT 4 AS m, 16 AS ksub, 0 AS rerank, rec AS recall_vs_brute FROM rv1
         |UNION ALL SELECT 4, 16, 25, rec FROM rv2
         |UNION ALL SELECT 8, 16, 25, rec FROM rv3""".stripMargin
    },

    // IVFPQ recall: ONE shared ivf assignment (asgz) + ONE shared PQ
    // codebook chain (pqCtes "z") feed three operating points — candidates
    // cell-pruned per nProbe, ADC-scored via pqScoreCtes with the IVF
    // candidate CTE swapped in for the exhaustive pair scan.
    "qt30_ivfpq_recall" -> {
      def cndCte(tag: String, nProbe: Int): String =
        s"""cnd$tag AS (SELECT p.query_id, h.corpus_id
           |   FROM (SELECT vec_id AS query_id, cell FROM asgz
           |          WHERE vec_id < 20 AND crnk <= $nProbe) p
           |   JOIN (SELECT vec_id AS corpus_id, cell FROM asgz WHERE crnk = 1) h
           |     ON p.cell = h.cell AND p.query_id != h.corpus_id)""".stripMargin
      def recallCte(rtag: String, src: String): String =
        s"""r$rtag AS (SELECT round(avg(CASE WHEN t.corpus_id IS NOT NULL THEN 1.0 ELSE 0.0 END), 4) AS rec
           |   FROM exact e LEFT JOIN $src t
           |     ON t.query_id = e.query_id AND t.corpus_id = e.corpus_id)""".stripMargin
      s"""WITH hh AS (SELECT vec_id, embedding, ${HashSql.mixCols("vec_id::UBIGINT")}
         |   FROM embeddings WHERE embedding IS NOT NULL),
         | nrm AS MATERIALIZED (SELECT vec_id,
         |     sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nv
         |   FROM hh),
         | exact AS (SELECT query_id, corpus_id FROM (
         |   SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
         |     row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |       round(list_sum(list_transform(range(1, len(q.embedding) + 1),
         |         i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)) /
         |       (sqrt(list_sum(list_transform(q.embedding, x -> x::DOUBLE * x::DOUBLE))) *
         |        sqrt(list_sum(list_transform(c.embedding, x -> x::DOUBLE * x::DOUBLE)))), 6) DESC,
         |       c.vec_id ASC) AS rnk
         |   FROM embeddings q JOIN embeddings c ON q.vec_id < 20 AND q.vec_id != c.vec_id)
         |  WHERE rnk <= 5),
         | ${ivfAssignCtes("z", nlist = 16)},
         | ${pqCtes("z", m = 4, ksub = 16)},
         | ${cndCte("v1", nProbe = 4)},
         | ${pqScoreCtes("v1", "z", m = 4, pairsFrom = Some("cndv1"))},
         | tkv1 AS (SELECT query_id, corpus_id FROM (
         |     SELECT query_id, corpus_id,
         |       row_number() OVER (PARTITION BY query_id ORDER BY qsim DESC, corpus_id ASC) AS rnk
         |     FROM qscv1) WHERE rnk <= 5),
         | slv2 AS (SELECT query_id, corpus_id FROM (
         |     SELECT query_id, corpus_id,
         |       row_number() OVER (PARTITION BY query_id ORDER BY qsim DESC, corpus_id ASC) AS qrnk
         |     FROM qscv1) WHERE qrnk <= 25),
         | ${cosineTopkCtes("v2", "slv2", 5)},
         | ${cndCte("v3", nProbe = 14)},
         | ${pqScoreCtes("v3", "z", m = 4, pairsFrom = Some("cndv3"))},
         | slv3 AS (SELECT query_id, corpus_id FROM (
         |     SELECT query_id, corpus_id,
         |       row_number() OVER (PARTITION BY query_id ORDER BY qsim DESC, corpus_id ASC) AS qrnk
         |     FROM qscv3) WHERE qrnk <= 25),
         | ${cosineTopkCtes("v3", "slv3", 5)},
         | ${recallCte("v1", "tkv1")},
         | ${recallCte("v2", "topkv2")},
         | ${recallCte("v3", "topkv3")}
         |SELECT 4 AS n_probe, 16 AS nlist, 0 AS rerank, rec AS recall_vs_brute FROM rv1
         |UNION ALL SELECT 4, 16, 25, rec FROM rv2
         |UNION ALL SELECT 14, 16, 25, rec FROM rv3""".stripMargin
    },

    // Pair-set recall of the LSH-bucketed near-dup variants vs the exact
    // all-pairs baseline — both sides in SQL, same dot grid as qt09r.
    "qt12r_embed_neardup_recall" -> {
      def recallCte(tag: String): String =
        s"""r$tag AS (SELECT round(avg(CASE WHEN v.id_a IS NOT NULL THEN 1.0 ELSE 0.0 END), 4) AS rec
           |   FROM exact e LEFT JOIN pv$tag v ON v.id_a = e.id_a AND v.id_b = e.id_b)""".stripMargin
      s"""WITH ${lshDotsCtes(maxTables = 4, maxPlanes = 8)},
         | exact AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |   FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |   WHERE (a.vec_id % 31 = 7 OR b.vec_id % 31 = 7)
         |     AND round(list_sum(list_transform(range(1, len(a.embedding) + 1),
         |       i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)) /
         |     (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE))) *
         |      sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)))), 6) >= 0.4),
         |${lshPairCtes("v1", planes = "8", tables = 4, probes = 1, threshold = 0.4)},
         |${lshPairCtes("v2", planes = "8", tables = 4, probes = 4, threshold = 0.4)},
         |${lshPairCtes("v3", planes = "8", tables = 2, probes = 4, threshold = 0.4)},
         |${lshPairCtes("v4", planes = "6", tables = 4, probes = 6, threshold = 0.4)},
         |${recallCte("v1")},
         |${recallCte("v2")},
         |${recallCte("v3")},
         |${recallCte("v4")}
         |SELECT 8 AS planes, 4 AS tables, 1 AS probes, rec AS recall_vs_brute FROM rv1
         |UNION ALL SELECT 8, 4, 4, rec FROM rv2
         |UNION ALL SELECT 8, 2, 4, rec FROM rv3
         |UNION ALL SELECT 6, 4, 6, rec FROM rv4""".stripMargin
    },

    // qt12's PRODUCTION-RULE twin: the full LSH-bucketed near-dup pair set
    // at the lshPlanesForCorpus operating point — planes ride log₂(N) (so
    // buckets scale with the corpus; see the rule's scaladoc), tables=4,
    // probes=2, exact-cosine verify at qt12's threshold. The derived plane
    // count is emitted as a column so the oracle certifies the RULE, not
    // just the pair set. Both engines derive planes from count(*) in
    // integer arithmetic — no fp-log boundary hazard.
    "qt12p_embed_neardup_prod" ->
      s"""WITH ${lshPlanesRuleCtes()},
         | ${lshDotsCtes(maxTables = 4, maxPlanes = 24,
               planesFilter = "p < (SELECT pl FROM plc)")},
         |${lshPairCtes("v1", planes = "(SELECT pl FROM plc)", tables = 4,
               probes = 2, threshold = 0.4, emitSim = true)}
         |SELECT id_a, id_b, cos_sim, (SELECT pl FROM plc) AS planes
         |FROM pvv1""".stripMargin,

    // qt12r's SCALED-ORACLE twin (the qt26rs both-endpoints-in-panel
    // discipline): exact baseline AND the LSH pair sets restricted to
    // vec_id % 31 = 7 on BOTH endpoints. Sign-LSH hyperplanes are
    // data-independent, so a pair's buckets — hence its candidacy — are
    // unchanged by filtering the rest of the corpus away: the dots grid
    // itself is panel-restricted and every stage costs |panel|-scale at
    // any decade (961× cheaper than qt12r's panel-touching baseline).
    // The production-rule point still derives planes from the FULL corpus
    // count (what the rule is graded on); threshold 0.2 because the
    // near-random fixture has no both-in-panel pair above 0.4 at base
    // scale (the qt26rs calibration).
    "qt12rs_embed_neardup_recall_panel" -> {
      def recallCte(tag: String): String =
        s"""r$tag AS (SELECT round(avg(CASE WHEN v.id_a IS NOT NULL THEN 1.0 ELSE 0.0 END), 4) AS rec
           |   FROM exact e LEFT JOIN pv$tag v ON v.id_a = e.id_a AND v.id_b = e.id_b)""".stripMargin
      s"""WITH ${lshPlanesRuleCtes()},
         | ${lshDotsCtes(maxTables = 4, maxPlanes = 24,
               planesFilter = "p < greatest(8, (SELECT pl FROM plc))",
               vecWhere = "AND e.vec_id % 31 = 7")},
         | exact AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |   FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |   WHERE a.vec_id % 31 = 7 AND b.vec_id % 31 = 7
         |     AND round(list_sum(list_transform(range(1, len(a.embedding) + 1),
         |       i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)) /
         |     (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE))) *
         |      sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)))), 6) >= 0.2),
         |${lshPairCtes("v1", planes = "8", tables = 4, probes = 1, threshold = 0.2)},
         |${lshPairCtes("v2", planes = "8", tables = 4, probes = 4, threshold = 0.2)},
         |${lshPairCtes("v3", planes = "6", tables = 4, probes = 6, threshold = 0.2)},
         |${lshPairCtes("v4", planes = "(SELECT pl FROM plc)", tables = 4,
               probes = 2, threshold = 0.2)},
         |${recallCte("v1")},
         |${recallCte("v2")},
         |${recallCte("v3")},
         |${recallCte("v4")}
         |SELECT 8 AS planes, 4 AS tables, 1 AS probes, rec AS recall_vs_brute FROM rv1
         |UNION ALL SELECT 8, 4, 4, rec FROM rv2
         |UNION ALL SELECT 6, 4, 6, rec FROM rv3
         |UNION ALL SELECT (SELECT pl FROM plc), 4, 2, rec FROM rv4""".stripMargin
    }))

  /** qt05's oracle, parameterized on the Jaccard threshold: the
    * prefix-filtered variant runs the SAME exact semantics at a production
    * dedup threshold, so its oracle is this SQL with its own cutoff.
    */
  private def ngramJaccardOracle(threshold: String): String =
    s"""WITH toks AS (SELECT doc_id, lang, $tokensSql AS ts FROM documents),
       | sh AS (SELECT doc_id, lang,
       |   CASE WHEN len(ts) = 0 THEN []
       |        WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')]
       |        ELSE list_distinct(list_transform(range(1, len(ts) - 1),
       |               i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) END AS sh
       |  FROM toks),
       | sized AS (SELECT doc_id, lang, sh, len(sh) AS n FROM sh WHERE len(sh) > 0),
       | posts AS (SELECT doc_id, lang, n, unnest(sh) AS shingle FROM sized),
       | cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb,
       |   count(*) AS inter
       |  FROM posts a JOIN posts b
       |   ON a.shingle = b.shingle AND a.lang = b.lang AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2, 3, 4)
       |SELECT id_a, id_b, round(inter/(na + nb - inter), 6) AS jaccard
       |FROM cand WHERE round(inter/(na + nb - inter), 6) >= $threshold""".stripMargin

  /** Oracles shared by construction-equivalent queries: the prefix-filtered
    * Jaccard join is exact, so its oracle is qt05's SQL at its threshold.
    */
  private def withDerived(base: Map[String, String]): Map[String, String] =
    base + ("qt05p_ngram_jaccard_prefix" -> ngramJaccardOracle("0.7")) +
      ("qt05t_ngram_jaccard_t07" -> ngramJaccardOracle("0.7")) +
      ("qt23_editdist_verify" ->
        s"""WITH pairs AS (
           |${ngramJaccardOracle("0.15")})
           |SELECT p.id_a, p.id_b, p.jaccard,
           | levenshtein(a.text, b.text)::BIGINT AS edit_dist,
           | levenshtein(a.text, b.text)::DOUBLE
           |   / greatest(length(a.text), length(b.text))::DOUBLE AS edit_ratio
           |FROM pairs p
           |JOIN documents a ON p.id_a = a.doc_id
           |JOIN documents b ON p.id_b = b.doc_id""".stripMargin) +
      ("qt24_neardup_delta" ->
        s"""WITH u AS (SELECT doc_id, text FROM documents
           |  UNION ALL SELECT -(doc_id + 1), text FROM documents WHERE doc_id % 25 = 1),
           | toks AS (SELECT doc_id, $tokensSql AS ts FROM u),
           | sh AS (SELECT doc_id,
           |   CASE WHEN len(ts) = 0 THEN []
           |        WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')]
           |        ELSE list_distinct(list_transform(range(1, len(ts) - 1),
           |               i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) END AS sh
           |  FROM toks),
           | sized AS (SELECT doc_id, sh, len(sh) AS n FROM sh WHERE len(sh) > 0),
           | posts AS (SELECT doc_id, n, unnest(sh) AS shingle FROM sized),
           | cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb,
           |   count(*) AS inter
           |  FROM posts a JOIN posts b
           |   ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2, 3, 4)
           |SELECT id_a, id_b, round(inter/(na + nb - inter), 6) AS jaccard
           |FROM cand WHERE round(inter/(na + nb - inter), 6) >= 0.7
           |  AND (id_a % 25 = 0 OR id_a < 0
           |    OR id_b % 25 = 0 OR id_b < 0)""".stripMargin) +
      ("qt22_quantize_int8" ->
        """WITH m AS (SELECT vec_id,
          |   CASE WHEN len(embedding) = 0 THEN 0.0
          |        ELSE list_max(list_transform(embedding, x -> abs(x::DOUBLE))) END AS max_abs,
          |   embedding FROM embeddings),
          | q AS (SELECT vec_id, max_abs,
          |   CASE WHEN max_abs = 0 THEN list_transform(embedding, x -> 0)
          |        ELSE list_transform(embedding,
          |               x -> floor(x::DOUBLE * 127.0 / max_abs + 0.5)::INTEGER)
          |   END AS quant
          |  FROM m)
          |SELECT vec_id, max_abs / 127.0 AS scale,
          | list_sum(quant)::BIGINT AS q_sum,
          | list_min(quant)::BIGINT AS q_min,
          | list_max(quant)::BIGINT AS q_max
          |FROM q""".stripMargin) +
      // Duplicate spans: the oracle groups by the window STRING where the
      // engine groups by its fnv1a64 — a hash collision would merge two
      // distinct windows and hash-mismatch here (same certificate shape as
      // the fingerprint family). Shared CTE chain; MATERIALIZED on the
      // twice-referenced frames (DuckDB re-inlines CTEs per reference).
      ("qt29_dup_spans" ->
        s"""$dupSpanCtes
           |SELECT s.doc_id, s.pos::BIGINT AS pos,
           | d.n_docs::BIGINT AS n_docs, d.n_occ::BIGINT AS n_occ
           |FROM wstr s JOIN dups d USING (w)""".stripMargin) +
      ("qt29s_dup_span_stats" ->
        s"""$dupSpanCtes,
           | spans AS (SELECT s.doc_id, s.pos FROM wstr s JOIN dups d USING (w)),
           | merged AS (SELECT doc_id, pos,
           |    greatest(0, pos + 7 - greatest(pos - 1,
           |      coalesce(max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))) AS newcov
           |   FROM spans),
           | cov AS (SELECT doc_id, count(*) AS ndw, sum(newcov) AS covered
           |   FROM merged GROUP BY 1)
           |SELECT t.doc_id, len(t.ts)::BIGINT AS n_tokens,
           | coalesce(c.ndw, 0)::BIGINT AS n_dup_windows,
           | coalesce(c.covered, 0)::BIGINT AS covered_tokens,
           | CASE WHEN len(t.ts) = 0 THEN 0.0
           |      ELSE round(coalesce(c.covered, 0)::DOUBLE / len(t.ts), 6) END AS dup_frac
           |FROM toks t LEFT JOIN cov c USING (doc_id)""".stripMargin)

  /** Shared window/duplicate CTE chain for the qt29 pair (w = 8). */
  private def dupSpanCtes: String =
    s"""WITH toks AS MATERIALIZED (SELECT doc_id, $tokensSql AS ts
       |   FROM documents WHERE text IS NOT NULL),
       | wins AS (SELECT doc_id, unnest(range(1, len(ts) - 6)) AS pos, ts
       |   FROM toks WHERE len(ts) >= 8),
       | wstr AS MATERIALIZED (SELECT doc_id, pos,
       |   array_to_string(ts[pos:pos+7], ' ') AS w FROM wins),
       | perdoc AS (SELECT w, doc_id, count(*) AS occ FROM wstr GROUP BY 1, 2),
       | dups AS (SELECT w, count(*) AS n_docs, sum(occ) AS n_occ FROM perdoc
       |   GROUP BY 1 HAVING count(*) >= 2)""".stripMargin
}
