#!/usr/bin/env bash
# One-command scale parity sweep: synthesize the N-copy fixture, dump the
# full catalog with graft.Verify, diff every oracle in DuckDB (subprocess-
# isolated, wall-capped, staged where registered), write PARITY_<tag>.json.
#
#   tools/sweep.sh <copies> [tag] [baseSfDir]
#
#   tools/sweep.sh 10  r13          # reproduces the round-12 10x record
#   tools/sweep.sh 100 r13_100x     # the 100x twin
#
# Base defaults to sf0.1 — the base every exponent probe and parity
# sweep since round 10 has used (10x = 10 disjoint re-keyed copies of
# sf0.1; see Probe.synthFixture for the re-keying rules).
#
# Knobs (env, all optional):
#   GRAFT_SWEEP_CPUS     local[N] for the synthesis and the Spark dump
#                        (default 16)
#   GRAFT_ORACLE_TIMEOUT per-oracle wall cap, seconds (default 400)
#   GRAFT_ENTRY_TIMEOUT  per-ENTRY Spark wall cap, seconds (default 900)
#                        — a capacity-bound entry at the scale fixture
#                        becomes a _CAPACITY skip, not a multi-hour stall
#   GRAFT_DUMP_MEM       Spark driver heap for the dump (default 24g; the
#                        dump runs ALONE, so it can take real heap — the
#                        build.sbt 8g default OOMed the r14 100x dump when
#                        hash-order put the trade-graph store build on top
#                        of accumulated entry caches)
#   GRAFT_DUCKDB_MEM     DuckDB budget (default 70GB — leaves room for the
#                        page cache; NEVER run the diff concurrently with a
#                        Spark JVM, the two together exhaust RAM)
#   GRAFT_STAGED_RETRY_TIMEOUT  wall cap for the automatic STAGED_AT_SCALE
#                        standalone retries diffcheck runs after the main
#                        pass (default 1500; 0 disables) — every staged
#                        entry whose oracle skipped under the in-sweep cap
#                        is re-run serially with this cap and the outcome
#                        folded into the parity JSON as `retry` evidence,
#                        so the record stays self-contained (r15 lesson)
#   GRAFT_ONLY           comma list to restrict both dump and diff
#   GRAFT_CAPACITY_SKIP  comma list of entries pre-declared Spark-capacity
#                        at this fixture (marker written without running;
#                        reason must be in diffcheck's CAPACITY_BY_DESIGN)
#   GRAFT_RESUME=1       keep complete artifacts from a prior dump against
#                        the same out dir (crash-resume for long sweeps)
#
# The Spark dump and the DuckDB diff run SERIALLY by construction — that
# is the documented safe regime (see .claude/skills/verify/SKILL.md).
set -euo pipefail
cd "$(dirname "$0")/.."

COPIES="${1:?usage: tools/sweep.sh <copies> [tag] [baseSfDir]}"
TAG="${2:-${COPIES}x}"
BASE="${3:-/root/testdata/sf0.1}"
CPUS="${GRAFT_SWEEP_CPUS:-16}"
TIMEOUT="${GRAFT_ORACLE_TIMEOUT:-400}"
ENTRY_TIMEOUT="${GRAFT_ENTRY_TIMEOUT:-900}"
MEM="${GRAFT_DUCKDB_MEM:-70GB}"
# spill-aware shuffle sizing (the rule of the round-10 scale-exponent
# runs, docs/SCALE.md): partitions ride the fixture — 32 at <=10x,
# 32*copies/10 above, so per-task sort volume
# stays roughly constant as the corpus grows. Passed to the dump as
# SPARK_GRAFT_SHUFFLE_PARTITIONS, it also sizes the bucket count of every
# store the dump builds (BM25, corpus state, the trade-edge store)
SHUF=$(( 32 * (COPIES > 10 ? COPIES / 10 : 1) ))
FIXTURE="/tmp/graft_sweep_${COPIES}x"
OUT="/tmp/graft_sweep_out_${TAG}"
PARITY="PARITY_${TAG}.json"

# a completed synthesis is stamped and reused (deterministic for a given
# base+copies); a crashed/partial one is re-run
if [ -f "${FIXTURE}/.synth_done" ] \
   && [ "$(cat "${FIXTURE}/.synth_done")" = "${BASE} ${COPIES}" ]; then
  echo "[sweep] 1/3 reusing synthesized fixture ${FIXTURE}"
else
  echo "[sweep] 1/3 synthesizing ${COPIES}x fixture from ${BASE} -> ${FIXTURE}"
  # full synth log kept and exit code honored (a grep-filtered pipe swallows
  # sbt's exit code — the same pitfall the step-2 comment documents); the
  # stamp is written only after EVERY table synthFixture emits exists, so a
  # crash between tables can never cache a partial fixture for later sweeps
  SYNTHLOG="/tmp/graft_sweep_synth_${TAG}.log"
  env SPARK_GRAFT_CPUS="${CPUS}" \
    sbt -batch "runMain graft.Probe synth ${BASE} ${COPIES} ${FIXTURE}" \
    > "${SYNTHLOG}" 2>&1 || {
    echo "[sweep] synthesis ABORTED (sbt failure) — see ${SYNTHLOG}" >&2
    grep -E '"probe"|error|OutOfMemory|Killed' "${SYNTHLOG}" | tail -20 >&2
    exit 1
  }
  grep -E '"probe"' "${SYNTHLOG}" || true
  # keep in sync with Probe.synthFixture's keyCols + verbatim
  for t in documents embeddings orders lineitem customer supplier events \
           nation region part; do
    test -d "${FIXTURE}/${t}.parquet" || {
      echo "[sweep] synthesis failed: ${FIXTURE}/${t}.parquet missing" >&2
      exit 1
    }
  done
  echo "${BASE} ${COPIES}" > "${FIXTURE}/.synth_done"
fi

echo "[sweep] 2/3 dumping catalog at ${FIXTURE} (local[${CPUS}]) -> ${OUT}"
# `env` (not bare prefix assignments): a ${VAR:+...} expansion is not an
# assignment at bash parse time, so a bare-prefix form silently turns the
# next assignment into the command word
# full dump log kept (a grep-filtered pipe loses Spark's own fatal
# lines AND the pipe swallows sbt's exit code — both bit round 13)
DUMPLOG="/tmp/graft_sweep_dump_${TAG}.log"
env SPARK_GRAFT_CPUS="${CPUS}" \
  SPARK_DRIVER_MEM="${GRAFT_DUMP_MEM:-24g}" \
  SPARK_GRAFT_SHUFFLE_PARTITIONS="${SHUF}" \
  SPARK_GRAFT_ENTRY_TIMEOUT="${ENTRY_TIMEOUT}" \
  ${GRAFT_ONLY:+SPARK_GRAFT_ONLY="${GRAFT_ONLY}"} \
  ${GRAFT_CAPACITY_SKIP:+SPARK_GRAFT_CAPACITY_SKIP="${GRAFT_CAPACITY_SKIP}"} \
  ${GRAFT_RESUME:+SPARK_GRAFT_RESUME="${GRAFT_RESUME}"} \
  sbt -batch "runMain graft.Verify ${FIXTURE} ${OUT}" \
  > "${DUMPLOG}" 2>&1 || {
  echo "[sweep] dump ABORTED (SparkContext death or sbt failure) — see ${DUMPLOG}" >&2
  grep -E '\[verify\]|SparkException|OutOfMemory|Killed' "${DUMPLOG}" | tail -20 >&2
  exit 1
}
grep -E '\[verify\]' "${DUMPLOG}" || true
test -f "${OUT}/oracle_sql.json" || {
  echo "[sweep] dump failed: ${OUT}/oracle_sql.json missing" >&2
  exit 1
}

echo "[sweep] 3/3 diffing against DuckDB (timeout ${TIMEOUT}s, mem ${MEM})"
env GRAFT_ORACLE_TIMEOUT="${TIMEOUT}" GRAFT_DUCKDB_MEM="${MEM}" \
  ${GRAFT_ONLY:+GRAFT_ONLY="${GRAFT_ONLY}"} \
  GRAFT_PARITY_JSON="${PARITY}" \
  python3 -u tools/diffcheck.py "${FIXTURE}" "${OUT}"
echo "[sweep] done: ${PARITY}"
