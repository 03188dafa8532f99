#!/usr/bin/env python3
"""graft benchmark: one run of one workload, from the root of a graft checkout.

    python3 perfbench/run.py --workload <silver-sql|pipelines|rag> --seed <n>
        --seconds <s> --trace <0|1>

Builds graft and the harness from source when they changed (sbt, offline),
runs the harness JVM (graftbench.Main) at local[nproc], compares every frame
the check pass wrote against its DuckDB oracle, and prints the metrics named
in BENCHMARK.json: end-to-end ones with --trace 0, per-layer ones with
--trace 1. The last stdout line is the JSON result; the full run record
(seed, code identity, machine witnesses, per-op timings, oracle results)
is written under the build directory's records/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
WORKLOADS = ("silver-sql", "pipelines", "rag")
# A fixed heap: with a growing one, G1's resizing moved peak RSS by up to
# 38% and pass times by up to 22% between runs of the same seed set.
JVM_HEAP = ["-Xms3g", "-Xmx3g"]
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 800
# Per-entry medians the run reports beside its metrics, by workload.
ENTRY_NAMES = {
    "pipelines": {"qc01_curation": "curate_batch_s", "q50_pagerank": "pagerank_s"},
    "rag": {"rag_build": "rag_build_s", "rag_serve_": "rag_serve_p50_s"},
}


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# --- build -----------------------------------------------------------------

def source_files():
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main", "scala")):
        for dirpath, _, names in os.walk(base):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(build_dir):
    """Compiles graft and the harness; returns the runtime classpath."""
    digest = hashlib.sha256()
    for f in source_files():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    stamp_file = os.path.join(build_dir, "build.stamp")
    cp_file = os.path.join(build_dir, "classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh2:
                    return fh2.read(), stamp
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as fh:
        tmp = os.path.join(build_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", f"-Djava.io.tmpdir={tmp}",
                          "-J-XX:-UsePerfData", "clean", "compile", "export Runtime/fullClasspath"],
                         HERE, fh, BUILD_LIMIT_S, sbt_env())
    with open(log) as fh:
        lines = fh.read().splitlines()
    classes = os.path.join(HERE, "target")
    cps = [l for l in lines if l.startswith(classes)]
    if rc != 0 or not cps:
        die(f"build failed (exit {rc}); see {log}", 3)
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cps[-1], stamp


def sbt_env():
    """sbt resolves offline, from the local caches, unless told otherwise."""
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    return env


def run_bounded(cmd, cwd, out, limit, env=None):
    """Runs cmd in its own process group; kills the group past `limit` s, or
    when this process is told to stop, and waits for it to end."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT, env=env,
                            stdin=subprocess.DEVNULL, start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(128 + signum)
    previous = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        return proc.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return -9
    finally:
        for s, handler in previous.items():
            signal.signal(s, handler)


# --- machine witnesses -----------------------------------------------------

def cpu_times():
    """(total, idle, steal) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return sum(vals), vals[3] + vals[4], vals[7] if len(vals) > 7 else 0


def cpu_busy_fraction(seconds=0.25):
    """Share of all CPUs busy over a short window, before the JVM starts."""
    t0, i0, _ = cpu_times()
    time.sleep(seconds)
    t1, i1, _ = cpu_times()
    return 1.0 - (i1 - i0) / max(1, t1 - t0)


def meminfo_mb(key):
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1]) / 1024.0
    return None


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except OSError:
        return None


# --- oracle check ----------------------------------------------------------

def canon(df):
    """tools/diffcheck.py's canonical form: columns by name, object columns
    stringified with nulls as <NULL>, floats rounded to 6 places, timestamps
    as strings, rows sorted by the non-float columns first."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            vals = df[c].dropna()
            if len(vals):
                v = vals.iloc[0]
                if isinstance(v, (list, tuple, dict)) or getattr(v, "ndim", 0) > 0:
                    raise TypeError(f"column '{c}' is array-typed")
            na = df[c].isna()
            df[c] = df[c].astype(str)
            df.loc[na, c] = "<NULL>"
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(6)
        elif "datetime" in str(df[c].dtype):
            df[c] = df[c].astype("datetime64[us]").astype(str)
    non_float = [c for c in df.columns if not str(df[c].dtype).startswith("float")]
    floats = [c for c in df.columns if str(df[c].dtype).startswith("float")]
    return df.sort_values(by=non_float + floats).reset_index(drop=True)


def same_frame(exp, got):
    """None when equal under diffcheck's rules (a 2e-15 relative float
    tolerance for cross-engine decimal-to-double noise), else the reason."""
    import numpy as np
    try:
        exp, got = canon(exp), canon(got)
    except TypeError as e:
        return str(e)
    if list(exp.columns) != list(got.columns):
        return f"columns {list(got.columns)} vs oracle {list(exp.columns)}"
    if len(exp) != len(got):
        return f"rows {len(got)} vs oracle {len(exp)}"
    if exp.equals(got):
        return None
    neq = (exp != got) & ~(exp.isna() & got.isna())
    for c in exp.columns:
        if (str(exp[c].dtype).startswith("float") and str(got[c].dtype).startswith("float")
                and neq[c].any()):
            close = np.isclose(exp[c].to_numpy(), got[c].to_numpy(), rtol=2e-15, atol=1e-9,
                               equal_nan=True)
            neq[c] = neq[c] & ~close
    bad = int(neq.any(axis=1).sum())
    return f"{bad} mismatched rows of {len(exp)}" if bad else None


def oracle_check(oracles, check_dir, cache_dir):
    """Compares each written frame with its oracle's answer. The answer is a
    function of the SQL and the fixture alone, so it is cached by SQL hash.
    Both sides pass through one parquet write, so their dtypes compare alike."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    con.sql("SET memory_limit = '1GB'")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
    os.makedirs(cache_dir, exist_ok=True)
    results = {}
    for name, sql in oracles.items():
        key = hashlib.sha256(sql.encode()).hexdigest()[:24]
        cached = os.path.join(cache_dir, key + ".parquet")
        try:
            if os.path.exists(cached):
                exp = pd.read_parquet(cached)
            else:
                exp = con.sql(sql).df()
                exp.to_parquet(cached + ".tmp")
                os.replace(cached + ".tmp", cached)
                exp = pd.read_parquet(cached)
            got_path = os.path.join(check_dir, name + ".parquet")
            con.sql(f"SELECT * FROM '{check_dir}/{name}/*.parquet'").df().to_parquet(got_path)
            results[name] = same_frame(exp, pd.read_parquet(got_path))
        except Exception as e:  # a broken oracle or missing output is a failed check
            results[name] = f"{type(e).__name__}: {e}"
    return results


# --- metrics ---------------------------------------------------------------

def tail(values):
    """The highest percentile with at least ten samples beyond it."""
    xs = sorted(values)
    n = len(xs)
    if n < 11:
        return None, None, n
    idx = n - 11
    return xs[idx], 100.0 * (idx + 1) / n, n


def end_to_end(rec, launched):
    """The bounded metrics, and the wall-clock figures printed beside them.

    Timed work is bounded in CPU seconds of the whole JVM, not wall seconds:
    when the hypervisor lends this machine's cores to other guests (steal of
    7-13% in a contended window), the pipelines pass grew 55% in wall time
    but 15% in CPU time, which put wall-clock spreads over any usable bound.
    """
    workload = rec["workload"]
    ops = [o for o in rec["ops"] if not o["traced"]]
    passes = [p for p in rec["passes"] if not p["traced"]]

    def per_op_medians(key):
        by_op = {}
        for o in ops:
            by_op.setdefault(o["name"], []).append(o[key])
        return [statistics.median(xs) for xs in by_op.values()]
    metrics = {
        "setup_s": rec["first_op_ms"] / 1000.0 - launched,
        "pass_cpu_s": statistics.median(p["cpu_s"] for p in passes),
        "op_cpu_s": statistics.geometric_mean(per_op_medians("cpu_s")),
        "peak_rss_mb": rec["peak_rss_mb"],
    }
    info = {"pass_s": statistics.median(p["s"] for p in passes),
            "op_geomean_s": statistics.geometric_mean(per_op_medians("s"))}
    for entry, label in ENTRY_NAMES.get(workload, {}).items():
        xs = [o["s"] for o in ops if o["name"].startswith(entry)]
        if xs:
            info[label] = statistics.median(xs)
    latencies = [o["s"] for o in ops]
    info["op_p50_s"] = statistics.median(latencies)
    value, pct, n = tail(latencies)
    info["op_tail"] = {"s": value, "percentile": pct, "n": n}
    return metrics, info


# --- main ------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("graft's sources (src/main/scala/graft) are not here; run from the root of a graft checkout")
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        die("BENCHMARK.json is missing")
    with open(spec_path) as fh:
        spec = json.load(fh)
    build_dir = os.path.abspath(os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    os.makedirs(build_dir, exist_ok=True)
    classpath, stamp = build(build_dir)

    work = os.path.join(build_dir, f"work-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "record.json")
    busy = cpu_busy_fraction()
    mem_available = meminfo_mb("MemAvailable")
    load1 = os.getloadavg()[0]
    opens = [a for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
                         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
                         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
             for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, *opens, *JVM_HEAP, "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp", "-cp", classpath,
           "graftbench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", args.trace, "--data", DATA, "--work", work, "--out", out]
    jvm_log = os.path.join(work, "jvm.log")
    launched = time.time()
    cpu0 = cpu_times()
    with open(jvm_log, "w") as fh:
        rc = run_bounded(cmd, ROOT, fh, RUN_LIMIT_S - (time.time() - launched))
    cpu1 = cpu_times()
    # CPU time the hypervisor gave to others while the JVM ran
    steal = (cpu1[2] - cpu0[2]) / max(1, cpu1[0] - cpu0[0])
    if rc != 0 or not os.path.exists(out):
        with open(jvm_log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        die(f"harness JVM failed (exit {rc})", 1)
    with open(out) as fh:
        rec = json.load(fh)

    oracle = oracle_check(rec["oracles"], os.path.join(work, "check"), os.path.join(build_dir, "oracle-cache"))
    attempted = len(rec["ops"])
    failed = rec["failed"]
    correct = failed == 0 and all(v is None for v in oracle.values())

    if args.trace == "1":
        names = spec["per_layer"]
        values = {m["name"]: rec["layers"].get(m["name"], 0.0) for m in names}
        info = {}
    else:
        names = spec["end_to_end"]
        values, info = end_to_end(rec, launched)
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in names}

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": int(args.trace),
        "git_commit": git_commit(), "source_sha256": stamp, "nproc": os.cpu_count(),
        "jvm_args": rec["jvm_args"], "heap_max_mb": rec["heap_max_mb"],
        "load1_before": load1, "cpu_busy_before": busy, "mem_available_mb": mem_available,
        "sentinel_s": rec["sentinel_s"], "steal_frac": steal, "contended": busy > 0.25 or steal > 0.05,
        "metrics": metrics, "entries": info, "oracle": oracle,
        "attempted": attempted, "failed": failed, "jvm": rec,
    }
    records = os.path.join(build_dir, "records")
    os.makedirs(records, exist_ok=True)
    stem = os.path.join(records, f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(launched)}")
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, indent=1)
    if os.path.exists(os.path.join(work, "trace.jsonl")):
        shutil.move(os.path.join(work, "trace.jsonl"), stem + ".trace.jsonl")
    shutil.rmtree(work, ignore_errors=True)

    for name, why in oracle.items():
        print(f"oracle {name}: {'ok' if why is None else 'FAIL ' + why}")
    for o in rec["ops"]:
        if not o["ok"]:
            print(f"op {o['name']} pass {o['pass']}: FAIL {o['error'] or 'digest differs from the check pass'}")
    for label, v in info.items():
        print(f"{label}: {v}")
    print(f"run: seed={args.seed} nproc={os.cpu_count()} sentinel_s={rec['sentinel_s']:.3f} "
          f"cpu_busy_before={busy:.2f} steal={steal:.3f} contended={record['contended']} record={stem}.json")
    for name, m in metrics.items():
        print(f"{name}: {m['value']} {m['unit']}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
