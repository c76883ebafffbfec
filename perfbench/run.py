#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and
this harness from source with sbt (cached under ``.bench_build/`` until a
source file changes), then every run:

1. generates the workload's inputs from ``--seed`` (cached per seed);
2. runs the workload in one JVM (``BenchMain.scala``): set-up (process
   start to a built SparkSession that has run one trivial job), one cold
   pass that writes every result, then warm passes into the noop sink:
   the workload's warm-up passes (``WARM_PASSES``), then measured ones
   until ``--seconds`` have passed (at least the workload's minimum);
3. checks the cold pass's outputs outside the timed region (``check.py``;
   DuckDB runs each query's oracle SQL on the run's own permuted tables);
4. prints each metric by name and unit (timings of the warm phase are
   medians over its passes), then, as the last line, one JSON
   object ``{"correct", "attempted", "failed", "metrics"}`` holding the
   end-to-end metrics (``--trace 0``) or the per-layer metrics from the
   traced passes (``--trace 1``, see ``tracing.py``).

Load: one process, one closed-loop client running jobs one after
another, ``local[4]``, 4 shuffle partitions, AQE on, UTC, a fixed heap.

``--record-expected`` stores the row counts and hashes of the queries
that have no DuckDB oracle as ``perfbench/expected.json``; do this only
from a commit whose outputs are known to be right.

Self-tests of the arithmetic: ``python3 -m unittest discover perfbench``.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import tracing  # noqa: E402

STATE = os.path.join(ROOT, ".bench_build", "perfbench")
HEAP = "3g"
SCALE = 0.01           # query tables: 60 k lineitem rows, 500 documents
INGEST_ROWS = 50_000   # planted-type CSV, about 5.7 MB

WORKLOADS = {
    "ingest_csv": [("ingest", "ingest")],
    # one query for each of the eleven ops modules: LLM-data operators,
    # then SQL, event analytics and an iterative graph loop of eager
    # frontier jobs. Where a module has several, a cheaper one with a
    # DuckDB oracle is taken (sim_topk_bruteforce, search_phrase_match,
    # stream_incr_dedup, events_rfm, graph_bfs_hops), so that a traced
    # run stays well under three minutes
    "queries": [
        ("dedup_minhash", "ops.Dedup"),
        ("text_quality_classifier", "ops.Corpus"),
        ("text_bpe_tokens", "ops.Bpe"),
        ("sim_topk_bruteforce", "ops.Similarity"),
        ("search_phrase_match", "ops.Search"),
        ("link_jaro_pairs", "ops.Linkage"),
        ("stream_incr_dedup", "ops.Incremental"),
        ("q1_pricing_summary", "ops.Relational"),
        ("q21_waiting_supplier", "ops.Relational2"),
        ("events_rfm", "ops.Warehouse"),
        ("graph_bfs_hops", "ops.Graph")],
}
# (untraced warm-up passes, least number of measured passes) per
# workload. An ingest pass is short and the JIT is still compiling during
# the first warm passes (process CPU fell 25.6 → 21.3 → 16.9 s over the
# first three), so measuring its first warm pass alone made cpu_s spread
# 0.32 over ten seeds, and 0.13 after two warm-up passes; a queries pass
# is 2.5 times longer, and more passes would make its runs too long.
# Traced runs warm up at least once.
WARM_PASSES = {"ingest_csv": (2, 2), "queries": (0, 1)}
END_TO_END = [("setup_s", "s"), ("cold_s", "s"), ("wall_s", "s"),
              ("cpu_s", "s"), ("peak_heap_mb", "MB")]
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    tops = [("build.sbt", ROOT), ("project", ROOT), ("src/main", ROOT),
            ("build.sbt", HERE), ("project", HERE), ("src", HERE)]
    for rel, base in tops:
        top = os.path.join(base, rel)
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(top)
            if "target" not in d.split(os.sep) for f in files)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt once per source state; return the classpath."""
    cp_file, stamp_file = f"{STATE}/classpath.txt", f"{STATE}/build.stamp"
    stamp = source_hash()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log("building the program and the harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.override.build.repos=true"
                       " -Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g")
    with open(f"{STATE}/build.log", "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840).returncode
    lines = open(f"{STATE}/build.log").read().splitlines()
    cps = [l for l in lines if "perfbench" in l and os.pathsep in l
           and not l.startswith("[")]
    if rc != 0 or not cps:
        sys.exit(f"[perfbench] build failed (rc={rc}); see {STATE}/build.log")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def cached(kind, seed, make):
    """Inputs for (kind, seed) under the state dir, made once; at most
    three seeds are kept per kind."""
    root = f"{STATE}/inputs"
    path = f"{root}/{kind}-s{seed}"
    if not os.path.exists(f"{path}/meta.json"):
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        meta = make(path)
        with open(f"{path}/meta.json", "w") as f:
            json.dump(meta, f)
    os.utime(path)
    old = sorted((d for d in os.listdir(root) if d.startswith(kind + "-s")),
                 key=lambda d: os.path.getmtime(f"{root}/{d}"))
    for d in old[:-3]:
        shutil.rmtree(f"{root}/{d}", ignore_errors=True)
    return path, json.load(open(f"{path}/meta.json"))


def java_cmd(cp):
    tmp = f"{STATE}/tmp"
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + [a for p in ADD_OPENS
                        for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
            + [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-cp", cp,
               "perfbench.BenchMain"])


def run_benchmark_jvm(cp, work, *args):
    """Run BenchMain to completion; return its result.json."""
    os.makedirs(work, exist_ok=True)
    with open(f"{work}/jvm.log", "ab") as err:
        launch_ms = time.time() * 1000
        rc = subprocess.run(
            java_cmd(cp) + ["--work", work, "--launch-ms", repr(launch_ms)]
            + list(args), stdout=err, stderr=err, stdin=subprocess.DEVNULL,
            timeout=170).returncode
    if rc != 0:
        sys.exit(f"[perfbench] benchmark JVM failed (rc={rc}); see {work}/jvm.log")
    return json.load(open(f"{work}/result.json"))


def jobs_arg(workload):
    return ",".join(f"{n}={l}" for n, l in WORKLOADS[workload])


def tables(seed):
    return cached("tables", seed, lambda p: {
        "rows": gen.permuted_tables(p, SCALE, seed)})


def lock():
    """Hold the checkout's run lock; returns (file, contended)."""
    f = open(f"{STATE}/run.lock", "w")
    try:
        fcntl.flock(f, fcntl.LOCK_EX | fcntl.LOCK_NB)
        return f, False
    except BlockingIOError:
        deadline = time.time() + 60
        while time.time() < deadline:
            time.sleep(1)
            try:
                fcntl.flock(f, fcntl.LOCK_EX | fcntl.LOCK_NB)
                break
            except BlockingIOError:
                pass
        return f, True


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", action="store_true")
    a = ap.parse_args()
    if not (os.path.isfile(f"{ROOT}/build.sbt") and os.path.isdir(f"{ROOT}/src/main")):
        sys.exit(f"[perfbench] no program sources next to {HERE}; run from a full checkout")
    os.makedirs(STATE, exist_ok=True)
    lock_file, contended = lock()

    cp = build()
    jobs = WORKLOADS[a.workload]
    if a.workload == "ingest_csv":
        inputs, meta = cached("ingest_csv", a.seed, lambda p: gen.ingest_csv(
            f"{p}/input.csv", INGEST_ROWS, a.seed))
        input_path = f"{inputs}/input.csv"
    else:
        inputs, meta = tables(a.seed)
        input_path = inputs

    work = f"{STATE}/runs/{a.workload}-t{a.trace}"
    shutil.rmtree(work, ignore_errors=True)
    res = run_benchmark_jvm(cp, work, "--input", input_path, "--seconds",
                            str(a.seconds), "--trace", str(a.trace),
                            "--jobs", jobs_arg(a.workload),
                            "--warmup", str(WARM_PASSES[a.workload][0]),
                            "--min-passes", str(WARM_PASSES[a.workload][1]))

    # ---- output checks (untimed) and error accounting
    passes = res["passes"]
    errors = [f"{j['name']} (pass {p['pass']}): {j['error']}"
              for p in passes for j in p["jobs"] if j.get("error")]
    threw_cold = {j["name"] for j in passes[0]["jobs"] if j.get("error")}
    if a.workload == "ingest_csv":
        try:
            found = [] if threw_cold else check.check_ingest(work, meta)
        except (OSError, ValueError, KeyError) as e:  # output missing or malformed
            found = [f"ingest output unreadable: {e!r}"]
        mismatches = {"ingest": "; ".join(found)} if found else {}
    else:
        expected_file = f"{HERE}/expected.json"
        expected = json.load(open(expected_file)) if os.path.exists(expected_file) else {}
        version = gen.version(SCALE)
        names = [n for n, _ in jobs if n not in threw_cold]
        oracles = check.oracle_hashes(
            inputs, json.load(open(f"{work}/oracle_sql.json")))
        mismatches, found = check.check_queries(work, names, oracles,
                                                expected, version)
        if a.record_expected:
            expected = {"version": version, "queries": {
                n: {"rows": r, "hash": h} for n, (r, h) in found.items()
                if n not in oracles}}
            with open(expected_file, "w") as f:
                json.dump(expected, f, indent=1, sort_keys=True)
                f.write("\n")
            mismatches = {n: m for n, m in mismatches.items() if n in oracles}
    attempted = sum(len(p["jobs"]) for p in passes)
    failed = len(errors) + len(mismatches)
    errors += [f"{n} (pass 0): output check failed: {m}" for n, m in mismatches.items()]

    warm = [p for p in passes
            if p["pass"] > 0 and not p["warmup"] and not p["traced"]]
    wall = statistics.median(p["wall_s"] for p in warm)
    e2e = {"setup_s": res["setup_s"], "cold_s": passes[0]["wall_s"],
           "wall_s": wall, "cpu_s": statistics.median(p["cpu_s"] for p in warm),
           "peak_heap_mb": res["peak_heap_mb"]}
    m = res["meta"]
    print(f"perfbench {a.workload} seed={a.seed} trace={a.trace}: "
          f"{len(passes) - 1} warm passes after the cold one "
          f"({sum(p['warmup'] for p in passes)} of them warm-up), "
          f"{attempted} jobs attempted, {failed} failed")
    print(f"  run: spark {m['spark_version']}, {m['master']}, {m['cores']} cores, "
          f"heap {m['jvm_max_heap_mb']} MB, lock contended {contended}, "
          f"other JVMs {m['other_jvms']}")
    units = dict(END_TO_END)
    for k, v in e2e.items():
        print(f"  {k:<16} {v:12.4f} {units[k]}")
    # the resident set depends on how far the collector grew the heap,
    # so it does not repeat between runs; peak_heap_mb stands in for it
    print(f"  {'peak_rss_mb':<16} {res['peak_rss_mb']:12.4f} MB (not steady)")
    print(f"  {'error_rate':<16} {tracing.error_rate(attempted, failed):12.4f} "
          f"fraction ({failed}/{attempted})")
    if a.workload == "ingest_csv":
        store = f"{work}/ingest/p0/store/data.parquet"
        size = sum(os.path.getsize(os.path.join(d, f))
                   for d, _, fs in os.walk(store) for f in fs
                   if f.endswith(".parquet"))
        print(f"  {'rows_per_s':<16} {meta['rows'] / wall:12.1f} rows/s "
              f"({meta['rows']} rows, {meta['csv_bytes']} B)")
        print(f"  {'store_ratio':<16} {size / meta['csv_bytes']:12.4f} B/B")
    for e in errors:
        print(f"  FAILED {e}")

    if a.trace:
        tr = json.load(open(f"{work}/trace.json"))
        layers = tracing.per_layer(tr, passes)
        with open(f"{work}/spans.json", "w") as f:
            json.dump(tracing.spans_with_self_time(tr), f, indent=0)
        specs = tracing.metric_specs()
        with open(f"{work}/layers.tsv", "w") as f:
            f.write("metric\tvalue\tunit\n")
            for name, unit, _ in specs:
                f.write(f"{name}\t{layers[name]:.6f}\t{unit}\n")
        print(f"  per-layer metrics, median of the warm traced passes "
              f"(spans: {work}/spans.json):")
        for name, unit, _ in specs:
            if layers[name]:
                print(f"    {name:<32} {layers[name]:12.4f} {unit}")
        metrics = {n: {"value": layers[n], "unit": u} for n, u, _ in specs}
    else:
        metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    lock_file.close()
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
