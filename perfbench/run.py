#!/usr/bin/env python3
"""Layered benchmark of the graft Spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
harness (perfbench/harness, sbt) into .bench_build/, and generates every
workload's corpus and DuckDB oracle answers into .bench_data/; later runs
reuse them while the sources are unchanged. A run then starts one JVM that
sets up a SparkSession, times one cold pass and then about `--seconds` of
steady passes, and dumps every answer; this script checks the answers
against the oracle and prints the metrics, the last line being one JSON
object: {"correct", "attempted", "failed", "metrics"}. `--trace 0` gives
the end-to-end metrics, `--trace 1` the per-layer ones (see README.md).
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
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import oracle  # noqa: E402
from workloads import CORPORA, WORKLOADS  # noqa: E402

BUILD = ".bench_build"
DATA = ".bench_data"
CORES = len(os.sched_getaffinity(0))  # as nproc counts them
# Same module flags as the program's build.sbt: Spark 4 on JDK 17 needs
# them when the session is created outside spark-submit.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]
JVM_TIMEOUT_S = 160
# A floor under the heap: with a small initial heap, and G1 shrinking the
# heap after each full GC between passes, G1 ran back-to-back concurrent
# cycles for a whole run in about one run in five (their threads took 10x
# their usual CPU), which doubled that run's pass_cpu_s.
HEAP = ["-Xms2g", "-Xmx4g"]

# (name, unit, better, bound); bound is the share of the parent's median
# by which the metric may worsen before a change counts as a regression.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("first_pass_s", "s", "lower", 0.25),
    ("pass_s", "s", "lower", 0.25),
    ("query_p50_s", "s", "lower", 0.25),
    ("query_p90_s", "s", "lower", 0.25),
    ("pass_cpu_s", "s", "lower", 0.25),
    ("heap_retained_mb", "MiB", "lower", 0.1),
    ("ok_frac", "ratio", "higher", 0.001),
]

MODULES = ["Recon", "Changes", "Relational", "Text", "Graph", "Vectors"]
MODULE_METRICS = [("construct_s", "s"), ("plan_s", "s"), ("exec_s", "s"),
                  ("exec.task_cpu_s", "s"), ("exec.critical_s", "s")]
# (name, unit, better), per steady traced pass. These are the per-layer
# metrics of the last JSON line: measured on every workload, so none of
# them is a time that is zero by construction on one of them.
PER_LAYER = [
    ("construct_s", "s", "lower"),
    ("construct.jobs", "count", "lower"),
    ("construct.zero_job_ratio", "ratio", "higher"),
    ("plan_s", "s", "lower"),
    ("plan.optimize_s", "s", "lower"),
    ("plan.physical_s", "s", "lower"),
    ("exec_s", "s", "lower"),
    ("exec.jobs", "count", "lower"),
    ("exec.stages", "count", "lower"),
    ("exec.tasks", "count", "lower"),
    ("exec.task_s", "s", "lower"),
    ("exec.task_cpu_s", "s", "lower"),
    ("exec.deser_s", "s", "lower"),
    ("exec.critical_s", "s", "lower"),
    ("exec.driver_gap_s", "s", "lower"),
    ("exec.slot_util", "ratio", "higher"),
    ("scan.rows", "rows", "lower"),
    ("scan.bytes", "bytes", "lower"),
    ("scan.max_task_rows", "rows", "lower"),
    ("shuffle.write_bytes", "bytes", "lower"),
    ("shuffle.read_bytes", "bytes", "lower"),
    ("spill.bytes", "bytes", "lower"),
    ("query.remainder_s", "s", "lower"),
    ("self.pass_s", "s", "lower"),
    ("self.construct_s", "s", "lower"),
    ("self.exec_s", "s", "lower"),
    ("self.job_s", "s", "lower"),
    ("trace.pass_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
]
# Printed and written to profile.json with the rest, but left out of the
# JSON line because on one workload they are zero by construction: no
# eviction and no construct-time jobs on recon_sf01, no fetch wait in local
# mode, and the modules a workload does not run.
PROFILE_ONLY = [
    ("MemoRegistry.evict_s", "s"),
    ("construct.task_s", "s"),
    ("exec.gc_s", "s"),
    ("shuffle.fetch_wait_s", "s"),
] + [(f"{m}.{n}", u) for m in MODULES for n, u in MODULE_METRICS]

# per-query layer fields summed over a pass (scan.max_task_rows is a max)
SUMMED = ["construct_s", "construct.jobs", "construct.task_s",
          "plan.optimize_s", "plan.physical_s", "exec_s", "exec.jobs",
          "exec.stages", "exec.tasks", "exec.task_s", "exec.task_cpu_s",
          "exec.gc_s", "exec.deser_s", "exec.critical_s",
          "exec.driver_gap_s", "scan.rows", "scan.bytes",
          "shuffle.write_bytes", "shuffle.read_bytes",
          "shuffle.fetch_wait_s", "spill.bytes", "query.remainder_s",
          "self.construct_s", "self.exec_s", "self.job_s"]


class BenchError(Exception):
    pass


def read(path):
    with open(path) as f:
        return f.read()


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_hash(root, rels):
    h = hashlib.sha256()
    for rel in rels:
        top = os.path.join(root, rel)
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(top)
            if "target" not in os.path.relpath(d, top).split(os.sep)
            for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root):
    """Compiles the program's sources with the harness; returns the
    classpath. Skipped while the sources are unchanged."""
    out = os.path.join(root, BUILD)
    stamp_file, cp_file = (os.path.join(out, f) for f in ("stamp", "classpath"))
    stamp = tree_hash(root, ["src/main", "perfbench/harness/build.sbt",
                             "perfbench/harness/project/build.properties",
                             "perfbench/harness/src"])
    if os.path.exists(cp_file) and read(stamp_file) == stamp:
        return read(cp_file)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    log("building program + harness (sbt)")
    t0 = time.time()
    res = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=os.path.join(root, "perfbench", "harness"), env=env,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=600)
    lines = [l for l in res.stdout.splitlines() if BUILD in l
             and not l.startswith("[")]
    if res.returncode != 0 or not lines:
        sys.stderr.write(res.stdout[-4000:])
        raise BenchError("build failed")
    os.makedirs(out, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return read(cp_file)


def corpus_dir(root, key):
    """Generates a corpus on first use (untimed, outside any run)."""
    d = os.path.join(root, DATA, "corpus", key)
    stamp = json.dumps([CORPORA[key], tree_hash(HERE, ["corpus.py"])])
    stamp_file = os.path.join(d, "stamp")
    if os.path.exists(stamp_file) and read(stamp_file) == stamp:
        return d
    shutil.rmtree(d, ignore_errors=True)
    t0 = time.time()
    corpus.base(d, CORPORA[key])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"generated corpus {key} in {time.time() - t0:.1f} s")
    return d


def java_cmd(root, cp, *args):
    tmp = os.path.join(root, DATA, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    return [shutil.which("java") or "java", *ADD_OPENS, *HEAP,
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-cp", cp, "perfbench.Harness", *args], tmp


def call_jvm(root, cp, args, log_path, timeout):
    cmd, tmp = java_cmd(root, cp, *args)
    try:
        with open(log_path, "w") as lf:
            proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=timeout)
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0:
        with open(log_path) as lf:
            sys.stderr.write(lf.read()[-4000:])
        raise BenchError(f"harness exited with {rc}")


def oracle_answers(root, cp, key, queries):
    """DuckDB digests of `queries` on corpus `key`, cached per SQL text
    and corpus version."""
    cache_file = os.path.join(root, DATA, "oracle", f"{key}.json")
    cache = json.loads(read(cache_file)) if os.path.exists(cache_file) else {}
    sql_file, stamp_file = (os.path.join(root, BUILD, f) for f in (
        "oracle_sql.json", "oracle_stamp"))
    every = ",".join(sorted({q for w in WORKLOADS.values()
                             for q, _ in w["queries"]}))
    stamp = read(os.path.join(root, BUILD, "stamp")) + every
    if not os.path.exists(sql_file) or read(stamp_file) != stamp:
        call_jvm(root, cp, ["oracle-sql", every, sql_file],
                 os.path.join(root, BUILD, "oracle_sql.log"), 120)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    sql = json.loads(read(sql_file))
    missing = [q for q in queries if q not in sql]
    if missing:
        raise BenchError(f"no oracle SQL for {missing}")
    data = read(os.path.join(corpus_dir(root, key), "stamp"))
    key_of = {q: hashlib.sha256((data + sql[q]).encode()).hexdigest()
              for q in queries}
    todo = {q: sql[q] for q in queries
            if cache.get(q, {}).get("sql") != key_of[q]}
    if todo:
        t0 = time.time()
        for q, d in oracle.oracle_digests(corpus_dir(root, key), todo).items():
            cache[q] = {"sql": key_of[q], "digest": d}
        os.makedirs(os.path.dirname(cache_file), exist_ok=True)
        with open(cache_file, "w") as f:
            json.dump(cache, f)
        log(f"oracle {key}: {len(todo)} queries in {time.time() - t0:.1f} s")
    return {q: cache[q]["digest"] for q in queries}


def prepare(root):
    """Everything outside the timed window, for every workload at once, so
    only a checkout's first run pays for it."""
    cp = build(root)
    answers = {}
    for name, w in WORKLOADS.items():
        answers[name] = oracle_answers(root, cp, w["corpus"],
                                       [q for q, _ in w["queries"]])
    return cp, answers


def run_workload(root, cp, name, seed, seconds, trace, out, corpus_key=None):
    """One JVM run; returns its raw outputs (run.json + traced layers)."""
    w = WORKLOADS[name]
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    churn_root = os.path.join(out, "churn") if w["churn"] else ""
    # after the first pass, `warmup` unreported passes, then one measured
    # pass per `pass_seconds` of --seconds (at least 3), so the measured
    # window lasts about --seconds
    spec = {
        "workload": name, "seed": seed, "trace": bool(trace), "cores": CORES,
        "corpus": corpus_dir(root, corpus_key or w["corpus"]),
        "churnRoot": churn_root or None,
        "queries": [q for q, _ in w["queries"]],
        "modules": dict(w["queries"]),
        "out": out, "warmup": w["warmup"],
        "passes": max(3, round(seconds / w["pass_seconds"]))}
    spec_file = os.path.join(out, "spec.json")
    with open(spec_file, "w") as f:
        json.dump(spec, f)
    try:
        call_jvm(root, cp, ["run", spec_file], os.path.join(out, "jvm.log"),
                 JVM_TIMEOUT_S)
    finally:
        if churn_root:
            shutil.rmtree(churn_root, ignore_errors=True)
    raw = json.loads(read(os.path.join(out, "run.json")))
    layers = os.path.join(out, "layers.jsonl")
    raw["layers"] = ([json.loads(l) for l in read(layers).splitlines()]
                     if os.path.exists(layers) else [])
    spans = os.path.join(out, "spans.jsonl")
    raw["pass_self_s"] = ([s["self_ms"] / 1e3 for s in
                           map(json.loads, read(spans).splitlines())
                           if s["name"] == "pass"]
                          if os.path.exists(spans) else [])
    return raw


def check_answers(dump_dir, expected):
    """Queries whose dumped answer differs from the oracle's; a query that
    threw (nothing dumped) is already counted as a failure by the JVM."""
    wrong = []
    for q, want in sorted(expected.items()):
        got = oracle.dump_digest(os.path.join(dump_dir, q))
        if got is not None and got != want:
            wrong.append(q)
            log(f"WRONG ANSWER {q}: got {got} want {want}")
    return wrong


def end_to_end(raw, failed):
    steady = [p for p in raw["passes"] if p["steady"] and not p["traced"]]
    ids = {p["pass"] for p in steady}
    lat = sorted(l["s"] for l in raw["latencies"] if l["pass"] in ids)
    return {
        "setup_s": raw["setup_s"],
        "first_pass_s": raw["first_pass_s"],
        "pass_s": statistics.median(p["wall_s"] for p in steady),
        "query_p50_s": statistics.median(lat),
        "query_p90_s": statistics.quantiles(lat, n=10, method="inclusive")[8],
        "pass_cpu_s": statistics.median(p["cpu_s"] for p in steady),
        "heap_retained_mb": raw["heap_retained_mb"],
        "ok_frac": 1.0 - failed / raw["attempted"],
        "samples": len(lat),
    }


def per_layer(raw, cores):
    rows = raw["layers"]
    traced = [p for p in raw["passes"] if p["traced"]]
    untraced = [p for p in raw["passes"] if p["steady"] and not p["traced"]]
    n = len(traced)

    def sums(rs):
        t = {k: sum(r[k] for r in rs) / n for k in SUMMED}
        t["plan_s"] = t["plan.optimize_s"] + t["plan.physical_s"]
        return t

    m = sums(rows)
    m["construct.zero_job_ratio"] = (
        sum(r["construct.jobs"] == 0 for r in rows) / len(rows))
    m["scan.max_task_rows"] = max(r["scan.max_task_rows"] for r in rows)
    m["exec.slot_util"] = m["exec.task_s"] / (cores * m["exec_s"])
    m["MemoRegistry.evict_s"] = sum(p["evict_s"] for p in traced) / n
    m["self.pass_s"] = sum(raw["pass_self_s"]) / n
    m["trace.pass_s"] = statistics.median(p["wall_s"] for p in traced)
    m["trace.overhead_s"] = m["trace.pass_s"] - statistics.median(
        p["wall_s"] for p in untraced)
    for mod in MODULES:
        t = sums([r for r in rows if r["module"] == mod])
        for k, _ in MODULE_METRICS:
            m[f"{mod}.{k}"] = t[k]
    return m


def report(raw, trace, failed):
    """Metric values and the (name, unit) pairs of the JSON line."""
    if trace:
        values = per_layer(raw, raw["cores"])
        return values, [(n, u) for n, u, _ in PER_LAYER]
    values = end_to_end(raw, failed)
    return values, [(n, u) for n, u, _, _ in END_TO_END]


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    # a SIGTERM unwinds through call_jvm's finally, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "src/main/scala/graft/SparkEntry.scala")):
        log("run from the root of a checkout: the program's sources "
            "(src/main/scala) are not here")
        return 2
    try:
        cp, answers = prepare(root)
        out = os.path.join(root, DATA, "runs", a.workload)
        raw = run_workload(root, cp, a.workload, a.seed, a.seconds,
                           a.trace, out)
        wrong = check_answers(os.path.join(out, "dump"), answers[a.workload])
    except (BenchError, subprocess.TimeoutExpired) as e:
        log(f"FAILED: {e}")
        return 1
    for f in raw["failures"]:
        log(f"query {f['query']} threw (pass {f['pass']}): {f['error']}")
    failed = len(raw["failures"]) + len(wrong)
    values, defs = report(raw, a.trace, failed)
    measured = [p for p in raw["passes"] if p["steady"]]
    samples = "" if a.trace else f", {values['samples']} query samples"
    print(f"workload {a.workload}, seed {a.seed}: {len(measured)} measured "
          f"passes{samples}, {failed} of {raw['attempted']} query runs failed")
    shown = defs + (PROFILE_ONLY if a.trace else [])
    for n, u in shown:
        print(f"{n:28s} {values[n]:16.6f} {u}")
    with open(os.path.join(out, "profile.json"), "w") as f:
        json.dump({n: {"value": values[n], "unit": u} for n, u in shown}, f,
                  indent=1)
    print(json.dumps({
        "correct": failed == 0, "attempted": raw["attempted"],
        "failed": failed,
        "metrics": {n: {"value": values[n], "unit": u} for n, u in defs}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
