#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload etl_marts --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The first run builds
the engine and the benchmark runner from source with sbt (into
`perfbench/target`); later runs reuse the build while the sources are
unchanged. The inputs are the engine's sf0.01 testdata tables, copied into
`perfbench/data`; each workload reads them through a directory of its own
under `perfbench/.work/data`. `--seed` permutes the query order of every
pass and, for `dedup_x10`, draws the replica parameters of its x10 blow-up
of `documents` and `embeddings`.

`setup_s` is the set-up of the runner JVM, its first work: one cold set-up
per run, so the median over runs is the cold-start cost.

The last line of standard output is one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones (see `BENCHMARK.json`), with `--trace 1`
the per-layer ones. A human-readable summary, including the failed and
wrong fractions, goes to standard error; the full per-execution report,
the oracle verdicts and (traced) the span tree stay in the run's output
directory under `perfbench/.work/out`.
"""
import argparse
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
WORK = os.path.join(HERE, ".work")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
DATA = os.path.join(HERE, "data")
JVM_HEAP = "3g"
CPUS = 4
DATA_CACHE_PER_WORKLOAD = 3
# the runner's deadline is RUN_ALLOWANCE_S + --seconds after the start, plus
# BUILD_ALLOWANCE_S when the run built: a run at the declared run_seconds
# ends within 180 s, or 900 s when it builds
RUN_ALLOWANCE_S = 150
BUILD_ALLOWANCE_S = 720
with open(os.path.join(HERE, "add-opens.txt")) as _f:  # shared with build.sbt
    ADD_OPENS = [line.strip() for line in _f if line.strip()]


STARTED = time.time()


def log(msg):
    print(f"[perfbench {time.time() - STARTED:5.1f}s] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for dirpath, dirnames, names in os.walk(r):
            dirnames[:] = sorted(d for d in dirnames if d not in ("target", "project"))
            files += [os.path.join(dirpath, n) for n in sorted(names)
                      if n.endswith((".scala", ".properties"))]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(deadline):
    """Compiles engine + runner with sbt unless the sources are unchanged
    since the last build; returns (runtime classpath, whether it built)."""
    stamp = os.path.join(WORK, "build.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached["digest"] == digest and os.path.isdir(cached["classpath"].split(":")[0]):
            return cached["classpath"], False
    log("building engine and runner with sbt")
    env = dict(os.environ)
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=max(60, deadline - time.time()))
    lines = [l for l in proc.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail("sbt build failed")
    classpath = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    return classpath, True


def _generate_once(out, make):
    """Runs `make(out)` unless `out` is complete; returns `out`."""
    if not os.path.exists(os.path.join(out, "_READY")):
        shutil.rmtree(out, ignore_errors=True)
        make(out)
        open(os.path.join(out, "_READY"), "w").close()
    os.utime(out)
    return out


def _link_tables(base, out):
    os.makedirs(out)
    for name in sorted(os.listdir(base)):
        if name.endswith(".parquet"):
            os.symlink(os.path.join(base, name), os.path.join(out, name))


def ensure_data(workload, spec, seed):
    """Returns the directory of the workload's inputs for `seed`.

    The directory is the workload's own, so the engine's stamped artifacts,
    which are keyed on it, belong to the benchmark alone. A workload
    without a `factor` reads links to the base tables. One with a `factor`
    reads a blow-up of the base whose replica parameters come from the
    seed; those are cached per seed.
    """
    import datagen
    root = os.path.join(WORK, "data")
    os.makedirs(root, exist_ok=True)
    data = spec["data"]
    base = os.path.join(DATA, data["base"])
    factor = data.get("factor")
    if factor is None:
        return _generate_once(os.path.join(root, f"{workload}_{data['base']}"),
                              lambda d: _link_tables(base, d))
    prefix = f"{workload}_{data['base']}_x{factor}_s"
    mine = sorted((d for d in os.listdir(root) if d.startswith(prefix)),
                  key=lambda d: os.path.getmtime(os.path.join(root, d)))
    for d in mine[: max(0, len(mine) - DATA_CACHE_PER_WORKLOAD + 1)]:
        if d != f"{prefix}{seed}":
            shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    return _generate_once(os.path.join(root, f"{prefix}{seed}"),
                          lambda d: datagen.decade(base, d, factor, seed))


def input_sizes(data_dir):
    import pyarrow.parquet as pq
    sizes = {}
    for name in sorted(os.listdir(data_dir)):
        if name.endswith(".parquet"):
            path = os.path.join(data_dir, name)
            sizes[name[:-8]] = {"rows": pq.read_metadata(path).num_rows,
                                "bytes": os.path.getsize(path)}
    return sizes


def tail_index(n):
    """Index (into sorted samples) of the highest percentile with at least
    10 samples beyond it; the median when there are fewer than 21."""
    return n - 11 if n >= 21 else n // 2


def end_to_end(report):
    untraced = [p["s"] for p in report["passes"] if not p["traced"]]
    ok = sorted(e["wall_s"] for e in report["executions"] if e["ok"] and not e["traced"])
    k = tail_index(len(ok))
    return {
        "setup_s": (report["setup_s"], "s"),
        "pass_s": (statistics.median(untraced), "s"),
        "query_p50_s": (statistics.median(ok), "s"),
        "query_tail_s": (ok[k], "s"),
        "live_heap_mb": (max(e["heap_mb"] for e in report["executions"]), "MB"),
        "artifact_bytes_ratio": (report["artifact_bytes"] / report["input_bytes"], "ratio"),
    }, {"tail_percentile": round(100.0 * (k + 1) / len(ok), 1),
        "tail_samples_beyond": len(ok) - k - 1}


def _covered(lo, hi, intervals):
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, end = 0, lo
    for s, e in sorted(intervals):
        s, e = max(s, end), min(e, hi)
        if e > s:
            total += e - s
            end = e
    return total


def self_times(spans):
    """Mean per-query self seconds of the call and action spans: their
    time not covered by any of the query's Spark jobs."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    call = action = 0.0
    queries = [s for s in spans if s["kind"] == "query"]
    for q in queries:
        mine = kids.get(q["id"], [])
        jobs = [(j["start_ms"], j["end_ms"]) for j in mine if j["kind"] == "job"]
        for part in mine:
            if part["kind"] in ("call", "action"):
                own = (part["end_ms"] - part["start_ms"]
                       - _covered(part["start_ms"], part["end_ms"], jobs)) / 1e3
                if part["kind"] == "call":
                    call += own
                else:
                    action += own
    n = max(len(queries), 1)
    return call / n, action / n


def per_layer(report, verdicts, spans, modules):
    traced = [e for e in report["executions"] if e["traced"] and e["stats"]]

    def mean(value, execs=traced):
        return sum(value(e) for e in execs) / max(len(execs), 1)

    def per_query(key, execs=traced, scale=1.0):
        return mean(lambda e: e["stats"][key], execs) * scale

    mb = 1.0 / 1048576
    m = {
        "spark.jobs": per_query("jobs"),
        "spark.stages": per_query("stages"),
        "spark.tasks": per_query("tasks"),
        "spark.driver_gap_s": mean(lambda e: e["wall_s"] - e["stats"]["job_union_s"]),
        "spark.codegen_compiles": mean(lambda e: e["codegen"]),
        "spark.executor_run_s": per_query("executor_run_s"),
        "spark.executor_cpu_s": per_query("executor_cpu_s"),
        "spark.gc_s": per_query("gc_s"),
        "spark.fetch_wait_s": per_query("fetch_wait_s"),
        "spark.task_failures": per_query("task_failures"),
        "exchange.shuffle_write_mb": per_query("shuffle_write_b", scale=mb),
        "exchange.shuffle_read_mb": per_query("shuffle_read_b", scale=mb),
        "exchange.shuffle_records": per_query("shuffle_records"),
        "exchange.spill_mb": per_query("spill_b", scale=mb),
        "exchange.task_skew": per_query("task_skew"),
        "sources.scan_mb": per_query("scan_b", scale=mb),
        "sources.scan_rows": per_query("scan_rows"),
        "sources.stamped_builds": per_query("stamped_builds"),
        "sources.stamped_build_s": per_query("stamped_build_s"),
        "sources.stamped_written_mb": per_query("stamped_written_b", scale=mb),
        "pipeline.output_mb": per_query("output_b", scale=mb),
        "pipeline.output_rows": per_query("output_rows"),
        "entry.call_s": mean(lambda e: e["call_s"]),
        "entry.action_s": mean(lambda e: e["action_s"]),
        "streaming.batches": per_query("batches"),
        "streaming.empty_batches": per_query("empty_batches"),
        "streaming.trigger_s": per_query("trigger_s"),
        "streaming.add_batch_s": per_query("add_batch_s"),
        "streaming.state_rows": per_query("state_rows"),
    }
    reads = sum(e["stats"]["artifact_reads"] for e in traced)
    hits = sum(max(0, e["stats"]["artifact_reads"] - e["stats"]["stamped_builds"])
               for e in traced)
    m["sources.stamped_hit_rate"] = hits / reads if reads else 0.0
    result_rows = sum(verdicts[e["query"]][1] for e in traced)
    m["plans.scan_rows_per_result_row"] = (
        sum(e["stats"]["scan_rows"] for e in traced) / max(result_rows, 1))
    for mod in modules:
        mine = [e for e in traced if e["module"] == mod]
        m[f"{mod}.query_s"] = sum(e["wall_s"] for e in mine) / max(len(mine), 1)
        m[f"{mod}.jobs"] = per_query("jobs", mine)
        m[f"{mod}.shuffle_write_mb"] = per_query("shuffle_write_b", mine, mb)
        m[f"{mod}.barriers"] = per_query("barriers", mine)
    m["self.call_s"], m["self.action_s"] = self_times(spans)
    traced_pass = statistics.median(p["s"] for p in report["passes"] if p["traced"])
    plain_pass = statistics.median(p["s"] for p in report["passes"] if not p["traced"])
    m["trace.pass_s"] = traced_pass
    m["trace.untraced_pass_s"] = plain_pass
    m["trace.overhead_frac"] = traced_pass / plain_pass - 1.0
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(HERE, "workloads.json")) as f:
        catalog = json.load(f)
    spec = catalog["workloads"].get(args.workload)
    if spec is None:
        fail(f"unknown workload {args.workload}; known: {sorted(catalog['workloads'])}")
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {ENGINE_SRC}: run from a checkout of the repository")
    sys.path.insert(0, HERE)
    os.makedirs(WORK, exist_ok=True)

    classpath, built = build(STARTED + BUILD_ALLOWANCE_S + 130)
    deadline = STARTED + RUN_ALLOWANCE_S + args.seconds + (BUILD_ALLOWANCE_S if built else 0)
    data_dir = ensure_data(args.workload, spec, args.seed)
    sizes = input_sizes(data_dir)
    log("inputs " + ", ".join(f"{t}: {s['rows']} rows, {s['bytes']} B" for t, s in sizes.items()))

    out_dir = os.path.join(WORK, "out", f"{args.workload}_s{args.seed}_t{args.trace}")
    shutil.rmtree(out_dir, ignore_errors=True)
    tmp_dir = os.path.join(out_dir, "tmp")
    os.makedirs(tmp_dir)
    queries = spec["queries"]
    cmd = (["java", f"-Xmx{JVM_HEAP}", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={tmp_dir}", "-Dspark.ui.enabled=false"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", data_dir, "--out", out_dir, "--cpus", str(CPUS),
              "--fresh-per-pass", "1" if spec.get("fresh_per_pass") else "0",
              "--queries", ",".join(f"{q}:{m}" for q, m in queries.items())])
    with open(os.path.join(out_dir, "jvm.log"), "w") as jlog:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=jlog, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"runner timed out; log in {out_dir}/jvm.log")
    if rc != 0:
        with open(os.path.join(out_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"runner exited with {rc}")
    with open(os.path.join(out_dir, "report.json")) as f:
        report = json.load(f)
    log(f"runner done; setup {report['setup_s']:.2f} s")

    import oracle
    verdicts = oracle.check(os.path.join(out_dir, "dump"), data_dir, list(queries))
    with open(os.path.join(out_dir, "oracle.json"), "w") as f:
        json.dump(verdicts, f, indent=1)
    wrong = sorted(q for q, v in verdicts.items() if not v[0])
    for q in wrong:
        log(f"WRONG {q}: {verdicts[q][2]}")
    timed = [e for e in report["executions"] if not e["traced"] or args.trace]
    failed = sum(1 for e in timed if not e["ok"])
    for e in timed:
        if not e["ok"]:
            log(f"FAILED {e['query']} in pass {e['pass']}")
    correct = not wrong and failed == 0 and report["setup_failures"] == 0

    e2e, tail = end_to_end(report)
    e2e["failed_frac"] = (failed / len(timed), "fraction")
    e2e["wrong_frac"] = (len(wrong) / len(verdicts), "fraction")
    summary = {"workload": args.workload, "seed": args.seed, "inputs": sizes,
               "queries": len(queries), "executions": len(timed),
               "passes": len(report["passes"]), **tail,
               "end_to_end": {k: v for k, (v, _) in e2e.items()}}
    with open(os.path.join(out_dir, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1)
    log(" ".join(f"{k}={v:.4g}{u}" for k, (v, u) in e2e.items())
        + f" tail=p{tail['tail_percentile']}({tail['tail_samples_beyond']} beyond)")

    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        declared = json.load(f)
    if args.trace:
        with open(os.path.join(out_dir, "trace.json")) as f:
            modules = {m for w in catalog["workloads"].values() for m in w["queries"].values()}
            values = per_layer(report, verdicts, json.load(f), modules)
        with open(os.path.join(out_dir, "per_layer.json"), "w") as f:
            json.dump(values, f, indent=1)
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in declared["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                   for m in declared["end_to_end"]}
    print(json.dumps({"correct": correct, "attempted": len(timed), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
