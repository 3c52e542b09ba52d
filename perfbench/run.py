#!/usr/bin/env python3
"""Benchmark of the aggregation engine: one workload, one fresh driver.

    python3 perfbench/run.py --workload hier-sql --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The launcher compiles the engine and the
harness from source (`perfbench/build.py`), then, for one workload:

1. pins the environment: `local[<cores>]` with cores = the CPUs this
   process may use, the driver heap of the tier-1 formula (half the
   host's memory, 2 to 8 GiB), and a fresh run directory per run as
   the driver's working directory (relative `spark-warehouse/` writes
   land there, so every cold pass really writes) holding
   `SPARK_LOCAL_DIRS` and `java.io.tmpdir`;
2. times session set-up in fresh JVMs (`setup_s` is their median),
   each with a heap pinned at that size (`-Xms` = `-Xmx`): a heap that
   G1 grows on its own makes some runs spend several times the GC
   work of others;
3. starts one driver JVM (`perfbench.Harness`) that runs one cold pass,
   one settle pass and then warm passes over the workload's queries,
   one query at a time (closed loop, one client), each query followed
   by a `noop`-style write that fingerprints its rows; the passes are
   measured in the driver JVM's CPU time without its JIT compiler
   threads, divided by a host speed probe taken between passes
   (`cold_pass_cpu_ref`, `warm_pass_cpu_ref`), which other load on a
   shared host leaves nearly unchanged; their wall and raw CPU times
   are printed and recorded, not gated;
4. checks every query's output (`oracle.py`): results with a DuckDB
   oracle must match it, and every result must be identical across
   passes and non-empty; `failed`/`attempted` in the result line is the
   error rate over query runs, and failing queries are named;
5. prints a report with every metric by name and unit, then as its last
   line one JSON object with the end-to-end metrics (`--trace 0`) or
   the per-layer metrics of `layers.json` (`--trace 1`).

A traced run installs the listeners of `harness/Tracer.scala` for the
cold pass and, after the untraced settle pass, interleaves untraced and
traced warm passes (their difference is the tracing overhead); it
writes its span tree and per-query split to
`.bench_build/perfbench/traces/`. Every run's full record, with the
seed, the pinned environment and the host's load, CPU pressure and CPU
steal at start and end, goes to `.bench_build/perfbench/results/`.

The seed permutes the query order inside every warm pass (the cold pass
runs in name order) and generates the inputs of the kernel probe; the
engine itself only reads the fixed test data (`PERFBENCH_SF_DIR`, by
default the sf0.1 directory documented in `TESTDATA.md`).
"""
import argparse
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # keep the source tree free of __pycache__

import build  # noqa: E402
import layers  # noqa: E402
from oracle import Oracle, sha  # noqa: E402

ROOT = build.ROOT
WORK = build.BUILD

# Registry names are picked by their prefix: `h*` is every query whose
# name is `h<digits>_...`, `d12` is the query named `d12_...`. Each set is
# a subset of its query families, sized so that one run (two set-ups, one
# cold pass, one settle pass, two warm passes) stays under a minute on
# 4 cores: a cold pass costs 4-6x a warm one, and the first query of a
# fresh driver ~8 s of CPU.
WORKLOADS = {
    "hier-sql": {
        "select": ["t*", "h1", "h2", "h3", "h4", "h5", "h8"],
        "why": "The paper's own surface: recursive-CTE dimension builds, ROLLUP/GROUPING "
               "reports and closure COUNT(DISTINCT). Catalyst planning, scans and "
               "aggregates; no loops, kernels or writes.",
    },
    "loops-kernels-writes": {
        "select": ["d12", "d13", "m11", "c10", "c17"],
        "why": "An iterative fixpoint (plans/Loops), a native edit-distance pair join, the "
               "analysis-heavy m11 stack and warehouse writes: driver gaps, blocks, task "
               "time, shuffle and writes.",
    },
}

SETUPS = 2          # fresh-JVM set-ups per run; setup_s is their median
# Measured warm passes at least, after the settle pass: the JIT compiler is
# still busy for passes after the cold one (a third warm pass did not make
# ten-seed sets spread less). A traced run makes this many passes of each
# kind, untraced, traced, traced, untraced, so that the JIT's drift cancels
# out of the tracing overhead.
MIN_WARM = 2
TIMEOUT_S = 175     # a run with a built checkout and warm caches
FIRST_TIMEOUT_S = 880


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def fail(msg, code=2):
    print(f"[perfbench] error: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def sf_dir() -> str:
    d = os.environ.get("PERFBENCH_SF_DIR")
    if not d:
        doc = os.path.join(ROOT, "TESTDATA.md")
        if os.path.isfile(doc):
            m = re.search(r"^\|\s*0\.1\s*\|\s*`([^`]+)`", open(doc).read(), re.M)
            d = m and m.group(1).rstrip("/")
    if not d or not os.path.isfile(os.path.join(d, "lineitem.parquet")):
        fail("no sf0.1 test data: set PERFBENCH_SF_DIR or document it in TESTDATA.md")
    return d


def driver_heap() -> str:
    """Half the host's memory in GiB, clamped to 2..8 (the tier-1 formula)."""
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(max(g, 2), 8)}g"


def host_context() -> dict:
    """Load averages, CPU pressure and cumulative CPU jiffies (with steal)
    from /proc, so that a run slowed by a stalled host shows in its record."""
    ctx = {"time": time.time()}
    try:
        ctx["loadavg"] = [float(x) for x in open("/proc/loadavg").read().split()[:3]]
        cpu = open("/proc/stat").readline().split()[1:]
        ctx["cpu_jiffies"] = sum(int(x) for x in cpu)
        ctx["steal_jiffies"] = int(cpu[7]) if len(cpu) > 7 else 0
        some = open("/proc/pressure/cpu").readline().split()
        ctx["cpu_pressure_avg10"] = float(some[1].split("=")[1])
    except (OSError, IndexError, ValueError):
        pass
    return ctx


def steal_share(a: dict, b: dict) -> float:
    total = b.get("cpu_jiffies", 0) - a.get("cpu_jiffies", 0)
    return (b.get("steal_jiffies", 0) - a.get("steal_jiffies", 0)) / total if total > 0 else 0.0


def tail(values):
    """(value, percentile, n): the highest percentile with at least ten samples above it."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


class Jvm:
    """One driver JVM, started in its own process group and always reaped."""

    def __init__(self, classpath, run_dir, heap):
        self.cp, self.dir, self.heap = classpath, run_dir, heap

    def run(self, request: dict, deadline: float) -> dict:
        n = len([f for f in os.listdir(self.dir) if f.startswith("request")])
        req_path = os.path.join(self.dir, f"request{n}.properties")
        out = os.path.join(self.dir, f"result{n}.json")
        request = dict(request, out=out, launch_ns=time.time_ns())
        with open(req_path, "w") as f:
            for k, v in request.items():
                f.write(f"{k}={str(v).replace(chr(92), chr(92) * 2)}\n")
        cmd = ["java", f"-Xms{self.heap}", f"-Xmx{self.heap}", "-XX:-UsePerfData",
               "-XX:-UseDynamicNumberOfCompilerThreads", f"-Djava.io.tmpdir={self.dir}/tmp",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
        for o in build.ADD_OPENS:
            cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
        cmd += ["-cp", self.cp, "perfbench.Harness", req_path]
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(self.dir, "spark-local"))
        with open(os.path.join(self.dir, "driver.log"), "a") as err:
            p = subprocess.Popen(cmd, cwd=self.dir, env=env, stdout=err, stderr=err,
                                 start_new_session=True)
            try:
                rc = p.wait(timeout=max(deadline - time.monotonic(), 1))
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                fail("driver JVM exceeded the run's time budget", 3)
            except BaseException:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                raise
        if rc != 0 or not os.path.exists(out):
            with open(os.path.join(self.dir, "driver.log")) as f:
                lines = [l for l in f.read().splitlines() if "Exception" in l or "Error" in l]
            fail(f"driver JVM exited with {rc}: " + " | ".join(lines[-3:]), 3)
        return json.load(open(out))


def check(res: dict, oracle, dump_root: str):
    """Per query: (ok, reason). Also returns verified fingerprints to record."""
    runs = {}
    for p in res["passes"]:
        for r in p["runs"]:
            runs.setdefault(r["q"], []).append(r)
    verified = oracle.verified()
    learned, verdict = {}, {}
    for q, rs in runs.items():
        errs = [r["error"] for r in rs if r["error"]]
        fps = {r["fp"] for r in rs if r["fp"]}
        if errs:
            verdict[q] = (False, f"threw: {errs[0]}")
        elif len(fps) != 1:
            verdict[q] = (False, f"result differs across passes ({len(fps)} fingerprints)")
        elif q not in res["oracle"]:
            rows = int(next(iter(fps)).split(":")[0])
            verdict[q] = (rows > 0, "ok" if rows > 0 else "returned no rows")
        else:
            fp = next(iter(fps))
            sql = res["oracle"][q]
            known = verified.get(q)
            if known and known["sql"] == sha(sql) and known["fp"] == fp:
                verdict[q] = (True, "ok (verified fingerprint)")
                continue
            d = res["dumps"].get(q)
            if d is None or d["error"]:
                verdict[q] = (False, f"oracle check dump failed: {d and d['error']}")
                continue
            ok, msg = oracle.compare(sql, os.path.join(dump_root, q))
            if not ok:
                verdict[q] = (False, f"differs from oracle: {msg}")
            elif d["fp"] != fp:
                verdict[q] = (False, "matches oracle on re-execution, but the timed "
                                     "passes returned other rows")
            else:
                verdict[q] = (True, "ok (oracle)")
                learned[q] = {"sql": sha(sql), "fp": fp}
    return verdict, learned


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.monotonic()

    try:
        build.sources()
        first = not os.path.isdir(build.CLASSES)
        classpath = build.ensure()
    except build.BuildError as e:
        fail(str(e))
    data = sf_dir()
    oracle = Oracle(WORK, data)
    first = first or not oracle.verified()
    deadline = t_start + (FIRST_TIMEOUT_S if first else TIMEOUT_S)

    cores = len(os.sched_getaffinity(0))
    heap = driver_heap()
    host0 = host_context()
    stamp = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    run_dir = os.path.join(WORK, "runs", f"{stamp}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("spark-local", "tmp", "dump"):
        os.makedirs(os.path.join(run_dir, d))
    log(f"workload={a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace}")
    log(f"env master=local[{cores}] driver_heap={heap} SPARK_LOCAL_DIRS={run_dir}/spark-local "
        f"cwd={run_dir} data={data}")
    log(f"host start loadavg={host0.get('loadavg')} "
        f"cpu_pressure_avg10={host0.get('cpu_pressure_avg10')}")

    jvm = Jvm(classpath, run_dir, heap)
    try:
        base = {"cores": cores, "sf_dir": data}
        setups = [jvm.run(dict(base, mode="setup"), deadline)["setup_s"]
                  for _ in range(SETUPS - 1)]
        vfile = os.path.join(run_dir, "verified.properties")
        with open(vfile, "w") as f:
            for q, v in oracle.verified().items():
                f.write(f"{q}={v['fp']}\n")
        every = [s for w in WORKLOADS.values() for s in w["select"]]
        res = jvm.run(dict(base, mode="full", queries=",".join(WORKLOADS[a.workload]["select"]),
                           seed=a.seed, seconds=a.seconds, trace=a.trace,
                           min_warm=MIN_WARM,
                           spans=os.path.join(run_dir, "spans.jsonl"), verified=vfile,
                           dump_dir=os.path.join(run_dir, "dump"), oracle_queries=",".join(every)),
                      deadline)
        setups.append(res["setup_s"])
        host1 = host_context()

        verdict, learned = check(res, oracle, os.path.join(run_dir, "dump"))
        # Answer every workload's oracles now: the first run in a checkout
        # may take long, later first runs of other workloads may not.
        for sql in res["oracle"].values():
            oracle.expected(sql)
        oracle.record(learned)
        probe_ok = res["probe"] is None or res["probe"]["ok"]

        attempted = sum(len(p["runs"]) for p in res["passes"])
        bad = {q for q, (ok, _) in verdict.items() if not ok}
        failed = sum(1 for p in res["passes"] for r in p["runs"] if r["q"] in bad)
        cold = [p for p in res["passes"] if p["kind"] == "cold"]
        warm = [p for p in res["passes"] if p["kind"] == "warm" and not p["traced"]]
        wall = lambda p: (p["end_us"] - p["start_us"]) / 1e6
        cpu = lambda p: p["cpu_ns"] / 1e9
        ref = statistics.median(p["ref_ns"] for p in res["passes"]) / 1e9
        lat = [(r["end_us"] - r["start_us"]) / 1e6 for p in warm for r in p["runs"] if not r["error"]]
        tail_v, tail_pct, tail_n = tail(lat)
        # The passes are gated on the CPU time of the driver JVM's threads
        # other than the JIT compiler's (driver, tasks, Spark's pools, GC),
        # the work they cost, in units of the host speed probe taken
        # between passes (`ref`, the CPU time of a fixed JDK-only loop). On
        # a shared host wall time grows with other processes' load, and the
        # CPU time of the same work drifts by tens of percent within
        # minutes; both are printed and recorded but not gated.
        e2e = {
            "setup_s": (statistics.median(setups), "s"),
            "cold_pass_cpu_ref": (cpu(cold[0]) / ref, "ref"),
            "warm_pass_cpu_ref": (statistics.median(cpu(p) for p in warm) / ref, "ref"),
            "retained_heap_mb": (res["retained_heap_mb"], "MB"),
        }
        raw = {"cold_pass_s": (wall(cold[0]), "s (wall time, not gated)"),
               "warm_pass_s": (statistics.median(wall(p) for p in warm), "s (wall time, not gated)"),
               "cold_pass_cpu_s": (cpu(cold[0]), "s (CPU time, not gated)"),
               "warm_pass_cpu_s": (statistics.median(cpu(p) for p in warm), "s (CPU time, not gated)"),
               "ref_s": (ref, "s (CPU time of the host speed probe)")}
        p50 = statistics.median(lat)
        error_rate = failed / attempted

        layer, named, rows, unowned = {}, {}, [], 0
        if a.trace:
            events = [json.loads(l) for l in open(os.path.join(run_dir, "spans.jsonl"))]
            rows, spans, unowned = layers.analyse(res, events)
            layer = layers.per_layer(res, rows, cores)
            named = layers.named_rows(rows, res)
            tdir = os.path.join(WORK, "traces")
            os.makedirs(tdir, exist_ok=True)
            with open(os.path.join(tdir, f"{a.workload}-seed{a.seed}.spans.jsonl"), "w") as f:
                for s in spans:
                    f.write(json.dumps(s) + "\n")
            with open(os.path.join(tdir, f"{a.workload}-seed{a.seed}.queries.json"), "w") as f:
                json.dump(rows, f, indent=1)

        steal = steal_share(host0, host1)
        log(f"host end loadavg={host1.get('loadavg')} cpu_steal={steal:.4f} "
            f"cpu_pressure_avg10={host1.get('cpu_pressure_avg10')} "
            f"wall={time.monotonic() - t_start:.1f}s")
        for name, (v, unit) in e2e.items():
            log(f"metric {name} = {v:.6g} {unit}")
        for name, (v, unit) in raw.items():
            log(f"metric {name} = {v:.6g} {unit}")
        # Per-query percentiles are printed but not in the result line: a
        # run has only a few dozen latencies of queries that differ by 20x,
        # so the percentile jumps between queries from run to run.
        log(f"metric query_p50_s = {p50:.6g} s (n={tail_n} warm query latencies)")
        log(f"metric query_tail_s = {tail_v:.6g} s (p{tail_pct:.1f} of n={tail_n} warm query "
            f"latencies)")
        log(f"metric error_rate = {error_rate:.6g} ({failed}/{attempted} query runs)")
        for q, (ok, why) in sorted(verdict.items()):
            if not ok:
                log(f"FAILED {q}: {why}")
        if not probe_ok:
            log("FAILED functions probe: a kernel returned a wrong answer")
        if a.trace:
            log(f"trace: {len(rows)} traced query runs, each split into build, plan, job "
                f"and residual time that add up to its wall time; {unowned} jobs ran "
                f"outside any query")
            units = {m["name"]: m["unit"] for m in layers.catalogue() + layers.catalogue("named")}
            for name, v in list(layer.items()) + list(named.items()):
                log(f"layer {name} = {v:.6g} {units[name]}")

        record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
                  "env": {"master": f"local[{cores}]", "driver_heap": heap, "data": data},
                  "host": {"start": host0, "end": host1, "cpu_steal": steal},
                  "setups_s": setups, "e2e": {k: v for k, (v, _) in e2e.items()},
                  "raw": {k: v for k, (v, _) in raw.items()},
                  "error_rate": error_rate, "query_p50_s": p50,
                  "query_tail": {"value": tail_v, "percentile": tail_pct, "n": tail_n},
                  "failed": {q: why for q, (ok, why) in verdict.items() if not ok},
                  "layers": layer, "named_rows": named, "jobs_outside_queries": unowned if a.trace else None,
                  "passes": [{"kind": p["kind"], "traced": p["traced"], "wall_s": wall(p),
                              "cpu_s": cpu(p), "jit_s": p["jit_ns"] / 1e9,
                              "ref_s": p["ref_ns"] / 1e9,
                              "order": [r["q"] for r in p["runs"]],
                              "query_s": [(r["end_us"] - r["start_us"]) / 1e6 for r in p["runs"]],
                              "query_cpu_s": [r["cpu_ns"] / 1e9 for r in p["runs"]]}
                             for p in res["passes"]]}
        rdir = os.path.join(WORK, "results")
        os.makedirs(rdir, exist_ok=True)
        with open(os.path.join(rdir, f"{stamp}-{int(time.time())}.json"), "w") as f:
            json.dump(record, f, indent=1)

        if a.trace:
            metrics = {m["name"]: {"value": layer[m["name"]], "unit": m["unit"]}
                       for m in layers.catalogue()}
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        print(json.dumps({"correct": not bad and probe_ok, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
