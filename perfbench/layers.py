"""Per-layer accounting of a traced run.

The harness records, for every query it ran, its window (start, end of
the registry call, end of the write) and, from Spark's listeners, every
job, stage (with summed task metrics) and Catalyst planning phase with
their own timestamps. This module links them into one span tree

    run -> pass -> query -> {build, action} -> job -> stage
                                            -> phase

(every span of one query carries the query's id as `qid`), splits each
query's wall time into parts that add up exactly, and sums the parts
into the per-layer metrics named in `layers.json`.

The split of one query's wall time, on its own timeline:
- `job_wall_s`: time covered by at least one Spark job;
- `plan_self_s`: time in a Catalyst phase and in no job;
- `build_self_s`: time inside the registry call in neither of the above
  (DataFrame construction, driver-side loop control);
- `residual_s`: time after the registry call in none of the above (write
  set-up and commit, result handling, listener and scheduler latency).
"""
import bisect
import json
import os
import statistics

MB = 1048576.0
PHASES = ("analysis", "optimization", "planning")
HERE = os.path.dirname(os.path.abspath(__file__))


def catalogue(section="metrics") -> list:
    """The per-layer metrics (or, with "named", the per-query rows), in
    order, with what each should move."""
    return json.load(open(os.path.join(HERE, "layers.json")))[section]


def union(iv):
    out = []
    for s, e in sorted((s, e) for s, e in iv if e > s):
        if out and s <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], e))
        else:
            out.append((s, e))
    return out


def covered(iv):
    return sum(e - s for s, e in iv)


def clip(iv, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in iv if min(e, hi) > max(s, lo)]


def minus(iv, cut):
    """Parts of the disjoint sorted intervals `iv` outside the disjoint sorted `cut`."""
    out = []
    for s, e in iv:
        cur = s
        for cs, ce in cut:
            if ce <= cur or cs >= e:
                continue
            if cs > cur:
                out.append((cur, cs))
            cur = max(cur, ce)
        if cur < e:
            out.append((cur, e))
    return out


def analyse(res: dict, events: list):
    """Returns (per-query rows, span list, jobs outside any query) for the
    traced passes."""
    jobs = [e for e in events if e["kind"] == "job"]
    stages = [e for e in events if e["kind"] == "stage"]
    actions = [e for e in events if e["kind"] == "action"]
    stages_of = {}
    for s in stages:
        stages_of.setdefault(s["job"], []).append(s)

    windows = []  # (start_s, built_s, end_s, pass, run)
    for p in res["passes"]:
        if p["traced"]:
            for r in p["runs"]:
                windows.append((r["start_us"] / 1e6, r["built_us"] / 1e6, r["end_us"] / 1e6, p, r))
    windows.sort(key=lambda w: w[0])
    starts = [w[0] for w in windows]

    def owner(t):
        i = bisect.bisect_right(starts, t) - 1
        return i if i >= 0 and t <= windows[i][2] else None

    per = [{"jobs": [], "phases": []} for _ in windows]
    unowned_jobs = 0
    for j in jobs:
        t0 = j["start_ms"] / 1e3
        t1 = max(j["end_ms"] / 1e3, t0)
        i = owner(t0)
        if i is None:
            unowned_jobs += 1
        else:
            per[i]["jobs"].append((t0, t1, j))
    for a in actions:
        for ph in a["phases"]:
            i = owner(ph["start_ms"] / 1e3)
            if i is not None:
                per[i]["phases"].append((ph["start_ms"] / 1e3, ph["end_ms"] / 1e3, ph["phase"], a))

    rows, spans = [], [{"id": "run", "parent": None, "qid": None, "kind": "run",
                        "name": "run", "start": res["passes"][0]["start_us"] / 1e6,
                        "end": res["passes"][-1]["end_us"] / 1e6}]
    for p in res["passes"]:
        spans.append({"id": f"p{p['index']}", "parent": "run", "qid": None, "kind": "pass",
                      "name": f"{p['kind']}{'-traced' if p['traced'] else ''}",
                      "start": p["start_us"] / 1e6, "end": p["end_us"] / 1e6})
    for (s, b, e, p, r), got in zip(windows, per):
        qid = f"p{p['index']}/{r['q']}"
        sid = {"build": qid + "/build", "action": qid + "/action"}
        spans += [
            {"id": qid, "parent": f"p{p['index']}", "qid": qid, "kind": "query", "name": r["q"],
             "start": s, "end": e, "error": r["error"]},
            {"id": sid["build"], "parent": qid, "qid": qid, "kind": "build", "name": "build", "start": s, "end": b},
            {"id": sid["action"], "parent": qid, "qid": qid, "kind": "action", "name": "action", "start": b, "end": e},
        ]
        side = lambda t: sid["build"] if t < b else sid["action"]
        row = {"pass": p["index"], "q": r["q"], "wall_s": e - s, "build_s": b - s,
               "build_jobs": 0, "jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0,
               "task_cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_mb": 0.0,
               "shuffle_read_mb": 0.0, "spill_mb": 0.0, "scan_mb": 0.0, "scan_rows": 0,
               "write_mb": 0.0, "write_rows": 0, "actions": 0,
               "compiles": r["compiles"], "compile_s": r["compile_ns"] / 1e9,
               "rule_runs": r["rule_runs"], "rules_s": r["rule_ns"] / 1e9,
               "held_mb": max(r["held_bytes"], 0) / MB}
        row.update({ph + "_s": 0.0 for ph in PHASES})
        for t0, t1, j in got["jobs"]:
            jid = f"{qid}/job{j['job']}"
            spans.append({"id": jid, "parent": side(t0), "qid": qid, "kind": "job",
                          "name": f"job {j['job']}", "start": t0, "end": t1, "ok": j["ok"]})
            row["jobs"] += 1
            row["build_jobs"] += t0 < b
            for st in stages_of.get(j["job"], []):
                spans.append({"id": f"{jid}/stage{st['stage']}.{st['attempt']}", "parent": jid,
                              "qid": qid, "kind": "stage", "name": f"stage {st['stage']}",
                              "start": st["start_ms"] / 1e3, "end": st["end_ms"] / 1e3,
                              "tasks": st["tasks"]})
                row["stages"] += 1
                row["tasks"] += st["tasks"]
                row["task_s"] += st["task_ms"] / 1e3
                row["task_cpu_s"] += st["cpu_ns"] / 1e9
                row["gc_s"] += st["gc_ms"] / 1e3
                row["shuffle_write_mb"] += st["shuffle_write"] / MB
                row["shuffle_read_mb"] += st["shuffle_read"] / MB
                row["spill_mb"] += st["spill_disk"] / MB
                row["scan_mb"] += st["in_bytes"] / MB
                row["scan_rows"] += st["in_rows"]
                row["write_mb"] += st["out_bytes"] / MB
                row["write_rows"] += st["out_rows"]
        seen = set()
        for t0, t1, name, a in got["phases"]:
            spans.append({"id": f"{qid}/{a['func']}@{t0:.3f}/{name}", "parent": side(t0), "qid": qid,
                          "kind": "phase", "name": name, "start": t0, "end": t1})
            if name in PHASES:
                row[name + "_s"] += t1 - t0
            if id(a) not in seen:
                seen.add(id(a))
                row["actions"] += 1
        jobs_iv = union(clip([(t0, t1) for t0, t1, _ in got["jobs"]], s, e))
        plan_iv = minus(union(clip([(t0, t1) for t0, t1, _, _ in got["phases"]], s, e)), jobs_iv)
        busy = union(jobs_iv + plan_iv)
        row["job_wall_s"] = covered(jobs_iv)
        row["plan_self_s"] = covered(plan_iv)
        row["build_self_s"] = covered(minus([(s, b)], busy))
        row["residual_s"] = covered(minus([(b, e)], busy))
        row["driver_gap_s"] = row["wall_s"] - row["job_wall_s"]
        parts = row["build_self_s"] + row["plan_self_s"] + row["job_wall_s"] + row["residual_s"]
        assert abs(parts - row["wall_s"]) < 1e-6, (r["q"], parts, row["wall_s"])
        rows.append(row)
    return rows, spans, unowned_jobs


def per_layer(res: dict, rows: list, cores: int) -> dict:
    """The per-layer metric values for one traced run (see layers.json)."""
    passes = {p["index"]: p for p in res["passes"]}
    warm_traced = [i for i, p in passes.items() if p["kind"] == "warm" and p["traced"]]
    cold = [i for i, p in passes.items() if p["kind"] == "cold"]

    def pass_sum(i, key):
        return sum(r[key] for r in rows if r["pass"] == i)

    def warm_mean(key):
        return statistics.fmean(pass_sum(i, key) for i in warm_traced)

    m = {
        "queries.build_s": warm_mean("build_s"),
        "queries.build_jobs": warm_mean("build_jobs"),
        "plans.analysis_s": warm_mean("analysis_s"),
        "plans.optimization_s": warm_mean("optimization_s"),
        "plans.planning_s": warm_mean("planning_s"),
        "plans.actions": warm_mean("actions"),
        "plans.rules_s": warm_mean("rules_s"),
        "plans.rule_runs": warm_mean("rule_runs"),
        "plans.driver_gap_s": warm_mean("driver_gap_s"),
        "exec.jobs": warm_mean("jobs"),
        "exec.stages": warm_mean("stages"),
        "exec.tasks": warm_mean("tasks"),
        "exec.job_wall_s": warm_mean("job_wall_s"),
        "exec.task_s": warm_mean("task_s"),
        "exec.task_cpu_s": warm_mean("task_cpu_s"),
        "exec.gc_s": warm_mean("gc_s"),
        "exec.shuffle_write_mb": warm_mean("shuffle_write_mb"),
        "exec.shuffle_read_mb": warm_mean("shuffle_read_mb"),
        "exec.spill_mb": warm_mean("spill_mb"),
        "trace.residual_s": warm_mean("residual_s"),
    }
    jw = m["exec.job_wall_s"]
    m["exec.core_util"] = m["exec.task_s"] / (jw * cores) if jw > 0 else 0.0
    m["exec.idle_core_s"] = jw * cores - m["exec.task_s"]
    # Sources are read on the cold pass: it is the one that writes the
    # warehouse tables, and it scans what every warm pass scans.
    for k in ("scan_mb", "scan_rows", "write_mb", "write_rows"):
        m[f"sources.{k}"] = sum(pass_sum(i, k) for i in cold)
    m["sources.write_amp"] = m["sources.write_mb"] / m["sources.scan_mb"] if m["sources.scan_mb"] else 0.0

    traced = sorted(i for i, p in passes.items() if p["traced"])
    puts = []
    for a, b in zip(traced, traced[1:]):
        if passes[b]["kind"] == "warm":
            puts.append(passes[b]["blocks_put"] - passes[a]["blocks_put"])
    m["storage.block_puts"] = statistics.fmean(puts)
    m["storage.block_mb_peak"] = max((r["held_mb"] for r in rows), default=0.0)
    m["storage.block_mb_retained"] = max(res["blocks_held_end"], 0) / MB

    warm_all = [i for i, p in passes.items() if p["kind"] == "warm"]
    runs_of = lambda i: passes[i]["runs"]
    m["codegen.cold_compiles"] = sum(r["compiles"] for i in cold for r in runs_of(i))
    m["codegen.cold_compile_s"] = sum(r["compile_ns"] for i in cold for r in runs_of(i)) / 1e9
    m["codegen.warm_compiles"] = statistics.fmean(sum(r["compiles"] for r in runs_of(i)) for i in warm_all)

    probe = res["probe"]
    m["functions.editdist_ns"] = probe["editdist_ns"]
    m["functions.editdist_ops"] = probe["editdist_ops"]
    m["functions.bloom_probe_ns"] = probe["bloom_probe_ns"]
    m["functions.bloom_probe_ops"] = probe["bloom_probe_ops"]

    walls = lambda tr: [(p["end_us"] - p["start_us"]) / 1e6 for p in passes.values()
                        if p["kind"] == "warm" and p["traced"] == tr]
    m["trace.warm_pass_s"] = statistics.median(walls(True))
    m["trace.untraced_warm_pass_s"] = statistics.median(walls(False))
    m["trace.overhead_s"] = m["trace.warm_pass_s"] - m["trace.untraced_warm_pass_s"]
    return m


def named_rows(rows: list, res: dict) -> dict:
    """Mean over traced warm passes of the `<query>.<metric>` rows named in
    layers.json, for those of their queries that the run executed."""
    warm_traced = {p["index"] for p in res["passes"] if p["kind"] == "warm" and p["traced"]}
    out = {}
    for m in catalogue("named"):
        q, k = m["name"].rsplit(".", 1)
        vals = [r[k] for r in rows if r["q"] == q and r["pass"] in warm_traced]
        if vals:
            out[m["name"]] = statistics.fmean(vals)
    return out
