#!/usr/bin/env python3
"""Benchmark of the graft engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
benchmark JVM (perfbench/build.sbt) and generates the input tables; both are
kept under .bench_build/ for later runs. Every run starts fresh JVMs on
local[nproc] with an empty artifact cache and scratch directory of
their own, so artifact builds land in set-up.

--trace 0 prints the end-to-end metrics of an untraced run; --trace 1
prints the per-layer metrics of a traced run, the tracing overhead and
the scaling against a local[1] run. The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}.
The batch workloads' entry lists are in perfbench/workloads.json; the
live workload is kstreams_live. perfbench/README.md defines every metric.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen_data  # noqa: E402
import stats  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
JVM_TIMEOUT_S = 170
LIVE = "kstreams_live"
# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def _sources():
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"), os.path.join(ROOT, "project"),
                os.path.join(HERE, "project")):
        for d, dirs, fs in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs) if f.endswith((".scala", ".sbt", ".properties"))]
    return files


def build():
    """Compile the engine and the benchmark JVM with sbt once per source
    state; returns the benchmark JVM's runtime classpath."""
    h = hashlib.sha256()
    for f in _sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s["sources"] == digest and all(os.path.exists(p) for p in s["classpath"].split(os.pathsep)):
            return s["classpath"]
    log("building the engine and the benchmark JVM with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
                       timeout=850)
    lines = [x for x in p.stdout.splitlines() if x.strip() and not x.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("sbt build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"sources": digest, "classpath": lines[-1].strip()}, f)
    return lines[-1].strip()


def ensure_data():
    """The input tables (sf 0.1, fixed seed), generated once per version
    of gen_data.py."""
    with open(os.path.join(HERE, "gen_data.py"), "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:16]
    out = os.path.join(BUILD, "data", tag)
    if not os.path.isdir(out):
        tmp = out + f".tmp{os.getpid()}"
        gen_data.generate(tmp, seed=42)
        os.rename(tmp, out)
    return out


def nproc():
    return len(os.sched_getaffinity(0))


def run_jvm(classpath, run_dir, name, conf, tmp=None):
    """Start one benchmark JVM, wait for it and return its result with
    `spawn_ms` added. `tmp` defaults to an empty directory of its own."""
    tmp = tmp or os.path.join(run_dir, f"{name}-tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(run_dir, f"{name}.json")
    args = dict(conf, out=out, results=os.path.join(run_dir, f"{name}-results"))
    cmd = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-cp", classpath, "graft.perfbench.Main",
           *[f"{k}={v}" for k, v in args.items()]]
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    with open(os.path.join(run_dir, f"{name}.log"), "w") as logf:
        spawn_ms = time.time() * 1000
        p = subprocess.Popen(cmd, env=env, stdout=logf, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        finally:  # a timeout or a signal to the runner must not leave the JVM running
            if p.poll() is None:
                p.kill()
                p.wait()
    if p.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(run_dir, f"{name}.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"benchmark JVM {name} exited with {p.returncode}")
    with open(out) as f:
        res = json.load(f)
    res["spawn_ms"] = spawn_ms
    res["results_dir"] = args["results"]
    return res


def keep_spans(args, spans):
    """Write the traced phase's spans to .bench_build/spans/ and return the path."""
    out = os.path.join(BUILD, "spans", f"{args.workload}-{args.seed}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(spans, f)
    return out


# ---------------------------------------------------------------- batch

def batch_conf(entries, args, cores, seconds, trace, data):
    """The JVM makes as many whole passes as fit into `seconds` at the pace
    of its second set-up round, at least one; 0 makes one pass."""
    return {"mode": "batch", "workload": args.workload, "entries": ",".join(entries),
            "data": data, "cores": cores, "seed": args.seed, "seconds": seconds, "trace": int(trace)}


def batch_check(res, data):
    """(attempted, failed, problems) over every timed call of one JVM."""
    names = sorted({s["name"] for s in res["samples"]})
    verdict = checks.oracle_check(ROOT, data, res["results_dir"], res["oracle_sql"])
    verdict = {n: verdict.get(n, "NOT_CHECKED: tools/check.py gave no verdict") for n in names}
    bad_entry = {n: v for n, v in verdict.items() if not (v.startswith("OK") or v == "NOORACLE")}
    bad_pass = {(m["name"], m["pass"]) for m in res["mismatches"]}
    bad_all = {m["name"] for m in res["mismatches"] if m["pass"] == -1}
    problems = [f"{n}: {v}" for n, v in sorted(bad_entry.items())]
    problems += [f"{m['name']} (pass {m['pass']}): {m['reason']}" for m in res["mismatches"]]
    failed = 0
    for s in res["samples"]:
        if s["error"]:
            problems.append(f"{s['name']} (pass {s['pass']}): {s['error']}")
        # every artifact must be built in set-up, never inside the timed calls
        if s["builds"]:
            problems.append(f"{s['name']} (pass {s['pass']}): built {s['builds']} artifact(s) in the timed phase")
        if (s["error"] or s["builds"] or s["name"] in bad_entry or s["name"] in bad_all
                or (s["name"], s["pass"]) in bad_pass):
            failed += 1
    return len(res["samples"]), failed, problems


def pass_walls(res, traced, after=False):
    return [(p["end_ms"] - p["start_ms"]) / 1000 for p in res["passes"]
            if p["traced"] == traced and p["after"] == after]


def tail_line(name, values, unit, scale=1.0, groups=None, what="samples"):
    """A p90 report line, or the reason it is not taken."""
    v, level = stats.tail(values, 0.9, groups=groups)
    if level == 0.9:
        return name, v * scale, unit, f"{len(values)} {what}"
    return name, None, unit, f"not taken: fewer than 10 {what} beyond p90 ({len(values)} samples)"


def batch_end_to_end(res):
    lat = [(s["end_ms"] - s["start_ms"]) / 1000 for s in res["samples"] if not s["traced"]]
    values = {
        "setup_s": (res["timing_start_ms"] - res["spawn_ms"]) / 1000,
        "wall_s": stats.median(pass_walls(res, False)),
        "cpu_s": stats.median([p["cpu_s"] for p in res["passes"] if not p["traced"]]),
        "retained_heap_mb": res["retained_heap_mb"],
    }
    report = [("passes", len(pass_walls(res, False)), "count",
               f"timed passes; set-up's second round took {res['round2_ms'] / 1000:.2f} s"),
              # each entry is one batch: its input is due at submission and
              # its result is committed when fully materialised
              ("latency_p50_ms", stats.hd_median(lat) * 1000, "ms", f"{len(lat)} entry calls"),
              ("query_p50_s", stats.hd_median(lat), "s", f"{len(lat)} entry calls"),
              tail_line("query_p90_s", lat, "s", what="entry calls")]
    return values, report


def _sum(spans, key):
    return sum(s["attrs"].get(key, 0) or 0 for s in spans)


def span_layers(spans, n_units, wall_s, cores):
    """Per-layer metrics shared by both workload kinds, from the spans of
    the traced timed phase; totals are per pass (`n_units` passes)."""
    by_id = {s["id"]: s for s in spans}
    stages = [s for s in spans if s["name"] == "stage"]
    jobs = [s for s in spans if s["name"] == "job"]
    batches = [s for s in spans if s["name"] == "batch"]
    queries = [s for s in spans if s["name"] == "query"]
    plans = [s for s in spans if s["layer"] == "plans"]
    tasks = [t for s in stages for t in s["attrs"].get("task_ms", [])]
    skews = [max(s["attrs"]["task_ms"]) / stats.median(s["attrs"]["task_ms"])
             for s in stages if len(s["attrs"].get("task_ms", [])) > 1 and stats.median(s["attrs"]["task_ms"]) > 0]
    run_s = _sum(stages, "run_ms") / 1000
    calls = _sum(plans, "graft_rule_calls")
    per = 1.0 / max(1, n_units)

    def batch_med(key):
        return stats.median([b["attrs"].get(key, 0) for b in batches])

    last = {}
    for b in sorted(batches, key=lambda b: b["start_ms"]):
        last[b["parent"]] = b
    first_batch = {}
    for b in sorted(batches, key=lambda b: b["start_ms"], reverse=True):
        first_batch[b["parent"]] = b
    starts = [first_batch[q["id"]]["start_ms"] - q["start_ms"] for q in queries if q["id"] in first_batch]
    stops = [q["end_ms"] - q["attrs"]["last_batch_end_ms"] for q in queries]
    self_ms = stats.self_times(spans)
    m = {
        "operators.construct_s": sum(s["end_ms"] - s["start_ms"] for s in spans if s["name"] == "construct") / 1000 * per,
        "operators.construct_jobs": sum(1 for j in jobs if by_id.get(j["parent"], {}).get("name") == "construct") * per,
        "plans.analysis_s": sum(s["end_ms"] - s["start_ms"] for s in plans if s["name"] == "analysis") / 1000 * per,
        "plans.optimizer_s": sum(s["end_ms"] - s["start_ms"] for s in plans if s["name"] == "optimization") / 1000 * per,
        "plans.planning_s": sum(s["end_ms"] - s["start_ms"] for s in plans if s["name"] == "planning") / 1000 * per,
        "plans.graft_rules_s": _sum(plans, "graft_rule_ns") / 1e9 * per,
        "plans.graft_rules_effective_ratio": _sum(plans, "graft_rule_effective") / calls if calls else 0.0,
        "exec.jobs": len(jobs) * per,
        "exec.stages": len(stages) * per,
        "exec.tasks": len(tasks) * per,
        "exec.task_run_s": run_s * per,
        "exec.task_cpu_s": _sum(stages, "cpu_ns") / 1e9 * per,
        "exec.core_util": run_s * per / (wall_s * cores) if wall_s else 0.0,
        "exec.task_p50_ms": stats.median(tasks),
        "exec.stage_skew": stats.median(skews),
        "shuffle.write_bytes": _sum(stages, "shuffle_write_bytes") * per,
        "shuffle.read_bytes": _sum(stages, "shuffle_read_bytes") * per,
        "shuffle.spill_bytes": _sum(stages, "spill_bytes") * per,
        "sources.scan_bytes": _sum(stages, "input_bytes") * per,
        "sources.scan_rows": _sum(stages, "input_rows") * per,
        "sinks.write_bytes": _sum(stages, "output_bytes") * per,
        "streaming.batches": len(batches) * per,
        "streaming.trigger_ms": batch_med("ms.triggerExecution"),
        "streaming.add_batch_ms": batch_med("ms.addBatch"),
        "streaming.query_planning_ms": batch_med("ms.queryPlanning"),
        "streaming.wal_commit_ms": batch_med("ms.walCommit"),
        "streaming.commit_offsets_ms": batch_med("ms.commitOffsets"),
        "streaming.rows_per_batch": batch_med("input_rows"),
        "state.rows_total": sum(b["attrs"]["state_rows_total"] for b in last.values()) * per,
        "state.rows_updated": _sum(batches, "state_rows_updated") * per,
        "state.memory_bytes": sum(b["attrs"]["state_memory_bytes"] for b in last.values()) * per,
        "state.commit_ms": stats.median([b["attrs"]["state_commit_ms"] for b in batches
                                         if b["attrs"]["state_rows_total"] or b["attrs"]["state_commit_ms"]]),
        "lifecycle.start_s": sum(starts) / 1000 * per,
        "lifecycle.stop_s": sum(stops) / 1000 * per,
        "snapshot.tasks": sum(len(s["attrs"].get("task_ms", [])) for s in stages
                              if by_id.get(by_id.get(s["parent"], {}).get("parent"), {}).get("layer") == "snapshot") * per,
        "trace.spans": len(spans) * per,
    }
    for layer in ("entry", "operators", "plans", "exec", "streaming", "lifecycle", "snapshot"):
        m[f"self.{layer}_s"] = self_ms.get(layer, 0.0) / 1000 * per
    return m


def batch_layers(res, one, cores):
    n = sum(1 for p in res["passes"] if p["traced"])
    wall_t = stats.median(pass_walls(res, True))
    # untraced passes ran before and after the traced ones: their mean
    # cancels the JIT warming in between
    wall_u = (stats.median(pass_walls(res, False)) + stats.median(pass_walls(res, False, after=True))) / 2
    m = span_layers(res["spans"], n, wall_t, cores)
    timed = res["samples"]
    built = {c["name"] for c in res["setup_calls"] if c["builds"] > 0}
    reads = [s for s in timed if s["name"] in built]
    med = {n_: stats.median([(s["end_ms"] - s["start_ms"]) for s in timed if s["name"] == n_]) for n_ in built}
    m.update({
        "jvm.gc_s": stats.median([p["gc_s"] for p in res["passes"] if p["traced"]]),
        "artifacts.builds": sum(s["builds"] for s in timed),
        "artifacts.build_s": sum(max(0.0, c["ms"] - med[c["name"]]) for c in res["setup_calls"] if c["name"] in built) / 1000,
        "artifacts.cache_reads": len(reads),
        "artifacts.reuse_ratio": sum(1 for s in reads if s["builds"] == 0) / len(reads) if reads else 0.0,
        "streaming.replay_events_per_s": 0.0,
        "streaming.backlog_rows": 0,
        "streaming.generator_lag_ms": 0.0,
        "state.tie_mismatches": 0,
        "lifecycle.queries_left_active": max(p["queries_left_active"] for p in res["passes"]),
        "sinks.views_left": res["passes"][0]["views_left"],
        "snapshot.rows_scanned": 0,
        "snapshot.scan_p50_ms": 0.0,
        "trace.overhead_s": wall_t - wall_u,
        "exec.core_scaling": stats.median(pass_walls(one, False)) / wall_u,
    })
    return m


def run_batch(entries, args, classpath, run_dir, data):
    cores = nproc()
    if not args.trace:
        res = run_jvm(classpath, run_dir, "run", batch_conf(entries, args, cores, args.seconds, False, data))
        metrics, report = batch_end_to_end(res)
        return metrics, batch_check(res, data), report
    res = run_jvm(classpath, run_dir, "traced", batch_conf(entries, args, cores, args.seconds, True, data))
    # the one-core baseline reads the artifacts the first JVM built
    one = run_jvm(classpath, run_dir, "one-core", batch_conf(entries, args, 1, 0, False, data),
                  tmp=os.path.join(run_dir, "traced-tmp"))
    a, f, problems = batch_check(res, data)
    a1, f1, p1 = batch_check(one, data)
    report = [("spans", len(res["spans"]), "count", keep_spans(args, res["spans"]))]
    return batch_layers(res, one, cores), (a + a1, f + f1, problems + [f"one core: {x}" for x in p1]), report


# ----------------------------------------------------------------- live

def live_conf(args, cores, trace, live_ms):
    return {"mode": "live", "workload": args.workload, "cores": cores, "seed": args.seed,
            "trace": int(trace), "live_ms": live_ms}


def table_batches(phase):
    name = next(n for n in phase["progress"] if n.startswith("kt_latest"))
    return [{"end_offset": int(b["end_offset"]) if b["end_offset"] is not None else None,
             "end_ms": b["start_ms"] + b["trigger_ms"]} for b in phase["progress"][name]]


def live_latencies(phase):
    start, rate, backlog = phase["live_start_ms"], phase["rate"], phase["backlog"]
    return stats.event_latencies(phase["calls"], lambda seq: start + (seq - backlog) * 1000 / rate,
                                 table_batches(phase))


def live_end_to_end(res):
    ph = res["phases"][0]
    scans = [(s["end_ms"] - s["start_ms"]) / 1000 for s in ph["scans"]]
    lat = live_latencies(ph)
    values = [x for x, _ in lat]
    out = {
        "setup_s": (res["timing_start_ms"] - res["spawn_ms"]) / 1000,
        "wall_s": (ph["drain_end_ms"] - ph["start_ms"]) / 1000,
        "cpu_s": ph["cpu_s"],
        "retained_heap_mb": ph["retained_heap_mb"],
    }
    report = [
        ("replay_events_per_s", ph["backlog"] / (ph["replay_end_ms"] - ph["start_ms"]) * 1000, "events/s",
         f"{ph['backlog']} backlog records"),
        ("latency_p50_ms", stats.hd_median(values), "ms", f"{len(values)} records"),
        tail_line("latency_p90_ms", values, "ms", groups=[b for _, b in lat], what="batches"),
        ("scan_p50_ms", stats.hd_median(scans) * 1000, "ms", f"{len(scans)} scans"),
        tail_line("scan_p90_ms", scans, "ms", scale=1000.0, what="scans"),
    ]
    return out, report


def live_check(res):
    """(attempted, failed, problems, tie mismatches per phase)."""
    attempted, failed, problems, ties = 0, 0, [], []
    for i, ph in enumerate(res["phases"]):
        keys, wrong, tied = checks.live_check(os.path.join(res["results_dir"], f"phase{i}"))
        ties.append(tied)
        scan_err = [s["error"] for s in ph["scans"] if s["error"]]
        batches = sum(len(v) for v in ph["progress"].values())
        attempted += keys + len(ph["scans"]) + batches
        failed += len(wrong) + len(scan_err) + len(ph["query_failures"]) + (ph["stream_rows"] != ph["records"])
        problems += wrong[:20] + scan_err[:5] + ph["query_failures"]
        if ph["stream_rows"] != ph["records"]:
            problems.append(f"stream sink holds {ph['stream_rows']} of {ph['records']} records")
        if ph["builds"]:
            failed += 1
            problems.append(f"phase {i}: built {ph['builds']} artifact(s) in the timed phase")
    return attempted, failed, problems, ties


def live_layers(res, one, cores, ties):
    before, ph, after = res["phases"]
    wall = lambda p: (p["drain_end_ms"] - p["start_ms"]) / 1000  # noqa: E731
    # untraced phases ran before and after the traced one: their mean
    # cancels the JIT warming in between
    wall_u, wall_t = (wall(before) + wall(after)) / 2, wall(ph)
    m = span_layers(ph["spans"], 1, wall_t, cores)
    start, rate, backlog = ph["live_start_ms"], ph["rate"], ph["backlog"]
    due = [(c["offset"], start + (c["first_seq"] - backlog) * 1000 / rate, c) for c in ph["calls"]]
    tb = table_batches(ph)
    backlog_rows = [sum(c["count"] for o, d, c in due if d <= b["end_ms"] and o > b["end_offset"])
                    for b in tb if b["end_offset"] is not None and b["end_ms"] >= start]
    replay = lambda p: p["backlog"] / (p["replay_end_ms"] - p["start_ms"]) * 1000  # noqa: E731
    m.update({
        "jvm.gc_s": ph["gc_s"],
        "artifacts.builds": ph["builds"],
        "artifacts.build_s": 0.0,
        "artifacts.cache_reads": 0,
        "artifacts.reuse_ratio": 0.0,
        "streaming.replay_events_per_s": replay(ph),
        "streaming.backlog_rows": max(backlog_rows, default=0),
        "streaming.generator_lag_ms": max((c["sent_ms"] - d for _, d, c in due), default=0.0),
        "state.tie_mismatches": ties,
        "lifecycle.stop_s": sum(ph["stop_ms"]) / 1000,
        "lifecycle.queries_left_active": ph["queries_left_active"],
        "sinks.views_left": ph["views_left"],
        "snapshot.rows_scanned": sum(s["rows_scanned"] for s in ph["scans"]),
        "snapshot.scan_p50_ms": stats.hd_median([s["end_ms"] - s["start_ms"] for s in ph["scans"]]),
        "trace.overhead_s": wall_t - wall_u,
        "exec.core_scaling": (replay(before) + replay(after)) / 2 / replay(one["phases"][0]),
    })
    return m


def run_live(args, classpath, run_dir):
    cores = nproc()
    live_ms = int(args.seconds * 1000)
    res = run_jvm(classpath, run_dir, "run", live_conf(args, cores, args.trace, live_ms))
    attempted, failed, problems, ties = live_check(res)
    if not args.trace:
        metrics, report = live_end_to_end(res)
        report.append(("state.tie_mismatches", ties[0], "count", "kept apart from error_rate"))
        return metrics, (attempted, failed, problems), report
    one = run_jvm(classpath, run_dir, "one-core", live_conf(args, 1, False, 0))
    a1, f1, p1, _ = live_check(one)
    m = live_layers(res, one, cores, ties[1])
    spans = res["phases"][1]["spans"]
    return m, (attempted + a1, failed + f1, problems + p1), [("spans", len(spans), "count", keep_spans(args, spans))]


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(HERE, "workloads.json")) as f:
        batch = json.load(f)
    if args.workload not in batch and args.workload != LIVE:
        fail(f"unknown workload {args.workload}; known: {', '.join([*batch, LIVE])}")
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala"),
                 os.path.join("tools", "check.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a graft checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]

    classpath = build()
    data = ensure_data()
    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        if args.workload == LIVE:
            values, (attempted, failed, problems), report = run_live(args, classpath, run_dir)
        else:
            values, (attempted, failed, problems), report = run_batch(batch[args.workload], args, classpath,
                                                                      run_dir, data)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  cores {nproc()}")
    for p in problems:
        print(f"  FAILED {p}")
    lines = [(d["name"], values[d["name"]], d["unit"], "") for d in declared]
    lines.insert(0, ("error_rate", failed / max(1, attempted), "ratio", f"{failed} of {attempted} operations"))
    lines += [x for x in report if x[0] not in values]
    for name, v, unit, note in lines:
        shown = "-" if v is None else f"{v:.6f}"
        print(f"  {name:36s} {shown:>16s} {unit:9s} {note}")
    metrics = {d["name"]: {"value": float(values[d["name"]]), "unit": d["unit"]} for d in declared}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
