#!/usr/bin/env python3
"""Benchmark of the engine: the Spotify E->T->L pipeline and three query
workloads, driven through the engine's public entry points in one Spark
process at local[N] (N = the CPUs this process may use).

Usage, from the root of a checkout:
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It builds the engine from source (perfbench/build.py), generates its inputs
from the seed (tables once per checkout, Spotify documents once per seed,
both untimed and outside set-up), runs the JVM harness
(perfbench/scala/PerfBench.scala), checks every output (perfbench/checks.py)
and prints one line per metric, then one JSON object as the last line.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 a
separate traced pass follows the untraced one and the metrics are the
per-layer ones. See perfbench/README.md.
"""
import argparse
import glob
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
sys.dont_write_bytecode = True
import build  # noqa: E402
import gen_spotify  # noqa: E402
import gen_tables  # noqa: E402

CPUS = len(os.sched_getaffinity(0))
HEAP = "3g"
# The JVM is killed after JVM_START_S (JVM start, session and the cold
# warm-up pass) plus PASS_ALLOWANCE_S per pass after it (timed passes,
# traced and control pass). On a 4-CPU box set-up takes 25-35 s and a pass
# 6-13 s, up to twice that when the box runs slow. At the registered length
# the JVM gets 110 s (etl_spotify, one timed pass) or 130 s (curation_text,
# two), and 40 s more with --trace 1.
JVM_START_S = 90
PASS_ALLOWANCE_S = 20
KEEP_SEEDS = 4  # Spotify document sets kept on disk

# Each workload's pass is a short, fixed list of operations named for the
# layer they stress (README.md says why each was chosen): every run also
# pays JVM start and an untimed warm-up pass, and the registered runs have
# to fit in under an hour on a 4-CPU box even when it runs slow.
# adhoc_onepass and graph_loops run on demand; BENCHMARK.json does not
# register them. A run makes one timed pass per `pass_seconds` of
# --seconds (at least one), about a pass's length on a 4-CPU box.
WORKLOADS = {
    "etl_spotify": {"kind": "etl", "days": 3, "albums": 400, "pass_seconds": 10},
    "adhoc_onepass": {
        "kind": "query", "scale": 0.1, "pass_seconds": 5,
        "ops": ["q01_pricing_summary", "q02_revenue_by_nation",
                "q11_events_hourly", "q12_user_sessions"]},
    "curation_text": {
        "kind": "query", "scale": 0.1, "pass_seconds": 5,
        "ops": ["q19_neardup_pairs", "q21_cosine_topk", "q29_lsh_ann"]},
    "graph_loops": {
        "kind": "query", "scale": 0.001, "pass_seconds": 5,
        "ops": ["q233_link_prediction", "q90_seeded_pagerank",
                "q183_strong_kcore"]},
}

with open(os.path.join(HERE, "..", "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
END_TO_END = [(m["name"], m["unit"]) for m in SPEC["end_to_end"]]
PER_LAYER = [(m["name"], m["unit"]) for m in SPEC["per_layer"]]
# printed with the per-layer metrics but not registered: at local[N] every
# shuffle block is local, so the fetch wait is always exactly 0
PRINTED_ONLY = [("exchange.fetch_wait_s", "s")]

ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def _stamp(*parts):
    h = hashlib.sha256()
    for p in parts:
        h.update(str(p).encode())
    return h.hexdigest()


def _cached(target, stamp, make):
    """Run make(tmp_dir) unless `target` holds output of the same stamp."""
    stamp_file = os.path.join(target, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return target
    tmp = target + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    make(tmp)
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(target, ignore_errors=True)
    os.rename(tmp, target)
    return target


def tables(bench_dir, scale):
    src = open(gen_tables.__file__).read()
    return _cached(os.path.join(bench_dir, "data", f"tables-sf{scale}"),
                   _stamp(src, scale),
                   lambda d: gen_tables.generate(d, scale))


def spotify_docs(bench_dir, seed, days, albums):
    src = open(gen_spotify.__file__).read()
    root = os.path.join(bench_dir, "data", "spotify")
    target = _cached(os.path.join(root, f"seed{seed}-{days}x{albums}"),
                     _stamp(src, seed, days, albums),
                     lambda d: gen_spotify.generate(d, seed, days, albums))
    os.utime(target)
    sets = sorted(glob.glob(os.path.join(root, "seed*")), key=os.path.getmtime)
    for old in sets[:-KEEP_SEEDS]:
        if ".tmp" not in old:
            shutil.rmtree(old, ignore_errors=True)
    return target


def run_jvm(classes, props, work, timeout):
    path = os.path.join(work, "run.properties")
    with open(path, "w") as f:
        for k, v in props.items():
            f.write(f"{k}={v}\n")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java"] + ADD_OPENS +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp",
            "-cp", f"{classes}:{build.JARS}", "perfbench.PerfBench", path])
    log_path = os.path.join(work, "jvm.log")
    launch = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            rc = f"a timeout after {timeout} s"
        finally:  # also on SIGTERM or Ctrl-C: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(props["out"]):
        tail = open(log_path, errors="replace").read()[-3000:]
        fail(f"JVM exited with {rc}:\n{tail}")
    with open(props["out"]) as f:
        return launch, json.load(f)


def _union(intervals):
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e > end:
            total += e - max(s, end)
            end = e
    return total


def tail_of(samples):
    """(value, label): the highest percentile with >= 10 samples beyond it,
    or the maximum while that percentile would lie below the median."""
    xs = sorted(samples)
    n = len(xs)
    if n < 21:
        return xs[-1], f"max of {n} samples (fewer than 21)"
    return xs[n - 11], f"p{100 * (n - 10) / n:.0f} of {n} samples"


def end_to_end(rec, launch):
    ok = [o for o in rec["ops"] if o["ok"]]
    secs = [o["sec"] for o in ok] or [float("nan")]
    tail, label = tail_of(secs)
    return {
        "setup_s": rec["first_op_epoch_us"] / 1e6 - launch,
        "pass_s": statistics.median(rec["pass_s"]),
        "op_p50_s": statistics.median(secs),
        "op_tail_s": tail,
        "heap_peak_mb": max(o["heap_mb"] for o in rec["ops"]),
        "rows_per_s": sum(o["rows"] for o in ok) / sum(secs),
    }, label


def per_layer(rec, cpus, doc_bytes):
    """Layer metrics of the traced pass (see README.md for each one)."""
    stages = [s for s in rec["stages"] if s["group"].startswith("op")]
    spans = rec["spans"]
    by_group = {}
    for s in stages:
        by_group.setdefault(s["group"], []).append(
            (s["submit_ms"] / 1e3, s["end_ms"] / 1e3))
    phases = [s for s in spans if s["parent"] >= 0]
    ops = {s["id"]: s for s in spans if s["parent"] < 0}
    sec = lambda s: (s["end_us"] - s["start_us"]) / 1e6  # noqa: E731
    phase_sum = {k: 0.0 for k in ("build", "plan", "execute")}
    self_sum = dict(phase_sum)
    stage_union = 0.0
    op_stage_iv = {i: [] for i in ops}
    op_phase_iv = {i: [] for i in ops}
    for p in phases:
        lo, hi = p["start_us"] / 1e6, p["end_us"] / 1e6
        iv = [(max(a, lo), min(b, hi)) for a, b in by_group.get(p["name"], [])
              if min(b, hi) > max(a, lo)]
        covered = _union(iv)
        phase_sum[p["kind"]] += sec(p)
        self_sum[p["kind"]] += sec(p) - covered
        stage_union += covered
        op_stage_iv[p["parent"]] += iv
        op_phase_iv[p["parent"]].append((lo, hi))
    op_wall = sum(sec(o) for o in ops.values())
    driver_only = sum(sec(o) - _union(op_stage_iv[i]) for i, o in ops.items())
    self_op = sum(sec(o) - _union(op_phase_iv[i]) for i, o in ops.items())
    jobs = rec["jobs_per_group"]
    etl = [s for s in stages if doc_bytes]
    mb = 1e6
    return {
        "ops.build_s": phase_sum["build"],
        "ops.build_jobs": sum(n for g, n in jobs.items() if g.endswith(":build")),
        "cache.fills": rec["cache_fills"],
        "cache.mb": rec["cache_mb"],
        "plan.plan_s": phase_sum["plan"],
        "functions.word_shingles_s": rec["probes"]["word_shingles"],
        "functions.lsh_buckets_s": rec["probes"]["lsh_buckets"],
        "functions.cosine_sim_s": rec["probes"]["cosine_sim"],
        "spark.jobs": sum(n for g, n in jobs.items() if g.startswith("op")),
        "spark.stages": len(stages),
        "spark.tasks": sum(s["tasks"] for s in stages),
        "driver.only_s": driver_only,
        "scan.input_mb": sum(s["input_bytes"] for s in stages) / mb,
        "exchange.shuffle_write_mb": sum(s["shuffle_write"] for s in stages) / mb,
        "exchange.shuffle_read_mb": sum(s["shuffle_read"] for s in stages) / mb,
        "exchange.fetch_wait_s": sum(s["fetch_wait_ms"] for s in stages) / 1e3,
        "spark.task_cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
        "spark.gc_s": sum(s["gc_ms"] for s in stages) / 1e3,
        "spill.mb": sum(s["spill_bytes"] for s in stages) / mb,
        "tasks.single_task_stage_s": sum(
            (s["end_ms"] - s["submit_ms"]) / 1e3 for s in stages if s["tasks"] == 1),
        "cores.busy_frac": sum(s["run_ms"] for s in stages) / 1e3 / (op_wall * cpus),
        "spotify.raw_read_ratio": (sum(s["input_bytes"] for s in etl) / doc_bytes
                                   if doc_bytes else 0.0),
        "spotify.write_s": sum((s["end_ms"] - s["submit_ms"]) / 1e3 for s in etl
                               if "graft.spotify.Writers" in s["call_site"]),
        "spotify.output_mb": sum(s["output_bytes"] for s in etl) / mb,
        "self.op_s": self_op,
        "self.build_s": self_sum["build"],
        "self.plan_s": self_sum["plan"],
        "self.execute_s": self_sum["execute"],
        "self.stages_s": stage_union,
        "trace.pass_s": rec["trace_pass_s"],
        "trace.overhead_s": rec["trace_pass_s"] - rec["control_pass_s"],
    }


def op_breakdown(rec):
    """One line per traced operation: where its wall time and bytes went."""
    phases = {}
    for p in rec["spans"]:
        if p["parent"] >= 0:
            phases.setdefault(p["parent"], []).append(p)
    lines = []
    for o in rec["spans"]:
        if o["parent"] >= 0:
            continue
        mine = phases.get(o["id"], [])
        groups = {p["name"] for p in mine}
        st = [s for s in rec["stages"] if s["group"] in groups]
        parts = " ".join(f"{p['kind']} {(p['end_us'] - p['start_us']) / 1e6:.3f}"
                         for p in mine)
        jobs = sum(rec["jobs_per_group"].get(g, 0) for g in groups)
        lines.append(
            f"  trace {os.path.basename(o['name'])}: "
            f"{(o['end_us'] - o['start_us']) / 1e6:.3f} s ({parts}), "
            f"{jobs} jobs, {len(st)} stages, shuffle write "
            f"{sum(s['shuffle_write'] for s in st) / 1e6:.2f} MB")
    return lines


def write_trace(bench_dir, name, rec):
    """Spans of the traced pass, stages as children of their phase span."""
    spans = list(rec["spans"])
    phase_id = {s["name"]: s["id"] for s in spans if s["parent"] >= 0}
    next_id = len(spans)
    for st in rec["stages"]:
        if st["group"] in phase_id:
            spans.append({"id": next_id, "parent": phase_id[st["group"]],
                          "kind": "stage", "name": f"stage {st['id']}",
                          "start_us": st["submit_ms"] * 1000,
                          "end_us": st["end_ms"] * 1000})
            next_id += 1
    out = os.path.join(bench_dir, "traces")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"{name}.json"), "w") as f:
        json.dump(spans, f)


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail(f"no engine sources in {root}; run from the root of a checkout")
    import checks  # imports the engine's tools/check_oracle.py
    wl = WORKLOADS[args.workload]
    bench_dir = os.path.join(root, ".bench_build")
    classes = build.build(root, bench_dir)

    # inputs: untimed, outside set-up, reused across runs
    probe_data = tables(bench_dir, 0.1)
    data = tables(bench_dir, wl.get("scale", 0.1))
    expects = {}
    if wl["kind"] == "etl":
        docs_dir = spotify_docs(bench_dir, args.seed, wl["days"], wl["albums"])
        ops = [os.path.join(docs_dir, f"day{d}.json") for d in range(wl["days"])]
        for op in ops:
            with open(op[:-len(".json")] + ".expect.json") as f:
                expects[op] = json.load(f)
    else:
        ops = wl["ops"]

    work = os.path.join(bench_dir, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    passes = max(1, round(args.seconds / wl["pass_seconds"]))
    try:
        props = {"kind": wl["kind"], "cpus": CPUS,
                 "data": data, "probe_data": probe_data,
                 "work": work, "ops": ",".join(ops), "seed": args.seed,
                 "passes": passes, "trace": args.trace,
                 "out": os.path.join(work, "result.json")}
        launch, rec = run_jvm(classes, props, work, JVM_START_S +
                              PASS_ALLOWANCE_S * (passes + 2 * args.trace))
        if "warmup_error" in rec:
            print(f"warm-up failed: {rec['warmup_error']}")

        # output checks (untimed)
        if wl["kind"] == "etl":
            # rec["etl"] holds one entry per timed operation, in order
            why = [checks.etl_check(r["base"], expects[r["doc"]])
                   for r in rec["etl"]]
        else:
            verdict = checks.oracle_check(
                data, os.path.join(work, "results"), rec["oracle_sql"],
                os.path.join(bench_dir, "oracle", os.path.basename(data)))
            why = [[verdict[o["name"]]] if verdict.get(o["name"]) else []
                   for o in rec["ops"]]
        for o, problems in zip(rec["ops"], why):
            if o["ok"] and problems:
                o["ok"] = False
                o["error"] = problems[0]
        attempted = len(rec["ops"])
        failed = sum(not o["ok"] for o in rec["ops"])
        for o in rec["ops"]:
            if not o["ok"]:
                print(f"FAILED {os.path.basename(o['name'])}: {o['error']}")

        e2e, tail_label = end_to_end(rec, launch)
        print(f"workload {args.workload}: local[{CPUS}], seed {args.seed}, "
              f"{len(rec['pass_s'])} timed pass(es) of {len(ops)} operations "
              f"in {rec['timed_s']:.1f} s after an untimed warm-up pass")
        print("  warm-up op seconds: " +
              " ".join(f"{x:.3f}" for x in rec["warmup_s"]))
        for o in rec["ops"]:
            print(f"  op {os.path.basename(o['name'])} pass {o['pass']}: "
                  f"{o['sec']:.3f} s, {o['rows']} rows, "
                  f"old gen after GC {o['heap_mb']:.1f} MB")
        for name, unit in END_TO_END:
            print(f"  {name} = {e2e[name]:.4f} {unit}")
        print(f"  op_tail_s is the {tail_label}")
        print(f"  failed_frac = {failed / attempted:.4f} ({failed}/{attempted})")
        if args.trace:
            doc_bytes = sum(expects[o]["bytes"] for o in ops) if expects else 0
            layers = per_layer(rec, CPUS, doc_bytes)
            write_trace(bench_dir, f"{args.workload}-seed{args.seed}", rec)
            print("\n".join(op_breakdown(rec)))
            for name, unit in PER_LAYER + PRINTED_ONLY:
                print(f"  {name} = {layers[name]:.4f} {unit}")
            metrics = {n: {"value": layers[n], "unit": u} for n, u in PER_LAYER}
        else:
            metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
        correct = failed == 0 and "warmup_error" not in rec and \
            rec.get("trace_failed", 0) == 0
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
