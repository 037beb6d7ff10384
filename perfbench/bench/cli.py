"""Command line: run one workload under one seed and print its metrics."""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

from . import build, metrics, stats

WORKLOADS = {"sql_star": 2, "corpus_ops": 1, "warehouse_rw": 1}  # closed-loop clients
HEAP = "3g"
RUN_LIMIT_S = 170  # a run (after any build) ends well inside 180 s
BUILD_LIMIT_S = 850
RUNS = os.path.join(build.HERE, ".runs")
EXPECTED = os.path.join(build.HERE, "expected", "sf0.1.json")


def data_dir():
    """The sf0.1 fixtures: $GRAFT_BENCH_DATA, else ~/testdata/sf0.1."""
    return os.environ.get("GRAFT_BENCH_DATA") or os.path.join(
        os.path.expanduser("~"), "testdata", "sf0.1")


def check_fixtures(d):
    """The expected digests hold only for the exact fixture files."""
    with open(EXPECTED) as f:
        want = json.load(f)["fixtures"]
    for name, size in want.items():
        p = os.path.join(d, name)
        got = os.path.getsize(p) if os.path.exists(p) else None
        if got != size:
            raise SystemExit(f"[perfbench] fixture {p}: size {got}, expected {size}")


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def fresh_state(workload):
    """An empty state directory for one harness run."""
    d = os.path.join(build.HERE, ".state", workload)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(d, "tmp"))
    return d


def run_harness(cp, a, traced, deadline):
    state = fresh_state(a.workload)
    out = os.path.join(state, "tmp", "raw.json")
    os.makedirs(RUNS, exist_ok=True)
    spans = os.path.join(RUNS, f"spans-{a.workload}-{a.seed}.jsonl")
    cores = nproc()
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", "1" if traced else "0", "--data", os.path.abspath(data_dir()),
            "--clients", str(stats.client_count(WORKLOADS[a.workload], cores)),
            "--cores", str(cores), "--expected", EXPECTED, "--out", out,
            "--spans", spans]
    cmd = build.java_command(cp, HEAP, args, os.path.join(state, "tmp"))
    log = open(os.path.join(RUNS, f"harness-{a.workload}.log"), "w")
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep scratch in the state dir
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(state, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=state, env=env, stdout=log, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    rc = build.wait_or_kill(proc, deadline - time.monotonic())
    log.close()
    if rc != 0 or not os.path.exists(out):
        with open(log.name) as f:
            tail = f.read()[-3000:]
        raise SystemExit(f"[perfbench] harness exited with {rc}; log tail:\n{tail}")
    with open(out) as f:
        raw = json.load(f)
    shutil.copy(out, os.path.join(RUNS, f"raw-{a.workload}-{a.seed}-{'traced' if traced else 'plain'}.json"))
    shutil.rmtree(state, ignore_errors=True)
    return raw


def history_path(workload):
    return os.path.join(RUNS, f"untraced-{workload}.jsonl")


def remember_untraced(raw, e2e):
    with open(history_path(raw["workload"]), "a") as f:
        f.write(json.dumps({"seed": raw["seed"], "p50_ms": e2e["p50_ms"]["value"]}) + "\n")


def untraced_p50(workload, seed):
    """The untraced p50_ms to compare a traced run with: runs of the same
    seed when there are any, else every untraced run of the workload."""
    p = history_path(workload)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        seen = [json.loads(line) for line in f if line.strip()]
    same = [r["p50_ms"] for r in seen if r["seed"] == seed] or [r["p50_ms"] for r in seen]
    return stats.median(same) if same else None


def print_report(raw, e2e_notes):
    print(f"workload {raw['workload']}  seed {raw['seed']}  clients {raw['clients']}  "
          f"cores {raw['cores']}  window {raw['window_s']:.2f} s  "
          f"session start {raw['session_s']:.2f} s")
    for name, value, unit, n, note in metrics.named_report(raw):
        shown = "n/a" if value is None else f"{value:.6g}"
        print(f"  {name:<18} {shown:>14} {unit:<6} n={n:<6} {note}")
    for note in e2e_notes:
        print(f"  note: {note}")
    for o in raw["ops"]:
        if not o["ok"]:
            print(f"  FAILED {o['kind']}/{o['name']}: {o['error']}")


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    try:
        cp = build.ensure_built(BUILD_LIMIT_S)
    except build.BuildError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        return 2
    check_fixtures(data_dir())
    deadline = time.monotonic() + RUN_LIMIT_S

    if a.trace:
        base = untraced_p50(a.workload, a.seed)
        if base is None:
            print("[perfbench] no untraced run of this workload yet: running one "
                  "first, to measure the tracing overhead", file=sys.stderr)
            plain = run_harness(cp, a, False, deadline)
            e2e, _ = metrics.end_to_end(plain)
            remember_untraced(plain, e2e)
            base = e2e["p50_ms"]["value"]
    raw = run_harness(cp, a, bool(a.trace), deadline)
    e2e, notes = metrics.end_to_end(raw)
    attempted, failed = metrics.counts(raw)
    print_report(raw, notes)
    if a.trace:
        overhead = 100.0 * (e2e["p50_ms"]["value"] - base) / base
        layer, extras = metrics.per_layer(raw, overhead)
        print(f"  traced p50_ms {e2e['p50_ms']['value']:.6g} vs untraced {base:.6g}: "
              f"overhead {overhead:+.2f} %  ({raw['layers']['spans']} spans, "
              f"{raw['layers']['unmapped_queries']} queries outside ops)")
        for k, v in list(layer.items()) + list(extras.items()):
            print(f"  {k:<34} {v['value']:>14.6g} {v['unit']}")
        with open(os.path.join(RUNS, f"layers-{a.workload}-{a.seed}.json"), "w") as f:
            json.dump({"per_layer": layer, "workload_layer": extras}, f, indent=1)
        out = stats.result_line(failed == 0, attempted, failed, layer)
        stats.validate_result(out, metrics.PER_LAYER)
    else:
        remember_untraced(raw, e2e)
        out = stats.result_line(failed == 0, attempted, failed, e2e)
        stats.validate_result(out, metrics.END_TO_END)
    sys.stdout.flush()
    print(json.dumps(out))
    return 0
