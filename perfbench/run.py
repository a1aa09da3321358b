#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload {release_cold,analyst_mix}
        --seed N --seconds S --trace {0,1}

Run from the repository root. The first run builds graft and the harness
and generates the base lake into .bench_build/ (see build.py). Every run
prints a host-load stamp, each metric with its base, and, as its last
line, one JSON object: {"correct", "attempted", "failed", "metrics"}.
--seconds sets how many operations are timed, not a time limit on them:
one analyst round per ANALYST_ROUND_S seconds asked (two at least), and
one timed trigger of the streaming twin per TRIGGER_S seconds asked (an
even count, four at least). The count never depends on how fast the host
or the program runs, so every run reports the same percentiles.
--trace 0 reports the end-to-end metrics of BENCHMARK.json; --trace 1
registers the listeners, records every other timed operation, and reports
the per-layer metrics, the tracing overhead (recorded against unrecorded
operations of the same run) included.
See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import checks  # noqa: E402
import host  # noqa: E402
import inputs  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("release_cold", "analyst_mix")
RUN_LIMIT_S = 170          # every run must end within 180 s
JVM_HEAP = "4g"
ANALYST_ROUND_S = 5        # one round of all 17 queries takes 6-10 s here
ANALYST_WARM_ROUNDS = 2    # untimed: the JIT is still warming after the cold pass
TRIGGER_DOCS = 250
WARM_TRIGGERS = 2
TRIGGER_S = 1.5            # one 250-document trigger takes 1.5-3 s here
MAX_TRIGGERS = 40


def analyst_rounds(seconds: float) -> int:
    return max(2, round(seconds / ANALYST_ROUND_S))


def timed_triggers(seconds: float) -> int:
    return max(4, 2 * round(seconds / TRIGGER_S / 2))


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_jvm(root, cp, run_dir, tag, plan, deadline):
    """Run the harness once; return (result, seconds from process start to
    set-up done, less the host preflight sampled before set-up). Raises
    on a failed or timed-out JVM."""
    d = run_dir / tag
    (d / "tmp").mkdir(parents=True)
    plan = dict(plan, work=str(d / "work"))
    (d / "plan.json").write_text(json.dumps(plan))
    cmd = (["java"] + build.jvm_flags(JVM_HEAP) +
           [f"-Djava.io.tmpdir={d / 'tmp'}", f"-Dspark.local.dir={d / 'tmp'}",
            f"-Dspark.sql.warehouse.dir={d / 'warehouse'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graft.perfbench.Main", str(d / "plan.json"), str(d / "result.json")])
    with open(d / "jvm.log", "w") as fh:
        t0 = time.time() * 1000
        proc = subprocess.Popen(cmd, cwd=d, stdout=fh, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        finally:
            if proc.poll() is None:
                proc.kill()
            proc.wait()
            shutil.copy(d / "jvm.log", root / build.BUILD_DIR / f"last-{tag}.log")
    if rc != 0 or not (d / "result.json").exists():
        raise RuntimeError(f"harness exited {rc}; see {build.BUILD_DIR}/last-{tag}.log")
    res = json.loads((d / "result.json").read_text())
    log(f"{tag} JVM took {time.time() - t0 / 1000:.1f} s")
    preflight = [s for s in res["spans"] if s["name"] == "host.preflight"]
    return res, (res["setup_done_ms"] - t0 - sum(map(metrics.dur_ms, preflight))) / 1000


def prepare(base, run_dir, workload, seed, seconds):
    """Seeded inputs; returns (plan, hash parts)."""
    lake = run_dir / "lake"
    lake_hash, rows = inputs.make_lake(base, lake, workload, seed)
    parts = {"lake": lake_hash, "seed": seed, "rows": rows}
    plan = {"workload": workload, "seed": seed, "cores": os.cpu_count() or 1,
            "lake": str(lake)}
    if workload == "analyst_mix":
        plan["rounds"] = analyst_rounds(seconds)
        plan["warm_rounds"] = ANALYST_WARM_ROUNDS
        plan["calls"] = inputs.analyst_calls(seed, ANALYST_WARM_ROUNDS + plan["rounds"])
        plan["queries"] = inputs.ANALYST_QUERIES
        parts["calls"] = plan["calls"]
    if workload == "release_cold":
        plan["feed"] = str(run_dir / "feed.parquet")
        plan["trigger_docs"], plan["warm_triggers"] = TRIGGER_DOCS, WARM_TRIGGERS
        plan["timed_triggers"] = timed_triggers(seconds)
        parts["feed"] = inputs.make_feed(lake, Path(plan["feed"]), seed, TRIGGER_DOCS,
                                         MAX_TRIGGERS)
    return plan, parts


def store_stats(res, spans):
    files = size = 0
    for k in metrics.STORES:
        for f in Path(res["checks"][f"store_{k}"]).rglob("*.parquet"):
            files += 1
            size += f.stat().st_size
    trig = [s for s in spans if s["name"] == "stream.trigger" and s["ok"]]
    return {"files": files, "bytes": size, "triggers": len(trig),
            "docs": sum(s["attrs"]["docs"] for s in trig)}


def run_checks(root, workload, res, lake, cores):
    if "checks" not in res:
        return [("harness", False, res.get("error", "no checks recorded"))]
    if workload == "analyst_mix":
        return checks.analyst(root, res, lake, cores)
    twin = checks.stream(root, res, cores) if "store_audit" in res["checks"] else []
    return checks.release(root, res, cores) + twin


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.time()
    root = Path.cwd()
    spec = json.loads((root / "BENCHMARK.json").read_text())

    others = host.spark_jvms()
    if others != 0:
        log(f"refusing to start: {others} other Spark JVM(s) running "
            "(or the process scan failed); totals inflate by about 60% under them")
        sys.exit(3)
    cores = os.cpu_count() or 1
    try:
        cp = build.build_classes(root)
        base = build.base_lake(root, cp, cores)
    except (build.BuildFailed, OSError) as e:
        log(f"build failed: {e}")
        sys.exit(2)
    # a run ends within RUN_LIMIT_S; one that had to build gets that much
    # again after the build
    deadline = max(t_start + RUN_LIMIT_S, time.time() + RUN_LIMIT_S - 20)
    run_dir = root / build.BUILD_DIR / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    try:
        plan, parts = prepare(base, run_dir, a.workload, a.seed, a.seconds)
        log(f"inputs ready at {time.time() - t_start:.1f} s")
        res, setup_s = run_jvm(root, cp, run_dir, "jvm", dict(plan, trace=a.trace), deadline)
        t_checks = time.time()
        results = run_checks(root, a.workload, res, Path(plan["lake"]), cores)
        log(f"checks took {time.time() - t_checks:.1f} s; run so far "
            f"{time.time() - t_start:.1f} s")
        _, failed_ops, ops = metrics.timed_ops(a.workload, res["spans"])
        n_ops, n_failed = len(ops), len(failed_ops)
        if "error" in res and not failed_ops:
            n_failed += 1
        bad = [c for c in results if not c[1]]
        attempted, failed = n_ops + len(results), n_failed + len(bad)
        nest = metrics.nesting_errors(res["spans"])

        if a.trace:
            stats = store_stats(res, res["spans"]) if a.workload == "release_cold" else {}
            values = metrics.per_layer(a.workload, res, cores, stats)
            declared = spec["per_layer"]
            lines = [f"{k} = {values[k]:.6g}" for k in sorted(values)]
        else:
            values, lines = metrics.end_to_end(a.workload, res, setup_s)
            values = {k: v["value"] for k, v in values.items()}
            declared = spec["end_to_end"]
        out = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    print(f"workload {a.workload}  seed {a.seed}  cores {cores}  seconds {a.seconds:g}  "
          f"trace {a.trace}  input_hash {inputs.input_hash(parts)[:16]}")
    print("lake rows " + ", ".join(f"{k} {v}" for k, v in parts["rows"].items()))
    h = res.get("host", {})
    print(f"host start {json.dumps(h.get('start'))}")
    print(f"host end   {json.dumps(h.get('end'))}")
    print("host verdict " + json.dumps({k: h.get(k) for k in ("contended", "reasons",
                                                              "steal_share")}))
    for name, ok, detail in results:
        print(f"check {'PASS' if ok else 'FAIL'} {name}: {detail}")
    for e in nest:
        print(f"span nesting error: {e}")
    for line in lines:
        print(line)
    print(f"failed_share = {failed / attempted:.4f} ({failed} failed of {attempted} attempted: "
          f"{n_ops} operations, {len(results)} checks; codegen fallbacks "
          f"{res['codegen_fallbacks']})")
    correct = not bad and not nest and res["codegen_fallbacks"] == 0 and "error" not in res
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": out}))


if __name__ == "__main__":
    main()
