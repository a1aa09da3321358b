"""Metrics from one run's raw measurements.

The JVM harness records spans around every call it makes into graft and,
in a traced run, raw listener events. This module turns them into the
end-to-end and per-layer metrics. Listener events are attributed to the
innermost span open at their timestamp: a single closed-loop client
issues all work, so at most one chain of spans is open at a time.
"""
import statistics
from datetime import datetime

RELEASE_STAGES = ["near_dup_clusters", "clean_corpus", "decontaminate",
                  "bpe_encode", "shard_export", "land"]
STAGE_COUNTERS = ["task_s", "cpu_s", "gc_s", "jobs", "tasks", "max_task_s",
                  "parallelism", "shuffle_write_bytes", "shuffle_read_bytes",
                  "spill_bytes", "peak_exec_mem_bytes"]
MODULES = ["relational", "profiling", "ingest", "topk"]
STORES = ["fp", "lake", "audit"]
PLAN_PHASES = ("analysis", "optimization", "planning")


# ---- order statistics ------------------------------------------------------

def tail_rank(n: int):
    """The highest whole percentile with at least ten samples beyond it,
    and its 1-based nearest rank; None when n <= 10 (no such percentile)."""
    if n <= 10:
        return None
    p = 100 * (n - 10) // n
    return p, (p * n + 99) // 100


def latency_summary(values) -> dict:
    """Median and tail of a sample. The tail is the highest percentile
    with ten samples beyond it; below eleven samples no percentile has,
    and the maximum (p100) is given instead, flagged as such."""
    xs = sorted(values)
    if not xs:
        return {"n": 0}
    tr = tail_rank(len(xs))
    if tr is None:
        tail_pct, tail = 100, xs[-1]
    else:
        tail_pct, tail = tr[0], xs[tr[1] - 1]
    return {"n": len(xs), "p50": statistics.median(xs), "tail": tail,
            "tail_pct": tail_pct, "tail_has_10_beyond": tr is not None}


# ---- spans -----------------------------------------------------------------

def dur_ms(s) -> float:
    return s["end_ms"] - s["start_ms"]


def nesting_errors(spans) -> list:
    """Spans whose interval leaves their parent's, or whose parent is not
    an earlier span."""
    by_id = {s["id"]: s for s in spans}
    errs = []
    for s in spans:
        if s["parent"] < 0:
            continue
        p = by_id.get(s["parent"])
        if p is None or p["id"] >= s["id"]:
            errs.append(f"span {s['id']} ({s['name']}): bad parent {s['parent']}")
        elif s["start_ms"] < p["start_ms"] or s["end_ms"] > p["end_ms"]:
            errs.append(f"span {s['id']} ({s['name']}) outside parent {p['id']}")
    return errs


def self_ms(spans) -> dict:
    """Per span: its duration minus the part of its interval that its
    children cover (children clipped to the parent; overlaps counted once)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        ivs = sorted((max(c["start_ms"], s["start_ms"]), min(c["end_ms"], s["end_ms"]))
                     for c in kids.get(s["id"], []))
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s["id"]] = dur_ms(s) - covered
    return out


def innermost(spans, t_ms):
    """Id of the innermost span whose interval holds t_ms, else None."""
    best = None
    for s in spans:
        if s["start_ms"] <= t_ms <= s["end_ms"]:
            if best is None or s["start_ms"] >= best["start_ms"]:
                best = s
    return None if best is None else best["id"]


def _iso_ms(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000


class Attribution:
    """Listener events grouped by the span they happened in."""

    def __init__(self, spans, probes):
        self.jobs, self.execs, self.progress = {}, {}, {}
        if not probes:
            return
        stages = probes["stages"]
        for j in probes["jobs"]:
            sid = innermost(spans, j["time_ms"])
            agg = self.jobs.setdefault(sid, _empty_agg())
            agg["jobs"] += 1
            for st in j["stages"]:
                _merge(agg, stages.get(str(st), {}))
        for e in probes["execs"]:
            sid = innermost(spans, e["issued_ms"]) if e["issued_ms"] >= 0 else None
            self.execs.setdefault(sid, []).append(e)
        for p in probes["progress"]:
            self.progress.setdefault(innermost(spans, _iso_ms(p["timestamp"])), []).append(p)

    def agg(self, ids) -> dict:
        out = _empty_agg()
        for i in ids:
            _merge(out, self.jobs.get(i, {}))
        return out


def _empty_agg():
    return {k: 0 for k in ("jobs", "tasks", "run_ms", "cpu_ns", "gc_ms", "max_task_ms",
                           "shuffle_write", "shuffle_read", "spill", "peak_mem",
                           "input_bytes")}


def _merge(agg, other):
    """Add `other`'s counters into `agg`; maxima stay maxima."""
    for k, v in other.items():
        agg[k] = max(agg[k], v) if k in ("max_task_ms", "peak_mem") else agg[k] + v


# ---- end-to-end ------------------------------------------------------------

def timed_ops(workload, spans):
    """(successful timed operation spans, failed operation spans, all
    operation spans). release_cold's timed operation is the release path
    itself, one a run (a stage median would sit between stages of
    different size and jump between them); analyst_mix's are its calls."""
    if workload == "release_cold":
        ops = [s for s in spans if s["name"].startswith("release.")
               or s["name"] == "stream.trigger"]
        timed = [s for s in spans if s["name"] == "release" and s["ok"]]
    else:
        ops = [s for s in spans
               if s["name"] in ("analyst.first", "analyst.warmup", "analyst.call")]
        timed = [s for s in spans if s["name"] == "analyst.call" and s["ok"]]
    return timed, [s for s in ops if not s["ok"]], ops


COLD_SPAN = {"release_cold": "release", "analyst_mix": "analyst.cold"}


def end_to_end(workload, res, setup_s) -> tuple:
    """(metrics, human-readable lines with bases)."""
    spans = res["spans"]
    timed, _, _ = timed_ops(workload, spans)
    if not timed:
        raise ValueError("no successful timed operation")
    cold = [s for s in spans if s["name"] == COLD_SPAN[workload]]
    inside = [s for s in spans if cold and s["parent"] == cold[0]["id"]]
    if not cold or not all(s["ok"] for s in cold + inside):
        raise ValueError("the cold pass did not complete without failure")
    cold_s = dur_ms(cold[0]) / 1000
    lat = latency_summary([dur_ms(s) / 1000 for s in timed])
    wall_s = (max(s["end_ms"] for s in timed) - min(s["start_ms"] for s in timed)) / 1000
    c = res["checks"]
    if workload == "release_cold":
        items = c["input_docs"]
        wall_s = cold_s
        names = ("release_wall_s", "release_wall_s", "release_wall_s", "release_docs_per_s")
        cold_base = f"{items} input documents"
        rate_base = f"{items} input documents through the release path"
    else:
        items = len(timed)
        names = ("cold_pass_s", "query_p50_s", "query_tail_s", "queries_per_s")
        cold_base = f"first call of each of {len(c['queries'])} distinct queries"
        rate_base = f"{items} timed calls in whole rounds of {len(c['queries'])}"
    metrics = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "cold_wall_s": {"value": cold_s, "unit": "s"},
        "op_p50_s": {"value": lat["p50"], "unit": "s"},
        "op_tail_s": {"value": lat["tail"], "unit": "s"},
        "throughput_per_s": {"value": items / wall_s, "unit": "1/s"},
    }
    tail_note = (f"p{lat['tail_pct']}" if lat["tail_has_10_beyond"]
                 else "max (p100: fewer than 11 samples)")
    lines = [
        f"setup_s = {setup_s:.4f} s (process start to session built and Warm.icu done)",
        f"cold_wall_s [{names[0]}] = {cold_s:.4f} s ({cold_base})",
        f"op_p50_s [{names[1]}] = {lat['p50']:.4f} s (median of n={lat['n']})",
        f"op_tail_s [{names[2]}] = {lat['tail']:.4f} s ({tail_note} of n={lat['n']})",
        f"throughput_per_s [{names[3]}] = {items / wall_s:.4f} 1/s "
        f"({rate_base}, over {wall_s:.3f} s timed wall)",
        "timed latencies (s, in order): "
        + " ".join(f"{dur_ms(s) / 1000:.3f}" for s in timed),
    ]
    return metrics, lines


# ---- per layer -------------------------------------------------------------

def per_layer(workload, res, cores, store_stats) -> dict:
    """Per-layer metrics of a traced run. Listener-derived ones read the
    recorded timed operations (analyst calls, twin triggers) only; the
    twin's latencies read the unrecorded ones, so tracing does not slow
    them."""
    spans, probes = res["spans"], res.get("probes")
    if workload == "release_cold":
        timed = [s for s in spans if s["name"] == "stream.trigger" and s["ok"]
                 and not s["attrs"]["warm"]]
    else:
        timed = timed_ops(workload, spans)[0]
    traced = [s for s in timed if s["attrs"].get("traced")]
    untraced = [s for s in timed if not s["attrs"].get("traced")]
    att = Attribution(spans, probes)
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    total = lambda name: sum(dur_ms(s) for s in by_name.get(name, [])) / 1000
    m = {name: 0.0 for name in layer_metric_names()}
    m["sessions.build_s"] = total("sessions.build")
    m["sessions.icu_warm_s"] = total("sessions.icu_warm")
    m["functions.codegen_fallbacks"] = res["codegen_fallbacks"]
    m["tables.first_resolve_s"] = total("tables.resolve")
    m["tables.resolutions"] = len(by_name.get("tables.resolve", []))

    if workload == "analyst_mix":
        plan, exe = [], []
        for c in traced:
            ex = att.execs.get(c["id"], [])
            plan.append(sum(e["phases_ms"].get(p, 0) for e in ex for p in PLAN_PHASES) / 1000)
            exe.append(sum(e["ms"] for e in ex if e["ok"]) / 1000)
        a = att.agg([c["id"] for c in traced])
        n = max(1, len(traced))
        m["analyst.plan_s"] = statistics.median(plan) if plan else 0.0
        m["analyst.exec_s"] = statistics.median(exe) if exe else 0.0
        m["analyst.jobs_per_query"] = a["jobs"] / n
        m["analyst.tasks_per_query"] = a["tasks"] / n
        m["analyst.input_bytes_per_query"] = a["input_bytes"] / n
        for mod in MODULES:
            xs = [dur_ms(c) / 1000 for c in timed if c["attrs"]["module"] == mod]
            m[f"analyst.{mod}.p50_s"] = statistics.median(xs) if xs else 0.0

    if workload == "release_cold":
        selfs = self_ms(spans)
        for root in by_name.get("release", []):
            m["release.uncovered_s"] = selfs[root["id"]] / 1000
        for st in RELEASE_STAGES:
            ss = by_name.get(f"release.{st}", [])
            wall = sum(dur_ms(s) for s in ss) / 1000
            a = att.agg([s["id"] for s in ss])
            task_s = a["run_ms"] / 1000
            m[f"release.{st}_s"] = wall
            m[f"release.{st}.task_s"] = task_s
            m[f"release.{st}.cpu_s"] = a["cpu_ns"] / 1e9
            m[f"release.{st}.gc_s"] = a["gc_ms"] / 1000
            m[f"release.{st}.jobs"] = a["jobs"]
            m[f"release.{st}.tasks"] = a["tasks"]
            m[f"release.{st}.max_task_s"] = a["max_task_ms"] / 1000
            m[f"release.{st}.parallelism"] = task_s / (wall * cores) if wall > 0 else 0.0
            m[f"release.{st}.shuffle_write_bytes"] = a["shuffle_write"]
            m[f"release.{st}.shuffle_read_bytes"] = a["shuffle_read"]
            m[f"release.{st}.spill_bytes"] = a["spill"]
            m[f"release.{st}.peak_exec_mem_bytes"] = a["peak_mem"]

        # the streaming twin
        lat = latency_summary([dur_ms(t) / 1000 for t in untraced])
        m["stream.trigger_p50_s"] = lat.get("p50", 0.0)
        m["stream.trigger_tail_s"] = lat.get("tail", 0.0)
        m["stream.ingest_docs_per_s"] = (
            sum(t["attrs"]["docs"] for t in untraced) / sum(dur_ms(t) / 1000 for t in untraced)
            if untraced else 0.0)
        per = []
        for t in traced:
            batches = [p for p in att.progress.get(t["id"], []) if p["rows"] > 0]
            d = lambda k: sum(p["duration_ms"].get(k, 0) for p in batches)
            state = batches[-1]["state"] if batches else []
            per.append({"add": d("addBatch"), "plan": d("queryPlanning"),
                        "wal": d("walCommit"), "commit": d("commitOffsets"),
                        "rows": sum(o["rows"] for o in state),
                        "mem": sum(o["memory_bytes"] for o in state),
                        "state_commit": sum(o["commit_ms"] for p in batches
                                            for o in p["state"])})
        med = lambda k: statistics.median(x[k] for x in per) if per else 0.0
        m["stream.add_batch_ms"] = med("add")
        m["stream.query_planning_ms"] = med("plan")
        m["stream.wal_commit_ms"] = med("wal")
        m["stream.commit_offsets_ms"] = med("commit")
        m["stream.state_commit_ms"] = med("state_commit")
        m["stream.state_rows"] = per[-1]["rows"] if per else 0
        m["stream.state_memory_bytes"] = per[-1]["mem"] if per else 0
        a = att.agg([t["id"] for t in traced])
        n = max(1, len(traced))
        docs = sum(t["attrs"]["docs"] for t in traced)
        m["stream.jobs_per_trigger"] = a["jobs"] / n
        m["stream.tasks_per_trigger"] = a["tasks"] / n
        m["stream.task_s_per_doc"] = a["run_ms"] / 1000 / max(1, docs)
        store_ms = {k: 0.0 for k in STORES}
        for t in traced:
            for k, e in _store_execs(att.execs.get(t["id"], [])):
                store_ms[k] += e["ms"]
        for k in STORES:
            m[f"store.append_s.{k}"] = store_ms[k] / 1000 / n
        m["store.files_per_trigger"] = store_stats["files"] / max(1, store_stats["triggers"])
        m["store.bytes_per_doc"] = store_stats["bytes"] / max(1, store_stats["docs"])

    mean = lambda ss: statistics.mean(dur_ms(s) / 1000 for s in ss) if ss else float("nan")
    m["trace.traced_op_mean_s"] = mean(traced)
    m["trace.untraced_op_mean_s"] = mean(untraced)
    pairs = query_pairs(timed) if workload == "analyst_mix" else neighbour_pairs(timed)
    m["trace.overhead_share"] = overhead_share(pairs)
    return m


# ---- tracing overhead ------------------------------------------------------

def overhead_share(pairs) -> float:
    """Mean of traced / untraced over (traced_s, untraced_s) pairs, less 1:
    each pair compares like with like, so the mix of what was traced does
    not enter."""
    ratios = [t / u for t, u in pairs if u > 0]
    return statistics.mean(ratios) - 1 if ratios else float("nan")


def query_pairs(calls) -> list:
    """Per query: (mean traced call, mean untraced call), for every query
    timed both ways."""
    by_q = {}
    for c in calls:
        by_q.setdefault(c["attrs"]["q"], ([], []))[0 if c["attrs"]["traced"] else 1] \
            .append(dur_ms(c) / 1000)
    return [(statistics.mean(t), statistics.mean(u)) for t, u in by_q.values() if t and u]


def neighbour_pairs(ops) -> list:
    """Per traced operation of an alternating sequence: (its time, the mean
    of the untraced operations just before and after it). A store that
    grows from trigger to trigger slows both neighbours' sides alike, so
    the growth cancels to first order."""
    out = []
    for i, o in enumerate(ops):
        if not o["attrs"]["traced"]:
            continue
        near = [dur_ms(ops[j]) / 1000 for j in (i - 1, i + 1)
                if 0 <= j < len(ops) and not ops[j]["attrs"]["traced"]]
        if near:
            out.append((dur_ms(o) / 1000, statistics.mean(near)))
    return out


def _store_in(paths):
    for p in paths:
        for k in STORES:
            if p.rstrip("/").endswith(f"store_{k}"):
                return k
    return None


def _store_execs(execs):
    """(store, execution) for each keyed append's executions in one
    trigger: the write to the store, and the executions before it that
    scan that store (the append's anti-join against existing keys)."""
    out, pending = [], []
    for e in sorted(execs, key=lambda e: e["issued_ms"]):
        if not e["ok"]:
            continue
        k = _store_in(e["written"])
        if k is None:
            pending.append(e)
            continue
        out += [(k, p) for p in pending if k == _store_in(reversed(p["scanned"]))]
        out.append((k, e))
        pending = []
    return out


def layer_metric_names() -> list:
    names = ["sessions.build_s", "sessions.icu_warm_s", "tables.first_resolve_s",
             "tables.resolutions", "analyst.plan_s", "analyst.exec_s",
             "analyst.jobs_per_query", "analyst.tasks_per_query",
             "analyst.input_bytes_per_query"]
    names += [f"analyst.{m}.p50_s" for m in MODULES]
    names += [f"release.{s}_s" for s in RELEASE_STAGES] + ["release.uncovered_s"]
    names += [f"release.{s}.{c}" for s in RELEASE_STAGES for c in STAGE_COUNTERS]
    names += ["functions.codegen_fallbacks",
              "stream.trigger_p50_s", "stream.trigger_tail_s", "stream.ingest_docs_per_s",
              "stream.add_batch_ms", "stream.query_planning_ms", "stream.wal_commit_ms",
              "stream.commit_offsets_ms", "stream.state_rows", "stream.state_memory_bytes",
              "stream.state_commit_ms", "stream.jobs_per_trigger",
              "stream.tasks_per_trigger", "stream.task_s_per_doc"]
    names += [f"store.append_s.{k}" for k in STORES]
    names += ["store.files_per_trigger", "store.bytes_per_doc",
              "trace.overhead_share", "trace.traced_op_mean_s", "trace.untraced_op_mean_s"]
    return names
