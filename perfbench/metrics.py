"""Metric definitions and the arithmetic that turns the harness's raw
samples into them. `BENCHMARK.json` lists the same names; `LAYERS` also
records which end-to-end metric each layer metric should move, on which
workload, and which workload it should leave alone."""

import statistics

from gen import LAKE_WRITES

WORKLOADS = ("mapreduce", "dedup", "lake")

# name, unit, better
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("throughput_mb_s", "MB/s", "higher"),
    ("peak_rss_mb", "MB", "lower"),
]

_MR, _DD, _LK = WORKLOADS
_TP, _RSS = "throughput_mb_s", "peak_rss_mb"

# name, unit, better, the end-to-end metric it should move, the workloads
# where it should move it, the workloads where it should not
LAYERS = [
    ("build.s", "s", "lower", _TP, (_DD, _LK), (_MR,)),
    ("build.jobs", "count", "lower", _TP, (_DD, _LK), (_MR,)),
    ("build.tasks", "count", "lower", _TP, (_DD, _LK), (_MR,)),
    ("core.Checkpoints.checkpoint_mb", "MB", "lower", _TP, (_DD,), (_MR, _LK)),
    ("plan.s", "s", "lower", _TP, (_LK,), (_MR, _DD)),
    ("plan.kb", "KB", "lower", _TP, (_LK,), (_MR, _DD)),
    ("plan.exchanges", "count", "lower", _TP, (_LK,), (_MR, _DD)),
    ("exec.s", "s", "lower", _TP, (_MR,), (_DD,)),
    ("exec.jobs", "count", "lower", _TP, (_MR,), (_DD,)),
    ("exec.stages", "count", "lower", _TP, (_MR,), (_DD,)),
    ("exec.tasks", "count", "lower", _TP, (_MR,), (_DD,)),
    ("exec.failed_tasks", "count", "lower", _TP, (_MR,), (_DD,)),
    ("exec.task_cpu_s", "s", "lower", _TP, (_MR,), (_DD,)),
    ("exec.scheduler_delay_s", "s", "lower", _TP, (_MR,), (_DD,)),
    ("exec.shuffle_write_mb", "MB", "lower", _TP, (_MR,), (_DD,)),
    ("exec.shuffle_read_mb", "MB", "lower", _TP, (_MR,), (_DD,)),
    ("exec.spill_mb", "MB", "lower", _TP, (_MR,), (_DD,)),
    ("exec.peak_exec_mem_mb", "MB", "lower", _RSS, WORKLOADS, ()),
    ("exec.input_rows", "count", "lower", _TP, (_MR,), (_DD,)),
    ("exec.output_rows", "count", "lower", _TP, (_MR,), (_DD,)),
    ("unaccounted.s", "s", "lower", _TP, WORKLOADS, ()),
    ("gc.s", "s", "lower", _RSS, WORKLOADS, ()),
    ("trace.overhead_ratio", "ratio", "lower", _TP, (), WORKLOADS),
    ("sources.TextCorpus.read_s", "s", "lower", _TP, (_MR, _LK), (_DD,)),
    ("text.Tokenize.tokens_per_s", "1/s", "higher", _TP, (_MR,), (_DD, _LK)),
    ("ext.LakeTxn.log_versions", "count", "lower", _TP, (_LK,), (_MR, _DD)),
    ("ext.LakeTxn.live_files", "count", "lower", _TP, (_LK,), (_MR, _DD)),
    ("sources.LakeCatalog.rows_scanned_per_row_returned", "ratio", "lower", _TP, (_LK,),
     (_MR, _DD)),
]

# ---------------------------------------------------------------------------
# statistics


def median(values):
    return statistics.median(values) if values else 0.0


def p95(values):
    """The 95th percentile by linear interpolation between closest ranks
    (`statistics.quantiles`, inclusive method); the single value when
    there is one."""
    if len(values) < 2:
        return median(values)
    return statistics.quantiles(values, n=20, method="inclusive")[-1]


# ---------------------------------------------------------------------------
# end to end


def _ok(result):
    return [it for it in result["iterations"] if not it.get("error")]


def iteration_mb(truth, it):
    """User MB one iteration processes: the whole input for mapreduce and
    dedup, the bytes a lake cycle inserts (INSERT and MERGE batches)."""
    return truth["cycle_mb"][it["cycle"]] if "cycle_mb" in truth else truth["mb"]


def end_to_end(truth, result, setup_s):
    """{name: (value, samples)} for every end-to-end metric."""
    rates = [iteration_mb(truth, it) / it["wall_s"] for it in _ok(result)]
    return {
        "setup_s": (setup_s, 1),
        "throughput_mb_s": (median(rates), len(rates)),
        "peak_rss_mb": (result["peak_rss_kb"] / 1024.0, 1),
    }


def lake_statements(truth, result):
    """{name: (value, samples)}: per-statement write and read seconds
    (median and p95 over the untraced timed iterations) and the bytes
    under the table dir per user byte inserted, at the end of the run."""
    ops = [o for it in _ok(result) if not it["traced"] for o in it["ops"]]
    writes = [o["wall_s"] for o in ops if o["kind"] in LAKE_WRITES]
    reads = [o["wall_s"] for o in ops if o["kind"] not in LAKE_WRITES]
    user = sum(truth["cycle_mb"][:result["cycles_run"]]) * 1e6
    return {
        "write_s_p50": (median(writes), len(writes)),
        "write_s_p95": (p95(writes), len(writes)),
        "read_s_p50": (median(reads), len(reads)),
        "read_s_p95": (p95(reads), len(reads)),
        "stored_bytes_per_user_byte": (result["table_bytes"] / user, result["cycles_run"]),
    }


# ---------------------------------------------------------------------------
# per layer


def is_module(span):
    """Module spans (`pkg.Object.fn`) mark calls into the program around or
    inside a layer span (iter, step:*, build, plan, exec); they are not
    layers."""
    return "." in span["name"]


def self_times(spans):
    """Self time of every span, in seconds: its duration minus what its
    child layer spans cover (children of one span run one after another).
    A layer span under a module span counts as a child of the module
    span's nearest layer ancestor."""
    by_id = {s["id"]: s for s in spans}

    def layer_parent(s):
        p = s["parent"]
        while p >= 0 and is_module(by_id[p]):
            p = by_id[p]["parent"]
        return p

    child = {}
    for s in spans:
        p = layer_parent(s)
        if p >= 0 and not is_module(s):
            child[p] = child.get(p, 0) + s["end_ns"] - s["start_ns"]
    return {s["id"]: (s["end_ns"] - s["start_ns"] - child.get(s["id"], 0)) / 1e9
            for s in spans}


def per_iteration(result, spans):
    """Per traced iteration: wall time, collector time (the full GC before
    the iteration included), phase self times, module span totals, Spark
    counters summed by phase and by step, plan statistics."""
    rows = {}
    for it in _ok(result):
        if not it["traced"]:
            continue
        r = rows[it["index"]] = {"wall": it["wall_s"], "gc": it["gc_s"], "phase": {},
                                 "module": {}, "counters": {}, "steps": {},
                                 "plan_bytes": 0, "exchanges": 0, "ops": it.get("ops", [])}
        for group, c in it["counters"].items():
            _, _, step, phase = group.split(":", 3)
            for acc in (r["counters"].setdefault(phase, {}), r["steps"].setdefault(step, {})):
                for k, v in c.items():
                    acc[k] = max(acc.get(k, 0), v) if k.startswith("peak") else acc.get(k, 0) + v
    selfs = self_times(spans)
    for s in spans:
        r = rows.get(s["iter"])
        if r is None:
            continue
        if s["name"] in ("build", "plan", "exec"):
            r["phase"][s["name"]] = r["phase"].get(s["name"], 0) + selfs[s["id"]]
        elif is_module(s):
            r["module"][s["name"]] = (r["module"].get(s["name"], 0)
                                      + (s["end_ns"] - s["start_ns"]) / 1e9)
    for p in result.get("plans", []):
        r = rows.get(p["iter"])
        if r is not None:
            r["plan_bytes"] += p["bytes"]
            r["exchanges"] += p["exchanges"]
    return list(rows.values())


def module_calls(result, spans):
    """{module call: (median seconds per call, calls)} over the traced
    iterations, for every module span seen."""
    traced = {it["index"] for it in _ok(result) if it["traced"]}
    calls = {}
    for s in spans:
        if is_module(s) and s["iter"] in traced:
            calls.setdefault(s["name"], []).append((s["end_ns"] - s["start_ns"]) / 1e9)
    return {name: (median(v), len(v)) for name, v in sorted(calls.items())}


def tracing_overhead(iterations):
    """Median over traced iterations of its wall time against the mean of
    its untraced neighbours, minus one. Neighbours on both sides, where
    there are two, cancel the drift of a JVM that is still warming up."""
    ok = {it["index"]: it for it in iterations if not it.get("error")}
    ratios = []
    for k, it in ok.items():
        near = [ok[j]["wall_s"] for j in (k - 1, k + 1) if j in ok and not ok[j]["traced"]]
        if it["traced"] and near:
            ratios.append(it["wall_s"] / (sum(near) / len(near)) - 1.0)
    return median(ratios)


def layers(result, spans):
    """{name: value} for every layer metric, each a median over traced
    iterations unless said otherwise."""
    rows = per_iteration(result, spans)
    mb = 1024.0 * 1024.0

    def med(f):
        return median([f(r) for r in rows])

    def counter(phase, key, scale=1.0):
        return med(lambda r: r["counters"].get(phase, {}).get(key, 0) / scale)

    def total(key, scale=1.0):
        return med(lambda r: sum(c.get(key, 0) for c in r["counters"].values()) / scale)

    # lake: the table's log and files after every write, rows the selects
    # scanned against rows they returned (summed over the traced iterations)
    writes = [o for it in _ok(result) for o in it.get("ops", []) if "version" in o]
    scanned = sum(c.get("input_rows", 0) for r in rows
                  for step, c in r["steps"].items() if step.startswith("select"))
    returned = sum(o.get("rows", 0) for r in rows for o in r["ops"])
    probe = result["tokens_probe"]
    return {
        "build.s": med(lambda r: r["phase"].get("build", 0)),
        "build.jobs": counter("build", "jobs"),
        "build.tasks": counter("build", "tasks"),
        "core.Checkpoints.checkpoint_mb": total("block_bytes", mb),
        "plan.s": med(lambda r: r["phase"].get("plan", 0)),
        "plan.kb": med(lambda r: r["plan_bytes"] / 1024.0),
        "plan.exchanges": med(lambda r: r["exchanges"]),
        "exec.s": med(lambda r: r["phase"].get("exec", 0)),
        "exec.jobs": counter("exec", "jobs"),
        "exec.stages": counter("exec", "stages"),
        "exec.tasks": counter("exec", "tasks"),
        "exec.failed_tasks": counter("exec", "failed_tasks"),
        "exec.task_cpu_s": counter("exec", "task_cpu_s"),
        "exec.scheduler_delay_s": counter("exec", "scheduler_delay_s"),
        "exec.shuffle_write_mb": counter("exec", "shuffle_write_bytes", mb),
        "exec.shuffle_read_mb": counter("exec", "shuffle_read_bytes", mb),
        "exec.spill_mb": counter("exec", "spill_bytes", mb),
        "exec.peak_exec_mem_mb": med(lambda r: max(
            [c.get("peak_exec_mem_bytes", 0) for c in r["counters"].values()] or [0]) / mb),
        "exec.input_rows": counter("exec", "input_rows"),
        "exec.output_rows": counter("exec", "output_rows"),
        "unaccounted.s": med(lambda r: r["wall"] - sum(r["phase"].values())),
        "gc.s": med(lambda r: r["gc"]),
        "trace.overhead_ratio": tracing_overhead(result["iterations"]),
        "sources.TextCorpus.read_s": med(lambda r: r["module"].get("sources.TextCorpus.read", 0)),
        "text.Tokenize.tokens_per_s": probe["tokens"] / probe["seconds"],
        "ext.LakeTxn.log_versions": max([o["version"] for o in writes] or [0]),
        "ext.LakeTxn.live_files": median([o["live_files"] for o in writes]),
        "sources.LakeCatalog.rows_scanned_per_row_returned":
            scanned / returned if returned else 0.0,
    }
