"""The traced run: one call per workload with layer spans and the Spark
event log on, folded into the per-layer metrics after Spark stops.

On ``validate_bulk`` the traced run adds a resumed call over the traced
call's own checkpoint (only the held-back keys pending); its figures are
the ``resume.*`` metrics and the checkpoint read side.
"""

from __future__ import annotations

import os
import sys
import time

import oracle
from eventlog import EventLog, busy_intervals
from tracer import CHECKPOINT_WRITES, Tracer

MB = 1e6
PREP_STAGES = ("input_count", "strip_windows", "exact_dedup", "neardup_dedup",
               "split_tokenize_corpus_write", "budget", "pack")
CK = "streaming.checkpoint.CheckpointStore."
CK_READS = ("completed_partitions", "pending_partitions", "completed_rule_stats",
            "stored_profiles", "stored_doc_counts", "lookup_doc_names",
            "global_state_covers")
DEDUP_GROUPS = {
    "strip_windows": ("duplicate_cut_intervals", "strip_duplicate_windows"),
    "exact": ("exact_dedup", "exact_duplicates"),
    "neardup": ("minhash_lsh_pairs", "minhash_signatures", "neardup_clusters",
                "neardup_dedup"),
}
SELF_LAYERS = ("sources", "plans", "operators.drift", "operators.stats",
               "operators.uniqueness", "operators.sampling", "operators.packing",
               "operators.textstats")

# (name, unit) of every per-layer metric, in report order
METRICS = (
    [("session.get_spark_s", "s")]
    + [(f"{layer}.self_s", "s") for layer in SELF_LAYERS]
    + [("sources.files_written", "count"), ("sources.written_mb", "MB"),
       ("plans.executor_run_s", "s"), ("plans.python_mb", "MB"),
       ("streaming.checkpoint.write_s", "s"), ("streaming.checkpoint.files_written", "count"),
       ("streaming.checkpoint.written_mb", "MB"), ("streaming.checkpoint.read_s", "s"),
       ("streaming.checkpoint.read_mb", "MB")]
    + [(f"operators.dedup.{g}_s", "s") for g in DEDUP_GROUPS]
    + [("jobs.validate.self_s", "s")]
    + [(f"jobs.prepare_corpus.stage.{s}_s", "s") for s in PREP_STAGES]
    + [("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
       ("spark.driver_only_s", "s"), ("spark.executor_run_s", "s"),
       ("spark.busy_frac", "ratio"), ("spark.shuffle_write_mb", "MB"),
       ("spark.shuffle_read_mb", "MB"), ("spark.spill_mb", "MB"),
       ("spark.python_rows", "count"), ("spark.python_mb", "MB"),
       ("spark.single_task_stage_s", "s"),
       ("trace.overhead_s", "s"), ("trace.unattributed_s", "s"),
       ("resume.call_s", "s"), ("resume.n_docs", "count"), ("resume.spark.jobs", "count"),
       ("resume.spark.stages", "count"), ("resume.spark.tasks", "count"),
       ("resume.spark.driver_only_s", "s"), ("resume.operators.uniqueness.self_s", "s"),
       ("resume.jobs.validate.self_s", "s")]
)


def layer_of(name: str) -> str:
    """'sources' / 'plans', else the two-part module ('operators.dedup',
    'streaming.checkpoint', 'jobs.validate'); the benchmark's own call
    span is its own layer."""
    if name.startswith(("sources.", "plans.")):
        return name.split(".")[0]
    if name.startswith(("operators.", "streaming.", "jobs.")):
        return ".".join(name.split(".")[:2])
    return name


def run(wl, get_spark_s: float):
    """Make the traced call(s); returns (state for ``fold``, attempted,
    failed)."""
    steps = [("call", wl.call, lambda r: wl.check(r, None))]
    if hasattr(wl, "resume"):
        # validate_bulk: resume over the traced call's own checkpoint
        steps.append(("resume", wl.resume,
                      lambda r: oracle.check_validate(wl.exp, r, wl.out, resumed=True)))
    tr = Tracer(wl.spark)
    tr.install()
    calls, failed = [], 0
    wl.prepare()
    try:
        for label, call, check in steps:
            overhead0 = tr.overhead_s
            root = tr.open(label)
            t0 = time.time()
            result = call()
            wall = time.time() - t0
            tr.close(root)
            errs = check(result)
            failed += bool(errs)
            print(f"traced {label}: wall={wall:.3f}s "
                  f"{'OK' if not errs else 'FAILED ' + '; '.join(errs)}",
                  file=sys.stderr, flush=True)
            calls.append({"label": label, "root": root, "wall": wall, "result": result,
                          "overhead": tr.overhead_s - overhead0})
    finally:
        tr.uninstall()
    state = {"tracer": tr, "calls": calls, "get_spark_s": get_spark_s,
             "cores": int(os.environ["SPARK_GRAFT_CPUS"]), "store": getattr(wl, "ckpt", None)}
    return state, len(calls), failed


def _outermost(spans, by_id, pred) -> list:
    out = []
    for s in spans:
        if not pred(s.name):
            continue
        p = by_id.get(s.parent)
        while p is not None and not pred(p.name):
            p = by_id.get(p.parent)
        if p is None:
            out.append(s)
    return out


def _wall(spans) -> float:
    return sum(s.end - s.start for s in spans)


def _call_metrics(tr: Tracer, ev: EventLog, call: dict, cores: int, store) -> dict:
    spans = tr.subtree(call["root"])
    by_id = {s.id: s for s in spans}
    self_t = tr.self_times(spans)
    root = call["root"]
    # the job's own entry span (jobs.<job>.run): its self time is time in
    # the job that no layer span below it covers
    entry = [s for s in spans if s.parent == root.id and s.name.startswith("jobs.")]
    jobs = ev.jobs_of(by_id)
    stages = ev.stages_of(jobs)
    wall = call["wall"]
    layer_self: dict[str, float] = {}
    for s in spans:
        layer = layer_of(s.name)
        layer_self[layer] = layer_self.get(layer, 0.0) + self_t[s.id]
    m = {f"{layer}.self_s": layer_self.get(layer, 0.0) for layer in SELF_LAYERS}
    m["jobs.validate.self_s"] = layer_self.get("jobs.validate", 0.0)

    src = [s for s in spans if layer_of(s.name) == "sources"]
    m["sources.files_written"] = sum(s.files for s in src)
    m["sources.written_mb"] = sum(s.bytes for s in src) / MB
    plan_ids = {s.id for s in spans if layer_of(s.name) == "plans"}
    plan_stages = ev.stages_of(ev.jobs_of(plan_ids))
    m["plans.executor_run_s"] = sum(st.run_s for st in plan_stages)
    m["plans.python_mb"] = sum(st.python_bytes for st in plan_stages) / MB

    writes = _outermost(spans, by_id,
                        lambda n: n.startswith(CK) and n[len(CK):] in CHECKPOINT_WRITES)
    reads = _outermost(spans, by_id, lambda n: n.startswith(CK) and n[len(CK):] in CK_READS)
    m["streaming.checkpoint.write_s"] = _wall(writes)
    m["streaming.checkpoint.files_written"] = sum(s.files for s in writes)
    m["streaming.checkpoint.written_mb"] = sum(s.bytes for s in writes) / MB
    m["streaming.checkpoint.read_s"] = _wall(reads)
    m["streaming.checkpoint.read_mb"] = ev.scan_bytes(jobs, store) / MB if store else 0.0

    for group, fns in DEDUP_GROUPS.items():
        names = {f"operators.dedup.{f}" for f in fns}
        m[f"operators.dedup.{group}_s"] = _wall(_outermost(spans, by_id, names.__contains__))

    stage_secs = call["result"].get("stage_secs", {})
    for st in PREP_STAGES:
        m[f"jobs.prepare_corpus.stage.{st}_s"] = float(stage_secs.get(st, 0.0))

    run_s = sum(st.run_s for st in stages)
    m.update({
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": sum(st.n_tasks for st in stages),
        "spark.driver_only_s": wall - busy_intervals(jobs),
        "spark.executor_run_s": run_s,
        "spark.busy_frac": run_s / (cores * wall),
        "spark.shuffle_write_mb": sum(st.shuffle_write for st in stages) / MB,
        "spark.shuffle_read_mb": sum(st.shuffle_read for st in stages) / MB,
        "spark.spill_mb": sum(st.spill for st in stages) / MB,
        "spark.python_rows": sum(st.python_rows for st in stages),
        "spark.python_mb": sum(st.python_bytes for st in stages) / MB,
        "spark.single_task_stage_s": sum(st.end - st.start for st in stages
                                         if st.n_tasks == 1),
        "trace.overhead_s": call["overhead"],
        "trace.unattributed_s": self_t[root.id] + sum(self_t[s.id] for s in entry),
    })
    return m


def fold(state: dict, log_dir: str, report: str | None) -> dict:
    ev = EventLog(log_dir)
    tr, cores, store = state["tracer"], state["cores"], state["store"]
    first = state["calls"][0]
    m = _call_metrics(tr, ev, first, cores, store)
    m["session.get_spark_s"] = state["get_spark_s"]
    resume = next((c for c in state["calls"] if c["label"] == "resume"), None)
    if resume is not None:
        r = _call_metrics(tr, ev, resume, cores, store)
        m["streaming.checkpoint.read_s"] = r["streaming.checkpoint.read_s"]
        m["streaming.checkpoint.read_mb"] = r["streaming.checkpoint.read_mb"]
        m["resume.call_s"] = resume["wall"]
        m["resume.n_docs"] = resume["result"]["n_docs"]
        for k in ("spark.jobs", "spark.stages", "spark.tasks", "spark.driver_only_s",
                  "operators.uniqueness.self_s", "jobs.validate.self_s"):
            m[f"resume.{k}"] = r[k]
    units = dict(METRICS)
    metrics = {k: {"value": float(m.get(k, 0.0)) if units[k] != "count" else int(m.get(k, 0)),
                   "unit": units[k]} for k, _ in METRICS}
    if report:
        write_report(report, tr, ev, state["calls"], metrics)
    return metrics


def _tree_rows(tr: Tracer, ev: EventLog, call: dict) -> list[str]:
    """Span tree of one call, spans merged by their name path."""
    spans = tr.subtree(call["root"])
    self_t = tr.self_times(spans)
    path = {}
    agg: dict[tuple, list] = {}
    order = []
    for s in spans:
        p = path.get(s.parent, ()) + (s.name,)
        path[s.id] = p
        if p not in agg:
            agg[p] = [0, 0.0, 0.0, 0, 0, 0.0]
            order.append(p)
        a = agg[p]
        jobs = ev.jobs_of([s.id])
        stages = ev.stages_of(jobs)
        a[0] += 1
        a[1] += s.end - s.start
        a[2] += self_t[s.id]
        a[3] += len(jobs)
        a[4] += len(stages)
        a[5] += sum(st.run_s for st in stages)
    rows = ["| span | calls | wall s | self s | jobs | stages | executor run s |",
            "|---|---:|---:|---:|---:|---:|---:|"]
    for p in order:
        a = agg[p]
        name = "&nbsp;&nbsp;" * (len(p) - 1) + p[-1]
        rows.append(f"| {name} | {a[0]} | {a[1]:.3f} | {a[2]:.3f} | {a[3]} | {a[4]} "
                    f"| {a[5]:.3f} |")
    return rows


def write_report(path: str, tr, ev, calls, metrics) -> None:
    lines = []
    for call in calls:
        lines += [f"### {call['label']} (wall {call['wall']:.3f} s)", ""]
        lines += _tree_rows(tr, ev, call) + [""]
    lines += ["### per-layer metrics", "", "| metric | value | unit |", "|---|---:|---|"]
    for k, v in metrics.items():
        val = v["value"]
        lines.append(f"| {k} | {val:.4f} | {v['unit']} |" if isinstance(val, float)
                     else f"| {k} | {val} | {v['unit']} |")
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
