#!/usr/bin/env python3
"""Whole-job benchmark of spark-validate.

    python3 perfbench/run.py --workload validate_bulk --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Each run generates its inputs from
``--seed`` (cached per seed and size under ``.perfbench_cache/``), sets
up one Spark session on ``local[<cpus>]``, warms the job up, then calls
the job's public ``run()`` until ``--seconds`` of call time is used
(at least one call). Every call's outputs are checked against DuckDB.

The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` makes one traced call
instead and reports the per-layer metrics (see README.md). Progress,
host settings and per-call samples go to stderr.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
CACHE = os.path.join(ROOT, ".perfbench_cache")
sys.path[:0] = [HERE, ROOT]

import inputs  # noqa: E402
import oracle  # noqa: E402
from tracer import CHECKPOINT_SUFFIXES, parquet_files  # noqa: E402

DRIVER_MEM = "2g"
WORKLOADS = {
    # name: (job, input docs, input kind)
    "validate_bulk": ("validate", 64_000, "spans"),
    "prepare_corpus": ("prepare_corpus", 12_000, "prep"),
}
PREP_KWARGS = dict(neardup=True, strip_windows=True, max_tokens=2048)
# the sources the cached inputs and expected outputs are made from; the
# program's driver_queries.py holds SQL_STRIP_DUP_WINDOWS, the cut oracle
CACHE_SOURCES = (os.path.join(HERE, "inputs.py"), os.path.join(HERE, "oracle.py"),
                 os.path.join(ROOT, "intent_classifier_service_spark", "driver_queries.py"))


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


# ----------------------------------------------------------- host state
def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


def steal_pct(before, after) -> float:
    total = after[1] - before[1]
    return round(100.0 * (after[0] - before[0]) / total, 2) if total else 0.0


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def child_pids() -> list[int]:
    me = str(os.getpid())
    out = []
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[1] == me:
                        out.append(int(p))
            except OSError:
                pass
    return out


def python_workers() -> int:
    n = 0
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/cmdline", "rb") as f:
                    cmd = f.read()
            except OSError:
                continue
            if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
                n += 1
    return n


def pin_host() -> dict:
    """Host settings the program reads from its environment, fixed here
    so every run measures the same configuration."""
    cpus = len(os.sched_getaffinity(0))
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "local"),
        "TMPDIR": os.path.join(WORK, "tmp"),
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "PYTHONHASHSEED": "0",
        # spark-submit's launcher JVM: no perf data or temp files outside
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
    }
    os.environ.update(env)
    return env


# ----------------------------------------------------------- inputs
def cached(kind: str, seed: int, n_docs: int) -> tuple[str, dict]:
    """(table path, expected outputs) for one (kind, seed, size), keyed
    also by a hash of CACHE_SOURCES so an edit to any of them rebuilds
    both."""
    h = hashlib.sha256()
    for src in CACHE_SOURCES:
        with open(src, "rb") as f:
            h.update(f.read())
    d = os.path.join(CACHE, f"{kind}-{seed}-{n_docs}-{h.hexdigest()[:12]}")
    table, exp_path = os.path.join(d, "table"), os.path.join(d, "expected.json")
    if not os.path.exists(exp_path):
        os.makedirs(d, exist_ok=True)
        if kind == "spans":
            inputs.spans_table(seed, n_docs, table)
            exp = oracle.validate_expected(table)
        else:
            inputs.prep_corpus(seed, n_docs, table)
            exp = oracle.prepare_expected(table)
        with open(exp_path + ".tmp", "w") as f:
            json.dump(exp, f)
        os.rename(exp_path + ".tmp", exp_path)
    with open(exp_path) as f:
        return table, json.load(f)


def reset(*paths: str) -> None:
    for p in paths:
        shutil.rmtree(p, ignore_errors=True)


# ----------------------------------------------------------- workloads
class Validate:
    """A fresh call validates every partition except the held-back keys
    into a fresh CheckpointStore. ``resume`` (traced runs only) resumes
    over the full table from that store, so only the held-back keys are
    pending."""

    def __init__(self, spark, table: str, exp: dict):
        import importlib

        from pyspark.sql import functions as F

        from intent_classifier_service_spark import datagen
        from intent_classifier_service_spark.sources import tables

        self.spark, self.exp = spark, exp
        self.job = importlib.import_module("jobs.validate")
        self.ck = importlib.import_module("intent_classifier_service_spark.streaming.checkpoint")
        self.docs = tables.read_documents_spans(spark, table)
        self.bulk_docs = self.docs.filter(~F.col("part_key").isin(*oracle.HELD_BACK))
        self.warm_docs = self.docs.filter(F.col("part_key") == 1)
        self.refs = datagen.valid_media_refs(spark)
        # frozen once, by the warm-up call (run() freezes the baseline
        # from its input when the path does not exist yet)
        self.baseline = os.path.join(WORK, "drift_baseline")
        reset(self.baseline)
        self.dir = os.path.join(WORK, "call")
        self.out, self.ckpt = os.path.join(self.dir, "out"), os.path.join(self.dir, "ckpt")

    def roots(self) -> list[str]:
        return [self.out] + [self.ckpt + s for s in CHECKPOINT_SUFFIXES]

    def fresh(self, docs) -> dict:
        store = self.ck.CheckpointStore(self.spark, self.ckpt)
        return self.job.run(self.spark, docs, self.refs, self.out, store, False,
                            baseline=self.baseline)

    def resume(self) -> dict:
        store = self.ck.CheckpointStore(self.spark, self.ckpt)
        return self.job.run(self.spark, self.docs, self.refs, self.out, store, True,
                            baseline=self.baseline)

    def warm_up(self) -> list[float]:
        walls = []
        reset(self.dir)
        t = time.time()
        self.fresh(self.warm_docs)
        walls.append(time.time() - t)
        return walls

    def prepare(self) -> None:
        """Untimed: remove the previous call's outputs."""
        reset(self.dir)

    def call(self) -> dict:
        return self.fresh(self.bulk_docs)

    def check(self, result: dict, first) -> list[str]:
        return oracle.check_validate(self.exp, result, self.out, resumed=False)

    @staticmethod
    def n_docs(result: dict) -> int:
        return result["n_docs"]


class Prepare:
    def __init__(self, spark, table: str, exp: dict):
        import importlib

        self.spark, self.exp = spark, exp
        self.job = importlib.import_module("jobs.prepare_corpus")
        self.docs = spark.read.parquet(table)
        self.warm_docs = self.docs.filter(f"doc_id < {exp['n_input_docs'] // 16}")
        self.out = os.path.join(WORK, "call", "out")

    def roots(self) -> list[str]:
        return [self.out]

    def warm_up(self) -> list[float]:
        reset(self.out)
        t = time.time()
        self.job.run(self.spark, self.warm_docs, self.out, **PREP_KWARGS)
        return [time.time() - t]

    def prepare(self) -> None:
        reset(self.out)

    def call(self) -> dict:
        return self.job.run(self.spark, self.docs, self.out, **PREP_KWARGS)

    def check(self, result: dict, first) -> list[str]:
        return oracle.check_prepare(self.exp, result, self.out, first)

    @staticmethod
    def n_docs(result: dict) -> int:
        return result["n_input_docs"]


# ----------------------------------------------------------- run
def session(trace: bool):
    from intent_classifier_service_spark.session import get_spark

    conf = {
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEM} -XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
        # plan strings keep full scan locations (per-path read bytes)
        "spark.sql.maxMetadataStringLength": "10000",
    }
    if trace:
        log_dir = os.path.join(WORK, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + log_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    t = time.time()
    spark = get_spark("perfbench", extra_conf=conf)
    return spark, time.time() - t


def stop(spark) -> None:
    """Stop Spark and its JVM, and wait for every child process."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    for pid in child_pids():
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--report", default=None,
                    help="traced runs: also write the span tree and per-layer table here")
    args = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "jobs", "validate.py")):
        log(f"no program under {ROOT}: jobs/validate.py is missing")
        return 2

    env = pin_host()
    reset(os.path.join(WORK, "call"), os.path.join(WORK, "eventlog"))
    job, n_docs, kind = WORKLOADS[args.workload]
    t = time.time()
    table, exp = cached(kind, args.seed, n_docs)
    inputs_s = time.time() - t
    log(f"host: cpus={env['SPARK_GRAFT_CPUS']} driver_mem={DRIVER_MEM} (-Xms=-Xmx) "
        f"local_dirs={os.path.relpath(env['SPARK_LOCAL_DIRS'], ROOT)} "
        f"load1={os.getloadavg()[0]:.2f}")
    log(f"inputs: {kind} seed={args.seed} docs={n_docs} ready in {inputs_s:.2f}s")

    t = time.time()
    spark, get_spark_s = session(bool(args.trace))
    try:
        t1 = time.time()
        if job == "validate":
            wl = Validate(spark, table, exp)
        else:
            wl = Prepare(spark, table, exp)
        t2 = time.time()
        warm = wl.warm_up()
        log(f"set-up: imports+session {t1 - t:.2f}s (get_spark {get_spark_s:.2f}s), "
            f"inputs+baseline {t2 - t1:.2f}s, warm-up call walls "
            + " ".join(f"{w:.2f}" for w in warm))
        if args.trace:
            import traced
            metrics, attempted, failed = traced.run(wl, get_spark_s)
        else:
            metrics, attempted, failed = timed(wl, args, T_START + inputs_s)
    finally:
        stop(spark)
    if args.trace:
        metrics = traced.fold(metrics, os.path.join(WORK, "eventlog"), args.report)
    reset(os.path.join(WORK, "call"))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def timed(wl, args, setup_start: float):
    jvm_pid = wl.spark._jvm.java.lang.ProcessHandle.current().pid()
    walls, rates, footprints, failed, first = [], [], [], 0, None
    setup_s = None
    while True:
        wl.prepare()
        before = parquet_files(wl.roots())
        load1, ticks = os.getloadavg()[0], cpu_ticks()
        workers = python_workers()
        t0 = time.time()
        if setup_s is None:
            setup_s = t0 - setup_start
        result = wl.call()
        wall = time.time() - t0
        steal = steal_pct(ticks, cpu_ticks())
        errs = wl.check(result, first)
        first = first or result
        failed += bool(errs)
        after = parquet_files(wl.roots())
        new = [p for p in after if before.get(p) != after[p]]
        footprints.append((len(new), sum(after[p] for p in new)))
        walls.append(wall)
        rates.append(wl.n_docs(result) / wall)
        log(f"call {len(walls)}: wall={wall:.3f}s docs={wl.n_docs(result)} "
            f"files={len(new)} load1={load1:.2f} steal={steal}% py_workers={workers} "
            f"{'OK' if not errs else 'FAILED ' + '; '.join(errs)}")
        if sum(walls) + statistics.median(walls) > args.seconds:
            break
    rss_mb = (vm_hwm_kb(os.getpid()) + vm_hwm_kb(jvm_pid)) / 1024.0
    metrics = {
        "setup_s": (setup_s, "s"),
        "call_s": (statistics.median(walls), "s"),
        "docs_per_s": (statistics.median(rates), "1/s"),
        "peak_rss_mb": (rss_mb, "MB"),
        "written_mb": (statistics.median(f[1] for f in footprints) / 1e6, "MB"),
        "files_written": (statistics.median(f[0] for f in footprints), "count"),
    }
    return ({k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            len(walls), failed)


if __name__ == "__main__":
    sys.exit(main())
