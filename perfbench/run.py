#!/usr/bin/env python3
"""Pipeline-shaped benchmark of etl_bom_radiation_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload grid_ingest --seed 1 --seconds 4 --trace 0

One client drives the engine in a closed loop on ``local[<nproc>]``
through its public functions.  The run builds its starting state several
times, each followed by a warm-up pass of the workload's own ops
(``setup_s`` is their median), measures whole cycles of the workload
until ``--seconds`` of engine time have passed, checks every
output against the generator's ground truth, and prints one JSON object
as its last line of standard output.  ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` runs the same loop once untraced and
once with spans around the engine's public functions, and reports the
per-layer metrics plus the tracing overhead.  The exit code is 1 when an
output check fails.

All files (inputs, tables, index, Spark scratch, event logs, the span
dump and the run record) live under ``.perfbench_run/`` in the checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".perfbench_run"
WORK = OUT / "work"

SETUP_REPS = 2

#: end-to-end metrics: name -> unit
END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "items_per_s": "1/s",
    "maint_p50_s": "s",
    "stored_bytes_per_item": "B",
}

#: per-span counters reported as per-layer metrics (gc_s stays in the dump)
SPAN_FIELDS = {
    "self_s": "s",
    "jobs": "count",
    "tasks": "count",
    "cpu_s": "s",
    "shuffle_mb": "MB",
    "input_records": "count",
}
#: span counters that are zero by construction where the span runs, so not
#: reported: get_spark and the catalog registration submit no Spark job,
#: the hashed-set pin submits none in its own call, and the band frame
#: reads only shuffle output
_SPARK_COUNTERS = {"jobs", "tasks", "cpu_s", "shuffle_mb", "input_records"}
NOT_REPORTED = {
    "session.get_spark": _SPARK_COUNTERS,
    "workspace.register_batch_partitions": _SPARK_COUNTERS,
    "queries.hashed_sets": {"jobs"},
    "queries.band_frame": {"input_records"},
}
DERIVED = {
    "grid.decode_cpu_s": "s",
    "ingest.bytes_rewritten_per_point": "B",
    "ingest.files_per_partition": "count",
    "lsh_index.sub_batches_per_admit": "count",
    "lsh_index.candidates_per_doc": "count",
    "lsh_index.verify_yield": "ratio",
    "lsh_index.files_per_table": "count",
    "session.warmup_s": "s",
    "session.peak_rss_mb": "MB",
    "trace.overhead_op_p50_s": "s",
}
MAINT_SPANS = {"ingest.compact_partitions", "lsh_index.compact_lsh_index"}


def span_fields(name: str) -> dict[str, str]:
    """The counters reported for span ``name``, with their units."""
    return {f: u for f, u in SPAN_FIELDS.items() if f not in NOT_REPORTED.get(name, ())}


def per_layer_units() -> dict[str, str]:
    from perfbench.trace import WRAPPED

    units = {f"{name}.{f}": u for _, _, name in WRAPPED for f, u in span_fields(name).items()}
    units.update(DERIVED)
    return units


def _contain() -> None:
    """Keep every file the run writes inside the checkout and size Spark
    from this machine."""
    shutil.rmtree(WORK, ignore_errors=True)
    (WORK / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    sys.path.insert(0, str(ROOT))


def spark_conf(trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": f"file://{WORK}/warehouse",
        "spark.local.dir": str(WORK / "tmp"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK / 'tmp'}",
    }
    if trace:
        (WORK / "events").mkdir(exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{WORK}/events",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _cpu_ticks() -> list[int]:
    """Machine-wide CPU ticks from /proc/stat (user, nice, system, idle,
    iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat", encoding="ascii") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _engine_digest() -> str:
    h = hashlib.sha256()
    pkg = ROOT / "etl_bom_radiation_spark"
    for p in sorted(pkg.rglob("*.py")):
        h.update(str(p.relative_to(pkg)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def _commit() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


class Loop:
    """Closed-loop measurement of whole workload cycles."""

    def __init__(self, tracer) -> None:
        self.tracer = tracer
        self.op_s: list[float] = []
        self.maint_s: list[float] = []
        self.items = 0
        self.attempted = 0
        self.failures: list[str] = []
        self.op_ids: set[int] = set()

    def run(self, workload, seconds: float, first_op: int) -> int:
        busy, op_id = 0.0, first_op
        while busy < seconds:
            for kind, call in workload.cycle():
                self.tracer.op = op_id
                self.op_ids.add(op_id)
                op_id += 1
                self.attempted += 1
                t0 = time.perf_counter()
                try:
                    items = call()
                except Exception as e:  # an op failure is counted, the loop goes on
                    busy += time.perf_counter() - t0
                    self.failures.append(type(e).__name__)
                    traceback.print_exc(file=sys.stderr)
                    continue
                dt = time.perf_counter() - t0
                busy += dt
                if kind == "op":
                    self.op_s.append(dt)
                    self.items += items
                else:
                    self.maint_s.append(dt)
        return op_id

    def metrics(self, tail_ops: int) -> dict[str, float]:
        """``op_tail_s`` is the maximum of the first ``tail_ops`` ops (one
        cycle, one size class): a fixed N, so a faster engine that fits
        more cycles into a run does not raise it."""
        first = self.op_s[:tail_ops]
        self.tail_info = {"statistic": "max", "of_first_ops": len(first)}
        return {
            "op_p50_s": statistics.median(self.op_s),
            "op_tail_s": max(first),
            "items_per_s": self.items / sum(self.op_s),
            "maint_p50_s": statistics.median(self.maint_s),
        }


def execute(
    workload_name: str,
    seed: int,
    seconds: float,
    trace: bool,
    smoke: bool = False,
    corrupt: bool = False,
):
    """Run one benchmark invocation; returns (result dict, record).
    ``corrupt`` damages one engine answer before the check (self-tests)."""
    from etl_bom_radiation_spark import session

    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    cls = WORKLOADS[workload_name]
    record = {
        "workload": workload_name,
        "seed": seed,
        "seconds": seconds,
        "trace": trace,
        "commit": _commit(),
        "engine_sha256": _engine_digest(),
        "nproc": len(os.sched_getaffinity(0)),
        "python": platform.python_version(),
        "loadavg_start": os.getloadavg(),
    }
    ticks = _cpu_ticks()
    tracer = Tracer()
    if trace:
        tracer.install()
        tracer.active = True
    conf = spark_conf(trace)
    setups, warmups, spark, wl = [], [], None, None
    for rep in range(1 if smoke else SETUP_REPS):
        candidate = cls(seed, str(WORK / f"state{rep}"), smoke=smoke)  # inputs: untimed
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = session.get_spark(extra_conf=conf)
        candidate.setup(spark)
        built = time.perf_counter() - t0
        # the JVM compiles the engine's hot paths over its first calls, in
        # the background; warm-up ops in every set-up, the first included,
        # give it that work early, so less of it is left when the loop starts
        warm = 0.0
        for _, call in candidate.warmup():  # staging inputs between steps: untimed
            t0 = time.perf_counter()
            call()
            warm += time.perf_counter() - t0
        setups.append(built + warm)
        warmups.append(warm)
        if wl is not None:
            shutil.rmtree(wl.base, ignore_errors=True)
        wl = candidate
    record["setup_reps_s"] = setups
    record["warmup_reps_s"] = warmups
    record["spark"] = spark.version
    record["java"] = spark.sparkContext._jvm.System.getProperty("java.version")

    untraced = Loop(tracer)
    tracer.active = False
    next_op = untraced.run(wl, seconds, 0)
    e2e = {"setup_s": statistics.median(setups), **untraced.metrics(cls.CYCLE)}
    loops = [untraced]
    if trace:
        traced = Loop(tracer)
        tracer.active = True
        traced.run(wl, seconds, next_op)
        tracer.active = False
        traced_e2e = traced.metrics(cls.CYCLE)
        record["tracing_overhead"] = {k: traced_e2e[k] - e2e[k] for k in traced_e2e}
        loops.append(traced)
    stored_bytes, stored_items = wl.stored()
    e2e["stored_bytes_per_item"] = stored_bytes / stored_items
    if corrupt:
        wl.corrupt()
    problems = wl.check()
    jvm = spark.sparkContext._gateway.proc
    record["peak_rss_mb"] = (_vm_hwm_kb(os.getpid()) + _vm_hwm_kb(jvm.pid)) / 1024
    spark.stop()
    # the driver JVM exits when its stdin closes; wait for it, so the run
    # leaves no process behind
    jvm.stdin.close()
    jvm.wait(timeout=120)

    attempted = sum(lp.attempted for lp in loops)
    failures = [f for lp in loops for f in lp.failures]
    spent = [b - a for a, b in zip(ticks, _cpu_ticks())]
    record.update({
        "loadavg_end": os.getloadavg(),
        # share of CPU time the hypervisor gave to other guests: the
        # machine's contention during the run, which wall times follow
        "steal_share": spent[7] / max(1, sum(spent[:8])),
        "op_tail": untraced.tail_info,
        "op_samples_s": untraced.op_s,
        "maint_samples_s": untraced.maint_s,
        "failed_share": len(failures) / attempted,
        "failed_ops": failures,
        "check_problems": problems,
    })
    if trace:
        metrics = _per_layer(tracer, loops[-1], wl, len(setups), record)
        units = per_layer_units()
    else:
        metrics, units = e2e, END_TO_END
    result = {
        "correct": not problems,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    return result, record


def _per_layer(tracer, loop: Loop, wl, n_setups: int, record: dict) -> dict:
    from perfbench.trace import WRAPPED

    record["jobs_outside_spans"] = tracer.attribute(str(WORK / "events"))
    tracer.dump(str(OUT / f"spans_{wl.name}_{wl.seed}.jsonl"))
    in_loop = [s for s in tracer.spans if s.op in loop.op_ids]
    n_ops = max(1, len(loop.op_s))
    n_maint = max(1, len(loop.maint_s))
    out = dict.fromkeys(per_layer_units(), 0.0)
    for _, _, name in WRAPPED:
        if name == "session.get_spark":
            spans, denom = [s for s in tracer.spans if s.name == name], n_setups
        else:
            spans = [s for s in in_loop if s.name == name]
            denom = n_maint if name in MAINT_SPANS else n_ops
        for field in span_fields(name):
            total = sum(s.self_s if field == "self_s" else s.counters[field] for s in spans)
            out[f"{name}.{field}"] = total / denom
    out.update(wl.layer_extras(in_loop, n_ops))
    out["session.warmup_s"] = statistics.median(record["warmup_reps_s"])
    out["session.peak_rss_mb"] = record["peak_rss_mb"]
    out["trace.overhead_op_p50_s"] = record["tracing_overhead"]["op_p50_s"]
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, one set-up (self-tests)")
    ap.add_argument("--corrupt", action="store_true", help="damage one answer (self-tests)")
    args = ap.parse_args(argv)
    started = time.perf_counter()
    _contain()
    result, record = execute(
        args.workload, args.seed, args.seconds, bool(args.trace), args.smoke, args.corrupt
    )
    record["wall_s"] = time.perf_counter() - started
    with open(OUT / f"record_{args.workload}_{args.seed}.json", "w", encoding="utf-8") as f:
        json.dump(record, f, indent=1)
    print("run-record " + json.dumps(record))
    for problem in record["check_problems"]:
        print(f"CHECK FAILED: {problem}", file=sys.stderr)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
