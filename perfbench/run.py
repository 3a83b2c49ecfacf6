"""weatherlake benchmark: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload dashboard_mix --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The inputs are generated from the seed
under ``perfbench/.work``; the Spark session (``local[N]`` with N the
usable cores) keeps its scratch files there as well, and the run record
(plus the spans, when traced) lands in ``perfbench/.work/records``.

Set-up is repeated ``SETUPS`` times in one process: session start, the
workload's preparation and its warm-up operations; ``setup_s`` is the
median. The last session then serves operations for ``--seconds``.

With ``--trace 0`` the last line of stdout is the end-to-end result.
With ``--trace 1`` it holds the per-layer figures instead: operations
alternate traced and untraced (in groups of the workload's
``trace_stride``), a third set-up is added, and all set-ups but the
second are traced. ``trace_overhead.*`` is each end-to-end
figure of the traced operations (and the third set-up) minus that of the
untraced ones (and the second). Exit status is 0 only if every
operation's output checked out.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import time
import traceback

from spans import COUNTERS, NullTracer, Tracer, inclusive
from stats import drift, median, percentile, tail_percentile

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Set-up runs twice: cold (JVM launch, first JIT) and warm (a session
# restart in the running JVM); a third would lengthen a run by ~15%.
SETUPS = 2

END_TO_END = {
    "setup_s": "s",
    "op_ms_p50": "ms",
    "op_ms_tail": "ms",
    "ops_per_s": "1/s",
    "rows_per_s": "rows/s",
    "rss_peak_mb": "MB",
}

TIMED_SPANS = (
    "session.get_spark",
    "sources.load_table",
    "sources.weather_staging",
    "plans.pipeline.build_warehouse",
    "plans.pipeline.materialize",
    "plans.pipeline.validate",
    "operators.ivm.apply_batch",
    "operators.ivm.read",
    "sources.snapshots.latest_version",
    "plans.curation.curate_documents",
    "plans.curation.write",
    "plans.curation.unpersist",
)
COUNTED_SPANS = (
    "op",
    "plans.pipeline.materialize",
    "operators.ivm.apply_batch",
    "plans.curation.write",
)
QUERIES = ("q1", "q2", "q3", "q4", "q5")
TRACE_OVERHEAD = ("setup_s", "op_ms_p50", "op_ms_tail", "ops_per_s", "rows_per_s")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric with its unit, in report order."""
    units = {f"{s}_ms": "ms" for s in TIMED_SPANS}
    for s in COUNTED_SPANS:
        for c in COUNTERS:
            units[f"{s}.{c}"] = "ms" if c.endswith("_ms") else (
                "bytes" if c.endswith("_bytes") else "count"
            )
        units[f"{s}.busy_frac"] = "frac"
    for q in QUERIES:
        for part in ("build", "plan", "exec"):
            units[f"plans.dashboard.{q}_{part}_ms"] = "ms"
        units[f"plans.dashboard.{q}.jobs"] = "count"
        units[f"plans.dashboard.{q}.tasks"] = "count"
        units[f"plans.dashboard.{q}.busy_frac"] = "frac"
    units.update({
        "sources.snapshots.files_rewritten_frac": "frac",
        "sources.snapshots.bytes_written_per_state_byte": "ratio",
        "sources.snapshots.live_files": "count",
        "plans.curation.stages_skipped_frac": "frac",
        "spark.persisted_rdds_after_op": "count",
        "drift.op_ms_last_over_first": "ratio",
        "trace.ops": "count",
        "trace.accounted_frac": "frac",
        "trace.bench_overhead_ms_per_op": "ms",
    })
    for m in TRACE_OVERHEAD:
        units[f"trace_overhead.{m}"] = END_TO_END[m]
    return units


def start_session(n: int, work: str):
    from globalweather_etl_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark(
        app_name="weatherlake-perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "2g",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Xms2g -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def rss_peak_mb(spark) -> float:
    """Peak resident set of this process plus the driver JVM."""
    pids = [os.getpid(), spark._jvm.java.lang.ProcessHandle.current().pid()]
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def source_identity() -> dict:
    """The git commit when the checkout is a repository, and always a
    digest of the package sources."""
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or None
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "globalweather_etl_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return {"git_commit": commit, "source_sha256": h.hexdigest()}


class Run:
    """One benchmark run: set-ups, the closed loop, checks, figures."""

    def __init__(self, wl, seconds: float, tracer: Tracer | None):
        self.wl = wl
        self.seconds = seconds
        self.tracer = tracer  # None when tracing is off
        self.null = NullTracer()
        self.ops: list[dict] = []
        self.setups: list[dict] = []
        self.warm: list[dict] = []
        self.errors: list[str] = []
        self.n = len(os.sched_getaffinity(0))  # the cores local[N] gets
        self.spark = None

    def _tr(self, traced: bool):
        return self.tracer if traced and self.tracer is not None else self.null

    def run_op(self, op_id: int, traced: bool) -> dict:
        """One operation: timed op, untimed check, timed release."""
        tr = self._tr(traced)
        tr.begin_op(op_id)
        rec = {"op": op_id, "traced": tr.active, "ok": False}
        t0 = time.perf_counter()
        t1 = t2 = None
        try:
            out = self.wl.op(tr)
            t1 = time.perf_counter()
            tr.timed = False
            self.wl.check(out, tr)
            tr.timed = True
            t2 = time.perf_counter()
            rec["check_ms"] = (t2 - t1) * 1000.0
            self.wl.release(out, tr)
            rec["ok"] = True
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            self.errors.append(traceback.format_exc())
            tr.timed = True
        t3 = time.perf_counter()
        timed = (t1 - t0) + (t3 - t2) if t2 is not None else t3 - t0
        rec["ms"] = timed * 1000.0
        rec["persisted_rdds"] = len(self.wl.spark.sparkContext._jsc.getPersistentRDDs())
        if tr.active:
            spans = tr.op_spans(op_id)
            tr.collect_counters(spans)
            # the top-level spans inside the timed windows account for
            # the op; the rest of its wall time is the benchmark's own
            rec["top_span_ms"] = sum(
                s.ms for s in spans if s.parent is None and s.timed
            )
        return rec

    def setup(self) -> None:
        for rep in range(SETUPS + (self.tracer is not None)):
            setup_id = -(rep + 1)
            if self.spark is not None:
                self.spark.stop()
            # delete the previous set-up's outputs while they are seconds
            # old: on a filesystem mounted with online discard, unlinking
            # a file that writeback has already flushed costs ~10 ms
            prev = self.wl.scratch
            self.wl.scratch = os.path.join(self.wl.work, f"setup{rep}")
            os.makedirs(self.wl.scratch)
            if prev:
                shutil.rmtree(prev)
            if self.tracer is not None:
                self.tracer.bind(None)
            traced = rep != SETUPS - 1
            tr = self._tr(traced)
            tr.begin_op(setup_id)
            t0 = time.perf_counter()
            with tr.span("session.get_spark"):
                self.spark = start_session(self.n, self.wl.work)
            if self.tracer is not None:
                self.tracer.bind(self.spark.sparkContext)
            self.wl.prepare(self.spark, tr)
            prep_s = time.perf_counter() - t0
            if tr.active:
                tr.collect_counters(tr.op_spans(setup_id))
            warm = [self.run_op(setup_id * 1000 - k, traced)
                    for k in range(self.wl.warmups)]
            self.warm += warm
            self.setups.append({
                "rep": rep,
                "traced": tr.active,
                "s": prep_s + sum(w["ms"] for w in warm) / 1000.0,
            })

    def loop(self) -> None:
        # traced runs alternate traced and untraced groups of operations,
        # starting with a traced one, and always make one of each
        stride = self.wl.trace_stride
        min_ops = 1 if self.tracer is None else 2 * stride
        start = time.perf_counter()
        i = 0
        while i < min_ops or time.perf_counter() - start < self.seconds:
            self.ops.append(self.run_op(i, (i // stride) % 2 == 0))
            i += 1

    def finish(self) -> bool:
        try:
            self.wl.finish(self.null)
            return True
        except Exception:  # noqa: BLE001 - reported as a failed check
            self.errors.append(traceback.format_exc())
            return False


def end_to_end(ops: list[dict], setup_s: list[float], rows_per_op: int,
               rss_mb: float) -> tuple[dict, dict]:
    ms = [o["ms"] for o in ops if o["ok"]]
    busy_s = sum(ms) / 1000.0
    p = tail_percentile(len(ms))
    values = {
        "setup_s": median(setup_s),
        "op_ms_p50": median(ms),
        "op_ms_tail": percentile(ms, p) if ms else 0.0,
        "ops_per_s": len(ms) / busy_s if busy_s else 0.0,
        "rows_per_s": len(ms) * rows_per_op / busy_s if busy_s else 0.0,
        "rss_peak_mb": rss_mb,
    }
    return values, {"samples": len(ms), "tail_percentile": p}


def per_layer(run: Run) -> dict[str, float]:
    tr = run.tracer
    out = dict.fromkeys(per_layer_units(), 0.0)
    traced = [o for o in run.ops if o["traced"] and o["ok"]]
    op_ids = [o["op"] for o in traced]
    setup_ids = [-(s["rep"] + 1) for s in run.setups if s["traced"]]

    def named(name):
        return lambda i: [s for s in tr.op_spans(i) if s.name == name]

    def top(i):
        return [s for s in tr.op_spans(i) if s.parent is None and s.timed]

    def per_op(select, value) -> float:
        """Median over traced operations of ``value`` of the spans
        ``select`` picks from each; for a layer that only runs during
        set-up, the median over traced set-ups."""
        for ids in (op_ids, setup_ids):
            vals = [value(sp) for sp in map(select, ids) if sp]
            if vals:
                return median(vals)
        return 0.0

    def wall(spans) -> float:
        return sum(s.ms for s in spans)

    def counters(spans) -> dict[str, float]:
        c = dict.fromkeys(COUNTERS, 0.0)
        for s in spans:
            for k, v in inclusive(tr.spans, s).items():
                c[k] += v
        c["busy_frac"] = c["executor_run_ms"] / (wall(spans) * run.n)
        return c

    for name in TIMED_SPANS:
        out[f"{name}_ms"] = per_op(named(name), wall)
    for name in COUNTED_SPANS:
        select = top if name == "op" else named(name)
        for k in (*COUNTERS, "busy_frac"):
            out[f"{name}.{k}"] = per_op(select, lambda sp: counters(sp)[k])
    for q in QUERIES:
        for part in ("build", "plan", "exec"):
            name = f"plans.dashboard.{q}_{part}"
            out[f"{name}_ms"] = per_op(named(name), wall)
        for k in ("jobs", "tasks", "busy_frac"):
            out[f"plans.dashboard.{q}.{k}"] = per_op(
                named(f"plans.dashboard.{q}"), lambda sp: counters(sp)[k])

    def skipped_frac(spans) -> float:
        c = counters(spans)
        return c["stages_skipped"] / c["stages"] if c["stages"] else 0.0

    out["plans.curation.stages_skipped_frac"] = per_op(
        lambda i: [s for s in top(i) if s.name.startswith("plans.curation.")],
        skipped_frac,
    )
    folds = [x for x in getattr(run.wl, "summaries", []) if x["op"] in op_ids]
    if folds:
        out["sources.snapshots.files_rewritten_frac"] = median(
            [x["files_rewritten_frac"] for x in folds])
        out["sources.snapshots.bytes_written_per_state_byte"] = median([
            counters(named("operators.ivm.apply_batch")(x["op"]))["output_bytes"]
            / x["state_bytes"] for x in folds
        ])
        out["sources.snapshots.live_files"] = folds[-1]["live_files"]

    ok = [o for o in run.ops if o["ok"]]
    out["spark.persisted_rdds_after_op"] = ok[-1]["persisted_rdds"] if ok else 0
    out["drift.op_ms_last_over_first"] = drift(
        [o["ms"] for o in ok if not o["traced"]])
    out["trace.ops"] = len(traced)
    out["trace.accounted_frac"] = median([o["top_span_ms"] / o["ms"] for o in traced])
    out["trace.bench_overhead_ms_per_op"] = median(
        [o["ms"] - o["top_span_ms"] for o in traced])

    # memory is one figure per process, so it has no traced/untraced split
    on, _ = end_to_end([o for o in run.ops if o["traced"]],
                       [s["s"] for s in run.setups if s["traced"] and s["rep"] > 0],
                       run.wl.rows_per_op, 0.0)
    off, _ = end_to_end([o for o in run.ops if not o["traced"]],
                        [s["s"] for s in run.setups if not s["traced"]],
                        run.wl.rows_per_op, 0.0)
    for m in TRACE_OVERHEAD:
        out[f"trace_overhead.{m}"] = on[m] - off[m]
    return out


def tally(run: Run, finished: bool) -> tuple[int, int]:
    """(attempted, failed) over warm-up and measured operations; a
    failed end-of-run check counts as one more failure."""
    ops = run.ops + run.warm
    return len(ops), sum(not o["ok"] for o in ops) + (not finished)


def stop_spark(spark) -> None:
    """Stop the session and the driver JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    work = os.path.join(HERE, ".work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    import pyspark

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload](work, args.seed)
    phases = {"imports": time.perf_counter() - T0}

    def phase(name, fn):
        t = time.perf_counter()
        out = fn()
        phases[name] = time.perf_counter() - t
        return out

    sizes = phase("generate", wl.generate)
    run = Run(wl, args.seconds, Tracer() if args.trace else None)
    try:
        phase("setup", run.setup)
        phase("loop", run.loop)
        finished = phase("finish", run.finish)
        rss = phase("rss", lambda: rss_peak_mb(run.spark))
        e2e, tail = end_to_end(
            [o for o in run.ops if not o["traced"]],
            [s["s"] for s in run.setups],
            wl.rows_per_op,
            rss,
        )
        layers = phase("per_layer", lambda: per_layer(run) if args.trace else {})
    finally:
        if run.spark is not None:
            phase("stop", lambda: stop_spark(run.spark))
    phase("cleanup", lambda: shutil.rmtree(work))

    attempted, failed = tally(run, finished)
    correct = failed == 0
    identity = phase("identity", source_identity)

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "cores": run.n,
        "master": f"local[{run.n}]",
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        **identity,
        "inputs": sizes,
        "rows_per_op": wl.rows_per_op,
        "phases_s": phases,
        "setups": run.setups,
        **tail,
        "failed_frac": failed / attempted,
        "op_ms": [round(o["ms"], 3) for o in run.ops],
        "check_ms": [round(o.get("check_ms", 0.0), 3) for o in run.ops],
        "persisted_rdds": [o["persisted_rdds"] for o in run.ops],
        "errors": run.errors,
    }
    rec_dir = os.path.join(HERE, ".work", "records")
    os.makedirs(rec_dir, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(rec_dir, stem + ".json"), "w") as f:
        json.dump({**record, "end_to_end": e2e, "per_layer": layers}, f, indent=1)
    if run.tracer is not None:
        run.tracer.write(os.path.join(rec_dir, stem + ".spans.json"))
    for e in run.errors:
        print(e, file=sys.stderr)

    if args.trace:
        units = per_layer_units()
        metrics = {k: {"value": layers[k], "unit": units[k]} for k in units}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print("record " + json.dumps({k: v for k, v in record.items()
                                   if k not in ("op_ms", "check_ms", "persisted_rdds", "errors")}))
    for k, m in metrics.items():
        print(f"metric {k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
