"""The repository benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (``workloads.py``): ``analyst_mix`` and ``corpus_dedup_10x``.
Each run makes its inputs from ``--seed`` (cached per seed under
``.perfbench/``), starts one warm ``local[<cores>]`` Spark session and
sends ops from a single closed-loop client until at least ``--seconds``
of op time have passed, in whole passes (at least the workload's
``MIN_PASSES``) so every run of a workload does the same mix. Each op
is timed from outside the program and its output is checked outside
the timer. The last line of stdout is one JSON object:

    {"correct": bool, "attempted": n, "failed": n, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones (no tracing);
with ``--trace 1`` they are the per-layer ones of a traced run
(``tracing.py``). Both kinds of run write their full record, spans
included, to ``.perfbench/out/``; ``compare.py`` summarises them,
with the tracing overhead. The lines before the JSON are a readable
report, including the interference signal: host load and a fixed
calibration op timed at the start and at the end of the measuring; a
run whose calibration moved by more than ``DISTURBED_CALIB_RATIO`` is
marked DISTURBED, so it is not read as a regression.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time

from check import Deferred, percentile, tail_percentile
from tracing import JvmProbe, Tracer, layer_totals, split_op
from workloads import WORKLOADS, noop_write, verify_deferred

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench")
PKG = "mini_sql_engine_spark"

# The driver JVM's heap. The engine's own default (16g) is larger than
# the memory of a small benchmark box; the benchmark fixes one value so
# every run is comparable.
DRIVER_MEMORY = "1g"
# Hard cap on one run's measuring phase, so a slow box still exits in time.
MAX_MEASURE_S = 90.0
DISTURBED_CALIB_RATIO = 1.25
# spans whose time counts as the program building a query
BUILD_SPANS = ("queries.build", "sources.csv_register", "session.sql")


def cores() -> int:
    return len(os.sched_getaffinity(0))


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants
    (the driver JVM, its Python workers), sampled every ``interval``.
    ``peaks`` keeps the peak of each part: this process, the JVMs and
    the other processes (Python workers). No sample is taken while the
    benchmark's own work runs (``pause``)."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self.peaks = {"driver": 0, "jvm": 0, "workers": 0}
        self._paused = False
        self._lock = threading.Lock()
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    @staticmethod
    def _tree(root: int) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
        out, todo = [], [root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, []))
        return out

    def _sample(self, pids: list[int]) -> dict[str, int]:
        parts = dict.fromkeys(self.peaks, 0)
        for pid in pids:
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    rss = int(fh.read().split()[1]) * self._page
                with open(f"/proc/{pid}/comm") as fh:
                    comm = fh.read().strip()
            except (OSError, IndexError, ValueError):
                continue
            part = ("driver" if pid == os.getpid()
                    else "jvm" if comm == "java" else "workers")
            parts[part] += rss
        return parts

    def run(self) -> None:
        n, pids = 0, []
        while not self._stop_evt.wait(self.interval):
            with self._lock:
                if self._paused:
                    continue
                if n % 10 == 0:
                    pids = self._tree(os.getpid())
                n += 1
                parts = self._sample(pids)
                self.peak = max(self.peak, sum(parts.values()))
                for k, v in parts.items():
                    self.peaks[k] = max(self.peaks[k], v)

    @contextlib.contextmanager
    def pause(self):
        """No sample from entry (a sample in progress finishes first)
        until exit."""
        with self._lock:
            self._paused = True
        try:
            yield
        finally:
            self._paused = False

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=5)


def loadavg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def calibrate(reps: int = 5) -> float:
    """Best time of a fixed single-threaded CPU job (sha256 over 8 MB).
    It runs no program or JVM code, so only a host that is slower or
    busier than usual moves it."""
    block = bytes(8 << 20)
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        hashlib.sha256(block).digest()
        times.append(time.perf_counter() - t0)
    return min(times)


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait until the JVM
    and every process under it (the Python workers) have exited."""
    from pyspark import SparkContext

    procs = RssSampler._tree(os.getpid())[1:]
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 20
    for pid in procs:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def run_op(op, i: int, tracer=None, probe=None, sampler=None) -> dict:
    """Time one op and check its output, with ``sampler`` (if any)
    paused for the check. With a tracer, also record its spans and what
    Spark recorded for it."""
    rec = {"op": i, "key": op.key, "error": None}
    group = f"perfbench-op-{i}"
    if tracer:
        tracer.op = i
        probe.begin_op(group, op.key)
        acid_before = _dir_bytes(op.meta["acid"]) if "acid" in op.meta else 0
    result = None
    start = time.time()
    t0 = time.perf_counter()
    try:
        if tracer is None:
            result = op.run()
        elif op.build is not None:
            top = tracer.begin(op.span)
            try:
                b = tracer.begin("queries.build")
                try:
                    result = op.build()
                finally:
                    tracer.end(b)
                w = tracer.begin("exec.write")
                try:
                    noop_write(result)
                finally:
                    tracer.end(w)
            finally:
                tracer.end(top)
        else:
            top = tracer.begin(op.span)
            try:
                result = op.run()
            finally:
                tracer.end(top)
    except Exception as exc:  # an op that raises is a failed op, not a crash
        rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
    rec["wall_s"] = time.perf_counter() - t0
    end = start + rec["wall_s"]
    if tracer:
        tracer.op = None
        probe.drain()
        stats = probe.exec_stats(group)
        events = probe.take_events()
        rec["exec"] = {k: v for k, v in stats.items() if k != "job_intervals"}
        jobs = stats["job_intervals"]
        phases = []
        for ev in events:
            phases.extend((s, s + d) for s, d in ev["phases"].values())
        analysis = sum(ev["phases"].get("analysis", (0, 0))[1] for ev in events)
        if op.build is not None and result is not None:
            df_phases = probe.phases_of(result)
            analysis += df_phases.get("analysis", (0, 0))[1]
            phases.extend((s, s + d) for s, d in df_phases.values())
        rec["catalyst"] = {
            "analysis_s": analysis,
            "optimization_s": sum(ev["phases"].get("optimization", (0, 0))[1]
                                  for ev in events),
            "planning_s": sum(ev["phases"].get("planning", (0, 0))[1]
                              for ev in events),
        }
        build = [(s.start, s.end) for s in tracer.spans
                 if s.op == i and s.name in BUILD_SPANS]
        rec["split"] = split_op((start, end), build, jobs, phases)
        rec["build_jobs"] = rec["split"].pop("build_jobs")
        rec["checkpoint_bytes"] = probe.checkpoint_bytes()
        if "acid" in op.meta and rec["error"] is None:
            rec["acid_written"] = _dir_bytes(op.meta["acid"]) - acid_before
            rec["acid_frame"] = op.meta["frame_bytes"]()
        if op.span == "cli.run" and isinstance(result, str):
            rec["result_rows"] = max(0, result.count("\n") - 1)
        probe.begin_op("perfbench-check", "output check")
    t0 = time.perf_counter()
    if rec["error"] is None:
        with sampler.pause() if sampler else contextlib.nullcontext():
            rec["error"] = _check(op, result)
        if isinstance(rec["error"], Deferred):
            rec["deferred"], rec["error"] = rec["error"], None
    rec["check_s"] = time.perf_counter() - t0
    if tracer:
        probe.drain()
        probe.take_events()
    return rec


def resolve_deferred(records, verify) -> None:
    """Set the error of every op whose check was deferred from
    ``verify(deferred list)``, which returns None or a reason each."""
    pending = [r for r in records if "deferred" in r]
    if pending:
        for r, error in zip(pending, verify([r.pop("deferred") for r in pending]),
                            strict=True):
            r["error"] = error


def _check(op, result):
    try:
        return op.check(result)
    except Exception as exc:  # a check that cannot run fails the op
        return f"check raised {type(exc).__name__}: {str(exc)[:300]}"


def measure(wl, spark, seconds: float, tracer=None, probe=None, sampler=None):
    records, units, timed, passes = [], 0, 0.0, 0
    began = time.perf_counter()
    for ops in wl.passes(spark):
        done = []
        for op in ops:
            records.append(run_op(op, len(records), tracer, probe, sampler))
            timed += records[-1]["wall_s"]
            done.append(op)
            if time.perf_counter() - began > MAX_MEASURE_S:
                break
        units += wl.units(done)
        passes += 1
        if ((timed >= seconds and passes >= wl.MIN_PASSES)
                or time.perf_counter() - began > MAX_MEASURE_S):
            return records, units, timed


def end_to_end(records, units, timed, setup_s, peak_rss) -> dict:
    walls = [r["wall_s"] for r in records]
    failed = sum(1 for r in records if r["error"])
    return {
        "setup_s": (setup_s, "s"),
        "latency_p50_s": (percentile(walls, 50), "s"),
        "latency_p90_s": (percentile(walls, 90), "s"),
        "throughput_per_s": (units / timed, "1/s"),
        "peak_rss_mb": (peak_rss / 2**20, "MB"),
        "ok_ratio": (1.0 - failed / len(records), "ratio"),
    }


def per_layer(records, spans, setup_spans) -> dict:
    n = len(records)
    tot = layer_totals(spans)
    setup = layer_totals(setup_spans)

    def calls(name):
        return tot.get(name, [0, 0.0, 0.0])[0] / n

    def self_s(name):
        return tot.get(name, [0, 0.0, 0.0])[1] / n

    def wall_s(name):
        return tot.get(name, [0, 0.0, 0.0])[2] / n

    def mean(f):
        return sum(f(r) for r in records) / n

    ex = [r.get("exec", {}) for r in records]
    run_s = sum(e.get("run_s", 0) for e in ex)
    cpu_s = sum(e.get("cpu_s", 0) for e in ex)
    written = sum(r.get("acid_written", 0) for r in records)
    frame = sum(r.get("acid_frame", 0) for r in records)
    cli_spans = [s for s in spans if s.name == "cli.run"]
    m = {
        "session.start_s": (setup.get("session.start", [0, 0.0, 0.0])[2], "s"),
        "catalog.table_calls": (calls("catalog.table"), "count"),
        "catalog.table_s": (self_s("catalog.table"), "s"),
        "queries.build_s": (wall_s("queries.build"), "s"),
        "queries.build_jobs": (mean(lambda r: r.get("build_jobs", 0)), "count"),
        "plans.materialized_calls": (calls("plans.materialized"), "count"),
        "plans.materialized_s": (self_s("plans.materialized"), "s"),
        "plans.checkpoint_bytes": (mean(lambda r: r.get("checkpoint_bytes", 0)), "bytes"),
        "pipeline.dedup_s": (self_s("pipeline.dedup"), "s"),
        "pipeline.graph_s": (self_s("pipeline.graph"), "s"),
        "pipeline.similarity_s": (self_s("pipeline.similarity"), "s"),
        "pipeline.clean_s": (self_s("pipeline.clean"), "s"),
        "sources.acid.commit_s": (self_s("sources.acid.commit"), "s"),
        "sources.acid.read_s": (self_s("sources.acid.read"), "s"),
        "sources.acid.write_amp": (written / frame if frame else 0.0, "ratio"),
        "sources.csv_register_s": (self_s("sources.csv_register"), "s"),
        "cli.sql_s": (sum(s.end - s.start for s in spans if s.name == "session.sql"
                          and _inside(s, cli_spans)) / n, "s"),
        "cli.deliver_s": (self_s("cli.run"), "s"),
        "cli.result_rows": (mean(lambda r: r.get("result_rows", 0)), "count"),
        "catalyst.analysis_s": (mean(lambda r: r["catalyst"]["analysis_s"]), "s"),
        "catalyst.optimization_s": (mean(lambda r: r["catalyst"]["optimization_s"]), "s"),
        "catalyst.planning_s": (mean(lambda r: r["catalyst"]["planning_s"]), "s"),
        "exec.jobs": (mean(lambda r: r["exec"]["jobs"]), "count"),
        "exec.stages": (mean(lambda r: r["exec"]["stages"]), "count"),
        "exec.tasks": (mean(lambda r: r["exec"]["tasks"]), "count"),
        "exec.job_wall_s": (mean(lambda r: r["split"]["execute_s"]), "s"),
        "exec.run_s": (run_s / n, "s"),
        "exec.cpu_s": (cpu_s / n, "s"),
        "exec.cpu_per_run": (cpu_s / run_s if run_s else 0.0, "ratio"),
        "exec.gc_s": (mean(lambda r: r["exec"]["gc_s"]), "s"),
        "exec.shuffle_read_bytes": (mean(lambda r: r["exec"]["shuffle_read_bytes"]), "bytes"),
        "exec.shuffle_write_bytes": (mean(lambda r: r["exec"]["shuffle_write_bytes"]), "bytes"),
        "exec.spill_bytes": (mean(lambda r: r["exec"]["spill_bytes"]), "bytes"),
        "exec.failed_tasks": (sum(r["exec"]["failed_tasks"] for r in records), "count"),
        "driver.residual_s": (mean(lambda r: r["split"]["residual_s"]), "s"),
    }
    return m


def _inside(span, outers) -> bool:
    return any(o.start <= span.start and span.end <= o.end for o in outers)


def split_table(records) -> dict:
    parts = ("build_s", "plan_s", "execute_s", "residual_s")
    wall = sum(r["split"]["wall_s"] for r in records)
    table = {p: sum(r["split"][p] for r in records) / wall for p in parts}
    within = sum(1 for r in records
                 if abs(r["split"]["sum_s"] - r["split"]["wall_s"])
                 <= 0.1 * r["split"]["wall_s"])
    table["ops_sum_within_10pct"] = f"{within}/{len(records)}"
    return table


def bench(args, run_dir: str) -> dict:
    began = time.perf_counter()
    wl = WORKLOADS[args.workload](args.seed, CACHE, run_dir)
    wl.prepare()
    prepared = time.perf_counter()
    sampler = RssSampler()
    sampler.start()
    tracer = probe = None
    t0 = time.perf_counter()
    import mini_sql_engine_spark.session as session
    import mini_sql_engine_spark.queries  # noqa: F401
    import mini_sql_engine_spark.__main__  # noqa: F401
    if args.trace:
        tracer = Tracer()
        tracer.install()
    spark = session.get_spark(
        app_name="perfbench", cpus=cores(),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        })
    try:
        wl.warmup(spark)
        setup_s = time.perf_counter() - t0
        setup_spans = list(tracer.spans) if tracer else []
        if tracer:
            tracer.spans.clear()
            probe = JvmProbe(spark)
        after0 = time.perf_counter()
        with sampler.pause():
            wl.after_setup(spark)
        after_s = time.perf_counter() - after0
        load0, calib0 = loadavg(), calibrate()
        if tracer:
            probe.drain()
            probe.take_events()
            tracer.spans.clear()
        measure0 = time.perf_counter()
        records, units, timed = measure(wl, spark, args.seconds, tracer, probe, sampler)
        measure_s = time.perf_counter() - measure0
        load1, calib1 = loadavg(), calibrate()
    finally:
        if probe:
            probe.close(spark)
        stop_spark(spark)
        if tracer:
            tracer.uninstall()
        sampler.stop()
    verify0 = time.perf_counter()
    resolve_deferred(records, lambda pending: verify_deferred(wl.data, pending, run_dir))
    verify_s = time.perf_counter() - verify0
    out = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": cores(), "ops": len(records), "timed_s": timed,
        "stages_s": {"inputs": prepared - began + after_s, "setup": setup_s,
                     "measure_and_check": measure_s, "deferred_checks": verify_s,
                     "total": time.perf_counter() - began},
        "end_to_end": end_to_end(records, units, timed, setup_s, sampler.peak),
        "rss_peaks_mb": {k: v / 2**20 for k, v in sampler.peaks.items()},
        "interference": {
            "loadavg_start": load0, "loadavg_end": load1,
            "calib_start_s": calib0, "calib_end_s": calib1,
            "disturbed": not (1 / DISTURBED_CALIB_RATIO <= calib1 / calib0
                              <= DISTURBED_CALIB_RATIO),
        },
        "records": records,
    }
    if tracer:
        out["per_layer"] = per_layer(records, tracer.spans, setup_spans)
        out["split"] = split_table(records)
        out["spans"] = [vars(s) for s in setup_spans + tracer.spans]
    return out


def report(out: dict) -> None:
    print(f"workload {out['workload']} seed {out['seed']} trace {out['trace']}: "
          f"{out['ops']} ops, {out['timed_s']:.2f} s of op time, "
          f"local[{out['cores']}]")
    print("  run stages: " + ", ".join(f"{k} {v:.1f} s"
                                      for k, v in out["stages_s"].items()))
    print(f"  p90 leaves {out['ops'] // 10} ops beyond it; the highest "
          f"percentile with 10 beyond is p{tail_percentile(out['ops']):.0f}")
    for name, (v, unit) in out["end_to_end"].items():
        print(f"  {name:<28} {v:>14.4f} {unit}")
    for name, (v, unit) in out.get("per_layer", {}).items():
        print(f"  {name:<28} {v:>14.4f} {unit}")
    if "split" in out:
        print("  op wall split: " + ", ".join(
            f"{k} {v:.1%}" if isinstance(v, float) else f"{k} {v}"
            for k, v in out["split"].items()))
    i = out["interference"]
    print(f"  interference: loadavg {i['loadavg_start']:.2f} -> {i['loadavg_end']:.2f}, "
          f"calibration {i['calib_start_s']:.3f} s -> {i['calib_end_s']:.3f} s"
          + (" DISTURBED" if i["disturbed"] else ""))
    for r in out["records"]:
        if r["error"]:
            print(f"  FAILED op {r['op']} {r['key']}: {r['error']}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    missing = [p for p in (os.path.join(ROOT, PKG, "__init__.py"),
                           os.path.join(ROOT, "scripts", "stress_scale.py"),
                           os.path.join(ROOT, "scripts", "drive_contract.py"))
               if not os.path.isfile(p)]
    if missing:
        print(f"perfbench: the program is not here: {missing}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts")]
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.makedirs(os.path.join(CACHE, "runs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(CACHE, "runs"))
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ.update({
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
    })
    try:
        out = bench(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(CACHE, "out"), exist_ok=True)
    path = os.path.join(CACHE, "out",
                        f"{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(path, "w") as fh:
        json.dump(out, fh, default=str)
    report(out)
    print(f"  record: {os.path.relpath(path, ROOT)}")
    metrics = out["per_layer"] if args.trace else out["end_to_end"]
    failed = sum(1 for r in out["records"] if r["error"])
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(out["records"]),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
