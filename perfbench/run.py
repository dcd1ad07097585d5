"""Extraction benchmark: one workload, closed loop, on local[<cores>].

    python3 perfbench/run.py --workload docs_clean --seed 1 --seconds 18 --trace 0

Run from the root of a checkout. One client runs passes back to back; the
next pass starts when the previous one ends. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. With ``--trace 0`` the metrics are the end-to-end ones, with
``--trace 1`` the per-layer ones (see README.md). ``--workload all`` runs
every workload in turn and prints one such line per workload.

Everything the run writes goes under ``.perfbench_work/`` in the checkout
and is removed at exit, except the span record of a traced run, written to
``.perfbench_traces/``.
"""
from __future__ import annotations

import sys

sys.dont_write_bytecode = True  # keep the benchmark directory source-only

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import pathlib  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import threading  # noqa: E402
import time  # noqa: E402
import traceback  # noqa: E402

ROOT = pathlib.Path(__file__).resolve().parent.parent
#: a pass still running after this long is cancelled and counted as failed
PASS_TIMEOUT_S = 60.0
#: JVM heap (spark.driver.memory); get_spark pre-touches all of it
JVM_HEAP = "2g"
PROGRAM_FILES = (
    "__spark_entry__.py",
    "ocr_spark/session.py",
    "ocr_spark/plans/job.py",
    "data/synth.py",
    "tools/synth_sf1.py",
)


class Tracer:
    """Spans around the benchmark's calls into the program, kept in memory.

    With a SparkContext, an open span's id is the ``perfbench.span`` local
    property, so Spark tags every job the call starts with it."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._open: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        from eventlog import SPAN_PROPERTY

        rec = {"id": f"{len(self.spans)}:{name}", "name": name, **attrs}
        rec["parent"] = self._open[-1] if self._open else None
        self.spans.append(rec)
        self._open.append(rec["id"])
        if self.sc is not None:
            prev = self.sc.getLocalProperty(SPAN_PROPERTY)
            self.sc.setLocalProperty(SPAN_PROPERTY, rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()
            if self.sc is not None:
                self.sc.setLocalProperty(SPAN_PROPERTY, prev)

    def under(self, root_id: str) -> list[dict]:
        """``root_id``'s span and all spans opened inside it."""
        ids, out = {root_id}, []
        for s in self.spans:
            if s["id"] in ids or s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out


class Session:
    """One session JVM at a time, each started by the program's ``get_spark``."""

    def __init__(self, extra_conf: dict):
        self.extra_conf = extra_conf
        self.spark = None
        self.cores = len(os.sched_getaffinity(0))

    def start(self):
        from pyspark import SparkContext

        from ocr_spark.session import get_spark

        self.spark = get_spark(
            "perfbench",
            master=f"local[{self.cores}]",
            shuffle_partitions=max(self.cores, 8),
            extra_conf=self.extra_conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = SparkContext._gateway.proc.pid
        return self.spark

    def stop(self) -> None:
        """Stop the session and wait until its JVM has exited."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = gateway.proc
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=60)


class Runner:
    def __init__(self, workload, session: Session):
        self.wl = workload
        self.session = session
        self.attempted = 0
        self.failed = 0

    def attempt(self, tracer):
        """One pass: (result, wall seconds, tree CPU seconds), or None when
        it raised, timed out or failed a check."""
        from procfs import cpu_delta_s, cpu_snapshot
        from workloads import CheckFailed

        spark = self.session.spark
        self.attempted += 1
        self.wl.prepare()
        timer = threading.Timer(PASS_TIMEOUT_S, spark.sparkContext.cancelAllJobs)
        try:
            cpu0 = cpu_snapshot(self.session.jvm_pid)
            t0 = time.perf_counter()
            timer.start()
            with tracer.span("pass"):  # the output checks run outside it
                result = self.wl.run_pass(spark, tracer)
            wall = time.perf_counter() - t0
            timer.cancel()
            cpu = cpu_delta_s(cpu0, cpu_snapshot(self.session.jvm_pid))
            calls = " ".join(
                f"{t['name']}={t['end'] - t['start']:.3f}" for t in tracer.spans
                if "end" in t and (t["parent"] is None or t["parent"].endswith(":pass"))
            )
            t1 = time.perf_counter()
            self.wl.check(result)
            print(f"perfbench: {self.wl.name} pass {self.attempted}: "
                  f"{wall:.3f} s wall, {cpu:.2f} s cpu, check {time.perf_counter() - t1:.2f} s; "
                  f"{calls}", file=sys.stderr)
            return result, wall, cpu
        except CheckFailed as e:
            print(f"perfbench: {self.wl.name}: output check failed: {e}", file=sys.stderr)
        except Exception:  # a failed pass is counted, and the loop goes on
            traceback.print_exc()
        finally:
            timer.cancel()
        self.failed += 1
        return None

    def setup(self) -> tuple[float, float]:
        """A fresh session JVM through one warm-up pass: (start_s, total_s)."""
        t0 = time.perf_counter()
        self.session.start()
        start = time.perf_counter() - t0
        self.attempt(Tracer())
        return start, time.perf_counter() - t0

    def timed_passes(self, seconds: float) -> list[tuple]:
        """Passes until their clocks add up to ``seconds``. The output
        checks between passes do not count, so a slow check does not take
        a timed pass away."""
        done, spent = [], 0.0
        while spent < seconds:
            t0 = time.perf_counter()
            r = self.attempt(Tracer())
            if r is not None:
                done.append(r)
            spent += r[1] if r is not None else time.perf_counter() - t0
        return done


def measure(runner: Runner, seconds: float) -> tuple[float, float, list[tuple]]:
    """Setup, untimed settle passes, then timed passes for ``seconds``:
    (session start s, setup s, timed passes)."""
    start_s, setup_s = runner.setup()
    for _ in range(runner.wl.settle_passes):
        runner.attempt(Tracer())
    passes = runner.timed_passes(seconds)
    if not passes:
        raise RuntimeError("no timed pass succeeded")
    return start_s, setup_s, passes


def run_untraced(runner: Runner, seconds: float) -> dict:
    from procfs import peak_rss_mb

    _, setup_s, passes = measure(runner, seconds)
    rss = sum(peak_rss_mb(runner.session.jvm_pid).values())
    turns = runner.wl.turns
    return {
        "setup_s": (setup_s, "s"),
        "turns_per_s": (statistics.median([turns / wall for _, wall, _ in passes]), "1/s"),
        "cpu_s_per_kturn": (statistics.median([cpu / turns * 1e3 for _, _, cpu in passes]), "s"),
        "peak_rss_mb": (rss, "MB"),
    }


def memory_layers(jvm_pid: int) -> dict[str, float]:
    """``peak_rss_mb`` without the JVM heap, which ``get_spark`` pre-touches
    whole: the JVM's peak beyond its heap, and the other processes' peaks."""
    from procfs import peak_rss_mb

    peaks = peak_rss_mb(jvm_pid)
    heap_mb = float(JVM_HEAP.rstrip("g")) * 1024
    return {
        "mem.jvm_nonheap_mb": peaks.pop(jvm_pid) - heap_mb,
        "mem.python_peak_mb": sum(peaks.values()),
    }


def run_traced(
    runner: Runner, seconds: float, event_dir: pathlib.Path, trace_out: pathlib.Path
) -> dict:
    from coreprof import profile_core, profile_turn_and_udf
    from eventlog import read_stages, stage_metrics
    from workloads import CheckFailed

    wl = runner.wl
    start_s, setup_s, passes = measure(runner, seconds)
    tracer = Tracer(runner.session.spark.sparkContext)
    traced = runner.attempt(tracer)
    if traced is None:
        raise RuntimeError("the traced pass failed")
    result, traced_wall, _ = traced
    result["spans"] = tracer.under(tracer.spans[0]["id"])
    pass_spans = {s["id"] for s in result["spans"]}
    layers = dict.fromkeys(LAYER_UNITS, 0)  # a layer the workload does not run reads 0
    layers["session.start_s"] = start_s
    layers["session.warmup_s"] = setup_s - start_s
    # against the passes just before it: the JIT may still be shaving time
    layers["trace.overhead_frac"] = (
        traced_wall / statistics.median([w for _, w, _ in passes[-3:]]) - 1.0
    )
    runner.attempted += 1
    try:
        layers.update(wl.trace_extras(runner.session.spark, tracer, result))
    except CheckFailed as e:
        runner.failed += 1
        print(f"perfbench: {wl.name}: output check failed: {e}", file=sys.stderr)
    layers.update(memory_layers(runner.session.jvm_pid))

    # stopping the session flushes the event log, and keeps the JVM's
    # threads off the CPU while the core is timed in-process
    runner.session.stop()
    texts = wl.profile_texts()
    layers.update(profile_core(texts, wl.kamus))
    layers.update(profile_turn_and_udf(texts, wl.kamus))

    stages = read_stages(event_dir)
    layers.update(stage_metrics([s for s in stages if s.span in pass_spans]))
    layers.update(wl.layer_metrics(result, stages))
    trace_out.parent.mkdir(parents=True, exist_ok=True)
    trace_out.write_text(json.dumps(
        {"spans": tracer.spans, "layers": layers},
        default=lambda o: sorted(o) if isinstance(o, frozenset) else str(o),
        indent=1,
    ))
    return {k: (v, LAYER_UNITS[k]) for k, v in layers.items()}


#: per-layer metric -> unit; BENCHMARK.json lists the same names
LAYER_UNITS = {
    "session.start_s": "s", "session.warmup_s": "s",
    "mem.jvm_nonheap_mb": "MB", "mem.python_peak_mb": "MB",
    "scan.s": "s", "scan.partitions": "count", "scan.nonempty_partitions": "count",
    "scan.probe.partitions": "count", "scan.probe.nonempty_partitions": "count",
    "scan.probe.task_skew": "ratio", "scan.probe.turns_per_s": "1/s",
    "shuffle.s": "s", "shuffle.rows_max_over_mean": "ratio",
    "core.t1_us": "us", "core.t3_us": "us", "core.t4_us": "us", "core.t5_us": "us",
    "core.a6_us": "us", "core.t7_us": "us", "core.turn_us": "us",
    "core.t1_hit": "frac", "core.t3_hit": "frac", "core.t4_hit": "frac", "core.t5_hit": "frac",
    "udf.body_us": "us", "udf.assemble_us": "us",
    "stage.udf.run_s": "s", "stage.udf.cpu_s": "s", "stage.udf.gc_s": "s",
    "stage.udf.task_skew": "ratio", "stage.udf.python_run_s": "s",
    "stage.udf.bytes_to_python": "bytes", "stage.udf.bytes_from_python": "bytes",
    "job.groups": "count", "job.group_s": "s", "job.overhead_s": "s", "sink.parquet_s": "s",
    "learn.counts_s": "s", "learn.commit_s": "s", "learn.words": "count", "learn.approved": "count",
    "dedup.s": "s", "dedup.signatures_s": "s", "dedup.pairs_out": "count",
    "dedup.shuffle_write_bytes": "bytes", "dedup.spill_bytes": "bytes",
    "stage.shuffle_write_bytes": "bytes", "stage.spill_bytes": "bytes",
    "trace.overhead_frac": "frac",
}


def run_workload(name: str, seed: int, seconds: float, trace: bool, scale: float) -> dict:
    from workloads import WORKLOADS

    work = ROOT / ".perfbench_work" / f"{name}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    extra_conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    event_dir = work / "events"
    if trace:
        event_dir.mkdir()
        extra_conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir.as_uri(),
            "spark.eventLog.compress": "false",
        })
    session = Session(extra_conf)
    try:
        wl = WORKLOADS[name](ROOT, work, scale)
        wl.generate(seed)
        runner = Runner(wl, session)
        if trace:
            trace_out = ROOT / ".perfbench_traces" / f"{name}-seed{seed}.json"
            metrics = run_traced(runner, seconds, event_dir, trace_out)
        else:
            metrics = run_untraced(runner, seconds)
    finally:
        session.stop()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # another run may still be using it
            work.parent.rmdir()
    return {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (the self-test runs tiny inputs)")
    args = ap.parse_args()

    missing = [f for f in PROGRAM_FILES if not (ROOT / f).is_file()]
    if missing:
        print(f"perfbench: program files missing under {ROOT}: {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_DRIVER_MEMORY"] = JVM_HEAP

    from workloads import WORKLOADS

    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    unknown = [n for n in names if n not in WORKLOADS]
    if unknown:
        print(f"perfbench: unknown workload {unknown[0]!r}; one of {sorted(WORKLOADS)} or all",
              file=sys.stderr)
        return 2
    for name in names:
        print(json.dumps(run_workload(name, args.seed, args.seconds, bool(args.trace), args.scale)),
              flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
