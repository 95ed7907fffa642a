"""Benchmark of the repository's daily lake jobs.

    python3 perfbench/run.py --workload lake_etl --seed 1 --seconds 12 --trace 0

One run is one fresh process: it stages the inputs (generated once per
checkout from a fixed seed, perfbench/datagen.py), starts the engine's
session with ``get_spark(cpus=<nproc>)``, loads the query registry, runs
the workload's job list a fixed number of times to warm the JVM, then times
passes over the list for at least ``--seconds``. ``--seed`` only reorders
the jobs within each pass. Each job builds a fresh DataFrame with
``QUERIES[name](spark, data_dir)`` and collects it with ``.toPandas()``.
After the timed window every output is checked (perfbench/check.py); after
the session is stopped the set-up is repeated in a fresh process, and
``setup_s`` is the median over both set-ups. The last line of standard output
is one JSON object: ``{"correct", "attempted", "failed", "metrics"}`` --
end-to-end metrics with ``--trace 0``, per-layer metrics with ``--trace 1``.
The line before it holds the run's diagnostics (pass times, steal ticks,
CPU time per pass, disk, memory, failed jobs); both are also written under
``.perfbench/out/``.

With ``--trace 1`` the timed passes alternate traced and untraced: the
per-layer metrics come from the traced passes, and the tracing overhead is
the traced passes' end-to-end numbers minus the untraced ones of the same
process.

``--smoke`` runs a single pass without warm-up on sf0.001 inputs, for the
benchmark's own tests.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

import datagen
import probes
from check import Oracles, signature
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "opay_datalake_script_spark"
STATE = os.path.join(ROOT, ".perfbench")
SF = 0.005
SMOKE_SF = 0.001
# Every run reads the same inputs: a different seed would change document
# lengths, near-duplicates and join cardinalities, and with them the work.
DATA_SEED = 1
# Set-ups per run whose median is setup_s: this run's and, after it, one
# more in a fresh process. Two, not more, so that one run (set-ups
# included) stays near a minute: 48 runs of the two workloads share 57
# minutes.
SETUP_SAMPLES = 2
# The first pass pays class loading and code generation (four to five
# times a later pass); on 4 cores the second is still 10-40 % slower than
# the third, after which pass time falls by a few percent at most, within
# the host's noise. A fixed count, not "until pass time stops falling", so
# that every run times the same point of the warm-up curve; were the
# still-falling second pass timed, a fast host would fit more passes into
# the window and read faster still.
WARMUP_PASSES = 2
# The timed window lasts at least --seconds and at least this many passes.
MIN_TIMED_PASSES = 3
MB = 1e6


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="one pass on sf0.001 inputs")
    p.add_argument("--setup-only", action="store_true", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def make_run_dir() -> tuple[str, int]:
    """A fresh directory for this run's Spark local dirs and temp files.
    Directories of earlier runs whose process is gone (killed runs, a JVM
    that died and left shuffle files behind) are removed first."""
    runs = os.path.join(STATE, "runs")
    os.makedirs(runs, exist_ok=True)
    stale = 0
    for entry in os.listdir(runs):
        pid = entry.removeprefix("run-")
        if not (pid.isdigit() and _pid_alive(int(pid))):
            shutil.rmtree(os.path.join(runs, entry), ignore_errors=True)
            stale += 1
    run_dir = os.path.join(runs, f"run-{os.getpid()}")
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    return run_dir, stale


def stage_inputs(data_dir: str, sf: float, run_dir: str) -> float:
    """Generate the inputs into ``data_dir`` unless an earlier run in this
    checkout did; returns the seconds spent generating (0 when cached)."""
    done = os.path.join(data_dir, "_COMPLETE")
    if os.path.exists(done):
        return 0.0
    t = time.perf_counter()
    tmp = os.path.join(run_dir, "inputs")
    datagen.generate(tmp, DATA_SEED, sf)
    open(os.path.join(tmp, "_COMPLETE"), "w").close()
    shutil.rmtree(data_dir, ignore_errors=True)
    os.makedirs(os.path.dirname(data_dir), exist_ok=True)
    os.rename(tmp, data_dir)
    return time.perf_counter() - t


def clean_program_scratch(data_dir: str) -> None:
    """Remove what earlier runs on ``data_dir`` left in the program's
    ``.scratch`` tree (sinks, snapshots, checkpoints), so that every run
    starts from the state of a fresh checkout."""
    from opay_datalake_script_spark.sources.io import SCRATCH_DIR, fixture_tag

    tag = fixture_tag(data_dir)
    if not os.path.isdir(SCRATCH_DIR):
        return
    for dirpath, dirnames, filenames in os.walk(SCRATCH_DIR):
        for name in [d for d in dirnames if tag in d]:
            shutil.rmtree(os.path.join(dirpath, name), ignore_errors=True)
            dirnames.remove(name)
        for name in filenames:
            if tag in name:
                os.remove(os.path.join(dirpath, name))


def free_disk_mb() -> float:
    return shutil.disk_usage(ROOT).free / MB


@dataclass
class JobRecord:
    name: str
    build_s: float = 0.0
    collect_s: float = 0.0
    # Wall-clock bounds (epoch ms) of build and collect, to attribute Spark
    # jobs that run under another job group (streaming micro-batches).
    windows: dict = field(default_factory=dict)
    rows: int = 0
    error: str | None = None
    sig: object = None
    counts: dict = field(default_factory=dict)
    spans: dict = field(default_factory=dict)

    @property
    def ok(self) -> bool:
        return self.error is None

    @property
    def wall_s(self) -> float:
        return self.build_s + self.collect_s


@dataclass
class PassRecord:
    index: int
    timed: bool
    traced: bool
    jobs: list[JobRecord] = field(default_factory=list)
    wall_s: float = 0.0
    steal: int = 0
    counts: dict = field(default_factory=dict)


class Tracer:
    """Spans run -> pass -> job -> {build, collect}, kept in memory and
    written out when the run ends. Disabled, it records nothing."""

    def __init__(self, enabled: bool, run_id: str, t0: float):
        self.enabled = enabled
        self.run_id = run_id
        self.t0 = t0
        self.spans: list[dict] = []

    def start(self, name: str, parent: int | None, **attrs) -> int | None:
        if not self.enabled:
            return None
        self.spans.append(
            {
                "id": len(self.spans),
                "name": name,
                "parent": parent,
                "run": self.run_id,
                "start": time.perf_counter() - self.t0,
                "end": None,
                "attrs": attrs,
                "counts": {},
            }
        )
        return len(self.spans) - 1

    def end(self, span: int | None, **counts) -> None:
        if span is not None:
            self.spans[span]["end"] = time.perf_counter() - self.t0
            self.count(span, **counts)

    def count(self, span: int | None, **counts) -> None:
        if span is not None:
            self.spans[span]["counts"].update(counts)

    def with_self_time(self) -> list[dict]:
        """Spans with ``self_s``: duration minus the union of the
        children's intervals."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = []
        for s in self.spans:
            if s["end"] is None:
                continue
            covered, reach = 0.0, s["start"]
            for a, b in sorted(kids.get(s["id"], ())):
                a, b = max(a, reach), min(b, s["end"])
                if b > a:
                    covered += b - a
                    reach = b
            out.append({**s, "self_s": s["end"] - s["start"] - covered})
        return out


class Bench:
    def __init__(self, args: argparse.Namespace, run_dir: str):
        self.args = args
        self.jobs = WORKLOADS[args.workload]
        self.run_dir = run_dir
        self.sf = SMOKE_SF if args.smoke else SF
        self.data_dir = os.path.join(STATE, "data", f"sf{self.sf}")
        self.cpus = len(os.sched_getaffinity(0))
        self.run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
        self.tracer = Tracer(bool(args.trace), self.run_id, time.perf_counter())
        self.run_span: int | None = None
        self.spark = None
        self.jvm_pid: int | None = None
        self.jvm_dead = False
        self.passes: list[PassRecord] = []
        self.setup: dict[str, float] = {}
        self.setup_samples: list[float] = []

    # -- set-up ------------------------------------------------------------

    def start(self) -> None:
        run_span = self.run_span = self.tracer.start(
            "run", None, workload=self.args.workload, seed=self.args.seed
        )
        sp = self.tracer.start("inputs", run_span)
        self.setup["inputs_generated_s"] = stage_inputs(self.data_dir, self.sf, self.run_dir)
        self.tracer.end(sp)

        sp = self.tracer.start("session", run_span)
        t = time.perf_counter()
        from opay_datalake_script_spark.session import get_spark

        self.spark = get_spark(app_name="perfbench", cpus=self.cpus)
        self.setup["session_start_s"] = time.perf_counter() - t
        self.tracer.end(sp)

        sp = self.tracer.start("registry", run_span)
        t = time.perf_counter()
        from opay_datalake_script_spark.registry import load_all_queries

        self.queries = load_all_queries()
        self.setup["registry_load_s"] = time.perf_counter() - t
        self.tracer.end(sp, queries=len(self.queries))
        # Generating the inputs is the benchmark's work, done once per
        # checkout; staging them when cached is part of the set-up.
        self.setup_samples.append(probes.process_age_s() - self.setup["inputs_generated_s"])
        clean_program_scratch(self.data_dir)

        self.sc = self.spark.sparkContext
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        self.store = probes.StatusStore(self.sc)

    # -- passes ------------------------------------------------------------

    def run_passes(self) -> None:
        trace = bool(self.args.trace)
        if self.args.smoke:
            self.passes.append(self.run_pass(0, timed=True, traced=trace))
            return
        for i in range(WARMUP_PASSES):
            self.passes.append(self.run_pass(i, timed=False, traced=False))
            if self.jvm_dead:
                return
        # Traced runs time as many untraced passes as untraced runs do, and
        # as many traced ones besides.
        min_passes = MIN_TIMED_PASSES * (2 if trace else 1)
        t0 = time.perf_counter()
        while not self.jvm_dead and (
            len(self.timed()) < min_passes or time.perf_counter() - t0 < self.args.seconds
        ):
            # Traced runs alternate traced and untraced passes, so that the
            # tracing overhead is measured under the same JIT state and
            # host load.
            traced = trace and len(self.timed()) % 2 == 0
            self.passes.append(self.run_pass(len(self.passes), timed=True, traced=traced))

    def _cpu(self) -> dict[str, float]:
        return {
            "jvm_cpu_s": probes.cpu_s(self.jvm_pid),
            "pyworker_cpu_s": probes.tree_cpu_s(self.jvm_pid),
            "client_cpu_s": probes.client_cpu_s(),
        }

    @staticmethod
    def _delta(a: dict[str, float], b: dict[str, float]) -> dict[str, float]:
        return {k: b[k] - a[k] for k in a}

    def run_pass(self, index: int, timed: bool, traced: bool) -> PassRecord:
        rec = PassRecord(index, timed, traced)
        order = list(self.jobs)
        random.Random(f"{self.args.seed}/{index}").shuffle(order)
        span = self.tracer.start("pass", self.run_span, index=index, timed=timed, traced=traced)
        cpu0, steal0 = self._cpu(), probes.steal_ticks()
        t0 = time.perf_counter()
        results = []
        for name in order:
            if self.jvm_dead:
                rec.jobs.append(JobRecord(name, error="JVMDied: the JVM exited earlier in the pass"))
                results.append(None)
                continue
            job, pdf = self.run_job(index, name, span, traced)
            rec.jobs.append(job)
            results.append(pdf)
        rec.wall_s = time.perf_counter() - t0
        rec.steal = probes.steal_ticks() - steal0
        rec.counts = self._delta(cpu0, self._cpu()) if not self.jvm_dead else {}
        self.tracer.end(span, steal_ticks=rec.steal, **rec.counts)

        # Outside the timed window: hash the outputs, then attribute the
        # status store's stage counters to each job's build and collect.
        # Warm-up passes only have to finish without an error.
        if not timed:
            return rec
        for job, pdf in zip(rec.jobs, results):
            if pdf is not None:
                job.sig = signature(pdf)
        if not self.jvm_dead:
            jobs, stages = self.store.snapshot()
            for job in rec.jobs:
                for phase in ("build", "collect"):
                    job.counts[phase] = probes.group_counts(
                        jobs, stages, self._group(index, job.name, phase), job.windows.get(phase), self.run_id
                    )
                    self.tracer.count(job.spans.get(phase), **job.counts[phase])
        return rec

    def _group(self, index: int, name: str, phase: str) -> str:
        return f"{self.run_id}/{index}/{name}/{phase}"

    def run_job(self, index: int, name: str, pass_span: int | None, trace: bool):
        job = JobRecord(name)
        tr = self.tracer if trace else Tracer(False, self.run_id, 0.0)
        span = job.spans["job"] = tr.start("job", pass_span, job=name)
        pdf = None
        self.sc.setJobGroup(self._group(index, name, "build"), name)
        c0 = self._cpu() if trace else None
        sp = job.spans["build"] = tr.start("build", span)
        t0, w0 = time.perf_counter(), time.time()
        try:
            df = self.queries[name](self.spark, self.data_dir)
            job.build_s = time.perf_counter() - t0
            job.windows["build"] = (w0 * 1e3, time.time() * 1e3)
            tr.end(sp)
            if trace:
                c1 = self._cpu()
                tr.count(sp, **self._delta(c0, c1))
            self.sc.setJobGroup(self._group(index, name, "collect"), name)
            sp = job.spans["collect"] = tr.start("collect", span)
            t1, w1 = time.perf_counter(), time.time()
            pdf = df.toPandas()
            job.collect_s = time.perf_counter() - t1
            job.windows["collect"] = (w1 * 1e3, time.time() * 1e3)
            tr.end(sp)
            job.rows = len(pdf)
            if trace:
                job.counts["plans"] = probes.plan_phases_ms(df)
                tr.count(sp, rows=job.rows, **self._delta(c1, self._cpu()), **job.counts["plans"])
        except Exception as ex:  # a failed job is reported, never dropped
            tr.end(sp, error=type(ex).__name__)
            first_line = (str(ex).strip().splitlines() or [""])[0][:300]
            job.error = f"{type(ex).__name__}: {first_line}"
            self.jvm_dead = not self._jvm_alive()
        tr.end(span, ok=job.ok)
        return job, pdf

    def _jvm_alive(self) -> bool:
        return self.jvm_pid is not None and _pid_alive(self.jvm_pid) and not _zombie(self.jvm_pid)

    # -- output check ------------------------------------------------------

    def check_outputs(self) -> list[dict]:
        """Compare each timed pass's output of every job with the job's
        DuckDB oracle, or -- without one -- with its first timed pass. A
        mismatch fails the job in that pass."""
        from opay_datalake_script_spark.registry import ORACLES
        from opay_datalake_script_spark.schemas import TABLES

        mismatches = []
        oracles = Oracles(self.data_dir, TABLES)
        try:
            for name in self.jobs:
                runs = [j for p in self.timed() for j in p.jobs if j.name == name and j.ok]
                if not runs:
                    continue
                source = "oracle" if name in ORACLES else "first pass"
                try:
                    want = oracles.signature(ORACLES[name]) if name in ORACLES else runs[0].sig
                except Exception as ex:  # the check itself could not run
                    want, why = None, f"oracle failed: {type(ex).__name__}: {ex}"
                for job in runs:
                    if want is not None:
                        why = job.sig.mismatch(want)
                    if why:
                        job.error = f"OutputMismatch: {why} (vs {source})"
                        mismatches.append({"job": name, "reason": job.error})
        finally:
            oracles.close()
        return mismatches

    # -- metrics -----------------------------------------------------------

    def timed(self) -> list[PassRecord]:
        return [p for p in self.passes if p.timed]

    def end_to_end(self, traced: bool = False) -> dict[str, tuple[float, str]]:
        """End-to-end metrics over the timed passes that were (or were not)
        traced."""
        timed = [p for p in self.timed() if p.traced == traced]
        per_type: dict[str, list[float]] = {}
        for p in timed:
            for j in p.jobs:
                if j.ok:
                    per_type.setdefault(j.name, []).append(j.wall_s)
        # A pass of median jobs: steadier than the median of whole passes,
        # which sit on a still-falling JIT curve.
        medians = [statistics.median(v) for v in per_type.values()]
        geomean = math.exp(statistics.fmean(math.log(m) for m in medians)) if medians else 0.0
        jobs = [j for p in self.passes for j in p.jobs]
        written = read = 0
        for p in timed:
            for j in p.jobs:
                for c in j.counts.get("build", {}), j.counts.get("collect", {}):
                    written += c.get("outputBytes", 0) + c.get("shuffleWriteBytes", 0)
                    read += c.get("inputBytes", 0)
        return {
            "setup_s": (statistics.median(self.setup_samples), "s"),
            "pass_s": (sum(medians), "s"),
            "job_geomean_s": (geomean, "s"),
            "job_ok_ratio": (sum(j.ok for j in jobs) / max(1, len(jobs)), "ratio"),
            "bytes_written_per_input_byte": (written / read if read else 0.0, "ratio"),
        }

    def per_layer(self) -> dict[str, tuple[float, str]]:
        def per_pass(fn) -> float:
            values = [fn(p) for p in self.timed() if p.traced]
            return statistics.median(values) if values else 0.0

        def jobs_sum(fn) -> callable:
            return lambda p: sum(fn(j) for j in p.jobs)

        def stage(phases, key, scale=1.0):
            return jobs_sum(lambda j: sum(j.counts.get(ph, {}).get(key, 0) for ph in phases) / scale)

        both, coll = ("build", "collect"), ("collect",)
        collect_wall = per_pass(jobs_sum(lambda j: j.collect_s))
        exec_run = per_pass(stage(coll, "executorRunTime", 1e3))
        m = {
            "session.start_s": (self.setup["session_start_s"], "s"),
            "session.jvm_peak_rss_mb": (probes.peak_rss_mb(self.jvm_pid), "MB"),
            "session.jvm_cpu_s": (per_pass(lambda p: p.counts.get("jvm_cpu_s", 0.0)), "s"),
            "registry.load_s": (self.setup["registry_load_s"], "s"),
            "build.wall_s": (per_pass(jobs_sum(lambda j: j.build_s)), "s"),
            "build.jobs": (per_pass(stage(("build",), "jobs")), "count"),
            "plans.analysis_ms": (per_pass(jobs_sum(lambda j: j.counts.get("plans", {}).get("analysis", 0))), "ms"),
            "plans.optimization_ms": (
                per_pass(jobs_sum(lambda j: j.counts.get("plans", {}).get("optimization", 0))),
                "ms",
            ),
            "plans.planning_ms": (per_pass(jobs_sum(lambda j: j.counts.get("plans", {}).get("planning", 0))), "ms"),
            "collect.wall_s": (collect_wall, "s"),
            "collect.result_rows": (per_pass(jobs_sum(lambda j: j.rows)), "count"),
            "exec.jobs": (per_pass(stage(coll, "jobs")), "count"),
            "exec.stages": (per_pass(stage(coll, "stages")), "count"),
            "exec.tasks": (per_pass(stage(coll, "tasks")), "count"),
            "exec.task_failures": (per_pass(stage(coll, "numFailedTasks")), "count"),
            "exec.executor_run_s": (exec_run, "s"),
            "exec.executor_cpu_s": (per_pass(stage(coll, "executorCpuTime", 1e9)), "s"),
            "exec.gc_s": (per_pass(stage(coll, "jvmGcTime", 1e3)), "s"),
            "exec.core_busy_ratio": (exec_run / (collect_wall * self.cpus) if collect_wall else 0.0, "ratio"),
            "shuffle.write_mb": (per_pass(stage(both, "shuffleWriteBytes", MB)), "MB"),
            "shuffle.read_mb": (per_pass(stage(both, "shuffleReadBytes", MB)), "MB"),
            "shuffle.spill_disk_mb": (per_pass(stage(both, "diskBytesSpilled", MB)), "MB"),
            "shuffle.spill_mem_mb": (per_pass(stage(both, "memoryBytesSpilled", MB)), "MB"),
            "io.input_mb": (per_pass(stage(both, "inputBytes", MB)), "MB"),
            "io.input_records": (per_pass(stage(both, "inputRecords")), "count"),
            "io.output_mb": (per_pass(stage(both, "outputBytes", MB)), "MB"),
            "io.output_records": (per_pass(stage(both, "outputRecords")), "count"),
            "udfs.pyworker_cpu_s": (per_pass(lambda p: p.counts.get("pyworker_cpu_s", 0.0)), "s"),
            "client.cpu_s": (per_pass(lambda p: p.counts.get("client_cpu_s", 0.0)), "s"),
        }
        return m

    # -- teardown ----------------------------------------------------------

    def close(self) -> None:
        """Stop the session and the JVM, and wait until every process this
        run started (JVM, PySpark daemon and workers) has exited."""
        if self.spark is not None and not self.jvm_dead:
            try:
                self.spark.stop()
            except Exception as ex:
                print(f"perfbench: stopping the session failed: {ex!r}", file=sys.stderr)
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception as ex:
                print(f"perfbench: closing the py4j gateway failed: {ex!r}", file=sys.stderr)
            proc = getattr(gateway, "proc", None)
            if proc is not None and proc.stdin:
                proc.stdin.close()
        _reap(probes.descendants(os.getpid()))


def _signal(pids: list[int], sig: int) -> None:
    for pid in pids:
        try:
            os.kill(pid, sig)
        except ProcessLookupError:
            pass


def _reap(pids: list[int], timeout: float = 20.0) -> None:
    """Terminate ``pids`` and wait until each has exited, killing those
    still alive after ``timeout`` seconds."""
    deadline = time.monotonic() + timeout
    _signal(pids, signal.SIGTERM)
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        alive = [p for p in pids if _pid_alive(p) and not _zombie(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            _signal(alive, signal.SIGKILL)
            deadline = time.monotonic() + timeout
        time.sleep(0.05)


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except FileNotFoundError:
        return True


def _metrics_json(metrics: dict[str, tuple[float, str]]) -> dict:
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(
            f"perfbench: package {PACKAGE!r} not found in {ROOT}; "
            "run from the root of a checkout of the repository",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)
    run_dir, stale = make_run_dir()
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    # Every JVM the run starts, spark-submit's launcher included, keeps its
    # temp files in the run's directory and writes no perf data to /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # Spark's Python workers must import the package too.
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, (ROOT, os.environ.get("PYTHONPATH"))))
    disk_start = free_disk_mb()
    bench = Bench(args, run_dir)
    phases: dict[str, float] = {}
    if args.setup_only:
        try:
            bench.start()
        finally:
            bench.close()
            shutil.rmtree(run_dir, ignore_errors=True)
        print(json.dumps(bench.setup_samples[0]))
        return 0
    try:
        bench.start()
        phases["setup_end"] = probes.process_age_s()
        bench.run_passes()
        phases["passes_end"] = probes.process_age_s()
        mismatches = bench.check_outputs()
        bench.tracer.end(bench.run_span)
        layers = bench.per_layer() if args.trace else {}
        rss = probes.peak_rss_mb(bench.jvm_pid) if bench._jvm_alive() else None
        phases["check_end"] = probes.process_age_s()
    finally:
        bench.close()
        shutil.rmtree(run_dir, ignore_errors=True)
        if bench.spark is not None:
            clean_program_scratch(bench.data_dir)
    phases["teardown_end"] = probes.process_age_s()
    if not (args.smoke or args.trace):
        for _ in range(SETUP_SAMPLES - 1):
            bench.setup_samples.append(repeat_setup(args))
        phases["setups_end"] = probes.process_age_s()
    # A smoke run with tracing has only its one traced pass.
    e2e = bench.end_to_end(traced=args.smoke and bool(args.trace))

    jobs = [j for p in bench.passes for j in p.jobs]
    failed = [j for j in jobs if not j.ok]
    result = {
        "correct": not failed,
        "attempted": len(jobs),
        "failed": len(failed),
        "metrics": _metrics_json(layers if args.trace else e2e),
    }
    diag = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "sf": bench.sf,
        "cpus": bench.cpus,
        "jobs": list(bench.jobs),
        "warmup_pass_s": [p.wall_s for p in bench.passes if not p.timed],
        "timed_pass_s": [p.wall_s for p in bench.timed()],
        "traced_passes": [p.index for p in bench.passes if p.traced],
        "steal_ticks": [p.steal for p in bench.passes],
        "pass_cpu_s": [p.counts for p in bench.passes],
        "job_s": [{j.name: j.wall_s for j in p.jobs} for p in bench.passes],
        "setup": bench.setup,
        "setup_samples_s": bench.setup_samples,
        "process_age_s": phases,
        "jvm_peak_rss_mb": rss,
        "free_disk_mb": {"start": disk_start, "end": free_disk_mb()},
        "stale_run_dirs_removed": stale,
        "failed_jobs": [
            {"pass": p.index, "job": j.name, "error": j.error} for p in bench.passes for j in p.jobs if not j.ok
        ],
        "output_mismatches": mismatches,
        "end_to_end": _metrics_json(e2e),
    }
    out_dir = os.path.join(STATE, "out")
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{'smoke-' if args.smoke else ''}{args.workload}-s{args.seed}"
    if args.trace and not args.smoke:
        traced = bench.end_to_end(traced=True)
        diag["end_to_end_traced_passes"] = _metrics_json(traced)
        diag["tracing_overhead"] = {k: traced[k][0] - e2e[k][0] for k in ("pass_s", "job_geomean_s")}
    if args.trace:
        with open(os.path.join(out_dir, f"trace-{stem}.json"), "w") as fh:
            json.dump({"run": bench.run_id, "spans": bench.tracer.with_self_time()}, fh)
    with open(os.path.join(out_dir, f"{stem}-t{args.trace}.json"), "w") as fh:
        json.dump({"result": result, "diagnostics": diag}, fh, indent=1)
    for f in failed:
        print(f"perfbench: job {f.name} failed: {f.error}", file=sys.stderr)
    print(json.dumps({"diagnostics": diag}))
    print(json.dumps(result))
    return 0


def repeat_setup(args: argparse.Namespace) -> float:
    """Set up once more in a fresh process (``--setup-only``) and return
    its set-up time. The child is stopped with its whole process group if
    it does not finish in time."""
    proc = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "--workload", args.workload, "--seed", str(args.seed), "--setup-only"],
        cwd=ROOT,
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
        start_new_session=True,
    )
    try:
        out, err = proc.communicate(timeout=60)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    if proc.returncode != 0:
        raise RuntimeError(f"set-up in a fresh process failed ({proc.returncode}): {err[-2000:]}")
    return float(out.strip().splitlines()[-1])


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
