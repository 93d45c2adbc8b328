"""Benchmark entry point: one seeded, closed-loop, single-client workload.

    python3 perfbench/run.py --workload volume_query --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  The run

1. configures the Spark environment for this machine (cores, driver heap
   size, fixed from the start, worker ``PYTHONPATH``, local dirs) and
   records it;
2. starts the Spark session (and the JVM), then sets up ``SETUP_REPS``
   times — generate the seeded inputs, do the engine-side preparation —
   checking that every generation wrote byte-identical files;
   ``setup_s`` is the session start plus the median set-up;
3. runs the workload's untimed warm-up iterations;
4. runs timed iterations for ``--seconds``, checking every answer.
   With ``--trace 1`` the first half runs untraced and the second half
   records a span around each layer call; the difference of their
   median iteration times is the tracing overhead;
5. prints the metrics, and as its last line one JSON object:
   ``{"correct", "attempted", "failed", "metrics"}``.

All files go under ``perfbench/_work`` (removed at the end); spans of a
traced run are written to ``perfbench/_out``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "atlas_upscaling_dask_spark"
SETUP_REPS = 3


def configure_env(work: str) -> dict:
    """Size Spark to this machine and keep every file inside ``work``."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    heap = f"{mem_kb // 16 // 1024}m"
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        # a sixteenth of physical RAM (~1 GB on 16 GB) holds these inputs
        "SPARK_GRAFT_DRIVER_MEM": heap,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "SPARK_LOCAL_DIRS": local,
        # the Spark driver's heap starts at its cap: how far the collector
        # grows it would otherwise follow the host's speed, and with it the
        # resident size and the time spent collecting
        "PYSPARK_SUBMIT_ARGS": (
            f"--conf spark.driver.extraJavaOptions=-Xms{heap} pyspark-shell"
        ),
    }
    os.environ.update(env)
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    return env


class Harness:
    """Session lifecycle, operation accounting and measurement state."""

    def __init__(self):
        from probes import Tracer

        self.tracer = Tracer(False)
        self.spark = None
        self.counters = None
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.failures: list[str] = []
        self.session_start = 0.0

    def start_session(self) -> None:
        """Start the Spark session, and with it the JVM."""
        from atlas_upscaling_dask_spark.session import get_spark

        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            self.spark = get_spark("perfbench")
        self.session_start = time.perf_counter() - t0

    def op(self, kind: str, run, verify) -> float | None:
        """Run one engine operation; returns its seconds, or None if it
        failed.  ``verify`` checks the result outside the timed region.
        A failure is recorded with its message and the run continues."""
        from check import Mismatch

        self.attempted += 1
        counted = self.counters.op(kind) if self.counters else contextlib.nullcontext()
        try:
            with counted:
                t0 = time.perf_counter()
                result = run()
                dt = time.perf_counter() - t0
            verify(result)
            return dt
        except Mismatch as e:
            self.correct = False
            self._fail(kind, f"wrong answer: {e}")
        except Exception as e:  # an engine failure must not end the run
            self._fail(kind, f"{type(e).__name__}: {e}")
            traceback.print_exc(file=sys.stderr)
        return None

    def check(self, kind: str, verify) -> None:
        """Run an untimed check of an operation already counted."""
        from check import Mismatch

        try:
            verify()
        except Mismatch as e:
            self.correct = False
            self._fail(kind, f"wrong answer: {e}")

    def _fail(self, kind: str, msg: str) -> None:
        self.failed += 1
        self.failures.append(f"{kind}: {msg}")
        print(f"perfbench: FAILED {kind}: {msg}", file=sys.stderr)

    def stop(self) -> None:
        """Stop Spark, the JVM and every worker it started, and wait."""
        from probes import children_map
        from pyspark import SparkContext

        kids = children_map()
        mine, todo = set(), [os.getpid()]
        while todo:
            for c in kids.get(todo.pop(), ()):
                mine.add(c)
                todo.append(c)
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=10)
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.monotonic() + 20
        while mine:
            mine = {p for p in mine if os.path.exists(f"/proc/{p}")}
            if not mine:
                break
            if time.monotonic() > deadline:
                for p in mine:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
                deadline = time.monotonic() + 5
            time.sleep(0.1)


def machine_ref_ms() -> float:
    """Median time of a fixed single-threaded Python loop.

    Printed with each result, not used in any metric: on a shared host
    the machine's own speed drifts, and this shows by how much."""
    times = []
    for _ in range(7):
        t0 = time.perf_counter()
        sum(range(2_000_000))
        times.append(time.perf_counter() - t0)
    return statistics.median(times) * 1e3


def stolen_cpu_s() -> float:
    """CPU seconds the hypervisor gave to others while this machine's
    CPUs had work (``steal`` in /proc/stat).  Printed with each result,
    not used in any metric, like ``machine_ref_ms``."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def loop(h: Harness, wl, seconds: float, traced: bool) -> list[dict]:
    """Closed loop: run iterations back to back for ``seconds`` (at least one)."""
    h.tracer.enabled = traced
    records = []
    end = time.perf_counter() + seconds
    while not records or time.perf_counter() < end:
        h.tracer.iteration += 1
        records.append(wl.step(h, traced))
    h.tracer.enabled = False
    return records


def iteration_wall(records: list[dict]) -> float:
    """Median wall time of the iterations whose every operation succeeded."""
    ok = [sum(r.values()) for r in records if all(v is not None for v in r.values())]
    return statistics.median(ok) if ok else 0.0


def spark_counts(h: Harness, wl) -> dict:
    """Counts for one canonical iteration: per operation kind the median
    over the measured operations, summed over the workload's kinds.
    ``spark.tasks_failed`` is the total over all measured operations."""
    h.counters.collect()
    out = {}
    for key in ("jobs", "stages", "tasks", "exchanges"):
        total = 0
        for kind in wl.KINDS:
            vals = [r[key] for r in h.counters.ops if r["kind"] == kind]
            total += statistics.median(vals) if vals else 0
        out[f"spark.{key}"] = total
    out["spark.tasks_failed"] = sum(r["tasks_failed"] for r in h.counters.ops)
    return out


def run(args) -> tuple[Harness, dict, dict]:
    import gen
    from probes import MemorySampler, SparkCounters
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload]()
    inputs = os.path.join(args.work, "inputs")
    h = Harness()
    info: dict = {"machine_ref_ms": round(machine_ref_ms(), 2)}
    phases = [("start", time.perf_counter())]
    with MemorySampler() as mem:
        try:
            setups, digests = [], []
            h.tracer.enabled = args.trace
            h.start_session()
            for _ in range(SETUP_REPS):
                t0 = time.perf_counter()
                shutil.rmtree(inputs, ignore_errors=True)
                os.makedirs(inputs)
                digests.append(gen.files_digest(wl.generate(inputs, args.seed)))
                wl.prepare(h)
                setups.append(time.perf_counter() - t0)
                h.check("set-up", wl.check_setup)
            h.tracer.enabled = False
            if len(set(digests)) != 1:
                raise RuntimeError(f"same seed, different inputs: {digests}")
            info["input_sha256"] = digests[0]
            phases.append(("setup", time.perf_counter()))
            for _ in range(wl.WARMUP):
                wl.step(h, False)
            phases.append(("warmup", time.perf_counter()))
            stolen = stolen_cpu_s()
            if args.trace:
                h.counters = SparkCounters(h.spark)
                plain = loop(h, wl, args.seconds / 2, False)
                counts = spark_counts(h, wl)
                h.counters = None
                traced = loop(h, wl, args.seconds / 2, True)
            else:
                plain = loop(h, wl, args.seconds, False)
            phases.append(("measure", time.perf_counter()))
            info["stolen_cpu_s_measure"] = round(stolen_cpu_s() - stolen, 2)
        finally:
            h.stop()
    phases.append(("stop", time.perf_counter()))
    info["phases_s"] = {b[0]: round(b[1] - a[1], 2) for a, b in zip(phases, phases[1:])}
    info["peak_mb_by_process"] = {k: round(v / 2**20) for k, v in mem.at_peak.items()}
    wall = iteration_wall(plain)
    info.update(
        iterations=len(plain),
        iteration_s=[round(sum(v for v in r.values() if v), 3) for r in plain],
        op_median_s={
            k: round(statistics.median(v), 4)
            for k in wl.KINDS
            if (v := [r[k] for r in plain if r.get(k) is not None])
        },
        session_start_s=round(h.session_start, 4),
        setup_reps_s=[round(x, 4) for x in setups],
        failures=h.failures,
    )
    values = {
        "setup_s": h.session_start + statistics.median(setups),
        "wall_s": wall,
        "peak_rss_mb": mem.peak / 2**20,
        "ops_failed_frac": h.failed / max(h.attempted, 1),
        **wl.metrics(plain),
    }
    if not args.trace:
        return h, values, info

    t = h.tracer
    values["session.start_s"] = h.session_start
    values["trace.overhead_s"] = iteration_wall(traced) - wall
    for name, xs in t.self_times().items():
        values[f"{name}_s"] = statistics.median(xs)
    for name, v in {**wl.layer_counts, **counts}.items():
        values[name] = statistics.median(v) if isinstance(v, list) else v
    info["traced_iterations"] = len(traced)
    os.makedirs(os.path.join(HERE, "_out"), exist_ok=True)
    with open(os.path.join(HERE, "_out", f"trace-{wl.name}-{args.seed}.json"), "w") as fh:
        json.dump(t.spans, fh)
    return h, values, info


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: {PACKAGE}/ not found under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    args.work = os.path.join(HERE, "_work")
    shutil.rmtree(args.work, ignore_errors=True)
    env = configure_env(args.work)
    try:
        h, values, info = run(args)
    finally:
        shutil.rmtree(args.work, ignore_errors=True)

    # the metric names and units are the ones BENCHMARK.json declares;
    # a per-layer metric of a layer this workload does not call reads 0
    declared = spec["per_layer" if args.trace else "end_to_end"]
    print(f"perfbench: workload={args.workload} seed={args.seed} trace={args.trace}")
    print(f"perfbench: env {json.dumps(env)}")
    for k, v in info.items():
        print(f"perfbench: {k} = {v}")
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    for k, v in values.items():
        print(f"perfbench: {k} = {v:.6g} {units.get(k, '')}")
    metrics = {}
    for m in declared:
        if m["name"] not in values and not args.trace:
            raise KeyError(f"end-to-end metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": values.get(m["name"], 0), "unit": m["unit"]}
    result = {
        "correct": h.correct,
        "attempted": h.attempted,
        "failed": h.failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
