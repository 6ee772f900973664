"""The repository benchmark: one workload per process, a closed loop
sized for this host's cores.

    python3 perfbench/run.py --workload connector --seed 1 --seconds 3 --trace 0

Workloads: ``connector`` (CLI sync and Spark sync of a paginated HTTP
API) and ``curation`` (dedup, similarity and entity-resolution ops).
Set-up starts the session and its warm-ups, the fixture and the shared
caches. One first pass runs every op once in the fresh process; warm
passes then run every op again, in a seed-shuffled order, starting
until ``--seconds`` have passed and at least four times (with
``--trace 1`` alternating untraced and traced). Outputs are
checked outside the timed sections: connector ops after every
execution, registry ops on their last frame.

Stdout ends with one JSON line: ``correct``, ``attempted`` and
``failed`` count op executions; ``metrics`` holds the end-to-end
metrics of BENCHMARK.json, or with ``--trace 1`` its per-layer
metrics. The lines before it restate each metric with its unit and
sample count. Tables are generated once under ``.perfbench/data``;
traced runs write their spans to ``.perfbench/traces``. See README.md
in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import sys
import tempfile
import threading
import time
from dataclasses import dataclass

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Import the benchmark as the ``perfbench`` package, never its modules
# as top-level names (``spans`` or ``data`` could shadow a library).
sys.path[0] = ROOT
# workload -> scale factor of its tables
WORKLOADS = {"connector": 0.05, "curation": 0.1}
WARM_PASSES = 4


# JVM thread name prefix -> index in ProcessTree.cpu_s: the JIT
# compilers ("C1 CompilerThre", "C2 CompilerThre") and the G1 collector
# and VM threads ("GC Thread#0", "G1 Conc#0", "VM Thread", ...).
_JVM_THREADS = {"C1 ": 1, "C2 ": 1, "GC ": 2, "G1 ": 2, "VM ": 2}


def _comm(path: str) -> str:
    try:
        with open(f"{path}/comm") as f:
            return f.read().rstrip("\n")
    except OSError:
        return ""


class ProcessTree:
    """This process and its descendants (the Spark JVM and its Python
    workers), without the fixture's subtree."""

    def __init__(self):
        self.exclude: set[int] = set()

    def _read(self, pid: int, name: str) -> list[str] | None:
        try:
            with open(f"/proc/{pid}/{name}") as f:
                text = f.read()
        except OSError:
            return None
        return text.rsplit(")", 1)[-1].split()

    def pids(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                stat = self._read(int(entry), "stat")
                if stat is not None:
                    children.setdefault(int(stat[1]), []).append(int(entry))
        out, todo = [], [os.getpid()]
        while todo:
            pid = todo.pop()
            if pid not in self.exclude:
                out.append(pid)
                todo.extend(children.get(pid, []))
        return out

    def cpu_s(self) -> tuple[float, float, float]:
        """User plus system CPU seconds of the live processes and of
        the children they have reaped, and the part of them spent in
        the JVM's JIT compiler threads and in its collector and VM
        threads: (total, jit, gc)."""
        ticks = [0, 0, 0]
        for pid in self.pids():
            stat = self._read(pid, "stat")
            if stat is None:
                continue
            ticks[0] += sum(int(x) for x in stat[11:15])
            try:
                tids = os.listdir(f"/proc/{pid}/task") if _comm(f"/proc/{pid}") == "java" else []
            except OSError:
                tids = []
            for tid in tids:
                kind = _JVM_THREADS.get(_comm(f"/proc/{pid}/task/{tid}")[:3])
                stat = self._read(pid, f"task/{tid}/stat") if kind else None
                if stat is not None:
                    ticks[kind] += int(stat[11]) + int(stat[12])
        return tuple(t / os.sysconf("SC_CLK_TCK") for t in ticks)

    def rss_bytes(self) -> int:
        pages = 0
        for pid in self.pids():
            statm = self._read(pid, "statm")
            if statm is not None:
                pages += int(statm[1])
        return pages * os.sysconf("SC_PAGE_SIZE")


class PeakRss:
    """Peak resident memory of a process tree, sampled every second."""

    def __init__(self, tree: ProcessTree):
        self.tree = tree
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, self.tree.rss_bytes())
            if self._stop.wait(1.0):
                return

    def stop(self) -> float:
        """Peak in MiB."""
        self._stop.set()
        self._thread.join()
        return self.peak / (1 << 20)


def _cpu_ticks() -> list[int]:
    """Host-wide CPU time counters (user, nice, system, idle, iowait,
    irq, softirq, steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _foreign_jvms() -> int:
    """Java processes on the host at start, which this run did not
    start (context only: runs are never retried or dropped)."""
    count = 0
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/cmdline", "rb") as f:
                argv0 = f.read().split(b"\0", 1)[0]
        except OSError:
            continue
        count += os.path.basename(argv0) == b"java"
    return count


@dataclass
class Sample:
    index: int  # 0 is the first pass
    traced: bool
    op: str
    seconds: float
    split: tuple[float, float] | None  # (query function, noop write) for registry ops
    # CPU seconds of the process tree (fixture excluded) outside the
    # JVM's JIT and collector threads, and in each of those
    cpu: float
    jit: float
    gc: float


class Run:
    def __init__(self, args, cpus: int, tmp: str, tree: ProcessTree):
        self.args = args
        self.cpus = cpus
        self.tmp = tmp
        self.tree = tree
        self.rng = random.Random(args.seed)
        self.tracer = None
        if args.trace:
            from perfbench.spans import Tracer

            self.tracer = Tracer(f"{args.workload}-seed{args.seed}")
        # Executions whose outcome was checked (a raise counts as a
        # failed check), and the failed ones: (op, pass index, problem).
        self.attempted = 0
        self.failures: list[tuple[str, int, str]] = []
        self.ran: dict[str, int] = {}  # op -> pass index of its last execution
        self.samples: list[Sample] = []
        # warm passes: (traced, seconds)
        self.passes: list[tuple[bool, float]] = []
        self.layer: dict[str, float] = {}
        self.counters: list[dict[str, float]] = []
        self.traced_spans: list = []
        self.fixture = None
        self.spark = None

    def setup(self) -> None:
        from perfbench.data import ensure_tables
        from perfbench.spark_ops import WARM_PATHS, start_session

        # Making the inputs is the benchmark's work, not set-up.
        t0 = time.perf_counter()
        self.data_dir = ensure_tables(
            os.path.join(ROOT, ".perfbench", "data"), WORKLOADS[self.args.workload]
        )
        generate_s = time.perf_counter() - t0
        if self.args.workload == "connector":
            from perfbench.fixture import Fixture

            # loads its pages while the session starts
            self.fixture = Fixture(ROOT, self.data_dir, self.args.seed)
            self.tree.exclude.add(self.fixture.proc.pid)
        self.spark, start_s, warmup_s = start_session(
            self.cpus, self.tmp, WARM_PATHS[self.args.workload], self.tracer
        )
        self.layer["session.start_s"] = start_s
        self.layer["session.warmup_s"] = warmup_s
        if self.fixture is not None:
            from perfbench.connector import Connector

            self.fixture.wait_ready()
            self.runner = Connector(self.spark, self.fixture, self.data_dir, self.tmp, self.tracer)
        else:
            from perfbench.spark_ops import CURATION, RegistryOps, build_shared_inputs

            build_shared_inputs(self.spark, self.data_dir)
            self.runner = RegistryOps(self.spark, self.data_dir, CURATION, self.tracer)
        self.setup_s = time.perf_counter() - T_START - generate_s
        if self.tracer is not None:
            from perfbench.spark_ops import SqlCounters, streaming_listener

            self.sql = SqlCounters(self.spark)
            self.listener = streaming_listener(self.spark)

    def one_pass(self, index: int, traced: bool) -> float:
        total = 0.0
        ops = self.runner.ops
        # The first op of a fresh process pays one-time costs the others
        # then skip, so the first pass keeps one order on every seed.
        for op in ops if index == 0 else self.rng.sample(ops, len(ops)):
            cpu0 = self.tree.cpu_s()
            try:
                seconds = self.runner.run(op, traced)
            except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
                nan = float("nan")
                self.samples.append(Sample(index, traced, op, nan, None, nan, nan, nan))
                self._outcome(op, index, f"{type(e).__name__}: {e}")
                continue
            total += seconds
            cpu, jit, gc = (b - a for a, b in zip(cpu0, self.tree.cpu_s()))
            split = self.runner.split.get(op)
            self.samples.append(Sample(index, traced, op, seconds, split, cpu - jit - gc, jit, gc))
            self.ran[op] = index
            if self.runner.check_each_run:
                self._check(op, index)
        return total

    def _check(self, op: str, index: int) -> None:
        """Check the op's last execution (never inside a timed section)."""
        from perfbench.spans import span

        try:
            with span(self.tracer, "check", op=op):
                problem = self.runner.check(op)
        except Exception as e:  # noqa: BLE001 - a failed check is counted, not fatal
            problem = f"check raised {type(e).__name__}: {e}"
        self._outcome(op, index, problem)

    def _outcome(self, op: str, index: int, problem: str | None) -> None:
        self.attempted += 1
        if problem:
            self.failures.append((op, index, problem))

    def measure(self) -> None:
        tr = self.tracer
        self.first_pass_s = self.one_pass(0, tr is not None)
        if tr is not None:
            self.runner.layers.clear()
        # Every op runs at least WARM_PASSES times warm; ``pass_s`` sums
        # the ops' median times. Traced runs alternate untraced and
        # traced passes: passes speed up as the JIT warms, so the two
        # kinds interleave rather than one following the other.
        t0 = time.perf_counter()
        index = 1
        while index <= WARM_PASSES or time.perf_counter() - t0 < self.args.seconds:
            traced = tr is not None and index % 2 == 0
            if traced:
                self.sql.take()  # skip executions of untraced passes
                self.listener.recording = True
                first_span = len(tr.spans)
                with tr.span("pass", index=index):
                    seconds = self.one_pass(index, True)
                self.listener.recording = False
                self.traced_spans.extend(tr.spans[first_span:])
                self.counters.append(self.sql.take())
            else:
                seconds = self.one_pass(index, False)
            self.passes.append((traced, seconds))
            index += 1
        if tr is not None:
            self.layer.update(self.runner.extra_layers())

    def check(self) -> None:
        """Ops not checked after every execution: check each one's last
        execution now, after the timed passes."""
        if not self.runner.check_each_run:
            for op, index in self.ran.items():
                self._check(op, index)

    def close(self) -> None:
        if self.fixture is not None and self.fixture.url is not None:
            self.layer["fixture.cpu_s"] = self.fixture.cpu_s() - self.fixture.cpu_at_ready
            self.layer["fixture.requests"] = self.fixture.stats()["requests"]
        if self.fixture is not None:
            self.fixture.stop()
        if self.spark is not None:
            # Stop the Spark JVM too (and its Python workers with it),
            # and wait for it, instead of leaving it to exit after us.
            gateway = self.spark.sparkContext._gateway
            self.spark.stop()
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)

    def warm_passes(self, traced: bool | None = None) -> list[float]:
        return [s for t, s in self.passes if traced is None or t == traced]


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "go_integ_spark", "__init__.py")):
        print(f"perfbench: {ROOT} has no go_integ_spark package to measure", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    # A terminated run still stops the fixture and Spark and removes
    # its scratch directory (the ``finally`` blocks below).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cpus = len(os.sched_getaffinity(0))
    # get_spark sizes local mode from SPARK_GRAFT_CPUS (default 32).
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # Spark's Python workers unpickle package and benchmark objects.
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    # spark-submit's launcher JVM would leave an hsperfdata file in /tmp.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:+PerfDisableSharedMem"
    tmp = os.path.join(ROOT, ".perfbench", "tmp", f"{args.workload}-{os.getpid()}")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    context = {"cpus": cpus, "load1": os.getloadavg()[0], "foreign_jvms": _foreign_jvms()}
    ticks = _cpu_ticks()
    tree = ProcessTree()
    rss = PeakRss(tree)
    run = Run(args, cpus, tmp, tree)
    cwd = os.getcwd()
    os.chdir(tmp)  # whatever Spark leaves in its working directory goes too
    try:
        run.setup()
        try:
            run.measure()
            run.check()
        finally:
            run.close()
    finally:
        run.peak_rss_mb = rss.stop()
        os.chdir(cwd)
        shutil.rmtree(tmp, ignore_errors=True)

    from perfbench import metrics

    # Share of host CPU time stolen by the hypervisor during the run:
    # context for a slow run, like load1 and foreign JVMs at start.
    delta = [b - a for a, b in zip(ticks, _cpu_ticks())]
    context["steal_share"] = round(delta[7] / max(sum(delta), 1), 4)
    context.update({k: round(v, 3) for k, v in run.layer.items()})
    print(f"# {args.workload} seed={args.seed} {json.dumps(context)}")
    for op, index, problem in run.failures:
        print(f"# FAILED {op} (pass {index}): {problem}")
    attempted = run.attempted
    for op in run.runner.ops:
        first = [x.seconds for x in run.samples if x.op == op and x.index == 0]
        warm = [x.seconds for x in run.samples if x.op == op and x.index > 0]
        print(f"# op {op}: first {first[0] if first else float('nan'):.3f} s, "
              f"warm median {metrics.median(warm):.3f} s (n={len(warm)})")
    for field in ("cpu", "jit", "gc"):
        per_pass = [sum(getattr(x, field) for x in run.samples if x.index == i) for i in range(len(run.passes) + 1)]
        print(f"# {field} CPU s, first pass then warm passes: {[round(x, 2) for x in per_pass]}")
    print(f"# warm passes: {[round(x, 3) for x in run.warm_passes()]} s")
    e2e = metrics.end_to_end(run)
    e2e["failed_op_share"] = (len(run.failures) / max(attempted, 1), "ratio", attempted)
    for name, (value, unit, n) in e2e.items():
        print(f"# {name} = {value:.6g} {unit} (n={n})")
    if args.trace:
        values = metrics.per_layer(run, [m["name"] for m in spec["per_layer"]])
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        for name, value in values.items():
            print(f"# {name} = {value:.6g} {units[name]}")
        traces = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(traces, exist_ok=True)
        run.tracer.write(os.path.join(traces, f"{args.workload}-seed{args.seed}.json"))
        out = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
    else:
        out = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]} for m in spec["end_to_end"]}
    result = {
        "correct": not run.failures,
        "attempted": attempted,
        "failed": len(run.failures),
        "metrics": out,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
