"""Pass loop shared by every workload: output checks, timed passes, isolation.

An operation is one call into a layer of the program. Each run checks every
operation's output once, in the first pass after set-up, and times only the
operations whose output passed. An operation that raises or fails its check
counts as failed and contributes no number.
"""

from __future__ import annotations

import itertools
import os
import signal
import statistics
import subprocess
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from perfbench.tracing import Tracer


@dataclass
class Op:
    """One timed call into the program.

    ``run`` computes the operation's complete result and discards it;
    ``check`` computes it again and returns the list of problems found
    (empty when the output is correct).
    """

    name: str
    layer: str
    run: Callable[[object], None]
    check: Callable[[object], list[str]]


@dataclass
class Tally:
    attempted: int = 0
    failed: int = 0
    problems: dict[str, list[str]] = field(default_factory=dict)
    samples: dict[str, list[float]] = field(default_factory=dict)
    pass_s: list[float] = field(default_factory=list)

    def fail(self, op: Op, problem: str) -> None:
        self.failed += 1
        self.problems.setdefault(op.name, []).append(problem)

    def absorb(self, other: Tally) -> None:
        """Add another tally's operations and failures (not its samples)."""
        self.attempted += other.attempted
        self.failed += other.failed
        for name, problems in other.problems.items():
            self.problems.setdefault(name, []).extend(problems)


def isolate(spark) -> tuple[int, int]:
    """Start a pass from nothing the previous pass left behind: release the
    scoped and shared persists, and drop the memory-sink tables the
    streaming queries register. Returns (sink tables dropped, persisted
    RDDs left after the release)."""
    from eventstream_benchmark_spark.operators._cache import (
        release_scoped_persists,
        release_shared_persists,
    )

    release_scoped_persists()
    release_shared_persists()
    sinks = [t.name for t in spark.catalog.listTables() if t.name.startswith("esb_sink_")]
    for name in sinks:
        spark.catalog.dropTempView(name)
    return len(sinks), len(spark.sparkContext._jsc.getPersistentRDDs())


def check_pass(spark, ops: list[Op], tally: Tally, tracer: Tracer, log) -> list[Op]:
    """Check every operation once; return those whose output is correct."""
    isolate(spark)
    good = []
    for op in ops:
        tally.attempted += 1
        try:
            with tracer.span(op, "check") as span:
                problems = op.check(spark)
        except Exception as exc:  # a raising operation is a failed operation
            problems = [f"raised {type(exc).__name__}: {str(exc).splitlines()[0][:300]}"]
        for p in problems:
            tally.fail(op, p)
        verdict = "PASS" if not problems else "FAIL " + "; ".join(problems)
        log(f"check {op.layer}.{op.name}: {verdict} ({span.seconds:.3f} s)")
        if not problems:
            good.append(op)
    return good


def timed_passes(spark, ops: list[Op], seconds: float, tally: Tally, tracer: Tracer,
                 min_passes: int = 1) -> None:
    """Run whole passes over ``ops`` until ``seconds`` have gone and at least
    ``min_passes`` passes ran. A pass's time is the sum of its operations'
    times."""
    start = time.perf_counter()
    dead: set[str] = set()
    for n_pass in itertools.count(1):
        isolate(spark)
        total = 0.0
        for op in ops:
            if op.name in dead:
                continue
            tally.attempted += 1
            try:
                with tracer.span(op, f"pass{len(tally.pass_s)}") as span:
                    op.run(spark)
            except Exception as exc:
                tally.fail(op, f"raised {type(exc).__name__}")
                dead.add(op.name)
                continue
            tally.samples.setdefault(op.name, []).append(span.seconds)
            total += span.seconds
        tally.pass_s.append(total)
        if n_pass >= min_passes and time.perf_counter() - start >= seconds:
            break
    # an operation that raised in any pass contributes no number at all
    for name in dead:
        tally.samples.pop(name, None)


def end_to_end(tally: Tally) -> dict[str, float]:
    """pass_s and op_geomean_s from the samples of operations that never failed.
    A pass's time then counts only those operations, so a failed operation
    is absent from the numbers instead of shortening them."""
    ok = {n: s for n, s in tally.samples.items() if n not in tally.problems}
    if not ok:
        return {}
    n_pass = min(len(s) for s in ok.values())
    passes = [sum(s[i] for s in ok.values()) for i in range(n_pass)]
    return {
        "pass_s": statistics.median(passes),
        # a geometric mean weighs a light operation's slowdown as much as a
        # heavy one's, like a median, but does not jump between operations
        "op_geomean_s": statistics.geometric_mean(x for s in ok.values() for x in s),
    }


def _process_tree(root: int) -> list[int]:
    parents: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        parents.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(parents.get(pid, []))
    return out


def peak_rss_by_process() -> dict[str, float]:
    """Resident-memory high-water mark (VmHWM) in MB of this process and
    every process below it -- the JVM and the Python workers -- summed per
    executable name."""
    out: dict[str, float] = {}
    for pid in _process_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            name = fields["Name"].strip()
            out[name] = out.get(name, 0.0) + int(fields["VmHWM"].split()[0]) / 1024.0
    return out


def peak_rss_mb() -> float:
    return sum(peak_rss_by_process().values())


def adopt_orphans() -> bool:
    """Make this process the reaper of every process below it (Linux's
    PR_SET_CHILD_SUBREAPER), so that the JVM's Python workers and helper
    shells stay in this process's tree, and are waited for here, when their
    parent ends first. False if refused."""
    import ctypes

    try:
        return ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0) == 0
    except (OSError, AttributeError):
        return False


def _reap() -> None:
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass


def end_processes(timeout: float = 30.0) -> None:
    """Shut down the JVM, which exits when its stdin closes, and wait until
    every process below this one -- the JVM and its Python workers -- has
    ended and been reaped, killing those still running after ``timeout``
    seconds.

    The py4j connections are not closed from this side: closing a socket
    stream that a callback thread (the streaming listener's) is blocked
    reading waits forever for that thread's buffer lock. The JVM's exit
    ends those threads."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        SparkContext._gateway = SparkContext._jvm = None
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
    deadline = time.monotonic() + timeout
    killed = False
    while True:
        _reap()
        rest = _process_tree(os.getpid())[1:]
        if not rest:
            return
        if time.monotonic() > deadline:
            if killed:
                return
            for pid in rest:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            killed, deadline = True, time.monotonic() + 5.0
        time.sleep(0.1)


def reset_peak_rss() -> bool:
    """Reset every process's VmHWM to its current RSS; False if refused."""
    ok = True
    for pid in _process_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            ok = False
    return ok
