"""Process, Spark and measurement plumbing shared by the workloads."""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from tracing import Tracer


def other_spark_jvms() -> list[int]:
    """Pids of running Spark JVMs.  Two local JVMs on one host contend
    for its cores and produce phantom 10-100x slowdowns, so a run
    refuses to start beside one."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit() or int(entry) == os.getpid():
            continue
        try:
            with open(f"/proc/{entry}/cmdline", "rb") as f:
                argv = f.read().split(b"\0")
        except OSError:
            continue
        if argv and argv[0].endswith(b"java") and any(b"org.apache.spark" in a for a in argv):
            pids.append(int(entry))
    return pids


def host_cpus() -> int:
    """What ``nproc`` prints: the cores this process may run on."""
    return len(os.sched_getaffinity(0))


def configure_env(workdir: str) -> None:
    """Pin Spark's core count to the host and keep every scratch file
    (shuffle, block manager, JVM and Python temp files) in ``workdir``."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(host_cpus())
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads '
        '-XX:-UseDynamicNumberOfGCThreads" '
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def start_spark(app: str):
    from chromem_go_spark.session import get_spark

    spark = get_spark(app)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session and wait until the JVM it launched has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is None:
        return
    if proc.stdin:
        proc.stdin.close()  # the gateway server exits on stdin EOF
    try:
        proc.wait(timeout)
    except Exception:
        proc.kill()
        proc.wait(timeout)


def tree_cpu_s() -> float:
    """CPU seconds (user + system, own and reaped children) used so far
    by this process and its descendants: the client, the Spark JVM and
    its Python workers, less the JVM's own housekeeping threads (JIT
    compiler, garbage collector, code sweeper).  Time the host hands to
    other tenants (steal) and time spent waiting are not counted, so a
    busy shared host moves this far less than wall time.  JIT compilation
    is the JVM warming up, not an op's work: on these ops it was over half
    the JVM's CPU, decaying op by op.  The collector runs when the heap
    fills, not when an op allocates, and whether G1 starts a concurrent
    cycle at all differed between runs of the same input."""
    parent, ticks, jvms = defaultdict(list), {}, set()
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                head, rest = f.read().rsplit(")", 1)
        except OSError:  # exited meanwhile
            continue
        fields, pid = rest.split(), int(entry)
        parent[int(fields[1])].append(pid)
        ticks[pid] = sum(int(x) for x in fields[11:15])
        if head.endswith("(java"):
            jvms.add(pid)
    total, stack = 0, [os.getpid()]
    while stack:
        pid = stack.pop()
        total += ticks.get(pid, 0) - (_housekeeping_ticks(pid) if pid in jvms else 0)
        stack += parent.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


# thread names (``comm``, 15 characters at most) of the JVM's JIT
# compiler, garbage collector and code-cache sweeper threads
HOUSEKEEPING = ("CompilerThre", "GC Thread", "G1 ", "Sweeper thread")


def _housekeeping_ticks(pid: int) -> int:
    """CPU ticks of a JVM's housekeeping threads (``configure_env`` keeps
    them alive for the whole run, so none of their time goes unseen)."""
    total = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if not any(h in f.read() for h in HOUSEKEEPING):
                    continue
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                total += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:13])
        except OSError:  # exited meanwhile
            continue
    return total


GATHER_ELEMS, GATHER_READS = 32_000_000, 4_000_000  # a 128 MB array, 4M random reads
REF_GATHER_S = 0.065  # the gather's typical CPU seconds on the 4-core Xeon VM it was tuned on
# The ops' CPU moves less than the gather's: regressing log op CPU on log
# gather CPU over 39 runs gave slopes of 0.71-1.24 per op kind, and 0.8
# left the smallest spread across the sets of runs.
ELASTICITY = 0.8


class HostSpeed:
    """How fast the shared host runs memory-bound work right now.

    Other tenants' load stretches every CPU second of the JVM's work
    (contended caches and memory bandwidth): the same ops took up to 1.5x
    the CPU in runs a minute apart.  A fixed random gather from an array
    far larger than any cache slows with them: over ten runs its median
    CPU time correlated 0.87-0.94 with that of the select and LSH passes.
    ``scale()`` turns CPU seconds measured in this run into reference CPU
    seconds: about what the work would take on a host where the gather
    takes ``REF_GATHER_S``."""

    def __init__(self):
        import numpy as np

        self.arr = np.arange(GATHER_ELEMS, dtype=np.float32)
        self.idx = np.random.default_rng(0).integers(0, GATHER_ELEMS, GATHER_READS)
        self.samples: list[float] = []

    def sample(self, reps: int = 3) -> None:
        """Time the gather ``reps`` times, in this thread's CPU seconds."""
        for _ in range(reps):
            t0 = time.thread_time()
            self.arr[self.idx].sum()
            self.samples.append(time.thread_time() - t0)

    def scale(self, start: int = 0, end: int | None = None) -> float:
        """The factor for CPU seconds measured while samples
        ``start:end`` were taken."""
        return (REF_GATHER_S / p50(self.samples[start:end])) ** ELASTICITY


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def dir_files(path: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) of every file under ``path``."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def created_bytes(before: dict, after: dict) -> int:
    """Bytes of files that are new or rewritten between two listings."""
    return sum(sz for p, (sz, mt) in after.items() if before.get(p) != (sz, mt))


def arrow_bytes(df) -> int:
    """In-memory Arrow size of a DataFrame's rows: the bytes a user
    reads back, the denominator of write and space amplification."""
    return int(df.toArrow().nbytes)


def p50(xs) -> float:
    return float(statistics.median(xs)) if xs else float("nan")


def rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


@dataclass
class Ctx:
    """What a workload gets: the session, the tracer, the timed samples
    and the log of failed output checks."""

    spark: object
    tracer: Tracer
    errors: list = field(default_factory=list)
    samples: list = field(default_factory=list)  # [(kind, wall s, CPU s)]

    @contextmanager
    def measure(self, kind: str, span: str):
        """Time one call the workload exists to measure, in wall and CPU
        seconds, as a sample of ``kind`` inside the trace span ``span``."""
        cpu0 = tree_cpu_s()
        with self.tracer.span(span):
            t0 = time.perf_counter()
            yield
            wall = time.perf_counter() - t0
        self.samples.append((kind, wall, tree_cpu_s() - cpu0))

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.errors.append(what)
            log(f"check failed: {what}")
        return ok
