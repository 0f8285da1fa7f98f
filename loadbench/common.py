"""Shared plumbing for the workloads: launch environment, the program's
Spark session, timing statistics, process-tree memory and CPU, and the
result line."""

from __future__ import annotations

import http.client
import json
import os
import statistics
import sys
import threading
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.join(ROOT, "loadbench")
WORK = os.path.join(ROOT, ".bench_work")

#: heap of the program's JVM: Spark's own default. The package default,
#: 16g, does not fit a 15 GB host, and a heap far above what the
#: workloads use lets G1 grow it by a different amount in every run
DRIVER_MEMORY = "1g"


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def task_threads() -> int:
    """Spark task threads, the N of the master ``local[N]``: two, or
    one on a one-CPU host. The JVM's JIT and GC threads, the service's
    threads and the client run beside them, so on a host of a few CPUs
    a thread per CPU makes the ops queue for the CPU."""
    return min(2, len(os.sched_getaffinity(0)))


def prepare_environment(run_dir: str) -> None:
    """Launch environment for the program: every path it writes to is
    inside the checkout, Python workers can import the package from any
    working directory, and the JVM gets a heap that fits the host."""
    local = os.path.join(run_dir, "spark-local")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    env = os.environ
    env["SPARK_GRAFT_CPUS"] = str(task_threads())
    env["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    env["SPARK_LOCAL_DIRS"] = local
    env["TMPDIR"] = tmp
    # the JVM spark-submit starts first to build the driver's command line
    env["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH", "")) if p
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_spark(run_dir: str, traced: bool):
    """The program's shared session, built the way the service builds
    it (session.get_spark) with the launch settings above."""
    from scratchdb_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    overrides = {
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        ),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        # job/stage infos are read back by tag at the end of the run
        overrides["spark.ui.retainedJobs"] = "100000"
        overrides["spark.ui.retainedStages"] = "100000"
    spark = get_spark("loadbench", **overrides)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# -- statistics ------------------------------------------------------------


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile, p in [0, 100]."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n: int) -> float:
    """The highest percentile with at least ten samples beyond it, and
    never below the median."""
    return max(50.0, 100.0 * (1.0 - 10.0 / n))


def summarize(name: str, passes: list[list[tuple[str, float, float]]],
              first_timed: int) -> dict:
    """``passes`` holds the (op kind, wall ms, CPU ms) of every op, pass
    by pass; the first pass is the cold pass and passes from
    ``first_timed`` on are timed. CPU is that of the program's whole
    process tree while the op ran.

    The per-op figures are the median of each op kind over the timed
    passes, averaged over the kinds. Every pass holds the same kinds,
    so this weighs each kind the same in every run, where the median of
    all ops falls on whichever kinds happen to sit in the middle.

    Logs the median wall time of each pass (the cold pass and the
    warm-up included) and of each quarter of the timed phase (the drift
    log), each kind's medians, and the wall-time tail: the highest
    percentile with at least ten timed samples beyond it, with the
    sample count."""
    timed = [op for ops in passes[first_timed:] for op in ops]
    lat = [ms for _k, ms, _c in timed]
    by_kind: dict[str, list[tuple[float, float]]] = {}
    for kind, ms, cpu in timed:
        by_kind.setdefault(kind, []).append((ms, cpu))
    wall = {k: statistics.median(ms for ms, _c in v)
            for k, v in sorted(by_kind.items())}
    cpu = {k: statistics.median(c for _ms, c in v)
           for k, v in sorted(by_kind.items())}
    facts = {
        "cold_pass_s": sum(ms for _k, ms, _c in passes[0]) / 1000.0,
        "cold_pass_cpu_s": sum(c for _k, _ms, c in passes[0]) / 1000.0,
        "kind_p50_ms": statistics.mean(wall.values()),
        "cpu_ms_per_op": statistics.mean(cpu.values()),
        "ops_per_s": len(lat) * 1000.0 / sum(lat),
    }
    p = tail_percentile(len(lat))
    q = max(1, len(lat) // 4)
    quarters = [round(statistics.median(lat[i * q:(i + 1) * q]), 1)
                for i in range(min(4, len(lat) // q))]
    pass_medians = [round(statistics.median(ms for _k, ms, _c in ops), 1)
                    for ops in passes]
    log(f"[{name}] wall: pass medians (cold, warm-up, timed...)="
        f"{pass_medians} timed quarter medians={quarters}")
    log(f"[{name}] wall: n={len(lat)} kinds={len(wall)} "
        f"kind_p50={facts['kind_p50_ms']:.1f}ms "
        f"p50={percentile(lat, 50):.1f}ms "
        f"tail=p{p:.1f}={percentile(lat, p):.1f}ms "
        f"ops/s={facts['ops_per_s']:.3f} "
        f"cold pass={facts['cold_pass_s']:.2f}s")
    log(f"[{name}] kind medians, wall/CPU ms: " + ", ".join(
        f"{k}={wall[k]:.0f}/{cpu[k]:.0f}" for k in wall))
    return facts


# -- process tree ----------------------------------------------------------


def _children(pid: int) -> list[int]:
    """Children of every thread of ``pid``: the JVM starts the Python
    workers' daemon from one of its task threads."""
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(x) for x in f.read().split()]
        except OSError:
            pass
    return out


def process_tree(pid: int | None = None) -> list[int]:
    todo = [pid or os.getpid()]
    seen = []
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(_children(p))
    return seen


def tree_rss(pids: list[int]) -> dict[int, int]:
    """Resident bytes of each of ``pids`` that has run for at least
    0.1 s. A process the JVM has just forked and not yet exec'd shares
    the JVM's pages, and would count them twice."""
    page = os.sysconf("SC_PAGE_SIZE")
    tick = os.sysconf("SC_CLK_TCK")
    with open("/proc/uptime") as f:
        now = float(f.read().split()[0])
    out = {}
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as f:
                started = int(f.read().rsplit(")", 1)[1].split()[19]) / tick
            with open(f"/proc/{p}/statm") as f:
                rss = int(f.read().split()[1]) * page
        except OSError:
            continue
        if now - started >= 0.1:
            out[p] = rss
    return out


def tree_cpu_seconds() -> float:
    """User+system CPU of the live process tree, reaped children
    included."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in process_tree():
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])
        except OSError:
            pass
    return total / tick


class RssSampler:
    """Peak resident memory of the process tree (JVM and Python workers
    included), sampled every 50 ms on a daemon thread."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.peak = 0
        self.at_peak: dict[int, int] = {}
        self._n = 0
        self._pids: list[int] = []
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        # the tree is walked once a second: the walk reads every JVM
        # thread, and its CPU counts in the process tree's
        if self._n % 20 == 0:
            self._pids = process_tree()
        self._n += 1
        rss = tree_rss(self._pids)
        total = sum(rss.values())
        if total > self.peak:
            self.peak, self.at_peak = total, rss

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()
        self._n = 0
        self._sample()

    def describe(self) -> str:
        me = os.getpid()
        own = self.at_peak.get(me, 0)
        rest = sorted((v for p, v in self.at_peak.items() if p != me),
                      reverse=True)
        mb = [round(v / 2**20) for v in rest]
        return (f"peak rss {self.peak / 2**20:.0f} MB: this process "
                f"{own / 2**20:.0f} MB, children {mb}")


# -- HTTP client -----------------------------------------------------------


def http_request(port: int, method: str, path: str,
                 body: bytes | None = None,
                 headers: dict | None = None) -> tuple[int, bytes]:
    """One request on its own connection: the service speaks HTTP/1.0
    and closes the connection after every reply."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request(method, path, body=body, headers=headers or {})
        r = conn.getresponse()
        return r.status, r.read()
    finally:
        conn.close()


# -- result ----------------------------------------------------------------


@dataclass
class Outcome:
    """What a workload hands back to run.py."""

    attempted: int = 0
    failed: int = 0
    #: failed ops that are not isolation probes
    wrong: int = 0
    metrics: dict = field(default_factory=dict)
    notes: list = field(default_factory=list)

    def record(self, ok: bool, probe: bool = False, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if not probe:
                self.wrong += 1
                if len(self.notes) < 20:
                    self.notes.append(what)


def result_line(outcome: Outcome, units: dict[str, str]) -> str:
    return json.dumps(
        {
            "correct": outcome.wrong == 0,
            "attempted": outcome.attempted,
            "failed": outcome.failed,
            "metrics": {
                k: {"value": outcome.metrics[k], "unit": units[k]}
                for k in units
            },
        }
    )
