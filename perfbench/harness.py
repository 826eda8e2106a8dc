"""Benchmark plumbing: the pinned Spark session, the machine record, the
steal-adjusted stopwatch, the peak-memory sampler, output digests and
comparisons, and the in-memory span tracer."""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import platform
import tempfile
import threading
import time

#: one Spark JVM per benchmark process; its heap is sized to fit the machine
HEAP_CAP_GB = 2


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def ram_gb() -> float:
    with open("/proc/meminfo") as f:
        kb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
    return kb / 2**20


def heap_size() -> str:
    """A quarter of the machine's RAM, capped, whole gigabytes."""
    return f"{max(1, min(HEAP_CAP_GB, int(ram_gb() // 4)))}g"


def cpu_jiffies() -> tuple[int, int]:
    """(busy, steal) clock ticks of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = v
    return user + nice + system + irq + softirq, steal


class Stopwatch:
    """Wall time of an interval, raw and steal-adjusted.

    On a virtual machine the hypervisor can withhold CPU time the guest
    asked for (steal time), which stretches every wall time by a factor that
    depends on other tenants, not on this program. `stop` returns the raw
    wall time and the wall time scaled by the share of demanded CPU time the
    guest was granted in the interval, busy / (busy + steal): the first-order
    estimate of the wall time on an uncontended machine. The two are equal
    when nothing is stolen. After `stop`, `busy_s` and `steal_s` hold the
    CPU seconds the interval used and lost."""

    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        self.c0 = cpu_jiffies()
        self.busy_s = self.steal_s = 0.0

    def stop(self) -> tuple[float, float]:
        raw = time.perf_counter() - self.t0
        busy, steal = (b - a for a, b in zip(self.c0, cpu_jiffies()))
        tick = os.sysconf("SC_CLK_TCK")
        self.busy_s, self.steal_s = busy / tick, steal / tick
        return raw, raw * busy / (busy + steal) if busy + steal > 0 else raw


def start_session(root: str, work_dir: str):
    """SparkSession on local[nproc] with the package importable from the
    Python workers whatever the working directory, no console progress bars
    and every scratch and temporary file under `work_dir`."""
    from pytorch_ie_spark.session import get_spark

    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    local_dir, tmp_dir = os.path.join(work_dir, "spark-local"), os.path.join(work_dir, "tmp")
    for d in (local_dir, tmp_dir):
        os.makedirs(d, exist_ok=True)
    # the gateway handshake and the Python workers use the temporary directory
    os.environ["TMPDIR"] = tempfile.tempdir = tmp_dir
    conf = {
        "spark.driver.memory": heap_size(),
        # a fixed heap: with a growable one, peak memory follows the
        # collector's sizing decisions more than the program's allocations;
        # no hsperfdata file in the system temporary directory
        "spark.driver.extraJavaOptions": f"-Xms{heap_size()} -Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData",
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local_dir,
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
    }
    spark = get_spark(app_name="perfbench", cpus=cpu_count(), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def end_session(spark) -> None:
    """Stop Spark, then end its JVM and wait for it to exit: the JVM
    leaves when its standard input closes, and takes the Python worker
    daemon with it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None and gateway.proc is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def machine(spark) -> dict:
    import pyspark

    return {
        "nproc": cpu_count(),
        "ram_gb": round(ram_gb(), 1),
        "heap": heap_size(),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


class RssSampler:
    """Peak summed resident memory of this process and all its descendants
    (the Spark JVM, the Python worker daemon and its workers), read from
    /proc every `interval` seconds on a background thread."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _tree_rss_kb(root_pid: int) -> int:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
        total, todo = 0, [root_pid]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/status") as f:
                    total += int(next(l for l in f if l.startswith("VmRSS:")).split()[1])
            except (OSError, StopIteration):
                continue
        return total

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_rss_kb(pid))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024


def digest(df, cols: list[str]):
    """(row count, order-independent digest) of `df` over `cols` in one job:
    XOR of the first 60 bits of md5 over the row's unit-separated values.
    `row_digest` computes the same value in Python."""
    from pyspark.sql import functions as F

    key = F.concat_ws("\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("")) for c in cols])
    h = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long")
    row = df.agg(F.count(F.lit(1)).alias("n"), F.bit_xor(h).alias("h")).first()
    return int(row["n"]), int(row["h"] or 0)


def row_digest(rows) -> tuple[int, int]:
    """`digest` over Python tuples of strings (distinct rows)."""
    h, n = 0, 0
    for r in rows:
        h ^= int(hashlib.md5("\x1f".join(r).encode()).hexdigest()[:15], 16)
        n += 1
    return n, h


class Tracer:
    """Spans kept in memory: (name, start, end, parent, run id) plus the
    stage and task counts of the Spark jobs run inside the span, read from
    the status tracker through a job group set around the span."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None, "run_id": self.run_id}
        self.spans.append(rec)
        group = f"perfbench-{self.run_id}-{sid}"
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(group, name)
        self._stack.append(sid)
        rec["start"] = time.monotonic()
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            if prev:
                self.sc.setJobGroup(prev, self.spans[self._stack[-1]]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            rec.update(self._job_counts(group))

    def _job_counts(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        stages = tasks = 0
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                st = tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        return {"stages": stages, "tasks": tasks}

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the time its child spans cover."""
        out = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["end"] - s["start"]
        return out

    def layer_totals(self) -> dict[str, dict]:
        """Per span name: summed self time, stages and tasks. Stage and task
        counts of a span include its children's jobs only if they ran in
        the span's own job group, so they are summed as recorded."""
        selfs = self.self_times()
        out: dict[str, dict] = {}
        for s in self.spans:
            t = out.setdefault(s["name"], {"s": 0.0, "stages": 0, "tasks": 0})
            t["s"] += selfs[s["id"]]
            t["stages"] += s["stages"]
            t["tasks"] += s["tasks"]
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, sort_keys=True) + "\n")


def _norm_cell(v) -> str:
    if v is None or v != v:  # NaN
        return "NULL"
    if isinstance(v, float):
        return f"{v:.6f}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def frames_match(got, want, atol: float = 1e-6) -> bool:
    """Whether two query outputs (pandas frames) hold the same rows in any
    order. Cells are normalized as the repository's oracle check does
    (floats to six decimals, NULL and NaN alike), but float cells need only
    agree within `atol`: Spark and DuckDB add in different orders, so a
    value can land on either side of a rounding boundary."""
    cols = sorted(got.columns)
    if cols != sorted(want.columns) or len(got) != len(want):
        return False
    # exact columns first, so that rows pair up even where floats differ
    floats = {c for c in cols if got[c].dtype.kind == "f" or want[c].dtype.kind == "f"}
    order = [c for c in cols if c not in floats] + [c for c in cols if c in floats]

    def rows(df):
        return sorted(zip(*[[_norm_cell(v) for v in df[c].tolist()] for c in order]))

    for a, b in zip(rows(got), rows(want)):
        for c, x, y in zip(order, a, b):
            if x != y and not (c in floats and "NULL" not in (x, y) and abs(float(x) - float(y)) <= atol * 1.5):
                return False
    return True
