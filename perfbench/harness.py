"""Spark session, process sampling, fingerprints and environment record
shared by the benchmark workloads."""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys
import tempfile
import threading
import time

SLOTS = len(os.sched_getaffinity(0))
_PAGE = os.sysconf("SC_PAGE_SIZE")


def driver_memory() -> str:
    """An eighth of host memory, between 1 and 4 GiB."""
    with open("/proc/meminfo") as f:
        kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    return f"{max(1024, min(4096, kb // 8192))}m"


def build_session(root: str, work: str):
    """local[SLOTS] session whose Python workers import the checkout and
    whose temporary files stay under `work`."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    spark = (
        SparkSession.builder.master(f"local[{SLOTS}]")
        .appName("sparkolumnar-perfbench")
        .config("spark.driver.memory", driver_memory())
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(SLOTS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "32768")
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", "1073741824")
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "1073741824")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_all(spark) -> None:
    """Stop the session, shut the JVM down and wait for every child."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while _descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in _descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def _children_map():
    kids = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _descendants(pid: int):
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


_TCK = os.sysconf("SC_CLK_TCK")


def cpu_seconds() -> float:
    """CPU seconds used so far by this process, the JVM and everything
    under it (the Python daemon and workers). Time the hypervisor steals
    from the VM is not charged here, unlike wall time."""
    from pyspark import SparkContext

    own = os.times()
    total = own.user + own.system
    if SparkContext._gateway is None:
        return total
    root = SparkContext._gateway.proc.pid
    for pid in [root] + _descendants(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15]) / _TCK
    return total


def host_steal() -> tuple:
    """(steal, busy) jiffies of the whole host from /proc/stat, where busy
    is every state but idle and iowait, steal included."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return vals[7], sum(vals) - vals[3] - vals[4]


def steal_share(before: tuple, after: tuple) -> float:
    """Share of the host's busy CPU time between two host_steal() readings
    that the hypervisor stole: a wall time w measured between them would
    have been about w * (1 - share) on an unshared host."""
    busy = after[1] - before[1]
    return (after[0] - before[0]) / busy if busy > 0 else 0.0


class RssSampler:
    """Peak summed RSS of the JVM and all its descendants (the Python
    daemon and workers), sampled from /proc every `period` seconds."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self):
        """Start sampling the running JVM and its descendants."""
        from pyspark import SparkContext

        self.root = SparkContext._gateway.proc.pid
        self._thread.start()
        return self

    def stop(self):
        self._stop.set()
        self._thread.join(timeout=10)

    def _run(self):
        while not self._stop.is_set():
            pids = [self.root] + _descendants(self.root)
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in pids))
            self.samples += 1
            self._stop.wait(self.period)


def fingerprint(df, cols):
    """Order-independent (rows, sum lo32, sum hi32) of xxhash64(*cols)."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c) for c in cols])
    r = df.agg(F.count(F.lit(1)),
               F.sum(h.bitwiseAND(0xFFFFFFFF)),
               F.sum(F.shiftrightunsigned(h, 32))).collect()[0]
    return (int(r[0]), int(r[1] or 0), int(r[2] or 0))


def filter_column(filters):
    """Spark Column for an AND-list of decode_blocks filter tuples."""
    from pyspark.sql import functions as F

    cond = F.lit(True)
    for flt in filters:
        c, op = F.col(flt[0]), flt[1]
        if op == "between":
            e = c.between(F.lit(flt[2]), F.lit(flt[3]))
        elif op == "=":
            e = c == F.lit(flt[2])
        elif op == "in":
            e = c.isin(list(flt[2]))
        else:
            raise ValueError(f"no oracle for filter op {op!r}")
        cond = cond & e
    return cond


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f))
                     for f in files if f.endswith(".parquet"))
    return total


def blockset_fingerprint(blocks_path: str) -> str:
    import pyarrow.parquet as pq

    ids = sorted(pq.read_table(blocks_path, columns=["block_id"])
                 .column("block_id").to_pylist())
    h = hashlib.sha256()
    for b in ids:
        h.update(b.encode())
    return f"{len(ids)}:{h.hexdigest()[:16]}"


def environment(spark) -> dict:
    """Versions and library fingerprints that pin the byte-level output."""
    import numpy
    import pyarrow as pa
    import pyspark

    from sparkolumnar.codecs import zstd_codec

    probe = (b"sparkolumnar zstd probe " * 4096
             + bytes(range(256)) * 64)
    zstd_out = zstd_codec._codec().compress(probe, asbytes=True)
    return {
        "task_slots": SLOTS,
        "driver_memory": driver_memory(),
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "pyarrow": pa.__version__,
        "numpy": numpy.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        # pyarrow links zstd statically and exposes no version call; the
        # digest of a fixed compressed buffer at the codec's level pins
        # the payload bytes instead
        "zstd": f"pyarrow-{pa.cpp_build_info.version} level "
                f"{zstd_codec.LEVEL} probe "
                f"{hashlib.sha256(zstd_out).hexdigest()[:16]}",
    }


def median(xs):
    xs = sorted(xs)
    n = len(xs)
    if not n:
        return None
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def percentile(xs, q: float):
    """Linear-interpolated q-quantile (0..1)."""
    xs = sorted(xs)
    if not xs:
        return None
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)
