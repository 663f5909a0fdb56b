"""Shared plumbing of the KG-construction benchmark.

Host sizing and context, the Spark session (sized from this host, with
every scratch path kept inside the benchmark's own work directory),
the seeded corpus cache, the process-tree RSS sampler and the
percentile rule.  Importing this module starts nothing.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
REPO_ROOT = BENCH_DIR.parent
WORK_DIR = BENCH_DIR / ".work"
CACHE_DIR = BENCH_DIR / ".cache"
PACKAGE = "python_mecab_ner_spark"


# ---------------------------------------------------------------- stats

def percentile(values, q: float) -> float:
    """q-th percentile (q in [0, 100]) by linear interpolation between
    the closest ranks, so p90 of a handful of samples is not just the
    slowest one."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 <= q <= 100:
        raise ValueError(f"percentile out of range: {q}")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo))


def median(values) -> float:
    return float(statistics.median(values))


def steady(walls, tol: float) -> bool:
    """The last two samples differ by less than `tol` of the last."""
    return len(walls) >= 2 and abs(walls[-1] - walls[-2]) < tol * walls[-1]


# ---------------------------------------------------------------- host

def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def slots() -> int:
    """Spark task slots: one core fewer than the host has, left to the
    driver, the JVM's own threads (GC, JIT, the streaming loop) and the
    ingest generator, so they do not preempt tasks and add noise."""
    return max(1, nproc() - 1)


def host_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_mb() -> int:
    """40% of host RAM, clamped to [2, 6] GiB: the machine is shared,
    and the build plan needs about 4 GiB of driver heap."""
    return max(2048, min(6144, int(host_mem_mb() * 0.4)))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def source_digest() -> str:
    """sha256 over the package's sources and data: identifies the code
    measured even where the checkout carries no git metadata."""
    h = hashlib.sha256()
    root = REPO_ROOT / PACKAGE
    for p in sorted(root.rglob("*")):
        if p.is_file() and p.suffix in (".py", ".tsv"):
            h.update(str(p.relative_to(root)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=REPO_ROOT,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    if out.returncode != 0:
        return None
    return out.stdout.strip() or None


def host_context() -> dict:
    import pandas
    import pyarrow
    import pyspark
    return {
        "nproc": nproc(),
        "slots": slots(),
        "mem_mb": host_mem_mb(),
        "driver_memory_mb": driver_memory_mb(),
        "loadavg_before": loadavg(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "commit": git_commit(),
        "source_sha": source_digest(),
    }


# ---------------------------------------------------------------- session

def prepare_env() -> None:
    """Point every scratch path of the JVM and the Python workers into
    the work dir, and put the checkout on the workers' import path so
    executors import the package from any working directory."""
    for sub in ("tmp", "spark-local", "warehouse"):
        (WORK_DIR / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK_DIR / "spark-local")
    os.environ["TMPDIR"] = str(WORK_DIR / "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    paths = [str(REPO_ROOT)] + [p for p in os.environ.get(
        "PYTHONPATH", "").split(os.pathsep) if p and p != str(REPO_ROOT)]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    if str(REPO_ROOT) not in sys.path:
        sys.path.insert(0, str(REPO_ROOT))


def event_log_dir() -> Path:
    return WORK_DIR / "eventlog"


def start_session(traced: bool = False, app: str = "kgbench"):
    """local[slots] session sized from this host.

    Adaptive query execution is off: at benchmark sizes its per-stage
    re-optimization of the ~400-stage build plan doubles build wall
    time, which would bury every layer this benchmark measures.  The
    young generation is fixed: G1 sizes eden from its pause-time
    estimates, and the eden it happens to touch made peak_rss_mb swing
    by a quarter between runs of one seed."""
    from pyspark.sql import SparkSession

    prepare_env()
    cores = slots()
    tmp = WORK_DIR / "tmp"
    b = (SparkSession.builder.master(f"local[{cores}]").appName(app)
         .config("spark.driver.memory", f"{driver_memory_mb()}m")
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={tmp} -Xmn512m")
         .config("spark.local.dir", str(WORK_DIR / "spark-local"))
         .config("spark.sql.warehouse.dir", str(WORK_DIR / "warehouse"))
         .config("spark.sql.catalogImplementation", "in-memory")
         .config("spark.sql.shuffle.partitions", str(cores))
         .config("spark.sql.adaptive.enabled", "false")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false"))
    if traced:
        d = event_log_dir()
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", d.as_uri())
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark, then the JVM, and wait until the JVM and every
    Python worker it forked have exited."""
    gw = spark.sparkContext._gateway
    proc = gw.proc
    tree = process_tree(proc.pid)
    spark.stop()
    gw.shutdown()
    if proc.stdin:
        proc.stdin.close()  # the gateway server exits on stdin EOF
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=timeout)
    # forget the dead gateway, so a later session in this process
    # launches a fresh JVM
    from pyspark import SparkContext
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    alive = [p for p in tree if p != proc.pid]
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _pid_alive(p)]
        if alive:
            time.sleep(0.05)
    for p in alive:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def _pid_alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (FileNotFoundError, ProcessLookupError):
        return False


# ---------------------------------------------------------------- memory

def _parents() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                out[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (FileNotFoundError, ProcessLookupError, IndexError):
            continue
    return out


def process_tree(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def tree_pss_bytes(root: int) -> int:
    """Proportional set size of a process tree: pages the forked Python
    workers share with their daemon count once, not once per worker."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
    return total


class RssSampler:
    """Background sampler of the peak resident memory (PSS) of a
    process tree (the JVM and the Python workers it forks), read from
    /proc."""

    def __init__(self, root: int, interval: float = 0.1,
                 sample=tree_pss_bytes):
        self.root, self.interval, self.sample = root, interval, sample
        self.peak = 0
        self._lock = threading.Lock()
        self._generation = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            gen = self._generation
            value = self.sample(self.root)  # slow: walks /proc
            with self._lock:
                # a sample begun before reset() belongs to the old window
                if gen == self._generation:
                    self.peak = max(self.peak, value)
            self._stop.wait(self.interval)

    def reset(self):
        with self._lock:
            self._generation += 1
            self.peak = 0

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------------- corpus

def generator_version() -> str:
    """Corpus cache key component: changes whenever the page generator
    or the vocabulary it draws from changes."""
    h = hashlib.sha256()
    for rel in ("sources/corpus.py", "data/gazetteer.tsv",
                "kernel/lexicon.py", "kernel/jamo.py"):
        h.update((REPO_ROOT / PACKAGE / rel).read_bytes())
    return h.hexdigest()[:12]


def corpus_path(kind: str, seed: int, n_docs: int, n_parts: int,
                docs_per_file: int | None = None) -> Path:
    return (CACHE_DIR / f"{kind}-g{generator_version()}-s{seed}"
            f"-n{n_docs}-p{n_parts}-d{docs_per_file or 0}")


def cached_corpus(spark, kind: str, seed: int, n_docs: int, n_parts: int,
                  columns=None, docs_per_file: int | None = None
                  ) -> tuple[Path, float]:
    """Pages parquet for (seed, size), generated once into the cache.
    Doc ids split into n_parts contiguous ranges, one file per range, or
    files of docs_per_file consecutive docs when given (file names then
    sort in doc id order).  Returns (path, generation seconds; 0.0 on a
    cache hit)."""
    from python_mecab_ner_spark.sources.corpus import pages_dataframe

    path = corpus_path(kind, seed, n_docs, n_parts, docs_per_file)
    if (path / "_SUCCESS").exists():
        return path, 0.0
    t0 = time.perf_counter()
    shutil.rmtree(path, ignore_errors=True)
    df = pages_dataframe(spark, n_docs, seed=seed, partitions=n_parts)
    if columns:
        df = df.select(*columns)
    w = df.write
    if docs_per_file:
        w = w.option("maxRecordsPerFile", docs_per_file)
    w.parquet(str(path))
    return path, time.perf_counter() - t0


def data_files(path: Path) -> list[Path]:
    return sorted(path.glob("part-*.parquet"))


def dir_bytes(path: Path) -> tuple[int, int]:
    """(bytes, data files) under path, Spark metadata files excluded."""
    n = size = 0
    for p in Path(path).rglob("*"):
        if p.is_file() and not p.name.startswith((".", "_")):
            n += 1
            size += p.stat().st_size
    return size, n


def load_json(path: Path):
    try:
        return json.loads(path.read_text())
    except (FileNotFoundError, json.JSONDecodeError):
        return None


def save_json(path: Path, obj) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(".tmp")
    tmp.write_text(json.dumps(obj, indent=1, sort_keys=True))
    tmp.replace(path)
