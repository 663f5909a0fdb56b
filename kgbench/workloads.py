"""The three workloads of the KG-construction benchmark.

extract  closed loop: pages parquet -> annotate_pages -> per-doc counts.
build    closed loop: run_pipeline into a fresh output dir.
ingest   open loop: the main thread renames page files into a watched dir
         on a fixed schedule; streaming.ingest.run_ingest (stream_pages
         -> stream_triples -> parquet sink) with the default trigger.

Every workload follows the same life cycle, driven by run.py:
prepare (fill the corpus cache; not set-up) -> setup (materialize and
broadcast, each repeated and reported as the median, then warm-up until
steady) -> measure (for the given seconds) -> check (outputs against
references).  The benchmark drives only the package's public functions.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time
from dataclasses import dataclass
from pathlib import Path

from harness import (WORK_DIR, cached_corpus, data_files, load_json, median,
                     percentile, slots, save_json, steady)

SETUP_REPEATS = 3
INGEST_INTERVAL_S = 0.25  # one file per interval: 200 docs/s offered
COMMIT_DEADLINE_S = 30.0


@dataclass
class Sizes:
    extract_docs: int = 20000
    build_docs: int = 1000
    ingest_file_docs: int = 50
    ingest_warm_files: int = 8       # files per warm-up round
    ingest_warm_rounds: int = 6      # at most
    extract_warm_passes: int = 5     # at most
    sample_mod: int = 128            # extract check: crc32(url) % mod == 0
    kernel_docs: int = 200
    companion_ingest_s: float = 3.0  # streaming leg of a non-ingest tour


TOY = Sizes(extract_docs=400, build_docs=120, ingest_file_docs=20,
            ingest_warm_files=2, ingest_warm_rounds=3,
            extract_warm_passes=2, sample_mod=8,
            kernel_docs=20, companion_ingest_s=1.0)


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def annotate_counts(spark, path: Path, bc) -> tuple[float, tuple]:
    """One extract pass: read the pages parquet, annotate it and collect
    the (docs, mentions, spans, triples) totals.  Returns (wall, counts)."""
    from pyspark.sql import functions as F

    from python_mecab_ner_spark.operators.annotate import annotate_pages
    t0 = time.perf_counter()
    ann = annotate_pages(spark.read.parquet(str(path)), bc)
    r = ann.agg(F.count("*"), F.sum(F.size("mentions")),
                F.sum(F.size("spans")), F.sum(F.size("triples"))).collect()[0]
    return time.perf_counter() - t0, tuple(int(x or 0) for x in r)


def _broadcast(spark):
    from python_mecab_ner_spark.sources.gazetteer import (
        broadcast_rows, gazetteer_df_from_tsv)
    return broadcast_rows(spark, df=gazetteer_df_from_tsv(spark))


class Workload:
    """Shared life cycle; subclasses provide the corpus, the warm-up,
    the measured loop and the checks."""

    name = ""

    def __init__(self, spark, seed: int, seconds: float, sizes: Sizes):
        self.spark, self.seed, self.seconds, self.sizes = \
            spark, seed, seconds, sizes
        self.work = WORK_DIR / self.name
        shutil.rmtree(self.work, ignore_errors=True)
        self.work.mkdir(parents=True)
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.info: dict = {}
        self.bc = None

    def fail(self, what: str, n: int = 1) -> None:
        self.failed += n
        if len(self.problems) < 20:
            self.problems.append(what)

    # -- set-up ---------------------------------------------------------
    def setup(self) -> float:
        """Materialize + broadcast (each repeated, median kept) plus
        warm-up.  Returns set-up seconds excluding session start."""
        mats = [_timed(self.materialize)[0] for _ in range(SETUP_REPEATS)]
        bcs = []
        for _ in range(SETUP_REPEATS):
            old = self.bc
            dt, self.bc = _timed(lambda: _broadcast(self.spark))
            bcs.append(dt)
            if old is not None:
                old.destroy()
        warm, _ = _timed(self.warmup)
        self.info.update(materialize_s=median(mats), broadcast_s=median(bcs),
                         warmup_s=warm)
        return median(mats) + median(bcs) + warm

    def until_elapsed(self, unit) -> list:
        """Closed loop: run units back to back until `seconds` have
        passed (at least one)."""
        out, t0 = [], time.perf_counter()
        while not out or time.perf_counter() - t0 < self.seconds:
            out.append(unit())
        return out


# ===================================================================== extract

class Extract(Workload):
    name = "extract"

    def prepare(self):
        self.path, gen_s = cached_corpus(
            self.spark, "pages", self.seed, self.sizes.extract_docs,
            2 * slots())
        self.info["corpus_gen_s"] = gen_s

    def materialize(self):
        self.n_docs = self.spark.read.parquet(str(self.path)).count()

    def unit(self):
        return annotate_counts(self.spark, self.path, self.bc)

    def warmup(self):
        walls = []
        while len(walls) < self.sizes.extract_warm_passes and \
                not steady(walls, 0.1):
            walls.append(self.unit()[0])
        self.info["warmup_walls"] = walls

    def measure(self) -> dict:
        runs = self.until_elapsed(self.unit)
        walls = [w for w, _ in runs]
        counts = runs[0][1]
        self.info.update(walls=walls, counts=counts)
        for _, c in runs:
            self.attempted += 1
            if c != counts or c[0] != self.n_docs:
                self.fail(f"pass counts {c} != {counts} / {self.n_docs} docs")
        return closed_loop_metrics(walls, self.n_docs)

    def check(self):
        """Spot-check a hashed url sample against the naive oracle."""
        from pyspark.sql import functions as F

        from python_mecab_ner_spark.kernel.lexicon import load_gazetteer_rows
        from python_mecab_ner_spark.kernel.pyref import (pyref_spans,
                                                         pyref_triples)
        from python_mecab_ner_spark.operators.annotate import annotate_pages
        pages = self.spark.read.parquet(str(self.path)).where(
            F.crc32("url") % self.sizes.sample_mod == 0)
        texts = {r.url: r.text for r in pages.select("url", "text").collect()}
        got = {r.url: r for r in annotate_pages(pages, self.bc)
               .select("url", "spans", "triples").collect()}
        rows = load_gazetteer_rows()
        for url, text in texts.items():
            self.attempted += 1
            r = got.get(url)
            spans = first_category(r.spans) if r else None
            triples = [tuple(t) for t in r.triples] if r else None
            if spans != [tuple(s) for s in pyref_spans(text, rows)] or \
                    triples != [tuple(t) for t in pyref_triples(text, rows)]:
                self.fail(f"annotate disagrees with pyref on {url}")
        self.info["sampled_docs"] = len(texts)
        if not texts:
            self.fail("empty check sample")


def first_category(spans) -> list[tuple]:
    """annotate_pages keeps every category of a span; the reference
    reports the first one per (start, end), as pyref_spans does."""
    out, seen = [], set()
    for s in spans:
        if (s.start, s.end) not in seen:
            seen.add((s.start, s.end))
            out.append(tuple(s))
    return out


def closed_loop_metrics(walls, n_docs) -> dict:
    """Closed loop: every doc of a pass completes when the pass does,
    so a doc's lag is the wall of its pass.  lag_p50_s is then wall_s
    and docs_per_s is n_docs / wall_s; they are reported so that every
    workload prints every end-to-end metric."""
    return {"wall_s": median(walls), "docs_per_s": n_docs / median(walls),
            "lag_p50_s": percentile(walls, 50),
            "lag_p90_s": percentile(walls, 90)}


# ===================================================================== build

def link_histogram(linked) -> dict[str, int]:
    return {str(r[0]): int(r[1])
            for r in linked.groupBy("link_level").count().collect()}


def graph_problems(spark, out: Path, info: dict,
                   n_docs: int) -> tuple[list[str], tuple[int, int]]:
    """A built graph's faults: annotated rows != input docs, dangling
    edge endpoints, empty tables.  Returns (faults, (edges, vertices))."""
    from pyspark.sql import functions as F
    faults = []
    if info.get("annotated_rows") != n_docs:
        faults.append(f"annotated_rows {info.get('annotated_rows')} != "
                      f"{n_docs} docs")
    e = spark.read.parquet(str(out / "edges"))
    v = spark.read.parquet(str(out / "vertices"))
    ids = v.select(F.col("canonical_id").alias("id"))
    ends = (e.select(F.col("src_id").alias("id"))
            .union(e.select(F.col("dst_id").alias("id"))).distinct())
    dangling = ends.join(ids, "id", "left_anti").count()
    if dangling:
        faults.append(f"{dangling} dangling edge endpoints in {out}")
    shape = (e.count(), v.count())
    if not all(shape):
        faults.append(f"empty graph table in {out}")
    return faults, shape


def stored_problem(corpus: Path, kind: str, value) -> str | None:
    """`value` must be identical across runs of one seed: compared with
    the one stored beside the corpus by the first run that made it."""
    key = corpus.parent / f"{kind}-{corpus.name}.json"
    value = json.loads(json.dumps(value))
    stored = load_json(key)
    if stored is None:
        save_json(key, value)
    elif stored != value:
        return f"{kind} {value} != stored {stored}"
    return None


class Build(Workload):
    name = "build"

    def prepare(self):
        self.path, gen_s = cached_corpus(
            self.spark, "pages", self.seed, self.sizes.build_docs, slots())
        self.info["corpus_gen_s"] = gen_s
        self.runs = 0

    def materialize(self):
        self.pages = self.spark.read.parquet(str(self.path))
        self.n_docs = self.pages.count()

    def warmup(self):
        """An untimed annotate pass over the build corpus: starts the
        Python workers and builds their automaton.  The build itself is
        timed as a batch deployment runs it, first in its session, so
        planning and code generation for its ~400 stages stay in
        wall_s (a warm second build in the same session is not what a
        batch job sees, and would double the run's length)."""
        from pyspark.sql import functions as F

        from python_mecab_ner_spark.operators.annotate import annotate_pages
        annotate_pages(self.pages, self.bc).agg(F.count("*")).collect()

    def unit(self):
        from python_mecab_ner_spark.plans.pipeline import run_pipeline
        out = self.work / f"run{self.runs}"
        self.runs += 1
        t0 = time.perf_counter()
        info = run_pipeline(self.spark, self.pages, str(out),
                            n_parts=slots())
        wall = time.perf_counter() - t0
        # run_pipeline leaves its linking working sets cached; drop them
        # so every build starts from the same state
        self.spark.catalog.clearCache()
        return wall, out, info

    def measure(self) -> dict:
        runs = self.until_elapsed(self.unit)
        walls = [w for w, _, _ in runs]
        shapes = set()
        for _, out, info in runs:
            self.attempted += 1
            problems, shape = graph_problems(self.spark, out, info,
                                             self.n_docs)
            for p in problems:
                self.fail(p)
            shapes.add(shape)
        if len(shapes) > 1:
            self.fail(f"graph shape differs between builds: {shapes}")
        self.info.update(walls=walls, graph_shape=sorted(shapes)[0])
        return closed_loop_metrics(walls, self.n_docs)

    def check(self):
        """The graph's shape must be identical across runs of one seed
        (the traced run checks the link-level histogram the same way)."""
        self.attempted += 1
        problem = stored_problem(self.path, "graphshape",
                                 self.info["graph_shape"])
        if problem:
            self.fail(problem)


# ===================================================================== ingest

STREAM_COLUMNS = ["url", "warc_ts", "text", "lang"]


def _committed_batches(ckpt: Path) -> dict[str, set[int]]:
    """file path -> ids of the batches that took it, from the file
    source's metadata log (plain and compacted entries)."""
    out: dict[str, set[int]] = {}
    log = ckpt / "sources" / "0"
    if not log.exists():
        return out
    for p in log.iterdir():
        if p.name.startswith("."):
            continue
        try:
            lines = p.read_text().splitlines()
        except FileNotFoundError:
            continue
        for line in lines[1:]:
            if line.strip():
                e = json.loads(line)
                out.setdefault(e["path"], set()).add(int(e["batchId"]))
    return out


def _commit_times(ckpt: Path) -> dict[int, float]:
    out = {}
    d = ckpt / "commits"
    if d.exists():
        for p in d.iterdir():
            if p.name.isdigit():
                out[int(p.name)] = p.stat().st_mtime
    return out


def _progress_list(query) -> list[dict]:
    out = []
    for p in query.recentProgress:
        if not isinstance(p, dict):
            p = {"batchId": p.batchId, "numInputRows": p.numInputRows,
                 "durationMs": dict(p.durationMs)}
        out.append(p)
    return out


class Stream:
    """One streaming query over a fresh watched dir, fed from a copy of
    the cached page files."""

    def __init__(self, spark, files: list[Path], root: Path):
        self.spark = spark
        self.root = root
        shutil.rmtree(root, ignore_errors=True)
        self.staging, self.watch = root / "staging", root / "watch"
        self.sink, self.ckpt = root / "sink", root / "ckpt"
        for d in (self.staging, self.watch):
            d.mkdir(parents=True)
        self.files = []
        for i, f in enumerate(files):
            dst = self.staging / f"f{i:05d}.parquet"
            shutil.copyfile(f, dst)
            self.files.append(dst.name)
        self.next = 0
        self.drops: dict[str, tuple[float, float]] = {}  # name -> (due, at)
        self.query = None

    def start(self, bc):
        from python_mecab_ner_spark.streaming.ingest import run_ingest
        self.query = run_ingest(self.spark, str(self.watch), str(self.sink),
                                str(self.ckpt), bc, available_now=False)

    def drop(self, due: float) -> None:
        name = self.files[self.next]
        self.next += 1
        os.rename(self.staging / name, self.watch / name)
        self.drops[name] = (due, time.time())

    def committed(self) -> dict[str, tuple[int, float]]:
        """dropped file name -> (batch id, commit time) for committed
        batches."""
        times = _commit_times(self.ckpt)
        out = {}
        for path, batches in _committed_batches(self.ckpt).items():
            b = min(batches)
            if b in times:
                out[path.rsplit("/", 1)[-1]] = (b, times[b])
        return out

    def wait_committed(self, names, deadline_s: float) -> bool:
        end = time.monotonic() + deadline_s
        while time.monotonic() < end:
            if self.query.exception() is not None:
                raise RuntimeError(str(self.query.exception()))
            done = self.committed()
            if all(n in done for n in names):
                return True
            time.sleep(0.02)
        return False

    def run_schedule(self, n_files: int) -> list[str]:
        """Open loop: drop n_files, one every INGEST_INTERVAL_S from now,
        whatever the query (on its own thread) is doing."""
        names = self.files[self.next:self.next + n_files]
        t0 = time.time()
        for i in range(len(names)):
            due = t0 + i * INGEST_INTERVAL_S
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            self.drop(due)
        return names

    def stop(self):
        if self.query is not None:
            self.query.stop()


def file_lags(st: Stream, names, done) -> list[float]:
    """Per committed file: its batch's commit time minus its scheduled
    drop time."""
    return [done[n][1] - st.drops[n][0] for n in names if n in done]


class Ingest(Workload):
    name = "ingest"

    def n_files(self, seconds: float) -> int:
        return math.ceil(seconds / INGEST_INTERVAL_S) + 1

    def total_files(self) -> int:
        s = self.sizes
        return s.ingest_warm_files * s.ingest_warm_rounds + \
            self.n_files(self.seconds)

    def prepare(self):
        s = self.sizes
        n = -(-self.total_files() // slots()) * slots()
        self.path, gen_s = cached_corpus(
            self.spark, "stream", self.seed, n * s.ingest_file_docs, slots(),
            columns=STREAM_COLUMNS, docs_per_file=s.ingest_file_docs)
        self.info["corpus_gen_s"] = gen_s
        self.streams: list[Stream] = []

    def materialize(self):
        self.stream = Stream(self.spark, data_files(self.path),
                             self.work / f"s{len(self.streams)}")
        self.streams.append(self.stream)

    def warmup(self):
        """Open-loop rounds at the measured rate until the median lags of
        two rounds in a row differ by less than 20%; at least three, as
        the first holds the query's cold first batch."""
        st = self.stream
        st.start(self.bc)
        lags = []
        while len(lags) < self.sizes.ingest_warm_rounds and \
                not (len(lags) >= 3 and steady(lags, 0.2)):
            names = st.run_schedule(self.sizes.ingest_warm_files)
            if not st.wait_committed(names, COMMIT_DEADLINE_S):
                raise RuntimeError("warm-up files not committed")
            lags.append(median(file_lags(st, names, st.committed())))
        self.info["warmup_lags_s"] = lags

    def measure(self, seconds: float | None = None) -> dict:
        st = self.stream
        seconds = self.seconds if seconds is None else seconds
        first_batch = max([b for b, _ in st.committed().values()],
                          default=-1) + 1
        n = min(self.n_files(seconds), len(st.files) - st.next)
        names = st.run_schedule(n)
        st.wait_committed(names, COMMIT_DEADLINE_S)
        done = st.committed()
        lags = file_lags(st, names, done)
        late = [at - due for due, at in (st.drops[f] for f in names)]
        prog = [p for p in _progress_list(st.query)
                if p["batchId"] >= first_batch and p["numInputRows"] > 0]
        trig = [p["durationMs"].get("triggerExecution", 0) / 1e3
                for p in prog]
        add = sum(p["durationMs"].get("addBatch", 0) for p in prog) / 1e3
        rows = sum(p["numInputRows"] for p in prog)
        self.attempted += len(names)
        missing = [n for n in names if n not in done]
        if missing:
            self.fail(f"{len(missing)} files not committed in time",
                      len(missing))
        self.info.setdefault("lags", []).append(lags)
        self.measured = (st, names, prog, late, done)
        if not lags or not trig or not add:
            raise RuntimeError("no measured file was committed")
        # mean, not median: trigger durations are whole milliseconds.
        # Batches run back to back, so rows / summed trigger time would
        # track the offered rate; rows / summed addBatch (the batch's
        # Spark jobs: read, annotate, write) tracks the program instead.
        return {"wall_s": sum(trig) / len(trig), "docs_per_s": rows / add,
                "lag_p50_s": percentile(lags, 50),
                "lag_p90_s": percentile(lags, 90)}

    def check(self):
        """Every dropped file's urls reach the sink exactly once: per
        url, the sink's triple count equals a batch annotate of the
        same files, and every file sits in exactly one batch."""
        from pyspark.sql import functions as F

        from python_mecab_ner_spark.operators.annotate import (annotate_pages,
                                                               triples_table)
        from python_mecab_ner_spark.streaming.ingest import \
            PAGES_STREAM_SCHEMA
        st = self.stream
        st.stop()
        dropped = sorted(st.drops)
        paths = [str(st.watch / n) for n in dropped]
        expect_df = triples_table(annotate_pages(
            self.spark.read.schema(PAGES_STREAM_SCHEMA).parquet(*paths),
            self.bc))
        expect = {r[0]: r[1] for r in
                  expect_df.groupBy("url").count().collect()}
        sink = self.spark.read.parquet(str(st.sink))
        got = {r[0]: r[1] for r in sink.groupBy("url").count().collect()}
        bad_files = set()
        fdocs = self.sizes.ingest_file_docs
        for url in set(expect) | set(got):
            if expect.get(url) != got.get(url):
                doc_id = int(url.rsplit("/", 1)[-1])
                bad_files.add(f"f{doc_id // fdocs:05d}.parquet")
        seen = {path.rsplit("/", 1)[-1]: len(batches) for path, batches
                in _committed_batches(st.ckpt).items()}
        bad_files |= {n for n in dropped if seen.get(n, 0) != 1}
        bad_files &= set(dropped)
        if bad_files:
            self.fail(f"{len(bad_files)} files not in the sink exactly "
                      f"once: {sorted(bad_files)[:5]}", len(bad_files))
        if not expect:
            self.fail("no triples expected from the dropped files")
        self.info["sink_urls"] = len(got)


WORKLOADS = {"extract": Extract, "build": Build, "ingest": Ingest}
