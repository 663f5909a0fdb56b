"""Executor-side state of the annotate stage, mostly driven without Spark
through the same per-page kernel call and batch emitter that
annotate_pages' mapInArrow runs: a batch triggers no cyclic-GC
collection, a worker keeps one automaton per search category, not one
per broadcast, a task leaves no zipimporter in the worker's import
cache for the next task's importlib.invalidate_caches() to re-read, and
the task entry arms TCP_QUICKACK on the worker's TCP socket so its first
input batch does not wait out a 40 ms delayed ACK."""

import gc
import importlib
import os
import socket
import statistics
import sys
import time
import zipfile
import zipimport
from types import SimpleNamespace

import pyarrow as pa
import pytest
from pyspark.sql.pandas.types import to_arrow_schema

from python_mecab_ner_spark.kernel.lexicon import load_gazetteer_rows
from python_mecab_ner_spark.kernel.matcher import CompiledGazetteer
from python_mecab_ner_spark.operators import annotate
from python_mecab_ner_spark.operators.schemas import annotated_schema
from python_mecab_ner_spark.sources.corpus import gen_pages


def page_batch(n, seed):
    pages = [{"url": p["url"], "text": p["text"]} for p in gen_pages(n, seed)]
    return pa.RecordBatch.from_pylist(
        pages, schema=pa.schema([("url", pa.string()), ("text", pa.string())]))


def run(batch, arrow, doc):
    return list(annotate._map_columnar([batch], arrow, doc))


@pytest.fixture(scope="module")
def rows():
    return load_gazetteer_rows()


@pytest.mark.parametrize("with_tokens", [False, "context", True])
def test_batch_runs_no_gc_collection(rows, with_tokens):
    """A batch's kernel records die with their page, so the batch never
    crosses the gen-0 threshold.  Records held to batch end ran 43/3/0
    (no tokens) to 76/6/0 (all token fields) collections of gen 0/1/2
    on this 2,000-page batch."""
    arrow = to_arrow_schema(annotated_schema(with_tokens))
    doc = annotate._page_kernel(CompiledGazetteer(rows))
    run(page_batch(2000, seed=8), arrow, doc)  # warm the lexicon caches
    batch = page_batch(2000, seed=7)
    collections = [0, 0, 0]

    def count(phase, info):
        if phase == "start":
            collections[info["generation"]] += 1

    gc.collect()
    gc.callbacks.append(count)
    try:
        run(batch, arrow, doc)
    finally:
        gc.callbacks.remove(count)
    assert collections[2] == 0 and sum(collections) <= 2, collections


def test_one_automaton_per_category(rows, monkeypatch):
    """A newer broadcast replaces the worker's automaton for its category
    instead of adding one; other categories keep theirs."""
    monkeypatch.setattr(annotate, "_GAZ_CACHE", {})
    arrow = to_arrow_schema(annotated_schema(False))
    batch = page_batch(50, seed=7)
    bc = SimpleNamespace(value=rows)  # what the worker reads of a Broadcast
    built = []
    for bc_id in (1, 2, 2):
        built.append(annotate._executor_gazetteer(bc, bc_id, None))
        run(batch, arrow, annotate._page_kernel(built[-1]))
    assert built[0] is not built[1] and built[1] is built[2]
    assert list(annotate._GAZ_CACHE.values()) == [(2, built[1])]
    annotate._executor_gazetteer(bc, 2, ["ner_example_location_tour"])
    assert set(annotate._GAZ_CACHE) == {None, ("ner_example_location_tour",)}


def test_drop_zip_importers_keeps_zip_imports(tmp_path, monkeypatch):
    """The dropped importers are only a cache: after the drop and an
    importlib.invalidate_caches(), a module of the same zip not yet
    imported (a lazy import, or a user's addPyFile zip) still imports."""
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zipmod_first.py", "X = 1\n")
        z.writestr("zipmod_second.py", "Y = 2\n")
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("zipmod_first").X == 1
        assert isinstance(sys.path_importer_cache[str(archive)],
                          zipimport.zipimporter)
        annotate._drop_zip_importers()
        importlib.invalidate_caches()
        assert not [f for f in sys.path_importer_cache.values()
                    if isinstance(f, zipimport.zipimporter)]
        assert importlib.import_module("zipmod_second").Y == 2
    finally:
        for name in ("zipmod_first", "zipmod_second"):
            sys.modules.pop(name, None)


def test_task_leaves_no_zip_importer(spark):
    """annotate_pages' executor entry drops the worker's cached
    zipimporters, so the page kernel runs with none.  The probe tokenizer
    returns their count as its one token's word.  A warm worker held 16
    (pyspark.zip, py4j and the spark-core jar), whose directories every
    task's importlib.invalidate_caches() re-read."""
    def probe(text):
        import sys
        import zipimport
        n = sum(isinstance(f, zipimport.zipimporter)
                for f in sys.path_importer_cache.values())
        return [{"word": str(n), "pos": "SN", "has_jongseong": None,
                 "reading": str(n), "type": None, "space": 0,
                 "mecab_token": 0, "mecab_compound": 0, "begin": 0,
                 "end": 1, "label": "O"}]

    bc = spark.sparkContext.broadcast([("ner_example_location_city", "c",
                                        "서울", "서울")])
    df = spark.createDataFrame([("u1", "서울"), ("u2", "네팔")],
                               "url string, text string")
    got = annotate.annotate_pages(df, bc, tokenizer=probe).collect()
    assert sorted(r.extracted_text for r in got) == ["0", "0"]
    bc.unpersist()


linux_tcp = pytest.mark.skipif(
    not (hasattr(socket, "TCP_QUICKACK") and os.path.isdir("/proc/self/fd")),
    reason="TCP_QUICKACK and /proc/self/fd are Linux-only")


def tcp_pair():
    with socket.create_server(("127.0.0.1", 0)) as listener:
        sender = socket.create_connection(listener.getsockname())
        receiver, _ = listener.accept()
    return sender, receiver


def stalled_ms(arm):
    """The receiver answers one request, which puts it in delayed-ACK
    mode; then the sender writes 200 and 100 bytes.  Nagle holds the 100
    until the 200 is ACKed, as the JVM's writes to a worker are held."""
    sender, receiver = tcp_pair()
    with sender, receiver:
        sender.sendall(b"q")
        receiver.recv(1)
        receiver.sendall(b"r")
        sender.recv(1)
        if arm:
            annotate._enter_task()
        t = time.perf_counter()
        sender.sendall(b"x" * 200)
        sender.sendall(b"y" * 100)
        got = 0
        while got < 300:
            got += len(receiver.recv(300 - got))
        return (time.perf_counter() - t) * 1e3


@linux_tcp
def test_entry_removes_delayed_ack_stall():
    """Unarmed, the last 100 bytes wait out the receiver's delayed ACK:
    median 43.6 ms over loopback on a 4-vCPU Linux VM, 0.5 ms with
    TCP_QUICKACK armed at the entry."""
    default = statistics.median(stalled_ms(False) for _ in range(5))
    armed = statistics.median(stalled_ms(True) for _ in range(5))
    assert default > 20 and armed < 10, (default, armed)


@linux_tcp
def test_entry_keeps_fds_and_skips_non_tcp(tmp_path):
    """The entry closes every fd it dups (a leak of one per non-TCP fd
    per task ran a worker into EMFILE) and arms TCP stream sockets only:
    a pipe, a regular file and an AF_UNIX socketpair add nothing to its
    count, a connected TCP pair adds its two ends."""
    def fds():
        return len(os.listdir("/proc/self/fd"))

    before, armed = fds(), annotate._enter_task()
    assert fds() == before
    read_end, write_end = os.pipe()
    unix_a, unix_b = socket.socketpair(socket.AF_UNIX)
    with open(tmp_path / "f", "wb") as f, unix_a, unix_b:
        try:
            opened = fds()
            for _ in range(100):
                assert annotate._enter_task() == armed
            assert fds() == opened
            os.write(write_end, b"p")
            unix_a.sendall(b"u")
            f.write(b"f")
            assert os.read(read_end, 1) == b"p" and unix_b.recv(1) == b"u"
        finally:
            os.close(read_end)
            os.close(write_end)
    sender, receiver = tcp_pair()
    with sender, receiver:
        assert annotate._enter_task() == armed + 2
    assert fds() == before


@linux_tcp
def test_task_arms_the_workers_tcp_socket(spark):
    """In a real Python worker the entry finds the TCP socket to the JVM.
    The probe tokenizer returns how many TCP socket fds the entry arms
    there as its one token's word."""
    def probe(text):
        from python_mecab_ner_spark.operators import annotate
        n = annotate._enter_task()
        return [{"word": str(n), "pos": "SN", "has_jongseong": None,
                 "reading": str(n), "type": None, "space": 0,
                 "mecab_token": 0, "mecab_compound": 0, "begin": 0,
                 "end": 1, "label": "O"}]

    bc = spark.sparkContext.broadcast([("ner_example_location_city", "c",
                                        "서울", "서울")])
    df = spark.createDataFrame([("u1", "서울"), ("u2", "네팔")],
                               "url string, text string")
    got = annotate.annotate_pages(df, bc, tokenizer=probe).collect()
    assert len(got) == 2 and all(int(r.extracted_text) >= 1 for r in got), got
    bc.unpersist()
