"""Executor-side state of the annotate stage, mostly driven without Spark
through the same per-page kernel call and batch emitter that
annotate_pages' mapInArrow runs: a batch triggers no cyclic-GC
collection, a worker keeps one automaton per search category, not one
per broadcast, and a task leaves no zipimporter in the worker's import
cache for the next task's importlib.invalidate_caches() to re-read."""

import gc
import importlib
import sys
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
