"""Executor-side state of the annotate stage, driven without Spark through
the same per-page kernel call and batch emitter that annotate_pages'
mapInArrow runs: a batch triggers no cyclic-GC collection, and a worker
keeps one automaton per search category, not one per broadcast."""

import gc
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
