"""Structured-Streaming ingest: streaming triples must equal the
batch pipeline on the same pages, and incremental re-runs must
process only new files (exactly-once via checkpoint)."""

import pytest

from python_mecab_ner_spark.operators.annotate import (annotate_pages,
                                                       triples_table)
from python_mecab_ner_spark.sources.corpus import pages_dataframe
from python_mecab_ner_spark.sources.gazetteer import broadcast_rows
from python_mecab_ner_spark.streaming.ingest import run_ingest


@pytest.fixture(scope="module")
def bc(spark):
    return broadcast_rows(spark)


def _triple_set(df):
    return {(r.url, r.subj, r.pred, r.obj)
            for r in df.select("url", "subj", "pred", "obj").collect()}


def test_stream_equals_batch(spark, bc, tmp_path):
    pages = pages_dataframe(spark, 60, seed=7).select(
        "url", "warc_ts", "text", "lang")
    src = str(tmp_path / "pages")
    pages.write.parquet(src)

    q = run_ingest(spark, src, str(tmp_path / "out"),
                   str(tmp_path / "ckpt"), bc)
    assert q.awaitTermination(120)

    got = spark.read.parquet(str(tmp_path / "out"))
    want = triples_table(annotate_pages(pages, bc))
    assert _triple_set(got) == _triple_set(want)
    assert len(_triple_set(got)) > 0


def test_incremental_resume_processes_only_new_files(spark, bc, tmp_path):
    src, out, ckpt = (str(tmp_path / d) for d in ("pages", "out", "ckpt"))
    batch1 = pages_dataframe(spark, 30, seed=1).select(
        "url", "warc_ts", "text", "lang")
    batch1.write.parquet(src)
    assert run_ingest(spark, src, out, ckpt, bc).awaitTermination(120)
    n1 = spark.read.parquet(out).count()

    batch2 = pages_dataframe(spark, 30, seed=2).select(
        "url", "warc_ts", "text", "lang")
    batch2.write.mode("append").parquet(src)
    assert run_ingest(spark, src, out, ckpt, bc).awaitTermination(120)

    got = spark.read.parquet(out)
    assert got.count() > n1
    # exactly-once: no duplicated (url, subj, pred, obj) from reprocessing
    assert got.count() == got.select("url", "subj", "pred", "obj",
                                     "subj_start", "obj_start").distinct().count()
    # third run with NO new files adds nothing
    assert run_ingest(spark, src, out, ckpt, bc).awaitTermination(120)
    assert spark.read.parquet(out).count() == got.count()
