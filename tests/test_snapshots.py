"""Snapshot versioning + time travel over the graph tables
(sources.catalog): versioned immutable commits, latest/pinned reads,
incremental diff — the honest Parquet subset of the Iceberg table
format the north rule targets (no fake Iceberg metadata).
"""

import pytest
from pyspark.sql import functions as F

from python_mecab_ner_spark.sources.catalog import (read_snapshot,
                                                    snapshot_diff,
                                                    snapshot_versions,
                                                    snapshot_write)


def test_snapshot_commit_time_travel_and_diff(spark, tmp_path):
    base = str(tmp_path / "tbl")
    v1_df = spark.range(10).select(F.col("id"), (F.col("id") * 2).alias("x"))
    assert snapshot_write(v1_df, base) == 1

    # v2: drop ids 0-1, add ids 10-12
    v2_df = (spark.range(2, 13)
             .select(F.col("id"), (F.col("id") * 2).alias("x")))
    assert snapshot_write(v2_df, base) == 2
    assert snapshot_versions(spark, base) == [1, 2]

    # latest read = v2; pinned read = v1 (time travel)
    assert read_snapshot(spark, base).count() == 11
    assert {r[0] for r in read_snapshot(spark, base, 1)
            .select("id").collect()} == set(range(10))

    diff = {(r["op"], r["id"]) for r in
            snapshot_diff(spark, base, 1, 2, ["id"]).collect()}
    assert diff == ({("added", i) for i in (10, 11, 12)}
                    | {("removed", i) for i in (0, 1)})

    with pytest.raises(ValueError):
        read_snapshot(spark, base, 99)

    # the temporal layer consumes the same manifest: stacked
    # snapshot versions -> per-key lifespan against the latest commit
    from python_mecab_ner_spark.operators.temporal import (
        lifespan_of_snapshots)
    life = {r.id: (r.first_seen, r.last_seen, r.is_current)
            for r in lifespan_of_snapshots(spark, base,
                                           ["id"]).collect()}
    assert life[0] == (1, 1, 0)    # dropped by v2
    assert life[5] == (1, 2, 1)    # in both
    assert life[12] == (2, 2, 1)   # born in v2


def test_orphan_snapshot_dir_is_invisible(spark, tmp_path):
    """Crash between data write and manifest commit leaves an orphan
    v-dir; manifest-driven readers must never see it."""
    base = str(tmp_path / "tbl")
    snapshot_write(spark.range(5), base)
    # simulate the crash: v=2 data exists, no manifest row
    spark.range(99).write.parquet(f"{base}/v=2")
    assert snapshot_versions(spark, base) == [1]
    assert read_snapshot(spark, base).count() == 5
    # the NEXT commit must not collide with the orphan: version 2 is
    # burned (errorifexists) -> commit fails loudly, not silently
    with pytest.raises(Exception):
        snapshot_write(spark.range(7), base)


def test_graph_edges_snapshot_recrawl_changelog(spark, tmp_path):
    """The KG-maintenance story: materialize the edge table as
    snapshot v1 (crawl 1), v2 (recrawl with changed pages), then read
    the changelog — recrawl churn shows up as added/removed edge keys
    and unchanged pages contribute nothing."""
    from python_mecab_ner_spark.plans.pipeline import extract_graph
    from python_mecab_ner_spark.sources.corpus import (pages_dataframe,
                                                       recrawl_pages)

    base = str(tmp_path / "edges")
    cols = ["url", "warc_ts", "text", "lang"]
    key = ["url", "src_id", "pred", "dst_id"]

    crawl1 = pages_dataframe(spark, 40, seed=7, partitions=2).select(*cols)
    g1 = extract_graph(spark, crawl1, canonicalize=False)
    snapshot_write(g1["edges"].select(*key), base)
    g1["release"]()

    crawl2 = recrawl_pages(spark, 40, seed=7, overlap_start=0,
                           change_mod=4, ts_shift_min=0,
                           partitions=2).select(*cols)
    g2 = extract_graph(spark, crawl2, canonicalize=False)
    snapshot_write(g2["edges"].select(*key), base)
    g2["release"]()

    changed_urls = {r[0] for r in crawl2.subtract(crawl1)
                    .select("url").collect()}
    assert changed_urls  # change_mod=4 over 40 docs -> 10 changed

    diff = snapshot_diff(spark, base, 1, 2, key)
    diff_urls = {r["url"] for r in diff.select("url").distinct().collect()}
    # every diff row comes from a changed page, never an unchanged one
    assert diff_urls <= changed_urls
