"""Declarative span/window operators — the SQL re-expression of the
reference's hand-rolled index loops (SURVEY.md §2.6):

- gaps_and_islands: maximal runs (reference gen_integrated_entity,
  mecab_ner.py:50-75) via the idx - row_number() grouping trick;
- nearest_join: entity-intent nearest pairing by index distance
  (reference get_matched, mecab_category_storage.py:598-616) as a
  rank-over-abs-distance join.

All pure DataFrame/SQL: Catalyst plans the shuffles; at scale each
window partitions by a high-cardinality key (url / user) so no single
partition grows with corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def gaps_and_islands(df: DataFrame, part_col: str, idx_col: str,
                     out_prefix: str = "run") -> DataFrame:
    """Rows of covered indexes -> one row per maximal consecutive run:
    (part_col, {out_prefix}_start, {out_prefix}_end inclusive, {out_prefix}_len)."""
    w = Window.partitionBy(part_col).orderBy(idx_col)
    grp = (F.col(idx_col) - F.row_number().over(w)).alias("_grp")
    return (df.select(part_col, F.col(idx_col).cast("long").alias(idx_col))
            .distinct()
            .select(part_col, idx_col, grp)
            .groupBy(part_col, "_grp")
            .agg(F.min(idx_col).alias(f"{out_prefix}_start"),
                 F.max(idx_col).alias(f"{out_prefix}_end"),
                 F.count("*").alias(f"{out_prefix}_len"))
            .drop("_grp"))


def nearest_join(left: DataFrame, right: DataFrame, on: list,
                 left_pos: str, right_pos: str, left_id: str,
                 tiebreakers: list | None = None,
                 suffix: str = "_r") -> DataFrame:
    """For each left row (identified by left_id), attach the single
    right row (same `on` keys) minimizing |left_pos - right_pos|; ties
    broken by right_pos then the caller's tiebreakers (pass a total
    order for determinism).

    Equi-join on the keys then rank-1 window; Catalyst plans a shuffled
    hash join on `on` — at scale the key set (url/user) is high
    cardinality, so this stays balanced.
    """
    r = right.select(*on, F.col(right_pos).alias(right_pos + suffix),
                     *[F.col(c).alias(c + suffix) for c in right.columns
                       if c not in on + [right_pos]])
    joined = left.join(r, on=on, how="inner")
    dist = F.abs(F.col(left_pos) - F.col(right_pos + suffix))
    order = [dist.asc(), F.col(right_pos + suffix).asc()]
    order += [F.col(c + suffix).asc() for c in (tiebreakers or [])]
    w = Window.partitionBy(left_id).orderBy(*order)
    return (joined.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))
