"""POS-sequence candidate generation (reference L7) as Spark stages:

1. learn_posseq_patterns — which POS sequences carry entities: the
   pos-seq of every training mention, one groupBy aggregation
   (reference get_pos_seq_category, mecab_category_storage.py:172-182).
2. posseq_candidates — broadcast the learned sequences as one
   Aho-Corasick automaton over POS tags (kernel/posseq.py) and scan
   every sentence's token array in a single Arrow-batched mapInPandas
   pass (reference contains() re-scans per key per sentence,
   :431-441).

This is the engine's recall path for surfaces NO gazetteer contains:
candidates from POS shape alone, to be accepted/rejected by the
evidence levels of the linking ladder (operators/linking.py brute).

Scale shape: the pattern table is a tiny aggregate (broadcast); the
scan is a narrow shuffle-free stage like annotate.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# per-executor scanner cache: broadcast id -> PosSeqScanner, for the
# latest broadcast only
_SCANNER_CACHE: dict = {}

CANDIDATE_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("start", T.IntegerType(), False),
    T.StructField("end", T.IntegerType(), False),
    T.StructField("pos_seq", T.StringType(), False),
    T.StructField("surface", T.StringType(), False),
])


def learn_posseq_patterns(context_df: DataFrame, mentions_df: DataFrame,
                          min_count: int = 1) -> DataFrame:
    """(pos_seq, n_mentions): the POS sequences of the training
    mentions — join context tokens into each span, order by idx,
    concatenate POS tags."""
    m = mentions_df.select("url", "start", "end")
    j = (m.join(context_df.select("url", "idx", "pos"), "url")
         .where((F.col("idx") >= F.col("start"))
                & (F.col("idx") < F.col("end"))))
    seqs = (j.groupBy("url", "start", "end")
            .agg(F.array_join(
                F.transform(F.array_sort(F.collect_list(F.struct("idx", "pos"))),
                            lambda s: s.pos), "+").alias("pos_seq")))
    return (seqs.groupBy("pos_seq")
            .agg(F.count("*").alias("n_mentions"))
            .where(F.col("n_mentions") >= min_count))


def _scanner(patterns_bc, bc_id):
    from ..kernel.posseq import PosSeqScanner
    sc = _SCANNER_CACHE.get(bc_id)
    if sc is None:
        sc = PosSeqScanner([tuple(p.split("+")) for p in patterns_bc.value])
        _SCANNER_CACHE.clear()
        _SCANNER_CACHE[bc_id] = sc
    return sc


def posseq_candidates(annotated_df: DataFrame, patterns_bc) -> DataFrame:
    """annotated (url, tokens) -> candidate spans (url, start, end,
    pos_seq, surface): one AC pass per sentence over the POS tags,
    longest-first non-overlap replay (kernel/posseq.py).

    patterns_bc: sc.broadcast(list[str]) of '+'-joined POS sequences.
    """
    bc_id = patterns_bc._jbroadcast.id()

    def process(batches):
        from ..kernel.tokenizer import restore_tokens
        scanner = _scanner(patterns_bc, bc_id)
        for pdf in batches:
            out = {k: [] for k in CANDIDATE_SCHEMA.fieldNames()}
            for row in pdf.itertuples(index=False):
                toks = row.tokens
                pos_tags = [t["pos"] for t in toks]
                for s, e, seq in scanner.scan(pos_tags):
                    out["url"].append(row.url)
                    out["start"].append(s)
                    out["end"].append(e)
                    out["pos_seq"].append(seq)
                    out["surface"].append(
                        " ".join(restore_tokens(list(toks[s:e]))))
            yield pd.DataFrame(out)

    return (annotated_df.select("url", "tokens")
            .mapInPandas(process, schema=CANDIDATE_SCHEMA))
