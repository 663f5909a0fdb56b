"""Round-5 closeout additions: JSONL source with corrupt-record
ledger (q203) and Good-Turing count-of-counts (q202) — each against
Python twins / real files."""

import random
from collections import Counter

from pyspark.sql import functions as F

from python_mecab_ner_spark.operators.colloc import good_turing
from python_mecab_ner_spark.sources.jsonl import (
    CORRUPT_COL, parse_jsonl_lines, read_jsonl_ledger, write_jsonl)


# ------------------------------------------------------------------ jsonl

def test_jsonl_file_roundtrip_with_ledger(spark, tmp_path):
    rows = [(i, f"text {i} with\nnewline", f"s{i % 3}")
            for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, "
                                     "source string")
    clean = str(tmp_path / "clean")
    write_jsonl(df, clean, ["doc_id", "text", "source"], n_files=4)
    good, ledger = read_jsonl_ledger(
        spark, clean, "doc_id bigint, text string, source string")
    got = {(r["doc_id"], r["text"], r["source"])
           for r in good.collect()}
    assert got == set(rows)  # newline-bearing text survives exactly
    led = ledger.collect()
    assert sum(r["n_good"] for r in led) == 50
    assert sum(r["n_corrupt"] for r in led) == 0

    # now damage one shard file: truncate its first line
    import glob
    import os
    f = sorted(glob.glob(clean + "/part-*"))[0]
    lines = open(f).read().splitlines()
    lines[0] = lines[0][:15]
    open(f, "w").write("\n".join(lines))
    # drop the Hadoop checksum sidecar our in-place damage invalidated
    crc = os.path.join(os.path.dirname(f), "." + os.path.basename(f)
                       + ".crc")
    if os.path.exists(crc):
        os.remove(crc)
    good2, ledger2 = read_jsonl_ledger(
        spark, clean, "doc_id bigint, text string, source string")
    assert good2.count() == 49
    led2 = {r["file"].split("/")[-1]: (r["n_good"], r["n_corrupt"])
            for r in ledger2.collect()}
    assert sum(g for g, _ in led2.values()) == 49
    assert sum(c for _, c in led2.values()) == 1
    # the damaged file is identified, not just the total
    assert led2[f.split("/")[-1]][1] == 1


def test_parse_jsonl_lines_flags_malformed(spark):
    df = spark.createDataFrame(
        [(0, '{"a":1,"b":"x"}'), (1, '{"a":2,"b":"tr'),
         (2, "garbage"), (3, '{"a":null,"b":"ok"}')],
        "shard bigint, line string")
    out = parse_jsonl_lines(df, "a bigint, b string").collect()
    by = {r["shard"]: r for r in out}
    assert by[0][CORRUPT_COL] is None and by[0]["a"] == 1
    assert by[1][CORRUPT_COL] is not None
    assert by[2][CORRUPT_COL] is not None
    # a legitimate null field is NOT corrupt
    assert by[3][CORRUPT_COL] is None and by[3]["b"] == "ok"


# ------------------------------------------------------------ good-turing

def test_good_turing_matches_counter(spark):
    rng = random.Random(21)
    words = [f"w{rng.randrange(40)}" for _ in range(500)]
    counts = Counter(words)
    nr = Counter(counts.values())
    df = (spark.createDataFrame([(w,) for w in words], "word string")
          .groupBy("word").agg(F.count("*").alias("n")))
    got = {r["r"]: (r["n_types"], r["gt_ppm"])
           for r in good_turing(df).collect()}
    exp = {r: (n, ((r + 1) * nr.get(r + 1, 0) * 1_000_000) // n
               if nr.get(r + 1) else 0)
           for r, n in nr.items()}
    assert got == exp


def test_jsonl_streaming_ingest(spark, tmp_path):
    """parse_jsonl_lines is stateless, so the same corrupt-ledger
    contract holds on a STREAM: good rows flow to the sink with the
    corrupt column null, damaged lines arrive quarantined with their
    raw bytes — no line silently dropped, micro-batch or batch."""
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ck"))
    import json
    import os
    os.makedirs(src)
    with open(src + "/a.jsonl", "w") as f:
        for i in range(5):
            f.write(json.dumps({"doc_id": i, "text": f"t{i}"}) + "\n")
    with open(src + "/b.jsonl", "w") as f:
        f.write(json.dumps({"doc_id": 10, "text": "ok"}) + "\n")
        f.write('{"doc_id":11,"text":"tr\n')  # truncated line

    stream = (spark.readStream.format("text").load(src)
              .withColumnRenamed("value", "line"))
    parsed = parse_jsonl_lines(stream, "doc_id bigint, text string")
    q = (parsed.writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    got = spark.read.parquet(out)
    good = {(r["doc_id"], r["text"]) for r in
            got.where(F.col(CORRUPT_COL).isNull()).collect()}
    assert good == {(i, f"t{i}") for i in range(5)} | {(10, "ok")}
    bad = got.where(F.col(CORRUPT_COL).isNotNull()).collect()
    assert len(bad) == 1 and bad[0][CORRUPT_COL].startswith(
        '{"doc_id":11')
