"""Training-sequence packing and chunking goldens."""


from python_mecab_ner_spark.operators.pack import pack_sequences


def test_pack_sequences_single_bucket_golden(spark):
    d = spark.createDataFrame(
        [(1, 300), (2, 300), (3, 100), (4, 600)],
        "doc_id int, n_tokens int")
    out = pack_sequences(d, "doc_id", "n_tokens", budget=512, n_buckets=1)
    got = {r.doc_id: (r.bin_id, r.start_off, r.spill_bins)
           for r in out.collect()}
    assert got == {1: (0, 0, 0),       # [0, 300)
                   2: (0, 300, 1),     # [300, 600) straddles 512
                   3: (1, 88, 0),      # [600, 700)
                   4: (1, 188, 1)}     # [700, 1300) straddles 1024


def test_pack_sequences_partitioning_invariant(spark):
    d = spark.createDataFrame([(i, (i * 13) % 97 + 1) for i in range(100)],
                              "doc_id int, n_tokens int")
    a = {r.doc_id: (r.bucket, r.bin_id, r.start_off)
         for r in pack_sequences(d, "doc_id", "n_tokens", 128,
                                 n_buckets=4).collect()}
    b = {r.doc_id: (r.bucket, r.bin_id, r.start_off)
         for r in pack_sequences(d.repartition(7), "doc_id", "n_tokens",
                                 128, n_buckets=4).collect()}
    assert a == b
    # each bucket is an independent stream: its first doc starts at slot 0
    firsts = {}
    for doc_id in sorted(a):
        bucket = a[doc_id][0]
        firsts.setdefault(bucket, a[doc_id][1:])
    assert all(v == (0, 0) for v in firsts.values())


# ---- overlapping chunking -------------------------------------------------

def test_chunk_documents_golden(spark):
    from python_mecab_ner_spark.operators.pack import chunk_documents
    docs = [
        (1, "a b c d e f g h i j"),   # 10 toks, size 4 stride 3
        (2, "x"),                      # single token -> one chunk
        (3, "   "),                    # whitespace-only -> no chunks
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    rows = chunk_documents(d, "text", "doc_id", size=4, stride=3).collect()
    got = {(r.doc_id, r.chunk_idx): r.chunk_toks for r in rows}
    # starts 0,3,6,9 -> lengths 4,4,4,1; overlap of 1 token per step
    assert got == {(1, 0): 4, (1, 1): 4, (1, 2): 4, (1, 3): 1,
                   (2, 0): 1}
    # fingerprints of overlapping chunks differ (content differs)
    fps = [r.chunk_fp for r in rows if r.doc_id == 1]
    assert len(set(fps)) == 4


def test_chunk_documents_is_shuffle_free(spark):
    from python_mecab_ner_spark.operators.pack import chunk_documents
    d = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    plan = (chunk_documents(d, "text", "doc_id")
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan
    assert "Generate" in plan  # the posexplode row-multiplier
