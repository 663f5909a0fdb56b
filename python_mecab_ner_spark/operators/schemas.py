"""Explicit StructTypes for every engine table (SURVEY.md §1.2-§1.3:
the reference's implicit dataclass schemas become explicit Spark
schemas)."""

from pyspark.sql import types as T

PAGES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), False),
    T.StructField("html", T.BinaryType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
])

# the central nested type: one expanded morpheme token
# (reference MecabWordFeature, domain/mecab_domain.py:61-77)
TOKEN_STRUCT = T.StructType([
    T.StructField("word", T.StringType(), False),
    T.StructField("pos", T.StringType(), False),
    T.StructField("has_jongseong", T.BooleanType(), True),
    T.StructField("reading", T.StringType(), True),
    T.StructField("type", T.StringType(), True),
    T.StructField("space", T.IntegerType(), True),
    T.StructField("mecab_token", T.IntegerType(), True),
    T.StructField("mecab_compound", T.IntegerType(), True),
    T.StructField("begin", T.IntegerType(), True),
    T.StructField("end", T.IntegerType(), True),
    T.StructField("label", T.StringType(), True),
])

# slim projection of TOKEN_STRUCT: exactly the fields every
# context-table consumer reads (stats builds, neighbor scoring, BIO
# char alignment).  The full struct is ~3x the Arrow/cache payload and
# only the posseq surface-restore path needs it (reading/type/space).
CONTEXT_TOKEN_STRUCT = T.StructType([
    T.StructField("word", T.StringType(), False),
    T.StructField("pos", T.StringType(), False),
    T.StructField("begin", T.IntegerType(), True),
    T.StructField("end", T.IntegerType(), True),
])

MENTION_STRUCT = T.StructType([
    T.StructField("start", T.IntegerType(), False),
    T.StructField("end", T.IntegerType(), False),
    T.StructField("surface", T.StringType(), False),
    T.StructField("large", T.StringType(), False),
    T.StructField("small", T.StringType(), False),
])

SPAN_STRUCT = T.StructType([
    T.StructField("start", T.IntegerType(), False),
    T.StructField("end", T.IntegerType(), False),
    T.StructField("word", T.StringType(), False),
    T.StructField("large", T.StringType(), False),
    T.StructField("small", T.StringType(), False),
])

TRIPLE_STRUCT = T.StructType([
    T.StructField("subj", T.StringType(), False),
    T.StructField("pred", T.StringType(), False),
    T.StructField("obj", T.StringType(), False),
    T.StructField("subj_start", T.IntegerType(), False),
    T.StructField("subj_end", T.IntegerType(), False),
    T.StructField("obj_start", T.IntegerType(), False),
    T.StructField("obj_end", T.IntegerType(), False),
    T.StructField("conf", T.DoubleType(), False),
])


# tokenize_pages output: the full token arrays per page
TOKENIZED_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("tokens", T.ArrayType(TOKEN_STRUCT), True),
])


def annotated_schema(with_tokens=False) -> T.StructType:
    """with_tokens: False (no token column), True (full TOKEN_STRUCT),
    or "context" (slim CONTEXT_TOKEN_STRUCT)."""
    fields = [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("extracted_text", T.StringType(), True),
        T.StructField("mentions", T.ArrayType(MENTION_STRUCT), True),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT), True),
        T.StructField("triples", T.ArrayType(TRIPLE_STRUCT), True),
        T.StructField("n_tokens", T.IntegerType(), True),
    ]
    if with_tokens:
        struct = CONTEXT_TOKEN_STRUCT if with_tokens == "context" else TOKEN_STRUCT
        fields.insert(4, T.StructField("tokens", T.ArrayType(struct), True))
    return T.StructType(fields)
