"""WARC source: parse Common-Crawl-style WARC files into page rows.

The engine's input contract is an Iceberg/parquet table of pages
(url, warc_ts, html, text, ...) — but upstream, Common Crawl ships
WARC: concatenated records, each a ``WARC/1.0`` header block
(WARC-Target-URI, WARC-Date, Content-Length) followed by a
Content-Length-framed payload.  This module is the ingest edge that
turns raw WARC bytes into that page table.

Two parsers, same output schema (url, warc_ts, html):

* ``parse_warc_records`` — the CORRECT one: a mapInPandas
  (Arrow-batched, no per-row Python) sequential scanner that honors
  Content-Length byte framing, so payloads containing header-like
  bytes (or even the record magic) cannot cause false splits.  Use
  this for real crawl archives.
* ``parse_warc_jvm`` — the fast path: pure JVM split/regexp/substr in
  the scan stage (whole-stage codegen, zero Python).  It splits on
  the record magic, so it is only safe for payloads known not to
  contain ``"WARC/1.0\\r\\n"`` — WET-style extracted text, for
  example.  Offsets are CHARACTER-based post-decode; byte == char for
  ASCII payloads (test-pinned agreement with the byte-exact parser).

``synthesize_warc`` builds spec-shaped WARC bytes from a page table
(deterministic, for round-trip tests and the q145 oracle).

Scale shape: one WARC file per input row (the Common-Crawl layout is
~1 GB gzip members; upstream splitting into per-file rows is the
object-store lister's job), parsed in a single narrow stage — no
shuffle anywhere; records explode inside the stage.

Reference anchor: the reference reads its corpus via per-file text
readers (python_mecab_ner/service/mecab_storage.py file scans); this
is the web-scale generalization of that ingest edge.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_MAGIC = "WARC/1.0\r\n"
_HDR_END = "\r\n\r\n"

PAGE_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("html", T.BinaryType()),
])

_URI_RE = re.compile(rb"WARC-Target-URI: ([^\r\n]+)")
_DATE_RE = re.compile(rb"WARC-Date: ([^\r\n]+)")
_CLEN_RE = re.compile(rb"Content-Length: (\d+)")


def synthesize_warc(pages: DataFrame, url_col: str = "url",
                    ts_col: str = "warc_ts",
                    payload_col: str = "payload") -> DataFrame:
    """One WARC record per page row, ready to be grouped/concatenated
    into files: (url, rec) where rec is the spec-shaped record text.
    Content-Length counts payload BYTES (octet_length)."""
    date = F.date_format(F.col(ts_col), "yyyy-MM-dd'T'HH:mm:ss'Z'")
    rec = F.concat(
        F.lit(_MAGIC),
        F.lit("WARC-Type: response\r\n"),
        F.lit("WARC-Target-URI: "), F.col(url_col), F.lit("\r\n"),
        F.lit("WARC-Date: "), date, F.lit("\r\n"),
        F.lit("Content-Length: "),
        F.octet_length(F.col(payload_col)).cast("string"),
        F.lit(_HDR_END),
        F.col(payload_col), F.lit("\r\n\r\n"))
    return pages.select(F.col(url_col).alias("url"), rec.alias("rec"))


def _scan_blob(blob: bytes, strict: bool):
    """Sequential Content-Length-framed record scan of one file's
    bytes.  Yields (url, warc_ts, html) tuples; returns a ledger dict
    (records / bytes_consumed / total_bytes / malformed / aborted).

    Framing-failure policy: a record without Content-Length (or with
    no header terminator) cannot be skipped safely under byte framing
    — a payload may legally CONTAIN the record magic, so "resync at
    the next magic" can splice payload bytes into a fake record.
    strict=True (default) therefore ABORTS the rest of the file and
    says so in the ledger (aborted=True) — real-archive callers must
    check the ledger (parse_warc_ledger) rather than assume full
    coverage.  strict=False resyncs at the next magic AFTER the bad
    header and counts the failure in `malformed` — best-effort
    recovery for archives known not to embed the magic in payloads."""
    ledger = {"records": 0, "bytes_consumed": 0,
              "total_bytes": len(blob), "malformed": 0, "aborted": False}
    i = 0
    n = len(blob)
    magic = _MAGIC.encode()

    def records():
        nonlocal i
        while True:
            start = blob.find(magic, i)
            if start < 0 or start >= n:
                ledger["bytes_consumed"] = n if start < 0 else i
                return
            hdr_end = blob.find(_HDR_END.encode(), start)
            clen = _CLEN_RE.search(blob[start:hdr_end]) \
                if hdr_end >= 0 else None
            if clen is None:
                ledger["malformed"] += 1
                if strict:
                    ledger["aborted"] = True
                    ledger["bytes_consumed"] = start
                    return
                i = start + len(magic)   # resync at next magic
                continue
            hdr = blob[start:hdr_end]
            uri = _URI_RE.search(hdr)
            date = _DATE_RE.search(hdr)
            length = int(clen.group(1))
            body_start = hdr_end + len(_HDR_END)
            payload = blob[body_start:body_start + length]
            ts = None
            if date:
                ts = pd.Timestamp(date.group(1).decode("ascii"))
                if ts.tzinfo is not None:
                    ts = ts.tz_convert(None)
            ledger["records"] += 1
            yield (uri.group(1).decode("utf-8") if uri else None,
                   ts, payload)
            i = body_start + length
            ledger["bytes_consumed"] = min(i, n)

    return records(), ledger


def parse_warc_records(files: DataFrame, col: str = "warc",
                       strict: bool = True) -> DataFrame:
    """Byte-exact WARC parse: sequential Content-Length-framed scan of
    each file's bytes inside mapInPandas (Arrow batches; record
    parsing is pure python on the executor, never the driver).
    Accepts a binary or string column; emits (url, warc_ts, html).

    strict=True aborts a file at the first framing failure (safe under
    byte framing — see _scan_blob); use parse_warc_ledger to audit
    coverage.  strict=False resyncs at the next record magic."""
    idx = files.columns.index(col)

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for raw in pdf.iloc[:, idx]:
                blob = raw.encode("utf-8") if isinstance(raw, str) \
                    else bytes(raw)
                recs, _ = _scan_blob(blob, strict)
                rows.extend(recs)
            yield pd.DataFrame(rows, columns=["url", "warc_ts", "html"])

    return files.mapInPandas(parse, PAGE_SCHEMA)


LEDGER_SCHEMA = T.StructType([
    T.StructField("records", T.LongType()),
    T.StructField("bytes_consumed", T.LongType()),
    T.StructField("total_bytes", T.LongType()),
    T.StructField("malformed", T.LongType()),
    T.StructField("aborted", T.BooleanType()),
])


def parse_warc_ledger(files: DataFrame, col: str = "warc",
                      strict: bool = True) -> DataFrame:
    """Per-file parse ledger: one row per input file with
    (records, bytes_consumed, total_bytes, malformed, aborted) — the
    coverage audit a real-archive ingest MUST read before trusting
    parse_warc_records output (a strict-mode abort silently drops
    every record after the bad one; this is where it stops being
    silent).  Same narrow no-shuffle shape as the parser."""
    idx = files.columns.index(col)

    def audit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for raw in pdf.iloc[:, idx]:
                blob = raw.encode("utf-8") if isinstance(raw, str) \
                    else bytes(raw)
                recs, led = _scan_blob(blob, strict)
                for _ in recs:      # drain to fill the ledger
                    pass
                rows.append((led["records"], led["bytes_consumed"],
                             led["total_bytes"], led["malformed"],
                             led["aborted"]))
            yield pd.DataFrame(rows, columns=[f.name for f in
                                              LEDGER_SCHEMA.fields])

    return files.mapInPandas(audit, LEDGER_SCHEMA)


def parse_warc_jvm(files: DataFrame, col: str = "warc") -> DataFrame:
    """JVM fast-path WARC parse (whole-stage codegen, zero Python):
    split on the record magic, regexp header extraction, substr body
    slice by Content-Length.  CHARACTER offsets — safe only when
    payloads cannot contain the record magic and are ASCII (or when
    char == byte is otherwise guaranteed); the byte-exact twin above
    is the general path.  Input column must be string."""
    rec = F.explode(F.split(F.col(col), re.escape(_MAGIC))).alias("rec")
    recs = files.select(rec).where(F.col("rec") != "")
    hdr_end = F.locate(_HDR_END, F.col("rec"))
    clen = F.regexp_extract("rec", r"Content-Length: (\d+)", 1) \
        .cast("int")
    return recs.select(
        F.regexp_extract("rec", r"WARC-Target-URI: ([^\r\n]+)", 1)
        .alias("url"),
        F.to_timestamp(
            F.regexp_extract("rec", r"WARC-Date: ([^\r\n]+)", 1),
            "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("warc_ts"),
        F.col("rec").substr(hdr_end + F.lit(len(_HDR_END)), clen)
        .cast("binary").alias("html"))
