"""WARC record synthesis + segmentation — the Common-Crawl ingestion
path of the crawl engine (north_star: "Iceberg table of
Common-Crawl-style job-posting pages").

A WARC file (ISO 28500) is a concatenation of records:

    WARC/1.0\r\n
    <header-name>: <value>\r\n ...
    Content-Length: N\r\n
    \r\n
    <N payload bytes>\r\n\r\n

Segmentation MUST be driven by Content-Length — a payload may itself
contain the bytes "WARC/1.0", so delimiter scanning is wrong by
design. That is exactly what the parser here does, and why it is a
Python (mapInPandas) stage: imperative byte-offset walking over a
binary blob is not expressible as a Column.

Shape at scale: records are built JVM-side as one Column expression;
docs group into bounded chunks (CHUNK_DOCS records each) so a chunk
blob is a few hundred KB regardless of corpus size — ONE shuffle on
the chunk key, then one Arrow-batched Python stage that walks each
blob. No collect, no driver involvement; 100 TB is just more chunks.

Reference: the Go crawler fetches and holds pages per-URL
(internal/module/vieclam24h/scraper.go:49-70 fetchHTML loop); this module is the
batch-ingest equivalent for WARC-packaged crawl dumps, built from the
public ISO 28500 / IIPC warc-specifications layout only.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CHUNK_DOCS = 32

PARSED_SCHEMA = ("rec_id long, content_length long, payload_md5 string")


def build_warc_chunks(df: DataFrame) -> DataFrame:
    """(chunk_id, blob): concatenated WARC/1.0 records, CHUNK_DOCS
    records per blob, built entirely JVM-side. Content-Length is the
    PAYLOAD BYTE count (octet_length — not the char count; the two
    diverge on any multibyte text). Records within a blob are ordered
    by key so the blob bytes are deterministic at any parallelism."""
    t = F.col("text")
    rec = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: "),
        F.col("doc_id").cast("string"),
        F.lit("\r\nContent-Length: "),
        F.octet_length(t).cast("string"),
        F.lit("\r\n\r\n"), t, F.lit("\r\n\r\n"))
    return (df.filter(t.isNotNull())
            .select((F.col("doc_id") / CHUNK_DOCS).cast("long")
                    .alias("chunk_id"),
                    F.struct(F.col("doc_id").alias("k"),
                             rec.alias("rec")).alias("s"))
            .groupBy("chunk_id")
            .agg(F.array_join(F.transform(F.array_sort(
                F.collect_list("s")), lambda s: s["rec"]), "")
                .alias("blob")))


def _parse_blob(data: bytes) -> list[tuple[int, int, str]]:
    """Walk one blob by Content-Length; returns (rec_id, n, md5hex)
    per record. Raises on malformed framing — a silent resync would
    hide corruption, and the oracle would catch it anyway."""
    out = []
    pos = 0
    while pos < len(data):
        hdr_end = data.find(b"\r\n\r\n", pos)
        if hdr_end < 0:
            raise ValueError(f"unterminated WARC header at byte {pos}")
        header = data[pos:hdr_end].decode("utf-8")
        lines = header.split("\r\n")
        if lines[0] != "WARC/1.0":
            raise ValueError(f"bad WARC version line: {lines[0]!r}")
        fields = dict(ln.split(": ", 1) for ln in lines[1:])
        n = int(fields["Content-Length"])
        rec_id = int(fields["WARC-Record-ID"])
        payload = data[hdr_end + 4:hdr_end + 4 + n]
        if len(payload) != n:
            raise ValueError(f"truncated payload for record {rec_id}")
        out.append((rec_id, n, hashlib.md5(payload).hexdigest()))
        pos = hdr_end + 4 + n + 4  # skip the \r\n\r\n record separator
    return out


def parse_warc_chunks(chunks: DataFrame) -> DataFrame:
    """Segment WARC blobs back into records: one Arrow-batched Python
    stage (mapInPandas), emitting (rec_id, content_length,
    payload_md5). The md5 is over the PAYLOAD BYTES, which is what
    both engines' md5(varchar) hashes, so the round-trip has a full
    SQL oracle: rec_id = doc_id, content_length = octet_length(text),
    payload_md5 = md5(text)."""
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for blob in pdf["blob"]:
                rows.extend(_parse_blob(blob.encode("utf-8")))
            yield pd.DataFrame(rows, columns=["rec_id", "content_length",
                                              "payload_md5"])

    return chunks.select("blob").mapInPandas(gen, schema=PARSED_SCHEMA)
