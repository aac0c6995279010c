"""WARC ingest/egress as Spark source operators — the table's upstream.

The engine's input contract is the Iceberg/parquet pages table
`(url, warc_ts, html, …)` (SURVEY.md §2.1 S3); what precedes that table
in every real Common-Crawl-style pipeline is a pile of `.warc.gz`
segments.  These operators are that boundary, built on the from-scratch
spec parser in `pycore/warc.py`:

- ``read_warc``: chunk rows (one WARC file/segment per row) -> page
  records.  At 100 TB the chunk column comes straight from
  ``spark.read.format("binaryFile").load("…/segments/*.warc.gz")`` —
  one task per ~1 GB segment, a pure scan-stage mapInArrow with ZERO
  shuffle; Common Crawl's per-record gzip members decompress inside the
  task.  Corrupt segment tails are quarantined per record (`truncated`
  counter via ``read_warc_stats``), never raised — a bad segment must
  not kill a 1000-executor stage.
- ``pages_to_warc``: page rows -> deterministic `.warc.gz` chunk bytes
  (per-record gzip members, mtime=0, warcinfo header record) — the
  egress/fixture direction that lets the driver oracle prove the
  roundtrip byte-identical (entry:warc_ingest).

The reference has no crawl/ingest concept (its input boundary is image
file paths, `main.py:169-196`); this is a beyond-reference source
operator in the spirit of its format allowlist (S2): content sniffing
stays magic-byte/header-driven, unparseable input becomes a counted
skip, never an exception.
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

_RECORD_FIELDS = [
    pa.field("url", pa.string()),
    pa.field("warc_ts", pa.int64()),
    pa.field("content_type", pa.string()),
    pa.field("payload", pa.binary()),
]
READ_WARC_SCHEMA = "url string, warc_ts long, content_type string, payload binary"
WARC_STATS_SCHEMA = "n_records long, n_skipped long, truncated boolean"
PAGES_TO_WARC_SCHEMA = "chunk binary, n_records long"


def _read_batches(n_passthrough: int):
    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from image_ocr_spark.pycore.warc import parse_warc

        for b in batches:
            chunks = b.column(0).to_pylist()
            urls, tss, cts, payloads = [], [], [], []
            reps = []  # records per chunk, for passthrough fan-out
            for chunk in chunks:
                recs = parse_warc(chunk or b"")["records"]
                reps.append(len(recs))
                for rec in recs:
                    urls.append(rec["url"])
                    tss.append(rec["warc_ts"])
                    cts.append(rec["content_type"])
                    payloads.append(rec["payload"])
            arrays = [
                pa.array(urls, pa.string()),
                pa.array(tss, pa.int64()),
                pa.array(cts, pa.string()),
                pa.array(payloads, pa.binary()),
            ]
            fields = list(_RECORD_FIELDS)
            for i in range(n_passthrough):
                col = b.column(1 + i)
                vals = col.to_pylist()
                fanned = [v for v, n in zip(vals, reps) for _ in range(n)]
                arrays.append(pa.array(fanned, col.type))
                fields.append(b.schema.field(1 + i))
            yield pa.RecordBatch.from_arrays(arrays, schema=pa.schema(fields))

    return gen


def read_warc(
    chunks: DataFrame,
    chunk_col: str = "chunk",
    passthrough: tuple = (),
) -> DataFrame:
    """(chunk binary) rows -> (url, warc_ts secs, content_type, payload).

    Scan-stage only: no shuffle, no driver traffic; the fat chunk column
    is the ONLY input column unless ``passthrough`` names slim lineage
    columns (e.g. binaryFile's ``path``) to fan out onto every record of
    their chunk — the per-segment lineage key a resumable ingest
    checkpoints on (operators/checkpoint.py).  Non-response / malformed
    records are dropped here (see ``read_warc_stats`` for the quarantine
    counters a production ingest writes to its manifest).
    """
    cols = [F.col(chunk_col).alias("chunk")] + [F.col(c) for c in passthrough]
    src = chunks.select(*cols)
    out_schema = READ_WARC_SCHEMA
    for f in src.schema.fields[1:]:
        out_schema += f", {f.name} {f.dataType.simpleString()}"
    return src.mapInArrow(_read_batches(len(passthrough)), out_schema)


def _stats_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    from image_ocr_spark.pycore.warc import parse_warc

    schema = pa.schema(
        [
            pa.field("n_records", pa.int64()),
            pa.field("n_skipped", pa.int64()),
            pa.field("truncated", pa.bool_()),
        ]
    )
    for b in batches:
        ns, sk, tr = [], [], []
        for chunk in b.column(0).to_pylist():
            parsed = parse_warc(chunk or b"")
            ns.append(len(parsed["records"]))
            sk.append(parsed["skipped"])
            tr.append(parsed["truncated"])
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(ns, pa.int64()),
                pa.array(sk, pa.int64()),
                pa.array(tr, pa.bool_()),
            ],
            schema=schema,
        )


def read_warc_stats(chunks: DataFrame, chunk_col: str = "chunk") -> DataFrame:
    """Per-chunk quarantine counters (records parsed / skipped / truncated
    tail) — the ingest-manifest row a resumable 100 TB load persists next
    to each segment (checkpoint.py discipline)."""
    return chunks.select(F.col(chunk_col).alias("chunk")).mapInArrow(
        _stats_batches, WARC_STATS_SCHEMA
    )


def _write_batches(max_chunk_bytes: int):
    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from image_ocr_spark.pycore.warc import (
            build_response_record,
            build_warc_gz,
            build_warcinfo_record,
        )

        schema = pa.schema(
            [pa.field("chunk", pa.binary()), pa.field("n_records", pa.int64())]
        )
        pending: list = []
        nbytes = 0

        def flush():
            nonlocal pending, nbytes
            if not pending:
                return None
            # warcinfo leads the segment (real file shape; parser skips it);
            # its date is the first response's date — deterministic, no clock
            first_ts = pending[0][1]
            records = [
                build_warcinfo_record(first_ts, {"software": "image-ocr-spark"})
            ] + [build_response_record(u, t, p, c) for (u, t, p, c) in pending]
            out = (build_warc_gz(records), len(pending))
            pending, nbytes = [], 0
            return out

        for b in batches:
            urls = b.column(0).to_pylist()
            tss = b.column(1).to_pylist()
            payloads = b.column(2).to_pylist()
            ctypes = b.column(3).to_pylist()
            for u, t, p, c in zip(urls, tss, payloads, ctypes):
                p = p or b""
                pending.append((u, int(t), p, c))
                nbytes += len(p)
                if nbytes >= max_chunk_bytes:
                    chunk, nrec = flush()
                    yield pa.RecordBatch.from_arrays(
                        [pa.array([chunk], pa.binary()), pa.array([nrec], pa.int64())],
                        schema=schema,
                    )
        done = flush()
        if done is not None:
            yield pa.RecordBatch.from_arrays(
                [pa.array([done[0]], pa.binary()), pa.array([done[1]], pa.int64())],
                schema=schema,
            )

    return gen


def pages_to_warc(
    pages: DataFrame, max_chunk_bytes: int = 64 << 20
) -> DataFrame:
    """Page rows -> (chunk `.warc.gz` bytes, n_records) — one or more
    chunks per partition, bounded by ``max_chunk_bytes`` of payload so a
    chunk row never approaches Arrow's 2 GiB array limit (the
    generate.py lesson).  Egress is scan-stage and shuffle-free; chunk
    bytes are a pure function of the partition's row sequence (gzip
    mtime=0, derived record ids), so a repartition(1)+sort input makes
    the whole file byte-deterministic (tested).

    ``content_type`` follows the pipeline's magic-byte sniff (S2): PDF
    payloads (%PDF-) are labeled application/pdf, everything else
    text/html — the same two-branch allowlist tokenize.py routes on.
    """
    rows = pages.select(
        F.col("url"),
        F.col("warc_ts").cast("long").alias("warc_ts_s"),
        F.col("html"),
        F.when(
            F.substring(F.col("html"), 1, 5) == F.lit(b"%PDF-"),
            F.lit("application/pdf"),
        )
        .otherwise(F.lit("text/html"))
        .alias("content_type"),
    )
    return rows.mapInArrow(_write_batches(max_chunk_bytes), PAGES_TO_WARC_SCHEMA)


def _warc_extract_batches(engine: str):
    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from image_ocr_spark.pycore.warc import parse_warc

        from .tokenize import _extract_fused

        def record_batches() -> Iterator[pa.RecordBatch]:
            schema = pa.schema(
                [pa.field("url", pa.string()), pa.field("html", pa.binary())]
            )
            for b in batches:
                urls: list = []
                htmls: list = []
                for chunk in b.column(0).to_pylist():
                    for rec in parse_warc(chunk or b"")["records"]:
                        urls.append(rec["url"])
                        htmls.append(rec["payload"])
                yield pa.RecordBatch.from_arrays(
                    [pa.array(urls, pa.string()), pa.array(htmls, pa.binary())],
                    schema=schema,
                )

        yield from _extract_fused(record_batches(), engine)

    return gen


def warc_extract(
    chunks: DataFrame, chunk_col: str = "chunk", engine: str = "auto"
) -> DataFrame:
    """WARC segment rows -> final extraction rows in ONE Python pass.

    The composed path (`read_warc` -> `extract_pages`) ships every
    payload byte across the Arrow boundary twice (records back to the
    JVM, html back into the tokenizer's Python stage); this fusion
    parses the segment and runs the same pycore tokenize+rollup+classify
    (`tokenize._extract_fused` — the kernel `extract_pages` runs) without
    the payload ever leaving the Python worker.  Output is byte-identical
    to `extract_pages` over the same pages (tested);
    `doc_id` is null — WARC records carry no fixture id.

    Skew note: granularity is the segment, so parallelism comes from
    segment count (~10^5 one-GB segments at 100 TB >> cores) rather than
    the record-level salt; a segment is the crawler's own write unit, so
    per-segment work is naturally bounded by segment size.

    Measured crossover (bench.py --warc-fused, interleaved best-of-3 on
    one pinned worker): at sf0.001 the fusion wins 1.43x (per-batch JVM
    round-trips dominate); at sf0.1 it is 0.93x @16 cpus and 0.95x @4
    cpus — the composed path's two chained mapInArrow stages run as
    SEPARATE Python workers per task, so gunzip+parse overlaps tokenize
    in a per-task pipeline that hides the extra copies once tasks are
    long, and the 4-cpu arm shows that holds even 2x-oversubscribed
    (8 worker processes on 4 pinned cores).  So composed is the
    wall-clock default at scale; what the fusion still buys is (a) peak
    memory — payload bytes exist in ONE Python heap instead of two
    workers plus the JVM Arrow buffers, and (b) half the resident Python
    workers per core — margins for memory-constrained executors, not
    speed.  Use the composed path when records must be materialized
    (e.g. checkpointed ingest) or for throughput at scale; use this one
    for latency on small batches or when worker memory is the binding
    constraint.
    """
    from .tokenize import FUSED_DDL

    return chunks.select(F.col(chunk_col).alias("chunk")).mapInArrow(
        _warc_extract_batches(engine), FUSED_DDL
    )
