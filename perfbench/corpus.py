"""Seeded benchmark inputs: documents, pages and embeddings tables.

Every input is a pure function of ``(seed, sizes)``.  A fixed pool of
``POOL_SIZE`` source documents exists implicitly: source document ``s`` has
text ``source_text(s)``.  The workload seed picks which source documents
enter the corpus; the workload picks which replica ids ``r`` (0-9) each one
contributes.  Page ``doc_id = s * 10 + r`` is then built by
``fixtures.gen_pages.build_page`` -- the same mapping
``operators.generate.generate_pages(docs, replicas=10)`` uses -- so the
page kind is ``r`` and the natural kind mix is exact.

The library only ever sees the parquet tables written here.
"""

from __future__ import annotations

import hashlib
import os
import random
import re
from typing import Dict, List, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

POOL_SIZE = 1_000_000
REPLICAS = 10
# id offset of injected duplicates; equals operators.dedup.VARIANT_OFFSET,
# restated so the oracles share no code with the library
VARIANT_OFFSET = 1 << 40
EMB_DIM = 64

# generator sources whose change must invalidate any corpus built from them
GENERATOR_SOURCES = (
    "image_ocr_spark/fixtures/gen_pages.py",
    "image_ocr_spark/operators/generate.py",
    "perfbench/corpus.py",
)

# Vocabulary without the letters t and v: folded text can then never
# contain the ASCII classifier keywords (TEL, RECEIPT, INVOICE), so an
# article page classifies as "unknown" for every seed.
_LETTERS = "abcdefghijklmnopqrswxyz"
_LANGS = ("en", "de", "fr", "es", "ja", "zh")


def _vocabulary(n: int = 4000) -> List[str]:
    rng = random.Random(7)
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(_LETTERS) for _ in range(rng.randint(2, 9))))
    return sorted(words)


_VOCAB = _vocabulary()
# Zipf-like weights: a few very common words, a long tail of rare ones
_CUM_WEIGHTS = list(np.cumsum([1.0 / (i + 1) for i in range(len(_VOCAB))]))


def source_text(s: int) -> str:
    rng = random.Random(s)
    n = rng.randint(20, 120)
    return " ".join(rng.choices(_VOCAB, cum_weights=_CUM_WEIGHTS, k=n))


def source_lang(s: int) -> str:
    return _LANGS[s % len(_LANGS)]


def pick_sources(seed: int, n: int) -> List[int]:
    """The seed's choice of ``n`` distinct source documents (sorted)."""
    return sorted(random.Random(seed).sample(range(POOL_SIZE), n))


def generator_key(root: str, seed: int, tag: str) -> str:
    """Corpus identity: workload tag + seed + hash of the generator sources."""
    h = hashlib.sha256()
    for rel in GENERATOR_SOURCES:
        with open(os.path.join(root, rel), "rb") as fh:
            h.update(fh.read())
    return f"{tag}-s{seed}-g{h.hexdigest()[:12]}"


# ---------------------------------------------------------------------------
# pages
# ---------------------------------------------------------------------------

PAGE_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("lang", pa.string()),
        ("kind", pa.string()),
    ]
)


def page_rows(sources: Sequence[int], replica_ids: Sequence[int]) -> List[Dict]:
    """One row per (source, replica): build_page output plus its source text."""
    from image_ocr_spark.fixtures.gen_pages import build_page

    rows = []
    for s in sources:
        text, lang = source_text(s), source_lang(s)
        for r in replica_ids:
            doc_id = s * REPLICAS + r
            page = build_page(doc_id, text, lang)
            page["doc_id"] = doc_id
            page["text"] = text
            rows.append(page)
    return rows


def write_pages(rows: List[Dict], path: str, num_files: int) -> None:
    """Write pages in host-clustered crawl order (sorted by host, then url)
    as ``num_files`` contiguous files -- the hot host fills whole files, the
    layout the salted repartition exists to defuse."""
    from image_ocr_spark.fixtures.gen_pages import host_for

    ordered = sorted(rows, key=lambda p: (host_for(p["doc_id"]), p["url"]))
    os.makedirs(path, exist_ok=True)
    step = -(-len(ordered) // num_files)
    for i in range(num_files):
        part = ordered[i * step : (i + 1) * step]
        if not part:
            break
        table = pa.table(
            {
                "doc_id": [p["doc_id"] for p in part],
                "url": [p["url"] for p in part],
                "warc_ts": [p["warc_ts"] * 1_000_000 for p in part],
                "html": [p["html"] for p in part],
                "lang": [p["lang"] for p in part],
                "kind": [p["kind"] for p in part],
            },
            schema=PAGE_SCHEMA,
        )
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))


# ---------------------------------------------------------------------------
# near-dup documents + embeddings
# ---------------------------------------------------------------------------

DOC_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)

NUM_TEMPLATES = 4
TEMPLATE_SHARE = 0.3


def _templates() -> List[str]:
    return [source_text(POOL_SIZE + t) for t in range(NUM_TEMPLATES)]


def near_dup_docs(seed: int, n: int) -> List[Dict]:
    """documents rows: seed-chosen source texts, with a boilerplate-template
    slice -- ``TEMPLATE_SHARE`` of the docs are one of ``NUM_TEMPLATES``
    shared templates plus a short unique tail."""
    sources = pick_sources(seed, n)
    rng = random.Random(seed * 7919 + 1)
    # the seed picks which docs are templated; every template gets an equal
    # share of them, so the skewed buckets are the same size for every seed
    templated = sorted(rng.sample(range(n), int(n * TEMPLATE_SHARE)))
    template_of = {i: k % NUM_TEMPLATES for k, i in enumerate(templated)}
    templates = _templates()
    rows = []
    for i, s in enumerate(sources):
        if i in template_of:
            tail = source_text(s).split(" ")[:3]
            text = templates[template_of[i]] + " " + " ".join(tail)
        else:
            text = source_text(s)
        rows.append(
            {"doc_id": s, "text": text, "lang": source_lang(s),
             "source": f"src{s % 7}", "n_chars": len(text)}
        )
    return rows


def with_variants_py(rows: List[Dict]) -> Dict[int, str]:
    """Independent restatement of operators.dedup.with_variants: every doc
    plus one copy under id + offset whose first token is replaced."""
    out = {}
    for r in rows:
        t = r["text"] or ""
        out[r["doc_id"]] = t
        out[r["doc_id"] + VARIANT_OFFSET] = re.sub(r"^[^ ]+", "zzvariant", t, count=1)
    return out


def write_docs(rows: List[Dict], path: str) -> None:
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pylist(rows, schema=DOC_SCHEMA)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


def embeddings(seed: int, n: int, clusters: int = 32) -> Dict[int, np.ndarray]:
    """Clustered unit vectors for the seed's source ids, plus one exact
    duplicate of each under id + offset (the shape of __spark_entry__'s
    dedup_embedding query)."""
    ids = pick_sources(seed + 1, n)
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(clusters, EMB_DIM))
    labels = rng.permutation(np.arange(n) % clusters)  # equal-sized clusters for every seed
    vecs = centers[labels] + rng.normal(scale=0.6, size=(n, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out = {}
    for i, vid in enumerate(ids):
        out[vid] = vecs[i]
        out[vid + VARIANT_OFFSET] = vecs[i]
    return out


def write_embeddings(vecs: Dict[int, np.ndarray], path: str) -> None:
    os.makedirs(path, exist_ok=True)
    ids = sorted(vecs)
    table = pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array([vecs[i].tolist() for i in ids], pa.list_(pa.float32())),
        }
    )
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))
