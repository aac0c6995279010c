"""Expected outputs, computed without the code under test.

- crawl_extract: ``fixtures.gen_pages.expected_text``, the closed-form
  per-page text, folded into the same (count, chars, text-hash) digest the
  Spark pass aggregates.
- docs_to_results: ``gen_pages.receipt_values`` / ``invoice_values``
  ground truth plus the expected text, checked per url in the JSON rows.
- near_dup: plain-Python/numpy restatements of the MinHash-LSH, n-gram
  Jaccard and SimHash pair definitions (parameters are the library's
  production defaults, restated here), and brute-force cosine for the
  embedding pairs.
"""

from __future__ import annotations

import hashlib
import json
from collections import defaultdict
from typing import Dict, Iterable, List, Set, Tuple

import numpy as np

from corpus import VARIANT_OFFSET

HASH_HEX = 10  # hex digits of md5 per url: sums of 40-bit values fit a long


def url_text_hash(url: str, text: str) -> int:
    """Per-url text hash; the Spark side computes the same value with
    conv(substring(md5(concat_ws('\\u0001', url, text)), 1, 10), 16, 10)."""
    raw = (url + "\u0001" + text).encode("utf-8")
    return int(hashlib.md5(raw).hexdigest()[:HASH_HEX], 16)


def crawl_digest(rows: List[Dict]) -> Tuple[int, ...]:
    """(docs, text chars, text-hash sum, receipts, invoices, title chars)."""
    from image_ocr_spark.fixtures.gen_pages import expected_text, expected_title

    chars = hsum = titles = 0
    for p in rows:
        t = expected_text(p["doc_id"], p["text"])
        chars += len(t)
        hsum += url_text_hash(p["url"], t)
        titles += len(expected_title(p["doc_id"]) or "")
    receipts = sum(p["kind"] == "receipt" for p in rows)
    invoices = sum(p["kind"] == "invoice" for p in rows)
    return len(rows), chars, hsum, receipts, invoices, titles


def results_mismatches(rows: List[Dict], json_by_url: Dict[str, str]) -> List[str]:
    """URLs whose JSON result disagrees with the generator's ground truth."""
    from image_ocr_spark.fixtures.gen_pages import (
        expected_text,
        invoice_values,
        receipt_values,
    )

    bad = []
    if len(json_by_url) != len(rows):
        bad.append(f"rows {len(json_by_url)} != {len(rows)}")
    for p in rows:
        doc_id, url = p["doc_id"], p["url"]
        js = json_by_url.get(url)
        if js is None:
            bad.append(url)
            continue
        d = json.loads(js)
        ok = d.get("抽出テキスト", "") == expected_text(doc_id, p["text"])
        if p["kind"] == "receipt":
            v = receipt_values(doc_id)
            r = d.get("領収書データ") or {}
            ok = ok and d.get("文書タイプ") == "receipt" and d.get("成功") is True
            ok = ok and r.get("合計金額") == v["total"] and r.get("小計") == v["subtotal"]
            ok = ok and r.get("税額詳細") == {
                "8%対象額": v["tax8_base"], "10%対象額": v["tax10_base"]
            }
        elif p["kind"] == "invoice":
            v = invoice_values(doc_id)
            r = d.get("請求書データ") or {}
            ok = ok and d.get("文書タイプ") == "invoice" and d.get("成功") is True
            ok = ok and r.get("請求金額") == v["total"] and r.get("税抜金額") == v["subtotal"]
            ok = ok and r.get("消費税額") == v["tax"]
            ok = ok and r.get("請求書番号") == f"INV-2024-{doc_id:06d}"
        else:
            ok = ok and d.get("文書タイプ") == "unknown" and d.get("成功") is False
        if not ok:
            bad.append(url)
    return bad


# ---------------------------------------------------------------------------
# near-dup pair definitions
# ---------------------------------------------------------------------------

SHINGLE_N = 3
MERSENNE31 = 2147483647
PERM_A = [3, 5, 7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43, 47, 53, 59]
PERM_B = [1 << i for i in range(16)]
BANDS = 4
NGRAM_THRESHOLD_MILLI = 500
NGRAM_MAX_DF = 64
SIMHASH_BITS = 60
SIMHASH_CHUNKS = 4
SIMHASH_MAX_HAMMING = 3
EMB_THRESHOLD = 0.99

Pair = Tuple[int, int]


def _md5_int(s: str, hex_digits: int) -> int:
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:hex_digits], 16)


def shingle_hashes(text: str) -> List[int]:
    """Distinct word-trigram md5 hashes (a text shorter than n words is one
    shingle)."""
    toks = text.split(" ")
    m = max(1, len(toks) - (SHINGLE_N - 1))
    grams = {" ".join(toks[i : i + SHINGLE_N]) for i in range(m)}
    return sorted({_md5_int(g, 8) for g in grams})


def pair_digest(pairs: Iterable[Tuple[int, int, int]]) -> Tuple[int, int]:
    """(count, checksum) over (id_a, id_b, score) rows; the Spark side sums
    the same expression."""
    n = s = 0
    for a, b, score in pairs:
        n += 1
        s += (a % 1000003) * 7919 + (b % 1000003) * 31 + score
    return n, s


def minhash_lsh_pairs(texts: Dict[int, str], max_bucket: int) -> Set[Pair]:
    rows = len(PERM_A) // BANDS
    a = np.array(PERM_A, dtype=np.int64)[:, None]
    b = np.array(PERM_B, dtype=np.int64)[:, None]
    buckets: Dict[Tuple[int, str], List[int]] = defaultdict(list)
    for doc, text in texts.items():
        h = np.array(shingle_hashes(text), dtype=np.int64)
        sig = ((a * h + b) % MERSENNE31).min(axis=1).tolist()
        for band in range(BANDS):
            key = "_".join(str(v) for v in sig[band * rows : (band + 1) * rows])
            buckets[(band, key)].append(doc)
    out: Set[Pair] = set()
    for members in buckets.values():
        members.sort()
        if len(members) > max_bucket:
            hub = members[0]
            out.update((hub, m) for m in members[1:])
        else:
            out.update(
                (members[i], members[j])
                for i in range(len(members))
                for j in range(i + 1, len(members))
            )
    return out


def ngram_jaccard_pairs(texts: Dict[int, str]) -> Dict[Pair, int]:
    sh = {doc: set(shingle_hashes(t)) for doc, t in texts.items()}
    posting: Dict[int, List[int]] = defaultdict(list)
    for doc, hs in sh.items():
        for h in hs:
            posting[h].append(doc)
    cand: Set[Pair] = set()
    for docs in posting.values():
        if len(docs) <= NGRAM_MAX_DF:
            docs.sort()
            cand.update(
                (docs[i], docs[j]) for i in range(len(docs)) for j in range(i + 1, len(docs))
            )
    out = {}
    for x, y in cand:
        inter = len(sh[x] & sh[y])
        jac = (1000 * inter) // (len(sh[x]) + len(sh[y]) - inter)
        if jac >= NGRAM_THRESHOLD_MILLI:
            out[(x, y)] = jac
    return out


def simhash(text: str, token_hash: Dict[str, int]) -> int:
    """Bit b is set iff more tokens (with multiplicity) have hash bit b set
    than clear."""
    hs = []
    for tok in text.split(" "):
        if tok not in token_hash:
            token_hash[tok] = _md5_int(tok, 15)
        hs.append(token_hash[tok])
    bits = (np.array(hs, dtype=np.int64)[:, None] >> np.arange(SIMHASH_BITS)) & 1
    votes = (2 * bits - 1).sum(axis=0)
    return sum(1 << b for b in range(SIMHASH_BITS) if votes[b] > 0)


def simhash_pairs(texts: Dict[int, str]) -> Dict[Pair, int]:
    width = SIMHASH_BITS // SIMHASH_CHUNKS
    token_hash: Dict[str, int] = {}
    fps = {doc: simhash(t, token_hash) for doc, t in texts.items()}
    buckets: Dict[Tuple[int, int], List[int]] = defaultdict(list)
    for doc, fp in fps.items():
        for c in range(SIMHASH_CHUNKS):
            buckets[(c, (fp >> (c * width)) & ((1 << width) - 1))].append(doc)
    out = {}
    for docs in buckets.values():
        docs.sort()
        for i in range(len(docs)):
            for j in range(i + 1, len(docs)):
                ham = bin(fps[docs[i]] ^ fps[docs[j]]).count("1")
                if ham <= SIMHASH_MAX_HAMMING:
                    out[(docs[i], docs[j])] = ham
    return out


def embedding_pair_errors(vecs: Dict[int, np.ndarray], found: Set[Pair]) -> List[str]:
    """IVF blocking may miss pairs, so the check is two-sided but loose:
    every reported pair must really be near-identical (brute-force cosine),
    and every injected exact duplicate must be reported."""
    errors = []
    for a, b in found:
        va, vb = vecs.get(a), vecs.get(b)
        if va is None or vb is None:
            errors.append(f"unknown pair {a},{b}")
            continue
        cos = float(np.dot(va, vb) / (np.linalg.norm(va) * np.linalg.norm(vb)))
        if cos < EMB_THRESHOLD - 1e-3:
            errors.append(f"pair {a},{b} cos {cos:.4f}")
    for vid in vecs:
        if vid < VARIANT_OFFSET and (vid, vid + VARIANT_OFFSET) not in found:
            errors.append(f"missed duplicate {vid}")
    return errors
