"""Seeded input generators, their on-disk cache, and the output digest.

- Pages: rows [seed*N, (seed+1)*N) of `datagen.gen_pages_range`,
  generated in this process (no Spark session, so a cache miss costs
  no JVM launch) into the files `spark.range` partitions would give.
- Near-dup corpus: Zipf (s = ZIPF_S) words over a VOCAB-word
  vocabulary, documents of 50-400 words, plus DUP_FRAC planted
  near-duplicate copies with SUB_FRAC of their words substituted.  The
  planted (source, copy) pairs are recorded.

Both are cached per (seed, size) under `perfbench/.cache`, which git
ignores; the cache keeps the few most recent entries of each kind.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import string

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

CACHE_KEEP = 4
PAGE_FILES = 8
VOCAB = 20_000
DUP_FRAC = 0.10
SUB_FRAC = 0.05
ZIPF_S = 1.3
SHINGLE = 5  # the engine's shingle width in bytes
# the columns and types a Spark-written pages file has
PAGES_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])


def _publish(tmp: str, final: str, cache_dir: str, prefix: str) -> None:
    """Move a finished entry into place, then evict the oldest entries."""
    os.replace(tmp, final)
    os.utime(final)
    entries = sorted(
        (os.path.join(cache_dir, d) for d in os.listdir(cache_dir)
         if d.startswith(prefix) and not d.endswith(".tmp")),
        key=os.path.getmtime,
    )
    for old in entries[:-CACHE_KEEP]:
        shutil.rmtree(old, ignore_errors=True)


def pages_path(cache_dir: str, seed: int, n: int) -> str:
    """Parquet directory of the seed's N pages in the cache."""
    return os.path.join(cache_dir, f"pages-s{seed}-n{n}")


def make_pages(final: str, seed: int, n: int) -> None:
    """Generate the seed's N pages into the cache entry `final`, as
    PAGE_FILES parquet files that split the rows the way
    `spark.range(seed*N, (seed+1)*N, 1, PAGE_FILES)` splits them."""
    from batch3dfier_spark.datagen import gen_pages_range

    tmp = final + f".{os.getpid()}.tmp"
    os.makedirs(tmp)
    lo = seed * n
    for i in range(PAGE_FILES):
        pdf = gen_pages_range(lo + i * n // PAGE_FILES,
                              lo + (i + 1) * n // PAGE_FILES,
                              n_hosts=1000, max_sentences=8)
        # naive timestamps are UTC, the engine's session time zone
        pdf["warc_ts"] = pdf["warc_ts"].dt.tz_localize("UTC")
        pq.write_table(pa.Table.from_pandas(pdf, PAGES_SCHEMA,
                                            preserve_index=False),
                       os.path.join(tmp, f"part-{i:05d}.parquet"))
    _publish(tmp, final, os.path.dirname(final), "pages-")


def vocabulary(rng: np.random.Generator) -> np.ndarray:
    """VOCAB distinct lowercase words of 2-10 letters."""
    letters = np.array(list(string.ascii_lowercase))
    words: set[str] = set()
    out = []
    while len(out) < VOCAB:
        ln = int(rng.integers(2, 11))
        w = "".join(rng.choice(letters, ln))
        if w not in words:
            words.add(w)
            out.append(w)
    return np.array(out)


def near_dup_corpus(seed: int, n_docs: int) -> tuple[pd.DataFrame, list]:
    """(docs[doc_id, text], planted [(source_id, copy_id), ...]).

    Doc ids are a seeded permutation, so copies sit among the sources
    and both halves of the id range hold planted pairs."""
    rng = np.random.default_rng(seed)
    words = vocabulary(rng)
    cdf = np.cumsum(1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S)
    cdf /= cdf[-1]

    def draw(k: int) -> np.ndarray:
        return np.minimum(np.searchsorted(cdf, rng.random(k)), VOCAB - 1)

    n_dup = int(round(n_docs * DUP_FRAC))
    n_src = n_docs - n_dup
    docs = [draw(int(rng.integers(50, 401))) for _ in range(n_src)]
    sources = rng.choice(n_src, size=n_dup, replace=False)
    for s in sources:
        w = docs[s].copy()
        pos = rng.choice(len(w), size=max(1, int(round(SUB_FRAC * len(w)))),
                         replace=False)
        w[pos] = (w[pos] + 1 + draw(len(pos)) % (VOCAB - 1)) % VOCAB
        docs.append(w)
    ids = rng.permutation(n_docs).astype(np.int64)
    text = [" ".join(words[d]) for d in docs]
    planted = [(int(ids[s]), int(ids[n_src + j]))
               for j, s in enumerate(sources)]
    return pd.DataFrame({"doc_id": ids, "text": text}), planted


def near_dup_path(cache_dir: str, seed: int, n: int) -> tuple[str, list]:
    """Parquet file of the seed's corpus plus its planted pairs."""
    final = os.path.join(cache_dir, f"neardup-s{seed}-n{n}")
    if not os.path.isdir(final):
        tmp = final + f".{os.getpid()}.tmp"
        os.makedirs(tmp, exist_ok=True)
        docs, planted = near_dup_corpus(seed, n)
        docs.to_parquet(os.path.join(tmp, "docs.parquet"), index=False)
        with open(os.path.join(tmp, "planted.json"), "w") as f:
            json.dump(planted, f)
        _publish(tmp, final, cache_dir, "neardup-")
    os.utime(final)
    with open(os.path.join(final, "planted.json")) as f:
        planted = [tuple(p) for p in json.load(f)]
    return os.path.join(final, "docs.parquet"), planted


def digest(rows) -> str:
    """Order-independent digest of an iterable of row tuples: the count
    plus the sum (mod 2^64) of each row's sha256 prefix.  Floats are
    rounded to 6 places so summation order inside Spark cannot show."""
    total, n = 0, 0
    for r in rows:
        vals = (v.item() if isinstance(v, np.generic) else v for v in r)
        norm = tuple(round(v, 6) if isinstance(v, float) else v for v in vals)
        h = hashlib.sha256(repr(norm).encode()).digest()
        total = (total + int.from_bytes(h[:8], "big")) & (2**64 - 1)
        n += 1
    return f"{n}:{total:016x}"


def shingle_jaccard(a: str, b: str) -> float:
    """Exact SHINGLE-byte shingle Jaccard, recomputed without the engine's
    hashing (short texts are zero-padded to SHINGLE, as the engine does)."""

    def sh(t: str) -> set[bytes]:
        x = t.encode("utf-8", "ignore").ljust(SHINGLE, b"\x00")
        return {x[i:i + SHINGLE] for i in range(len(x) - SHINGLE + 1)}

    sa, sb = sh(a), sh(b)
    return len(sa & sb) / len(sa | sb)
