"""Deterministic, cached web-page corpus and its exact per-group values.

Pages come from the program's own generator, `sources.webpages`, whose
columns are pure functions of the page id.  The seed picks the id range
(seed * 2**32 onwards), so each seed is a different corpus with the same
shape: 12 Zipf-skewed languages, about 9.3k hosts, lognormal text
lengths.  Only the columns the workloads read are written (url, lang,
text), one parquet file per slice.

The cache key is (seed, pages, files, hash of the generator's source), so
a generator change never reuses stale files.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from common import STATE_DIR, log


def _generator_hash() -> str:
    from tdigest_spark.sources import webpages

    with open(webpages.__file__, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()[:16]


def ensure_corpus(seed: int, pages: int, files: int) -> tuple[str, float]:
    """Path of the cached corpus, generating it on a miss; and the seconds
    spent doing so."""
    from tdigest_spark.sources import webpages

    key = hashlib.sha256(
        f"{seed}/{pages}/{files}/{_generator_hash()}".encode()
    ).hexdigest()[:20]
    path = os.path.join(STATE_DIR, "corpus", key)
    t0 = time.perf_counter()
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        log(f"generating corpus: {pages} pages in {files} files -> {path}")
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        base = np.uint64(seed) << np.uint64(32)
        per = -(-pages // files)
        for f in range(files):
            lo, hi = f * per, min((f + 1) * per, pages)
            ids = base + np.arange(lo, hi, dtype=np.uint64)
            pdf = webpages._gen_batch(ids)[["url", "lang", "text"]]
            pq.write_table(
                pa.Table.from_pandas(pdf, preserve_index=False),
                os.path.join(tmp, f"part-{f:04d}.parquet"),
            )
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
        open(os.path.join(path, "_SUCCESS"), "w").close()
    return path, time.perf_counter() - t0


def corpus_files(path: str) -> list[str]:
    return sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
    )


def prewarm(files: list[str]) -> None:
    """Read every file once, so no timed scan pays a cold page cache."""
    for f in files:
        with open(f, "rb") as fh:
            while fh.read(1 << 22):
                pass


def host_of(urls: pd.Series) -> pd.Series:
    """The url's host without its shard number ("news.en.example" for
    "news-17.en.example"), as `w_spark` computes it in Spark."""
    return urls.str.split("/", n=3).str[2].str.replace(r"-[0-9]+\.", ".", regex=True)


def read_values(files: list[str], key: str) -> list[pd.DataFrame]:
    """Per file: a frame of (key, len) in file order, len being the text
    length in characters as Spark's `length()` counts them."""
    out = []
    for f in files:
        t = pq.read_table(f, columns=["url", "lang", "text"])
        lens = pc.utf8_length(t["text"]).to_numpy().astype(np.float64)
        if key == "host":
            k = host_of(t["url"].to_pandas())
        else:
            k = t["lang"].to_pandas()
        out.append(pd.DataFrame({key: k.to_numpy(), "len": lens}))
    return out


def exact_by_group(frames: list[pd.DataFrame], key: str) -> dict:
    """group -> sorted exact values over the whole corpus."""
    allv = pd.concat(frames, ignore_index=True)
    return {
        g: np.sort(allv["len"].to_numpy()[idx])
        for g, idx in allv.groupby(key, sort=True).indices.items()
    }
