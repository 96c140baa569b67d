"""Seeded input generators for the benchmark workloads.

The program only ever receives the tables written here:

- a ``docs`` table (``doc_id``, ``spans``) for the extraction workloads.
  Span content and geometry are a pure function of ``doc_id``
  (``reading_the_unreadable_spark.synth``), so the seed picks the ids and
  every ``xl_every``-th id carries the ``XL`` broadsheet tag;
- ``documents``, ``events`` and ``orders`` parquet tables, shaped like the
  harness tables, for the curation queries.

Both are cached on disk under the benchmark's work directory.  A cache
key holds the generator fingerprint, the seed and the size knobs, so a
changed generator never reuses a stale corpus.
"""

from __future__ import annotations

import hashlib
import shutil
from collections.abc import Iterator
from pathlib import Path

import numpy as np
import pandas as pd

PERIODICALS = ["NS", "LDR", "MRT", "CLD", "EWJ", "SNSBL"]

DOCS_GEN_SCHEMA = (
    "doc_id string, spans array<struct<kind string, text string, "
    "media_ref string, offset int>>"
)


def _source_hash():
    """md5 seeded with this module's source: editing a generator here
    invalidates every cached input."""
    return hashlib.md5(Path(__file__).read_bytes())


def docs_fingerprint() -> str:
    """Generator fingerprint for the docs corpus: this module's source
    plus the full ``synth_page`` output (text and geometry) of a normal
    and an ``XL`` probe page, so a change to either invalidates the
    cache."""
    from reading_the_unreadable_spark.synth import synth_page

    h = _source_hash()
    for probe in ("NS-probe-1850-01-01_page_0", "LDR-XL-probe-1850-01-01_page_1"):
        for b in synth_page(probe):
            h.update(
                repr(
                    (b.kind, b.text, b.media_ref, b.offset, b.x1, b.y1, b.x2, b.y2, b.confidence)
                ).encode()
            )
    return h.hexdigest()[:10]


def doc_id(seed: int, i: int, xl_every: int) -> str:
    """The i-th doc id of a seeded corpus: periodical and date are drawn
    from the seed, every ``xl_every``-th doc is an ``XL`` broadsheet."""
    rng = np.random.default_rng([seed, i])
    per = PERIODICALS[int(rng.integers(len(PERIODICALS)))]
    year = 1800 + int(rng.integers(100))
    month = 1 + int(rng.integers(12))
    day = 1 + int(rng.integers(28))
    tag = "XL-" if i % xl_every == xl_every - 1 else ""
    return f"{per}-{tag}s{seed}-{year}-{month:02d}-{day:02d}_page_{i}"


def _gen_docs(seed: int, xl_every: int):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from reading_the_unreadable_spark.synth import synth_page

        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                did = doc_id(seed, int(i), xl_every)
                spans = [
                    {"kind": b.kind, "text": b.text, "media_ref": b.media_ref, "offset": b.offset}
                    for b in sorted(synth_page(did), key=lambda b: b.offset)
                ]
                rows.append({"doc_id": did, "spans": spans})
            yield pd.DataFrame(rows, columns=["doc_id", "spans"])

    return fn


def _publish(tmp: Path, final: Path) -> None:
    """Move a fully written directory into place (a killed run leaves
    only a ``.tmp`` directory, never a half-written cache entry)."""
    if final.exists():
        shutil.rmtree(final)
    tmp.rename(final)


def docs_table(spark, cache: Path, seed: int, n_docs: int, xl_every: int, files: int) -> Path:
    """Path of the seeded docs parquet, generated on the executors on a
    cache miss."""
    path = cache / f"docs-{docs_fingerprint()}-s{seed}-n{n_docs}-xl{xl_every}"
    if not (path / "_SUCCESS").exists():
        tmp = path.with_suffix(".tmp")
        (
            spark.range(0, n_docs, numPartitions=files)
            .mapInPandas(_gen_docs(seed, xl_every), schema=DOCS_GEN_SCHEMA)
            .write.mode("overwrite")
            .parquet(str(tmp))
        )
        _publish(tmp, path)
    return path


VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast the row "
    "agg key query a scan batch"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.412, 0.140, 0.149, 0.148, 0.151]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
ORDER_STATUS = ["F", "O", "P"]
ORDER_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Texts over the harness vocabulary: 10-100 words, a rare ``dup``
    token and ~0.16% exact-duplicate texts, 20 round-robin sources."""
    vocab = np.array(VOCAB + ["dup"])
    w = np.full(len(vocab), (1 - 0.0009) / (len(vocab) - 1))
    w[-1] = 0.0009
    lengths = rng.integers(10, 101, size=n)
    words = vocab[rng.choice(len(vocab), size=int(lengths.sum()), p=w)]
    offs = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(words[offs[i] : offs[i + 1]]) for i in range(n)]
    for i in rng.choice(n, size=max(n // 625, 1), replace=False):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))]
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(len(LANGS), size=n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _events(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Time-ordered events over 30 days, ~67 events per user, values
    exponential with mean 50."""
    secs = np.sort(rng.uniform(0, 30 * 86400, size=n))
    ts = pd.Timestamp("2024-01-01") + pd.to_timedelta(np.round(secs * 1e6).astype(np.int64), unit="us")
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": ts.astype("datetime64[us]"),
            "user_id": rng.integers(0, max(n // 67, 1), size=n).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), size=n)],
            "value": np.round(rng.exponential(50.0, size=n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)],
        }
    )


def _orders(rng: np.random.Generator, n: int, n_customers: int) -> pd.DataFrame:
    """Orders on whole days from 1995-01-01 to 2001-08-01; the event
    users are the first customer keys."""
    days = rng.integers(0, 2404, size=n)
    dates = pd.Timestamp("1995-01-01") + pd.to_timedelta(days, unit="D")
    return pd.DataFrame(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, n_customers, size=n).astype(np.int64),
            "o_orderstatus": np.array(ORDER_STATUS)[rng.integers(0, 3, size=n)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, size=n), 2),
            "o_orderdate": dates.astype("datetime64[us]"),
            "o_orderpriority": np.array(ORDER_PRIORITY)[rng.integers(0, 5, size=n)],
        }
    )


def curation_tables(cache: Path, seed: int, n_docs: int, n_events: int, n_orders: int) -> Path:
    """Directory holding ``documents``/``events``/``orders`` parquet in
    the harness layout (``<dir>/<name>.parquet``)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = cache / f"sf-{_source_hash().hexdigest()[:10]}-s{seed}-d{n_docs}-e{n_events}-o{n_orders}"
    if not (path / "_SUCCESS").exists():
        tmp = path.with_suffix(".tmp")
        if tmp.exists():
            shutil.rmtree(tmp)
        tmp.mkdir(parents=True)
        rng = np.random.default_rng(seed)
        events = _events(rng, n_events)
        tables = {
            "documents": _documents(rng, n_docs),
            "events": events,
            "orders": _orders(rng, n_orders, max(n_orders // 10, 1)),
        }
        for name, df in tables.items():
            pq.write_table(pa.Table.from_pandas(df, preserve_index=False), tmp / f"{name}.parquet")
        (tmp / "_SUCCESS").touch()
        _publish(tmp, path)
    return path
