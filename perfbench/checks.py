"""Correctness checks, run outside the timed region.

- :func:`span_mismatches`: per-document span-sequence equality
  ``(kind, text, media_ref, order)`` against the pandas oracle;
- :func:`digest_exprs`: an order-insensitive output digest (row count plus
  the sum of per-row 64-bit hashes) that Spark computes alongside a pass;
- :func:`frame_mismatches`: the DuckDB-oracle comparison rules of the
  tier-1 comparator (``tests/test_queries_vs_duckdb.py``): row count,
  column names, order-insensitive values, and an integer-vs-float dtype
  divergence counted as a failure.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import functions as F


def digest_exprs(*cols: str) -> list:
    """Aggregates for ``DataFrame.observe``/``agg``: ``rows`` and an
    order-insensitive ``digest`` of the given columns."""
    return [
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum(F.xxhash64(*cols).cast("decimal(38,0)")), F.lit(0)).cast("string").alias("digest"),
    ]


def _media(m):
    return None if m is None or (isinstance(m, float) and math.isnan(m)) else m


def span_mismatches(nested: list, want: pd.DataFrame) -> list[str]:
    """Docs whose extracted span sequence differs from the oracle's.

    ``nested`` holds Spark rows ``(doc_id, spans[kind, text, media_ref,
    order])``; ``want`` is ``oracle.extract`` output (flat, one row per
    span)."""
    got = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], int(s["order"])) for s in r["spans"]]
        for r in nested
    }
    errs = []
    for doc_id, g in want.groupby("doc_id", sort=True):
        seq = [
            (k, t, _media(m), int(o))
            for k, t, m, o in zip(g["kind"], g["text"], g["media_ref"], g["order"])
        ]
        if got.get(doc_id) != seq:
            errs.append(f"span sequence differs from oracle: {doc_id}")
    for doc_id in sorted(set(got) - set(want["doc_id"])):
        errs.append(f"doc not in oracle output: {doc_id}")
    return errs


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    if df.empty:
        return df.reset_index(drop=True)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: None if v is None or (isinstance(v, float) and math.isnan(v)) else v)
    key = df[df.columns[0]].astype(str)
    for c in df.columns[1:]:
        key = key + "|" + df[c].astype(str)
    return df.iloc[key.argsort(kind="stable")].reset_index(drop=True)


def frame_mismatches(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    if len(got) != len(want):
        return [f"rows: spark={len(got)} oracle={len(want)}"]
    if sorted(got.columns) != sorted(want.columns):
        return [f"cols: spark={sorted(got.columns)} oracle={sorted(want.columns)}"]
    s, o = _canon(got), _canon(want)
    errs = []
    for c in s.columns:
        sv, ov = s[c], o[c]
        numeric = pd.api.types.is_numeric_dtype(sv) and pd.api.types.is_numeric_dtype(ov)
        if numeric and pd.api.types.is_float_dtype(sv) != pd.api.types.is_float_dtype(ov):
            errs.append(f"col {c}: int-vs-float dtype divergence (spark={sv.dtype} oracle={ov.dtype})")
        elif pd.api.types.is_float_dtype(sv) or pd.api.types.is_float_dtype(ov):
            a = pd.to_numeric(sv, errors="coerce")
            b = pd.to_numeric(ov, errors="coerce")
            bad = ~((a.isna() & b.isna()) | (a == b))
            if bad.any():
                errs.append(f"col {c}: {int(bad.sum())} value diffs")
        else:
            bad = sv.astype(str) != ov.astype(str)
            if bad.any():
                errs.append(f"col {c}: {int(bad.sum())} value diffs")
    return errs
