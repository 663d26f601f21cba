"""Correctness checks, run outside the timed region.

Each check returns ``None`` when the output is right and a one-line reason
when it is not; the caller counts the operation as failed on a reason.
"""

from __future__ import annotations

import math
import os

class StandingFault(str):
    """The reason for a failure the program produces on every run, whatever
    the seed, because of a known fault: the operation counts as failed,
    but the outputs of the operations that did not fail are still correct."""


STAR_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _canon(v):
    if type(v).__name__ == "ndarray":
        v = list(v)
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if type(v).__module__ == "numpy" and hasattr(v, "item"):
        v = v.item()
    if hasattr(v, "is_nan") and hasattr(v, "as_tuple"):  # decimal.Decimal
        v = float(v)
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, float) and math.isnan(v):
        return None  # pandas turns a NULL in a numeric column into NaN
    if v is None:
        return None
    if type(v).__name__ in ("Timestamp", "datetime"):
        return str(v)[:26]
    return v


def _key(v):
    """Sort key that puts equal-within-tolerance floats side by side."""
    if isinstance(v, tuple):
        return tuple(_key(x) for x in v)
    if isinstance(v, float):
        return (1, f"{v:.4g}")
    if v is None:
        return (0, "")
    return (2, str(v))


def _close(a, b) -> bool:
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) and not (
        isinstance(a, int) and isinstance(b, int)
    ):
        return math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-6)
    return a == b


def same_rows(cols_a, rows_a, cols_b, rows_b) -> str | None:
    """Compare two results as multisets of rows, columns matched by name,
    floats within 1e-6 (relative or absolute)."""
    if sorted(cols_a) != sorted(cols_b):
        return f"columns {sorted(cols_a)} vs {sorted(cols_b)}"
    if len(rows_a) != len(rows_b):
        return f"row count {len(rows_a)} vs {len(rows_b)}"
    ia = sorted(range(len(cols_a)), key=lambda i: cols_a[i])
    ib = sorted(range(len(cols_b)), key=lambda i: cols_b[i])
    na = sorted((tuple(_canon(r[i]) for i in ia) for r in rows_a), key=_key)
    nb = sorted((tuple(_canon(r[i]) for i in ib) for r in rows_b), key=_key)
    for x, y in zip(na, nb):
        if not _close(x, y):
            return f"first differing row {x!r} vs {y!r}"
    return None


def duck_con(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in STAR_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def oracle_check(spdf, con, sql: str) -> str | None:
    """A collected Spark result vs its DuckDB twin, both as pandas frames."""
    pdf = con.sql(sql).df()
    return same_rows(
        list(spdf.columns), list(spdf.itertuples(index=False, name=None)),
        list(pdf.columns), list(pdf.itertuples(index=False, name=None)),
    )


def _bigrams(text: str) -> set[str]:
    toks = text.split()
    return {f"{a} {b}" for a, b in zip(toks, toks[1:])}


def minhash_pairs(pdf, sf_dir: str) -> str | None:
    """``dedup_minhash_lsh`` has no oracle (its hashes are Spark's). Its
    pairs must be ordered, unique, among the 150 documents it reads, have
    an estimate within 0.3 of the exact word-bigram Jaccard, and include
    every pair whose exact Jaccard is at least 0.8 (16 bands of 4 rows
    miss such a pair with probability below 1e-5)."""
    import pandas as pd

    docs = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))
    sets = {int(i): _bigrams(t) for i, t in zip(docs.doc_id, docs.text) if i < 150}

    def jac(a, b):
        u = len(sets[a] | sets[b])
        return len(sets[a] & sets[b]) / u if u else 0.0

    got = [(int(a), int(b), float(e)) for a, b, e in zip(pdf.id_a, pdf.id_b, pdf.est_jaccard)]
    if len({(a, b) for a, b, _ in got}) != len(got):
        return "duplicate pairs"
    for a, b, est in got:
        if not (a < b and a in sets and b in sets):
            return f"pair ({a}, {b}) is not an ordered pair of the input documents"
        if abs(est - jac(a, b)) > 0.3:
            return f"pair ({a}, {b}) estimate {est:.3f} vs exact {jac(a, b):.3f}"
    ids = sorted(sets)
    must = {(a, b) for i, a in enumerate(ids) for b in ids[i + 1:] if jac(a, b) >= 0.8}
    missing = must - {(a, b) for a, b, _ in got}
    return f"near-duplicate pairs missing: {sorted(missing)[:5]}" if missing else None


PROPERTIES = {"dedup_minhash_lsh": minhash_pairs}
