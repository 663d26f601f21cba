"""Differential tests: every oracle-backed query in the registry must
match DuckDB on the driver's parquet tables — the same comparison the
driver's CORRECTNESS gate runs (row count + column names + order-
insensitive values), at sf0.001 for speed.

Driver-fidelity run: the external gate executes at sf0.01, so once per
round re-run this suite at the driver's scale with

    SPARK_GRAFT_PARITY_SF_DIR=/root/testdata/sf0.01 \
        python -m pytest tests/test_oracle_parity.py -q

(~10 min; catches anything that is scale-sensitive between sf0.001 and
sf0.01 — approx aggregates, sampling thresholds, float accumulation).
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest

from procoggraph_spark.queries import registry
from tests.conftest import SF_ORACLE, SF_SMOKE

# Default sf0.001 keeps the 97-query suite fast; override with the
# driver's sf0.01 (or any generated dir) for a gate-fidelity pass.
SF_PARITY = os.environ.get("SPARK_GRAFT_PARITY_SF_DIR", SF_SMOKE)

QUERIES, ORACLES = registry()

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def normalize(rows, cols):
    """Sort columns by name, canonicalize values, sort rows."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])

    def canon(v):
        # numpy scalars (the pandas .df() path) -> plain Python values,
        # so np.int64/np.float64/np.bool_ canonicalize like their
        # builtin counterparts
        if type(v).__name__ == "ndarray":
            v = list(v)
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(canon(x) for x in v) + "]"
        if type(v).__module__ == "numpy" and hasattr(v, "item"):
            v = v.item()
        if v is None:
            return "∅"
        if isinstance(v, float):
            if math.isnan(v):
                return "nan"
            return f"{v:.6f}"
        if isinstance(v, bool):
            return str(int(v))
        try:
            import decimal

            if isinstance(v, decimal.Decimal):
                return f"{float(v):.6f}"
        except ImportError:
            pass
        return str(v)

    return sorted(tuple(canon(r[i]) for i in idx) for r in rows)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, name):
    sdf = QUERIES[name](spark, SF_PARITY)
    scols = sdf.columns
    # pandas on BOTH sides (driver fidelity): a nullable int column
    # becomes float64 with NaN holes on both engines symmetrically
    spdf = sdf.toPandas()
    srows = [tuple(r) for r in spdf.itertuples(index=False, name=None)]

    con = duck_con(SF_PARITY)
    rel = con.sql(ORACLES[name])
    # Driver fidelity: the external gate materializes the oracle via
    # pandas (duckdb .df()), where HUGEINT/DECIMAL columns silently
    # become float64 and hash-mismatch Spark's integers even when the
    # values are identical (round-5 FAILs pack_token_budget /
    # corpus_pareto_coverage / mm_asset_metadata were exactly this).
    # Forbid those dtypes at the source and consume via .df(), not
    # fetchall() (which masks them as Python ints).
    bad = [
        (c, str(t))
        for c, t in zip(rel.columns, rel.types)
        if "HUGEINT" in str(t).upper() or "DECIMAL" in str(t).upper()
    ]
    assert not bad, (
        f"oracle for {name} returns pandas-unportable dtypes {bad}; "
        "CAST(... AS BIGINT/DOUBLE) in the oracle SQL"
    )
    pdf = rel.df()
    dcols = list(pdf.columns)
    drows = [tuple(r) for r in pdf.itertuples(index=False, name=None)]
    con.close()

    assert sorted(scols) == sorted(dcols), f"column mismatch: {scols} vs {dcols}"
    assert len(srows) == len(drows), f"row count {len(srows)} vs {len(drows)}"
    sn, dn = normalize(srows, scols), normalize(drows, dcols)
    mismatches = [(a, b) for a, b in zip(sn, dn) if a != b][:5]
    assert sn == dn, f"value mismatch, first diffs: {mismatches}"


def test_registry_shape():
    assert len(QUERIES) >= 30
    # every oracle has a query
    assert set(ORACLES) <= set(QUERIES)


def test_entry_smoke(spark):
    import __spark_entry__ as ent

    df = ent.entry(spark)
    assert df.count() > 0
    assert len(df.columns) >= 3


def test_shuffle_partition_independence(spark):
    """Determinism discipline: results must not depend on partitioning.
    Re-run a money-sum + a collected-set query with a different shuffle
    partition count and compare values exactly."""
    from procoggraph_spark.queries import registry

    qs, _ = registry()
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for name in ["a1_pricing_summary", "q4_report_card", "a7_range_compress"]:
            spark.conf.set("spark.sql.shuffle.partitions", "8")
            a = sorted(map(tuple, qs[name](spark, SF_ORACLE).collect()))
            spark.conf.set("spark.sql.shuffle.partitions", "3")
            b = sorted(map(tuple, qs[name](spark, SF_ORACLE).collect()))
            assert a == b, name
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_driver_window_rotation():
    """The driver's correctness gate samples the first 50 registry keys.
    Round 12 lands the precomputed rotation (round-11 verdict item 1):
    the 6 rows re-staled by round-11's own oracle edits (the 5
    embeddings oracles that gained the NULL-component _EMB_GATED_CTE
    leg outside the r11 window + j_ref_integrity_check after the
    NOT EXISTS rewrite), the 9 r07 leftovers deferred from r11, and a
    35-row alphabetical fill from the 45-row r08 batch (10 named rows
    defer to r13). After this window no oracle edit from round 11
    lacks driver certification. This pin makes any addition or
    reorder fail HERE, loudly, instead of silently pushing a stale
    row past the gate; when a future round re-rotates, update
    deliberately."""
    from procoggraph_spark.queries import _PROMOTE

    keys = list(QUERIES.keys())
    assert len(_PROMOTE) == 50
    assert len(set(_PROMOTE)) == 50
    assert keys[:50] == list(_PROMOTE)
    # every _PROMOTE row must be oracle-backed — a rows-only entry in
    # a backlog-drain window would burn a slot on a weaker check
    not_oracled = [n for n in _PROMOTE if n not in ORACLES]
    assert not not_oracled, f"rows-only entries in the window: {not_oracled}"


def test_registration_rules(monkeypatch):
    """``common.q`` registers a name once, with exactly one of an oracle
    and a rows-only reason; the real table is restored afterwards."""
    from procoggraph_spark.queries import common

    monkeypatch.setattr(common, "REGISTRY", dict(common.REGISTRY))
    with pytest.raises(ValueError, match="registered twice"):
        common.q("q4_report_card", "SELECT 1")(lambda spark, sf_dir: None)
    with pytest.raises(ValueError, match="exactly one"):
        common.q("new_query")
    with pytest.raises(ValueError, match="exactly one"):
        common.q("new_query", "SELECT 1", rows_only=("why", "certified by"))


def test_queries_md_in_sync():
    """QUERIES.md (the generated registry index the coverage audit
    reads) must be BYTE-identical to what the generator produces —
    name/status presence alone let a rotation reorder the registry and
    leave the committed index stale for a whole round (caught r09).
    Regenerate with `python tools/gen_queries_md.py`."""
    import tools.gen_queries_md as gen

    md = open(os.path.join(os.path.dirname(__file__), "..", "QUERIES.md")).read()
    assert md == gen.build(), (
        "QUERIES.md is stale — run `python tools/gen_queries_md.py`"
    )
