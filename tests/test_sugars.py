"""U8 sugar-chain tests: the WURCS→GlycoCT→CSDB→SMILES conversion
pipeline behind three S16 keyed caches, golden-anchored on the sugar
row of the reference's curated pair list
(`/root/reference/cognate_ligand_pairs.csv`: 1gxo SUGAR — a three-
residue galactopyranuronic-acid chain, dbxref C00470).

The offline converters are the documented deterministic fallbacks (no
WURCS chemistry exists in this container); what the tests pin is the
ENGINE part: WURCS structural parsing, residue-count preservation
through every stage, cache-miss-only recompute, and the second-run
all-hits path."""

from __future__ import annotations

import csv
import os

import pytest
from pyspark.sql import functions as F

from procoggraph_spark.functions import sugars as S

# WURCS for a 3-residue 1-4-linked chain, the structure of the golden
# sugar row (unique units / residues / linkages = 1,3,2)
WURCS_3RES = "WURCS=2.0/1,3,2/[a2122A-1a_1-5]/1-1-1/a4-b1_b4-c1"
WURCS_1RES = "WURCS=2.0/1,1,0/[a2122h-1b_1-5]/1/"

GOLDEN_PAIRS_CSV = "/root/reference/cognate_ligand_pairs.csv"


def _golden_sugar_row():
    with open(GOLDEN_PAIRS_CSV) as fh:
        for row in csv.DictReader(fh):
            if row["sugarName"]:
                return row
    raise AssertionError("no sugar row in golden csv")


def test_wurcs_counts_parse():
    assert S.wurcs_counts(WURCS_3RES) == (1, 3, 2)
    assert S.wurcs_counts(WURCS_1RES) == (1, 1, 0)
    assert S.wurcs_counts("not-wurcs") is None
    assert S.wurcs_counts(None) is None


@pytest.mark.skipif(
    not os.path.exists(GOLDEN_PAIRS_CSV),
    reason=f"reference snapshot not mounted: {GOLDEN_PAIRS_CSV}",
)
def test_golden_sugar_chain_residue_count(spark, tmp_path):
    """The golden 1gxo sugar is a 3-residue chain (two '-(1-4)-' links
    in its name); the conversion chain must preserve that count into
    the final descriptor: 3 ring tokens, 2 inter-residue links."""
    row = _golden_sugar_row()
    n_res = row["sugarName"].count("-(") + 1
    assert n_res == 3  # pin the golden interpretation itself

    keys = spark.createDataFrame(
        [(WURCS_3RES,), (WURCS_1RES,), (None,)], "WURCS string"
    )
    out = S.sugar_smiles_from_wurcs(
        spark, keys, cache_root=str(tmp_path / "sugar_caches")
    )
    got = {r["WURCS"]: r for r in out.collect()}
    assert set(got) == {WURCS_3RES, WURCS_1RES}

    desc3 = got[WURCS_3RES]["descriptor"]
    # residue count preserved end-to-end: n rings, n-1 O-links
    assert desc3.count("C1OC") == n_res
    assert desc3 == "O".join([S._RING] * n_res)
    assert f"res={n_res}" in got[WURCS_3RES]["glycoct"]
    assert "lin=2" in got[WURCS_3RES]["glycoct"]
    assert got[WURCS_1RES]["descriptor"] == S._RING

    # fallback SMILES passes the U5 parse filter (balanced brackets)
    from procoggraph_spark.functions.chem import is_parseable_smiles

    ok = (
        spark.createDataFrame([(desc3,)], "s string")
        .select(is_parseable_smiles(F.col("s")).alias("ok"))
        .collect()[0]["ok"]
    )
    assert ok


def test_sugar_chain_cache_hit_path(spark, tmp_path):
    """Second run with a poisoned converter must be all cache hits —
    the reference's read-modify-write cache contract (recompute bounded
    by the miss set)."""
    root = str(tmp_path / "sugar_caches")
    keys = spark.createDataFrame([(WURCS_3RES,)], "WURCS string")
    first = S.sugar_smiles_from_wurcs(spark, keys, cache_root=root).collect()

    def boom(_):
        raise AssertionError("converter called on a cached key")

    second = S.sugar_smiles_from_wurcs(
        spark, keys, cache_root=root,
        to_glycoct=boom, to_csdb=boom, to_smiles=boom,
    ).collect()
    assert sorted(map(tuple, first)) == sorted(map(tuple, second))


def test_sugar_chain_null_propagation(spark, tmp_path):
    """Non-WURCS descriptors convert to null at the first hop and stay
    null (the reference's NaN discipline) without reaching downstream
    converters."""
    keys = spark.createDataFrame([("not-a-wurcs",)], "WURCS string")

    def never(_):
        raise AssertionError("downstream converter ran on null")

    out = S.sugar_smiles_from_wurcs(
        spark, keys, cache_root=str(tmp_path / "c"),
        to_csdb=never, to_smiles=never,
    ).collect()
    assert len(out) == 1
    assert out[0]["glycoct"] is None
    assert out[0]["descriptor"] is None


def test_enrich_sugar_descriptors(spark, tmp_path):
    """Pipeline attach point (process_all_pdb_contacts.py:153-160):
    sugar rows get their WURCS descriptor overwritten with the converted
    SMILES (null on conversion failure — never WURCS left behind);
    ligand rows pass through untouched."""
    cc = spark.createDataFrame(
        [
            ("1gxo_bm1_A", "sugar", WURCS_3RES),
            ("1gxo_bm2_B", "sugar", "garbage-not-wurcs"),
            ("5h1y_bm1_A", "ligand", "OS(=O)(=O)O"),
        ],
        "uniqueID string, type string, descriptor string",
    )
    out = {
        r["uniqueID"]: r["descriptor"]
        for r in S.enrich_sugar_descriptors(
            spark, cc, cache_root=str(tmp_path / "c")
        ).collect()
    }
    assert out["1gxo_bm1_A"] == "O".join([S._RING] * 3)
    assert out["1gxo_bm2_B"] is None          # failed conversion → null
    assert out["5h1y_bm1_A"] == "OS(=O)(=O)O"  # non-sugar untouched
