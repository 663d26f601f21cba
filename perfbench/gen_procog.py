"""Seeded ProCogGraph-shaped inputs for the ``procog_etl`` workload.

Writes seven parquet tables under ``--out``:

- ``contacts``: atom-level contacts, the input of
  ``pipeline.contacts.combined_contacts``;
- ``entities``: bound-entity and PDB-entry metadata per ``uniqueID``;
- ``domains``: ``xref_db_acc`` and the nullable ``xref_db_version`` per
  ``domain_accession``;
- ``chains``: the original and resolved EC annotation per protein chain;
- ``cognate_ligands``, ``parity_scores`` and ``ec_records``: the other
  inputs of ``pipeline.build_graph.build_graph``.

The FIXTURES.md edge cases appear at volume: bound entities whose
per-database ownership shares are exactly 1.0, 0.9, 0.5 and 0.1, entities
contacting domains of two databases, domains under the 3-residue cutoff,
residues with insertion codes, the literal ``"NA"`` hetCode, null
``xref_db_version`` and proximal-only contacts.

    python3 perfbench/gen_procog.py --seed 7 --out /some/dir
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# (hetCode, description, descriptor SMILES); "NA" is sodium, not a missing value
CHEMOTYPES = [("NA", "sodium", "[Na+]"), ("SUGAR", "branched glycan", "WURCS=2.0/1")] + [
    (f"L{i:02d}", f"ligand {i}", "C" * (1 + i % 7) + "O" * (1 + i % 3) + f"N{i}")
    for i in range(40)
]
PDBS = 150  # PDB entries per generated input set
REAL_TYPES = ["hbond", "vdw", "polar", "covalent", "aromatic", "ionic"]
# per-database contact-count templates; shares are exact in binary floating
# point: 27/30 == 0.9, 3/30 == 0.1, 6/12 == 0.5. Together they hit every
# class: exclusive, dominant, major (24/30 beside two 0.1 minors),
# major_partner, partner and minor
SHARE_TEMPLATES = [[8], [27, 3], [6, 6], [15, 12, 3], [10, 6, 4], [5, 4, 3], [24, 3, 3]]


def xxh64(data: bytes, seed: int = 42) -> int:
    """XXH64, the hash behind Spark's ``xxhash64`` (seed 42), as a signed long."""
    p1, p2, p3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
    p4, p5, m = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5, (1 << 64) - 1

    def rotl(x, r):
        return ((x << r) | (x >> (64 - r))) & m

    def rnd(acc, lane):
        return (rotl((acc + lane * p2) & m, 31) * p1) & m

    n, i = len(data), 0
    if n >= 32:
        v = [(seed + p1 + p2) & m, (seed + p2) & m, seed & m, (seed - p1) & m]
        while i + 32 <= n:
            for j in range(4):
                v[j] = rnd(v[j], int.from_bytes(data[i + 8 * j:i + 8 * j + 8], "little"))
            i += 32
        h = (rotl(v[0], 1) + rotl(v[1], 7) + rotl(v[2], 12) + rotl(v[3], 18)) & m
        for x in v:
            h = (((h ^ rnd(0, x)) * p1) + p4) & m
    else:
        h = (seed + p5) & m
    h = (h + n) & m
    while i + 8 <= n:
        h = ((rotl(h ^ rnd(0, int.from_bytes(data[i:i + 8], "little")), 27) * p1) + p4) & m
        i += 8
    if i + 4 <= n:
        h = ((rotl(h ^ (int.from_bytes(data[i:i + 4], "little") * p1) & m, 23) * p2) + p3) & m
        i += 4
    while i < n:
        h = (rotl(h ^ (data[i] * p5) & m, 11) * p1) & m
        i += 1
    h ^= h >> 33
    h = (h * p2) & m
    h ^= h >> 29
    h = (h * p3) & m
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def chemotype_id(het: str, description: str, descriptor: str) -> int:
    """``stable_id_from_string(concat_ws('', hetCode, description, descriptor))``."""
    return abs(xxh64((het + description + descriptor).encode()))


def _ec_pool(rng):
    ecs = sorted({f"{a}.{b}.{c}.{d}" for a, b, c, d in rng.integers(1, 7, (120, 4))})
    recs, live = [], []
    for k, ec in enumerate(ecs):
        if k % 11 == 5:
            recs.append((ec, "Deleted entry."))
        elif k % 7 == 3 and k + 1 < len(ecs):
            recs.append((ec, f"Transferred entry: {ecs[k + 1]}."))  # chains of 1+ hops
        else:
            recs.append((ec, f"Enzyme {ec}."))
            live.append(ec)
    return recs, live


def tables(seed: int) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    ec_recs, live_ecs = _ec_pool(rng)
    cath = sorted({f"{a}.{b * 10}.{c * 10}.{d * 10}"
                   for a, b, c, d in rng.integers(1, 5, (60, 4))})
    pfam = [f"PF{i:05d}" for i in sorted(rng.choice(20000, 60, replace=False))]
    contacts, entities, domains, chains = [], [], {}, []
    for p in range(PDBS):
        pdb = f"{1 + p % 9}{np.base_repr(p // 9, 36).lower():0>3}"
        n_chain = int(rng.integers(1, 4))
        for c in range(n_chain):
            orig = str(rng.choice(live_ecs))
            if rng.random() < 0.15:
                orig = ".".join(orig.split(".")[:2]) + ".-.-"  # partial EC
            resolved = sorted({str(x) for x in rng.choice(live_ecs, int(rng.integers(1, 3)))})
            chains.append((pdb, f"{'ABC'[c]}_1", orig, resolved))
        for b in range(int(rng.integers(1, 4))):
            het, desc, smi = CHEMOTYPES[int(rng.integers(0, len(CHEMOTYPES)))]
            asym = "DEFG"[b]
            uid = f"{pdb}_bm{b + 1}_{asym}"
            entities.append((uid, pdb, het, desc, smi, "sugar" if het == "SUGAR" else "ligand",
                             f"structure {pdb}, chains {n_chain}", f"title, {pdb}",
                             "KW1, KW2" if p % 2 else None))
            lig_res = 401 + b
            # one or two databases per entity; each gets a share template
            for db, pool in (("CATH", cath), ("Pfam", pfam))[: int(rng.integers(1, 3))]:
                counts = SHARE_TEMPLATES[int(rng.integers(0, len(SHARE_TEMPLATES)))]
                accs = rng.choice(pool, len(counts) + 1, replace=False)
                for k, acc in enumerate(accs):
                    chain = f"{'ABC'[int(rng.integers(0, n_chain))]}_1"
                    dom = f"{pdb}:{chain[0]}:{acc}"
                    domains[dom] = (dom, str(acc), None if rng.random() < 0.2 else "4.3")
                    base = int(rng.integers(10, 400))
                    if k < len(counts):
                        n, n_res = counts[k], min(counts[k], int(rng.integers(3, 6)))
                    else:  # sub-cutoff domain: 1-2 residues, dropped by the pipeline
                        n = int(rng.integers(1, 6))
                        n_res = int(rng.integers(1, 3))
                    res = [base + r for r in range(n_res)]
                    for j in range(n):
                        r = res[j % n_res]
                        ins = "A" if r % 13 == 0 else ("B" if r % 17 == 0 else None)
                        kinds = list(rng.choice(REAL_TYPES, int(rng.integers(1, 3)), replace=False))
                        contacts.append((pdb, uid, asym, lig_res, chain, r, ins, kinds, db, dom))
                    if rng.random() < 0.3:  # proximal-only contact: filtered out
                        contacts.append((pdb, uid, asym, lig_res, chain, base + 50, None,
                                         ["proximal"], db, dom))
    cognates = []
    for i in range(150):
        db = "CHEBI" if i % 3 == 0 else "KEGG"
        cognates.append((1000 + i, "C" * (1 + i % 9) + "O", f"cognate {i}",
                         f"{db}:C{i:05d}", f"R{i:05d}", "Cofactor" if i % 10 == 0 else "N"))
    parity = []
    for het, desc, smi in CHEMOTYPES:
        lid = chemotype_id(het, desc, smi)
        for ec in rng.choice(live_ecs, 12, replace=False):
            for cog in rng.choice(150, int(rng.integers(1, 5)), replace=False):
                # two-decimal scores make bestCognate ties common
                score = round(float(rng.random()), 2)
                err = "timeout" if rng.random() < 0.05 else None
                parity.append((str(ec), lid, 1000 + int(cog), score, round(score * 0.9, 3),
                               None if rng.random() < 0.3 else f"[#6]-[#8]{cog}", err))
    return {
        "contacts": pd.DataFrame(contacts, columns=[
            "pdb_id", "uniqueID", "bound_ligand_struct_asym_id", "ligand_residue",
            "assembly_chain_id_protein", "protein_residue", "protein_inscode",
            "contact_types", "xref_db", "domain_accession"]),
        "entities": pd.DataFrame(entities, columns=[
            "uniqueID", "pdb_id", "hetCode", "description", "descriptor", "type",
            "pdb_descriptor", "pdb_title", "pdb_keywords"]),
        "domains": pd.DataFrame(sorted(domains.values()), columns=[
            "domain_accession", "xref_db_acc", "xref_db_version"]),
        "chains": pd.DataFrame(chains, columns=[
            "pdb_id", "assembly_chain_id_protein", "protein_entity_ec", "ecList"]),
        "cognate_ligands": pd.DataFrame(cognates, columns=[
            "uniqueID", "canonical_smiles", "compound_name", "ligand_db",
            "compound_reaction", "isCofactor"]),
        "parity_scores": pd.DataFrame(parity, columns=[
            "ec", "pdb_ligand", "cognate_ligand", "score", "pdbl_subparity",
            "parity_smarts", "error"]),
        "ec_records": pd.DataFrame(ec_recs, columns=["ID", "DE"]),
    }


SCHEMAS = {
    "contacts": pa.schema([
        ("pdb_id", pa.string()), ("uniqueID", pa.string()),
        ("bound_ligand_struct_asym_id", pa.string()), ("ligand_residue", pa.int32()),
        ("assembly_chain_id_protein", pa.string()), ("protein_residue", pa.int32()),
        ("protein_inscode", pa.string()), ("contact_types", pa.list_(pa.string())),
        ("xref_db", pa.string()), ("domain_accession", pa.string())]),
    "cognate_ligands": pa.schema([
        ("uniqueID", pa.int64()), ("canonical_smiles", pa.string()),
        ("compound_name", pa.string()), ("ligand_db", pa.string()),
        ("compound_reaction", pa.string()), ("isCofactor", pa.string())]),
    "parity_scores": pa.schema([
        ("ec", pa.string()), ("pdb_ligand", pa.int64()), ("cognate_ligand", pa.int64()),
        ("score", pa.float64()), ("pdbl_subparity", pa.float64()),
        ("parity_smarts", pa.string()), ("error", pa.string())]),
    "domains": pa.schema([
        ("domain_accession", pa.string()), ("xref_db_acc", pa.string()),
        ("xref_db_version", pa.string())]),
}


TABLES = ("contacts", "entities", "domains", "chains", "cognate_ligands",
          "parity_scores", "ec_records")


def write(seed: int, out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables(seed).items():
        tbl = pa.Table.from_pandas(df, schema=SCHEMAS.get(name), preserve_index=False)
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(write(a.seed, a.out))
