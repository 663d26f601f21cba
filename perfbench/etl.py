"""The ``procog_etl`` operations and their checks.

Each pass runs, in order:

1. ``contacts``: ``pipeline.contacts.combined_contacts`` (ownership
   classification included) joined to entity, domain and chain metadata,
   written to parquet;
2. ``build_graph``: ``pipeline.build_graph.build_graph``, every node and
   edge table written to parquet (``ProCogGraph.save``);
3. ``export``: ``sources.sinks.write_neo4j_tsv`` for every table;
4. one operation per dashboard query of ``graph/queries.py`` (three of
   them), each run into the ``noop`` sink.

The checks recompute what they compare against from the generated inputs
with pandas, DuckDB and networkx; none of them reads a stored result.
"""

from __future__ import annotations

import glob
import os

import pandas as pd
import pyarrow.parquet as pq

from checks import StandingFault, same_rows
import gen_procog

# id columns of the node tables, for the ``:ID(space)`` header column
NODE_IDS = {
    "entry": "pdbEntry", "boundEntity": "uniqueID", "boundDescriptor": "ligandEntityID",
    "cognateLigand": "uniqueID", "domain": "domain", "proteinChain": "pdbProteinChain",
    "ecID": "ecID",
}
NON_INTERACTING = {"proximal", "vdw_clash", "clash"}


def _inp(inputs: str, name: str) -> str:
    return os.path.join(inputs, f"{name}.parquet")


def open_inputs(spark, inputs: str) -> dict:
    """The batch job's inputs, opened once at set-up (schemas resolved)."""
    return {n: spark.read.parquet(_inp(inputs, n)) for n in gen_procog.TABLES}


def run_contacts(spark, inputs: dict, out: str) -> None:
    from procoggraph_spark.pipeline.contacts import combined_contacts

    cc = combined_contacts(inputs["contacts"])
    cc = (
        cc.join(inputs["entities"].drop("pdb_id"), "uniqueID")
        .join(inputs["domains"], "domain_accession", "left")
        .join(inputs["chains"], ["pdb_id", "assembly_chain_id_protein"], "left")
    )
    cc.write.mode("overwrite").parquet(os.path.join(out, "combined_contacts"))


def run_build_graph(spark, inputs: dict, out: str) -> list[tuple[str, str]]:
    """Build and save the graph; returns the (kind, name) of every table
    built, which the checks expect to find saved and exported."""
    from procoggraph_spark.operators.ec import resolve_transfers
    from procoggraph_spark.pipeline.build_graph import build_graph

    g = build_graph(
        spark.read.parquet(os.path.join(out, "combined_contacts")),
        inputs["parity_scores"],
        inputs["cognate_ligands"],
        resolve_transfers(inputs["ec_records"]),
    )
    g.save(os.path.join(out, "graph"))
    return [(kind, name) for kind, coll in (("nodes", g.nodes), ("edges", g.edges))
            for name in coll]


def run_export(spark, out: str):
    """Write every table as neo4j-admin TSV; returns the loaded graph the
    dashboard queries of the pass then read."""
    from procoggraph_spark.graph.model import ProCogGraph
    from procoggraph_spark.sources.sinks import write_neo4j_tsv

    g = ProCogGraph.load(spark, os.path.join(out, "graph"))
    for kind, coll in (("nodes", g.nodes), ("edges", g.edges)):
        for name, df in coll.items():
            write_neo4j_tsv(df, os.path.join(out, "tsv", kind, name), gzip=False,
                            id_col=NODE_IDS.get(name) if kind == "nodes" else None)
    return g


def dashboard_groups(inputs: str) -> list[str]:
    """The two most frequent CATH groups of the generated domains, so that
    ``q13_compare_domain_groups`` selects rows whatever the seed."""
    dom = pd.read_parquet(_inp(inputs, "domains"))
    cath = dom[dom.xref_db_acc.str.contains(r"\.")].xref_db_acc.value_counts()
    return sorted(cath.index, key=lambda a: (-cath[a], a))[:2]


def dashboard_queries(groups: list[str]) -> dict:
    """name -> callable(graph) -> DataFrame: three dashboard queries of
    ``graph/queries.py`` (summary counts, report card, group comparison),
    the ones whose plans differ most; all sixteen would cost another 10 s
    of cold pass per run."""
    from procoggraph_spark.graph import queries as Q

    ga, gb = groups
    return {
        "q1_summary_counts": Q.q1_summary_counts,
        "q4_report_card": Q.q4_report_card,
        "q13_compare_domain_groups": lambda g: Q.q13_compare_domain_groups(
            g, ga, gb, domain_kind="CATH"),
    }


# --- checks ------------------------------------------------------------------

def reference_ownership(contacts: pd.DataFrame) -> pd.DataFrame:
    """Per-(entity, domain) counts and ownership classes by the reference
    rules (process_pdb_contacts.py:59-78, FIXTURES.md §1), in pandas."""
    c = contacts[contacts.contact_types.map(lambda ts: any(t not in NON_INTERACTING
                                                           for t in ts))].copy()
    c["hb"] = c.contact_types.map(lambda ts: int("hbond" in ts))
    c["cov"] = c.contact_types.map(lambda ts: int("covalent" in ts))
    c["tok"] = c.protein_residue.astype(str) + c.protein_inscode.map(
        lambda i: f"_{i}" if isinstance(i, str) and i else "")
    keys = ["uniqueID", "xref_db", "domain_accession", "assembly_chain_id_protein"]
    d = c.groupby(keys).agg(n=("tok", "size"), hb=("hb", "sum"), cov=("cov", "sum"),
                            toks=("tok", lambda s: sorted(set(s)))).reset_index()
    d = d[d.toks.map(len) >= 3].copy()
    d["perc"] = d.n / d.groupby(["uniqueID", "xref_db"]).n.transform("sum")
    d["nm"] = (d.perc > 0.1).groupby([d.uniqueID, d.xref_db]).transform("sum")

    def cls(p, nm):
        if p == 1.0:
            return "exclusive"
        if p >= 0.9:
            return "dominant"
        if 0.5 <= p < 0.9:
            return "major" if nm == 1 else "major_partner"
        if 0.1 < p < 0.5 and nm > 1:
            return "partner"
        return "minor" if p <= 0.1 else None

    d["own"] = [cls(p, nm) for p, nm in zip(d.perc, d.nm)]

    def order(t):
        num, _, ins = t.partition("_")
        return int(num), ins, t

    d["res"] = d.toks.map(lambda ts: "|".join(sorted(ts, key=order)))
    return d


def _parquet_rows(path: str) -> int:
    return sum(pq.ParquetFile(f).metadata.num_rows for f in glob.glob(f"{path}/*.parquet"))


_COUNTS_SQL = """
WITH real AS (
  SELECT * FROM contacts
  WHERE len(list_filter(contact_types, x -> x NOT IN ('proximal', 'vdw_clash', 'clash'))) > 0
), dom AS (
  SELECT pdb_id, uniqueID, xref_db, domain_accession, assembly_chain_id_protein
  FROM real GROUP BY ALL
  HAVING count(DISTINCT CAST(protein_residue AS VARCHAR) || CASE
      WHEN protein_inscode IS NOT NULL AND protein_inscode <> ''
      THEN '_' || protein_inscode ELSE '' END) >= 3
), cc AS (
  SELECT dom.*, e.hetCode, e.description, e.descriptor, c.protein_entity_ec
  FROM dom JOIN entities e USING (uniqueID)
  LEFT JOIN chains c ON c.pdb_id = dom.pdb_id
    AND c.assembly_chain_id_protein = dom.assembly_chain_id_protein
)
SELECT
  (SELECT count(DISTINCT pdb_id) FROM cc) AS entry,
  (SELECT count(DISTINCT uniqueID) FROM cc) AS boundEntity,
  (SELECT count(*) FROM (SELECT DISTINCT hetCode, description, descriptor FROM cc))
    AS boundDescriptor,
  (SELECT count(DISTINCT uniqueID) FROM cognate_ligands) AS cognateLigand,
  (SELECT count(*) FROM (SELECT DISTINCT domain_accession, xref_db FROM cc)) AS domain,
  (SELECT count(*) FROM (SELECT DISTINCT pdb_id || '_' || split_part(assembly_chain_id_protein,
     '_', 1), protein_entity_ec FROM cc)) AS proteinChain,
  (SELECT count(*) FROM (SELECT DISTINCT domain_accession, uniqueID, xref_db FROM cc))
    AS INTERACTS_WITH_LIGAND,
  (SELECT count(DISTINCT uniqueID) FROM cc) AS DESCRIBED_BY,
  (SELECT count(*) FROM (SELECT DISTINCT domain_accession, pdb_id || '_' ||
     split_part(assembly_chain_id_protein, '_', 1) FROM cc)) AS IS_IN_PROTEIN_CHAIN
"""

_EDGES_SQL = """
WITH real AS (
  SELECT * FROM contacts
  WHERE len(list_filter(contact_types, x -> x NOT IN ('proximal', 'vdw_clash', 'clash'))) > 0
), dom AS (
  SELECT pdb_id, uniqueID, domain_accession FROM real
  GROUP BY pdb_id, uniqueID, xref_db, domain_accession, assembly_chain_id_protein
  HAVING count(DISTINCT CAST(protein_residue AS VARCHAR) || CASE
      WHEN protein_inscode IS NOT NULL AND protein_inscode <> ''
      THEN '_' || protein_inscode ELSE '' END) >= 3
)
SELECT DISTINCT 'd:' || domain_accession AS a, 'b:' || uniqueID AS b FROM dom
UNION SELECT DISTINCT 'b:' || uniqueID, 'p:' || pdb_id FROM dom
UNION SELECT DISTINCT 'b:' || d.uniqueID, 'l:' || CAST(c.lid AS VARCHAR)
  FROM dom d JOIN entities e USING (uniqueID)
  JOIN chemotypes c USING (hetCode, description, descriptor)
"""


def _components(edges) -> list[int]:
    import networkx as nx

    g = nx.Graph()
    g.add_edges_from(edges)
    return sorted((len(c) for c in nx.connected_components(g)), reverse=True)


# twins of the two dashboard queries over the saved graph's tables
_Q4_SQL = """
SELECT be.pdbEntry,
  count(DISTINCT be.uniqueID) AS n_bound_entities,
  count(DISTINCT i.domain) AS n_domains,
  count(DISTINCT d.groupAccession) AS n_domain_groups,
  count(DISTINCT s.cognateLigand) AS n_cognate_matches,
  coalesce(array_to_string(list_sort(list_distinct(
    list(d.groupAccession) FILTER (WHERE d.groupAccession IS NOT NULL))), '|'), '')
    AS domain_groups
FROM g_boundEntity be
LEFT JOIN g_INTERACTS_WITH_LIGAND i ON i.uniqueID = be.uniqueID
LEFT JOIN g_domain d ON d.domain = i.domain
LEFT JOIN (SELECT * FROM g_HAS_SIMILARITY WHERE parityScore >= 0.4) s
  ON s.uniqueID = be.uniqueID
GROUP BY be.pdbEntry
"""

_Q13_SQL = """
WITH ligs AS (
  SELECT d.groupAccession AS grp, list_distinct(
    list(s.cognateLigand) FILTER (WHERE s.cognateLigand IS NOT NULL)) AS ligs
  FROM g_INTERACTS_WITH_LIGAND i
  JOIN g_domain d ON d.domain = i.domain
  JOIN g_HAS_SIMILARITY s ON s.uniqueID = i.uniqueID
  WHERE i.domainKind = 'CATH' AND d.type = 'CATH' AND i.interactionMode <> 'minor'
    AND s.parityScore >= 0.4 AND d.groupAccession IN ($a, $b)
  GROUP BY 1
)
SELECT list_sort(list_intersect(a.ligs, b.ligs)) AS shared,
  list_sort(list_filter(a.ligs, x -> NOT list_contains(b.ligs, x))) AS only_a,
  list_sort(list_filter(b.ligs, x -> NOT list_contains(a.ligs, x))) AS only_b
FROM ligs a, ligs b WHERE a.grp = $a AND b.grp = $b
"""


def _same_frame(spdf: pd.DataFrame, pdf: pd.DataFrame) -> str | None:
    return same_rows(list(spdf.columns), list(spdf.itertuples(index=False, name=None)),
                     list(pdf.columns), list(pdf.itertuples(index=False, name=None)))


def check(inputs: str, out: str, tables: list, graph, outputs: dict,
          groups: list[str]) -> dict:
    """One reason (or None) per ETL operation name. ``tables`` lists the
    (kind, name) of every table ``build_graph`` built; ``outputs`` holds the
    last DataFrame of each dashboard query; ``groups`` the two CATH groups
    ``q13_compare_domain_groups`` compared."""
    import duckdb

    res: dict = {}
    contacts = pd.read_parquet(_inp(inputs, "contacts"))

    # 1. ownership classes vs the pandas reference implementation
    ref = reference_ownership(contacts)
    got = pd.read_parquet(os.path.join(out, "combined_contacts"))
    cols = ["uniqueID", "xref_db", "domain_accession", "domain_contact_counts",
            "domain_hbond_counts", "domain_covalent_counts", "domain_contact_perc",
            "num_non_minor_domains", "domain_ownership", "domain_residue_interactions"]
    res["contacts"] = same_rows(
        cols, list(got[cols].itertuples(index=False, name=None)),
        cols, list(ref[["uniqueID", "xref_db", "domain_accession", "n", "hb", "cov", "perc",
                        "nm", "own", "res"]].itertuples(index=False, name=None)))

    # 2. every built table saved; node and edge counts vs DuckDB over the
    #    inputs; connected structure vs networkx; every similarity edge
    #    justified by a parity row
    gdir = os.path.join(out, "graph")
    bad = [f"{kind}/{name} not saved" for kind, name in tables
           if not os.path.isdir(os.path.join(gdir, kind, name))]
    con = duckdb.connect()
    for name in ("contacts", "entities", "chains", "cognate_ligands", "parity_scores"):
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{_inp(inputs, name)}')")
    chemo = pd.DataFrame(gen_procog.CHEMOTYPES, columns=["hetCode", "description", "descriptor"])
    chemo["lid"] = [gen_procog.chemotype_id(*r) for r in gen_procog.CHEMOTYPES]
    con.register("chemotypes", chemo)
    want = con.sql(_COUNTS_SQL).df().iloc[0].to_dict()
    for k, v in want.items():
        found = glob.glob(f"{gdir}/*/{k}")
        if len(found) != 1:
            bad.append(f"{k}: {len(found)} saved tables of that name")
        elif _parquet_rows(found[0]) != v:
            bad.append(f"{k} {_parquet_rows(found[0])} rows vs {v}")
    if bad:  # the graph is incomplete: the checks below cannot read it
        con.close()
        return {**res, **dict.fromkeys(["build_graph", "export", *outputs], "; ".join(bad))}
    edges = {k: pd.read_parquet(os.path.join(gdir, "edges", k)) for k in
             ("INTERACTS_WITH_LIGAND", "IS_IN_PDB", "DESCRIBED_BY", "HAS_SIMILARITY")}
    pdb = edges["IS_IN_PDB"][edges["IS_IN_PDB"].srcLabel == "boundEntity"]
    mine = (
        list(zip("d:" + edges["INTERACTS_WITH_LIGAND"].domain,
                 "b:" + edges["INTERACTS_WITH_LIGAND"].uniqueID))
        + list(zip("b:" + pdb.src, "p:" + pdb.dst))
        + list(zip("b:" + edges["DESCRIBED_BY"].uniqueID,
                   "l:" + edges["DESCRIBED_BY"].ligandEntityID.astype(str)))
    )
    theirs = list(con.sql(_EDGES_SQL).fetchall())
    if _components(mine) != _components(theirs):
        bad.append("connected components differ from networkx over the inputs")
    sim = edges["HAS_SIMILARITY"]
    if len(sim):
        con.register("sim", sim.explode("ecList"))
        con.register("described", edges["DESCRIBED_BY"][["uniqueID", "ligandEntityID"]])
        unjustified = con.sql("""
            SELECT count(*) FROM sim s JOIN described d USING (uniqueID)
            WHERE NOT EXISTS (
              SELECT 1 FROM parity_scores p
              WHERE p.pdb_ligand = d.ligandEntityID AND p.ec = s.ecList
                AND p.cognate_ligand = s.cognateLigand AND p.score = s.parityScore
                AND p.error IS NULL AND p.score >= 0.4)""").fetchone()[0]
        if unjustified:
            bad.append(f"{unjustified} HAS_SIMILARITY rows without a parity score")
        best = sim.groupby("uniqueID").parityScore.transform("max")
        if ((sim.parityScore == best) != (sim.bestCognate == "Y")).any():
            bad.append("bestCognate is not the per-entity maximum")
    else:
        bad.append("no HAS_SIMILARITY edges")
    res["build_graph"] = "; ".join(bad) or None

    # 3. every exported TSV reads back with its table's rows and header;
    #    a header of plain column names is the standing fault below
    bad, plain = [], []
    from procoggraph_spark.sources.sinks import neo4j_header

    for kind, name in tables:
        df = (graph.nodes if kind == "nodes" else graph.edges)[name]
        tdir = os.path.join(out, "tsv", kind, name)
        if not os.path.isdir(tdir):
            bad.append(f"{kind}/{name} not exported")
            continue
        parts = [f for f in sorted(glob.glob(os.path.join(tdir, "*.csv"))) if os.path.getsize(f)]
        frames = [pd.read_csv(f, sep="\t", dtype=str, keep_default_na=False) for f in parts]
        rows = sum(len(f) for f in frames)
        want_rows = _parquet_rows(os.path.join(gdir, kind, name))
        header = neo4j_header(df, id_col=NODE_IDS.get(name) if kind == "nodes" else None)
        got_headers = {tuple(f.columns) for f in frames}
        if rows != want_rows:
            bad.append(f"{name}: {rows} rows read back vs {want_rows}")
        elif got_headers - {tuple(header)}:
            if got_headers == {tuple(df.columns)}:
                plain.append(name)
            else:
                bad.append(f"{name}: header {sorted(got_headers)} vs {header}")
    if bad:
        res["export"] = "; ".join(bad)
    elif plain:
        # write_neo4j_tsv ignores id_col/id_space and never calls
        # neo4j_header: the files carry the plain column names
        res["export"] = StandingFault(
            f"{len(plain)} tables exported without the neo4j_header typed header, "
            f"e.g. {plain[0]}")
    else:
        res["export"] = None

    # 4. the dashboard queries: summary counts against the DuckDB counts
    #    over the inputs, the report card and group comparison against
    #    DuckDB twins over the saved graph
    for name in ("boundEntity", "domain", "INTERACTS_WITH_LIGAND", "HAS_SIMILARITY"):
        (path,) = glob.glob(f"{gdir}/*/{name}")
        con.execute(f"CREATE VIEW g_{name} AS SELECT * FROM read_parquet('{path}/*.parquet')")
    q1 = dict(outputs["q1_summary_counts"].toPandas().itertuples(index=False, name=None))
    names = {"entries": "entry", "boundEntities": "boundEntity",
             "cognateLigands": "cognateLigand", "domains": "domain"}
    res["q1_summary_counts"] = (
        None if {k: int(v) for k, v in q1.items()} == {k: int(want[v]) for k, v in names.items()}
        else f"summary counts {q1} vs {want}")
    res["q4_report_card"] = _same_frame(outputs["q4_report_card"].toPandas(),
                                        con.sql(_Q4_SQL).df())
    ga, gb = groups
    res["q13_compare_domain_groups"] = _same_frame(
        outputs["q13_compare_domain_groups"].toPandas(),
        con.execute(_Q13_SQL, {"a": ga, "b": gb}).df())
    con.close()
    return res
