"""Source/sink tests (SURVEY S1-S3, S9, S11, S14): dialect quirks, NA
discipline, record-format parsers, Neo4j export encoding."""

from __future__ import annotations

import gzip

from pyspark.sql import functions as F
from pyspark.sql import types as T

from procoggraph_spark.sources.readers import (
    parse_cddf_records,
    parse_kegg_record,
    read_multichar_sep,
    read_record_format,
    read_skip_rows,
    read_tsv,
)
from procoggraph_spark.sources.sinks import neo4j_encode, neo4j_header, write_neo4j_tsv


def test_tsv_na_discipline(spark, tmp_path):
    """hetCode "NA" (sodium) must survive; "NaN"/"None" are null
    (process_all_pdb_contacts.py:145)."""
    p = tmp_path / "t.tsv"
    p.write_text("hetCode\tval\nNA\t1\nNaN\t2\nNone\t3\nATP\t4\n")
    df = read_tsv(spark, str(p))
    got = {r["val"]: r["hetCode"] for r in df.collect()}
    assert got["1"] == "NA"
    assert got["2"] is None
    assert got["3"] is None
    assert got["4"] == "ATP"


def test_multichar_sep(spark, tmp_path):
    """cath-names-style 4-space separator (process_all_pdb_contacts.py:272)."""
    p = tmp_path / "cath-names.txt"
    p.write_text("# comment line\n1.10.8    1abcA00    :Helix hairpins\n")
    df = read_multichar_sep(
        spark, str(p), sep_regex=r"\s{4}", columns=["node", "rep", "name"]
    )
    r = df.collect()[0]
    assert r["node"] == "1.10.8"
    assert r["name"] == ":Helix hairpins"


def test_skip_rows(spark, tmp_path):
    """sifts-style skiprows=1 + header row (download_mmcif.py:182)."""
    p = tmp_path / "sifts.tsv"
    p.write_text("# 2024/01/01 - 12:00\nPDB\tCHAIN\n1abc\tA\n2xyz\tB\n")
    df = read_skip_rows(spark, str(p), skip=2, columns=["pdb", "chain"])
    assert sorted(r["pdb"] for r in df.collect()) == ["1abc", "2xyz"]


def test_kegg_record_format(spark, tmp_path):
    """KEGG ENTRY.../// flat records (get_ec_information.py:118-161)."""
    p = tmp_path / "reaction.txt"
    p.write_text(
        "ENTRY       R00001      Reaction\n"
        "DEFINITION  polyphosphate + H2O\n"
        "EQUATION    C00890 + C00001\n"
        "ENZYME      3.6.1.10\n"
        "///\n"
        "ENTRY       R00002      Reaction\n"
        "ENZYME      1.1.1.1\n"
        "///\n"
    )
    schema = T.StructType(
        [T.StructField(c, T.StringType()) for c in
         ("entry", "name", "definition", "equation", "enzyme")]
    )
    df = read_record_format(
        spark, str(p), record_sep="///", parse_record=parse_kegg_record, schema=schema
    )
    got = {r["entry"]: r for r in df.collect()}
    assert set(got) == {"R00001", "R00002"}
    assert got["R00001"]["equation"] == "C00890 + C00001"
    assert got["R00002"]["enzyme"] == "1.1.1.1"


def test_cddf_parser():
    """CATH CDDF stanza format (utils.py:284-338)."""
    text = (
        "# header\n"
        "FORMAT    CDDF1.0\n"
        "DOMAIN    1abcA01\n"
        "CATHCODE  1.10.8.10\n"
        "SEGMENT   1abcA:1-10\n"
        "SEGMENT   1abcA:20-30\n"
        "//\n"
        "DOMAIN    2xyzB02\n"
        "CATHCODE  2.40.50.100\n"
        "SEGMENT   2xyzB:5-50\n"
        "//\n"
    )
    recs = {r["domain"]: r for r in parse_cddf_records(text)}
    assert recs["1abcA01"]["cathcode"] == "1.10.8.10"
    assert recs["1abcA01"]["n_segments"] == 2
    assert recs["2xyzB02"]["n_segments"] == 1


def test_neo4j_encode_and_header(spark):
    df = spark.createDataFrame(
        [("u1", ["b", "a"], 0.5)],
        "uniqueID string, ecList array<string>, score double",
    )
    enc = neo4j_encode(df)
    r = enc.collect()[0]
    assert r["ecList"] == "a|b"  # sorted, pipe-joined
    header = neo4j_header(df, id_col="uniqueID", id_space="be-id", label="boundEntity")
    assert header == ["uniqueID:ID(be-id)", "ecList:string[]", "score:float", ":LABEL"]


def test_neo4j_tsv_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [("u1", ["x", "y"], 1.0), ("u2", ["z"], 2.0)],
        "uniqueID string, arr array<string>, v double",
    )
    out = str(tmp_path / "export")
    write_neo4j_tsv(df, out, id_col="uniqueID", label="boundEntity|domain")
    back = (
        spark.read.option("sep", "\t").option("header", True).csv(out)
    )
    assert back.columns == ["uniqueID:ID(id)", "arr:string[]", "v:float", ":LABEL"]
    rows = {r["uniqueID:ID(id)"]: r for r in back.collect()}
    assert rows["u1"]["arr:string[]"] == "x|y"
    assert rows["u2"]["v:float"] == "2.0"
    assert rows["u1"][":LABEL"] == "boundEntity|domain"


def test_cath_names_reader(spark, tmp_path):
    from procoggraph_spark.sources.readers import read_cath_names

    p = tmp_path / "cath-names.txt"
    p.write_text(
        "# CATH names file\n"
        "1    1oaiA00    :Mainly Alpha\n"
        "1.10    1oaiA00    :Orthogonal Bundle\n"
        "1.10.510    1oksA00    :Transferase(Phosphotransferase) domain 1\n"
    )
    got = {
        (r["accession"], r["description"])
        for r in read_cath_names(spark, str(p)).collect()
    }
    assert got == {
        ("1", "Mainly Alpha"),
        ("1.10", "Orthogonal Bundle"),
        ("1.10.510", "Transferase(Phosphotransferase) domain 1"),
    }


def test_scop_descriptions_reader(spark, tmp_path):
    from procoggraph_spark.sources.readers import (
        read_scop_descriptions,
        scop_level_names,
    )

    p = tmp_path / "dir.des.scop.txt"
    p.write_text(
        "# dir.des.scop.txt\n"
        "46456\tcl\ta\t-\tAll alpha proteins\n"
        "46457\tcf\ta.1\t-\tGlobin-like\n"
        "46458\tsf\ta.1.1\t-\tGlobin-like\n"
        "46459\tfa\ta.1.1.1\t-\tTruncated hemoglobin\n"
        "46460\tdm\ta.1.1.1\td1dlwa_\tProtozoan/bacterial hemoglobin\n"
        "116748\tpx\t-\ts0001\tdummy\n"
    )
    names = {
        (r["accession"], r["description"])
        for r in scop_level_names(read_scop_descriptions(spark, str(p))).collect()
    }
    # cl/cf/sf/fa keyed by sccs; dm (duplicate sccs) and px ('-') dropped
    assert names == {
        ("a", "All alpha proteins"),
        ("a.1", "Globin-like"),
        ("a.1.1", "Globin-like"),
        ("a.1.1.1", "Truncated hemoglobin"),
    }


def test_scop2_descriptions_reader(spark, tmp_path):
    from procoggraph_spark.sources.readers import read_scop2_descriptions

    p = tmp_path / "scop2-des.txt"
    p.write_text(
        "# SCOP2 descriptions\n"
        "1000001 All alpha proteins\n"
        "3000001 Globin-like superfamily\n"
    )
    got = {
        (r["accession"], r["description"])
        for r in read_scop2_descriptions(spark, str(p)).collect()
    }
    assert got == {
        ("1000001", "All alpha proteins"),
        ("3000001", "Globin-like superfamily"),
    }


def test_read_jsonl_corpus_dead_letters_malformed_lines(spark, tmp_path):
    """JSONL ingest: typed rows come back clean; malformed lines land
    in the dead-letter frame verbatim instead of failing the job or
    silently turning into all-null rows."""
    from pyspark.sql import types as T

    from procoggraph_spark.sources.readers import read_jsonl_corpus

    p = tmp_path / "corpus.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "alpha"}\n'
        'this is not json at all\n'
        '{"doc_id": 2, "text": "beta"}\n'
        '{"doc_id": 3, "text": "gamma", "extra": "ignored"}\n'
        '{"doc_id": "not-a-number and unclosed\n'
    )
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    good, bad = read_jsonl_corpus(spark, str(p), schema)
    rows = {r["doc_id"]: r["text"] for r in good.collect()}
    assert rows == {1: "alpha", 2: "beta", 3: "gamma"}
    bad_lines = [r["raw_line"] for r in bad.collect()]
    assert len(bad_lines) == 2
    assert any("not json" in l for l in bad_lines)
