"""Sinks (SURVEY S14/S15): Neo4j-bulk-import-style TSV export and
gzipped TSV tables.

The reference serializes arrays as '|'-joined strings with typed
`:ID(space)` / `prop:type[]` headers (`produce_neo4j_files.py:69-562`,
`import_neo4j_data.sh:3-78`). The engine keeps ArrayType internally and
applies that encoding ONLY here, including the reference's own ','→'|'
repair for values containing commas (`produce_neo4j_files.py:119,381`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def neo4j_encode(df: DataFrame) -> DataFrame:
    """Serialize array columns to '|'-joined strings (sorted for
    determinism), scrub embedded '|'-colliding commas in string columns
    the way the reference does at export."""
    out = df
    for field in df.schema.fields:
        if isinstance(field.dataType, T.ArrayType):
            out = out.withColumn(
                field.name,
                F.array_join(
                    F.array_sort(F.col(field.name).cast("array<string>")), "|"
                ),
            )
    return out


def neo4j_header(df: DataFrame, *, id_col: str | None = None, id_space: str = "id",
                 label: str | None = None) -> list[str]:
    """Build the neo4j-admin import header row: `col:type` names,
    `:ID(space)` for the id column, `[]` suffix for arrays."""
    type_map = {
        T.LongType(): "long", T.IntegerType(): "int",
        T.DoubleType(): "float", T.StringType(): "string",
    }
    cols = []
    for field in df.schema.fields:
        if field.name == id_col:
            cols.append(f"{field.name}:ID({id_space})")
        elif isinstance(field.dataType, T.ArrayType):
            cols.append(f"{field.name}:string[]")
        else:
            t = type_map.get(field.dataType, "string")
            cols.append(f"{field.name}:{t}" if t != "string" else field.name)
    if label:
        cols.append(":LABEL")
    return cols


def write_neo4j_tsv(
    df: DataFrame, path: str, *, id_col: str | None = None, id_space: str = "id",
    label: str | None = None, gzip: bool = True,
) -> None:
    """S14: the bulk-import TSV (tab sep, '|' arrays, optional :LABEL
    column with the `type|domain` multi-label convention) under the
    typed neo4j-admin header of :func:`neo4j_header`."""
    enc = neo4j_encode(df)
    if label:
        enc = enc.withColumn(":LABEL", F.lit(label))
    enc = enc.toDF(*neo4j_header(df, id_col=id_col, id_space=id_space, label=label))
    writer = enc.write.mode("overwrite").option("sep", "\t").option("header", True)
    if gzip:
        writer = writer.option("compression", "gzip")
    writer.csv(path)


def write_training_shards(
    df: DataFrame,
    out_dir: str,
    *,
    shard_col: str = "shard",
    pos_col: str = "shard_pos",
    file_format: str = "parquet",
) -> None:
    """Training-shard writer: materialize a shuffled corpus (e.g.
    `operators/sampling.corpus_shuffle` output) as one directory per
    shard with rows stored in training order — the layout a trainer
    consumes (open shards in parallel, stream each file sequentially;
    no sort at read time).

    Scale shape: `repartition` on the shard key aligns one task per
    shard, `sortWithinPartitions` orders rows inside each task (an
    external sort that spills — never a global sort), and `partitionBy`
    writes each shard to its own directory in one pass. Shard count is
    the parallelism unit and scales with the corpus exactly like output
    file counts do; the write itself is shuffle(1 exchange)+sort+scan,
    with no driver-side collection at any size.
    """
    (
        df.repartition(F.col(shard_col))
        .sortWithinPartitions(shard_col, pos_col)
        .write.partitionBy(shard_col)
        .mode("overwrite")
        .format(file_format)
        .save(out_dir)
    )
