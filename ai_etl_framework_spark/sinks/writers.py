"""Sinks (CSV / JSON / Parquet / JDBC) with the reference's surface.

Reference: src/adapters/destinations/{csv_loader,json_loader,
parquet_loader,sqlite_loader,postgres_loader}.py.

What maps where:
- overwrite/append: native write modes — the reference's Parquet
  "append" was read-concat-rewrite (parquet_loader.py:192-195) which
  is O(table) per append; Spark append is O(new data).
- compression: option("compression", …) — gzip/bz2 for CSV/JSON,
  snappy/gzip/zstd/lz4/brotli for Parquet (ref loaders' option sets).
- partition_cols → partitionBy (ref parquet_loader.py:198-204), which
  also buys partition pruning on read.
- schema-ordered columns with extras preserved after
  (ref csv_loader.py:162-175): ``ordered_columns``.
- temp-file + atomic rename transactionality → Spark's job-commit
  protocol, nothing to build.
- type coercion on write (ref parquet_loader.py:216-250) → cast map.
- JSON 'array'/pretty mode buffered whole files in memory; kept
  JSONL (lines) — array mode only for small collected outputs.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def ordered_columns(df: DataFrame, schema_cols: Sequence[str]) -> DataFrame:
    """Schema columns first (in given order), extras after, preserved
    (ref csv_loader.py:162-175)."""
    present = [c for c in schema_cols if c in df.columns]
    extras = [c for c in df.columns if c not in present]
    return df.select(*present, *extras)


def coerce_types(df: DataFrame, type_map: dict[str, str]) -> DataFrame:
    """Schema-driven cast (ref parquet_loader.py:216-250); try_cast so
    bad values become NULL like pandas' errors='coerce'."""
    out = df
    for col, t in type_map.items():
        if col in out.columns:
            out = out.withColumn(col, F.col(col).try_cast(t))
    return out


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    compression: str = "snappy",
    partition_cols: Optional[Sequence[str]] = None,
    schema_cols: Optional[Sequence[str]] = None,
    type_map: Optional[dict[str, str]] = None,
) -> None:
    if type_map:
        df = coerce_types(df, type_map)
    if schema_cols:
        df = ordered_columns(df, schema_cols)
    writer = df.write.mode(mode).option("compression", compression)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    compression: str = "zstd",
    partition_cols: Optional[Sequence[str]] = None,
    schema_cols: Optional[Sequence[str]] = None,
    type_map: Optional[dict[str, str]] = None,
) -> None:
    """Columnar ORC sink — the write twin of sources.readers.read_orc
    (no reference counterpart; lakehouse interop). Same mode/
    compression/partitionBy/coercion contract as write_parquet."""
    if type_map:
        df = coerce_types(df, type_map)
    if schema_cols:
        df = ordered_columns(df, schema_cols)
    writer = df.write.mode(mode).option("compression", compression)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.orc(path)


def write_csv(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    header: bool = True,
    compression: Optional[str] = None,
    schema_cols: Optional[Sequence[str]] = None,
    single_file: bool = False,
) -> None:
    if schema_cols:
        df = ordered_columns(df, schema_cols)
    if single_file:
        # small outputs only (gold/rag CSV for downstream RAG indexers)
        df = df.coalesce(1)
    writer = df.write.mode(mode).option("header", header)
    if compression:
        writer = writer.option("compression", compression)
    writer.csv(path)


def write_json(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    compression: Optional[str] = None,
) -> None:
    """JSONL (the reference's 'lines' mode; 'array' mode only made
    sense for in-memory writes)."""
    writer = df.write.mode(mode)
    if compression:
        writer = writer.option("compression", compression)
    writer.json(path)


def write_json_array(
    df: DataFrame,
    path: str,
    pretty: bool = False,
    max_rows: int = 100_000,
    schema_export: bool = False,
) -> None:
    """The reference's JSON 'array' mode (json_loader.py:17-309): one
    file holding a single JSON array, optionally indented, with an
    optional ``.schema.json`` sidecar. Array mode is inherently a
    single-writer format, so this collects to the driver — guarded by
    ``max_rows`` (the reference buffered the whole output in memory
    too). For anything large, use :func:`write_json` (JSONL, fully
    distributed)."""
    import json
    import os

    n = df.count()
    if n > max_rows:
        raise ValueError(
            f"array mode collects to the driver: {n} rows > max_rows={max_rows}; "
            "use write_json (JSONL) for large outputs"
        )
    rows = [r.asDict(recursive=True) for r in df.collect()]
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(rows, f, indent=2 if pretty else None, default=str)
    os.replace(tmp, path)  # temp-file + atomic rename (ref json_loader commit)
    if schema_export:
        sidecar = {
            "fields": [
                {"name": fld.name, "type": fld.dataType.simpleString(), "nullable": fld.nullable}
                for fld in df.schema.fields
            ]
        }
        with open(path + ".schema.json", "w") as f:
            json.dump(sidecar, f, indent=2)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    user: Optional[str] = None,
    password: Optional[str] = None,
    batch_size: int = 1000,
    **properties,
) -> None:
    """DB loaders (sqlite/postgres) → JDBC writer; ``batchsize``
    replaces the reference's executemany batching (default 1000,
    ref sqlite_loader.py:146)."""
    writer = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", batch_size)
        .mode(mode)
    )
    if user:
        writer = writer.option("user", user)
    if password:
        writer = writer.option("password", password)
    for k, v in properties.items():
        writer = writer.option(k, v)
    writer.save()


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    num_buckets: int = 32,
    sort_cols: Optional[Sequence[str]] = None,
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> None:
    """Persist as a bucketed (and optionally sorted) table.

    Two tables bucketed on the same key with the same bucket count
    join WITHOUT an exchange — at 100 TB this turns every repeated
    fact-to-fact join on the bucket key from a full shuffle into a
    local zip of corresponding buckets (verified by the bucketing
    test: no Exchange in the join plan). Requires the session
    catalog (saveAsTable), not a bare path."""
    writer = df.write.format(fmt).mode(mode).bucketBy(int(num_buckets), *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)

