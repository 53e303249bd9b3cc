"""Sources/sinks: CSV/JSON readers (modes, json_path, corrupt
records), writers (ordering, coercion, partitioning),
incremental manifest, row-id stamping, medallion paths."""

from __future__ import annotations

import glob
import gzip
import json
import os

import pytest
from pyspark.sql import functions as F

from ai_etl_framework_spark.sinks.writers import (
    coerce_types,
    ordered_columns,
    write_csv,
    write_json,
    write_parquet,
)
from ai_etl_framework_spark.sources.paths import generate_outputs, slugify
from ai_etl_framework_spark.sources.readers import (
    incremental_manifest,
    read_binary,
    read_csv,
    read_json,
    read_orc,
    read_text,
    with_row_id,
)


@pytest.fixture()
def small(spark):
    return spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5), (3, None, 3.5)], "id int, name string, v double"
    )


# -- readers ----------------------------------------------------------


def test_read_csv_roundtrip(spark, small, tmp_path):
    p = str(tmp_path / "csv")
    small.write.option("header", True).option("sep", ";").csv(p)
    back = read_csv(spark, p, delimiter=";", has_header=True)
    assert back.count() == 3
    assert set(back.columns) == {"id", "name", "v"}
    assert dict(back.dtypes)["id"] == "int"  # inferSchema on


def test_read_orc_roundtrip(spark, small, tmp_path):
    p = str(tmp_path / "orc")
    small.write.orc(p)
    back = read_orc(spark, p)
    assert back.count() == 3
    assert set(back.columns) == {"id", "name", "v"}
    assert dict(back.dtypes)["id"] == "int"  # ORC keeps types exactly


def test_read_text_lines_and_wholefile(spark, tmp_path):
    (tmp_path / "a.txt").write_text("one\ntwo\n")
    (tmp_path / "b.txt").write_text("three\n")
    lines = read_text(spark, str(tmp_path))
    assert sorted(r["value"] for r in lines.collect()) == ["one", "three", "two"]
    whole = read_text(spark, str(tmp_path), whole_file=True)
    rows = {os.path.basename(r["path"]): r["value"] for r in whole.collect()}
    assert rows == {"a.txt": "one\ntwo\n", "b.txt": "three\n"}


def test_read_binary_glob_and_metadata(spark, tmp_path):
    (tmp_path / "x.bin").write_bytes(b"\x00\x01\x02")
    (tmp_path / "y.dat").write_bytes(b"zz")
    df = read_binary(spark, str(tmp_path), glob="*.bin")
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0]["length"] == 3 and bytes(rows[0]["content"]) == b"\x00\x01\x02"


def test_read_json_lines_and_array(spark, tmp_path):
    lines = tmp_path / "lines.json"
    lines.write_text('{"a": 1}\n{"a": 2}\n')
    arr = tmp_path / "arr.json"
    arr.write_text('[{"a": 1}, {"a": 2}, {"a": 3}]')
    assert read_json(spark, str(lines)).count() == 2  # auto → lines
    assert read_json(spark, str(arr)).count() == 3  # auto → array
    assert read_json(spark, str(arr), mode="array").count() == 3


def test_read_json_dot_path(spark, tmp_path):
    f = tmp_path / "nested.json"
    f.write_text('{"data": {"records": [{"x": 1}, {"x": 2}]}}\n')
    out = read_json(spark, str(f), json_path="data.records")
    assert [r.x for r in out.orderBy("x").collect()] == [1, 2]


def test_read_json_corrupt_line_tolerated(spark, tmp_path):
    f = tmp_path / "bad.json"
    f.write_text('{"a": 1}\nTHIS IS NOT JSON\n{"a": 3}\n')
    out = read_json(spark, str(f)).cache()  # cache: Spark disallows
    # querying only the corrupt-record column of a raw scan
    assert out.count() == 3  # PERMISSIVE keeps the bad line
    assert "_corrupt_record" in out.columns
    assert out.filter(F.col("_corrupt_record").isNotNull()).count() == 1
    out.unpersist()


def test_with_row_id_is_contiguous(spark, small):
    out = with_row_id(small.repartition(3))
    ids = sorted(r._row_id for r in out.collect())
    assert ids == [0, 1, 2]


def test_with_row_id_matches_global_window_order(spark, tmp_path):
    """Property: the offset-based row id (no global window) assigns
    exactly the ids the round-1 unpartitioned-window version did —
    rank of (input_file_name, monotonically_increasing_id) — on
    multi-file input with multiple rows per file."""
    from pyspark.sql import Window

    for i in range(4):
        (tmp_path / f"part{i}.csv").write_text(
            "v\n" + "\n".join(str(i * 100 + j) for j in range(25)) + "\n"
        )
    df = spark.read.option("header", True).csv(str(tmp_path))
    got = {r["v"]: r["_row_id"] for r in with_row_id(df).collect()}

    w = Window.orderBy(F.col("__file"), F.col("__mono"))
    expected = {
        r["v"]: r["_rid"]
        for r in df.withColumn("__file", F.input_file_name())
        .withColumn("__mono", F.monotonically_increasing_id())
        .withColumn("_rid", F.row_number().over(w) - 1)
        .collect()
    }
    assert got == expected
    assert sorted(got.values()) == list(range(100))


# -- writers ----------------------------------------------------------


def test_ordered_columns_and_coercion(small):
    out = ordered_columns(small, ["v", "id"])
    assert out.columns == ["v", "id", "name"]  # schema first, extras after
    co = coerce_types(small, {"id": "string", "name": "double"})
    assert dict(co.dtypes)["id"] == "string"
    # non-numeric strings coerce to NULL, not error
    assert co.filter(F.col("name").isNotNull()).count() == 0


def test_write_parquet_partitioned(spark, small, tmp_path):
    p = str(tmp_path / "pq")
    write_parquet(small, p, partition_cols=["id"], compression="zstd")
    assert glob.glob(os.path.join(p, "id=1", "*.parquet"))
    back = spark.read.parquet(p)
    assert back.count() == 3
    # partition pruning: only one directory read for id=2
    pruned = back.filter(F.col("id") == 2)
    assert pruned.count() == 1
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "(id" in plan.split("PartitionFilters")[1][:80]


def test_write_csv_gzip_single_file(small, tmp_path):
    p = str(tmp_path / "csv_gz")
    write_csv(small, p, compression="gzip", single_file=True, schema_cols=["name", "id"])
    files = glob.glob(os.path.join(p, "*.csv.gz"))
    assert len(files) == 1
    with gzip.open(files[0], "rt") as f:
        header = f.readline().strip()
    assert header.split(",")[:2] == ["name", "id"]


def test_write_json_lines(spark, small, tmp_path):
    p = str(tmp_path / "jsonl")
    write_json(small, p)
    rows = []
    for fp in glob.glob(os.path.join(p, "*.json")):
        with open(fp) as f:
            rows += [json.loads(line) for line in f if line.strip()]
    assert len(rows) == 3


# -- incremental manifest ---------------------------------------------


def test_incremental_manifest(spark, small, tmp_path):
    data = tmp_path / "in"
    manifest = str(tmp_path / "manifest.txt")
    small.coalesce(1).write.parquet(str(data / "batch1"))
    # flatten: manifest works on a dir of files
    flat = tmp_path / "flat"
    flat.mkdir()
    for i, f in enumerate(glob.glob(str(data / "batch1" / "*.parquet"))):
        os.rename(f, str(flat / f"file{i}.parquet"))

    df1 = incremental_manifest(spark, str(flat), manifest)
    assert df1.count() == 3
    df1.commit_manifest()

    # no new files → empty frame
    df2 = incremental_manifest(spark, str(flat), manifest)
    assert df2.count() == 0

    # one new file arrives → only it is read
    small.limit(1).coalesce(1).write.parquet(str(data / "batch2"))
    newf = glob.glob(str(data / "batch2" / "*.parquet"))[0]
    os.rename(newf, str(flat / "file_new.parquet"))
    df3 = incremental_manifest(spark, str(flat), manifest)
    assert df3.count() == 1


# -- medallion paths --------------------------------------------------


def test_slugify():
    assert slugify("My Data_Source 2024!") == "my-data-source-2024"
    assert slugify("__weird--name__") == "weird-name"
    assert slugify("ALL CAPS") == "all-caps"


def test_generate_outputs():
    out = generate_outputs("/data", "Acme Corp", "Claims Feed", etl_output="parquet")
    assert out["bi_path"] == "/data/acme-corp/gold/bi/claims-feed/claims-feed.parquet"
    assert out["rag_path"] == "/data/acme-corp/gold/rag/claims-feed/claims-feed.csv"
    assert out["quarantine_path"] == "/data/acme-corp/quarantine/claims-feed_anomalies.csv"
    assert out["bronze_dir"] == "/data/acme-corp/bronze"


def test_write_json_array(spark, tmp_path):
    from ai_etl_framework_spark.sinks.writers import write_json_array

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    out = str(tmp_path / "out.json")
    write_json_array(df.orderBy("id"), out, pretty=True, schema_export=True)
    data = json.load(open(out))
    assert data == [{"id": 1, "v": "a"}, {"id": 2, "v": "b"}]
    sidecar = json.load(open(out + ".schema.json"))
    assert sidecar["fields"][0] == {"name": "id", "type": "bigint", "nullable": True}

    with pytest.raises(ValueError, match="max_rows"):
        write_json_array(df, out, max_rows=1)


def test_incremental_manifest_multiple_new_csv_files(spark, tmp_path):
    """r4 review: getattr(reader, 'csv')(*new) bound file #2 to the
    positional `schema` param — two new CSV files must both load."""
    from ai_etl_framework_spark.sources.readers import incremental_manifest

    data = tmp_path / "inc_csv"
    data.mkdir()
    (data / "a.csv").write_text("x,y\n1,one\n2,two\n")
    (data / "b.csv").write_text("x,y\n3,three\n")
    manifest = str(tmp_path / "manifest.txt")

    df = incremental_manifest(
        spark, str(data), manifest, fmt="csv", header=True, inferSchema=True
    )
    assert df.count() == 3
    df.commit_manifest()

    # nothing new → empty frame; then one more file → just its rows
    assert incremental_manifest(spark, str(data), manifest, fmt="csv").count() == 0
    (data / "c.csv").write_text("x,y\n4,four\n5,five\n")
    df3 = incremental_manifest(
        spark, str(data), manifest, fmt="csv", header=True, inferSchema=True
    )
    assert df3.count() == 2


def test_build_pipeline_leaves_config_dicts_intact(spark, small, tmp_path):
    """The caller's spec dicts survive a build: popping 'type' (or a
    nested transformer config) out of them would make a retry of the
    same config raise KeyError or silently drop parameters."""
    import copy

    from ai_etl_framework_spark.pipeline.config import build_pipeline

    src = str(tmp_path / "src")
    small.write.parquet(src)
    config = {
        "name": "reuse",
        "source": {"type": "parquet", "path": src},
        "transformers": [
            {"type": "null_remover", "config": {"strategy": "drop"}},
            {"type": "type_converter", "casts": {"id": "string"}},
        ],
        "destinations": [
            {"type": "parquet", "path": str(tmp_path / "bi")},
            {"type": "csv", "path": str(tmp_path / "rag"), "header": True},
        ],
    }
    before = copy.deepcopy(config)
    for _ in range(2):
        result = build_pipeline(spark, config).run()
        assert result.success, result.errors
        assert config == before
    assert spark.read.parquet(str(tmp_path / "bi")).count() == result.records_loaded
    assert spark.read.option("header", True).csv(str(tmp_path / "rag")).count() == result.records_loaded


def test_sqlite_nested_struct_in_array_keeps_field_names(spark, tmp_path):
    """r4 review: array<struct<...>> values are collected as [Row, ...];
    encoding must emit JSON objects with field names, not bare
    positional arrays."""
    import json as _json
    import sqlite3

    from ai_etl_framework_spark.sinks.sqlite import write_sqlite

    df = spark.sql(
        "select 1 as id, array(named_struct('name','a','qty',1),"
        " named_struct('name','b','qty',2)) as items"
    )
    db = str(tmp_path / "nested.db")
    write_sqlite(df, db, "t", mode="overwrite")
    con = sqlite3.connect(db)
    (raw,) = con.execute("select items from t").fetchone()
    con.close()
    assert _json.loads(raw) == [
        {"name": "a", "qty": 1},
        {"name": "b", "qty": 2},
    ]


def test_read_json_auto_sniff_bom_and_directory(spark, tmp_path):
    """r4 review: the auto sniff must work on directories via the
    Spark text source and must not let a UTF-8 BOM defeat the '['
    array check."""
    from ai_etl_framework_spark.sources.readers import read_json

    d = tmp_path / "jarr"
    d.mkdir()
    (d / "part1.json").write_bytes(
        "﻿[{\"a\": 1}, {\"a\": 2}]".encode("utf-8")
    )
    df = read_json(spark, str(d), mode="auto")
    assert sorted(r["a"] for r in df.collect()) == [1, 2]
    assert "_corrupt_record" not in df.columns

    lines = tmp_path / "jl"
    lines.mkdir()
    (lines / "part1.jsonl").write_text('{"b": 1}\n{"b": 2}\n{"b": 3}\n')
    assert read_json(spark, str(lines), mode="auto").count() == 3


def test_with_row_id_post_shuffle_falls_back_and_is_contiguous(spark, tmp_path):
    """r4 review: past an exchange input_file_name() is "" and the
    physical layout is not run-stable, so the two-job manifest path
    could misassign ids; the window fallback must kick in and still
    yield a contiguous 0..n-1 id set."""
    for i in range(3):
        (tmp_path / f"f{i}.csv").write_text(
            "v\n" + "\n".join(str(i * 10 + j) for j in range(10)) + "\n"
        )
    df = spark.read.option("header", True).csv(str(tmp_path))
    out = with_row_id(df.repartition(5))  # exchange: file names lost
    rows = out.collect()
    assert sorted(r["_row_id"] for r in rows) == list(range(30))
    assert len({r["v"] for r in rows}) == 30


def test_write_orc_contract(spark, small, tmp_path):
    """write_orc honors the write_parquet contract: mode, partitionBy,
    schema-first column order, try_cast coercion; round-trips through
    read_orc and the config pipeline's orc source/destination."""
    from ai_etl_framework_spark.sinks.writers import write_orc

    p = str(tmp_path / "orc_out")
    write_orc(
        small,
        p,
        partition_cols=["id"],
        schema_cols=list(reversed(small.columns)),
        type_map={"v": "float"},
    )
    back = read_orc(spark, p)
    assert back.count() == small.count()
    assert dict(back.dtypes)["v"] == "float"
    # partition column comes back (appended by the scan)
    assert set(back.columns) == set(small.columns)

    from ai_etl_framework_spark.pipeline.config import build_pipeline

    out2 = str(tmp_path / "orc_out2")
    build_pipeline(
        spark,
        {
            "name": "orc-roundtrip",
            "source": {"type": "orc", "path": p},
            "transformers": [],
            "destinations": [{"type": "orc", "path": out2,
                              "mode": "overwrite"}],
        },
    ).run()
    assert spark.read.orc(out2).count() == small.count()
