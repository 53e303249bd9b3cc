"""Framework-free e2e tests for the pipeline REST surface.

The handlers ARE the endpoints (ref src/api/main.py:102-304); fastapi
is absent from this container, so we drive the handler methods
directly with the reference's request shapes and assert the
reference's response shapes (src/api/models.py:138-180).
"""

import os

import pytest

from ai_etl_framework_spark.api import PipelineApiService

PIPELINE_RESPONSE_KEYS = {
    "pipeline_id", "mode", "status", "message", "stages", "created_at", "metadata",
}
STAGE_RESPONSE_KEYS = {
    "pipeline_id", "stage", "status", "records", "duration_seconds", "message", "error",
}
STATUS_KEYS = {
    "pipeline_id", "name", "mode", "overall_status", "extract_status",
    "transform_status", "load_status", "created_at", "updated_at",
    "extract_records", "transform_records", "load_records", "total_duration", "error",
}


@pytest.fixture()
def svc(spark, tmp_path):
    return PipelineApiService(
        spark,
        base_dir=str(tmp_path / "data"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )


def _config(sf_dir, **overrides):
    cfg = {
        "name": "Orders Feed",
        "mode": "unified",
        "org_id": "Acme Corp",
        "source": {"type": "parquet", "path": os.path.join(sf_dir, "orders.parquet")},
        "transformers": [
            # reference nested shape {"type", "config"} (models.py:40-56)
            {"type": "null_remover", "config": {"strategy": "drop"}},
        ],
        "destinations": [{"type": "parquet"}],
    }
    cfg.update(overrides)
    return cfg


def test_unified_run_shapes_and_outputs(svc, spark, sf_dir):
    resp = svc.run_unified(_config(sf_dir))
    assert set(resp) == PIPELINE_RESPONSE_KEYS
    assert resp["status"] == "completed"
    assert [s["stage"] for s in resp["stages"]] == ["extract", "transform", "load"]

    n_src = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).count()
    assert resp["stages"][2]["records_out"] == n_src  # orders has no nulls

    # org-isolated medallion outputs (ref path_generator.py:62-113)
    outs = resp["metadata"]["outputs"]
    assert "/acme-corp/gold/bi/orders-feed/" in outs["bi_path"]
    assert spark.read.parquet(outs["bi_path"]).count() == n_src
    assert os.path.exists(outs["rag_path"])  # gold/rag CSV twin

    status = svc.get_status(resp["pipeline_id"])
    assert set(status) == STATUS_KEYS
    assert status["overall_status"] == "completed"
    assert status["load_records"] == n_src


def test_staged_lifecycle(svc, spark, sf_dir):
    resp = svc.init_staged(_config(sf_dir, mode="staged"))
    assert resp["status"] == "initialized"
    pid = resp["pipeline_id"]

    ex = svc.run_extract(pid)
    assert set(ex) == STAGE_RESPONSE_KEYS
    assert ex["status"] == "completed" and ex["records"] > 0

    tr = svc.run_transform(pid)
    assert tr["status"] == "completed" and tr["records"] == ex["records"]

    # preview between stages (ref main.py:368-404)
    prev = svc.preview_data(pid, stage="transformed", limit=5)
    assert prev["count"] == 5
    assert "o_orderkey" in prev["schema"]
    assert svc.preview_data(pid, stage="nope") is None

    ld = svc.run_load(pid)
    assert ld["status"] == "completed" and ld["records"] == tr["records"]

    status = svc.get_status(pid)
    assert (status["extract_status"], status["transform_status"],
            status["load_status"]) == ("completed",) * 3

    listed = svc.list_pipelines(mode="staged")
    assert pid in [s["pipeline_id"] for s in listed]
    assert svc.list_pipelines(mode="unified") == []

    ckpt = os.path.join(svc.checkpoint_dir, pid)
    assert os.path.exists(ckpt)
    svc.delete_pipeline(pid)
    assert not os.path.exists(ckpt)
    assert svc.get_status(pid) is None


def test_staged_stage_failure_is_reported(svc, sf_dir):
    cfg = _config(sf_dir, mode="staged")
    resp = svc.init_staged(cfg)
    pid = resp["pipeline_id"]
    # transform before extract: checkpoint missing -> failed stage response
    tr = svc.run_transform(pid)
    assert tr["status"] == "failed" and tr["error"]
    assert svc.get_status(pid)["transform_status"] == "failed"


def test_quarantine_path_injected_for_anomaly_splitter(svc, sf_dir):
    cfg = _config(sf_dir, transformers=[{"type": "anomaly_splitter",
                                         "config": {"flag_col": "missing"}}])
    prepared, outs = svc._prepare_config(cfg)
    t = prepared["transformers"][0]
    assert t["quarantine_path"] == outs["quarantine_path"]
    assert "/acme-corp/quarantine/orders-feed_anomalies.csv" in outs["quarantine_path"]


SPLIT_CHAIN = [
    {"type": "anomaly_detector", "method": "statistical", "threshold": 3.0},
    {"type": "anomaly_splitter"},
]


def _cached_rdds(spark):
    return list(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def _write_bronze(path, tag, ids):
    rows = "".join(f"{i},{tag},{10.0 + i % 7}\n" for i in ids)
    path.write_text("id,tag,amount\n" + rows)


def test_unified_rerun_reads_replaced_bronze_and_releases_caches(svc, spark, tmp_path):
    """A run releases every frame it cached, the splitter's input
    included. Left cached, that frame matched the next run's plan over
    the same bronze path, so the rerun wrote the previous batch's gold
    although a file under the path had been replaced."""
    spark.catalog.clearCache()  # the session is shared across tests
    bronze = tmp_path / "bronze"
    bronze.mkdir()
    _write_bronze(bronze / "base.csv", "base", range(200))
    _write_bronze(bronze / "batch_a.csv", "a", range(1000, 1030))
    cfg = _config("", source={"type": "csv", "path": str(bronze)},
                  transformers=SPLIT_CHAIN)

    def gold_tags():
        resp = svc.run_unified(cfg)
        assert resp["status"] == "completed", resp["message"]
        assert _cached_rdds(spark) == []
        gold = spark.read.parquet(resp["metadata"]["outputs"]["bi_path"])
        return {r["tag"]: r["count"] for r in gold.groupBy("tag").count().collect()}

    assert gold_tags() == {"base": 200, "a": 30}
    (bronze / "batch_a.csv").unlink()
    _write_bronze(bronze / "batch_b.csv", "b", range(2000, 2040))
    assert gold_tags() == {"base": 200, "b": 40}

    staged = svc.init_staged(cfg)["pipeline_id"]
    assert svc.run_extract(staged)["status"] == "completed"
    tr = svc.run_transform(staged)
    assert tr["status"] == "completed" and tr["records"] == 240
    assert _cached_rdds(spark) == []


def test_bronze_upload_and_list(svc):
    """Bronze file management (r12, ref main.py:1550/1609): upload
    lands under {base}/{org-slug}/bronze, traversal is stripped, the
    listing carries name/path/size/modified."""
    out = svc.upload_bronze("Acme Corp", "sales.csv", b"a,b\n1,2\n")
    assert out["success"] and out["file"]["name"] == "sales.csv"
    assert out["file"]["size"] == 8
    assert "/acme-corp/bronze/sales.csv" in out["file"]["path"]

    # path traversal cannot escape the bronze dir
    evil = svc.upload_bronze("Acme Corp", "../../etc/passwd", b"x")
    assert evil["file"]["name"] == "passwd"
    assert "/acme-corp/bronze/passwd" in evil["file"]["path"]

    import pytest as _pytest

    with _pytest.raises(ValueError):
        svc.upload_bronze("Acme Corp", "", b"x")

    listing = svc.list_bronze("Acme Corp")
    names = [f["name"] for f in listing["files"]]
    assert names == ["passwd", "sales.csv"] and listing["count"] == 2
    assert all(f["size"] >= 1 and f["modified"] for f in listing["files"])
    assert svc.list_bronze("empty-org") == {"files": [], "count": 0}


def test_bronze_upload_rejects_dot_names(svc):
    import pytest as _pytest

    for bad in (".", "..", "a/..", "./"):
        with _pytest.raises(ValueError, match="invalid filename|plain file"):
            svc.upload_bronze("Acme Corp", bad, b"x")
