"""Ingest-edge tests (SURVEY.md §2.1 S9/K5/K8/K9/K10, §2.2 P9) against
the deterministic LocalFSClient — same call surface as boto3, so the
plans are exercised end-to-end: anti-join only-if-new, per-partition
clients, ≤1000-key delete batching, re-list reconciliation.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from razulibs_spark.sinks import object_store as obs


@pytest.fixture()
def store(spark, tmp_path):
    payload = tmp_path / "payload"
    payload.mkdir()
    rows = []
    for i in range(5):
        p = payload / f"doc_{i}.txt"
        p.write_text(f"content-{i}")
        rows.append((f"661/{i:03d}/doc_{i}.txt", str(p), "razu", f"ds-{i % 2}"))
    manifest = spark.createDataFrame(
        rows, "key string, local_path string, source string, dataset string"
    )
    root = str(tmp_path / "bucket-root")
    os.makedirs(root)
    return manifest, obs.make_local_client_factory(root), root


def test_upload_list_only_if_new(spark, store):
    manifest, factory, _ = store
    shipped = obs.upload_from_manifest(
        manifest, "edepot", factory, meta_cols=["source", "dataset"]
    )
    assert shipped == 5
    listing = obs.list_objects(spark, factory, "edepot")
    assert listing.count() == 5
    # P9: a second run against the fresh listing ships nothing —
    # the anti-join replaces 5 head_object probes with one LIST.
    assert obs.upload_from_manifest(manifest, "edepot", factory,
                                    listing=listing) == 0
    # Prefix pushdown on the listing source:
    assert obs.list_objects(spark, factory, "edepot", prefix="661/003").count() == 1


def test_metadata_encoding_and_mime():
    assert obs.encode_metadata({"a": "Tull en 't Waal"})["a"] == "Tull%20en%20%27t%20Waal"
    assert obs.guess_mime("x/y.jpg") == "image/jpeg"
    assert obs.guess_mime("x/unknown.xyzzy") == "application/octet-stream"


def test_delete_batching_and_reconcile(spark, store, monkeypatch):
    manifest, factory, root = store
    obs.upload_from_manifest(manifest, "edepot", factory)
    monkeypatch.setattr(obs, "DELETE_BATCH_SIZE", 2)
    keys = manifest.select("key").coalesce(1)
    still_there = obs.delete_and_reconcile(spark, keys, "edepot", factory)
    assert still_there.count() == 0
    assert obs.list_objects(spark, factory, "edepot").count() == 0
    # K8 batching: 5 keys in one partition at batch size 2 → 2+2+1.
    with open(os.path.join(root, "_batches.log")) as fh:
        assert [int(x) for x in fh.read().split()] == [2, 2, 1]


def test_acl_and_metadata_rewrite(spark, store):
    manifest, factory, root = store
    obs.upload_from_manifest(manifest, "edepot", factory)
    one = manifest.filter(F.col("key").contains("doc_0"))
    obs.update_acl(one, "edepot", factory, acl="public-read")
    obs.rewrite_metadata(one, "edepot", factory, meta_cols=["source"])
    key = "661/000/doc_0.txt"
    assert open(os.path.join(root, "_acl", "edepot", key)).read() == "public-read"
    assert '"razu"' in open(os.path.join(root, "_meta", "edepot", key)).read()


def test_sidecars_stay_out_of_the_key_namespace(spark, tmp_path):
    """Object metadata and ACLs are not objects: a real ``*.meta.json``
    key lists exactly once and is not shipped again by only-if-new, an
    ACL update adds no ``.acl`` key, and a delete removes the sidecars."""
    src = tmp_path / "a.meta.json"
    src.write_text("{}")
    manifest = spark.createDataFrame(
        [("a.meta.json", str(src))], "key string, local_path string")
    root = str(tmp_path / "bucket-root")
    factory = obs.make_local_client_factory(root)

    assert obs.upload_from_manifest(manifest, "edepot", factory) == 1
    listing = obs.list_objects(spark, factory, "edepot")
    assert [r["key"] for r in listing.collect()] == ["a.meta.json"]
    assert obs.upload_from_manifest(manifest, "edepot", factory, listing=listing) == 0
    obs.update_acl(manifest, "edepot", factory)
    assert [r["key"] for r in obs.list_objects(spark, factory, "edepot").collect()] == [
        "a.meta.json"]

    obs.delete_keys(manifest, "edepot", factory)
    assert obs.list_objects(spark, factory, "edepot").count() == 0
    for tree in ("_meta", "_acl"):
        assert not os.path.exists(os.path.join(root, tree, "edepot", "a.meta.json"))


# ---------------------------------------------------------------------------
# Real-endpoint integration (skipped unless OBJECT_STORE_ENDPOINT is
# set — VERDICT r9 item 8). Run against MinIO/moto:
#   pip install boto3 moto[server] && moto_server -p 5000 &
#   export OBJECT_STORE_ENDPOINT=http://127.0.0.1:5000 \
#          AWS_ACCESS_KEY_ID=x AWS_SECRET_ACCESS_KEY=y \
#          AWS_DEFAULT_REGION=us-east-1
#   python -m pytest tests/test_object_store.py -k real_endpoint -v
# ---------------------------------------------------------------------------

_ENDPOINT = os.environ.get("OBJECT_STORE_ENDPOINT")


@pytest.mark.skipif(
    not _ENDPOINT,
    reason="set OBJECT_STORE_ENDPOINT to an S3-compatible URL "
    "(MinIO/moto) to run the real-boto3 integration path",
)
def test_real_endpoint_upload_list_delete(spark, tmp_path):
    """The boto3 factory against a REAL S3-compatible endpoint: the
    same upload → list → only-if-new → batched-delete → reconcile
    cycle the LocalFSClient tests pin, now over the wire."""
    boto3 = pytest.importorskip("boto3")

    factory = obs.make_boto3_client_factory(endpoint_url=_ENDPOINT)
    bucket = "razulibs-spark-it"
    client = factory()
    try:
        client.create_bucket(Bucket=bucket)
    except boto3.exceptions.Boto3Error:
        pass

    payload = tmp_path / "payload"
    payload.mkdir()
    rows = []
    for i in range(5):
        p = payload / f"doc_{i}.txt"
        p.write_text(f"content-{i}")
        rows.append((f"it/{i:03d}/doc_{i}.txt", str(p), "razu", "ds"))
    manifest = spark.createDataFrame(
        rows, "key string, local_path string, source string, dataset string"
    )
    shipped = obs.upload_from_manifest(
        manifest, bucket, factory, meta_cols=["source", "dataset"]
    )
    assert shipped == 5
    listing = obs.list_objects(spark, factory, bucket, prefix="it/")
    assert listing.count() == 5
    # only-if-new: a second run against the fresh listing ships nothing
    assert obs.upload_from_manifest(
        manifest, bucket, factory, listing=listing
    ) == 0
    # delete + reconcile comes back empty
    keys = manifest.select("key")
    leftovers = obs.delete_and_reconcile(spark, keys, bucket, factory)
    assert leftovers.count() == 0
