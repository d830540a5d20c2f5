"""J7 upload fixity against the LocalFSClient: the listing's ETag is
the MD5 of the object's current bytes, as S3 reports it for a
single-part PUT, so `verify_upload` reports an object whose bytes
changed even when its size did not, a key that is not in the bucket,
and a multipart ETag that needs a re-hash."""

from __future__ import annotations

import hashlib
import os

from razulibs_spark.session import local_frame
from razulibs_spark.sinks import object_store as obs

EXPECTED = "key string, local_path string, md5hash string"


def _upload(spark, tmp_path, n=3):
    payload = tmp_path / "payload"
    payload.mkdir()
    rows = []
    for i in range(n):
        p = payload / f"doc_{i}.txt"
        p.write_bytes(f"content-{i}".encode())
        rows.append((f"661/doc_{i}.txt", str(p), hashlib.md5(p.read_bytes()).hexdigest()))
    expected = local_frame(spark, rows, EXPECTED)
    root = str(tmp_path / "bucket-root")
    factory = obs.make_local_client_factory(root)
    assert obs.upload_from_manifest(expected, "edepot", factory) == n
    return expected, factory, root


def _report(spark, expected, factory):
    listing = obs.list_objects(spark, factory, "edepot")
    return {r["key"]: r["status"] for r in obs.verify_upload(expected, listing).collect()}


def test_listing_etag_is_the_object_md5(spark, tmp_path):
    expected, factory, _ = _upload(spark, tmp_path)
    want = {r["key"]: r["md5hash"] for r in expected.collect()}
    got = {r["key"]: r["etag"] for r in obs.list_objects(spark, factory, "edepot").collect()}
    assert got == want
    assert _report(spark, expected, factory) == {}


def test_same_size_overwrite_and_missing_key_are_reported(spark, tmp_path):
    expected, factory, root = _upload(spark, tmp_path)
    obj = os.path.join(root, "edepot", "661/doc_1.txt")
    size = os.path.getsize(obj)
    with open(obj, "wb") as fh:
        fh.write(b"CONTENT-1")  # same length, other bytes
    assert os.path.getsize(obj) == size
    os.remove(os.path.join(root, "edepot", "661/doc_2.txt"))
    assert _report(spark, expected, factory) == {
        "661/doc_1.txt": "md5_mismatch", "661/doc_2.txt": "missing_remote"}


def test_multipart_etag_reads_recheck(spark):
    expected = local_frame(spark, [("a.jpg", "/x/a.jpg", "0" * 32),
                                   ("b.jpg", "/x/b.jpg", "1" * 32)], EXPECTED)
    listing = local_frame(spark, [("a.jpg", 10, "0" * 32 + "-2"),
                                  ("b.jpg", 10, "1" * 32)],
                          "key string, size bigint, etag string")
    assert [tuple(r) for r in obs.verify_upload(expected, listing).collect()] == [
        ("a.jpg", "multipart_recheck")]
