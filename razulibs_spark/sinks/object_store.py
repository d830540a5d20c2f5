"""Object-store ingest edges — SURVEY.md §2.1 S9 (listing source) and
K5/K8/K9/K10 (upload / batched delete / metadata rewrite / ACL sinks),
re-expressing razu/s3storage.py and razu/edepot.py set-at-a-time.

The reference loops one HTTPS call per object on one machine
(edepot.py:127-147: head_object per key, upload per file, sequential).
Here every side effect runs through `session.each_partition` — one
task per core in the session's one Python worker pool, one client per
partition, objects streamed per executor — and every *decision* (which
keys are new, which differ, which failed) is a DataFrame join, not a
per-key probe:

- P9 only-if-new  → left-anti join manifest × one LIST (S9), replacing
  N head_object round-trips with one paginated listing.
- K8 delete       → ≤1000-key batches per API call (edepot.py:216-221)
  inside each partition; reconciliation is a re-list + left-anti
  join (J6), exactly edepot.py:223-250's "which are still there".
- J7 verification → `verify_upload`: expected (key, md5hash) ⋈ one
  LIST on key, the MD5 against the ETag; a multipart `-N` ETag is not
  an MD5 and is flagged for a re-hash (edepot.py:257-269).

Clients are pluggable via a serializable zero-arg factory so the same
plans run against real S3 (boto3, import-gated — not baked into this
container) or the deterministic `LocalFSClient` used by the tests.
"""

from __future__ import annotations

import hashlib
import json
import mimetypes
import os
import shutil
import urllib.parse
from dataclasses import dataclass
from typing import Callable, Iterable, Iterator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from razulibs_spark.session import each_partition, local_frame

DELETE_BATCH_SIZE = 1000  # edepot.py:216-221 API limit


def make_boto3_client_factory(
    endpoint_url: str | None = None, **session_kwargs
) -> Callable[[], "object"]:
    """Real-S3 factory (razu/s3storage.py:24-43). Import-gated: boto3
    is not in the test container; calling the factory without it
    raises, constructing it does not. ``endpoint_url`` points the
    client at an S3-compatible store (MinIO, moto, Ceph RGW) — the
    integration recipe in README.md §"Real object store" uses it via
    the OBJECT_STORE_ENDPOINT env var; credentials ride the standard
    AWS env/config chain or explicit ``session_kwargs``. The factory
    closes over plain strings only, so it serializes into
    executor tasks unchanged."""

    def factory():
        import boto3  # noqa: PLC0415

        client_kwargs = (
            {"endpoint_url": endpoint_url} if endpoint_url else {}
        )
        return boto3.session.Session(**session_kwargs).client(
            "s3", **client_kwargs
        )

    return factory


class LocalFSClient:
    """Deterministic object-store fake over a local directory tree
    (bucket/key → ``<root>/<bucket>/<key>``). Implements the boto3
    surface the sinks use; also records per-call batch sizes so tests
    can assert the ≤1000 chunking actually happened.

    Object metadata and ACLs live in sidecar trees under the root but
    outside every bucket (``<root>/_meta/<bucket>/<key>``,
    ``<root>/_acl/<bucket>/<key>``; no S3 bucket name starts with
    ``_``), so any key — ``*.meta.json`` included — lists exactly as
    uploaded, and no sidecar shows up as an object.

    A listed object's ETag is the hex MD5 of its bytes as they are now,
    the way S3 reports it for a single-part PUT, so a changed object
    fails fixity against the MD5 of the file that was uploaded."""

    def __init__(self, root: str):
        self.root = root

    def _path(self, bucket: str, key: str, tree: str = "") -> str:
        return os.path.join(self.root, tree, bucket, key)

    def _write_sidecar(self, tree: str, bucket: str, key: str, text: str) -> None:
        dst = self._path(bucket, key, tree)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        with open(dst, "w") as fh:
            fh.write(text)

    def upload_file(self, Filename, Bucket, Key, ExtraArgs=None):
        dst = self._path(Bucket, Key)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(Filename, dst)
        if ExtraArgs:
            self._write_sidecar("_meta", Bucket, Key,
                                json.dumps(ExtraArgs, sort_keys=True))

    def delete_objects(self, Bucket, Delete):
        keys = [o["Key"] for o in Delete["Objects"]]
        with open(os.path.join(self.root, "_batches.log"), "a") as fh:
            fh.write(f"{len(keys)}\n")
        deleted = []
        for k in keys:
            p = self._path(Bucket, k)
            if os.path.exists(p):
                os.remove(p)
                deleted.append({"Key": k})
            for tree in ("_meta", "_acl"):
                sidecar = self._path(Bucket, k, tree)
                if os.path.exists(sidecar):
                    os.remove(sidecar)
        return {"Deleted": deleted}

    def list_objects_v2(self, Bucket, Prefix="", ContinuationToken=None):
        base = os.path.join(self.root, Bucket)
        out = []
        for dirpath, _, files in os.walk(base):
            for f in files:
                full = os.path.join(dirpath, f)
                key = os.path.relpath(full, base)
                if key.startswith(Prefix):
                    out.append({"Key": key, "Size": os.path.getsize(full),
                                "ETag": '"%s"' % _md5_file(full)})
        return {"Contents": sorted(out, key=lambda o: o["Key"]),
                "IsTruncated": False}

    def copy_object(self, Bucket, Key, CopySource, Metadata=None,
                    MetadataDirective=None):
        if MetadataDirective == "REPLACE":
            self._write_sidecar("_meta", Bucket, Key,
                                json.dumps(Metadata or {}, sort_keys=True))

    def put_object_acl(self, Bucket, Key, ACL):
        self._write_sidecar("_acl", Bucket, Key, ACL)


def _md5_file(path: str) -> str:
    h = hashlib.md5()
    with open(path, "rb") as fh:
        for chunk in iter(lambda: fh.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def make_local_client_factory(root: str) -> Callable[[], LocalFSClient]:
    return lambda: LocalFSClient(root)


# ---------------------------------------------------------------------------
# S9 — listing source.
# ---------------------------------------------------------------------------

def list_objects(spark: SparkSession, client_factory, bucket: str,
                 prefix: str = "") -> DataFrame:
    """S9 (s3storage.py:289-309): paginated LIST → (key, size, etag)
    DataFrame. Listing happens on the driver (it is metadata-sized —
    one row per object, not per byte); on a Hadoop-enabled cluster the
    `s3a://` binaryFile reader is the executor-side alternative."""
    client = client_factory()
    rows, token = [], None
    while True:
        kwargs = {"Bucket": bucket, "Prefix": prefix}
        if token:
            kwargs["ContinuationToken"] = token
        page = client.list_objects_v2(**kwargs)
        rows += [(o["Key"], int(o["Size"]), o["ETag"].strip('"'))
                 for o in page.get("Contents", [])]
        if not page.get("IsTruncated"):
            break
        token = page.get("NextContinuationToken")
    return local_frame(spark, rows, "key string, size bigint, etag string")


# ---------------------------------------------------------------------------
# K5 — upload sink (+ P9 only-if-new as an anti-join, F16/F17 inline).
# ---------------------------------------------------------------------------

def encode_metadata(meta: dict) -> dict:
    """F16 (s3storage.py:480-493): URL-encode metadata values — S3
    user metadata must be ASCII-safe."""
    return {k: urllib.parse.quote(str(v), safe="") for k, v in meta.items()}


def guess_mime(key: str) -> str:
    """F17 (s3storage.py:167-169)."""
    return mimetypes.guess_type(key)[0] or "application/octet-stream"


def upload_from_manifest(manifest: DataFrame, bucket: str, client_factory,
                         listing: DataFrame | None = None,
                         meta_cols: Iterable[str] = ()) -> int:
    """K5 (edepot.py:108-152 + s3storage.py:153-191): upload every
    manifest entry's local file to `bucket/key`.

    manifest needs (key, local_path [, *meta_cols]). With `listing`
    (from list_objects), only-if-new keys are selected by a left-anti
    join — the set-at-a-time form of the reference's per-key
    head_object probe (P9, edepot.py:137-142). Returns the number of
    files shipped (A4), counted by the action that ships them."""
    todo = manifest
    if listing is not None:
        todo = manifest.join(listing.select("key"), "key", "left_anti")
    meta_cols = list(meta_cols)

    def ship(rows: Iterator[dict]) -> None:
        client = client_factory()
        for row in rows:
            extra = encode_metadata({c: row[c] for c in meta_cols if row[c] is not None})
            client.upload_file(
                Filename=row["local_path"], Bucket=bucket, Key=row["key"],
                ExtraArgs={"ContentType": guess_mime(row["key"]), **extra},
            )

    return each_partition(todo.select("key", "local_path", *meta_cols), ship)


# ---------------------------------------------------------------------------
# J7 — upload verification.
# ---------------------------------------------------------------------------

def upload_status(etag: Column, md5hash: Column) -> Column:
    """The J7 status of one object from its listed ETag and its
    expected MD5: ``missing_remote`` when the ETag is null (the key is
    not listed); ``multipart_recheck`` for a multipart ``-N`` ETag,
    which is not the object's MD5, so the object must be re-hashed;
    ``md5_mismatch`` when the ETag is not the expected MD5 (or there is
    no expected MD5 to compare it with); null when the object
    verifies."""
    return (
        F.when(etag.isNull(), "missing_remote")
        .when(etag.contains("-"), "multipart_recheck")
        .when(~etag.eqNullSafe(md5hash), "md5_mismatch")
    )


def verify_upload(expected: DataFrame, listing: DataFrame) -> DataFrame:
    """J7 (edepot.py:257-269, s3storage.py:219-255): the expected
    (key, md5hash) rows that the bucket does not verify, as
    (key, status) rows with the :func:`upload_status` codes.
    ``listing`` is a list_objects frame taken after the upload. An
    empty frame means every expected object is in the bucket with the
    expected bytes."""
    status = upload_status(F.col("etag"), F.col("md5hash"))
    return (
        expected.select("key", "md5hash")
        .join(listing.select("key", "etag"), "key", "left")
        .select("key", status.alias("status"))
        .filter(F.col("status").isNotNull())
    )


# ---------------------------------------------------------------------------
# K8 — batched delete + reconcile.
# ---------------------------------------------------------------------------

def delete_keys(keys: DataFrame, bucket: str, client_factory) -> None:
    """K8 (edepot.py:154-255): delete in ≤1000-key API batches. Each
    partition chunks locally — no collect, no driver bottleneck; at
    most one partition per core runs, so at most that many requests
    are in flight; coalesce() lower to bound it further."""

    def drop(rows: Iterator[dict]) -> None:
        client = client_factory()
        batch = []
        for row in rows:
            batch.append({"Key": row["key"]})
            if len(batch) == DELETE_BATCH_SIZE:
                client.delete_objects(Bucket=bucket, Delete={"Objects": batch})
                batch = []
        if batch:
            client.delete_objects(Bucket=bucket, Delete={"Objects": batch})

    each_partition(keys.select("key"), drop)


def delete_and_reconcile(spark: SparkSession, keys: DataFrame, bucket: str,
                         client_factory, prefix: str = "") -> DataFrame:
    """Delete, then re-list and anti-join back (J6): the returned frame
    holds keys that are *still present* — the reference's not-deleted
    bucket (edepot.py:223-250)."""
    delete_keys(keys, bucket, client_factory)
    after = list_objects(spark, client_factory, bucket, prefix)
    return keys.join(after.select("key"), "key", "left_semi")


# ---------------------------------------------------------------------------
# K9/K10 — object-metadata rewrite and ACL update.
# ---------------------------------------------------------------------------

def rewrite_metadata(entries: DataFrame, bucket: str, client_factory,
                     meta_cols: Iterable[str]) -> None:
    """K9 (s3storage.py:496-519): copy_object onto itself with
    MetadataDirective=REPLACE, per partition."""
    meta_cols = list(meta_cols)

    def rewrite(rows: Iterator[dict]) -> None:
        client = client_factory()
        for row in rows:
            client.copy_object(
                Bucket=bucket, Key=row["key"],
                CopySource={"Bucket": bucket, "Key": row["key"]},
                Metadata=encode_metadata(
                    {c: row[c] for c in meta_cols if row[c] is not None}),
                MetadataDirective="REPLACE",
            )

    each_partition(entries.select("key", *meta_cols), rewrite)


def update_acl(entries: DataFrame, bucket: str, client_factory,
               acl: str = "public-read") -> None:
    """K10 (edepot.py:271-304): per-entry ACL update; filter upstream
    (the reference's closure filters are plain DataFrame filters)."""

    def put(rows: Iterator[dict]) -> None:
        client = client_factory()
        for row in rows:
            client.put_object_acl(Bucket=bucket, Key=row["key"], ACL=acl)

    each_partition(entries.select("key"), put)
