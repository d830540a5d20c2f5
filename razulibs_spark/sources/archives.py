"""Archive container source/sink (ZIP + tar.gz) — the packaging real
corpora arrive in: academic dumps and Kaggle-style datasets ship as
.zip, crawl and log dumps as .tar.gz, and the reference's own archival
domain moves SIPs as zipped transfer packages. The engine's job is the
DISTRIBUTION shape, not the codec (stdlib zipfile/tarfile are the
codec): per-FILE tasks — archive shards are the natural parallelism
unit exactly like WARC files — in one ``session.map_files`` pass that
explodes each archive into (archive, member, body) rows.

Sinks write one archive per partition from the executors (the
write_warc_records contract), byte-deterministic: member timestamps
pinned to the epoch (ZIP's 1980-01-01 floor / tar mtime 0), fixed
uid/gid, and the tar's gzip wrapper via gzip_member (mtime=0) — a
given input produces identical archive bytes, which is what lets the
oracle hash the roundtrip.

Strictness: a corrupt central directory / tar header raises ValueError
naming the archive defect — ingest gate, not silent drop.

``Package`` is the one ZIP reader of the library: ``read_zip`` and the
payload formats that are ZIP containers (DOCX, XLSX, PPTX, ODT, EPUB)
open their bytes through it, so every way a ZIP can be bad reaches
their fail-closed passes as the same ValueError.
"""

from __future__ import annotations

import contextlib
import io
import lzma
import os
import posixpath
import zipfile
import zlib
from collections.abc import Container
from xml.etree import ElementTree as ET

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from razulibs_spark.session import map_files

ARCHIVE_MEMBER_SCHEMA = StructType(
    [
        StructField("archive", StringType(), False),  # file basename
        StructField("member", StringType(), False),
        StructField("size", LongType(), False),
        StructField("compressed", BooleanType(), False),
        StructField("body", BinaryType(), False),
    ]
)


_REL_NS = "http://schemas.openxmlformats.org/package/2006/relationships"


class Package:
    """One ZIP container held in memory: an OPC package (DOCX, XLSX,
    PPTX), an OCF package (ODT, EPUB) or a plain archive.

    Every way its bytes can be bad raises ValueError prefixed with
    ``fmt``: not a ZIP, truncated, a member that fails its CRC or
    inflate, uses an unsupported compression method or is encrypted,
    a missing member, malformed XML. A format checks the members it
    needs against ``names`` first when its own message names the
    defect."""

    def __init__(self, payload: bytes, fmt: str):
        self.fmt = fmt
        with self._reading("not a zip package"):
            self._zf = zipfile.ZipFile(io.BytesIO(bytes(payload)))
        self.infos = self._zf.infolist()
        self.names = {info.filename for info in self.infos}

    @contextlib.contextmanager
    def _reading(self, what: str):
        # zipfile: BadZipFile (header, CRC), EOFError (cut stream),
        # NotImplementedError (method), RuntimeError (encrypted),
        # ValueError (wild offset); the deflate, bzip2 and LZMA codecs'
        # own errors
        try:
            yield
        except (zipfile.BadZipFile, EOFError, RuntimeError, ValueError,
                zlib.error, OSError, lzma.LZMAError, ET.ParseError) as exc:
            raise ValueError(f"{self.fmt}: {what}: {exc}") from exc

    def read(self, member: str | zipfile.ZipInfo) -> bytes:
        """The bytes of one member, by name or by its entry in ``infos``."""
        name = getattr(member, "filename", member)
        if name not in self.names:
            raise ValueError(f"{self.fmt}: member {name} missing")
        with self._reading(f"member {name}"):
            return self._zf.read(member)

    def xml(self, name: str) -> ET.Element:
        data = self.read(name)
        with self._reading(f"malformed xml in {name}"):
            return ET.fromstring(data)

    def rels(self, source: str) -> dict[str, tuple[str, str]] | None:
        """The OPC relationships of part ``source`` ("" for the package
        itself) as Id → (Type, target part name), or None when the
        part has no relationships part. Targets resolve as ECMA-376
        Part 2 §9.2 says: a leading '/' is package-absolute, any other
        target is relative to the source part's directory, with ``../``
        segments normalized."""
        base_dir, base = posixpath.split(source)
        name = posixpath.join(base_dir, "_rels", base + ".rels")
        if name not in self.names:
            return None
        out = {}
        for rel in self.xml(name).iter(f"{{{_REL_NS}}}Relationship"):
            target = rel.get("Target", "")
            part = (target.lstrip("/") if target.startswith("/")
                    else posixpath.normpath(posixpath.join(base_dir, target)))
            out[rel.get("Id")] = (rel.get("Type", ""), part)
        return out

    def check_mimetype(self, expected: str) -> None:
        """The OCF rule of ODF and EPUB: a ``mimetype`` member names
        the package's media type."""
        if "mimetype" not in self.names:
            raise ValueError(f"{self.fmt}: OCF package without mimetype member")
        mime = self.read("mimetype").decode("ascii", "replace")
        if mime != expected:
            raise ValueError(f"{self.fmt}: mimetype is {mime!r}, not {expected}")


def zip_package(members: dict[str, str | bytes], stored: Container[str] = ("mimetype",)) -> bytes:
    """The payload encoders' ZIP writer: ``members`` (name → data) in
    order, each deflated unless named in ``stored`` (OCF wants its
    ``mimetype`` member first and stored), every timestamp at ZIP's
    1980-01-01 floor so that one input gives one byte string."""
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for name, data in members.items():
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_STORED if name in stored else zipfile.ZIP_DEFLATED
            zf.writestr(info, data)
    return buf.getvalue()


def _zip_members(path: str, content: bytes) -> list[tuple]:
    name = os.path.basename(path)
    pkg = Package(content, f"zip: {name}")
    return [
        (name, info.filename, info.file_size,
         info.compress_type != zipfile.ZIP_STORED, pkg.read(info))
        for info in pkg.infos
        if not info.is_dir()
    ]


def _tar_members(path: str, content: bytes) -> list[tuple]:
    import tarfile

    name = os.path.basename(path)
    try:
        tf = tarfile.open(fileobj=io.BytesIO(content))
        rows = []
        for info in tf.getmembers():
            if not info.isfile():
                continue
            fh = tf.extractfile(info)
            body = fh.read() if fh else b""
            # tar itself never compresses members; the .gz wraps the
            # whole stream — report per-member compressed=False
            rows.append((name, info.name, info.size, False, body))
        return rows
    except tarfile.TarError as exc:
        raise ValueError(f"tar: {name}: {exc}") from exc


def read_zip(spark: SparkSession, path: str) -> DataFrame:
    """ZIP shard tree → one row per member. Per-archive tasks."""
    return map_files(spark, path, _zip_members, ARCHIVE_MEMBER_SCHEMA, glob="*.zip")


def read_tar(spark: SparkSession, path: str) -> DataFrame:
    """tar[.gz] shard tree → one row per member. Per-archive tasks."""
    return map_files(spark, path, _tar_members, ARCHIVE_MEMBER_SCHEMA, glob="*.tar*")


def write_zip_shards(
    df: DataFrame,
    directory: str,
    member_col: str = "member",
    payload_col: str = "body",
    compress: bool = True,
) -> None:
    """One ``part-<partition>.zip`` per partition, executor-side.
    Deterministic bytes: member timestamps pinned to ZIP's 1980 epoch
    floor, deflate level fixed by zlib's default.

    It stays on ``foreachPartition``: the archive is built in memory
    for a whole partition, and ``session.each_partition`` merges
    partitions to one task per core, which would multiply that
    buffer (and change the one-file-per-partition layout)."""
    os.makedirs(directory, exist_ok=True)
    method = zipfile.ZIP_DEFLATED if compress else zipfile.ZIP_STORED

    def write_partition(rows) -> None:
        from pyspark import TaskContext

        buf = io.BytesIO()
        pid = None
        with zipfile.ZipFile(buf, "w", method) as zf:
            for row in rows:
                pid = TaskContext.get().partitionId() if pid is None else pid
                info = zipfile.ZipInfo(
                    row[member_col], date_time=(1980, 1, 1, 0, 0, 0)
                )
                info.compress_type = method
                info.external_attr = 0o644 << 16
                zf.writestr(info, bytes(row[payload_col]))
        if pid is not None:
            with open(
                os.path.join(directory, f"part-{pid:05d}.zip"), "wb"
            ) as fh:
                fh.write(buf.getvalue())

    df.select(member_col, payload_col).foreachPartition(write_partition)


def write_tar_gz_shards(
    df: DataFrame,
    directory: str,
    member_col: str = "member",
    payload_col: str = "body",
) -> None:
    """One ``part-<partition>.tar.gz`` per partition, executor-side.
    The tar stream is built uncompressed (mtime/uid/gid pinned to 0)
    and wrapped by gzip_member (mtime=0) — fully deterministic, unlike
    tarfile's 'w:gz' which stamps the wall clock into the gzip
    header.

    It stays on ``foreachPartition``: the tar stream is built in memory
    for a whole partition, and ``session.each_partition`` merges
    partitions to one task per core, which would multiply that
    buffer (and change the one-file-per-partition layout)."""
    import tarfile

    from razulibs_spark.sources.warc import gzip_member

    os.makedirs(directory, exist_ok=True)

    def write_partition(rows) -> None:
        from pyspark import TaskContext

        buf = io.BytesIO()
        pid = None
        with tarfile.open(fileobj=buf, mode="w") as tf:
            for row in rows:
                pid = TaskContext.get().partitionId() if pid is None else pid
                body = bytes(row[payload_col])
                info = tarfile.TarInfo(row[member_col])
                info.size = len(body)
                info.mtime = 0
                info.uid = info.gid = 0
                info.mode = 0o644
                tf.addfile(info, io.BytesIO(body))
        if pid is not None:
            with open(
                os.path.join(directory, f"part-{pid:05d}.tar.gz"), "wb"
            ) as fh:
                fh.write(gzip_member(buf.getvalue()))

    df.select(member_col, payload_col).foreachPartition(write_partition)
