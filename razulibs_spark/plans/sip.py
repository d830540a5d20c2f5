"""SIP assembly with provenance — SURVEY.md §3.2 (razu/sip.py:73-184):
metadata documents + checksum manifest + PREMIS event log + lock, as
one orchestration over the operator library.

Reference shape: per-resource `save()` + per-file MD5 + a deferred
lambda queue resolving event subjects late (preservation_events.py:
44-59). Engine shape: the documents are written once, from the
executors; the MD5 of each document's bytes is taken from the same
cached documents, and ONE binaryFile scan of what landed on disk is
the manifest (S6). The deferred queue disappears: one SIP is one
accession, so its event log is built once on the driver from the
final filenames and both MD5s, after the scan — "subjects reflect
final state" holds by construction. Fixity compares the written MD5s
with the read-back MD5s, so a document changed or lost between write
and scan fails its check. The lock is the P6 predicate gating
mutating calls.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from razulibs_spark.operators import events as ev
from razulibs_spark.operators.manifest import json_map_of_rows, manifest_from_directory
from razulibs_spark.operators.rdf import EXPANSIONS
from razulibs_spark.session import local_frame
from razulibs_spark.sources.jsonld import jsonld_docs, write_jsonld_per_entity
from razulibs_spark.sources.rdf_io import write_ntriples

SUFFIX = ".meta.json"
# Held while a SIP is assembled; dot-prefixed, so Spark's listing and
# the *.meta.json filter skip it.
LOCK_FILE = ".assemble.lock"


class SipLockedError(RuntimeError):
    """Mutation attempted after ingestion_end (decorators.py:12-15), or
    while another assembly holds the SIP."""


@contextmanager
def _assembly_lock(sip_dir: str):
    """Hold ``sip_dir``'s lock file for the block. The file is made by
    an exclusive create, so of two assemblies racing on one SIP exactly
    one gets it; the other raises SipLockedError before it writes."""
    os.makedirs(sip_dir, exist_ok=True)
    path = os.path.join(sip_dir, LOCK_FILE)
    try:
        os.close(os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
    except FileExistsError:
        raise SipLockedError(
            f"SIP at {sip_dir} is being assembled ({path} exists; remove it "
            "if no assembly is running)") from None
    try:
        yield
    finally:
        os.remove(path)


def assemble_sip(
    spark: SparkSession,
    triples: DataFrame,
    sip_dir: str,
    actor: str = "https://data.razu.nl/id/actor/razu",
    event_base: str = "https://data.razu.nl/id/event/sip",
) -> dict:
    """Write metadata documents, build the manifest from what landed on
    disk, emit the PREMIS provenance in dependency order, and lock.

    Returns {'manifest': DataFrame, 'events': DataFrame,
    'n_documents': int}. ``manifest`` is persisted and the caller owns
    it: unpersist it when done. ``events`` is built from driver-side
    rows (2n + 2 events for n documents) and holds no cache. Raises
    SipLockedError when the directory's event log already carries
    ingestion_end (O6 lock gate) or another assembly holds
    ``sip_dir``'s lock file, and RuntimeError when the files read back
    are not the files written.

    The documents are written from the executors, so ``sip_dir`` must
    be on a filesystem every executor mounts, which a SIP staging area
    on a real cluster is (and local[n] trivially is)."""
    started_at = datetime.now(timezone.utc)
    with _assembly_lock(sip_dir):
        eventlog_path = os.path.join(sip_dir, "eventlog.nt")
        if os.path.exists(eventlog_path):
            prior = _read_eventlog(spark, eventlog_path)
            if ev.is_locked(prior):
                raise SipLockedError(f"SIP at {sip_dir} is locked (ingestion_end)")

        # K1: one .meta.json per entity; the MD5 of exactly the bytes
        # written (document + newline, UTF-8) comes from the same docs.
        docs = jsonld_docs(triples).persist()
        try:
            n_docs = write_jsonld_per_entity(docs, sip_dir, SUFFIX)
            written = dict(docs.select(
                F.concat("entity", F.lit(SUFFIX)),
                F.md5(F.concat("jsonld", F.lit("\n"))),
            ).collect())
        finally:
            docs.unpersist()

        # S6/F7: manifest from ONE distributed scan of the written files.
        manifest = manifest_from_directory(
            spark, sip_dir, base_segment=sip_dir.rstrip("/") + "/"
        ).filter(F.col("filename").endswith(SUFFIX)).persist()

        # The caller owns the persisted manifest only once assembly
        # returns it; on any failure before that it is released here.
        try:
            # Shared-FS assumption made LOUD (ADVICE r8): on a cluster whose
            # sip_dir is NOT actually shared, files land on executor-local
            # disks and the scan misses them — an incomplete archival SIP with
            # no error. A missing or unexpected file is a data-integrity
            # failure, never a warning. The same rows become manifest.json.
            scanned = manifest.collect()
            read_back = {r["filename"]: r["md5hash"] for r in scanned}
            if read_back.keys() != written.keys():
                raise RuntimeError(
                    f"assemble_sip: manifest scan found {len(read_back)} metadata "
                    f"files but {n_docs} were written — sip_dir {sip_dir!r} "
                    "is not a filesystem every executor mounts (or writes "
                    f"were lost); missing {sorted(written.keys() - read_back.keys())}, "
                    f"unexpected {sorted(read_back.keys() - written.keys())}"
                )

            # Events in dependency order (ids dense across the groups, S8/A3):
            # ingestion_start → one mem per document → one fix per document →
            # ingestion_end. The documents are ranked by filename (r = 1..n):
            # mem is 1 + r, fix is 1 + n + r, and the two singletons are 1 and
            # 2n + 2. Fixity checks the written MD5s against the read-back ones.
            # Every event spans the assembly: it started when assemble_sip was
            # called and ended once the read-back scan was checked.
            ended_at = datetime.now(timezone.utc)

            def event(event_id, event_type, subject, description, outcome="suc", note=None):
                return {"event_id": event_id, "event_type": event_type,
                        "subjects": [subject], "implemented_by": actor,
                        "outcome": outcome, "outcome_note": note,
                        "started_at": started_at, "ended_at": ended_at,
                        "description": description}

            # The SIP is named by its directory's own name, relative like
            # the documents' names, never by where it was staged.
            sip_name = os.path.basename(sip_dir.rstrip("/"))
            names = sorted(written)
            n = len(names)
            rows = [event(1, "ins", sip_name, "Ingestion started.")]
            rows += [event(1 + r, "mem", fn, "Metadata object created.")
                     for r, fn in enumerate(names, 1)]
            rows += [event(1 + n + r, "fix", fn, "Fixity check",
                           "suc" if read_back[fn] == written[fn] else "fail", read_back[fn])
                     for r, fn in enumerate(names, 1)]
            rows.append(event(2 * n + 2, "ine", sip_name, "Ingestion ended."))
            events = local_frame(spark, rows, ev.EVENT_SCHEMA)

            # K3 + K4 sinks: byte-compatible manifest map, eventlog as RDF in
            # one part file (2n + 2 events; the coalesce is narrow), its
            # terms already the PREMIS, PROV, RDF and XSD vocabulary IRIs.
            with open(os.path.join(sip_dir, "manifest.json"), "w", encoding="utf-8") as fh:
                fh.write(json_map_of_rows(scanned))
            write_ntriples(ev.events_to_triples(events, event_base).coalesce(1), eventlog_path)
        except BaseException:
            manifest.unpersist()
            raise
        return {"manifest": manifest, "events": events, "n_documents": n_docs}


def _read_eventlog(spark: SparkSession, path: str) -> DataFrame:
    """S8: recover the event frame (type codes) from the RDF log. Both
    spellings of the eventType predicate match, so a log written with
    full IRIs and one in the older prefixed form (``<premis:eventType>``)
    both lock the SIP."""
    from razulibs_spark.sources.rdf_io import read_ntriples

    t = read_ntriples(spark, path)
    return t.filter(
        F.col("p").isin(EXPANSIONS["premis"] + "eventType", "premis:eventType")
    ).select(
        F.element_at(F.split(F.col("o"), "/"), -1).alias("event_type")
    )
