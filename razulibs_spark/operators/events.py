"""PREMIS event-log operators — SURVEY.md D6/S8/P6 and the 8 event
builders of razu/preservation_events.py:105-179.

The event log is an append-only DataFrame (event time = ended_at);
the reference's deferred-lambda queue (preservation_events.py:44-59)
disappears under lazy evaluation — an events plan built against the
final resources DataFrame resolves "late" by construction.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType(), False),
        StructField("event_type", StringType(), False),
        StructField("subjects", ArrayType(StringType()), False),
        StructField("implemented_by", StringType(), True),
        StructField("outcome", StringType(), True),
        StructField("outcome_note", StringType(), True),
        StructField("started_at", TimestampType(), True),
        StructField("ended_at", TimestampType(), False),
        StructField("tool", StringType(), True),
        StructField("generated", StringType(), True),
        StructField("description", StringType(), True),
    ]
)

# loc.gov eventType codes used by the reference
# (razu/preservation_events.py:105-179).
EVENT_TYPES = {
    "filename_change": "fil",
    "fixity_check": "fix",
    "format_identification": "for",
    "ingestion_end": "ine",
    "ingestion_start": "ins",
    "message_digest_calculation": "mes",
    "metadata_modification": "mem",
    "virus_check": "vir",
}

LOCK_EVENT = "ine"  # terminal event ⇒ log locked (preservation_events.py:40-42)


def build_events(
    subjects: DataFrame,
    subject_col: str,
    event_type: str,
    actor: str,
    outcome: str = "suc",
    note_col: str | None = None,
    tool: str | None = None,
    description: str | None = None,
    id_offset: int = 0,
) -> DataFrame:
    """One event per subject row, set-at-a-time (the reference emits
    one Python object per call site). Event ids are dense from
    id_offset — derive the offset with `max_event_id` on the existing
    log (S8) to append monotonically."""
    if event_type not in EVENT_TYPES.values():
        raise ValueError(f"unknown PREMIS event code {event_type!r}")
    rows = subjects.select(
        F.col(subject_col).alias("_subject"),
        F.lit(outcome).alias("outcome"),
        (F.col(note_col) if note_col else F.lit(None).cast("string")).alias("outcome_note"),
    )
    return _event_log(rows, id_offset, event_type, actor, tool, description)


def _event_log(
    rows: DataFrame,
    id_offset: int,
    event_type: str,
    actor: str,
    tool: str | None,
    description: str | None,
) -> DataFrame:
    """Number ``rows`` (``_subject``, ``outcome``, ``outcome_note``)
    densely by subject from ``id_offset + 1`` and project them onto
    EVENT_SCHEMA — the one projection both event builders share. An
    event starts when its builder is called on the driver and ends when
    the plan runs (``current_timestamp``), so ``started_at <= ended_at``."""
    from razulibs_spark.operators.ids import dense_ids

    started_at = datetime.now(timezone.utc)
    ranked = dense_ids(rows, ["_subject"], "event_id", start=id_offset + 1)
    return ranked.select(
        "event_id",
        F.lit(event_type).alias("event_type"),
        F.array(F.col("_subject")).alias("subjects"),
        F.lit(actor).alias("implemented_by"),
        "outcome",
        "outcome_note",
        F.lit(started_at).alias("started_at"),
        F.current_timestamp().alias("ended_at"),
        F.lit(tool).cast("string").alias("tool"),
        F.lit(None).cast("string").alias("generated"),
        F.lit(description).cast("string").alias("description"),
    )


def max_event_id(events: DataFrame, id_col: str = "event_id") -> int:
    """S8 max-id recovery (preservation_events.py:30-38): resume the
    id counter from the highest existing id."""
    row = events.agg(F.max(id_col).alias("m")).first()
    return int(row["m"]) if row["m"] is not None else 0


def is_locked(events: DataFrame, lock_type: str = LOCK_EVENT) -> bool:
    """P6 lock predicate (preservation_events.py:40-42,
    decorators.py:6-16): driver-side precondition before mutating
    writes. limit(1) short-circuits the scan."""
    return bool(events.filter(F.col("event_type") == lock_type).limit(1).count())


def fixity_check_events(
    manifest: DataFrame, fs_scan: DataFrame, actor: str, id_offset: int = 0
) -> DataFrame:
    """Fixity verification (razu/sip.py:168-171): recompute-and-compare
    as a join, emitting one `fix` event per file with the outcome."""
    joined = manifest.select("filename", F.col("md5hash").alias("_expected")).join(
        fs_scan.select("filename", F.col("md5hash").alias("_actual")),
        "filename",
        "left",
    )
    checked = joined.select(
        F.col("filename").alias("_subject"),
        F.when(F.col("_actual").isNull(), F.lit("fail"))
        .when(F.col("_actual") != F.col("_expected"), F.lit("fail"))
        .otherwise(F.lit("suc"))
        .alias("outcome"),
        F.coalesce(F.col("_actual"), F.lit("missing")).alias("outcome_note"),
    )
    return _event_log(checked, id_offset, "fix", actor, None, "Fixity check")


def events_to_triples(events: DataFrame, base_uri: str) -> DataFrame:
    """K4/D6: the event log as PREMIS RDF triples — feed to
    sources.jsonld.write_jsonld (eventlog JSON-LD sink,
    preservation_events.py:61-68) or rdf_io.write_ntriples.

    Event subjects are `{base}-e{N}` (preservation_events.py:90-92);
    scalar properties fan out via entity_to_triples, the subjects
    array via explode — one premis:object link per related object
    (eror roles); an event without a start time has no
    prov:startedAtTime. Predicates, the rdf:type object and the
    xsd:dateTime datatype are emitted as full IRIs, so the log
    serializes as standards-valid N-Triples without a per-row
    expansion; the related objects (file names, the SIP directory's
    name) are written as given. Narrow transformations only: the two
    parts are disjoint by predicate, and a subject an event lists twice
    is one link, so no distinct (a shuffle) is needed."""
    from razulibs_spark.operators.rdf import EXPANSIONS, PropertyMap, entity_to_triples

    premis, prov = EXPANSIONS["premis"], EXPANSIONS["prov"]
    date_time = EXPANSIONS["xsd"] + "dateTime"

    ev = events.withColumn(
        "_uri", F.concat(F.lit(base_uri + "-e"), F.col("event_id").cast("string"))
    )
    stamp = "yyyy-MM-dd'T'HH:mm:ssXXX"
    scalar = entity_to_triples(
        ev,
        F.col("_uri"),
        [
            PropertyMap(EXPANSIONS["rdf"] + "type", F.lit(premis + "Event"), "uri"),
            PropertyMap(
                premis + "eventType",
                F.concat(
                    F.lit("http://id.loc.gov/vocabulary/preservation/eventType/"),
                    F.col("event_type"),
                ),
                "uri",
            ),
            PropertyMap(
                premis + "outcome",
                F.concat(
                    F.lit("http://id.loc.gov/vocabulary/preservation/eventOutcome/"),
                    F.col("outcome"),
                ),
                "uri",
            ),
            PropertyMap(premis + "note", F.col("outcome_note")),
            PropertyMap(prov + "wasAssociatedWith", F.col("implemented_by")),
            PropertyMap(prov + "startedAtTime", F.date_format(F.col("started_at"), stamp),
                        datatype=date_time),
            PropertyMap(prov + "endedAtTime", F.date_format(F.col("ended_at"), stamp),
                        datatype=date_time),
            PropertyMap(premis + "outcomeNote", F.col("description")),
        ],
    )
    objects = ev.select(
        F.col("_uri").alias("s"),
        F.lit(premis + "object").alias("p"),
        F.explode(F.array_distinct("subjects")).alias("o"),
        F.lit("uri").alias("o_type"),
        F.lit(None).cast("string").alias("o_datatype"),
        F.lit(None).cast("string").alias("o_lang"),
    )
    return scalar.unionByName(objects)
