"""Integration parity against the reference's own demo fixture —
`razu/demo/csv_luchtfotos/metadata/` (read-only inputs; the de-facto
integration fixture per SURVEY.md §5). The reference cannot run its
own demo without a live SPARQL endpoint; here the vocabulary is
materialized locally from the data's distinct terms (SURVEY §2.3 J2),
so the full pipeline runs hermetically.

Asserts are derived from the files themselves: row/column censuses,
the computed-filename droid join (J1) hitting every metadata row,
per-entity fan-out counts, and the archive's global date range (A1).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from razulibs_spark.plans.csv2rdf import compose_filename, csv2rdf_triples
from razulibs_spark.sources.csv_source import read_droid_csv, read_metadata_csv

DEMO = "/root/reference/razu/demo/csv_luchtfotos/metadata"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(DEMO), reason="reference demo fixture not present"
)


def _demo_inputs(spark):
    metadata = read_metadata_csv(spark, f"{DEMO}/metadata.csv")
    droid = read_droid_csv(spark, f"{DEMO}/droid.csv")
    return metadata, droid


def _local_vocab(spark, metadata):
    """Materialize one vocabulary dimension per vocab column from the
    data's own distinct terms (term → deterministic local URI)."""
    pairs = [
        ("Soort", "soort"), ("Kleurtype", "kleurtype"),
        ("Auteursrecht", "auteursrecht"), ("Fotograaf naam", "actor"),
        ("Plaats 1", "locatie"), ("Plaats 2", "locatie"),
        ("Plaats 3", "locatie"),
    ]
    parts = [
        metadata.select(
            F.lit(vocab).alias("vocabulary"),
            F.col(f"`{col}`").alias("term"),
        ).filter(F.col("term").isNotNull())
        for col, vocab in pairs
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.distinct().withColumn(
        "uri", F.concat(F.lit("https://data.razu.nl/id/"),
                        F.col("vocabulary"), F.lit("/"), F.md5("term"))
    )


def test_demo_scan_census(spark):
    """S1/S2 over the real files: the `;`-metadata parses to 25 columns
    (BOM + blank first line skipped), droid to the 18-column tool
    schema with the F14 SIZE null→0 cast applied."""
    metadata, droid = _demo_inputs(spark)
    assert len(metadata.columns) == 25 and metadata.count() == 3
    assert len(droid.columns) == 18 and droid.count() == 616
    assert droid.filter(F.col("TYPE") == "File").count() == 615
    # F14: folder row SIZE null → 0, never null
    assert droid.filter(F.col("SIZE").isNull()).count() == 0


def test_demo_filename_join_covers_all_rows(spark):
    """F9 + J1: every metadata row's computed filename exists in the
    droid inventory (csv2rdf.py:207-208 would KeyError otherwise)."""
    metadata, droid = _demo_inputs(spark)
    m = metadata.select(
        compose_filename(F.col("`Doos-nummer`"), F.col("Inventarisnummer")).alias("fn")
    )
    hit = m.join(
        F.broadcast(droid.filter(F.col("TYPE") == "File").select("NAME")),
        m.fn == F.col("NAME"),
        "left",
    )
    assert hit.filter(F.col("NAME").isNull()).count() == 0


def test_demo_full_pipeline(spark):
    """The whole §3.1 lifecycle over the reference's own data."""
    metadata, droid = _demo_inputs(spark)
    vocab = _local_vocab(spark, metadata)
    triples = csv2rdf_triples(metadata, droid, vocab).cache()
    try:
        # Entity census: 3 records + 3 bestanden + 3 dekking bnodes +
        # 3 checksum bnodes + 2 series (1984, 2000) + 1 archive.
        types = (
            triples.filter(F.col("p") == "rdf:type")
            .groupBy("o").count().collect()
        )
        by_type = {r["o"]: r["count"] for r in types}
        assert sum(by_type.values()) == 15
        assert (
            triples.filter(F.col("p") == "rdf:type")
            .filter(F.col("s").contains("serie")).count() == 2
        )

        # J1 reached the bestanden: each carries the droid MD5 + PUID.
        assert triples.filter(F.col("p") == "ldto:checksumWaarde").count() == 3
        # J2: every vocab term resolved (no dangling lookups) — each record
        # has a soort URI.
        soort = triples.filter(F.col("p") == "ldto:classificatie")
        assert soort.count() == 3 and all(
            r["o_type"] == "uri" for r in soort.collect()
        )
        # A1/A7: the archive's date range spans the data (1984..2000).
        arch = {
            r["p"]: r["o"]
            for r in triples.filter(F.col("s").endswith("-archief")).collect()
        }
        assert arch["ldto:dekkingInTijdBeginDatum"] == "1984-07-24"
        assert arch["ldto:dekkingInTijdEindDatum"] == "2000-04-09"
    finally:
        triples.unpersist()
