"""The csv2rdf lifecycle as one lazy Spark plan — SURVEY.md §3.1
(razu/demo/csv_luchtfotos/csv2rdf.py:23-261), over razu-shaped inputs
(FIXTURES.md §1-§2 schemas).

The reference walks the CSV row-by-row (csv2rdf.py:68), doing a
blocking SPARQL round-trip per uncached vocabulary term
(concept_resolver.py:102-114) and one JSON-LD file write per entity
(meta_resource.py:45-54). Here the same semantics are one declarative
plan: scan → derive → broadcast-join DROID → ONE explode emitting the
record, dekking, bestand and checksum triples and the serie→record
link of each row, its vocabulary cells resolved by ONE broadcast join
on (vocabulary, term) → union with the serie rollup and the archive
singleton → distinct. No per-row I/O anywhere; Catalyst prunes,
pushes down, and broadcasts.

Ids are deterministic and content-derived (Inventarisnummer-based),
not sequential-counter (razu/incrementer.py:1-11) — the
shuffle-free choice at 100 TB (SURVEY §2.9 O1 design note); the
dense-id variant stays available in operators/ids.py for
SIP-compatible output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from razulibs_spark.functions.scalars import (
    date_type_classify,
    parse_rd_coord,
    razu_uid,
    razu_uri,
    wkt_bbox_polygon,
)
from razulibs_spark.operators.rdf import (
    PropertyMap,
    entities_to_triples,
    entity_to_triples,
    graph_union,
    skolemize,
)

RDF_TYPE = "rdf:type"


def compose_filename(doos: F.Column, volg: F.Column) -> F.Column:
    """F9 maak_bestandsnaam (extra.py:46-54):
    `{jaar}_{nummer:02d}_{volgnummer:03d}.jpg` from `Doos-nummer`."""
    jaar = F.split_part(doos, F.lit("-"), F.lit(1))
    nummer = F.lpad(F.split_part(doos, F.lit("-"), F.lit(2)), 2, "0")
    return F.concat(
        F.concat_ws("_", jaar, nummer, F.lpad(volg.cast("string"), 3, "0")),
        F.lit(".jpg"),
    )


def csv2rdf_triples(metadata: DataFrame, droid: DataFrame,
                    vocab: DataFrame, archive_name: str = "archief") -> DataFrame:
    """metadata (FIXTURES §1) ⋈ droid (§2) ⋈ vocab dims → RDF triples.

    Four entity kinds, as in csv2rdf.main():
    - archive singleton (csv2rdf.py:72-87) carrying the global
      min/max Datering (A1, :241-254),
    - one serie per distinct `Serie` (A6, :90-114) — groupBy, not the
      reference's sorted-input change detection — linked parent/child
      both directions (J8),
    - one record per row (:117-185) with vocab lookups, per-row
      date datatype (F1), WKT bbox (F11/F12), and a skolemized
      dekkingInTijd blank-node child (D3 nesting),
    - one bestand per row (:210-227) from the DROID lookup join (J1).
    """
    lm = (F.col("LAST_MODIFIED") if "LAST_MODIFIED" in droid.columns
          else F.lit(None).cast("string"))
    droid_files = droid.filter(F.col("TYPE") == "File").select(
        F.col("NAME"), F.col("SIZE"), F.col("MD5_HASH"), F.col("PUID"),
        lm.alias("LAST_MODIFIED"),
    )
    m = metadata.withColumn(
        # The volgnummer argument is Inventarisnummer, not the CSV's
        # `Volgnummer` column (csv2rdf.py:207 passes
        # row['Inventarisnummer'] to maak_bestandsnaam) — verified
        # against the demo droid inventory in
        # tests/test_reference_demo.py.
        "filename", compose_filename(F.col("`Doos-nummer`"), F.col("Inventarisnummer"))
    )
    # J1: droid is tool output over the payload set — dimension-sized
    # next to a 100 TB fact table, so broadcast.
    m = m.join(F.broadcast(droid_files), m.filename == droid_files.NAME, "left")
    xsd_type, date_value = date_type_classify(F.col("Datering"))
    date_datatype = F.when(xsd_type != "literal", xsd_type)
    x1, y1 = parse_rd_coord(F.col("`Coördinaat - Linksonder`"))
    x2, y2 = parse_rd_coord(F.col("`Coördinaat Rechtsboven`"))

    record_uid = razu_uid(F.col("Inventarisnummer").cast("string"))
    bestand_uid = razu_uid(F.concat(F.col("Inventarisnummer").cast("string"), F.lit("-b")))
    serie_uid = razu_uid(F.concat(F.lit("serie-"), F.col("Serie")))
    archive_uid = razu_uid(F.lit(archive_name))
    record = razu_uri(record_uid)
    bestand = razu_uri(bestand_uid)
    dekking = skolemize(record_uid, F.lit("dekking"))
    # The checksum is a nested ChecksumGegevens structure
    # (csv2rdf.py:214-219), skolemized like the dekking bnode; the
    # checksum datum is the DROID-recorded LAST_MODIFIED (the reference
    # stamps the droid file's mtime, csv2rdf.py:57).
    checksum = skolemize(bestand_uid, F.lit("checksum"))
    file_ext = F.substring_index(F.col("filename"), ".", -1)

    # Every per-row entity in ONE explode; the vocabulary cells
    # (J2) resolve in one broadcast join inside entities_to_triples.
    row_triples = entities_to_triples(m, [
        (record, [
            PropertyMap(RDF_TYPE, F.lit("ldto:Informatieobject"), "uri"),
            PropertyMap("ldto:naam", F.col("Titel")),
            PropertyMap("ldto:omschrijving", F.col("`Beschrijving voorkant`")),
            PropertyMap("ldto:identificatieKenmerk", F.col("Inventarisnummer")),
            PropertyMap("ldto:classificatie", F.col("Soort"), "uri",
                        vocabulary="soort"),
            PropertyMap("ldto:raadpleeglocatie", F.col("Plaats")),
            # P3 optional fields: null plaats2/3 simply produce no triple.
            PropertyMap("ldto:dekkingInRuimte", F.col("`Plaats 1`"), "uri",
                        vocabulary="locatie"),
            PropertyMap("ldto:dekkingInRuimte", F.col("`Plaats 2`"), "uri",
                        vocabulary="locatie"),
            PropertyMap("ldto:dekkingInRuimte", F.col("`Plaats 3`"), "uri",
                        vocabulary="locatie"),
            PropertyMap("ldto:betrokkene", F.col("`Fotograaf naam`"), "uri",
                        vocabulary="actor"),
            PropertyMap("ldto:beperkingGebruik", F.col("Auteursrecht"), "uri",
                        vocabulary="auteursrecht"),
            PropertyMap("geo:asWKT", wkt_bbox_polygon(x1, y1, x2, y2),
                        datatype="geo:wktLiteral"),
            PropertyMap("ldto:isOnderdeelVan", razu_uri(serie_uid), "uri"),
            PropertyMap("ldto:heeftRepresentatie", bestand, "uri"),
            PropertyMap("ldto:dekkingInTijd", dekking, "bnode"),
        ]),
        # D3 nested structure: the dekkingInTijd blank node, skolemized so
        # document merges need no remap (SURVEY §1.2 vs collect_rdf.py:37-54).
        (dekking, [
            PropertyMap(RDF_TYPE, F.lit("ldto:dekkingInTijdGegevens"), "uri"),
            PropertyMap("ldto:dekkingInTijdBeginDatum", date_value,
                        datatype=date_datatype),
            PropertyMap("ldto:dekkingInTijdType", F.lit("Vervaardiging")),
        ]),
        (bestand, [
            PropertyMap(RDF_TYPE, F.lit("ldto:Bestand"), "uri"),
            PropertyMap("ldto:naam", F.col("filename")),
            PropertyMap("premis:originalName", F.col("filename")),
            PropertyMap("ldto:omvang", F.coalesce(F.col("SIZE"), F.lit(0)).cast("long"),
                        datatype="xsd:integer"),
            PropertyMap("ldto:checksum", checksum, "bnode"),
            PropertyMap("ldto:bestandsformaat",
                        F.concat(F.lit("https://www.nationalarchives.gov.uk/PRONOM/"),
                                 F.col("PUID")), "uri"),
            # URLBestand (csv2rdf.py:222-226): CDN url from uid +
            # format extension (the reference resolves the extension
            # from the PUID vocabulary; the filename extension is the
            # hermetic equivalent).
            PropertyMap("ldto:URLBestand",
                        F.concat(F.lit("https://g0321.opslag.razu.nl/"),
                                 bestand_uid, F.lit("."), file_ext),
                        datatype="xsd:anyURI"),
            PropertyMap("ldto:isRepresentatieVan", record, "uri"),
        ]),
        (checksum, [
            PropertyMap(RDF_TYPE, F.lit("ldto:ChecksumGegevens"), "uri"),
            PropertyMap("ldto:checksumAlgoritme",
                        F.lit("https://data.razu.nl/id/algoritme/md5"), "uri"),
            PropertyMap("ldto:checksumDatum", F.col("LAST_MODIFIED"),
                        datatype="xsd:dateTime"),
            PropertyMap("ldto:checksumWaarde", F.col("MD5_HASH")),
        ]),
        # J8 both link directions: the record's isOnderdeelVan above is
        # the parent link, this the child link (one per row; the final
        # distinct drops repeats).
        (razu_uri(serie_uid), [
            PropertyMap("ldto:bevatOnderdeel", record, "uri"),
        ]),
    ], vocab=vocab)

    # A6 serie rollup: order-independent groupBy replaces the
    # sorted-input change detection of csv2rdf.py:83,90.
    series = m.groupBy("Serie").agg(F.count("*").alias("n_records"))
    serie_triples = entity_to_triples(
        series,
        razu_uri(serie_uid),
        [
            PropertyMap(RDF_TYPE, F.lit("ldto:Serie"), "uri"),
            PropertyMap("ldto:naam", F.col("Serie")),
            PropertyMap("ldto:omvang", F.col("n_records"), datatype="xsd:integer"),
            PropertyMap("ldto:isOnderdeelVan", razu_uri(archive_uid), "uri"),
        ],
    )

    # A1/A7 archive singleton from the global date range.
    archive = metadata.agg(
        F.min("Datering").alias("earliest"),
        F.max("Datering").alias("latest"),
        F.count("*").alias("n_items"),
    )
    archive_triples = entity_to_triples(
        archive,
        razu_uri(archive_uid),
        [
            PropertyMap(RDF_TYPE, F.lit("ldto:Archief"), "uri"),
            PropertyMap("ldto:naam", F.lit(archive_name)),
            PropertyMap("ldto:dekkingInTijdBeginDatum", F.col("earliest")),
            PropertyMap("ldto:dekkingInTijdEindDatum", F.col("latest")),
            PropertyMap("ldto:omvang", F.col("n_items"), datatype="xsd:integer"),
        ],
    )

    return graph_union(row_triples, serie_triples, archive_triples)
