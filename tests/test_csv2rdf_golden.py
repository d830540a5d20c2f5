"""Golden-output test of the full csv2rdf pipeline (SURVEY.md §5 test
plan item 3): a razu-shaped 4-row fixture (FIXTURES.md §1-§2, modeled
on razu/demo/csv_luchtfotos/metadata/) through plans/csv2rdf.py with a
*local* vocabulary table — no network, unlike the reference whose
csv2rdf is untestable without its live SPARQL endpoint (SURVEY §5).

Asserts exact triples (order-insensitive), then round-trips the graph
through both RDF serializations (N-Triples and per-entity JSON-LD) and
requires the parsed-back triple set to be identical.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from razulibs_spark.plans.csv2rdf import compose_filename, csv2rdf_triples
from razulibs_spark.sources.jsonld import jsonld_docs, read_rdf, write_jsonld
from razulibs_spark.sources.rdf_io import write_ntriples

URI = "https://data.razu.nl/id/object/NL-WbDRAZU-G0321-661-{}"

METADATA_COLS = [
    "Plaats", "Doos-nummer", "Inventarisnummer", "Volgnummer", "Serie",
    "Datering", "Titel", "Beschrijving voorkant", "Plaats 1", "Plaats 2",
    "Plaats 3", "Soort", "Auteursrecht", "Fotograaf naam", "Kleurtype",
    "Coördinaat - Linksonder", "Coördinaat Rechtsboven",
]


def _fixture(spark):
    rows = [
        ("W13.1.1", "1984-1", 1, 1, "1984", "1984-07-24",
         "Luchtfoto gemeente Houten", "Centrum", "Houten", "Tull en 't Waal",
         None, "Luchtfoto", "Geen toestemming nodig", "Delta-Phot",
         "Kleurenfoto", "X 136669000 Y 451994996", "X 137355000 Y 452680996"),
        ("W13.1.1", "1984-1", 2, 2, "1984", "1984",
         "Luchtfoto Houten noord", "Noordrand", "Houten", None, None,
         "Luchtfoto", "Geen toestemming nodig", "Delta-Phot",
         "Kleurenfoto", "X 136000000 Y 451000000", "X 136500000 Y 451500000"),
        ("W13.1.2", "1985-2", 3, 1, "1985", "24-06-1985",
         "Luchtfoto 't Goy", "Dorpskern", "'t Goy", None, None,
         "Luchtfoto", "Geen toestemming nodig", "Delta-Phot",
         "Zwart-wit", "X 137000000 Y 450000000", "X 137500000 Y 450500000"),
        ("W13.1.2", "1985-2", 4, 2, "1985", "1985-06-30",
         "Luchtfoto Schalkwijk", "Lint", "Schalkwijk", None, None,
         "Luchtfoto", "Onbekend", "Delta-Phot",
         "Zwart-wit", "X 138000000 Y 449000000", "X 138500000 Y 449500000"),
    ]
    meta_schema = ", ".join(
        f"`{c}` {'bigint' if c in ('Inventarisnummer', 'Volgnummer') else 'string'}"
        for c in METADATA_COLS
    )
    metadata = spark.createDataFrame(rows, meta_schema)
    droid = spark.createDataFrame(
        [("1984_01_001.jpg", "File", 14509774, "abc1", "fmt/44"),
         ("1984_01_002.jpg", "File", 10000001, "abc2", "fmt/44"),
         ("1985_02_003.jpg", "File", 9000002, "abc3", "fmt/44"),
         ("1985_02_004.jpg", "File", 8000003, "abc4", "fmt/44"),
         ("bestanden", "Folder", None, None, None)],
        "NAME string, TYPE string, SIZE bigint, MD5_HASH string, PUID string",
    )
    vocab = spark.createDataFrame(
        [("soort", "Luchtfoto", "https://data.razu.nl/id/soort/luchtfoto"),
         ("kleurtype", "Kleurenfoto", "https://data.razu.nl/id/kleur/kleurenfoto"),
         ("kleurtype", "Zwart-wit", "https://data.razu.nl/id/kleur/zwartwit"),
         ("auteursrecht", "Geen toestemming nodig", "https://data.razu.nl/id/recht/vrij"),
         ("actor", "Delta-Phot", "https://data.razu.nl/id/actor/deltaphot"),
         ("locatie", "Houten", "https://data.razu.nl/id/locatie/houten"),
         ("locatie", "Tull en 't Waal", "https://data.razu.nl/id/locatie/tull"),
         ("locatie", "'t Goy", "https://data.razu.nl/id/locatie/goy"),
         ("locatie", "Schalkwijk", "https://data.razu.nl/id/locatie/schalkwijk")],
        ["vocabulary", "term", "uri"],
    )
    return metadata, droid, vocab


def _triple_set(df):
    return {tuple(r) for r in df.select(
        "s", "p", "o", "o_type", "o_datatype", "o_lang").collect()}


def test_compose_filename(spark):
    df = spark.createDataFrame([("1984-1", 1), ("1985-12", 23)], ["d", "v"])
    got = [r[0] for r in df.select(
        compose_filename(F.col("d"), F.col("v"))).collect()]
    assert got == ["1984_01_001.jpg", "1985_12_023.jpg"]


def test_csv2rdf_golden_triples(spark):
    metadata, droid, vocab = _fixture(spark)
    triples = csv2rdf_triples(metadata, droid, vocab).cache()
    try:
        got = _triple_set(triples)

        rec1 = URI.format("1")
        # J1 droid lookup reached the bestand entity:
        assert (URI.format("1-b"), "ldto:omvang", "14509774", "literal",
                "xsd:integer", None) in got
        # J2 vocab resolve:
        assert (rec1, "ldto:dekkingInRuimte",
                "https://data.razu.nl/id/locatie/houten", "uri", None, None) in got
        # P3 optional: row 1 has Plaats 2, rows 2-4 do not → exactly 5
        # dekkingInRuimte triples in total (4×Plaats1 + 1×Plaats2).
        assert sum(1 for t in got if t[1] == "ldto:dekkingInRuimte") == 5
        # F1 per-row date datatypes on the nested dekking bnode (D3):
        dek = {t[4] for t in got if t[1] == "ldto:dekkingInTijdBeginDatum"
               and t[0].startswith("bnode:")}
        assert dek == {"xsd:date", "xsd:gYear"}
        # Dutch d-m-yyyy reformatted to ISO (util.py:9-30 semantics):
        assert ("bnode:NL-WbDRAZU-G0321-661-3:dekking",
                "ldto:dekkingInTijdBeginDatum", "1985-06-24", "literal",
                "xsd:date", None) in got
        # F11/F12 WKT bbox:
        assert (rec1, "geo:asWKT",
                "POLYGON ((136669.0 451994.996, 137355.0 451994.996, "
                "137355.0 452680.996, 136669.0 452680.996, 136669.0 451994.996))",
                "literal", "geo:wktLiteral", None) in got
        # A1/A7 archive singleton with the global min/max Datering:
        arch = URI.format("archief")
        assert (arch, "ldto:dekkingInTijdBeginDatum", "1984", "literal",
                None, None) in got
        assert (arch, "ldto:dekkingInTijdEindDatum", "24-06-1985", "literal",
                None, None) in got
        # A6/J8: two series, linked both directions:
        assert (URI.format("serie-1984"), "ldto:bevatOnderdeel", rec1,
                "uri", None, None) in got
        assert (rec1, "ldto:isOnderdeelVan", URI.format("serie-1984"),
                "uri", None, None) in got
        # Entity census: 4 records + 4 bestanden + 4 dekking bnodes +
        # 4 checksum bnodes + 2 series + 1 archive typed nodes.
        assert sum(1 for t in got if t[1] == "rdf:type") == 19
    finally:
        triples.unpersist()


def test_csv2rdf_roundtrips(spark, tmp_path):
    metadata, droid, vocab = _fixture(spark)
    triples = csv2rdf_triples(metadata, droid, vocab).cache()
    try:
        want = _triple_set(triples)

        nt = str(tmp_path / "graph.nt")
        write_ntriples(triples, nt)
        # N-Triples loses the skolem prefix by design (bnodes serialize as
        # label-hashed `_:`); compare on the stable remainder.
        back_nt = read_rdf(spark, nt, fmt="ntriples")
        assert back_nt.count() == len(want)

        jd = str(tmp_path / "graph.jsonld")
        write_jsonld(triples, jd)
        back = _triple_set(read_rdf(spark, jd, fmt="jsonld"))
        assert back == want

        # One document per entity (4 records + 4 bestanden + 2 series + 1
        # archive; each record doc also carries its dekking bnode node).
        docs = jsonld_docs(triples)
        assert docs.count() == 11
        one = docs.filter(F.col("entity") == "NL-WbDRAZU-G0321-661-1").collect()[0]
        assert '"@graph"' in one["jsonld"] and "bnode:NL-WbDRAZU-G0321-661-1:dekking" in one["jsonld"]
    finally:
        triples.unpersist()


def test_per_entity_files_and_sip_scan(spark, tmp_path):
    """K1 per-entity layout + S5 SIP directory scan + K4 eventlog
    round-trip + P10 filter."""
    from razulibs_spark.operators.events import build_events, events_to_triples
    from razulibs_spark.operators.rdf import valid_triples
    from razulibs_spark.sources.jsonld import (
        owning_entity, read_jsonld, scan_sip_dir, write_jsonld_per_entity,
    )

    metadata, droid, vocab = _fixture(spark)
    triples = csv2rdf_triples(metadata, droid, vocab).cache()
    try:
        sip = tmp_path / "sip"
        n = write_jsonld_per_entity(jsonld_docs(triples), str(sip))
        assert n == 11
        # What else lives in a SIP directory is not read as a document:
        # the manifest, the event log (a part-file directory) and a
        # dot-prefixed leftover that would not even parse.
        (sip / "manifest.json").write_text('{"a.meta.json": {"MD5Hash": "0"}}\n')
        write_ntriples(triples.limit(3), str(sip / "eventlog.nt"))
        (sip / ".stray.meta.json").write_text("{not json\n")

        back = scan_sip_dir(spark, str(sip))
        # S5 id extraction matches the K1 filenames, row for row:
        files = {f[:-len(".meta.json")] for f in os.listdir(sip)
                 if f.endswith(".meta.json") and not f.startswith(".")}
        assert {r[0] for r in back.select("entity_id").distinct().collect()} == files
        assert len(files) == 11
        want = triples.withColumn("entity_id", owning_entity(F.col("s")))
        for got, exp in [(back, want), (read_jsonld(spark, str(sip / "*.meta.json")), triples)]:
            exp = exp.select(got.columns)
            assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0

        # K4: events → PREMIS triples → JSON-LD round-trip.
        ev = build_events(triples.select("s").distinct().limit(3), "s",
                          "mem", actor="razu-spark")
        # F18: event timestamps come from current_timestamp(), fixed per
        # query execution — materialize once so write and compare agree.
        ev_triples = events_to_triples(ev, "https://data.razu.nl/id/event/tool").cache()
        try:
            ev_triples.count()
            jd = str(tmp_path / "eventlog.jsonld")
            write_jsonld(ev_triples, jd, owner=F.col("s"))
            assert _triple_set(read_rdf(spark, jd, fmt="jsonld")) == _triple_set(ev_triples)
        finally:
            ev_triples.unpersist()

        # P10: malformed rows dropped, well-formed kept.
        bad = spark.createDataFrame(
            [("", "p", "o", "uri", None, None),
             ("s", "p", None, "uri", None, None),
             ("s", "p", "x", "wat", None, None),
             ("s", "p", "", "literal", None, None)],
            "s string, p string, o string, o_type string, o_datatype string, o_lang string",
        )
        assert valid_triples(bad).count() == 1
        assert valid_triples(triples).count() == triples.count()
    finally:
        triples.unpersist()


def test_csv_sources_feed_pipeline(spark, tmp_path):
    """S1/S2: the same golden triples arrive when the inputs come off
    disk as real `;`-CSV / CSV files instead of in-memory frames."""
    from razulibs_spark.sources.csv_source import read_droid_csv, read_metadata_csv

    metadata, droid, vocab = _fixture(spark)
    mpath, dpath = str(tmp_path / "metadata_csv"), str(tmp_path / "droid_csv")
    metadata.coalesce(1).write.option("sep", ";").option("header", True).csv(mpath)
    droid.coalesce(1).write.option("header", True).csv(dpath)

    m2 = read_metadata_csv(spark, mpath)
    d2 = read_droid_csv(spark, dpath)
    want = _triple_set(csv2rdf_triples(metadata, droid, vocab))
    got = _triple_set(csv2rdf_triples(m2, d2, vocab))
    assert got == want


def test_csv2rdf_with_sparql_materialized_vocab(spark):
    """The reference's FULL network lifecycle, hermetic: vocabularies
    arrive through materialize_vocabularies with an injected SPARQL
    transport (concept_resolver.py's per-term SELECTs become one fetch
    per vocabulary), and the resulting dimension drives the same
    csv2rdf run — the golden triples must be identical to the
    local-table run, proving the adapter's shape end-to-end."""
    from razulibs_spark.sources.vocab import materialize_vocabularies

    metadata, droid, vocab = _fixture(spark)

    # Serve the fixture's vocabulary rows as SPARQL JSON bindings,
    # keyed by the per-vocabulary endpoint URL the materializer builds.
    by_voc: dict[str, list[tuple[str, str]]] = {}
    for r in vocab.collect():
        by_voc.setdefault(r["vocabulary"], []).append((r["term"], r["uri"]))

    def stub_transport(endpoint, query):
        assert "skos:prefLabel" in query
        voc = endpoint.rsplit("/sparql", 1)[0].rsplit("/", 1)[-1]
        return {"results": {"bindings": [
            {"uri": {"value": uri},
             "predicate": {"value":
                           "http://www.w3.org/2004/02/skos/core#prefLabel"},
             "term": {"value": term}}
            for term, uri in by_voc[voc]
        ]}}

    dim = materialize_vocabularies(
        spark, sorted(by_voc), transport=stub_transport
    )
    want = _triple_set(csv2rdf_triples(metadata, droid, vocab))
    got = _triple_set(
        csv2rdf_triples(metadata, droid, dim.select("vocabulary", "term", "uri"))
    )
    assert got == want


def test_prefix_expansion_roundtrip_and_valid_ntriples(spark, tmp_path):
    """compact∘expand is the identity on the pipeline's graph, and the
    expanded serialization is standards-valid N-Triples (every IRI
    absolute — no prefixed names inside angle brackets)."""
    from razulibs_spark.operators.rdf import compact_triples, expand_triples

    metadata, droid, vocab = _fixture(spark)
    triples = csv2rdf_triples(metadata, droid, vocab).cache()
    try:
        want = _triple_set(triples)
        assert _triple_set(compact_triples(expand_triples(triples))) == want

        nt = str(tmp_path / "valid.nt")
        write_ntriples(expand_triples(triples), nt)
        import glob
        text = "".join(open(p).read() for p in glob.glob(nt + "/part-*"))
        assert "<ldto:" not in text and "<rdf:" not in text and "<geo:" not in text
        assert "<https://data.razu.nl/def/ldto/naam>" in text
        assert "^^<http://www.w3.org/2001/XMLSchema#date>" in text
        back = read_rdf(spark, nt, fmt="ntriples")
        assert back.count() == len(want)
    finally:
        triples.unpersist()


def _release(out):
    out["manifest"].unpersist()


def test_sip_assembly_and_lock(spark, tmp_path):
    """SURVEY §3.2 end-to-end: documents + manifest from the written
    bytes + provenance in dependency order + lock; a second assembly
    against the locked SIP raises (O6)."""
    import pytest

    from razulibs_spark.plans.sip import SipLockedError, assemble_sip

    metadata, droid, vocab = _fixture(spark)
    triples = csv2rdf_triples(metadata, droid, vocab)
    sip = str(tmp_path / "sip")
    out = assemble_sip(spark, triples, sip)
    try:
        assert out["n_documents"] == 11
        manifest = out["manifest"]
        assert manifest.count() == 11
        # Manifest checksums describe the bytes actually on disk:
        import hashlib
        row = manifest.filter(
            F.col("filename") == "NL-WbDRAZU-G0321-661-1.meta.json").collect()[0]
        with open(f"{sip}/NL-WbDRAZU-G0321-661-1.meta.json", "rb") as fh:
            assert row["md5hash"] == hashlib.md5(fh.read()).hexdigest()
        # Provenance: ins + 11 mem + 11 fix (all 'suc') + ine, dense ids.
        ev = out["events"]
        by_type = {r["event_type"]: r["n"] for r in
                   ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()}
        assert by_type == {"ins": 1, "mem": 11, "fix": 11, "ine": 1}
        assert ev.filter(F.col("event_type") == "fix")
        assert ev.filter(F.col("outcome") != "suc").count() == 0
        ids = sorted(r["event_id"] for r in ev.select("event_id").collect())
        assert ids == list(range(1, 25))
        # O6: the terminal ingestion_end locks the SIP.
        with pytest.raises(SipLockedError):
            assemble_sip(spark, triples, sip)
    finally:
        _release(out)


def test_sip_assembly_lock_is_exclusive(spark, tmp_path):
    """Two assemblies racing on one sip_dir: the lock file is taken by
    an exclusive create, so one assembles a complete SIP and the other
    raises SipLockedError without writing; a lock file that is already
    there refuses an assembly before any document is written."""
    import threading

    import pytest

    from razulibs_spark.plans.sip import LOCK_FILE, SipLockedError, assemble_sip

    metadata, droid, vocab = _fixture(spark)
    triples = csv2rdf_triples(metadata, droid, vocab)
    sip = str(tmp_path / "sip")
    start = threading.Barrier(2)
    results, errors = [], []

    def run():
        start.wait(timeout=60)
        try:
            results.append(assemble_sip(spark, triples, sip))
        except SipLockedError as e:
            errors.append(e)

    threads = [threading.Thread(target=run) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads)
    try:
        assert len(results) == 1 and len(errors) == 1, (results, errors)
        out = results[0]
        assert out["n_documents"] == 11
        docs = sorted(f for f in os.listdir(sip) if f.endswith(".meta.json"))
        assert len(docs) == 11
        assert sorted(r["filename"] for r in out["manifest"].collect()) == docs
        assert sorted(os.listdir(sip)) == sorted(docs + ["eventlog.nt", "manifest.json"])
        by_type = {r["event_type"]: r["n"] for r in out["events"].groupBy(
            "event_type").agg(F.count("*").alias("n")).collect()}
        assert by_type == {"ins": 1, "mem": 11, "fix": 11, "ine": 1}
        assert out["events"].filter(F.col("outcome") != "suc").count() == 0
    finally:
        for out in results:
            _release(out)

    other = tmp_path / "held"
    other.mkdir()
    (other / LOCK_FILE).touch()
    with pytest.raises(SipLockedError, match="being assembled"):
        assemble_sip(spark, triples, str(other))
    assert os.listdir(other) == [LOCK_FILE]


def test_collect_rdf_lifecycle(spark, tmp_path):
    """§3 runner-up entry point (tools/collect_rdf.py:63-136): JSON-LD
    files → demote invalid xsd:integer → drop malformed → union →
    Turtle; the parsed-back Turtle equals the collected graph."""
    from razulibs_spark.plans.collect_rdf import (
        collect_rdf,
        collect_rdf_to_turtle,
        demote_invalid_integers,
        invalid_integer_report,
    )
    from razulibs_spark.sources.rdf_io import read_turtle

    metadata, droid, vocab = _fixture(spark)
    triples = csv2rdf_triples(metadata, droid, vocab)
    a = str(tmp_path / "a.jsonld")
    b = str(tmp_path / "b.jsonld")
    write_jsonld(triples, a)
    # second input: one good triple plus a poisoned integer literal
    bad = spark.createDataFrame(
        [("urn:x", "ldto:omvang", "12 MB", "literal",
          "http://www.w3.org/2001/XMLSchema#integer", None),
         ("urn:x", "ldto:naam", "x", "literal", None, None)],
        "s string, p string, o string, o_type string, "
        "o_datatype string, o_lang string",
    )
    write_jsonld(bad, b)

    # the report surfaces offenders pre-demotion, capped at 10 (T4)
    assert invalid_integer_report(bad).count() == 1

    got = collect_rdf(spark, a, b).cache()
    try:
        # demotion kept the triple but dropped the datatype (P11)
        demoted = got.filter((F.col("s") == "urn:x") & (F.col("p") == "ldto:omvang"))
        assert demoted.count() == 1 and demoted.first()["o_datatype"] is None
        # after demotion both rows survive the demote step
        assert demote_invalid_integers(bad).count() == 2
        # union folded both inputs; every csv2rdf triple survived
        assert got.count() == len(_triple_set(triples)) + 2

        out = str(tmp_path / "combined.ttl")
        collect_rdf_to_turtle(spark, out, a, b)
        back = read_turtle(spark, out)
        assert back.count() == got.count()
    finally:
        got.unpersist()


def test_sip_assembly_count_mismatch_is_loud(spark, tmp_path):
    """ADVICE r8: if the manifest scan disagrees with the number of
    documents written (the signature of a non-shared sip_dir on a real
    cluster, or lost writes), assembly must FAIL, not emit an
    incomplete archival SIP. Simulated here with a stray pre-existing
    .meta.json the scan picks up."""
    import os

    import pytest

    from razulibs_spark.plans.sip import assemble_sip

    metadata, droid, vocab = _fixture(spark)
    triples = csv2rdf_triples(metadata, droid, vocab)
    sip = str(tmp_path / "sip_stray")
    os.makedirs(sip)
    with open(os.path.join(sip, "stray-orphan.meta.json"), "w") as fh:
        fh.write("{}")
    with pytest.raises(RuntimeError, match="12 metadata files but 11"):
        assemble_sip(spark, triples, sip)


def test_sip_fixity_fails_on_changed_document(spark, tmp_path, monkeypatch):
    """Fixity compares the bytes written with the bytes read back: a
    document changed between the write and the manifest scan gets
    exactly one failed `fix` event, for that file."""
    import hashlib
    import os

    import razulibs_spark.plans.sip as sip_mod

    target = "NL-WbDRAZU-G0321-661-2.meta.json"
    orig = sip_mod.write_jsonld_per_entity

    def corrupting(docs, directory, *args, **kwargs):
        n = orig(docs, directory, *args, **kwargs)
        with open(os.path.join(directory, target), "ab") as fh:
            fh.write(b" ")
        return n

    monkeypatch.setattr(sip_mod, "write_jsonld_per_entity", corrupting)
    metadata, droid, vocab = _fixture(spark)
    sip = str(tmp_path / "sip")
    out = sip_mod.assemble_sip(spark, csv2rdf_triples(metadata, droid, vocab), sip)
    try:
        failed = out["events"].filter(F.col("outcome") != "suc").collect()
    finally:
        _release(out)
    with open(os.path.join(sip, target), "rb") as fh:
        on_disk = hashlib.md5(fh.read()).hexdigest()
    assert [(r["event_type"], r["outcome"], r["subjects"]) for r in failed] == [
        ("fix", "fail", [target])
    ]
    assert failed[0]["outcome_note"] == on_disk


def test_sip_assembly_lost_write_is_loud(spark, tmp_path, monkeypatch):
    """A written document that is gone at the scan, with a stray file
    in its place, keeps the file count equal; the filename sets still
    differ, so assembly must fail and name both files."""
    import os
    import re

    import pytest

    import razulibs_spark.plans.sip as sip_mod

    lost = "NL-WbDRAZU-G0321-661-3.meta.json"
    orig = sip_mod.write_jsonld_per_entity

    def losing(docs, directory, *args, **kwargs):
        n = orig(docs, directory, *args, **kwargs)
        os.remove(os.path.join(directory, lost))
        with open(os.path.join(directory, "stray-orphan.meta.json"), "w") as fh:
            fh.write("{}")
        return n

    monkeypatch.setattr(sip_mod, "write_jsonld_per_entity", losing)
    metadata, droid, vocab = _fixture(spark)
    with pytest.raises(RuntimeError, match=re.escape(lost) + ".*stray-orphan"):
        sip_mod.assemble_sip(
            spark, csv2rdf_triples(metadata, droid, vocab), str(tmp_path / "sip"))


def test_sip_assembly_failure_releases_the_manifest(spark, tmp_path, monkeypatch):
    """The caller owns the persisted manifest only once assembly returns
    it: a failure after the manifest scan (here the event-log write)
    releases it, so no cached plan stays in the shared session."""
    import pytest

    import razulibs_spark.plans.sip as sip_mod

    def failing(*args, **kwargs):
        raise OSError("event log write failed")

    monkeypatch.setattr(sip_mod, "write_ntriples", failing)
    metadata, droid, vocab = _fixture(spark)
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    with pytest.raises(OSError, match="event log write failed"):
        sip_mod.assemble_sip(
            spark, csv2rdf_triples(metadata, droid, vocab), str(tmp_path / "sip"))
    assert jsc.getPersistentRDDs().size() == before


def test_sip_non_ascii_document_is_utf8(spark, tmp_path):
    """Documents keep non-ASCII text (ensure_ascii=False); the file
    holds its UTF-8 bytes whatever the locale, and fixity agrees."""
    import json
    import os

    from razulibs_spark.plans.sip import assemble_sip

    text = "Rhenen – Grebbeberg, ë"
    triples = spark.createDataFrame(
        [(URI.format(9), "ldto:naam", text, "literal", None, None)],
        "s string, p string, o string, o_type string, "
        "o_datatype string, o_lang string",
    )
    sip = str(tmp_path / "sip")
    out = assemble_sip(spark, triples, sip)
    try:
        outcomes = [r["outcome"] for r in
                    out["events"].filter(F.col("event_type") == "fix").collect()]
    finally:
        _release(out)
    with open(os.path.join(sip, "NL-WbDRAZU-G0321-661-9.meta.json"), "rb") as fh:
        raw = fh.read()
    assert text.encode("utf-8") in raw
    assert json.loads(raw.decode("utf-8"))["@graph"][0]["ldto:naam"] == [{"@value": text}]
    assert outcomes == ["suc"]


def test_sip_assembly_scans_once_and_caches_nothing_else(spark, tmp_path, monkeypatch):
    """One manifest scan per SIP; once the caller releases the returned
    manifest, no other cached frame is left behind."""
    import razulibs_spark.plans.sip as sip_mod

    calls = []
    orig = sip_mod.manifest_from_directory

    def counting(*args, **kwargs):
        calls.append(args)
        return orig(*args, **kwargs)

    monkeypatch.setattr(sip_mod, "manifest_from_directory", counting)
    metadata, droid, vocab = _fixture(spark)
    triples = csv2rdf_triples(metadata, droid, vocab)
    jsc = spark.sparkContext._jsc

    def cached():  # getPersistentRDDs() is a snapshot: re-read it each time
        return jsc.getPersistentRDDs().size()

    before = cached()
    out = sip_mod.assemble_sip(spark, triples, str(tmp_path / "sip"))
    try:
        grew = cached() - before
        manifest_cached, events_cached = out["manifest"].is_cached, out["events"].is_cached
    finally:
        _release(out)
    assert len(calls) == 1
    # the manifest is the only frame assembly leaves persisted
    assert (grew, manifest_cached, events_cached) == (1, True, False)
    assert cached() == before


# Golden SIP event numbering: (mem id, fix id) per document, ranked by
# filename; ins is 1 and ine is 2n + 2 = 24.
SIP_EVENT_IDS = {
    "NL-WbDRAZU-G0321-661-1-b.meta.json": (2, 13),
    "NL-WbDRAZU-G0321-661-1.meta.json": (3, 14),
    "NL-WbDRAZU-G0321-661-2-b.meta.json": (4, 15),
    "NL-WbDRAZU-G0321-661-2.meta.json": (5, 16),
    "NL-WbDRAZU-G0321-661-3-b.meta.json": (6, 17),
    "NL-WbDRAZU-G0321-661-3.meta.json": (7, 18),
    "NL-WbDRAZU-G0321-661-4-b.meta.json": (8, 19),
    "NL-WbDRAZU-G0321-661-4.meta.json": (9, 20),
    "NL-WbDRAZU-G0321-661-archief.meta.json": (10, 21),
    "NL-WbDRAZU-G0321-661-serie-1984.meta.json": (11, 22),
    "NL-WbDRAZU-G0321-661-serie-1985.meta.json": (12, 23),
}


def test_sip_event_log_characterization(spark, tmp_path):
    """The SIP event log on the golden fixture, as returned and as
    written to eventlog.nt: every event's id, type, subject,
    description, outcome, note and actor. The times are left free but
    must be set and ordered: every event spans the assembly."""
    import hashlib
    import os
    from datetime import datetime

    from razulibs_spark.plans.sip import assemble_sip
    from razulibs_spark.sources.rdf_io import read_ntriples

    metadata, droid, vocab = _fixture(spark)
    sip = str(tmp_path / "sip")
    out = assemble_sip(spark, csv2rdf_triples(metadata, droid, vocab), sip)
    try:
        rows = out["events"].collect()
    finally:
        _release(out)
    got = {r["event_id"]: (r["event_type"], list(r["subjects"]), r["description"],
                           r["outcome"], r["outcome_note"], r["implemented_by"])
           for r in rows}
    spans = {(r["started_at"], r["ended_at"]) for r in rows}
    assert len(spans) == 1
    ((started_at, ended_at),) = spans
    assert started_at is not None and started_at <= ended_at

    actor = "https://data.razu.nl/id/actor/razu"
    want = {1: ("ins", ["sip"], "Ingestion started.", "suc", None, actor),
            24: ("ine", ["sip"], "Ingestion ended.", "suc", None, actor)}
    for fn, (mem_id, fix_id) in SIP_EVENT_IDS.items():
        with open(os.path.join(sip, fn), "rb") as fh:
            md5 = hashlib.md5(fh.read()).hexdigest()
        want[mem_id] = ("mem", [fn], "Metadata object created.", "suc", None, actor)
        want[fix_id] = ("fix", [fn], "Fixity check", "suc", md5, actor)
    assert got == want

    # eventlog.nt carries the same events (PREMIS codes as loc.gov URIs)
    log = {}
    for t in read_ntriples(spark, os.path.join(sip, "eventlog.nt")).collect():
        log.setdefault(int(t["s"].rsplit("-e", 1)[1]), {})[t["p"]] = t["o"]
    assert {i: (e[PREMIS + "eventType"].rsplit("/", 1)[1], [e[PREMIS + "object"]],
                e[PREMIS + "outcomeNote"], e[PREMIS + "outcome"].rsplit("/", 1)[1],
                e.get(PREMIS + "note"), e[PROV + "wasAssociatedWith"])
            for i, e in log.items()} == want
    assert all(e[RDF_TYPE] == PREMIS + "Event" and PROV + "endedAtTime" in e
               for e in log.values())
    # Every logged event has both times, and none ends before it starts.
    assert all(datetime.fromisoformat(e[PROV + "startedAtTime"])
               <= datetime.fromisoformat(e[PROV + "endedAtTime"])
               for e in log.values())


def test_sip_event_log_names_no_staging_directory(spark, tmp_path):
    """The event log names the SIP by its directory's own name, as it
    names each document by its file name: the same triples assembled
    under two parent directories log the same event objects."""
    import os

    from razulibs_spark.plans.sip import assemble_sip
    from razulibs_spark.sources.rdf_io import read_ntriples

    metadata, droid, vocab = _fixture(spark)
    triples = csv2rdf_triples(metadata, droid, vocab)
    objects = []
    for parent in ("a", "a-much-longer-staging-parent"):
        sip = str(tmp_path / parent / "sip")
        _release(assemble_sip(spark, triples, sip))
        log = read_ntriples(spark, os.path.join(sip, "eventlog.nt"))
        objects.append(sorted(
            (t["s"], t["o"]) for t in log.filter(F.col("p") == PREMIS + "object").collect()
        ))
    assert objects[0] == objects[1]
    assert ("https://data.razu.nl/id/event/sip-e1", "sip") in objects[0]


PREMIS = "http://www.loc.gov/premis/rdf/v3/"
PROV = "http://www.w3.org/ns/prov#"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


def test_sip_event_log_lines_use_vocabulary_iris(spark, tmp_path, monkeypatch):
    """eventlog.nt names its predicates, types and datatypes by their
    PREMIS, PROV, RDF and XSD IRIs, as the reference's rdflib graph
    does, and it is still written by one job."""
    import os
    import re
    import uuid

    import razulibs_spark.plans.sip as sip_mod

    jobs = []

    def counted(triples, path):
        sc = spark.sparkContext
        group = f"eventlog-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            write_ntriples(triples, path)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))

    monkeypatch.setattr(sip_mod, "write_ntriples", counted)
    metadata, droid, vocab = _fixture(spark)
    sip = str(tmp_path / "sip")
    _release(sip_mod.assemble_sip(spark, csv2rdf_triples(metadata, droid, vocab), sip))
    assert jobs == [1]

    lines = [r["value"] for r in spark.read.text(os.path.join(sip, "eventlog.nt")).collect()]
    e1 = "<https://data.razu.nl/id/event/sip-e1> "
    stamp = r'"\d{4}-\d\d-\d\dT\d\d:\d\d:\d\dZ"'
    timed = {line for line in lines if line.startswith(e1) and "AtTime> " in line}
    assert len(timed) == 2 and all(
        re.fullmatch(e1 + f"<{PROV}(?:started|ended)AtTime> {stamp}"
                     r"\^\^<http://www\.w3\.org/2001/XMLSchema#dateTime> \.",
                     line)
        for line in timed
    )
    assert {line for line in lines if line.startswith(e1)} - timed == {
        e1 + f"<{RDF_TYPE}> <{PREMIS}Event> .",
        e1 + f"<{PREMIS}eventType> <http://id.loc.gov/vocabulary/preservation/eventType/ins> .",
        e1 + f"<{PREMIS}outcome> <http://id.loc.gov/vocabulary/preservation/eventOutcome/suc> .",
        e1 + f'<{PREMIS}outcomeNote> "Ingestion started." .',
        e1 + f'<{PROV}wasAssociatedWith> "https://data.razu.nl/id/actor/razu" .',
        e1 + f"<{PREMIS}object> <sip> .",
    }
    assert not [line for line in lines if re.search(r"<(?:premis|prov|rdf|xsd):", line)]


def test_sip_event_log_in_the_prefixed_form_still_locks(spark, tmp_path):
    """A log written before the IRIs were expanded names its terms as
    ``<premis:eventType>``; its ingestion_end still locks the SIP."""
    import os

    import pytest

    from razulibs_spark.plans.sip import SipLockedError, assemble_sip

    sip = tmp_path / "sip"
    os.makedirs(sip / "eventlog.nt")
    ev = "<https://data.razu.nl/id/event/sip-e{}> "
    (sip / "eventlog.nt" / "part-00000.txt").write_text(
        ev.format(1) + "<rdf:type> <premis:Event> .\n"
        + ev.format(1) + "<premis:eventType> "
        "<http://id.loc.gov/vocabulary/preservation/eventType/ins> .\n"
        + ev.format(2) + "<premis:eventType> "
        "<http://id.loc.gov/vocabulary/preservation/eventType/ine> .\n"
        + ev.format(2) + '<prov:endedAtTime> "2024-01-01T00:00:00Z"'
        "^^<xsd:dateTime> .\n",
        encoding="utf-8",
    )
    metadata, droid, vocab = _fixture(spark)
    with pytest.raises(SipLockedError):
        assemble_sip(spark, csv2rdf_triples(metadata, droid, vocab), str(sip))
    assert sorted(os.listdir(sip)) == ["eventlog.nt"]
