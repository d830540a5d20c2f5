"""Unit/golden tests for the operator library (SURVEY.md §5 test plan:
single-operator asserts + round-trips, mirroring the reference's
tests/test_rdf_resource.py / test_util.py / test_identifiers.py style).
"""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from razulibs_spark.functions.scalars import (
    date_type_classify,
    full_extension,
    filename_stem,
    normalize_path,
    parse_rd_coord,
    razu_filename,
    razu_s3_key,
    razu_uid,
    razu_uri,
    wkt_bbox_polygon,
)
from razulibs_spark.operators import events as ev
from razulibs_spark.operators import rdf
from razulibs_spark.operators.ids import dense_ids, dense_ids_global_window
from razulibs_spark.operators.manifest import (
    incremental_sync_plan,
    manifest_from_directory,
    manifest_from_json_map,
    manifest_to_json_map,
    validate_manifest,
)
from razulibs_spark.sources.jsonld import read_rdf
from razulibs_spark.sources.rdf_io import (
    TURTLE_HEADER,
    read_nquads,
    read_ntriples,
    read_turtle,
    turtle_text,
    write_ntriples,
    write_turtle,
)


# -- scalars (reference golden expectations: tests/test_util.py,
# tests/test_identifiers.py) ------------------------------------------------


def test_date_type_classify(spark):
    df = spark.createDataFrame(
        [("1984-07-24",), ("1984",), ("5-7-1984",), ("circa 1984",)], ["d"]
    )
    t, v = date_type_classify(F.col("d"))
    rows = {r["d"]: (r["t"], r["v"]) for r in df.select("d", t.alias("t"), v.alias("v")).collect()}
    assert rows["1984-07-24"] == ("xsd:date", "1984-07-24")
    assert rows["1984"] == ("xsd:gYear", "1984")
    assert rows["5-7-1984"] == ("xsd:date", "1984-07-05")
    assert rows["circa 1984"] == ("literal", "circa 1984")


def test_extensions_and_identifiers(spark):
    df = spark.createDataFrame([("archive.tar.gz", 42)], ["name", "oid"])
    row = df.select(
        full_extension(F.col("name")).alias("ext"),
        filename_stem(F.col("name")).alias("stem"),
        razu_uid(F.col("oid")).alias("uid"),
        razu_uri(razu_uid(F.col("oid"))).alias("uri"),
        razu_filename(razu_uid(F.col("oid"))).alias("fn"),
        razu_s3_key(F.col("oid"), razu_uid(F.col("oid"))).alias("key"),
    ).first()
    assert row["ext"] == ".tar.gz"
    assert row["stem"] == "archive"
    # golden strings per tests/test_identifiers.py:22-101 fixture shape
    assert row["uid"] == "NL-WbDRAZU-G0321-661-42"
    assert row["uri"] == "https://data.razu.nl/id/object/NL-WbDRAZU-G0321-661-42"
    assert row["fn"] == "NL-WbDRAZU-G0321-661-42.meta.json"
    assert row["key"] == "000/000/NL-WbDRAZU-G0321-661-42"
    big = spark.createDataFrame([(2_345_678,)], ["oid"]).select(
        razu_s3_key(F.col("oid"), F.lit("x")).alias("key")
    ).first()
    assert big["key"] == "002/345/x"


def test_normalize_path_and_coords(spark):
    df = spark.createDataFrame(
        [(r"F:\depot\bestanden\sub\f.jpg", "X 136669000 Y 451994996")], ["p", "c"]
    )
    x, y = parse_rd_coord(F.col("c"))
    row = df.select(
        normalize_path(F.col("p")).alias("np"), x.alias("x"), y.alias("y")
    ).first()
    assert row["np"] == "sub/f.jpg"
    assert row["x"] == pytest.approx(136669.0)
    assert row["y"] == pytest.approx(451994.996)
    poly = df.select(
        wkt_bbox_polygon(F.lit(1.0), F.lit(2.0), F.lit(3.0), F.lit(4.0)).alias("w")
    ).first()["w"]
    assert poly == "POLYGON ((1.0 2.0, 3.0 2.0, 3.0 4.0, 1.0 4.0, 1.0 2.0))"


# -- dense ids (O1) ---------------------------------------------------------


def test_dense_ids_matches_global_window(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderdate"
    )
    fast = dense_ids(df, ["o_orderdate", "o_orderkey"], "seq", start=7)
    slow = dense_ids_global_window(df, ["o_orderdate", "o_orderkey"], "seq", start=7)
    a = {r["o_orderkey"]: r["seq"] for r in fast.collect()}
    b = {r["o_orderkey"]: r["seq"] for r in slow.collect()}
    assert a == b
    assert min(a.values()) == 7 and max(a.values()) == 6 + df.count()


# -- RDF fan-out + serialization round-trip (D1/O2/K2/S4) -------------------


def test_entity_fanout_and_ntriples_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "Houten", None), (2, 'quo"te\nline', 9)], ["oid", "naam", "omvang"]
    )
    triples = rdf.entity_to_triples(
        df,
        razu_uri(razu_uid(F.col("oid"))),
        [
            rdf.PropertyMap("rdf:type", F.lit("ldto:Serie"), "uri"),
            rdf.PropertyMap("ldto:naam", F.col("naam"), lang="nl"),
            rdf.PropertyMap("ldto:omvang", F.col("omvang"), datatype="xsd:integer"),
        ],
    )
    rows = triples.collect()
    # null-valued property dropped (P3 optional-field semantics)
    assert len(rows) == 5
    path = os.path.join(str(tmp_path), "out.nt")
    write_ntriples(triples, path)
    back = read_ntriples(spark, path)
    orig = {tuple(r) for r in triples.collect()}
    parsed = {tuple(r) for r in back.collect()}
    assert orig == parsed
    ttl = turtle_text(triples)
    assert ttl.startswith("@prefix") and "ldto:naam" in ttl
    assert TURTLE_HEADER.count("@prefix") == 11


def test_turtle_roundtrip_distributed(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "Houten", None), (2, 'quo"te\nline', 9)], ["oid", "naam", "omvang"]
    )
    triples = rdf.entity_to_triples(
        df,
        razu_uri(razu_uid(F.col("oid"))),
        [
            rdf.PropertyMap("rdf:type", F.lit("ldto:Serie"), "uri"),
            rdf.PropertyMap("ldto:naam", F.col("naam"), lang="nl"),
            rdf.PropertyMap("ldto:omvang", F.col("omvang"), datatype="xsd:integer"),
        ],
    )
    path = os.path.join(str(tmp_path), "out.ttl")
    expanded = rdf.expand_triples(triples)
    write_turtle(expanded, path)
    # every non-empty part file is itself a complete Turtle document
    parts = [p for p in os.listdir(path) if p.startswith("part-")]
    assert parts
    nonempty = [
        p for p in parts if os.path.getsize(os.path.join(path, p)) > 0
    ]
    assert nonempty
    for p in nonempty:
        assert open(os.path.join(path, p)).readline().startswith("@prefix")
    # rdf:type compacts to the `a` keyword
    body = "".join(open(os.path.join(path, p)).read() for p in parts)
    assert " a ldto:Serie ." in body and "ldto:naam" in body
    back = read_turtle(spark, path)
    assert {tuple(r) for r in back.collect()} == {
        tuple(r) for r in expanded.collect()
    }
    # compaction undoes expansion exactly
    orig = {tuple(r) for r in triples.collect()}
    assert {tuple(r) for r in rdf.compact_triples(back).collect()} == orig
    # read_rdf dispatches on the .ttl extension
    assert read_rdf(spark, path).count() == back.count()


def test_nquads_parse(spark, tmp_path):
    nq = tmp_path / "data.nq"
    nq.write_text(
        '<urn:s1> <urn:p> "v" <urn:g1> .\n'
        '<urn:s2> <urn:p> <urn:o> .\n'
        '<urn:s3> <urn:p> "1984"^^<http://www.w3.org/2001/XMLSchema#gYear> <urn:g2> .\n'
    )
    rows = {r["s"]: r for r in read_nquads(spark, str(nq)).collect()}
    assert rows["urn:s1"]["g"] == "urn:g1" and rows["urn:s1"]["o_type"] == "literal"
    assert rows["urn:s2"]["g"] is None and rows["urn:s2"]["o_type"] == "uri"
    assert rows["urn:s3"]["o_datatype"].endswith("gYear")
    # read_rdf drops the graph column for the canonical schema
    assert "g" not in read_rdf(spark, str(nq)).columns


def test_triple_pattern_and_graph_union(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["oid", "v"])
    t1 = rdf.entity_to_triples(
        df, F.concat(F.lit("urn:"), F.col("oid").cast("string")),
        [rdf.PropertyMap("p:v", F.col("v"))],
    )
    u = rdf.graph_union(t1, t1)  # rdflib semantics: union dedups
    assert u.count() == t1.count()
    m = rdf.triple_pattern(u, s="urn:1", p="p:v")
    assert [r["o"] for r in m.collect()] == ["a"]


# -- manifest (S6/S7/J4/J5/K3) ----------------------------------------------


@pytest.fixture()
def payload_dir(tmp_path):
    d = tmp_path / "bestanden"
    d.mkdir()
    (d / "a.jpg").write_bytes(b"aaa")
    (d / "b.tar.gz").write_bytes(b"bbbb")
    sub = d / "sub"
    sub.mkdir()
    (sub / "c.txt").write_bytes(b"c")
    return str(tmp_path)


def test_manifest_scan_validate_sync(spark, payload_dir):
    m = manifest_from_directory(spark, payload_dir).cache()
    try:
        rows = {r["filename"]: r for r in m.collect()}
        assert set(rows) == {"a.jpg", "b.tar.gz", "sub/c.txt"}
        assert rows["a.jpg"]["md5hash"] == "47bce5c74f589f4867dbd57e9ca9f808"
        assert rows["b.tar.gz"]["file_extension"] == ".tar.gz"
        assert rows["sub/c.txt"]["file_size"] == 1

        # tamper one entry + drop another → reconcile buckets (J4)
        tampered = m.withColumn(
            "md5hash",
            F.when(F.col("filename") == "a.jpg", F.lit("deadbeef")).otherwise(
                F.col("md5hash")
            ),
        ).filter(F.col("filename") != "sub/c.txt")
        buckets = {
            r["filename"]: r["status"]
            for r in validate_manifest(tampered, m).collect()
        }
        assert buckets == {"a.jpg": "mismatch", "b.tar.gz": "ok", "sub/c.txt": "extra"}

        # J5: what must sync from fs into the tampered manifest's store
        todo = {r["filename"] for r in incremental_sync_plan(m, tampered).collect()}
        assert todo == {"a.jpg", "sub/c.txt"}

        # K3/S7 round-trip through the JSON object map
        js = manifest_to_json_map(m)
        back = manifest_from_json_map(spark, js)
        assert {r["filename"]: r["md5hash"] for r in back.collect()} == {
            k: v["md5hash"] for k, v in rows.items()
        }
    finally:
        m.unpersist()


# -- events (D6/S8/P6) ------------------------------------------------------


def test_event_builders_and_lock(spark):
    subjects = spark.createDataFrame([("urn:a",), ("urn:b",)], ["uri"])
    log = ev.build_events(subjects, "uri", "mem", actor="urn:actor", description="Metadata object created.")
    rows = sorted(log.collect(), key=lambda r: r["event_id"])
    assert [r["event_id"] for r in rows] == [1, 2]
    assert rows[0]["subjects"] == ["urn:a"] and rows[0]["event_type"] == "mem"
    # real PREMIS times: started when the builder ran, ended at execution
    assert all(r["started_at"] is not None and r["started_at"] <= r["ended_at"]
               for r in rows)
    assert not ev.is_locked(log)
    assert ev.max_event_id(log) == 2

    lock = ev.build_events(subjects.limit(1), "uri", "ine", actor="urn:actor", id_offset=2)
    full = log.unionByName(lock)
    assert ev.is_locked(full)
    assert ev.max_event_id(full) == 3
    with pytest.raises(ValueError):
        ev.build_events(subjects, "uri", "zzz", actor="x")
    # note_col rides along with its subject row
    noted = ev.build_events(
        subjects.withColumn("why", F.upper("uri")), "uri", "mem", actor="x", note_col="why"
    )
    assert sorted((r["event_id"], r["outcome_note"]) for r in noted.collect()) == [
        (1, "URN:A"), (2, "URN:B")
    ]


# -- multimodal plumbing ----------------------------------------------------


def test_multimodal_features(spark, sf_dir):
    from razulibs_spark.operators.multimodal import (
        attach_media_columns,
        decode_image,
        extract_features,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20)
    media = attach_media_columns(docs)
    feats = extract_features(media).collect()
    assert len(feats) == 20
    byid = {r["doc_id"]: r for r in feats}
    src = {r["doc_id"]: r["text"] for r in docs.collect()}
    import hashlib

    some = next(iter(src))
    assert byid[some]["n_bytes"] == len(src[some].encode())
    assert byid[some]["payload_md5"] == hashlib.md5(src[some].encode()).hexdigest()
    with pytest.raises(ValueError):
        decode_image(b"\xff\xd8")  # truncated JPEG -> clean error


# -- streaming vs batch consistency -----------------------------------------


def test_streaming_rollup_matches_batch(spark, sf_dir):
    from razulibs_spark.streaming.events_stream import (
        hourly_rollup_stream,
        run_available_now,
    )
    from razulibs_spark import queries as Q

    stream_out = run_available_now(hourly_rollup_stream(spark, sf_dir), spark)
    batch = Q.QUERIES["events_hourly_rollup"](spark, sf_dir)
    s = {
        (r["window_start"], r["event_type"]): r["n"] for r in stream_out.collect()
    }
    b = {(r["window_start"], r["event_type"]): r["n"] for r in batch.collect()}
    assert s == b


def test_streaming_sessionize_matches_batch(spark, sf_dir):
    """The stateful applyInPandasWithState sessionizer emits exactly
    the batch plan's closed sessions. A session closes two ways: a
    same-user event overruns the gap (mid-stream), or the event-time
    timer fires once the watermark passes session_end + gap — so each
    user's final session emits iff it is at least one gap older than
    the stream's max event time; otherwise it stays open in state."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window
    from razulibs_spark.streaming.sessionize import (
        GAP_US,
        run_sessionize_available_now,
    )
    from razulibs_spark import queries as Q

    streamed = run_sessionize_available_now(spark, sf_dir)
    batch = Q.QUERIES["events_sessionize"](spark, sf_dir)
    max_us = Q.T(spark, sf_dir, "events").agg(
        F.max(F.unix_micros(F.col("ts").cast("timestamp")))).collect()[0][0]
    last = Window.partitionBy("user_id")
    closed = (
        batch.withColumn("_max_seq", F.max("session_seq").over(last))
        .filter(
            (F.col("session_seq") < F.col("_max_seq"))
            | (F.unix_micros(F.col("session_end").cast("timestamp")) + GAP_US
               < max_us)
        )
    )
    key = lambda r: (r["user_id"], r["session_start"], r["session_end"],
                     r["n_events"], round(r["sum_value"], 4))
    s = sorted(key(r) for r in streamed.collect())
    b = sorted(key(r) for r in closed.collect())
    assert len(s) > 0 and s == b


def test_rd_to_wgs84(spark):
    """F10 golden points from the Schreutelkamp & Strang van Hees
    paper: Amersfoort OLV tower (the RD origin) and Amsterdam
    Westertoren, within the published ±1 m (~1e-5 deg) bound."""
    from razulibs_spark.functions.scalars import rd_to_wgs84

    df = spark.createDataFrame(
        [(155000.0, 463000.0, 52.15517440, 5.38720621),
         (120700.723, 487525.501, 52.37453253, 4.88352559)],
        "x double, y double, lat_exp double, lon_exp double",
    )
    lat, lon = rd_to_wgs84(F.col("x"), F.col("y"))
    rows = df.select(lat.alias("lat"), lon.alias("lon"), "lat_exp", "lon_exp").collect()
    for r in rows:
        assert abs(r["lat"] - r["lat_exp"]) < 2e-5
        assert abs(r["lon"] - r["lon_exp"]) < 2e-5


def test_sync_to_local_store(spark, tmp_path):
    """K6/K7: the J5 plan drives an executor-side copy; a second sync
    against the updated target copies nothing."""
    from razulibs_spark.operators.manifest import (
        incremental_sync_plan,
        sync_to_local_store,
    )

    src = tmp_path / "sip"
    dst = tmp_path / "edepot"
    (src / "bestanden").mkdir(parents=True)
    for i in range(4):
        (src / "bestanden" / f"f{i}.txt").write_text(f"payload-{i}")
    mk = lambda rows: spark.createDataFrame(rows, "filename string, md5hash string")
    source = mk([(f"bestanden/f{i}.txt", f"h{i}") for i in range(4)])
    target = mk([("bestanden/f0.txt", "h0"), ("bestanden/f1.txt", "STALE")])

    plan = incremental_sync_plan(source, target)
    assert sync_to_local_store(plan, str(src), str(dst)) == 3  # f1 changed, f2/f3 new
    assert sorted(p.name for p in (dst / "bestanden").iterdir()) == [
        "f1.txt", "f2.txt", "f3.txt"]
    assert sync_to_local_store(incremental_sync_plan(source, source),
                               str(src), str(dst)) == 0


def test_extract_tool_signature():
    from razulibs_spark.operators.manifest import extract_tool_signature

    assert extract_tool_signature("droid", "DROID 6.5.2\nSig file v109") == "6.5.2"
    assert extract_tool_signature("clamscan", "ClamAV 0.103.8/27072") == "0.103.8"
    assert extract_tool_signature("droid", "no digits here") is None


def test_sample_frames(spark, sf_dir):
    """Multimodal frame-sample fan-out: deterministic frame count and
    hashes from the payload bytes."""
    from razulibs_spark.operators.multimodal import attach_media_columns, sample_frames
    from razulibs_spark import queries as Q

    media = attach_media_columns(
        Q.T(spark, sf_dir, "documents").limit(50))
    frames = sample_frames(media, every=2)
    rows = frames.collect()
    assert len(rows) > 0
    import hashlib
    payloads = {r["doc_id"]: bytes(r["payload"]) for r in media.collect()}
    for r in rows[:20]:
        p = payloads[r["doc_id"]]
        assert r["frame_idx"] % 2 == 0
        want = hashlib.md5(p[r["frame_idx"] * 1024:(r["frame_idx"] + 1) * 1024]).hexdigest()
        assert r["frame_md5"] == want


def test_minhash_lsh_ml_recall(spark):
    """The spark.ml MinHashLSH path finds every pair the exact n-gram
    Jaccard finds (HashingTF collisions only raise similarity; OR-
    amplified candidate generation with fixed seed is deterministic),
    and its hashed-space jaccard never under-reports the exact one."""
    from razulibs_spark.operators.dedup import (
        jaccard_pairs,
        minhash_lsh_ml,
        word_shingles,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    exact = {
        (r["d1"], r["d2"]): r["jaccard"]
        for r in jaccard_pairs(word_shingles(docs), 0.2).collect()
    }
    ml = {
        (r["d1"], r["d2"]): r["jaccard"]
        for r in minhash_lsh_ml(docs, threshold=0.2).collect()
    }
    assert exact, "fixture should contain near-dup pairs"
    missed = set(exact) - set(ml)
    assert not missed
    for pair, j in exact.items():
        assert ml[pair] >= j - 1e-6


def test_streaming_dedup_matches_batch(spark, sf_dir):
    """dropDuplicatesWithinWatermark on the static events source must
    equal a batch dedup on event_id (no late data in one file)."""
    from razulibs_spark import queries as Q

    streamed = Q.QUERIES["streaming_dedup"](spark, sf_dir)
    batch = Q.T(spark, sf_dir, "events").dropDuplicates(["event_id"])
    assert streamed.count() == batch.count()
    assert streamed.select("event_id").distinct().count() == streamed.count()


def test_corpus_prep_composition(spark, sf_dir):
    """corpus_prep == quality+langid filters then keep-first dedup,
    cross-checked against the standalone operators it composes."""
    from razulibs_spark import queries as Q
    from razulibs_spark.operators import text as T_

    docs = Q.T(spark, sf_dir, "documents")
    out = T_.corpus_prep(docs)
    q = T_.quality_scores(docs).select("doc_id", "quality_score")
    l = T_.language_id(docs).filter("is_match").select("doc_id")
    expected_pool = q.filter("quality_score >= 0.2").join(l, "doc_id")
    got_ids = {r["doc_id"] for r in out.select("doc_id").collect()}
    pool_ids = {r["doc_id"] for r in expected_pool.collect()}
    assert got_ids <= pool_ids
    # every surviving hash appears exactly once and is the min doc_id
    from pyspark.sql import functions as F
    dup = out.groupBy("content_hash").count().filter("count > 1").count()
    assert dup == 0


def test_multimodal_resize_and_chunk(spark, sf_dir):
    """Resize touches only image rows; chunk fan-out covers every
    audio byte window exactly once."""
    from razulibs_spark.operators.multimodal import (
        attach_media_columns,
        chunk_audio,
        resize_images,
    )
    from razulibs_spark import queries as Q
    from pyspark.sql import functions as F

    media = attach_media_columns(Q.T(spark, sf_dir, "documents"))
    resized = resize_images(media)
    assert resized.filter(~F.col("media_format").startswith("image/")).count() == 0
    bad = resized.filter(
        (F.col("out_width") > 256) | (F.col("out_height") > 256)
        | ((F.col("out_width") < 256) & (F.col("out_height") < 256))
    )
    assert bad.count() == 0  # aspect-fit: long edge pinned to the box

    chunks = chunk_audio(media)
    n_audio = media.filter(F.col("media_format").startswith("audio/")).count()
    per_doc = chunks.groupBy("doc_id").agg(
        F.count("*").alias("n"), F.max("chunk_idx").alias("mx"))
    assert per_doc.count() == n_audio
    assert per_doc.filter(F.col("n") != F.col("mx") + 1).count() == 0


def test_streaming_interval_join_matches_batch(spark, sf_dir):
    """The watermarked stream-stream interval join must emit exactly
    the batch attribution pairs (static source, no late data)."""
    from razulibs_spark import queries as Q

    streamed = Q.QUERIES["streaming_interval_join"](spark, sf_dir)
    batch = Q.QUERIES["events_view_purchase_attribution"](spark, sf_dir)
    s = {(r["view_id"], r["p_id"]) for r in streamed.collect()}
    b = {(r["view_id"], r["p_id"]) for r in batch.collect()}
    assert s == b and len(s) > 0


def test_streaming_enrich_matches_batch(spark, sf_dir):
    from razulibs_spark import queries as Q

    streamed = Q.QUERIES["streaming_enrich"](spark, sf_dir)
    batch = Q.QUERIES["events_enriched_nation"](spark, sf_dir)
    s = {(r["event_id"], r["n_name"]) for r in streamed.collect()}
    b = {(r["event_id"], r["n_name"]) for r in batch.collect()}
    assert s == b and len(s) > 0


def test_bgp_match_binds_and_filters(spark):
    from razulibs_spark.operators.rdf import bgp_match

    triples = spark.createDataFrame(
        [
            ("s1", "rdf:type", "T"),
            ("s1", "name", "alpha"),
            ("s1", "size", "10"),
            ("s2", "rdf:type", "T"),
            ("s2", "name", "beta"),
            ("s3", "name", "gamma"),  # no type → excluded
        ],
        "s string, p string, o string",
    )
    out = bgp_match(
        triples,
        [("rdf:type", "T", None), ("name", None, "name")],
    )
    rows = {(r["s"], r["name"]) for r in out.collect()}
    assert rows == {("s1", "alpha"), ("s2", "beta")}
    # bound-object pattern filters
    out2 = bgp_match(
        triples,
        [("name", "alpha", None), ("size", None, "size")],
    )
    assert [(r["s"], r["size"]) for r in out2.collect()] == [("s1", "10")]


def test_progress_observation_counts(spark, payload_dir):
    """O8: the reference's per-file verification tallies
    (razu/manifest.py:195-221) as Spark observation metrics — counted
    on the same pass as the consuming action, no extra scan."""
    from razulibs_spark.operators.progress import (
        observe_counts,
        validate_manifest_with_progress,
    )

    m = manifest_from_directory(spark, payload_dir).cache()
    try:
        tampered = m.withColumn(
            "md5hash",
            F.when(F.col("filename") == "a.jpg", F.lit("deadbeef")).otherwise(
                F.col("md5hash")
            ),
        ).filter(F.col("filename") != "sub/c.txt")
        df, obs = validate_manifest_with_progress(tampered, m)
        assert df.count() == 3
        got = obs.get
        assert got == {
            "n_rows": 3,
            "missing_files": 0,
            "checksum_mismatch": 1,
            "extra_files": 1,
            "ok": 1,
        }

        df2, obs2 = observe_counts(
            m, "scan", big=F.col("file_size") > 1, jpg=F.col("filename").endswith(".jpg")
        )
        df2.write.format("noop").mode("overwrite").save()
        assert obs2.get == {"n_rows": 3, "big": 2, "jpg": 1}
    finally:
        m.unpersist()


def test_streaming_idempotent_upsert_sink(spark, sf_dir, tmp_path):
    """foreachBatch idempotent upsert: draining the same source twice
    (a replay) leaves the target with exactly one row per event_id —
    the exactly-once contract a restart must preserve."""
    from razulibs_spark.streaming.idempotent_sink import stream_upsert_events

    target = str(tmp_path / "events_target")
    q = stream_upsert_events(spark, sf_dir, target)
    q.awaitTermination()
    first = spark.read.parquet(target)
    n_src = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert first.count() == n_src
    # replay the whole source (fresh stream, same data): no duplicates
    q2 = stream_upsert_events(spark, sf_dir, target)
    q2.awaitTermination()
    again = spark.read.parquet(target)
    assert again.count() == n_src
    assert again.select("event_id").distinct().count() == n_src
    # value columns survive the rewrite intact
    s = spark.read.parquet(f"{sf_dir}/events.parquet").agg(
        F.sum("value")).collect()[0][0]
    t = again.agg(F.sum("value")).collect()[0][0]
    assert abs(s - t) < 1e-6


def test_streaming_session_window_matches_batch(spark, sf_dir):
    """The built-in F.session_window sessionizer must produce exactly
    the batch lag+running-sum sessions (same 1-day gap): same
    (user, start, end, count, fixed-point sum) set."""
    from razulibs_spark.streaming.sessionize import (
        run_session_window_available_now,
    )
    from razulibs_spark import queries as Q

    streamed = run_session_window_available_now(spark, sf_dir)
    batch = Q.QUERIES["events_sessionize"](spark, sf_dir)
    key = lambda r: (r["user_id"], r["session_start"], r["session_end"],
                     r["n_events"], round(r["sum_value"], 4))
    s = sorted(key(r) for r in streamed.collect())
    b = sorted(key(r) for r in batch.collect())
    assert len(s) > 0 and s == b


def test_compact_parquet_filecount(spark, sf_dir, tmp_path):
    """Compaction rewrites a many-file table into ~target-sized files."""
    from razulibs_spark.operators.maintenance import compact_parquet

    src = str(tmp_path / "fragmented")
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").repartition(64).write.parquet(src)
    import os
    n_before = sum(f.endswith(".parquet") for f in os.listdir(src))
    assert n_before == 64
    out = str(tmp_path / "compacted")
    n = compact_parquet(spark, src, out, target_file_bytes=10 * 1024 * 1024)
    n_after = sum(f.endswith(".parquet") for f in os.listdir(out))
    assert n_after == n and n_after < 8
    assert spark.read.parquet(out).count() == spark.read.parquet(src).count()


def test_z_order_key_locality(spark):
    """The Morton key interleaves bits (golden values) and preserves
    2-D locality: the max z-range of any 2x2 cell block is far below
    random pairings' range."""
    from razulibs_spark.operators.layout import zorder_key

    df = spark.createDataFrame(
        [(x, y) for x in range(8) for y in range(8)], "x long, y long"
    )
    rows = {(r["x"], r["y"]): r["z"] for r in df.select(
        "x", "y", zorder_key(F.col("x"), F.col("y"), bits=3).alias("z")
    ).collect()}
    # golden: z(1,0)=1, z(0,1)=2, z(1,1)=3, z(2,2)=12, z(7,7)=63
    assert rows[(1, 0)] == 1 and rows[(0, 1)] == 2 and rows[(1, 1)] == 3
    assert rows[(2, 2)] == 12 and rows[(7, 7)] == 63
    # bijective over the 8x8 grid
    assert len(set(rows.values())) == 64


def test_streaming_left_outer_interval_join_matches_batch(spark, sf_dir):
    """Left-outer stream-stream join: inner matches identical to the
    batch join; null-extended rows appear exactly for unmatched views
    old enough that the final watermark proved no match can arrive
    (view_ts + 1h join window + 2h watermark <= max event time)."""
    from razulibs_spark.streaming.dedup_stream import run_append_available_now
    from razulibs_spark.streaming.interval_join import (
        view_purchase_left_outer_stream,
    )

    streamed = run_append_available_now(
        view_purchase_left_outer_stream(spark, sf_dir), spark
    ).collect()
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), F.col("user_id").alias("view_user"),
        F.col("ts").alias("view_ts"))
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"))
    inner = views.join(
        purchases,
        (F.col("view_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("view_ts"))
        & (F.col("p_ts") < F.col("view_ts") + F.expr("INTERVAL 1 HOUR")),
    )
    got_matched = sorted((r["view_id"], r["p_id"]) for r in streamed
                         if r["p_id"] is not None)
    want_matched = sorted((r["view_id"], r["p_id"]) for r in inner.collect())
    assert got_matched == want_matched
    # null rows: unmatched views old enough to be provably closed.
    # The watermark base is the MIN of the two sides' max event times:
    # each side is type-filtered BEFORE withWatermark and Spark's
    # multipleWatermarkPolicy=min takes the smaller of the two.
    max_view = views.agg(F.max("view_ts")).collect()[0][0]
    max_purch = purchases.agg(F.max("p_ts")).collect()[0][0]
    import datetime
    horizon = min(max_view, max_purch) - datetime.timedelta(hours=3)
    matched_ids = {v for v, _ in want_matched}
    closed_unmatched = {
        r["view_id"] for r in views.collect()
        if r["view_id"] not in matched_ids and r["view_ts"] <= horizon
    }
    got_nulls = {r["view_id"] for r in streamed if r["p_id"] is None}
    # every provably-closed unmatched view must have emitted a null row
    assert closed_unmatched <= got_nulls
    # and no null row for a view that actually has a match
    assert not (got_nulls & matched_ids)


def test_ntile_scalable_matches_native_ntile(spark):
    """ntile_scalable == ntile().over(global window), bucket for
    bucket, across bucket counts that divide and don't divide n."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from razulibs_spark.operators.analytics import ntile_scalable

    df = spark.range(97).select(
        F.col("id"),
        ((F.col("id") * 37) % 13).alias("metric"),
    )
    for b in (2, 4, 5, 10):
        got = {
            r["id"]: r["nt"]
            for r in ntile_scalable(
                df, [F.col("metric"), F.col("id")], b, "nt"
            ).collect()
        }
        want = {
            r["id"]: r["nt"]
            for r in df.withColumn(
                "nt",
                F.ntile(b).over(Window.orderBy("metric", "id")),
            ).collect()
        }
        assert got == want, b


def test_media_decoders_golden_roundtrip():
    """Stdlib decoders recover exact header fields and pixel/sample
    stats from bytes built by the matching encoders."""
    from razulibs_spark.operators.multimodal import (
        decode_bmp,
        decode_ppm,
        decode_wav,
        encode_bmp,
        encode_ppm,
        encode_wav,
    )

    px = {(0, 0): (10, 20, 30), (1, 0): (40, 50, 60),
          (0, 1): (70, 80, 90), (1, 1): (100, 110, 120)}
    bmp = decode_bmp(encode_bmp(2, 2, lambda x, y: px[(x, y)]))
    assert bmp == {"width": 2, "height": 2,
                   "mean_r": 55.0, "mean_g": 65.0, "mean_b": 75.0}
    ppm = decode_ppm(encode_ppm(2, 2, lambda x, y: px[(x, y)]))
    assert ppm == {"width": 2, "height": 2,
                   "mean_r": 55.0, "mean_g": 65.0, "mean_b": 75.0}
    wav = decode_wav(encode_wav([0, 300, -300, 400], 16000))
    assert wav["sample_rate"] == 16000 and wav["n_channels"] == 1
    assert wav["n_samples"] == 4 and wav["peak"] == 400.0
    assert wav["rms"] == (sum(v * v for v in [0, 300, -300, 400]) / 4) ** 0.5
    # BMP row padding: a 3-wide row (9 bytes) pads to 12 — decoder must
    # skip the pad bytes.
    bmp3 = decode_bmp(encode_bmp(3, 1, lambda x, y: (x, 2 * x, 3 * x)))
    assert bmp3["mean_r"] == 1.0 and bmp3["mean_b"] == 3.0
    # PNG: zlib inflate + unfilter; the encoder cycles all 5 filter
    # types over scanlines, so a 6-row image proves every branch.
    from razulibs_spark.operators.multimodal import decode_png, encode_png

    png = decode_png(encode_png(2, 6, lambda x, y: px[(x, y % 2)]))
    assert png == {"width": 2, "height": 6,
                   "mean_r": 55.0, "mean_g": 65.0, "mean_b": 75.0}


def test_png_decoder_rejects_corruption_and_unsupported():
    import zlib

    import pytest as _pytest

    from razulibs_spark.operators.multimodal import decode_png, encode_png

    good = encode_png(3, 3, lambda x, y: (x, y, x + y))
    # Flip a pixel byte inside IDAT: CRC check must catch it.
    bad = bytearray(good)
    bad[len(good) - 20] ^= 0xFF
    with _pytest.raises(ValueError):
        decode_png(bytes(bad))
    # Adam7 interlace now decodes — exact same stats as the
    # progressive-scan-free encoding, and the flag byte is real.
    inter = encode_png(5, 7, lambda x, y: (x * 3, y * 5, x + y),
                       interlace=True)
    plain = encode_png(5, 7, lambda x, y: (x * 3, y * 5, x + y))
    assert inter != plain
    assert decode_png(inter) == decode_png(plain)
    # An out-of-spec interlace method still rejects honestly.
    ihdr = (3).to_bytes(4, "big") * 2 + bytes((8, 2, 0, 0, 2))
    chunk = (
        len(ihdr).to_bytes(4, "big") + b"IHDR" + ihdr
        + (zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF).to_bytes(4, "big")
    )
    with _pytest.raises(ValueError, match="interlace"):
        decode_png(b"\x89PNG\r\n\x1a\n" + chunk)


def test_jpeg_codec_roundtrips():
    """Baseline JPEG codec (operators/jpeg.py): flat 8×8 grayscale
    tiles are BIT-exact through the DCT roundtrip; arbitrary images
    decode back within the coefficient-rounding bound; color works at
    4:4:4 and 4:2:0; unsupported/corrupt streams raise cleanly."""
    import numpy as np
    import pytest as _pytest

    from razulibs_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_flat_tiles,
    )

    # Flat tiles: exact means (DC-only blocks, all-ones quant).
    payload = encode_jpeg_flat_tiles(
        24, 16, lambda tx, ty: (35 + 11 * tx + 23 * ty) % 256
    )
    tiles = [(35 + 11 * tx + 23 * ty) % 256 for ty in range(2)
             for tx in range(3)]
    out = decode_jpeg(payload)
    assert out["width"] == 24 and out["height"] == 16
    assert out["mean_r"] == out["mean_g"] == out["mean_b"]
    assert out["mean_r"] == sum(tiles) / len(tiles)

    # Arbitrary grayscale content, non-multiple-of-8 dims: the only
    # loss is coefficient rounding, so means stay within a fraction
    # of a gray level.
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(21, 13), dtype=np.uint8)
    g = decode_jpeg(encode_jpeg(img))
    assert (g["width"], g["height"]) == (13, 21)
    assert abs(g["mean_r"] - img.mean()) < 0.5

    # Color, both subsampling modes (4:2:0 exercises the 2×2 MCU
    # interleave + chroma upsample path).
    imgc = rng.integers(0, 256, size=(17, 19, 3), dtype=np.uint8)
    for sub, tol in (("4:4:4", 1.0), ("4:2:0", 2.0)):
        c = decode_jpeg(encode_jpeg(imgc, subsampling=sub))
        assert (c["width"], c["height"]) == (19, 17)
        for i, ch in enumerate("rgb"):
            assert abs(c[f"mean_{ch}"] - imgc[:, :, i].mean()) < tol

    # Restart-marker handling: splice a DRI segment is out of scope
    # for the encoder, but stray RST / truncation must error cleanly.
    with _pytest.raises(ValueError, match="SOF0"):
        decode_jpeg(b"\xff\xd8\xff\xd9")
    with _pytest.raises(ValueError):
        decode_jpeg(b"\xff\xd8\xff\xe0" + b"1234")
    with _pytest.raises(ValueError):
        decode_jpeg(bytes(payload[: len(payload) // 2]))
    # A baseline stream relabeled SOF2 is NOT valid progressive (its
    # single scan spans Ss=0..Se=63, illegal in Annex G) → clean error.
    prog = bytearray(payload)
    sof = prog.find(b"\xff\xc0")
    prog[sof + 1] = 0xC2
    with _pytest.raises(ValueError, match="progressive"):
        decode_jpeg(bytes(prog))
    # A SOF10 label on a sequential-shaped scan (Ss=0, Se=63) fails
    # closed under the progressive scan rules (SOF10 itself is
    # SUPPORTED since r12 — see test_video.py).
    arith = bytearray(payload)
    arith[sof + 1] = 0xCA
    with _pytest.raises(ValueError, match="DC scan must have Se=0"):
        decode_jpeg(bytes(arith))


def test_jpeg_progressive_matches_baseline_decode():
    """Progressive (SOF2) decode: the full scan chain — interleaved
    DC first, DC refinement bit plane, per-component spectral AC
    bands with successive approximation and EOB runs — reconstructs
    the exact coefficients, so decode stats are BIT-identical to the
    baseline encoding of the same image."""
    import numpy as np

    from razulibs_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    rng = np.random.default_rng(11)
    cases = [
        (rng.integers(0, 256, (21, 13), np.uint8), "4:4:4"),     # gray
        (rng.integers(0, 256, (17, 19, 3), np.uint8), "4:4:4"),
        (rng.integers(0, 256, (30, 28, 3), np.uint8), "4:2:0"),
        (np.full((64, 96), 200, np.uint8), "4:4:4"),             # max EOB runs
        (((np.add.outer(np.arange(40), np.arange(40)) % 2) * 255)
         .astype(np.uint8), "4:4:4"),                            # high-freq tail
    ]
    for img, sub in cases:
        base = decode_jpeg(encode_jpeg(img, subsampling=sub))
        for split in (1, 5, 62):
            prog = decode_jpeg(
                encode_jpeg_progressive(img, subsampling=sub, ac_split=split)
            )
            assert prog == base, (img.shape, sub, split)
    # the emitted frame really is SOF2 with multiple scans
    payload = encode_jpeg_progressive(cases[0][0])
    assert b"\xff\xc2" in payload
    assert payload.count(b"\xff\xda") == 6  # DC first+refine, 2 bands × 2


def test_media_decoders_reject_garbage():
    import pytest as _pytest

    from razulibs_spark.operators.multimodal import (
        decode_bmp,
        decode_png,
        decode_ppm,
        decode_wav,
    )

    for fn in (decode_bmp, decode_png, decode_ppm, decode_wav):
        with _pytest.raises(ValueError):
            fn(b"\x89PNG\r\n\x1a\nnot really media")


def test_multimodal_decode_pipeline(spark, sf_dir):
    """End-to-end Arrow decode stage: every synthesized
    BMP/PPM/WAV/PNG/JPEG row decodes; the deterministic poison slots
    are reported undecodable with the pinned reason."""
    from pyspark.sql import functions as F

    from razulibs_spark import tables
    from razulibs_spark.operators.multimodal import (
        decode_media,
        synthesize_decodable_media,
    )

    docs = tables.load(spark, sf_dir, "documents")
    out = decode_media(synthesize_decodable_media(docs))
    agg = {
        r["media_format"]: r
        for r in out.groupBy("media_format")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("decoded").cast("int")).alias("n_decoded"),
        )
        .collect()
    }
    assert agg["image/bmp"]["n"] == agg["image/bmp"]["n_decoded"] > 0
    assert agg["image/x-portable-pixmap"]["n"] == agg[
        "image/x-portable-pixmap"
    ]["n_decoded"] > 0
    assert agg["audio/wav"]["n"] == agg["audio/wav"]["n_decoded"] > 0
    assert agg["image/png"]["n"] == agg["image/png"]["n_decoded"] > 0
    # JPEG: all rows decode except the deterministic poison slots
    # (doc_id % 8 == 7 and (doc_id // 8) % 4 == 3).
    ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    n_poison = sum(1 for d in ids if d % 8 == 7 and (d // 8) % 4 == 3)
    assert agg["image/jpeg"]["n_decoded"] == agg["image/jpeg"]["n"] - n_poison
    notes = {
        r["note"]
        for r in out.filter(~F.col("decoded")).select("note").collect()
    }
    assert notes == {"decode failed: no SOF0 frame header"}


def test_ntriples_roundtrip_preserves_sep_byte_literal(spark, tmp_path):
    """A literal containing a raw \\x01 byte (the internal pack
    separator) must round-trip exactly via the per-group fallback."""
    from razulibs_spark.sources.rdf_io import read_ntriples, write_ntriples

    df = spark.createDataFrame(
        [("urn:s1", "urn:p", "a\x01b", "literal", None, None)],
        "s string, p string, o string, o_type string, "
        "o_datatype string, o_lang string",
    )
    path = str(tmp_path / "nt_sep")
    write_ntriples(df, path)
    out = read_ntriples(spark, path).collect()
    assert len(out) == 1
    assert out[0]["o"] == "a\x01b" and out[0]["o_type"] == "literal"


def test_ppm_rejects_ambiguous_separator():
    import pytest as _pytest

    from razulibs_spark.operators.multimodal import decode_ppm, encode_ppm

    good = encode_ppm(1, 1, lambda x, y: (1, 2, 3))
    # Replace the single \n separator after maxval with \r\n.
    crlf = good.replace(b"255\n", b"255\r\n")
    with _pytest.raises(ValueError, match="CRLF"):
        decode_ppm(crlf)
    # Missing whitespace entirely.
    broken = good.replace(b"255\n", b"255")
    with _pytest.raises(ValueError):
        decode_ppm(broken)


def test_pixels_rgb_ppm_shares_decode_ppm_validation():
    """_pixels_rgb (the ahash path) and decode_ppm accept/reject the
    same PPM inputs: both decode 16-bit (2-byte big-endian) rasters,
    both reject out-of-spec maxval, and both tolerate comments +
    general whitespace in the header."""
    import numpy as np
    import pytest as _pytest

    from razulibs_spark.operators.multimodal import (
        _pixels_rgb,
        decode_ppm,
        encode_ppm,
    )

    good = encode_ppm(2, 2, lambda x, y: (x * 10, y * 10, 99))
    rgb = _pixels_rgb(good, "image/x-portable-pixmap")
    assert rgb.shape == (2, 2, 3) and rgb[1, 0].tolist() == [0, 10, 99]
    # 16-bit raster decodes on BOTH paths (big-endian 2-byte samples)
    vals = [300, 65535, 0, 7, 40000, 1, 256, 255, 2, 999, 12345, 65000]
    deep = b"P6\n2 2\n65535\n" + b"".join(
        v.to_bytes(2, "big") for v in vals
    )
    st = decode_ppm(deep)
    assert st["mean_r"] == (300 + 7 + 256 + 999) / 4
    rgb16 = _pixels_rgb(deep, "image/x-portable-pixmap")
    assert rgb16.dtype == np.uint16 and rgb16[0, 1].tolist() == [7, 40000, 1]
    # out-of-spec maxval -> honest rejection on BOTH paths
    for bad in (b"P6\n2 2\n0\n", b"P6\n2 2\n65536\n"):
        for fn in (
            decode_ppm, lambda p: _pixels_rgb(p, "image/x-portable-pixmap")
        ):
            with _pytest.raises(ValueError):
                fn(bad + bytes(24))
    # comment + space-separated header parses on BOTH paths
    body = bytes(np.asarray(rgb, np.uint8))
    odd_header = b"P6 # c\n 2 2 255\n" + body
    assert decode_ppm(odd_header)["width"] == 2
    assert _pixels_rgb(odd_header, "image/x-portable-pixmap").shape == (2, 2, 3)


def test_jsonld_docs_carry_across_tiny_arrow_batches(spark):
    """The streaming doc builder must keep an entity's triples
    together even when Arrow batches split mid-entity: force 7-row
    batches over 60 entities x 5 triples and compare against the
    per-entity expectation."""
    import json as _json

    from pyspark.sql import functions as F

    from razulibs_spark.sources.jsonld import jsonld_docs

    rows = []
    for e in range(60):
        for p in range(5):
            rows.append(
                (f"https://x.test/e{e:03d}", f"urn:p{p}", f"v{e}:{p}",
                 "literal", None, None)
            )
    df = spark.createDataFrame(
        rows,
        "s string, p string, o string, o_type string, "
        "o_datatype string, o_lang string",
    )
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        got = {
            r["entity"]: _json.loads(r["jsonld"])
            for r in jsonld_docs(df).collect()
        }
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", prev
        )
    assert len(got) == 60
    for e in range(60):
        doc = got[f"e{e:03d}"]
        nodes = doc["@graph"]
        assert len(nodes) == 1
        node = nodes[0]
        assert node["@id"] == f"https://x.test/e{e:03d}"
        # All 5 predicates present with their values intact.
        for p in range(5):
            assert node[f"urn:p{p}"] == [{"@value": f"v{e}:{p}"}]


_LIT = "literal"


@pytest.mark.parametrize("doc, want", [
    pytest.param({"@id": "s", "p": [{"@id": "o"}]},
                 [("s", "p", "o", "uri", None, None)], id="no_graph"),
    pytest.param({"@graph": [{"@id": "s", "p": {"@id": "o"}}]},
                 [("s", "p", "o", "uri", None, None)], id="single_object"),
    pytest.param({"@id": "s", "p": "x"},
                 [("s", "p", "x", _LIT, None, None)], id="bare_scalar"),
    pytest.param({"@id": "s", "p": ["a", "b", "a"]},
                 [("s", "p", "a", _LIT, None, None), ("s", "p", "b", _LIT, None, None),
                  ("s", "p", "a", _LIT, None, None)], id="scalar_list"),
    pytest.param({"@id": "s", "p": [{"@id": "o"}, "x", 7, {"@value": "y"}]},
                 [("s", "p", "o", "uri", None, None), ("s", "p", "x", _LIT, None, None),
                  ("s", "p", "7", _LIT, None, None), ("s", "p", "y", _LIT, None, None)],
                 id="mixed_list"),
    pytest.param({"@id": "s", "n": [{"@value": 42}], "f": {"@value": 1.5},
                  "t": [{"@value": True}], "u": [{"@value": False}]},
                 [("s", "n", "42", _LIT, None, None), ("s", "f", "1.5", _LIT, None, None),
                  ("s", "t", "true", _LIT, None, None), ("s", "u", "false", _LIT, None, None)],
                 id="number_boolean_value"),
    pytest.param({"@context": {"xsd": "http://www.w3.org/2001/XMLSchema#"},
                  "@graph": [{"@id": "bnode:e1:d", "@type": "ignored",
                              "p": [{"@value": "hoi", "@language": "nl"},
                                    {"@value": "2020", "@type": "xsd:gYear"},
                                    {"@id": "bnode:e1:x"}]}]},
                 [("bnode:e1:d", "p", "hoi", _LIT, None, "nl"),
                  ("bnode:e1:d", "p", "2020", _LIT, "xsd:gYear", None),
                  ("bnode:e1:d", "p", "bnode:e1:x", "bnode", None, None)],
                 id="language_type_bnode"),
    pytest.param({"@id": "s", "p": "[1,2]", "q": [{"@value": '{"a": 1}'}]},
                 [("s", "p", "[1,2]", _LIT, None, None),
                  ("s", "q", '{"a": 1}', _LIT, None, None)], id="json_lookalike_string"),
])
def test_read_jsonld_contract(spark, tmp_path, doc, want):
    """S3 reader contract over hand-written flat JSON-LD: each document
    line yields exactly these triples, duplicates included."""
    import json as _json
    from collections import Counter

    from razulibs_spark.sources.jsonld import read_jsonld

    path = tmp_path / "doc.jsonld"
    path.write_text(_json.dumps(doc) + "\n\n", encoding="utf-8")
    got = read_jsonld(spark, str(path)).collect()
    assert Counter(map(tuple, got)) == Counter(want)


def test_read_jsonld_malformed_document_fails(spark, tmp_path):
    from razulibs_spark.sources.jsonld import read_jsonld

    path = tmp_path / "bad.jsonld"
    path.write_text('{"@id": "s", "p": \n', encoding="utf-8")
    with pytest.raises(Exception, match="MALFORMED"):
        read_jsonld(spark, str(path)).collect()


def test_per_entity_rewrite_is_atomic(spark, tmp_path):
    """A rewrite replaces an existing document through a dot-prefixed
    temporary file and leaves no temporary file behind. The old file is
    renamed over, never truncated: a hard link to it keeps its bytes."""
    from razulibs_spark.session import local_frame
    from razulibs_spark.sources.jsonld import write_jsonld_per_entity

    sip = tmp_path / "sip"
    sip.mkdir()
    old = '{"old": "and longer than the new one"}\n'
    (sip / "e1.meta.json").write_text(old)
    os.link(sip / "e1.meta.json", tmp_path / "old.json")
    docs = local_frame(spark, [("e1", '{"@id": "s1"}'), ("e2", '{"@id": "s2"}')],
                       "entity string, jsonld string")
    assert write_jsonld_per_entity(docs, str(sip)) == 2
    assert sorted(os.listdir(sip)) == ["e1.meta.json", "e2.meta.json"]
    assert (sip / "e1.meta.json").read_text() == '{"@id": "s1"}\n'
    assert (tmp_path / "old.json").read_text() == old


def test_ntriples_roundtrip_backslash_letter_adjacency(spark, tmp_path):
    """A raw backslash immediately before n/r/t/quote must survive the
    write->read cycle: decode protects escaped backslashes FIRST, so
    the \\n in the encoded form of 'C:\\new' is never read as a
    newline escape."""
    from razulibs_spark.sources.rdf_io import read_ntriples, write_ntriples

    cases = [
        "a\\nb", "C:\\temp\\new", "a\\\\nb", "end\\\\", "\\t\\r\\\"",
        # Raw NUL + backslash in one literal: the decode sentinel must
        # not swallow or rewrite the NUL (ADVICE r5 — NUL stuffing).
        "\x00\\n", "a\x00b\\t", "\x00N\\x", "\x00B\\\\", "just\x00nul",
    ]
    rows = [
        (f"urn:s{i}", "urn:p", c, "literal", None, None)
        for i, c in enumerate(cases)
    ]
    df = spark.createDataFrame(
        rows,
        "s string, p string, o string, o_type string, "
        "o_datatype string, o_lang string",
    )
    path = str(tmp_path / "nt_bs")
    write_ntriples(df, path)
    got = {r["s"]: r["o"] for r in read_ntriples(spark, path).collect()}
    for i, c in enumerate(cases):
        assert got[f"urn:s{i}"] == c, (c, got[f"urn:s{i}"])


def test_transitive_closure_forest_and_cycle_bound(spark):
    """Doubling closure: a 4-deep chain closes to all (node, ancestor,
    depth) pairs with exact depths; a cycle terminates (max_depth
    bounds the blow-up) instead of looping forever."""
    from razulibs_spark.operators.graph import transitive_closure

    chain = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")],
        "child string, parent string",
    )
    got = {
        (r["node"], r["ancestor"]): r["depth"]
        for r in transitive_closure(chain, max_depth=8).collect()
    }
    assert got == {
        ("a", "b"): 1, ("a", "c"): 2, ("a", "d"): 3, ("a", "e"): 4,
        ("b", "c"): 1, ("b", "d"): 2, ("b", "e"): 3,
        ("c", "d"): 1, ("c", "e"): 2, ("d", "e"): 1,
    }
    cyc = spark.createDataFrame(
        [("x", "y"), ("y", "x")], "child string, parent string"
    )
    rows = transitive_closure(cyc, max_depth=4).collect()
    # terminates; every path depth is bounded
    assert rows and all(r["depth"] <= 4 for r in rows)


def test_shape_report_planted_missing(spark):
    """shape_report flags exactly the planted omissions, ignores
    untyped subjects and types without a registered shape."""
    from razulibs_spark.operators.rdf import shape_report

    triples = spark.createDataFrame(
        [
            ("s1", "rdf:type", "ldto:Informatieobject"),
            ("s1", "ldto:naam", "one"),
            # s1 misses ldto:omvang
            ("s2", "rdf:type", "ldto:Informatieobject"),
            ("s2", "ldto:omvang", "2"),
            # s2 misses ldto:naam
            ("s3", "rdf:type", "other:Type"),  # no shape registered
            ("s4", "ldto:naam", "untyped"),    # no rdf:type at all
        ],
        "s string, p string, o string",
    )
    out = {
        (r["s"], r["missing_predicate"])
        for r in shape_report(
            triples, {"ldto:Informatieobject": ("ldto:naam", "ldto:omvang")}
        ).collect()
    }
    assert out == {("s1", "ldto:omvang"), ("s2", "ldto:naam")}


def test_jpeg_restart_markers_roundtrip():
    """DRI/RSTn path: a restart-segmented stream decodes identically
    to the unsegmented one (DC predictors reset per segment, bit
    reader re-aligns at each marker) — the decoder machinery real
    camera JPEGs exercise."""
    import numpy as np

    from razulibs_spark.operators.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(24, 40), dtype=np.uint8)
    base = decode_jpeg(encode_jpeg(img))
    for ri in (1, 3, 7):
        seg = decode_jpeg(encode_jpeg(img, restart_interval=ri))
        assert seg == base


def test_hashed_feature_ops_survive_empty_documents(spark):
    """Empty / whitespace-only documents must surface as
    n_features=0 rows (doc-spine left join), not kill the job with a
    negative-length bigram slice."""
    from razulibs_spark.operators import text as T_

    docs = spark.createDataFrame(
        [(1, "", "en", "s", 0), (2, "   ", "en", "s", 3),
         (3, "a b", "en", "s", 3)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    clf = {r["doc_id"]: r["n_features"]
           for r in T_.hash_classifier(docs).collect()}
    assert clf == {1: 0, 2: 0, 3: 3}  # 2 unigrams + 1 bigram
    dsir = {r["doc_id"]: r["n_features"]
            for r in T_.dsir_importance(docs).collect()}
    assert dsir == {1: 0, 2: 0, 3: 3}


# ---------------------------------------------------------------------------
# triangle_count (operators/graph.py)
# ---------------------------------------------------------------------------


def test_triangle_count_k4_with_noise(spark):
    """K4 holds exactly 4 triangles; duplicates, reverse edges, and
    self-loops must all canonicalize away first."""
    from razulibs_spark.operators.graph import triangle_count

    edges = [(1, 2), (2, 1), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
             (3, 3), (1, 2), (5, 6)]
    df = spark.createDataFrame(edges, "src long, dst long")
    row = triangle_count(df).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (6, 7, 4)


def test_triangle_count_matches_brute_force(spark):
    """Degree-ordered orientation must agree with the O(n^3) itertools
    count on a deterministic pseudo-random graph."""
    from itertools import combinations

    from razulibs_spark.operators.graph import triangle_count

    edges = sorted(
        {
            (min(a, b), max(a, b))
            for i in range(300)
            for a, b in [((i * 7919) % 40, (i * i * 104729 + i) % 40)]
            if a != b
        }
    )
    eset = set(edges)
    expect = sum(
        1
        for a, b, c in combinations(range(40), 3)
        if (a, b) in eset and (b, c) in eset and (a, c) in eset
    )
    df = spark.createDataFrame(edges, "src long, dst long")
    row = triangle_count(df).collect()[0]
    assert row.n_triangles == expect
    assert row.n_edges == len(edges)


def test_triangle_count_no_triangles(spark):
    """A tree and a 4-cycle hold zero triangles."""
    from razulibs_spark.operators.graph import triangle_count

    edges = [(1, 2), (1, 3), (1, 4), (10, 11), (11, 12), (12, 13), (13, 10)]
    df = spark.createDataFrame(edges, "src long, dst long")
    assert triangle_count(df).collect()[0].n_triangles == 0


# ---------------------------------------------------------------------------
# GIF codec (operators/gif.py)
# ---------------------------------------------------------------------------


def test_gif_roundtrip_exact_means():
    from razulibs_spark.operators.gif import decode_gif, encode_gif

    pal = [(i * 17 % 256, i * 5 % 256, (255 - i) % 256) for i in range(16)]
    w, h = 13, 7
    pix = [(x * y + 3) % 16 for y in range(h) for x in range(w)]
    st = decode_gif(encode_gif(w, h, pal, pix))
    assert (st["width"], st["height"]) == (w, h)
    for ch, k in (("mean_r", 0), ("mean_g", 1), ("mean_b", 2)):
        assert st[ch] == sum(pal[p][k] for p in pix) / len(pix)


def test_gif_lzw_kwkwk_and_dict_reset():
    """The KwKwK decoder case (run of identical symbols) and the
    4096-entry dictionary reset both roundtrip."""
    from razulibs_spark.operators.gif import _lzw_decode, _lzw_encode

    run = [1] * 50
    assert _lzw_decode(_lzw_encode(run, 2), 2, 50) == run
    big = [(i * 31 + (i * i) % 7) % 256 for i in range(30000)]
    assert _lzw_decode(_lzw_encode(big, 8), 8, 30000) == big


def test_gif_malformed_raises_value_error():
    import pytest as _pytest

    from razulibs_spark.operators.gif import decode_gif, encode_gif

    good = encode_gif(4, 4, [(0, 0, 0), (255, 255, 255)], [0, 1] * 8)
    cases = [
        b"NOTGIF",
        good[:10],                      # truncated header
        good[:-2],                      # missing terminator+trailer
        good[:6] + good[6:].replace(b"\x2c", b"\x7f", 1),  # unknown block
    ]
    for payload in cases:
        with _pytest.raises(ValueError):
            decode_gif(payload)


def test_gif_interlace_row_order_matches_spec():
    from razulibs_spark.operators.gif import _interlace_row_order

    # GIF spec 4-pass pattern, worked by hand for h=10:
    # pass1 (0,8,..): 0,8  pass2 (4,12,..): 4  pass3 (2,6,..): 2,6
    # pass4 (odd): 1,3,5,7,9
    assert _interlace_row_order(10) == [0, 8, 4, 2, 6, 1, 3, 5, 7, 9]
    assert _interlace_row_order(1) == [0]
    assert _interlace_row_order(5) == [0, 4, 2, 1, 3]
    for h in range(1, 40):
        assert sorted(_interlace_row_order(h)) == list(range(h))


def test_gif_interlaced_roundtrip_exact_means():
    """encode(interlace=True) sets the descriptor flag, stores rows in
    4-pass order, and decode de-interlaces back — stats identical to
    the progressive-scan-free encoding of the same image."""
    from razulibs_spark.operators.gif import decode_gif, encode_gif

    pal = [(i * 19 % 256, i * 3 % 256, (200 - i) % 256) for i in range(8)]
    w, h = 9, 11
    pix = [(x + 2 * y) % 8 for y in range(h) for x in range(w)]
    plain = encode_gif(w, h, pal, pix)
    inter = encode_gif(w, h, pal, pix, interlace=True)
    img_desc = inter.index(b"\x2c")
    assert inter[img_desc + 9] & 0x40
    assert not plain[img_desc + 9] & 0x40
    assert inter != plain  # rows really stored in a different order
    assert decode_gif(inter) == decode_gif(plain)


def test_gif_local_color_table_wins():
    """An image with a local color table decodes through it, not the
    global one."""
    from razulibs_spark.operators.gif import decode_gif, encode_gif

    base = encode_gif(2, 2, [(10, 20, 30), (40, 50, 60)], [0, 1, 1, 0])
    img_desc = base.index(b"\x2c")
    # rewrite: set LCT flag (size bits 0 -> 2 colors), splice a local
    # table with swapped colors right after the descriptor
    out = bytearray(base)
    out[img_desc + 9] |= 0x80
    lct = bytes((40, 50, 60, 10, 20, 30))
    out[img_desc + 10 : img_desc + 10] = lct
    st = decode_gif(bytes(out))
    assert st["mean_r"] == 25.0  # swapped palette: (40+10+10+40)/4


def test_audio_spectral_finds_planted_bin(spark):
    """FFT feature extraction: a sine planted exactly on bin k peaks
    at bin k with > half the non-DC energy; stereo mixes to mono
    before the transform; corrupt payloads report decoded=false."""
    import math

    from razulibs_spark.operators.multimodal import (
        audio_spectral,
        encode_wav,
    )

    n, a = 1024, 8000
    def sine(k):
        return [round(a * math.sin(2 * math.pi * k * i / n))
                for i in range(n)]

    rows = [
        (1, encode_wav(sine(9), 8000), "audio/wav"),
        (2, b"RIFF" + (4).to_bytes(4, "little") + b"WAVE", "audio/wav"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, payload binary, media_format string"
    )
    got = {r["doc_id"]: r for r in audio_spectral(df).collect()}
    r1 = got[1]
    assert r1["decoded"] and r1["peak_bin"] == 9 and r1["tonal"]
    assert r1["dominant_hz"] == 9 * 8000 / 1024
    assert not got[2]["decoded"]
    assert got[2]["note"] == "WAV missing fmt/data chunk"


def test_grid_spatial_join_replication_guard(spark):
    """VERDICT r8 item 7: a continent-sized box at a tiny cell must
    raise a NAMED error with the replication count, not melt the
    shuffle; compliant boxes still join exactly."""
    import pytest as _pytest

    from razulibs_spark.operators.spatial import grid_spatial_join

    pts = spark.createDataFrame(
        [(1, 5.0, 5.0), (2, 250.0, 250.0)], "pid long, x double, y double"
    )
    ok_boxes = spark.createDataFrame(
        [(10, 0.0, 0.0, 20.0, 20.0)],
        "bid long, xmin double, ymin double, xmax double, ymax double",
    )
    got = grid_spatial_join(pts, ok_boxes, cell=10.0).collect()
    assert [(r["pid"], r["bid"]) for r in got] == [(1, 10)]

    adversarial = spark.createDataFrame(
        [(99, 0.0, 0.0, 1e6, 1e6)],  # 100k x 100k cells at cell=10
        "bid long, xmin double, ymin double, xmax double, ymax double",
    )
    with _pytest.raises(Exception, match="replicates to 10000000000"):
        grid_spatial_join(pts, adversarial, cell=10.0).collect()
    # a caller who KNOWS can raise the ceiling
    wide = spark.createDataFrame(
        [(7, 0.0, 0.0, 300.0, 300.0)],  # 30x30 = 900 cells
        "bid long, xmin double, ymin double, xmax double, ymax double",
    )
    with _pytest.raises(Exception, match="replicates to 900"):
        grid_spatial_join(pts, wide, cell=10.0,
                          max_cells_per_box=100).collect()
    got = grid_spatial_join(pts, wide, cell=10.0,
                            max_cells_per_box=1000).collect()
    assert sorted((r["pid"], r["bid"]) for r in got) == [(1, 7), (2, 7)]


def test_idempotent_sink_replayed_epoch_converges(spark, tmp_path):
    """VERDICT r8 item 8: attack the exactly-once claim instead of
    asserting it. A restarted foreachBatch epoch re-runs upsert_batch
    with the SAME micro-batch — after (a) a clean double-apply and
    (b) a crash HALF-WAY through the bucket swap (one bucket rolled
    back to its pre-epoch state), the store must converge to exactly
    one row per key with the epoch's values."""
    import shutil

    from razulibs_spark.streaming.idempotent_sink import upsert_batch

    target = str(tmp_path / "store")

    def snapshot(tag):
        shutil.copytree(target, str(tmp_path / tag))

    def state():
        rows = spark.read.parquet(target).collect()
        got = sorted((r["event_id"], r["val"]) for r in rows)
        assert len({k for k, _ in got}) == len(got), "duplicate keys"
        return got

    b1 = spark.createDataFrame(
        [(i, "v1") for i in range(20)], "event_id long, val string"
    )
    b2 = spark.createDataFrame(
        [(i, "v2") for i in range(10, 30)], "event_id long, val string"
    )
    upsert_batch(b1, target, "event_id", n_buckets=4)
    snapshot("pre_epoch")  # the on-disk state before epoch 2
    upsert_batch(b2, target, "event_id", n_buckets=4)
    want = sorted(
        [(i, "v1") for i in range(10)] + [(i, "v2") for i in range(10, 30)]
    )
    assert state() == want

    # (a) clean replay of the whole epoch
    upsert_batch(b2, target, "event_id", n_buckets=4)
    assert state() == want

    # (b) crash mid-swap: bucket 2 never got renamed — roll just that
    # bucket back to its pre-epoch bytes, then replay the epoch.
    shutil.rmtree(target + "/_bucket=2")
    shutil.copytree(
        str(tmp_path / "pre_epoch/_bucket=2"), target + "/_bucket=2"
    )
    assert state() != want  # the simulated crash really lost the swap
    upsert_batch(b2, target, "event_id", n_buckets=4)
    assert state() == want
