"""Driver-side frames, dense ids and the one-explode csv2rdf plan.

- `session.local_frame` (Arrow-built frames) gives the same rows and
  schema as `createDataFrame` on the same Python list.
- `dense_ids` with its literal per-partition offsets matches the
  global-window reference, also with more partitions than rows.
- csv2rdf resolves every vocabulary cell with one join: a term with two
  URIs gives both objects, an unresolvable term gives none — the same
  objects as one left join per term column.
- No lifecycle module builds a frame from a Python list.
- The archive path's side effects run through `session.each_partition`,
  never `foreachPartition` or an accumulator.
- The sinks run their input once: writing a graph union to N-Triples
  runs its shuffle once, and the manifest JSON map is one collect. No
  source, sink or plan counts its input's partitions, which with AQE
  runs the input's shuffles before the write runs them again. Writing
  an event log is one job.
- Every module runs its per-row Python work through `session.map_rows`,
  the one `mapInPandas` batch loop; the few passes that do batch work
  are named, each with its reason.
- Every per-file Python scan lists its files through
  `session.map_files`; the two `binaryFile` sources that stay are
  named, each with its reason.
- One module opens a ZIP for reading: `sources/archives.py`.
"""

from __future__ import annotations

import ast
import glob
import json
import os
import uuid
from datetime import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from razulibs_spark.operators.ids import dense_ids, dense_ids_global_window
from razulibs_spark.operators.manifest import (
    MANIFEST_SCHEMA,
    manifest_from_json_map,
    manifest_to_json_map,
)
from razulibs_spark.operators.rdf import TRIPLE_SCHEMA, graph_union
from razulibs_spark.plans.csv2rdf import csv2rdf_triples
from razulibs_spark.session import local_frame
from razulibs_spark.sources.rdf_io import read_ntriples, write_ntriples

LISTING = "key string, size bigint, etag string"
MAP_SCHEMA = StructType(
    [f for f in MANIFEST_SCHEMA if f.name not in ("md5date", "last_modified")]
)


@pytest.mark.parametrize(
    "rows, schema",
    [
        ([("a/b.jpg", 12, "12"), ("c.jpg", None, "0")], LISTING),
        ([], LISTING),
        ([("sip",)], "uri string"),
        ([], "uri string"),
        ([{"filename": "x.meta.json", "md5hash": "ab", "file_size": None},
          {"filename": "y.meta.json", "file_size": 7}], MAP_SCHEMA),
        ([], MAP_SCHEMA),
    ],
)
def test_local_frame_matches_create_dataframe(spark, rows, schema):
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_manifest_from_json_map_keeps_nulls(spark):
    text = '{"f.jpg": {"md5hash": "aa", "file_size": 3}, "g.jpg": {}}'
    rows = {r["filename"]: r for r in manifest_from_json_map(spark, text).collect()}
    assert rows["f.jpg"]["file_size"] == 3 and rows["f.jpg"]["md5hash"] == "aa"
    assert rows["g.jpg"]["file_size"] is None and rows["g.jpg"]["md5hash"] is None


@pytest.mark.parametrize("n_parts, start", [(16, 5), (3, 0), (1, -2)])
def test_dense_ids_match_global_window(spark, n_parts, start):
    df = spark.range(7).select(
        "id", (F.col("id") * 3 % 5).alias("k"))  # repeated keys, id breaks ties
    got = dense_ids(df, ["k", "id"], "n", start=start, n_parts=n_parts)
    want = dense_ids_global_window(df, ["k", "id"], "n", start=start)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert dense_ids(df.limit(0), ["k", "id"], "n", start=start).count() == 0


# --- jobs per sink ------------------------------------------------------------

def _jobs(spark, action) -> int:
    """The number of Spark jobs ``action()`` runs, counted under a job
    group of its own."""
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_write_ntriples_runs_a_graph_union_once(spark, tmp_path):
    """The union's distinct is one shuffle: one job materializes it and
    one writes the lines."""
    rows = [(f"ex:s{i}", "ex:p", str(i), "literal", None, None) for i in range(20)]
    triples = graph_union(local_frame(spark, rows, TRIPLE_SCHEMA),
                          local_frame(spark, rows[::2], TRIPLE_SCHEMA))
    out = str(tmp_path / "nt")
    assert _jobs(spark, lambda: write_ntriples(triples, out)) == 2
    assert {tuple(r) for r in read_ntriples(spark, out).collect()} == set(rows)


def test_event_log_write_is_one_job(spark, tmp_path):
    """The event properties and the premis:object links are disjoint
    by predicate, so writing the log needs no distinct (a shuffle):
    one job writes it, with the lines of the distinct form, and a
    subject an event lists twice is still one link."""
    from razulibs_spark.operators import events as ev
    from razulibs_spark.sources.rdf_io import ntriples_line

    ts = datetime(2024, 1, 2, 3, 4, 5)
    rows = [{"event_id": i, "event_type": t, "subjects": subjects,
             "implemented_by": "razu", "outcome": "suc", "started_at": ts,
             "ended_at": ts, "description": "d"}
            for i, t, subjects in [(1, "ins", ["sip", "sip"]),
                                   (2, "mem", ["a.meta.json"]),
                                   (3, "ine", ["sip"])]]
    triples = ev.events_to_triples(local_frame(spark, rows, ev.EVENT_SCHEMA), "urn:ev")
    out = str(tmp_path / "eventlog.nt")
    assert _jobs(spark, lambda: write_ntriples(triples, out)) == 1
    lines = [r["value"] for r in spark.read.text(out).collect()]
    want = {r["v"] for r in graph_union(triples).select(ntriples_line().alias("v")).collect()}
    assert len(lines) == len(set(lines)) and set(lines) == want
    assert sum(" <http://www.loc.gov/premis/rdf/v3/object> " in line for line in lines) == 3


def test_manifest_json_map_is_one_collect(spark):
    """The JSON map sorts its filenames itself, so a manifest of several
    partitions, listed out of order, is collected in one job and gives
    the text of the sorted form."""
    ts = datetime(2024, 1, 2, 3, 4, 5)
    manifest = spark.range(0, 12, 1, numPartitions=3).select(
        F.format_string("f%02d.meta.json", 11 - F.col("id")).alias("filename"),
        F.md5(F.col("id").cast("string")).alias("md5hash"),
        F.lit(ts).alias("md5date"),
        F.col("id").alias("file_size"),
    )
    texts = []
    assert _jobs(spark, lambda: texts.append(manifest_to_json_map(manifest))) == 1
    assert texts == [manifest_to_json_map(manifest.orderBy("filename"))]
    assert list(json.loads(texts[0]))[:2] == ["f00.meta.json", "f01.meta.json"]


# --- csv2rdf vocabulary cells ---------------------------------------------

META_COLS = [
    "Plaats", "Doos-nummer", "Inventarisnummer", "Volgnummer", "Serie",
    "Datering", "Titel", "Beschrijving voorkant", "Plaats 1", "Plaats 2",
    "Plaats 3", "Soort", "Auteursrecht", "Fotograaf naam", "Kleurtype",
    "Coördinaat - Linksonder", "Coördinaat Rechtsboven",
]
# (term column, vocabulary, predicate) of every resolved cell.
CELLS = [
    ("Soort", "soort", "ldto:classificatie"),
    ("Plaats 1", "locatie", "ldto:dekkingInRuimte"),
    ("Plaats 2", "locatie", "ldto:dekkingInRuimte"),
    ("Plaats 3", "locatie", "ldto:dekkingInRuimte"),
    ("Fotograaf naam", "actor", "ldto:betrokkene"),
    ("Auteursrecht", "auteursrecht", "ldto:beperkingGebruik"),
]
VOCAB_PREDICATES = {p for _, _, p in CELLS}


def _inputs(spark):
    rows = [
        ("W1", "1990-1", 1, 1, "1990", "1990", "A", "a", "Houten",
         "Nergensdorp", None, "Luchtfoto", "Vrij", "Delta", "Kleur",
         "X 1000 Y 2000", "X 3000 Y 4000"),
        ("W1", "1990-1", 2, 2, "1990", "1990-05-01", "B", "b", "Goy",
         None, "Houten", "Luchtfoto", "Vrij", None, "Kleur",
         "X 1000 Y 2000", "X 3000 Y 4000"),
        ("W2", "1991-2", 3, 1, "1991", "1991", "C", "c", "Houten",
         None, None, "Onbekend", "Vrij", "Delta", "Kleur",
         "X 1000 Y 2000", "X 3000 Y 4000"),
    ]
    ddl = ", ".join(
        f"`{c}` {'bigint' if c in ('Inventarisnummer', 'Volgnummer') else 'string'}"
        for c in META_COLS
    )
    metadata = spark.createDataFrame(rows, ddl)
    droid = spark.createDataFrame(
        [("1990_01_001.jpg", "File", 10, "m1", "fmt/44"),
         ("1990_01_002.jpg", "File", 20, "m2", "fmt/44"),
         ("1991_02_003.jpg", "File", 30, "m3", "fmt/44")],
        "NAME string, TYPE string, SIZE bigint, MD5_HASH string, PUID string",
    )
    vocab_rows = [
        ("soort", "Luchtfoto", "https://ex.org/soort/luchtfoto"),
        ("auteursrecht", "Vrij", "https://ex.org/recht/vrij"),
        ("actor", "Delta", "https://ex.org/actor/delta"),
        ("locatie", "Houten", "https://ex.org/locatie/houten"),
        ("locatie", "Goy", "https://ex.org/locatie/goy"),
        ("kleurtype", "Kleur", "https://ex.org/kleur/kleur"),
    ]
    # "Houten" maps to two URIs; "Nergensdorp" (Plaats 2) and "Onbekend"
    # (Soort) map to none.
    ambiguous = ("locatie", "Houten", "https://ex.org/locatie/houten-2")
    schema = "vocabulary string, term string, uri string"
    return (metadata, droid, spark.createDataFrame(vocab_rows, schema),
            spark.createDataFrame(vocab_rows + [ambiguous], schema))


def _triples(df):
    return {tuple(r) for r in df.select(
        "s", "p", "o", "o_type", "o_datatype", "o_lang").collect()}


def _one_join_per_column(metadata, vocab):
    """The vocabulary objects as one broadcast left join per term
    column, each (record, predicate, uri) taken from its own column."""
    from razulibs_spark.functions.scalars import razu_uid, razu_uri

    m = metadata.select(
        razu_uri(razu_uid(F.col("Inventarisnummer").cast("string"))).alias("s"),
        *[F.col(f"`{c}`") for c, _, _ in CELLS])
    out = set()
    for i, (col, voc, pred) in enumerate(CELLS):
        dim = vocab.filter(F.col("vocabulary") == voc).select(
            F.col("term").alias(col), F.col("uri").alias(f"_u{i}"))
        m = m.join(F.broadcast(dim), col, "left")
    for r in m.collect():
        for i, (_, _, pred) in enumerate(CELLS):
            if r[f"_u{i}"] is not None:
                out.add((r["s"], pred, r[f"_u{i}"], "uri", None, None))
    return out


def test_csv2rdf_vocabulary_cells_match_per_column_joins(spark):
    metadata, droid, vocab, vocab2 = _inputs(spark)
    got = _triples(csv2rdf_triples(metadata, droid, vocab2))
    got_vocab = {t for t in got if t[1] in VOCAB_PREDICATES}
    assert got_vocab == _one_join_per_column(metadata, vocab2)
    # Both URIs of the ambiguous term, for Plaats 1 of rows 1 and 3 and
    # Plaats 3 of row 2; nothing for the unresolvable terms.
    houten = {t[0] for t in got_vocab if t[2].endswith("houten-2")}
    assert len(houten) == 3
    assert not any(t[2] in ("Nergensdorp", "Onbekend") for t in got_vocab)
    # The second URI only adds its own triples: the rest of the graph,
    # the serie sizes included, is the graph of the unambiguous vocab.
    base = _triples(csv2rdf_triples(metadata, droid, vocab))
    assert got - base == {t for t in got_vocab if t[2].endswith("houten-2")}
    assert base <= got
    omvang = {t[0]: t[2] for t in got
              if t[1] == "ldto:omvang" and "serie-" in t[0]}
    assert sorted(omvang.values()) == ["1", "2"]


# --- guard --------------------------------------------------------------------

ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "razulibs_spark")
LIFECYCLE_MODULES = sorted(
    [os.path.join("plans", f) for f in os.listdir(os.path.join(ROOT, "plans"))
     if f.endswith(".py")]
    + ["sinks/object_store.py", "operators/ids.py", "operators/manifest.py",
       "operators/events.py", "operators/stats.py", "sources/vocab.py"]
)


def _attribute_uses(module, names) -> list[tuple[int, str]]:
    """(line, name) of every attribute in ``names`` that ``module`` uses."""
    with open(os.path.join(ROOT, module), encoding="utf-8") as fh:
        tree = ast.parse(fh.read())
    return [(node.lineno, node.attr) for node in ast.walk(tree)
            if isinstance(node, ast.Attribute) and node.attr in names]


@pytest.mark.parametrize("module", LIFECYCLE_MODULES)
def test_lifecycle_modules_build_no_frame_from_a_python_list(module):
    """Driver-side rows go through session.local_frame (Arrow); a
    createDataFrame call on a Python list costs Python-worker tasks on
    every evaluation."""
    calls = _attribute_uses(module, {"createDataFrame"})
    assert not calls, f"{module} calls createDataFrame at {calls}; use local_frame"


@pytest.mark.parametrize("module", [
    "sinks/object_store.py", "operators/manifest.py",
    "sources/jsonld.py", "sources/sitemap.py", "sources/warc.py",
])
def test_side_effects_run_through_each_partition(module):
    """`foreachPartition` starts a second Python worker pool beside the
    Arrow runner's and runs one task per input partition; the object
    store and local-store sinks call `session.each_partition`, whose
    count comes back with the action, so no accumulator either."""
    calls = _attribute_uses(module, {"foreachPartition", "accumulator"})
    assert not calls, f"{module} calls {calls}; use session.each_partition"


ARCHIVE_LAYERS = sorted(
    os.path.join(layer, f)
    for layer in ("sources", "sinks", "plans")
    for f in os.listdir(os.path.join(ROOT, layer)) if f.endswith(".py")
)


@pytest.mark.parametrize("module", ARCHIVE_LAYERS)
def test_archive_layers_count_no_partitions(module):
    """`getNumPartitions` on a frame with a shuffle runs that shuffle's
    stages under AQE, and the write that follows runs them again."""
    uses = _attribute_uses(module, {"getNumPartitions"})
    assert not uses, f"{module} counts partitions at {uses}"


# Every module's per-row Python work runs through session.map_rows
# (session.py itself holds that loop; the last test checks it). These
# passes do batch work a row function cannot, and keep their own.
ROW_MODULES = sorted(
    os.path.relpath(path, ROOT)
    for path in glob.glob(os.path.join(ROOT, "**", "*.py"), recursive=True)
    if os.path.relpath(path, ROOT) != "session.py"
)
OWN_BATCH_PASSES = {
    "operators/multimodal.py": {
        "extract_features": "vectorized pandas column kernels, no per-row call",
        "resize_images": "vectorized pandas column kernels, no per-row call",
    },
    "sources/rdfxml.py": {
        "_write_framed": "frames each partition's batches as one document",
    },
    "operators/similarity.py": {
        "blocked_exact_neardup": "one numpy matmul per block of rows",
        "pq_train_codebooks": "one numpy assignment per batch of vectors",
        "pq_encode": "one numpy encode per batch of vectors",
        "pq_topk": "one numpy distance table per batch of codes",
        "ivfpq_topk": "one numpy distance table per batch of candidates",
    },
    "operators/stats.py": {
        "_pca_gram": "one numpy Gram matrix per batch of rows",
    },
    "operators/analytics.py": {
        "heavy_hitters": "a Misra-Gries summary folded over the whole partition",
    },
    "sources/jsonld.py": {
        "jsonld_docs": "carries an entity's rows from one batch into the next",
    },
}


def _mapinpandas_uses(module, exempt=()) -> list[tuple[int, str]]:
    """(line, enclosing top-level function) of every ``mapInPandas``
    in ``module`` outside the functions named in ``exempt``."""
    with open(os.path.join(ROOT, module), encoding="utf-8") as fh:
        tree = ast.parse(fh.read())
    return [(node.lineno, top.name)
            for top in tree.body if getattr(top, "name", None) not in exempt
            for node in ast.walk(top)
            if isinstance(node, ast.Attribute) and node.attr == "mapInPandas"]


@pytest.mark.parametrize("module", ROW_MODULES)
def test_row_modules_run_python_rows_through_map_rows(module):
    """One per-row runner: a module gives `session.map_rows` its row
    function and builds no batch loop, column list or pandas frame of
    its own, outside the batch passes named in OWN_BATCH_PASSES."""
    uses = _mapinpandas_uses(module, OWN_BATCH_PASSES.get(module, ()))
    assert not uses, f"{module} calls mapInPandas at {uses}; use session.map_rows"


def test_own_batch_passes_still_run_their_own_pass():
    """The list names no pass that has since moved to map_rows."""
    for module, passes in OWN_BATCH_PASSES.items():
        assert {name for _, name in _mapinpandas_uses(module)} == set(passes), module


def test_map_rows_is_the_session_batch_loop():
    assert {name for _, name in _mapinpandas_uses("session.py")} == {"map_rows"}


def test_one_line_scan_over_a_single_file():
    """`textFile` (the line blocks of one file) is read in one place:
    the split scan every single-file source shares."""
    users = {module for module in ROW_MODULES + ["session.py"]
             if _attribute_uses(module, {"textFile"})}
    assert users == {"sources/sharded_text.py"}


# The `binaryFile` sources that stay outside session.map_files, each
# with its reason.
OWN_FILE_SCANS = {
    ("operators/manifest.py", "manifest_from_directory"):
        "hashes `content` in the JVM and runs no Python",
    ("sources/warc.py", "read_warc_stream"):
        "a streaming source must state the binaryFile schema",
}


def _binary_file_scans(module) -> set[tuple[str, str]]:
    """(module, enclosing top-level function) of every ``"binaryFile"``
    format string in ``module``."""
    with open(os.path.join(ROOT, module), encoding="utf-8") as fh:
        tree = ast.parse(fh.read())
    return {(module, top.name)
            for top in tree.body
            for node in ast.walk(top)
            if isinstance(node, ast.Constant) and node.value == "binaryFile"}


def test_one_per_file_scan():
    """Every per-file Python scan lists its files through
    `session.map_files`; the scans in OWN_FILE_SCANS keep their own
    `binaryFile` source."""
    scans = set().union(*(_binary_file_scans(m) for m in ROW_MODULES + ["session.py"]))
    assert scans == {("session.py", "map_files")} | set(OWN_FILE_SCANS)


def _zip_reads(module) -> list[int]:
    """Lines of every ``ZipFile`` that ``module`` opens in a mode other
    than write ("w" or "x")."""
    with open(os.path.join(ROOT, module), encoding="utf-8") as fh:
        tree = ast.parse(fh.read())
    lines = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        if getattr(node.func, "attr", getattr(node.func, "id", None)) != "ZipFile":
            continue
        mode = node.args[1] if len(node.args) > 1 else next(
            (k.value for k in node.keywords if k.arg == "mode"), None)
        if not (isinstance(mode, ast.Constant) and mode.value in ("w", "x")):
            lines.append(node.lineno)
    return lines


def test_one_zip_reader():
    """ZIP payloads and archives are read through
    `sources/archives.Package`, which reports every way their bytes can
    be bad as one ValueError. A write-mode ZipFile is no reader."""
    readers = {module: lines for module in ROW_MODULES + ["session.py"]
               if (lines := _zip_reads(module))}
    assert set(readers) == {"sources/archives.py"}, readers
