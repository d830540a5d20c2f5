"""Driver-side frames, dense ids and the one-explode csv2rdf plan.

- `session.local_frame` (Arrow-built frames) gives the same rows and
  schema as `createDataFrame` on the same Python list.
- `dense_ids` with its literal per-partition offsets matches the
  global-window reference, also with more partitions than rows.
- csv2rdf resolves every vocabulary cell with one join: a term with two
  URIs gives both objects, an unresolvable term gives none — the same
  objects as one left join per term column.
- No lifecycle module builds a frame from a Python list.
"""

from __future__ import annotations

import ast
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from razulibs_spark.operators.ids import dense_ids, dense_ids_global_window
from razulibs_spark.operators.manifest import MANIFEST_SCHEMA, manifest_from_json_map
from razulibs_spark.plans.csv2rdf import csv2rdf_triples
from razulibs_spark.session import local_frame

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


@pytest.mark.parametrize("module", LIFECYCLE_MODULES)
def test_lifecycle_modules_build_no_frame_from_a_python_list(module):
    """Driver-side rows go through session.local_frame (Arrow); a
    createDataFrame call on a Python list costs Python-worker tasks on
    every evaluation."""
    with open(os.path.join(ROOT, module), encoding="utf-8") as fh:
        tree = ast.parse(fh.read())
    calls = [
        node.lineno for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "createDataFrame"
    ]
    assert not calls, f"{module} calls createDataFrame at lines {calls}; use local_frame"
