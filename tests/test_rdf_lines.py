"""The line-framed RDF readers and writers.

- A blank node keeps its links through every line writer: a ``_:``
  label a parser read is written unchanged as subject and as object,
  so `write_ntriples`, `write_turtle` and `write_turtle_grouped` give
  back the graph that was read, and an export re-imported and exported
  again gives the same lines.
- A null object is written as the empty literal, so its row still
  reads back as one statement.
- `read_ntriples`, `read_nquads` and the line-subset `read_turtle` skip
  ``#`` comment lines and trailing comments, and raise on any other
  line outside their grammar instead of returning an empty triple.
"""

from __future__ import annotations

import glob
import os

import pytest

from razulibs_spark.operators.rdf import TRIPLE_SCHEMA
from razulibs_spark.session import local_frame
from razulibs_spark.sources.rdf_io import (
    read_nquads,
    read_ntriples,
    read_turtle,
    write_ntriples,
    write_turtle,
)
from razulibs_spark.sources.turtle_full import read_turtle_full, write_turtle_grouped

EX = "http://example.org/"


def _write(tmp_path, name, text):
    d = tmp_path / name
    d.mkdir()
    (d / "part.txt").write_text(text, encoding="utf-8")
    return str(d)


def _lines(path):
    out = []
    for part in glob.glob(os.path.join(path, "part-*")):
        with open(part, encoding="utf-8") as fh:
            out += [ln for ln in fh.read().split("\n") if ln]
    return sorted(out)


def _linked(triples) -> bool:
    """Whether the object of ex:r is the subject of ex:s."""
    rows = triples.collect()
    objs = {r["o"] for r in rows if r["p"] == EX + "r"}
    subjs = {r["s"] for r in rows if r["p"] == EX + "s"}
    return len(objs) == 1 and objs == subjs


@pytest.mark.parametrize("writer, reader", [
    (write_ntriples, read_ntriples),
    (write_turtle, read_turtle),
    (write_turtle_grouped, lambda spark, path: read_turtle_full(spark, path, glob="part-*")),
])
def test_parsed_blank_nodes_keep_their_links(spark, tmp_path, writer, reader):
    src = _write(tmp_path, "src", f'@prefix ex: <{EX}> .\nex:b ex:r _:n1 .\n_:n1 ex:s "w" .\n')
    graph = read_turtle_full(spark, src, glob="*.txt")
    assert _linked(graph)
    out = str(tmp_path / "out")
    writer(graph, out)
    assert _linked(reader(spark, out))


def test_engine_export_reimports_to_the_same_lines(spark, tmp_path):
    rows = [(EX + "a", EX + "r", "bnode:b1", "bnode", None, None),
            ("bnode:b1", EX + "s", "w", "literal", None, None)]
    first, second = str(tmp_path / "first"), str(tmp_path / "second")
    write_ntriples(local_frame(spark, rows, TRIPLE_SCHEMA), first)
    write_ntriples(read_ntriples(spark, first), second)
    assert _lines(first) == _lines(second)
    assert _linked(read_ntriples(spark, second))


@pytest.mark.parametrize("writer, reader", [
    (write_ntriples, read_ntriples),
    (write_turtle, read_turtle),
])
def test_null_object_reads_back_as_the_empty_literal(spark, tmp_path, writer, reader):
    out = str(tmp_path / "out")
    writer(local_frame(spark, [(EX + "s", EX + "p", None, "literal", None, None)],
                       TRIPLE_SCHEMA), out)
    got = [(r["s"], r["p"], r["o"], r["o_type"]) for r in reader(spark, out).collect()]
    assert got == [(EX + "s", EX + "p", "", "literal")]


def test_comment_lines_and_trailing_comments_are_skipped(spark, tmp_path):
    nt = _write(tmp_path, "nt", (
        "# an N-Triples comment line\n"
        f"<{EX}s> <{EX}p> <{EX}o> . # a trailing comment\n"
        "   # an indented comment\n"
        f'<{EX}s> <{EX}p> "v" .\n'
    ))
    assert sorted(r["o"] for r in read_ntriples(spark, nt).collect()) == [EX + "o", "v"]
    nq = _write(tmp_path, "nq", f"# c\n<{EX}s> <{EX}p> <{EX}o> <{EX}g> . # c\n")
    assert [tuple(r)[-1] for r in read_nquads(spark, nq).collect()] == [EX + "g"]
    ttl = _write(tmp_path, "ttl", f"@prefix ex: <{EX}> .\n# c\nex:s ex:p ex:o . # c\n")
    assert [r["o"] for r in read_turtle(spark, ttl).collect()] == [EX + "o"]


@pytest.mark.parametrize("reader, text, message", [
    (read_ntriples, f"<{EX}s> <{EX}p> <{EX}o> .\n<{EX}s> <{EX}p> .\n",
     "read_ntriples: not an N-Triples statement"),
    (read_nquads, f"<{EX}s> <{EX}p> <{EX}o> <{EX}g>\n",
     "read_nquads: not an N-Quads statement"),
])
def test_malformed_line_raises(spark, tmp_path, reader, text, message):
    path = _write(tmp_path, "bad", text)
    with pytest.raises(Exception, match=message):
        reader(spark, path).collect()
    with pytest.raises(Exception, match=message):
        reader(spark, path).count()


def test_predicate_list_turtle_raises_and_names_read_rdf(spark, tmp_path):
    path = _write(tmp_path, "lists", f'@prefix ex: <{EX}> .\nex:s ex:p "a" ;\n    ex:q "b" .\n')
    with pytest.raises(Exception, match="read_rdf"):
        read_turtle(spark, path).collect()
