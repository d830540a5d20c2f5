"""The one split scan over a single text file (sources/sharded_text.py)
and the three readers built on it: edge cases at forced splits, the
Turtle blank-node labels, and the bound on what the stitch shuffles."""

from __future__ import annotations

import pytest

from razulibs_spark.sources.sharded_text import split_records


def _sequential(text: str) -> list[tuple[int, str]]:
    """The records of ``text`` split one line at a time: a ``From ``
    line starts a record, a preamble is dropped. Lines as textFile
    gives them: a final newline ends the last line."""
    lines = text[:-1].split("\n") if text.endswith("\n") else text.split("\n")
    recs: list[list[str]] = []
    for ln in lines:
        if ln.startswith("From "):
            recs.append([])
        if recs:
            recs[-1].append(ln)
    return [(k, "\n".join(r)) for k, r in enumerate(recs, 1)]


_LONG = "\n".join(f"spanning line {i:03d} of one record" for i in range(40))
EDGE_CASES = {
    "preamble": "preamble one\npreamble two\n"
    + "".join(f"From m{i}\nbody {i}\n" for i in range(30)),
    "record_over_three_splits": "From short\nx\nFrom long\n" + _LONG
    + "\nFrom after\ny\n",
    "no_record_start": "".join(f"just a line {i}\n" for i in range(60)),
    "trailing_blank_line": "".join(f"From m{i}\nbody {i}\n" for i in range(30))
    + "\n",
}


@pytest.mark.parametrize("case", sorted(EDGE_CASES))
def test_split_records_match_a_sequential_split(spark, tmp_path, case):
    text = EDGE_CASES[case]
    p = tmp_path / "one.txt"
    p.write_text(text)
    scan = split_records(spark, str(p), lambda ln, s: (ln.startswith("From "), s), [None], 8)
    assert scan.splits >= 8
    got = sorted(tuple(r) for r in scan.records.collect())
    assert got == _sequential(text)
    if case == "record_over_three_splits":
        assert len(_LONG) > 3 * len(text) / scan.splits
    if case == "no_record_start":
        assert got == []


def test_split_records_pick_lines_in_document_order(spark, tmp_path):
    text = "".join(f"From m{i}\nkeep {i}\nbody {i}\n" for i in range(30))
    p = tmp_path / "one.txt"
    p.write_text(text)
    scan = split_records(
        spark, str(p), lambda ln, s: (ln.startswith("From "), s), [None], 8,
        pick=lambda ln: ln.startswith("keep"),
    )
    assert scan.picked == [f"keep {i}" for i in range(30)]


# Anonymous blank nodes are labelled md5(statement number)[:8] + a
# per-statement counter; these are the labels of statements 1..8 (the
# ``made`` and ``[] ex:about`` statements of d = 0..3).
_BNODE_TTL = "@prefix ex: <http://example.org/> .\n" + "\n".join(
    f"ex:s{d} ex:made [ ex:by ex:a{d} ;\n    ex:at {d} ] .\n"
    f"[] ex:about ex:s{d} ;\n  ex:tag [ ex:k \"v{d}\" ] , [ ex:k \"w{d}\" ] .\n"
    f'ex:s{d} ex:note """two\nlines {d}""" . # c'
    for d in range(4)
) + "\n"
_MADE_LABELS = ["c4ca4238", "a87ff679", "8f14e45f", "d3d94468"]
_ABOUT_LABELS = ["c81e728d", "e4da3b7f", "c9f0f895", "6512bd43"]


def test_sharded_turtle_blank_node_labels(spark, tmp_path):
    from razulibs_spark.sources.turtle_full import read_turtle_sharded

    p = tmp_path / "dump.ttl"
    p.write_text(_BNODE_TTL)
    got = {tuple(r) for r in read_turtle_sharded(spark, str(p), 8).collect()}
    ex = "http://example.org/"
    xsd_int = "http://www.w3.org/2001/XMLSchema#integer"
    want = set()
    for d, (made, about) in enumerate(zip(_MADE_LABELS, _ABOUT_LABELS)):
        m, a = f"_:{made}a1", f"_:{about}a1"
        want |= {
            (ex + f"s{d}", ex + "made", m, "bnode", None, None),
            (m, ex + "by", ex + f"a{d}", "uri", None, None),
            (m, ex + "at", str(d), "literal", xsd_int, None),
            (a, ex + "about", ex + f"s{d}", "uri", None, None),
            (a, ex + "tag", f"_:{about}a2", "bnode", None, None),
            (a, ex + "tag", f"_:{about}a3", "bnode", None, None),
            (f"_:{about}a2", ex + "k", f"v{d}", "literal", None, None),
            (f"_:{about}a3", ex + "k", f"w{d}", "literal", None, None),
            (ex + f"s{d}", ex + "note", f"two\nlines {d}", "literal", None, None),
        }
    assert got == want


def _shuffle_records_written(df) -> tuple[int, int]:
    """(shuffles, rows written into them) in ``df``'s last execution."""
    shuffles = rows = 0
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if kind == "ShuffleExchangeExec":
            shuffles += 1
            rows += node.metrics().apply("shuffleRecordsWritten").value()
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return shuffles, rows


def _mbox(tmp_path):
    from razulibs_spark.operators.eml import encode_eml
    from razulibs_spark.operators.mbox import _FROM_LINE, mbox_escape, read_mbox_sharded

    p = tmp_path / "spool.mbox"
    p.write_text("\n".join(
        _FROM_LINE + "\n" + mbox_escape(encode_eml(d, ["w1", "w2"]).decode())
        for d in range(60)
    ))
    return str(p), lambda spark: read_mbox_sharded(spark, str(p), 8, dialect="rd")


def _wiki(tmp_path):
    from razulibs_spark.operators.wikitext import read_wiki_dump_sharded, write_wiki_dump

    p = tmp_path / "wiki" / "part-00000.xml"

    def read(spark):
        docs = spark.range(60).selectExpr("id AS doc_id", "'alpha beta gamma' AS text")
        write_wiki_dump(docs.coalesce(1), str(p.parent))
        return read_wiki_dump_sharded(spark, str(p), 8)

    return str(p), read


def _turtle(tmp_path):
    from razulibs_spark.sources.turtle_full import read_turtle_sharded

    p = tmp_path / "dump.ttl"
    p.write_text(_BNODE_TTL * 4)
    return str(p), lambda spark: read_turtle_sharded(spark, str(p), 8)


@pytest.mark.parametrize("reader", [_mbox, _wiki, _turtle])
def test_stitch_takes_at_most_two_rows_per_split(spark, tmp_path, reader):
    """Only a split's head and tail fragments shuffle; records inside a
    split are joined where they were read."""
    path, read = reader(tmp_path)
    df = read(spark)
    n = len(df.collect())
    splits = spark.sparkContext.textFile(path, 8).getNumPartitions()
    shuffles, rows = _shuffle_records_written(df)
    assert shuffles == 1
    assert n > 2 * splits and rows <= 2 * splits
