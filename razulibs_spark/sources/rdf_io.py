"""RDF serialization sinks/sources — SURVEY.md §2.1 (K1/K2, S3/S4).

N-Triples is the distributed-friendly interchange form: one triple per
line, no document state, so a triples DataFrame maps to `write.text`
with a per-row formatter and parses back with per-line regexes — both
directions scale linearly and shuffle nothing. Turtle output adds a
prefix header to each part file and compacts IRIs to prefixed names.
Both writers format terms through one builder (`_terms`), and every
sink writes its input as planned: no partition count or widening
runs the input's shuffles a second time.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from razulibs_spark.operators.rdf import (
    EXPANSIONS,
    NAMESPACES,
    TRIPLE_SCHEMA,
    _compact_with,
    _expand_with,
    _term,
)


def _escape_literal(col: Column) -> Column:
    # N-Triples string escaping: backslash, quote, newline, tab, CR.
    out = F.regexp_replace(col, r"\\", r"\\\\")
    out = F.regexp_replace(out, '"', '\\\\"')
    out = F.regexp_replace(out, "\n", "\\\\n")
    out = F.regexp_replace(out, "\r", "\\\\r")
    out = F.regexp_replace(out, "\t", "\\\\t")
    return out


def _bnode(col: Column) -> Column:
    return F.concat(F.lit("_:"), F.md5(col))


def _terms(short) -> tuple[Column, Column, Column]:
    """Subject, predicate and object terms of the canonical triple
    columns, where ``short(name)`` is the writer's short spelling of
    the value in column ``name`` (a ``_:`` blank-node label it can
    write as is, or a prefixed name), else null: the one place the
    term rules live. A value without a short spelling is an ``<IRI>``,
    except an engine bnode (``bnode:…``) or a blank-node label the
    writer cannot spell, which becomes ``_:<md5>``. A parsed label is
    thus the same node as subject and as object, and a parsed graph
    keeps its blank-node links. Literals carry the N-Triples escapes,
    then a language tag or a datatype IRI. A null object is the empty
    string, so its row still makes a whole statement."""
    s, o_type = F.col("s"), F.col("o_type")
    o = F.coalesce(F.col("o"), F.lit(""))

    def term(name: str, blank: Column) -> Column:
        value = o if name == "o" else F.col(name)
        return F.coalesce(short(name), F.when(blank, _bnode(value)).otherwise(
            F.concat(F.lit("<"), value, F.lit(">"))))

    lit_body = F.concat(F.lit('"'), _escape_literal(o), F.lit('"'))
    obj = (
        F.when(o_type.isin("uri", "bnode"), term("o", o_type == "bnode"))
        .when(F.col("o_lang").isNotNull(), F.concat(lit_body, F.lit("@"), F.col("o_lang")))
        .when(
            F.col("o_datatype").isNotNull(),
            F.concat(lit_body, F.lit("^^"), term("o_datatype", F.lit(False))),
        )
        .otherwise(lit_body)
    )
    return term("s", s.rlike("^(?:bnode|_):")), term("p", F.lit(False)), obj


def _ntriples_label(name: str) -> Column:
    return F.when(F.col(name).startswith("_:"), F.col(name))


def ntriples_line() -> Column:
    """Format one triple row as an N-Triples line (pure expressions)."""
    return F.concat_ws(" ", *_terms(_ntriples_label), F.lit("."))


def write_ntriples(triples: DataFrame, path: str) -> None:
    """K2 sink: one `.nt` part per partition, append-merge friendly."""
    triples.select(ntriples_line().alias("value")).write.mode(
        "overwrite"
    ).text(path)


TURTLE_HEADER = "".join(
    f"@prefix {k}: <{v}> .\n" for k, v in sorted(NAMESPACES.items())
)

# Literal bodies use the UNROLLED loop form [^"\\]*(?:\\.[^"\\]*)*
# (same language as (?:[^"\\]|\\.)*): the per-character alternation
# makes java.util.regex re-branch on every byte of every literal —
# unrolling measured ~2x on the whole-line match at sf0.1.
_NT_RE = (
    r'^(?:<([^>]*)>|(_:\S+))\s+<([^>]*)>\s+'
    r'(?:<([^>]*)>|(_:\S+)|"([^"\\]*(?:\\.[^"\\]*)*)"'
    r'(?:@([A-Za-z-]+)|\^\^<([^>]*)>)?)\s*\.\s*(?:#.*)?$'
)



# One-pass group extraction: running regexp_extract once PER GROUP
# re-executes the full alternation regex n_groups times per line (the
# dominant cost of parsing at 750k lines). Instead the regex runs ONCE
# via regexp_replace into a \x01-delimited pack of all groups, which
# is split and indexed. Non-matching lines keep their original text
# (no delimiter -> wrong element count), so the guard returns "" for
# every group exactly as per-group regexp_extract would. Lines that
# already CONTAIN a raw \x01 byte (possible inside a literal — the
# escape table covers only \n \r \t \" \\) would corrupt the pack,
# so they take the exact per-group regexp_extract path instead; the
# contains() test is cheap and such lines are vanishingly rare in
# machine-generated RDF.
#
# CRITICAL (r13): the split array must be ALIASED in its own
# projection before the groups index into it. Handing the same Column
# expression to n_groups sibling columns copies the whole
# split(regexp_replace(...)) tree into each of them — the regex then
# executes ~2·n_groups times per line (measured 26 copies in the
# executed plan for the 13-group Turtle reader, 4.3 s of the 10 s
# roundtrip at sf0.1). With the array as a named column in a producer
# projection, CollapseProject keeps it materialized (a non-cheap
# producer expression referenced more than once is never inlined) and
# the regex runs exactly once per line.
_SEP = "\x01"


def _statement_lines(spark, path: str) -> DataFrame:
    """The lines of a line-framed RDF file that hold a statement: no
    blank lines and no ``#`` comment lines."""
    value = F.col("value")
    return spark.read.text(path).filter(
        (F.length(F.trim(value)) > 0) & ~F.ltrim(value).startswith("#")
    )


def _packed_groups_df(
    df: DataFrame, value, regex: str, names, error: str
) -> DataFrame:
    """`df` reduced to one string column per regex group, named by
    ``names`` in group order ("" where the group did not match). One
    regex execution per row on the fast path, per-group extraction
    only for \x01-tainted lines. A line ``regex`` does not match
    raises ``error`` followed by the line when the frame is
    evaluated, in the same stage."""
    n_groups = len(names)
    repl = _SEP.join(f"${i}" for i in range(1, n_groups + 1))
    arr = F.split(F.regexp_replace(value, regex, repl), _SEP, -1)
    base = df.select(value.alias("_v"), arr.alias("_arr"))
    tainted = F.col("_v").contains(_SEP)
    matched = F.when(tainted, F.col("_v").rlike(regex)).otherwise(
        F.size("_arr") == n_groups
    )
    checked = base.filter(
        F.when(matched, F.lit(True)).otherwise(
            F.raise_error(F.concat(F.lit(error), F.col("_v")))
        )
    )
    return checked.select(*[
        F.when(
            tainted, F.regexp_extract(F.col("_v"), regex, i + 1)
        ).otherwise(
            F.coalesce(F.get(F.col("_arr"), i), F.lit(""))
        ).alias(name)
        for i, name in enumerate(names)
    ])


def _unescape_literal(o_lit):
    """Decode the writer's 5 escape sequences EXACTLY.

    Escapes must decode left-to-right: in the encoded text ``\\\\n``
    (escaped backslash, then literal n) a naive ``\\n``-first chain
    would eat the second backslash and produce a newline — corrupting
    any literal whose raw text has a backslash immediately before
    n/r/t/". So escaped backslashes are protected into a NUL-prefixed
    sentinel FIRST, the single-char escapes decode next, and the
    sentinel restores last.

    The sentinel is made collision-proof against literals that carry a
    RAW NUL byte (which the writer emits unescaped) by stuffing: every
    pre-existing ``\\x00`` becomes ``\\x00N`` before the protect pass
    introduces ``\\x00B`` markers, and the restores run in the safe
    order (``\\x00B``→backslash, then ``\\x00N``→NUL). The mapping is
    injective — original NULs are always followed by ``N``, markers by
    ``B``, and the single-char decodes can neither create nor destroy a
    NUL — so the chain is exact for EVERY input, not just writer-
    emittable ones. It only runs for literals that actually CONTAIN a
    backslash — one cheap contains() guards it, and unescaped literals
    (the overwhelming majority of machine-generated RDF) pass through
    untouched (a backslash-free literal needs no decoding even if it
    contains raw NULs)."""
    stuffed = F.regexp_replace(o_lit, "\x00", "\x00N")
    protected = F.regexp_replace(stuffed, "\\\\\\\\", "\x00B")
    for esc, rep in (
        ("\\\\n", "\n"),
        ("\\\\r", "\r"),
        ("\\\\t", "\t"),
        ('\\\\"', '"'),
    ):
        protected = F.regexp_replace(protected, esc, rep)
    decoded = F.regexp_replace(
        F.regexp_replace(protected, "\x00B", "\\\\"), "\x00N", "\x00"
    )
    return F.when(o_lit.contains("\\"), decoded).otherwise(o_lit)


# The statement groups of an N-Triples line, in _NT_RE's group order.
_NT_GROUPS = ("s_uri", "s_bnode", "p", "o_uri", "o_bnode", "o_lit", "o_lang", "o_datatype")


def _triple_columns(raw: DataFrame, **iris: Column) -> list[Column]:
    """The triples schema from a frame of statement groups named as in
    ``_NT_GROUPS`` ("" = that alternative did not match). ``iris``
    replaces the ``s_uri``, ``p``, ``o_uri`` or ``o_datatype`` group
    with an IRI expression ("" when absent): the Turtle reader's
    prefixed-name expansion."""
    g = {n: iris[n] if n in iris else raw[n] for n in _NT_GROUPS}
    return [
        F.when(g["s_uri"] != "", g["s_uri"]).otherwise(g["s_bnode"]).alias("s"),
        g["p"].alias("p"),
        F.when(g["o_uri"] != "", g["o_uri"])
        .when(g["o_bnode"] != "", g["o_bnode"])
        .otherwise(_unescape_literal(g["o_lit"]))
        .alias("o"),
        F.when(g["o_uri"] != "", F.lit("uri"))
        .when(g["o_bnode"] != "", F.lit("bnode"))
        .otherwise(F.lit("literal"))
        .alias("o_type"),
        F.when(g["o_datatype"] != "", g["o_datatype"]).alias("o_datatype"),
        F.when(g["o_lang"] != "", g["o_lang"]).alias("o_lang"),
    ]


def read_ntriples(spark, path: str) -> DataFrame:
    """S4 source: parse N-Triples lines back into the triples schema
    with per-line regexes — distributed, no document-level state.
    Comment lines are skipped; any other line outside the grammar
    raises."""
    raw = _packed_groups_df(
        _statement_lines(spark, path), F.col("value"), _NT_RE, _NT_GROUPS,
        "read_ntriples: not an N-Triples statement: ",
    )
    return raw.select(*_triple_columns(raw))


# ---------------------------------------------------------------------------
# Turtle (S4/K2) — line-oriented subset: one triple per line terminated
# by ` .`, prefixed names, `a`, typed/tagged literals. No `;`/`,`
# continuations or multi-line literals — exactly what write_turtle
# emits, and the common shape of machine-generated Turtle. The
# reference parses Turtle via rdflib (razu/turtle.py:6-32); rdflib is
# deliberately absent here, and a driver-side parse would not scale —
# this subset parses per line, so it distributes like N-Triples.

# Every prefix the writer may compact with is declared in the header,
# so each part file is a self-contained valid Turtle document and the
# reader can re-expand without out-of-band state.
TURTLE_FULL_HEADER = "".join(
    f"@prefix {k}: <{v}> .\n" for k, v in sorted(EXPANSIONS.items())
)

# Local part of a prefixed name we are willing to emit: a conservative
# subset of Turtle's PN_LOCAL, which may not end in '.'. Anything else
# stays a full <IRI>.
_PN_LOCAL_RE = r"[A-Za-z0-9_](?:[A-Za-z0-9_.\-]*[A-Za-z0-9_\-])?"


def _compactable(col: Column | str) -> Column:
    """Prefixed-name form of an absolute URI when the local part is
    safe to emit, else null: one anchored regex over the namespace
    alternation and one map lookup, whatever the number of bound
    namespaces. A ``_:`` blank-node label whose name is as safe rides
    the same regex and lookup and stays as it is."""
    return _compact_with(_term(col), {**EXPANSIONS, "_": "_:"}, _PN_LOCAL_RE)


def turtle_terms() -> tuple[Column, Column, Column]:
    """Subject, predicate and object as Turtle terms: prefixed names
    where compactable, `a` for rdf:type, N-Triples escapes for
    literals."""
    subj, pred, obj = _terms(_compactable)
    pred = F.when(F.col("p") == EXPANSIONS["rdf"] + "type", F.lit("a")).otherwise(pred)
    return subj, pred, obj


def turtle_line() -> Column:
    """Format one triple row as a Turtle line (pure expressions)."""
    return F.concat_ws(" ", *turtle_terms(), F.lit("."))


def write_turtle(triples: DataFrame, path: str) -> None:
    """K2 sink, distributed Turtle: each partition becomes one part
    file that is a complete Turtle document (prefix header + lines) —
    append-merge friendly, and `cat part-*` is itself valid Turtle
    because repeated @prefix declarations are legal."""
    _turtle_values(triples).write.mode("overwrite").text(path)


def with_partition_header(header: str, value: Column) -> Column:
    """``value`` with ``header`` prepended on the first row of every
    partition, so each part file the text sink writes opens with it.
    monotonically_increasing_id() is documented as
    partitionId·2^33 + rowInPartition, so low-33-bits == 0 identifies
    exactly the first row of every non-empty partition; empty
    partitions stay empty files. Only the prefix depends on the row: a
    `when` around the whole value would generate its code once per
    branch."""
    first_in_partition = (
        F.monotonically_increasing_id() % F.lit(1 << 33)
    ) == 0
    prefix = F.when(first_in_partition, F.lit(header)).otherwise(F.lit(""))
    return F.concat(prefix, value)


def _turtle_values(triples: DataFrame) -> DataFrame:
    """The one-column ``value`` frame that ``write_turtle`` writes."""
    # Entirely JVM-side: the header rides the partition's FIRST row as
    # a codegen concat instead of an Arrow pass whose only job was to
    # prepend 11 lines (shipping every line JVM->Python->JVM measured
    # ~70% of the whole write); the emitted bytes are identical to the
    # old header-rows form (the text sink writes one '\n' per row
    # either way).
    return triples.select(
        with_partition_header(TURTLE_FULL_HEADER, turtle_line()).alias("value")
    )


# Turtle term alternations. Group map (regexp_extract indices):
# subject: 1 <uri> | 2 _:bnode | 3 pname
# predicate: 4 <uri> | 5 pname | 6 'a'
# object: 7 <uri> | 8 _:bnode | 9 "literal" (10 @lang | 11 ^^<uri> |
#         12 ^^pname) | 13 pname
_PNAME = r'[A-Za-z][\w\-]*:[^\s<>"]+'
_TTL_RE = (
    rf'^(?:<([^>]*)>|(_:\S+)|({_PNAME}))\s+'
    rf'(?:<([^>]*)>|({_PNAME})|(a))\s+'
    rf'(?:<([^>]*)>|(_:\S+)|"([^"\\]*(?:\\.[^"\\]*)*)"'
    rf'(?:@([A-Za-z\-]+)|\^\^<([^>]*)>|\^\^({_PNAME}))?|({_PNAME}))\s*\.\s*(?:#.*)?$'
)


def read_turtle(spark, path: str) -> DataFrame:
    """S4 source: line-oriented Turtle subset → triples DataFrame.

    @prefix declarations are dimension-sized (a handful per document)
    — collected once on the driver to build the expansion map; triple
    lines parse per-line with one regex, fully distributed."""
    lines = _statement_lines(spark, path)
    decls = (
        lines.filter(F.col("value").startswith("@prefix"))
        .select(
            F.regexp_extract("value", r"@prefix\s+([A-Za-z][\w\-]*):", 1).alias("k"),
            F.regexp_extract("value", r"<([^>]*)>", 1).alias("ns"),
        )
        .distinct()
        .collect()
    )
    pmap = {r["k"]: r["ns"] for r in decls if r["k"]}
    body = lines.filter(~F.col("value").startswith("@prefix"))
    raw = _packed_groups_df(body, F.col("value"), _TTL_RE, (
        "s_uri", "s_bnode", "s_pn", "p_uri", "p_pn", "p_a", "o_uri",
        "o_bnode", "o_lit", "o_lang", "o_dt_uri", "o_dt_pn", "o_pn",
    ), "read_turtle: not a one-triple line of the write_turtle subset "
       "(read_rdf reads the full Turtle grammar): ")

    def iri(uri: str, pname: str) -> Column:
        return F.when(raw[uri] != "", raw[uri]).otherwise(_expand_with(raw[pname], pmap))

    return raw.select(*_triple_columns(
        raw,
        s_uri=iri("s_uri", "s_pn"),
        p=F.when(raw["p_a"] != "", F.lit(EXPANSIONS["rdf"] + "type"))
        .otherwise(iri("p_uri", "p_pn")),
        o_uri=iri("o_uri", "o_pn"),
        o_datatype=iri("o_dt_uri", "o_dt_pn"),
    ))


# N-Quads (S4): N-Triples + optional graph label as 4th term.
_NQ_RE = (
    r'^(?:<([^>]*)>|(_:\S+))\s+<([^>]*)>\s+'
    r'(?:<([^>]*)>|(_:\S+)|"([^"\\]*(?:\\.[^"\\]*)*)"'
    r'(?:@([A-Za-z\-]+)|\^\^<([^>]*)>)?)'
    r'(?:\s+(?:<([^>]*)>|(_:\S+)))?\s*\.\s*(?:#.*)?$'
)


def read_nquads(spark, path: str) -> DataFrame:
    """S4 source: N-Quads → triples DataFrame + nullable `g` graph
    column (null = default graph). Comment lines are skipped; any
    other line outside the grammar raises."""
    raw = _packed_groups_df(
        _statement_lines(spark, path), F.col("value"), _NQ_RE,
        _NT_GROUPS + ("g_uri", "g_bnode"),
        "read_nquads: not an N-Quads statement: ",
    )
    return raw.select(
        *_triple_columns(raw),
        F.when(raw["g_uri"] != "", raw["g_uri"])
        .when(raw["g_bnode"] != "", raw["g_bnode"])
        .alias("g"),
    )


def turtle_text(triples: DataFrame, max_rows: int = 100_000) -> str:
    """Combined-graph Turtle export (K2; razu/sip.py:42-49) for
    demo/golden-test scale: canonically ordered, prefix header included.
    Driver-side by design — the distributed form is write_ntriples."""
    rows = (
        triples.select(ntriples_line().alias("line"))
        .orderBy("line")
        .limit(max_rows)
        .collect()
    )
    return TURTLE_HEADER + "\n" + "\n".join(r["line"] for r in rows) + "\n"
