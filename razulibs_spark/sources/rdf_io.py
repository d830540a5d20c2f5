"""RDF serialization sinks/sources — SURVEY.md §2.1 (K1/K2, S3/S4).

N-Triples is the distributed-friendly interchange form: one triple per
line, no document state, so a triples DataFrame maps to `write.text`
with a per-row formatter and parses back with per-line regexes — both
directions scale linearly and shuffle nothing. Turtle output adds the
11-prefix header of razu/meta_graph.py:19-29 and per-subject grouping;
it is produced per-partition (each partition's subjects are complete
because we repartition by subject first).
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


def ntriples_line(s=None, p=None, o=None, o_type=None, o_datatype=None,
                  o_lang=None) -> Column:
    """Format one triple row as an N-Triples line (pure expressions).
    Defaults bind to the canonical triple columns lazily (F.col needs
    an active session, so not in default args)."""
    s = F.col("s") if s is None else s
    p = F.col("p") if p is None else p
    o = F.col("o") if o is None else o
    o_type = F.col("o_type") if o_type is None else o_type
    o_datatype = F.col("o_datatype") if o_datatype is None else o_datatype
    o_lang = F.col("o_lang") if o_lang is None else o_lang
    subj = F.when(s.startswith("bnode:"), F.concat(F.lit("_:"), F.md5(s))).otherwise(
        F.concat(F.lit("<"), s, F.lit(">"))
    )
    pred = F.concat(F.lit("<"), p, F.lit(">"))
    lit_body = F.concat(F.lit('"'), _escape_literal(o), F.lit('"'))
    obj = (
        F.when(o_type == "uri", F.concat(F.lit("<"), o, F.lit(">")))
        .when(o_type == "bnode", F.concat(F.lit("_:"), F.md5(o)))
        .when(o_lang.isNotNull(), F.concat(lit_body, F.lit("@"), o_lang))
        .when(
            o_datatype.isNotNull(),
            F.concat(lit_body, F.lit("^^<"), o_datatype, F.lit(">")),
        )
        .otherwise(lit_body)
    )
    return F.concat_ws(" ", subj, pred, obj, F.lit("."))



def _widen(df: DataFrame) -> DataFrame:
    """Round-robin repartition to defaultParallelism iff the frame has
    FEWER partitions — serializing 750k triples through one task is
    the measured bottleneck of the sink paths when the source is a
    single parquet split (small SF / single file). At cluster scale a
    scan has far more splits than cores, so this is a no-op and adds
    no shuffle."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


def write_ntriples(triples: DataFrame, path: str) -> None:
    """K2 sink: one `.nt` part per partition, append-merge friendly."""
    _widen(triples).select(ntriples_line().alias("value")).write.mode(
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
    r'(?:@([A-Za-z-]+)|\^\^<([^>]*)>)?)\s*\.\s*$'
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


def _packed_groups_df(df: DataFrame, value, regex: str, n_groups: int):
    """(projected df, group columns): `df` reduced to the packed
    array + raw value, plus n_groups extraction columns to select FROM
    that frame. One regex execution per row on the fast path,
    per-group extraction only for \x01-tainted lines."""
    repl = _SEP.join(f"${i}" for i in range(1, n_groups + 1))
    arr = F.split(F.regexp_replace(value, regex, repl), _SEP, -1)
    base = df.select(value.alias("_v"), arr.alias("_arr"))
    ok = F.size("_arr") == n_groups
    tainted = F.col("_v").contains(_SEP)
    gs = [
        F.when(
            tainted, F.regexp_extract(F.col("_v"), regex, i + 1)
        ).otherwise(
            F.when(
                ok, F.coalesce(F.get(F.col("_arr"), i), F.lit(""))
            ).otherwise(F.lit(""))
        )
        for i in range(n_groups)
    ]
    return base, gs



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


def read_ntriples(spark, path: str) -> DataFrame:
    """S4 source: parse N-Triples lines back into the triples schema
    with per-line regexes — distributed, no document-level state."""
    lines = spark.read.text(path).filter(F.length(F.trim("value")) > 0)
    base, gs = _packed_groups_df(lines, F.col("value"), _NT_RE, 8)
    raw = base.select(
        gs[0].alias("s_uri"), gs[1].alias("s_bnode"), gs[2].alias("p"),
        gs[3].alias("o_uri"), gs[4].alias("o_bnode"), gs[5].alias("o_lit"),
        gs[6].alias("o_lang_m"), gs[7].alias("o_dt_m"),
    )
    o_lit = _unescape_literal(raw["o_lit"])
    return raw.select(
        F.when(raw["s_uri"] != "", raw["s_uri"]).otherwise(raw["s_bnode"]).alias("s"),
        F.col("p"),
        F.when(raw["o_uri"] != "", raw["o_uri"])
        .when(raw["o_bnode"] != "", raw["o_bnode"])
        .otherwise(o_lit)
        .alias("o"),
        F.when(raw["o_uri"] != "", F.lit("uri"))
        .when(raw["o_bnode"] != "", F.lit("bnode"))
        .otherwise(F.lit("literal"))
        .alias("o_type"),
        F.when(raw["o_dt_m"] != "", raw["o_dt_m"]).alias("o_datatype"),
        F.when(raw["o_lang_m"] != "", raw["o_lang_m"]).alias("o_lang"),
    )


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
    namespaces."""
    return _compact_with(_term(col), EXPANSIONS, _PN_LOCAL_RE)


def _turtle_uri(col: Column | str) -> Column:
    return F.coalesce(
        _compactable(col), F.concat(F.lit("<"), _term(col), F.lit(">"))
    )


def turtle_line() -> Column:
    """Format one triple row as a Turtle line (pure expressions):
    prefixed names where compactable, `a` for rdf:type, N-Triples
    escapes for literals."""
    s, p, o = F.col("s"), F.col("p"), F.col("o")
    subj = F.when(s.startswith("bnode:"), F.concat(F.lit("_:"), F.md5(s))).otherwise(
        _turtle_uri("s")
    )
    rdf_type = EXPANSIONS["rdf"] + "type"
    pred = F.when(p == rdf_type, F.lit("a")).otherwise(_turtle_uri("p"))
    lit_body = F.concat(F.lit('"'), _escape_literal(o), F.lit('"'))
    obj = (
        F.when(F.col("o_type") == "uri", _turtle_uri("o"))
        .when(F.col("o_type") == "bnode", F.concat(F.lit("_:"), F.md5(o)))
        .when(F.col("o_lang").isNotNull(), F.concat(lit_body, F.lit("@"), F.col("o_lang")))
        .when(
            F.col("o_datatype").isNotNull(),
            F.concat(lit_body, F.lit("^^"), _turtle_uri("o_datatype")),
        )
        .otherwise(lit_body)
    )
    return F.concat_ws(" ", subj, pred, obj, F.lit("."))


def write_turtle(triples: DataFrame, path: str) -> None:
    """K2 sink, distributed Turtle: each partition becomes one part
    file that is a complete Turtle document (prefix header + lines) —
    append-merge friendly, and `cat part-*` is itself valid Turtle
    because repeated @prefix declarations are legal."""
    _turtle_values(triples).write.mode("overwrite").text(path)


def _turtle_values(triples: DataFrame) -> DataFrame:
    """The one-column ``value`` frame that ``write_turtle`` writes."""
    # Entirely JVM-side: the header rides the partition's FIRST row as
    # a codegen concat instead of an Arrow pass whose only job was to
    # prepend 11 lines (shipping every line JVM->Python->JVM measured
    # ~70% of the whole write). monotonically_increasing_id() is
    # documented as partitionId·2^33 + rowInPartition, so low-33-bits
    # == 0 identifies exactly the first row of every non-empty
    # partition; empty partitions stay empty files, and the emitted
    # bytes are identical to the old header-rows form (the text sink
    # writes one '\n' per row either way). Only the prefix depends on
    # the row: a `when` around the whole line would generate the line's
    # code once per branch.
    header = TURTLE_FULL_HEADER.rstrip("\n") + "\n"
    first_in_partition = (
        F.monotonically_increasing_id() % F.lit(1 << 33)
    ) == 0
    prefix = F.when(first_in_partition, F.lit(header)).otherwise(F.lit(""))
    return _widen(triples).select(F.concat(prefix, turtle_line()).alias("value"))


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
    rf'(?:@([A-Za-z\-]+)|\^\^<([^>]*)>|\^\^({_PNAME}))?|({_PNAME}))\s*\.\s*$'
)


def read_turtle(spark, path: str) -> DataFrame:
    """S4 source: line-oriented Turtle subset → triples DataFrame.

    @prefix declarations are dimension-sized (a handful per document)
    — collected once on the driver to build the expansion map; triple
    lines parse per-line with one regex, fully distributed."""
    lines = spark.read.text(path).filter(F.length(F.trim("value")) > 0)
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
    body = lines.filter(
        ~F.col("value").startswith("@prefix") & ~F.col("value").startswith("#")
    )
    base, gs = _packed_groups_df(body, F.col("value"), _TTL_RE, 13)
    raw = base.select(
        gs[0].alias("s_uri"), gs[1].alias("s_bnode"), gs[2].alias("s_pn"),
        gs[3].alias("p_uri"), gs[4].alias("p_pn"), gs[5].alias("p_a"),
        gs[6].alias("o_uri"), gs[7].alias("o_bnode"), gs[8].alias("o_lit"),
        gs[9].alias("o_lang_m"), gs[10].alias("o_dt_uri"),
        gs[11].alias("o_dt_pn"), gs[12].alias("o_pn"),
    )
    o_lit = _unescape_literal(raw["o_lit"])
    rdf_type = EXPANSIONS["rdf"] + "type"
    is_obj_uri = (raw["o_uri"] != "") | (raw["o_pn"] != "")
    return raw.select(
        F.when(raw["s_uri"] != "", raw["s_uri"])
        .when(raw["s_bnode"] != "", raw["s_bnode"])
        .otherwise(_expand_with(raw["s_pn"], pmap))
        .alias("s"),
        F.when(raw["p_a"] != "", F.lit(rdf_type))
        .when(raw["p_uri"] != "", raw["p_uri"])
        .otherwise(_expand_with(raw["p_pn"], pmap))
        .alias("p"),
        F.when(raw["o_uri"] != "", raw["o_uri"])
        .when(raw["o_pn"] != "", _expand_with(raw["o_pn"], pmap))
        .when(raw["o_bnode"] != "", raw["o_bnode"])
        .otherwise(o_lit)
        .alias("o"),
        F.when(is_obj_uri, F.lit("uri"))
        .when(raw["o_bnode"] != "", F.lit("bnode"))
        .otherwise(F.lit("literal"))
        .alias("o_type"),
        F.when(raw["o_dt_uri"] != "", raw["o_dt_uri"])
        .when(raw["o_dt_pn"] != "", _expand_with(raw["o_dt_pn"], pmap))
        .alias("o_datatype"),
        F.when(raw["o_lang_m"] != "", raw["o_lang_m"]).alias("o_lang"),
    )


# N-Quads (S4): N-Triples + optional graph label as 4th term.
_NQ_RE = (
    r'^(?:<([^>]*)>|(_:\S+))\s+<([^>]*)>\s+'
    r'(?:<([^>]*)>|(_:\S+)|"([^"\\]*(?:\\.[^"\\]*)*)"'
    r'(?:@([A-Za-z\-]+)|\^\^<([^>]*)>)?)'
    r'(?:\s+(?:<([^>]*)>|(_:\S+)))?\s*\.\s*$'
)


def read_nquads(spark, path: str) -> DataFrame:
    """S4 source: N-Quads → triples DataFrame + nullable `g` graph
    column (null = default graph)."""
    lines = spark.read.text(path).filter(F.length(F.trim("value")) > 0)
    base, gs = _packed_groups_df(lines, F.col("value"), _NQ_RE, 10)
    raw = base.select(
        gs[0].alias("s_uri"), gs[1].alias("s_bnode"), gs[2].alias("p"),
        gs[3].alias("o_uri"), gs[4].alias("o_bnode"), gs[5].alias("o_lit"),
        gs[6].alias("o_lang_m"), gs[7].alias("o_dt_m"),
        gs[8].alias("g_uri"), gs[9].alias("g_bnode"),
    )
    o_lit = _unescape_literal(raw["o_lit"])
    return raw.select(
        F.when(raw["s_uri"] != "", raw["s_uri"]).otherwise(raw["s_bnode"]).alias("s"),
        F.col("p"),
        F.when(raw["o_uri"] != "", raw["o_uri"])
        .when(raw["o_bnode"] != "", raw["o_bnode"])
        .otherwise(o_lit)
        .alias("o"),
        F.when(raw["o_uri"] != "", F.lit("uri"))
        .when(raw["o_bnode"] != "", F.lit("bnode"))
        .otherwise(F.lit("literal"))
        .alias("o_type"),
        F.when(raw["o_dt_m"] != "", raw["o_dt_m"]).alias("o_datatype"),
        F.when(raw["o_lang_m"] != "", raw["o_lang_m"]).alias("o_lang"),
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
