"""JSON-LD sink/source and multi-format RDF scan — SURVEY.md §2.1
(K1: per-entity JSON-LD sink, razu/meta_resource.py:45-54; S3: JSON-LD
scan, razu/meta_resource.py:56-61; S4: multi-format RDF scan,
razu/turtle.py:6-32).

Representation: *flat* JSON-LD — one document per entity, holding an
`@graph` array of node objects (the entity node plus the blank nodes
it owns). Blank nodes stay skolemized (`bnode:<uid>:<local>`,
operators/rdf.py) and are carried verbatim in `@id`; skolemization is
the W3C-sanctioned way to give blank nodes stable IRIs, and it is what
lets two documents merge with a plain union instead of the reference's
bnode-suffix remap (tools/collect_rdf.py:37-54).

Scale shape: the sink is JSON-Lines — one complete JSON-LD document
per line — not one file per entity (the reference's per-entity
`open()`/`write()` at meta_resource.py:45-54 is the single-node
pattern; a 100 TB corpus wants few large files, and any consumer can
still address one entity = one line). Building documents is the one
genuinely row-shaped job here (SURVEY §2.11), so it runs as an
Arrow-batched mapInPandas — never row-at-a-time Python UDFs. The read
side has no Python worker: one chain of built-in variant expressions
(parse_json, then explodes over nodes, predicates and values) serves
both `read_jsonld` and the per-entity `scan_sip_dir`, and a glob over
one directory is read as that directory with a file-name filter.
"""

from __future__ import annotations

import json
import os
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from razulibs_spark.operators.rdf import NAMESPACES


def owning_entity(subject: Column) -> Column:
    """Default document-grouping key: a skolemized bnode
    `bnode:<uid>:<local>` belongs to the entity `<uid>`; a URI subject
    `.../<uid>` is keyed by its last path segment (the razu_uri
    convention, functions/scalars.py). Callers with other URI layouts
    pass their own `owner` column."""
    return F.when(
        subject.startswith("bnode:"),
        F.regexp_extract(subject, r"^bnode:(.+):[^:]+$", 1),
    ).otherwise(F.regexp_extract(subject, r"([^/]+)$", 1))


def _value_object(row) -> object:
    if row.o_type in ("uri", "bnode"):
        return {"@id": row.o}
    if row.o_lang:
        return {"@value": row.o, "@language": row.o_lang}
    if row.o_datatype:
        return {"@value": row.o, "@type": row.o_datatype}
    return {"@value": row.o}


def _doc_json(nodes: dict) -> str:
    """Nodes dict → one flat JSON-LD document string. Deterministic:
    nodes ordered by @id, predicates sorted, objects in first-seen
    order (callers wanting canonical output sort upstream)."""
    graph = [
        {k: node[k] for k in ["@id"] + sorted(k for k in node if k != "@id")}
        for _, node in sorted(nodes.items())
    ]
    doc = {"@context": dict(sorted(NAMESPACES.items())), "@graph": graph}
    return json.dumps(doc, ensure_ascii=False)


def _docs_from_sorted(pdf: pd.DataFrame) -> pd.DataFrame:
    """Owner-contiguous (sorted) triple rows → one row per document."""
    entities, docs = [], []
    cur, nodes = None, {}
    for own, row in zip(pdf["_owner"].values, pdf.itertuples(index=False)):
        if own != cur:
            if cur is not None:
                entities.append(cur)
                docs.append(_doc_json(nodes))
            cur, nodes = own, {}
        node = nodes.setdefault(row.s, {"@id": row.s})
        node.setdefault(row.p, []).append(_value_object(row))
    if cur is not None:
        entities.append(cur)
        docs.append(_doc_json(nodes))
    return pd.DataFrame({"entity": entities, "jsonld": docs})


def jsonld_docs(triples: DataFrame, owner: Column | None = None) -> DataFrame:
    """(entity, jsonld) — one flat JSON-LD document string per entity.

    Scale shape: a groupBy(owner).applyInPandas would create one
    pandas frame per entity — at corpus scale that is millions of
    tiny groups and the per-group overhead IS the runtime (measured
    24.6 s → ~3 s at sf0.1, 150k entities). Instead the triples are
    hash-partitioned on the owning entity (one shuffle, same as the
    grouped form) and sorted within partitions, and a single
    streaming mapInPandas pass emits a document every time the owner
    changes; rows of the trailing owner are carried over to the next
    Arrow batch so groups that straddle batch boundaries stay intact.
    Entities are assumed document-sized (≤ thousands of triples), as
    in the reference — one entity always fits one buffer."""
    owner = owning_entity(F.col("s")) if owner is None else owner
    t = triples.withColumn("_owner", owner)
    # Width: the owner-hash shuffle happens regardless; one bucket per
    # core is the right width for the CPU-bound doc-build loop — a
    # single-split source must not serialize it through one task, and
    # an explicit numPartitions repartition is NOT AQE-coalesced, so
    # tying it to shuffle.partitions would schedule mostly-empty
    # Python-worker tasks on small inputs. mapInPandas streams Arrow
    # batches, so per-partition size does not bound worker memory.
    n = triples.sparkSession.sparkContext.defaultParallelism

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if not len(pdf):
                carry = None
                continue
            last = pdf["_owner"].iloc[-1]
            tail = pdf["_owner"].values == last
            carry = pdf[tail]
            head = pdf[~tail]
            if len(head):
                yield _docs_from_sorted(head)
        if carry is not None and len(carry):
            yield _docs_from_sorted(carry)

    # Sort on the FULL row (not just _owner,s,p): duplicate (s,p) with
    # several objects would otherwise leave the emitted object-list
    # order up to shuffle arrival — the docstring's determinism claim
    # requires the value columns in the sort key too (ADVICE r5).
    return (
        t.repartition(n, "_owner")
        .sortWithinPartitions(
            "_owner", "s", "p", "o", "o_type", "o_datatype", "o_lang"
        )
        .mapInPandas(gen, schema="entity string, jsonld string")
    )


def write_jsonld(triples: DataFrame, path: str, owner: Column | None = None) -> None:
    """K1 sink: JSON-Lines of per-entity JSON-LD documents."""
    jsonld_docs(triples, owner).select("jsonld").write.mode("overwrite").text(path)


# A JSON-LD value object as a struct; NULL for a bare scalar. A
# non-string @value becomes its JSON lexical form.
_VALUE_OBJECT = "struct<`@id`:string,`@value`:string,`@type`:string,`@language`:string>"


def _text_lines(spark: SparkSession, path: str) -> DataFrame:
    """The non-blank lines under ``path``. A glob in the last path
    component (``dir/*.meta.json``) reads the one directory with a
    file-name filter: Spark expands a glob to one path per file, and
    above ``parallelPartitionDiscovery.threshold`` paths lists them in
    a job of one task per file, on every action."""
    head, base = os.path.split(path)
    reader = spark.read
    if any(c in base for c in "*?[{"):
        reader, path = reader.option("pathGlobFilter", base), head or "."
    return reader.text(path).filter(F.length(F.trim("value")) > 0)


def _triples(lines: DataFrame, *keep: str) -> DataFrame:
    """Flat JSON-LD document lines -> triple columns plus ``keep``:
    explode each document's nodes (``@graph``, or the document
    itself), their non-keyword predicates, and each predicate's values
    (a list, or one value). ``parse_json``, not ``try_parse_json``: a
    malformed document fails the read."""
    doc, node, v = F.parse_json("value"), F.col("node"), F.col("v")
    obj, iri = F.col("obj"), F.col("obj")["@id"]
    values = (
        lines.select(*keep, F.explode(F.coalesce(
            F.try_variant_get(doc, "$['@graph']", "array<variant>"), F.array(doc)
        )).alias("node"))
        .select(*keep, F.variant_get(node, "$['@id']", "string").alias("s"),
                F.explode(node.cast("map<string,variant>")).alias("p", "v"))
        .filter(~F.col("p").startswith("@"))
        .select(*keep, "s", "p", F.explode(F.coalesce(
            F.try_variant_get(v, "$", "array<variant>"), F.array(v)
        )).alias("e"))
        .withColumn("obj", F.try_variant_get("e", "$", _VALUE_OBJECT))
    )
    return values.select(
        "s", "p",
        F.when(obj.isNull(), F.variant_get("e", "$", "string"))
        .otherwise(F.coalesce(iri, obj["@value"])).alias("o"),
        F.when(iri.startswith("bnode:"), "bnode")
        .when(iri.isNotNull(), "uri").otherwise("literal").alias("o_type"),
        F.when(iri.isNull(), obj["@type"]).alias("o_datatype"),
        F.when(iri.isNull(), obj["@language"]).alias("o_lang"),
        *keep,
    )


def read_jsonld(spark: SparkSession, path: str) -> DataFrame:
    """S3 source: JSON-LD documents (one per line) -> triples DataFrame.
    ``path`` is a file, a directory or a file-name glob in one
    directory (``sip/*.meta.json``). Line-framed, so the parse
    distributes per input split, in built-in expressions only. A
    boolean ``@value`` reads as its RDF lexical form ``true``/``false``
    (the earlier Python parser's ``str(True)`` gave ``True``)."""
    return _triples(_text_lines(spark, path))


def read_rdf(spark: SparkSession, path: str, fmt: str | None = None) -> DataFrame:
    """S4 multi-format RDF scan (razu/turtle.py:6-32 tries
    turtle/xml/n3/nt/trig/nquads/json-ld/trix until one parses; here
    the extension decides, with an explicit override —
    content-sniffing a 100 TB input is not a plan, a schema is).

    All eight reference formats dispatch: the line-framed three
    (jsonld/nt/nq) parse per input split; Turtle/N3 and the
    document-framed three (rdfxml/trig/trix — sources/rdfxml.py) parse
    per file. Turtle goes to the full-grammar reader
    (``turtle_full.read_turtle_full``): a statement may span lines and
    carry ``;``/``,`` lists, which the line-subset ``rdf_io.read_turtle``
    (``write_turtle``'s inverse) would mis-parse without an error.
    Graph labels of quad formats (nquads/trig/trix) are dropped here —
    S4's contract is a triples frame; use the readers directly for the
    quad shape."""
    from razulibs_spark.sources.rdf_io import read_nquads, read_ntriples
    from razulibs_spark.sources.rdfxml import read_rdfxml, read_trig, read_trix
    from razulibs_spark.sources.turtle_full import read_turtle_full

    if fmt is None:
        low = path.lower().rstrip("/")
        if low.endswith((".jsonld", ".json")):
            fmt = "jsonld"
        elif low.endswith((".nt", ".ntriples")):
            fmt = "ntriples"
        elif low.endswith((".ttl", ".turtle", ".n3")):
            fmt = "turtle"
        elif low.endswith((".nq", ".nquads")):
            fmt = "nquads"
        elif low.endswith((".rdf", ".rdfxml", ".owl", ".xml")):
            fmt = "rdfxml"
        elif low.endswith(".trig"):
            fmt = "trig"
        elif low.endswith(".trix"):
            fmt = "trix"
        else:
            raise ValueError(
                f"cannot infer RDF format from {path!r}; pass fmt="
            )
    if fmt == "jsonld":
        return read_jsonld(spark, path)
    if fmt == "ntriples":
        return read_ntriples(spark, path)
    if fmt in ("turtle", "n3"):
        # every file of a directory, as the line-framed readers take it
        return read_turtle_full(spark, path, glob="*")
    if fmt == "nquads":
        return read_nquads(spark, path).drop("g")
    if fmt in ("rdfxml", "xml"):
        return read_rdfxml(spark, path)
    if fmt == "trig":
        return read_trig(spark, path).drop("g")
    if fmt == "trix":
        return read_trix(spark, path).drop("g")
    raise ValueError(f"unsupported RDF format {fmt!r}")


def write_jsonld_per_entity(docs: DataFrame, directory: str,
                            suffix: str = ".meta.json") -> int:
    """The reference's exact one-file-per-entity layout
    (meta_resource.py:45-54: `{uid}.meta.json`), written from the
    executors. ``docs`` is a :func:`jsonld_docs` frame of
    (entity, jsonld) rows; each becomes ``<entity><suffix>`` holding
    the document and a newline, UTF-8 encoded (documents keep
    non-ASCII text). Each file is written under a dot-prefixed temporary
    name in ``directory`` and renamed onto its final name, so a killed
    or retried task leaves no truncated document; directory listings
    and the ``*<suffix>`` filter skip dot-prefixed names. Returns the
    number of files written, counted by the same action that writes
    them.

    ``directory`` must be on a filesystem every executor mounts
    (NFS/FUSE-mounted object store; local[n] trivially). The
    line-oriented sink for corpus scale is write_jsonld (JSON-Lines)."""
    os.makedirs(directory, exist_ok=True)

    def write(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for entity, doc in zip(pdf["entity"], pdf["jsonld"]):
                name = entity + suffix
                tmp = os.path.join(directory, f".{name}.{os.getpid()}.tmp")
                with open(tmp, "w", encoding="utf-8") as fh:
                    fh.write(doc + "\n")
                os.replace(tmp, os.path.join(directory, name))
            yield pd.DataFrame({"n": [len(pdf)]})

    return sum(r["n"] for r in docs.mapInPandas(write, "n long").collect())


def scan_sip_dir(spark: SparkSession, directory: str,
                 suffix: str = ".meta.json") -> DataFrame:
    """S5 directory scan -> resource set (razu/sip.py:186-196): the
    ``*<suffix>`` documents of one listed directory parsed to triples,
    plus an ``entity_id`` column, the filename less its suffix, taken
    from input_file_name() before the explodes."""
    lines = _text_lines(spark, os.path.join(directory, "*" + suffix)).withColumn(
        "entity_id",
        F.regexp_extract(
            F.input_file_name(), r"([^/]+)" + suffix.replace(".", r"\.") + "$", 1
        ),
    )
    return _triples(lines, "entity_id")
