"""Vocabulary dimension materialization — SURVEY.md D7/J2/J3
(razu/concept_resolver.py:50-114, razu/sparql_endpoint_manager.py:9-12).

The reference resolves one term per HTTPS SPARQL round-trip, softened
by lru_cache — a per-row network boundary in the hot loop. The engine
inverts this: each vocabulary is materialized ONCE into a small
(vocabulary, term, uri[, predicate, value]) DataFrame on the driver,
then broadcast-joined against facts (operators/relational.py
multilabel_resolve, the csv2rdf vocabulary cells of
operators/rdf.entities_to_triples). One query per vocabulary per run
instead of one per row.

Transport is injectable: the SPARQL path takes any callable
`(endpoint, query) -> json-dict` (requests is import-gated — not
assumed in this container); local CSV/parquet/JSON files work with no
network at all, which is also what makes the pipeline testable — the
reference's hidden blocker (SURVEY §5: csv2rdf is untestable without
its live endpoint).
"""

from __future__ import annotations

import json
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from razulibs_spark.session import local_frame

VOCAB_SCHEMA = "vocabulary string, term string, uri string"

# The reference's label alternation (concept_resolver.py:91-99),
# flattened: one SELECT per vocabulary materializes every (label,
# term) pair instead of LIMIT-1-per-term probes.
TERMS_QUERY = """
SELECT ?uri ?predicate ?term WHERE {{
  ?uri ?predicate ?term .
  VALUES ?predicate {{ skos:prefLabel schema:name rdfs:label
                       skos:altLabel schema:identifier skos:notation }}
}}
"""


def requests_transport(endpoint: str, query: str) -> dict:
    """Default HTTPS transport (import-gated; s3storage-style pattern).
    The razu endpoint shape is
    `https://api.data.razu.nl/datasets/id/{vocab}/sparql`
    (sparql_endpoint_manager.py:9-12)."""
    import requests  # noqa: PLC0415

    resp = requests.get(
        endpoint, params={"query": query},
        headers={"Accept": "application/sparql-results+json"}, timeout=60,
    )
    resp.raise_for_status()
    return resp.json()


def vocab_from_sparql(
    spark: SparkSession, vocabulary: str, endpoint: str,
    transport: Callable[[str, str], dict] = requests_transport,
) -> DataFrame:
    """Materialize one vocabulary via a single SPARQL query. Returns
    the unpivoted label dimension (vocabulary, term, uri, predicate) —
    feed to multilabel_resolve or project (term, uri) for the simple
    broadcast join."""
    body = transport(endpoint, TERMS_QUERY)
    rows = [
        (
            vocabulary,
            b["term"]["value"],
            b["uri"]["value"],
            b["predicate"]["value"].rsplit("/", 1)[-1].rsplit("#", 1)[-1],
        )
        for b in body.get("results", {}).get("bindings", [])
    ]
    return local_frame(spark, rows, VOCAB_SCHEMA + ", predicate string")


def sparqlwrapper_transport(endpoint: str, query: str) -> dict:
    """SPARQLWrapper-style transport matching the reference's client
    (concept_resolver.py:103-114) — import-gated like the boto3
    factory (sinks/object_store.py): the library is absent in this
    container, so construction raises ImportError with the pip hint
    and every test path injects a stub transport instead."""
    from SPARQLWrapper import JSON, SPARQLWrapper  # noqa: PLC0415

    svc = SPARQLWrapper(endpoint)
    svc.setQuery(query)
    svc.setReturnFormat(JSON)
    return svc.query().convert()


#: The reference's razu endpoint shape
#: (sparql_endpoint_manager.py:9-12 via config prefix/suffix).
DEFAULT_ENDPOINT_PREFIX = "https://api.data.razu.nl/datasets/id/"
DEFAULT_ENDPOINT_SUFFIX = "/sparql"


def endpoint_for_vocabulary(
    vocabulary: str,
    prefix: str = DEFAULT_ENDPOINT_PREFIX,
    suffix: str = DEFAULT_ENDPOINT_SUFFIX,
) -> str:
    """Per-vocabulary endpoint URL (sparql_endpoint_manager.py:9-12:
    `{prefix}{vocabulary}{suffix}`)."""
    return f"{prefix}{vocabulary}{suffix}"


def materialize_vocabularies(
    spark: SparkSession,
    vocabularies: list[str],
    transport: Callable[[str, str], dict] = requests_transport,
    prefix: str = DEFAULT_ENDPOINT_PREFIX,
    suffix: str = DEFAULT_ENDPOINT_SUFFIX,
) -> DataFrame:
    """One-time fetch of EVERY needed vocabulary into a single unioned
    broadcast dimension — the deployment-shaped entry point the
    reference's per-term resolver becomes here (one SPARQL query per
    vocabulary per run, then broadcast joins; VERDICT r5 item 6). The
    result feeds multilabel_resolve / csv2rdf_triples unchanged."""
    out: DataFrame | None = None
    for voc in vocabularies:
        dim = vocab_from_sparql(
            spark, voc, endpoint_for_vocabulary(voc, prefix, suffix),
            transport=transport,
        )
        out = dim if out is None else out.unionByName(dim)
    if out is None:
        return local_frame(spark, [], VOCAB_SCHEMA + ", predicate string")
    return out


def vocab_from_file(spark: SparkSession, path: str) -> DataFrame:
    """Local vocabulary table: CSV (header), parquet, or a JSON map
    {vocabulary: {term: uri}}."""
    low = path.lower()
    if low.endswith(".parquet"):
        return spark.read.parquet(path)
    if low.endswith(".csv"):
        return spark.read.option("header", True).csv(path)
    if low.endswith(".json"):
        with open(path, "r", encoding="utf-8") as fh:
            data = json.load(fh)
        rows = [(voc, term, uri)
                for voc, terms in data.items() for term, uri in terms.items()]
        return local_frame(spark, rows, VOCAB_SCHEMA)
    raise ValueError(f"unsupported vocabulary file {path!r}")
