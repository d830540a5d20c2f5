"""The collect_rdf lifecycle as one lazy plan — SURVEY.md §3 runner-up
entry point (tools/collect_rdf.py:63-136): a manifest of per-entity
JSON-LD files → parsed triples → xsd:integer lexical validation with
demotion → invalid-triple filter → graph union → combined Turtle.

Deltas from the reference, by design:
- The per-file loop with rdflib (collect_rdf.py:70-75) is a
  distributed line-framed JSON-LD scan in built-in expressions
  (sources/jsonld.py); a `dir/*.meta.json` input is read as the one
  directory with a file-name filter, not one path per file.
- The bnode suffix-remap (collect_rdf.py:37-54) does not exist:
  skolemized bnode ids are globally unique already (SURVEY §1.2).
- Integer demotion (collect_rdf.py:57-60,93-111) is a when/otherwise
  projection, not a mutate-in-place loop; demoted rows are reported
  set-at-a-time instead of `print`-per-row (capped like the
  reference's max-10 display, T4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from razulibs_spark.operators.rdf import graph_union, valid_triples

XSD_INTEGER = "http://www.w3.org/2001/XMLSchema#integer"
_INT_LEXICAL = r"^[+-]?\d+$"


def demote_invalid_integers(triples: DataFrame) -> DataFrame:
    """P11 (collect_rdf.py:57-60,93-111): literals typed xsd:integer
    whose lexical form is invalid lose the datatype (become plain
    literals) instead of failing the load."""
    is_int = (F.col("o_type") == "literal") & (
        F.col("o_datatype").isin(XSD_INTEGER, "xsd:integer")
    )
    bad = is_int & ~F.col("o").rlike(_INT_LEXICAL)
    return triples.withColumn(
        "o_datatype", F.when(bad, F.lit(None)).otherwise(F.col("o_datatype"))
    )


def invalid_integer_report(triples: DataFrame, limit: int = 10) -> DataFrame:
    """The reference prints at most 10 offending literals
    (collect_rdf.py:104-107); here they are a bounded DataFrame."""
    is_int = (F.col("o_type") == "literal") & (
        F.col("o_datatype").isin(XSD_INTEGER, "xsd:integer")
    )
    return (
        triples.filter(is_int & ~F.col("o").rlike(_INT_LEXICAL))
        .select("s", "p", "o")
        .limit(limit)
    )


def collect_rdf(spark: SparkSession, *jsonld_paths: str) -> DataFrame:
    """Scan every JSON-LD input, validate/demote, drop malformed
    triples, and union into one graph (U2 semantics: duplicates
    collapse, as rdflib Graph union does)."""
    from razulibs_spark.sources.jsonld import read_jsonld

    parts = [
        demote_invalid_integers(read_jsonld(spark, p)) for p in jsonld_paths
    ]
    return valid_triples(graph_union(*parts))


def collect_rdf_to_turtle(spark: SparkSession, out_path: str,
                          *jsonld_paths: str) -> None:
    """End of the lifecycle: combined graph → distributed Turtle (K2)."""
    from razulibs_spark.sources.rdf_io import write_turtle

    write_turtle(collect_rdf(spark, *jsonld_paths), out_path)
