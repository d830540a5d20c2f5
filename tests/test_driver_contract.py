"""Guards on the driver contract in __spark_entry__.py: the rotation
must never lose queries, and the 50-entry correctness window must be
spent on entries that benefit from driver verification."""

from __future__ import annotations

import importlib

_entry = importlib.import_module("__spark_entry__")
from razulibs_spark import queries as Q  # noqa: E402


def test_rotation_preserves_registry():
    ordered = list(_entry.queries())
    assert set(ordered) == set(Q.QUERIES), "rotation lost/invented entries"
    assert len(ordered) == len(Q.QUERIES)


def test_window_prioritizes_unverified_oracle_entries():
    ordered = list(_entry.queries())
    window = ordered[:50]
    pv = _entry._EFFECTIVE_VERIFIED
    # every fresh oracle-backed entry ranks before any fresh rows-only
    # entry, which ranks before any previously-verified entry
    ranks = []
    for name in ordered:
        if name not in pv and name in Q.ORACLES:
            ranks.append(0)
        elif name not in pv:
            ranks.append(1)
        else:
            ranks.append(2)
    assert ranks == sorted(ranks), "rotation ordering violated"
    # the window is not wasted on already-verified entries while
    # unverified oracle-backed entries exist outside it
    outside_fresh = [n for n in ordered[50:] if n not in pv and n in Q.ORACLES]
    inside_seen = [n for n in window if n in pv]
    assert not (outside_fresh and inside_seen), (
        "window wastes slots on verified entries"
    )


def test_every_query_name_is_stable_identifier():
    for name in Q.QUERIES:
        assert name.replace("_", "").isalnum(), name


def test_oracles_reference_only_known_tables():
    """Oracle SQL must only read the driver-registered views: every
    FROM/JOIN target must be a registered view or a name the SQL
    itself defines (CTE or subquery alias) — a typo'd or stray table
    name fails here instead of erroring in the driver's DuckDB run."""
    import re

    known = {"region", "nation", "customer", "supplier", "part", "orders",
             "lineitem", "events", "documents", "embeddings"}
    # DuckDB table functions are value generators, not table reads
    table_functions = {"unnest", "range", "generate_series"}
    for name, sql in Q.ORACLES.items():
        # string literals can contain anything ("... 'From cl2 ...'"
        # in the mboxcl2 oracle) — they are data, not table refs
        scan = re.sub(r"'(?:[^']|'')*'", "''", sql)
        # EXTRACT(unit FROM expr) is not a table reference
        scan = re.sub(r"EXTRACT\s*\(\s*\w+\s+FROM\b", "EXTRACT(", scan,
                      flags=re.IGNORECASE)
        # CTEs (incl. nested) and parenthesized-subquery aliases
        local = {
            m.group(1).lower()
            for m in re.finditer(
                r"\b([a-z_][a-z0-9_]*)\s*(?:\([a-z0-9_,\s]*\))?\s+AS\s*\(",
                scan,
                re.IGNORECASE,
            )
        }
        local |= {
            m.group(1).lower()
            for m in re.finditer(
                r"\)\s+(?:AS\s+)?([a-z_][a-z0-9_]*)", scan, re.IGNORECASE
            )
        }
        for m in re.finditer(r"(?<![a-z0-9_])(?:FROM|JOIN)\s+([a-z_][a-z0-9_]*)", scan,
                             re.IGNORECASE):
            tbl = m.group(1).lower()
            assert tbl in known or tbl in local or tbl in table_functions, (
                name,
                tbl,
            )


def test_bench_headline_covers_every_registry_entry():
    """A new queries() entry that never joins bench.HEADLINE is
    silently unbenchmarked — the drift this pin forbids."""
    import bench

    import __spark_entry__ as entry

    missing = set(entry.queries()) - set(bench.HEADLINE)
    assert not missing, sorted(missing)
    unknown = set(bench.HEADLINE) - set(entry.queries())
    assert not unknown, sorted(unknown)


def test_query_decorator_refuses_duplicate_name():
    """The registry shadow-guard (VERDICT r10 item 4): re-registering
    an existing @query name must raise at decoration time, not
    silently shadow the earlier def — the trap hit in both r9
    (events_markov_transitions) and r10 (aa3afc9)."""
    import pytest

    from razulibs_spark import queries as Q

    existing = next(iter(Q.QUERIES))
    with pytest.raises(ValueError, match="already registered"):

        @Q.query(existing)
        def dupe(spark, sf_dir):  # pragma: no cover - must not register
            raise AssertionError

    assert Q.QUERIES[existing].__name__ != "dupe"


def test_query_decorator_refuses_double_decoration():
    """The same function object registered under two names is a
    double decoration, not a new operator — raise, then roll back the
    probe registration so the registry is untouched."""
    import pytest

    from razulibs_spark import queries as Q

    @Q.query("zz_probe_entry_for_shadow_guard")
    def probe(spark, sf_dir):  # pragma: no cover
        raise AssertionError

    try:
        with pytest.raises(ValueError, match="double decoration"):
            Q.query("zz_probe_entry_2")(probe)
        assert "zz_probe_entry_2" not in Q.QUERIES
    finally:
        del Q.QUERIES["zz_probe_entry_for_shadow_guard"]
