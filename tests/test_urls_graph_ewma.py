"""Unit tests for the round-6 additions: URL canonicalization
(functions/urls.py), bounded EWMA (operators/temporal.ewma_bounded),
and min-distance BFS levels (operators/graph.bfs_levels)."""

from __future__ import annotations

from urllib.parse import urlsplit

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from razulibs_spark.functions.urls import canonical_url
from razulibs_spark.operators.graph import bfs_levels
from razulibs_spark.operators.temporal import ewma_bounded


# --- URL canonicalization -------------------------------------------------

def _py_canonical(url: str) -> str:
    """Independent reference canonicalizer built on urllib.urlsplit —
    the spec the Column expression must match."""
    parts = urlsplit(url)
    scheme = parts.scheme.lower()
    host = (parts.hostname or "").lower()
    if host.startswith("www."):
        host = host[4:]
    port = parts.port
    default = {"https": 443, "http": 80}.get(scheme)
    netloc = host if port in (None, default) else f"{host}:{port}"
    path = parts.path
    while "//" in path:
        path = path.replace("//", "/")
    if path == "":
        path = "/"
    params = [
        p for p in parts.query.split("&")
        if p != "" and not p.startswith("utm_")
    ]
    query = "&".join(sorted(params))
    return f"{scheme}://{netloc}{path}" + (f"?{query}" if query else "")


_SCHEMES = st.sampled_from(["http", "https", "HTTP", "HtTpS"])
_HOSTS = st.sampled_from(
    ["example.com", "WWW.Example.COM", "sub.host.org", "www.a.b"]
)
_PORTS = st.sampled_from(["", ":80", ":443", ":8080"])
_PATHS = st.sampled_from(
    ["", "/", "/a/b", "/a//b///c", "/Item/7", "//x"]
)
_QUERIES = st.sampled_from(
    ["", "?a=1&b=2", "?b=2&a=1", "?utm_source=x&a=1", "?utm_a=1&utm_b=2",
     "?z=3&&a=1", "?a=1&A=2"]
)
_FRAGS = st.sampled_from(["", "#top", "#a/b?c=1"])


@settings(max_examples=40, deadline=None)
@given(_SCHEMES, _HOSTS, _PORTS, _PATHS, _QUERIES, _FRAGS)
def test_canonical_url_matches_urllib_reference(
    spark_session_holder, scheme, host, port, path, query, frag
):
    spark = spark_session_holder
    url = f"{scheme}://{host}{port}{path}{query}{frag}"
    got = (
        spark.range(1)
        .select(canonical_url(F.lit(url)).alias("c"))
        .collect()[0]["c"]
    )
    assert got == _py_canonical(url), url


@pytest.fixture(scope="module")
def spark_session_holder(spark):
    # hypothesis can't take function-scoped fixtures; re-expose the
    # session-scoped spark fixture at module scope.
    return spark


def test_canonical_url_batch(spark):
    cases = {
        "HTTPS://WWW.Ex.COM:443/a//b?utm_x=1&b=2&a=1#f":
            "https://ex.com/a/b?a=1&b=2",
        "http://Host.org:8080//":
            "http://host.org:8080/",
        "https://site.net":
            "https://site.net/",
        "http://site.net:80/p?utm_source=x":
            "http://site.net/p",
    }
    df = spark.createDataFrame(
        [(k,) for k in cases], "url string"
    ).select("url", canonical_url(F.col("url")).alias("c"))
    for row in df.collect():
        assert row["c"] == cases[row["url"]], row["url"]


# --- bounded EWMA ---------------------------------------------------------

def test_ewma_bounded_fold(spark):
    rows = [(1, i, float(v)) for i, v in enumerate([10, 20, 30, 40])]
    df = spark.createDataFrame(rows, "user_id int, event_id int, value double")
    got = {
        r["event_id"]: r["ewma"]
        for r in ewma_bounded(
            df, key="user_id", order=("event_id",), value="value",
            alpha=0.25, lookback=3,
        ).collect()
    }
    # manual fold, seed = oldest value in the ≤3-element frame
    assert got[0] == 10.0
    assert got[1] == 10.0 * 0.75 + 20 * 0.25
    assert got[2] == (10.0 * 0.75 + 20 * 0.25) * 0.75 + 30 * 0.25
    # frame slides: seeds with 20 once the first value ages out
    assert got[3] == (20.0 * 0.75 + 30 * 0.25) * 0.75 + 40 * 0.25


def test_ewma_is_per_key(spark):
    df = spark.createDataFrame(
        [(1, 0, 5.0), (2, 0, 100.0), (1, 1, 10.0)],
        "user_id int, event_id int, value double",
    )
    got = {
        (r["user_id"], r["event_id"]): r["ewma"]
        for r in ewma_bounded(
            df, key="user_id", order=("event_id",), value="value"
        ).collect()
    }
    assert got[(2, 0)] == 100.0          # other user's values never leak
    assert got[(1, 1)] == 5.0 * 0.75 + 10.0 * 0.25


def test_ewma_rejects_null_values(spark):
    """collect_list drops nulls, which would silently shift the frame
    (borrow older rows) instead of propagating null — the operator
    fails fast instead (documented PRECONDITION)."""
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError

    df = spark.createDataFrame(
        [(1, 0, 5.0), (1, 1, None), (1, 2, 7.0)],
        "user_id int, event_id int, value double",
    )
    with _pytest.raises((Py4JJavaError, Exception), match="ewma_bounded: null"):
        ewma_bounded(
            df, key="user_id", order=("event_id",), value="value"
        ).collect()


# --- BFS levels -----------------------------------------------------------

def test_bfs_levels_min_distance_cycle_and_unreachable(spark):
    # 0-1-2-3 path, a 1-3 chord (two paths to 3 → min wins),
    # a 2-0 back-edge (cycle), and isolated node 9 via edge 8-9.
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (1, 3), (2, 0), (8, 9)],
        "src long, dst long",
    )
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {
        r["node"]: r["level"]
        for r in bfs_levels(edges, seeds, max_depth=5).collect()
    }
    assert got == {0: 0, 1: 1, 2: 1, 3: 2}  # 8,9 unreachable; 3 via chord


def test_bfs_levels_depth_bound_and_direction(spark):
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {
        r["node"]: r["level"]
        for r in bfs_levels(
            edges, seeds, max_depth=2, undirected=False
        ).collect()
    }
    assert got == {0: 0, 1: 1, 2: 2}  # 3 cut by max_depth
    # directed: seeding from the sink reaches nothing
    got_rev = {
        r["node"]: r["level"]
        for r in bfs_levels(
            edges,
            spark.createDataFrame([(3,)], "node long"),
            max_depth=3,
            undirected=False,
        ).collect()
    }
    assert got_rev == {3: 0}


# --- iteration pinning policy ----------------------------------------------

def test_pin_iteration_modes(spark):
    from razulibs_spark.operators.pinning import pin_iteration

    df = spark.range(10)
    # auto on local[n] → localCheckpoint: lineage truncated — the
    # optimized plan is a materialized-RDD scan, no CacheManager entry
    pinned = pin_iteration(df)
    assert "LogicalRDD" in pinned._jdf.queryExecution().optimizedPlan().toString()
    assert not pinned.is_cached
    assert pin_iteration(spark.range(5)).count() == 5


def test_pin_iteration_reliable_checkpoint_and_errors(spark, tmp_path):
    from razulibs_spark.operators.pinning import (
        pin_iteration,
        resolve_pin_mode,
    )

    # forced reliable checkpoint: lineage cut, files land in the dir
    spark.sparkContext.setCheckpointDir(str(tmp_path))
    spark.conf.set("spark.razulibs.iterPin", "checkpoint")
    try:
        pinned = pin_iteration(spark.range(10))
        assert "LogicalRDD" in (
            pinned._jdf.queryExecution().optimizedPlan().toString()
        )
        assert pinned.count() == 10
        assert any(tmp_path.iterdir())  # checkpoint files written
    finally:
        spark.conf.unset("spark.razulibs.iterPin")
    # the pure policy matrix (cluster branches, untestable live here)
    assert resolve_pin_mode("auto", "local[8]", False) == "localCheckpoint"
    assert resolve_pin_mode("auto", "yarn", True) == "checkpoint"
    with pytest.raises(ValueError, match="setCheckpointDir"):
        resolve_pin_mode("auto", "yarn", False)  # no silent bad default
    with pytest.raises(ValueError, match="not one of"):
        resolve_pin_mode("Persist", "local[8]", False)  # typo must raise
    with pytest.raises(ValueError, match="not one of"):
        resolve_pin_mode("persist", "yarn", False)  # no mode leaves cache entries
    # local-cluster runs REAL separate executor JVMs — localCheckpoint
    # blocks can be lost on executor failure, so it is NOT "local"
    assert resolve_pin_mode("auto", "local", False) == "localCheckpoint"
    assert (
        resolve_pin_mode("auto", "local-cluster[2,1,1024]", True)
        == "checkpoint"
    )
    with pytest.raises(ValueError, match="setCheckpointDir"):
        resolve_pin_mode("auto", "local-cluster[2,1,1024]", False)


# --- randomized cross-checks against pure-Python references ---------------

@settings(max_examples=15, deadline=None)
@given(st.lists(st.floats(min_value=-1e6, max_value=1e6,
                          allow_nan=False, allow_infinity=False),
                min_size=1, max_size=12),
       st.integers(min_value=1, max_value=6))
def test_ewma_matches_python_fold_bitwise(spark_session_holder, vals, lb):
    """Bit-identical to the reference fold: same IEEE ops, same order
    — the exact property the DuckDB oracle relies on."""
    spark = spark_session_holder
    df = spark.createDataFrame(
        [(1, i, float(v)) for i, v in enumerate(vals)],
        "user_id int, event_id int, value double",
    )
    got = {
        r["event_id"]: r["ewma"]
        for r in ewma_bounded(
            df, key="user_id", order=("event_id",), value="value",
            alpha=0.25, lookback=lb,
        ).collect()
    }
    for i in range(len(vals)):
        frame = vals[max(0, i - lb + 1): i + 1]
        acc = frame[0]
        for x in frame[1:]:
            acc = acc * 0.75 + x * 0.25
        assert got[i] == acc, (i, vals, lb)


@settings(max_examples=10, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 12), st.integers(0, 12)),
                min_size=1, max_size=40),
       st.integers(min_value=0, max_value=12))
def test_bfs_levels_match_python_bfs(spark_session_holder, edge_list, seed):
    spark = spark_session_holder
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    seeds = spark.createDataFrame([(seed,)], "node long")
    got = {
        r["node"]: r["level"]
        for r in bfs_levels(edges, seeds, max_depth=13).collect()
    }
    # reference BFS over the undirected adjacency
    adj: dict[int, set[int]] = {}
    for u, v in edge_list:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    want, frontier = {seed: 0}, [seed]
    d = 0
    while frontier:
        d += 1
        nxt = []
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in want:
                    want[v] = d
                    nxt.append(v)
        frontier = nxt
    assert got == want, edge_list


# --- perceptual average-hash ------------------------------------------------

def test_image_ahash_known_grid_and_orientation(spark):
    import hashlib

    from razulibs_spark.operators.multimodal import (
        encode_bmp,
        encode_ppm,
        image_ahash,
    )

    # 2x2 image (channels must stay ≤255 — the encoders mask with
    # &0xFF): gray (r+g+b) = [[0, 300], [600, 750]]; total=1650 →
    # strict gray·4 > total gives bits 0011 row-major top-down for
    # the PPM, and BMP must agree after its bottom-up flip.
    vals = {(0, 0): (0, 0, 0), (1, 0): (100, 100, 100),
            (0, 1): (200, 200, 200), (1, 1): (250, 250, 250)}
    fn = lambda x, y: vals[(x, y)]
    df = spark.createDataFrame(
        [(1, bytearray(encode_ppm(2, 2, fn)), "image/x-portable-pixmap"),
         (2, bytearray(encode_bmp(2, 2, fn)), "image/bmp"),
         (3, bytearray(b"\x00bad"), "image/bmp"),
         (4, bytearray(b"RIFF"), "audio/wav")],
        "doc_id long, payload binary, media_format string",
    )
    got = {r["doc_id"]: r.asDict() for r in image_ahash(df).collect()}
    want = hashlib.md5(b"0011").hexdigest()
    assert got[1]["ahash"] == want and got[1]["bits_set"] == 2
    assert got[2]["ahash"] == want            # orientation-normalized
    assert got[1]["decoded"] and got[2]["decoded"]
    assert not got[3]["decoded"] and "BMP" in got[3]["note"]
    assert not got[4]["decoded"] and "no pixel decoder" in got[4]["note"]
    # sensitivity: swap two pixels → different hash (it IS spatial)
    vals2 = dict(vals)
    vals2[(0, 0)], vals2[(1, 1)] = vals2[(1, 1)], vals2[(0, 0)]
    df2 = spark.createDataFrame(
        [(9, bytearray(encode_ppm(2, 2, lambda x, y: vals2[(x, y)])),
          "image/x-portable-pixmap")],
        "doc_id long, payload binary, media_format string",
    )
    got2 = image_ahash(df2).collect()[0]
    assert got2["ahash"] != want and got2["bits_set"] == 2


def test_registrable_domain_psl_semantics(spark):
    """Longest label-boundary suffix wins; implicit-* fallback for
    unknown TLDs; a host that IS a public suffix has no registrable
    domain; matching never crosses label boundaries (notco.uk's
    suffix is uk via fallback... no — 'notco.uk' ends in the listed
    'uk', so registrable is 'notco.uk' — the trap is 'o.uk' vs
    'co.uk')."""
    from razulibs_spark.functions.urls import registrable_domain

    sfx = ["com", "co.uk", "uk", "ac.jp", "jp"]
    rows = [
        ("news.bbc.co.uk", "bbc.co.uk"),   # multi-label suffix wins
        ("bbc.co.uk", "bbc.co.uk"),
        ("deep.a.b.example.com", "example.com"),
        ("example.uk", "example.uk"),       # 'uk' alone also listed
        ("x.o.uk", "o.uk"),                 # 'o.uk' is NOT 'co.uk'
        ("h1.unknowntld", "h1.unknowntld"), # implicit-* fallback
        ("co.uk", None),                    # bare public suffix
        ("com", None),
        ("localhost", None),                # single label, fallback
    ]
    df = spark.createDataFrame([(h,) for h, _ in rows], "host string")
    got = {
        r["host"]: r["reg"]
        for r in df.select(
            "host",
            registrable_domain(F.col("host"), sfx).alias("reg"),
        ).collect()
    }
    for host, want in rows:
        assert got[host] == want, (host, got[host], want)
