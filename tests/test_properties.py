"""Property-based tests (hypothesis) — beyond the reference's test
strategy (SURVEY.md §5 notes it has none): serialization round-trips
and scalar-function invariants over generated inputs, executed in one
Spark job per property run (inputs batched into a single DataFrame).
"""

from __future__ import annotations

from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from razulibs_spark.operators.rdf import TRIPLE_SCHEMA
from razulibs_spark.sources.rdf_io import ntriples_line, read_ntriples

# Literals including the escape-relevant characters.
literal_text = st.text(
    alphabet=st.characters(
        codec="utf-8", categories=("L", "N", "P", "Zs"),
        include_characters='"\\\n\r\t',
    ),
    min_size=0, max_size=60,
)


@settings(max_examples=20, deadline=None)
@given(st.lists(literal_text, min_size=1, max_size=30))
def test_ntriples_literal_escape_roundtrip(spark, texts):
    """Serialize literals containing quotes/backslashes/newlines/tabs
    to N-Triples lines and parse back: values survive exactly."""
    rows = [
        (f"https://ex.org/s{i}", "https://ex.org/p", t, "literal", None, None)
        for i, t in enumerate(texts)
    ]
    df = spark.createDataFrame(rows, TRIPLE_SCHEMA)
    lines = df.select(ntriples_line().alias("value"))
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        lines.write.mode("overwrite").text(d)
        parsed = read_ntriples(spark, d)
        got = sorted((r["s"], r["o"]) for r in parsed.collect())
    want = sorted((s, o) for s, _, o, _, _, _ in rows)
    assert got == want


import datetime

@settings(max_examples=30, deadline=None)
@given(st.lists(st.dates(min_value=datetime.date(1000, 1, 1)),
                min_size=1, max_size=40))
def test_date_type_classify_iso_dates(spark, dates):
    """Every ISO yyyy-mm-dd string classifies xsd:date and passes
    through unchanged; its d-m-yyyy Dutch form classifies xsd:date and
    normalizes to the same ISO string (util.py:9-30 semantics)."""
    from razulibs_spark.functions.scalars import date_type_classify

    rows = [(d.isoformat(), f"{d.day}-{d.month}-{d.year}") for d in dates]
    df = spark.createDataFrame(rows, "iso string, dmy string")
    t_iso, v_iso = date_type_classify(F.col("iso"))
    t_dmy, v_dmy = date_type_classify(F.col("dmy"))
    out = df.select(t_iso.alias("ti"), v_iso.alias("vi"),
                    t_dmy.alias("td"), v_dmy.alias("vd"), "iso").collect()
    for r in out:
        assert r["ti"] == "xsd:date" and r["vi"] == r["iso"]
        assert r["td"] == "xsd:date" and r["vd"] == r["iso"]


@settings(max_examples=25, deadline=None)
@given(st.lists(st.text(
    alphabet=st.characters(codec="utf-8", categories=("L", "N")),
    min_size=1, max_size=20), min_size=1, max_size=30))
def test_prefix_compact_expand_inverse(spark, locals_):
    """compact(expand(x)) == x for any prefixed name over the bound
    namespaces."""
    from razulibs_spark.operators.rdf import (
        EXPANSIONS,
        compact_prefixed,
        expand_prefixed,
    )

    prefixes = sorted(EXPANSIONS)
    rows = [(f"{prefixes[i % len(prefixes)]}:{name}",)
            for i, name in enumerate(locals_)]
    df = spark.createDataFrame(rows, "name string")
    out = df.select(
        "name", compact_prefixed(expand_prefixed(F.col("name"))).alias("rt")
    ).collect()
    for r in out:
        assert r["rt"] == r["name"], (r["name"], r["rt"])


asof_rows = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),      # key
        st.integers(min_value=0, max_value=50),     # time (seconds)
        st.integers(min_value=0, max_value=999),    # payload
    ),
    min_size=1, max_size=25,
)


@settings(max_examples=15, deadline=None)
@given(asof_rows, asof_rows)
def test_asof_join_matches_pandas_merge_asof(spark, lrows, rrows):
    """asof_join over generated keyed event sets must agree with
    pandas.merge_asof (backward, inclusive) — the de-facto reference
    semantics. Right-side duplicate timestamps are collapsed to the
    max payload first (both engines' tie choice is otherwise
    unspecified)."""
    import pandas as pd

    from razulibs_spark.operators.temporal import asof_join

    lpdf = pd.DataFrame(lrows, columns=["k", "t", "lv"]).drop_duplicates(
        ["k", "t"]
    )
    rpdf = (
        pd.DataFrame(rrows, columns=["k", "t", "rv"])
        .groupby(["k", "t"], as_index=False)["rv"].max()
    )
    lpdf["ts"] = pd.to_datetime(lpdf["t"], unit="s")
    rpdf["rts"] = pd.to_datetime(rpdf["t"], unit="s")
    expected = pd.merge_asof(
        lpdf.sort_values(["ts", "k"]).reset_index(drop=True),
        rpdf.sort_values(["rts", "k"]).reset_index(drop=True),
        left_on="ts", right_on="rts", by="k", direction="backward",
    )
    exp = {
        (r.k, r.ts): (None if pd.isna(r.rv) else int(r.rv))
        for r in expected.itertuples()
    }

    left = spark.createDataFrame(
        lpdf[["k", "ts", "lv"]], "k long, ts timestamp, lv long"
    )
    right = spark.createDataFrame(
        rpdf[["k", "rts", "rv"]], "k long, rts timestamp, rv long"
    )
    out = asof_join(left, right, on="k", left_time="ts", right_time="rts")
    got = {
        (r["k"], pd.Timestamp(r["ts"])): r["matched_rv"] for r in out.collect()
    }
    assert got == exp

    # direction="nearest" against the same pandas reference (covers
    # the exact-tie-goes-backward rule over arbitrary keyed sets)
    expected_n = pd.merge_asof(
        lpdf.sort_values(["ts", "k"]).reset_index(drop=True),
        rpdf.sort_values(["rts", "k"]).reset_index(drop=True),
        left_on="ts", right_on="rts", by="k", direction="nearest",
    )
    exp_n = {
        (r.k, r.ts): (None if pd.isna(r.rv) else int(r.rv))
        for r in expected_n.itertuples()
    }
    out_n = asof_join(
        left, right, on="k", left_time="ts", right_time="rts",
        direction="nearest",
    )
    got_n = {
        (r["k"], pd.Timestamp(r["ts"])): r["matched_rv"]
        for r in out_n.collect()
    }
    assert got_n == exp_n


@given(
    st.integers(min_value=1, max_value=9),
    st.integers(min_value=1, max_value=9),
    st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_bmp_ppm_roundtrip_any_geometry(w, h, seed):
    """encode->decode recovers exact dimensions and channel means for
    arbitrary geometries (covers every stride-padding residue)."""
    from razulibs_spark.operators.multimodal import (
        decode_bmp,
        decode_ppm,
        encode_bmp,
        encode_ppm,
    )

    def px(x, y):
        return (
            (seed + 7 * x + y) % 256,
            (seed // 3 + x * y) % 256,
            (seed ^ (x + 5 * y)) % 256,
        )

    exp_r = sum(px(x, y)[0] for x in range(w) for y in range(h)) / (w * h)
    exp_g = sum(px(x, y)[1] for x in range(w) for y in range(h)) / (w * h)
    exp_b = sum(px(x, y)[2] for x in range(w) for y in range(h)) / (w * h)
    from razulibs_spark.operators.multimodal import decode_png, encode_png

    for enc, dec in (
        (encode_bmp, decode_bmp),
        (encode_ppm, decode_ppm),
        (encode_png, decode_png),
    ):
        out = dec(enc(w, h, px))
        assert out["width"] == w and out["height"] == h
        assert out["mean_r"] == exp_r
        assert out["mean_g"] == exp_g
        assert out["mean_b"] == exp_b


@given(
    st.integers(min_value=1, max_value=4),
    st.integers(min_value=1, max_value=3),
    st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=40, deadline=None)
def test_jpeg_flat_tile_roundtrip_exact(tw, th, seed):
    """Flat 8×8-tile grayscale JPEGs are BIT-exact through the
    encode→decode DCT roundtrip for ANY tile values: a constant block
    is DC-only with integer DC, so all-ones quantization loses
    nothing. This is the invariant multimodal_decode's SQL oracle
    relies on."""
    from razulibs_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_flat_tiles,
    )

    def tile(tx, ty):
        return (seed + 37 * tx + 101 * ty) % 256

    out = decode_jpeg(encode_jpeg_flat_tiles(8 * tw, 8 * th, tile))
    exp = sum(
        tile(tx, ty) for tx in range(tw) for ty in range(th)
    ) / (tw * th)
    assert out["width"] == 8 * tw and out["height"] == 8 * th
    assert out["mean_r"] == out["mean_g"] == out["mean_b"] == exp


def test_adam7_grid_partitions_every_geometry():
    """The 7 interlace passes must cover every pixel exactly once for
    every image geometry — the invariant both encode and decode lean
    on (a wrong pass origin silently double-writes some pixels and
    never writes others)."""
    import numpy as np

    from razulibs_spark.operators.multimodal import ADAM7

    for w in range(1, 24):
        for h in range(1, 24):
            cover = np.zeros((h, w), dtype=int)
            for x0, y0, dx, dy in ADAM7:
                cover[y0::dy, x0::dx] += 1
            assert (cover == 1).all(), (w, h)


@given(
    st.integers(min_value=1, max_value=24),
    st.integers(min_value=1, max_value=24),
    st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=40, deadline=None)
def test_png_adam7_roundtrips_any_geometry(w, h, seed):
    """Adam7 interlaced encode → decode equals the progressive-scan-
    free decode for every geometry (per-pass filtering cycles all five
    filter types; partial passes at sub-8px dims included)."""
    from razulibs_spark.operators.multimodal import decode_png, encode_png

    def px(x, y):
        return ((x * 7 + seed) % 256, (y * 11 + seed) % 256,
                (x + y + seed) % 256)

    plain = decode_png(encode_png(w, h, px))
    inter = decode_png(encode_png(w, h, px, interlace=True))
    assert inter == plain


@given(
    st.integers(min_value=1, max_value=28),
    st.integers(min_value=1, max_value=28),
    st.integers(min_value=0, max_value=2**31),
    st.sampled_from(["gray", "4:4:4", "4:2:0"]),
    st.sampled_from([1, 5, 31, 62]),
)
@settings(max_examples=30, deadline=None)
def test_jpeg_progressive_bit_identical_to_baseline(w, h, seed, mode, split):
    """SOF2 progressive decode reconstructs the exact coefficient
    arrays for any geometry/content/subsampling/band split, so its
    stats equal the baseline encoding's bit-for-bit (same q=1
    coefficients, same IDCT expression)."""
    import numpy as np

    from razulibs_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    rng = np.random.default_rng(seed)
    if mode == "gray":
        img, sub = rng.integers(0, 256, (h, w), np.uint8), "4:4:4"
    else:
        img, sub = rng.integers(0, 256, (h, w, 3), np.uint8), mode
    base = decode_jpeg(encode_jpeg(img, subsampling=sub))
    prog = decode_jpeg(
        encode_jpeg_progressive(img, subsampling=sub, ac_split=split)
    )
    assert prog == base


@given(
    st.integers(min_value=1, max_value=20),
    st.integers(min_value=1, max_value=20),
    st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=25, deadline=None)
def test_jpeg_any_grayscale_mean_within_rounding(w, h, seed):
    """Arbitrary content and non-aligned dims: with all-ones quant
    tables the only loss is DCT coefficient rounding, so the decoded
    mean stays within half a gray level of the source."""
    import numpy as np

    from razulibs_spark.operators.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
    out = decode_jpeg(encode_jpeg(img))
    assert (out["width"], out["height"]) == (w, h)
    assert abs(out["mean_r"] - float(img.mean())) < 0.75


@given(
    st.lists(
        st.integers(min_value=-32768, max_value=32767),
        min_size=1,
        max_size=64,
    ),
    st.sampled_from([8000, 16000, 44100]),
)
@settings(max_examples=40, deadline=None)
def test_wav_roundtrip_any_samples(samples, rate):
    from razulibs_spark.operators.multimodal import decode_wav, encode_wav

    out = decode_wav(encode_wav(samples, rate))
    assert out["sample_rate"] == rate and out["n_channels"] == 1
    assert out["n_samples"] == len(samples)
    assert out["peak"] == float(max(abs(v) for v in samples))


@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=11), min_size=1,
                 max_size=12),
        min_size=1, max_size=5,
    )
)
@settings(max_examples=10, deadline=None)
def test_transitive_closure_matches_python(spark, forests):
    """Doubling closure == pure-Python fixpoint on random parent
    forests (node i's parent drawn from smaller ids → acyclic).
    All generated forests are unioned into ONE edge DataFrame with
    per-example node prefixes, so each property run costs one
    closure, not max_examples of them."""
    from razulibs_spark.operators.graph import transitive_closure

    edges, want = [], {}
    for gi, parents in enumerate(forests):
        # node k (1-based) gets parent parents[k-1] % k (0..k-1): always
        # a smaller id, so the graph is a forest rooted at node 0.
        pmap = {k: parents[k - 1] % k for k in range(1, len(parents) + 1)}
        for child, parent in pmap.items():
            edges.append((f"g{gi}_n{child}", f"g{gi}_n{parent}"))
        for child in pmap:
            anc, depth = pmap[child], 1
            while True:
                want[(f"g{gi}_n{child}", f"g{gi}_n{anc}")] = depth
                if anc == 0:
                    break
                anc, depth = pmap[anc], depth + 1
    df = spark.createDataFrame(edges, "child string, parent string")
    got = {
        (r["node"], r["ancestor"]): r["depth"]
        for r in transitive_closure(df, max_depth=16).collect()
    }
    assert got == want


@given(
    st.lists(st.binary(min_size=0, max_size=200), min_size=0, max_size=12),
    st.integers(min_value=1, max_value=4096),
    st.integers(min_value=1, max_value=4096),
    st.integers(min_value=1, max_value=120),
)
@settings(max_examples=60, deadline=None)
def test_avi_container_roundtrips_arbitrary_frames(frames, w, h, fps):
    """Any frame byte strings (odd/even lengths, empty, marker-like
    content) must survive the RIFF word-padding roundtrip verbatim,
    with header geometry preserved."""
    from razulibs_spark.operators.video import decode_avi, encode_avi_mjpeg

    out = decode_avi(encode_avi_mjpeg(frames, w, h, fps=fps))
    assert out["frames"] == frames
    assert (out["width"], out["height"]) == (w, h)
    assert out["n_frames_declared"] == len(frames)
    assert out["fps"] == fps


@given(
    st.integers(min_value=2, max_value=8),
    st.lists(st.integers(min_value=0, max_value=255), min_size=0,
             max_size=3000),
)
@settings(max_examples=60, deadline=None)
@example(
    mcs=2,
    raw=[0, 0, 0, 1, 0, 2, 0, 0, 0, 1, 1, 2, 1],
).via('discovered failure')
def test_gif_lzw_roundtrips_arbitrary_index_streams(mcs, raw):
    """GIF-variant LZW must roundtrip any index stream, across code
    widths, dictionary growth boundaries, and resets."""
    from razulibs_spark.operators.gif import _lzw_decode, _lzw_encode

    indices = [v % (1 << mcs) for v in raw]
    got = _lzw_decode(_lzw_encode(indices, mcs), mcs, len(indices))
    assert got == indices


@given(
    st.integers(min_value=1, max_value=17),
    st.integers(min_value=1, max_value=17),
    st.integers(min_value=0, max_value=10**9),
)
@settings(max_examples=60, deadline=None)
def test_gif_interlace_roundtrips_any_geometry(w, h, seed):
    """Interlaced encode → decode equals the progressive encode's
    decode for every geometry (the 4-pass row scatter must be a true
    permutation at every height, including h < 8 partial passes)."""
    from razulibs_spark.operators.gif import decode_gif, encode_gif

    pal = [(i * 37 % 256, i * 11 % 256, i * 3 % 256) for i in range(8)]
    pix = [(seed + 5 * i) % 8 for i in range(w * h)]
    plain = decode_gif(encode_gif(w, h, pal, pix))
    inter = decode_gif(encode_gif(w, h, pal, pix, interlace=True))
    assert inter == plain


# ---------------------------------------------------------------------------
# Document-framed RDF formats (sources/rdfxml.py): pure-Python
# roundtrips through the extracted pandas serializers — the GIF fuzz
# pattern (VERDICT r7 item 6: synthesized fixtures alone miss boundary
# cases; the r6 LZW width desync proved it). No Spark job per example.
# ---------------------------------------------------------------------------

import pandas as pd

from razulibs_spark.sources.rdfxml import (
    _RDFXML_FOOTER,
    _RDFXML_HEADER,
    _TRIX_FOOTER,
    _TRIX_HEADER,
    _XML_ILLEGAL_RE,
    _parse_rdfxml,
    _parse_trig,
    _parse_trix,
    _rdfxml_description_lines,
    _trig_chunks,
    _trix_graph_chunks,
)

# URIs stay on a conservative alphabet (TriG frames them in <> on one
# line; RDF/XML puts them in attributes) — the hostile surface is the
# LITERAL space, fuzzed wide below.
_safe_uri = st.from_regex(
    r"https://ex\.org/[A-Za-z0-9_.\-/#?=&%+~]{0,24}", fullmatch=True
)
_pred_uri = st.from_regex(
    r"https://ex\.org/ns[#/][A-Za-z_][A-Za-z0-9_.\-]{0,12}", fullmatch=True
)
_lang_tag = st.from_regex(r"[a-z]{2}(-[a-zA-Z]{2,4})?", fullmatch=True)

# Any XML-1.0-representable text: all of Unicode minus surrogates and
# the C0 controls XML forbids; TAB/LF/CR stay in (the chars the
# writers must escape as numeric refs).
_xml_text = st.text(
    alphabet=st.characters(codec="utf-8"), max_size=40
).filter(lambda s: not _XML_ILLEGAL_RE.search(s))

# TriG literals additionally tolerate raw C0 controls and the
# splitlines() hazard set (\x0b \x0c \x1c-\x1e \x85 U+2028 U+2029) —
# everything except the two chars the writer escapes into \n / \r.
_trig_text = st.text(alphabet=st.characters(codec="utf-8"), max_size=40)


@st.composite
def _triple_rows(draw, literal_text, with_graph=False):
    n = draw(st.integers(min_value=1, max_value=8))
    rows = []
    graphs = [None, "https://ex.org/g1", "https://ex.org/g2"]
    for _ in range(n):
        s = draw(_safe_uri)
        p = draw(_pred_uri)
        kind = draw(st.sampled_from(["literal", "literal", "literal", "uri"]))
        if kind == "uri":
            o, dt, lang = draw(_safe_uri), None, None
        else:
            o = draw(literal_text)
            dt = draw(st.none() | _pred_uri)
            lang = draw(st.none() | _lang_tag)
        g = draw(st.sampled_from(graphs)) if with_graph else None
        rows.append((s, p, o, kind, dt, lang, g))
    return rows


def _pdf(rows):
    return pd.DataFrame(
        rows, columns=["s", "p", "o", "o_type", "o_datatype", "o_lang", "g"]
    ).astype(object).where(pd.notna, None)


def _expected(rows, keep_graph=False):
    want = []
    for s, p, o, kind, dt, lang, g in rows:
        if kind == "uri":
            t = (s, p, o, "uri", None, None)
        elif lang is not None:  # lang wins over datatype in all three
            t = (s, p, o, "literal", None, lang)
        else:
            t = (s, p, o, "literal", dt, None)
        want.append(t + ((g,) if keep_graph else ()))
    return sorted(want, key=repr)


@settings(max_examples=250, deadline=None)
@given(_triple_rows(_xml_text))
@example([("https://ex.org/s", "https://ex.org/ns#p", "a\rb\tc&<>\"",
           "literal", None, None, None)])
@example([("https://ex.org/s", "https://ex.org/ns#p", " x ",
           "literal", None, "nl", None)])
def test_rdfxml_serializer_roundtrips_any_literal(rows):
    doc = (
        _RDFXML_HEADER + "\n"
        + "\n".join(_rdfxml_description_lines(_pdf(rows)))
        + "\n" + _RDFXML_FOOTER
    )
    got = sorted(_parse_rdfxml(doc.encode(), "t"), key=repr)
    assert got == _expected(rows)


@settings(max_examples=250, deadline=None)
@given(_triple_rows(_xml_text, with_graph=True))
@example([("https://ex.org/s", "https://ex.org/ns#p", "\r\n\t\"'&",
           "literal", None, None, "https://ex.org/g1")])
def test_trix_serializer_roundtrips_any_literal(rows):
    doc = (
        _TRIX_HEADER + "\n"
        + "\n".join(_trix_graph_chunks(_pdf(rows)))
        + "\n" + _TRIX_FOOTER
    )
    got = sorted(_parse_trix(doc.encode(), "t"), key=repr)
    assert got == _expected(rows, keep_graph=True)


@settings(max_examples=250, deadline=None)
@given(_triple_rows(_trig_text, with_graph=True))
@example([("https://ex.org/s", "https://ex.org/ns#p", "a\x0bb\x0cc\x85d",
           "literal", None, None, "https://ex.org/g1")]).via(
    "splitlines() hazard: raw vertical-tab/form-feed/NEL inside a "
    "literal must not shatter the line (fixed r8)")
@example([("https://ex.org/s", "https://ex.org/ns#p", "e f g",
           "literal", None, None, None)]).via("same, unicode separators")
@example([("https://ex.org/s", "https://ex.org/ns#p", "q\\\"e\\n",
           "literal", None, None, None)])
def test_trig_serializer_roundtrips_any_literal(rows):
    doc = "\n".join(_trig_chunks(_pdf(rows)))
    got = sorted(_parse_trig(doc), key=repr)
    assert got == _expected(rows, keep_graph=True)


_mp4_track = st.builds(
    dict,
    id=st.integers(min_value=1, max_value=2**31 - 1),
    handler=st.sampled_from(["vide", "soun", "text", "subt"]),
    timescale=st.integers(min_value=1, max_value=2**31 - 1),
    lang=st.from_regex(r"[a-z]{3}", fullmatch=True),
    width=st.integers(min_value=0, max_value=65535),
    height=st.integers(min_value=0, max_value=65535),
)


@settings(max_examples=200, deadline=None)
@given(
    st.sampled_from(["isom", "mp42", "avc1", "M4V "]),
    st.integers(min_value=1, max_value=2**16),
    st.integers(min_value=0, max_value=2**15),
    st.lists(_mp4_track, min_size=0, max_size=5),
)
def test_mp4_skeleton_roundtrips_any_params(brand, mts, sec, tracks):
    """ISO BMFF skeleton → box walker: every field survives exactly
    (brand, layered movie/media timescales, durations, track inventory
    with handler/lang/geometry) for arbitrary parameters — the same
    pure-Python fuzz posture as the codec roundtrips."""
    from razulibs_spark.operators.mp4 import (
        encode_mp4_skeleton,
        parse_mp4_metadata,
    )

    m = parse_mp4_metadata(encode_mp4_skeleton(brand, mts, sec, tracks))
    assert m["brand"] == brand
    assert m["movie_timescale"] == mts
    assert m["movie_duration"] == mts * sec
    assert m["n_tracks"] == len(tracks)
    for want, got in zip(tracks, m["tracks"]):
        assert got["track_id"] == want["id"]
        assert got["handler"] == want["handler"]
        assert got["lang"] == want["lang"]
        assert got["timescale"] == want["timescale"]
        assert got["duration"] == want["timescale"] * sec
        assert got["width"] == want["width"]
        assert got["height"] == want["height"]


@settings(max_examples=200, deadline=None)
@given(st.lists(st.binary(max_size=200), min_size=1, max_size=8),
       st.booleans())
def test_warc_record_framing_roundtrips_any_payload(payloads, compress):
    """Content-Length framing must carry ANY payload bytes — embedded
    CRLFs, fake 'WARC/1.0' magics, gzip magics — through plain and
    per-record-gzip files without resyncing on content."""
    from razulibs_spark.sources.warc import (
        encode_warc_record,
        gzip_member,
        parse_warc,
    )

    recs = [
        encode_warc_record(
            "resource", p, f"r{i}", target_uri=f"https://x/{i}",
            content_type="application/octet-stream",
        )
        for i, p in enumerate(payloads)
    ]
    blob = b"".join(gzip_member(r) if compress else r for r in recs)
    rows = parse_warc(blob)
    assert [r[6] for r in rows] == payloads


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["request", "response"]),
            st.binary(max_size=120),
        ),
        min_size=1,
        max_size=8,
    ),
    st.booleans(),
)
def test_warc_mixed_request_response_framing(fetches, compress):
    """Real crawls interleave request and response records for the
    same fetch; request payloads (`GET / HTTP/1.1 ...` + arbitrary
    trailing bytes) must ride the raw branch — status NULL, payload
    intact — while adjacent responses still parse, in any order."""
    from razulibs_spark.sources.warc import (
        encode_warc_record,
        gzip_member,
        parse_warc,
    )

    recs, want = [], []
    for i, (wtype, extra) in enumerate(fetches):
        if wtype == "request":
            payload = (
                b"GET /p/" + str(i).encode() + b" HTTP/1.1\r\n"
                b"Host: ex.org\r\n\r\n" + extra
            )
            ct = "application/http; msgtype=request"
            want.append(("request", None, payload))
        else:
            payload = (
                b"HTTP/1.1 200 OK\r\nContent-Type: x\r\n\r\n" + extra
            )
            ct = "application/http; msgtype=response"
            want.append(("response", 200, extra))
        recs.append(
            encode_warc_record(wtype, payload, f"r{i}", content_type=ct)
        )
    blob = b"".join(gzip_member(r) if compress else r for r in recs)
    rows = parse_warc(blob)
    assert [(r[0], r[4], r[6]) for r in rows] == want


@settings(max_examples=150, deadline=None)
@given(st.lists(
    st.tuples(
        st.text(alphabet=st.characters(codec="utf-8"), min_size=1,
                max_size=40).filter(
            lambda s: s.strip() == s and s.strip()
            and not __import__("re").search(
                "[\x00-\x08\x0b\x0c\x0e-\x1f]", s)),
        st.one_of(st.none(), st.from_regex(
            r"20[0-9]{2}-[01][0-9]-[0-3][0-9]", fullmatch=True)),
        st.one_of(st.none(), st.integers(0, 10).map(lambda i: i / 10.0)),
    ),
    min_size=1, max_size=10,
))
def test_sitemap_urlset_roundtrips_any_loc(entries):
    """Writer escaping ↔ parser unescaping: any XML-representable
    loc text (entities, angle brackets, unicode) survives the urlset
    roundtrip; lastmod and one-decimal priorities come back exactly.
    XML-illegal control chars are REJECTED at write time (pinned
    below), matching the RDF/XML sink posture."""
    import pytest as _pytest

    from razulibs_spark.sources.sitemap import _esc as _esc_check

    with _pytest.raises(ValueError, match="XML-1.0-illegal"):
        _esc_check("bad\x08loc")
    from razulibs_spark.sources.sitemap import parse_sitemap, SITEMAP_NS
    from razulibs_spark.sources.sitemap import _esc

    lines = []
    for loc, lastmod, pr in entries:
        row = "<url><loc>" + _esc(loc) + "</loc>"
        if lastmod:
            row += f"<lastmod>{lastmod}</lastmod>"
        if pr is not None:
            row += f"<priority>{pr:.1f}</priority>"
        lines.append(row + "</url>")
    doc = (
        f'<urlset xmlns="{SITEMAP_NS}">' + "".join(lines) + "</urlset>"
    ).encode("utf-8")
    got = parse_sitemap(doc)
    assert [(r[1], r[2], r[4]) for r in got] == [
        (loc, lastmod, pr) for loc, lastmod, pr in entries
    ]


@settings(max_examples=200, deadline=None)
@given(st.binary(min_size=0, max_size=2000))
@example(b"\x00" * 300).via("long repeat run > 128")
@example(bytes(range(256)) * 2).via("long literal run > 128")
@example(b"aabb" * 80).via("alternating 2-byte repeats stay literal")
def test_tiff_packbits_roundtrips_any_bytes(data):
    from razulibs_spark.operators.tiff import (
        packbits_decode,
        packbits_encode,
    )

    assert packbits_decode(packbits_encode(data), len(data)) == data


@settings(max_examples=200, deadline=None)
@given(st.binary(min_size=0, max_size=3000))
@example(b"A" * 600).via("repeat run crossing the 9->10 bit boundary")
@example(bytes((i * 37) % 251 for i in range(6000))).via(
    "incompressible: widths 9..12 and the 4094-entry table reset"
)
@example(b"").via("empty strip: Clear + EOI only")
def test_tiff_lzw_roundtrips_any_bytes(data):
    from razulibs_spark.operators.tiff import lzw_decode, lzw_encode

    assert lzw_decode(lzw_encode(data), len(data)) == data


@settings(max_examples=150, deadline=None)
@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=0, max_value=10**9),
    st.booleans(), st.booleans(),
    st.sampled_from(["none", "packbits", "lzw"]),
    st.booleans(),
    st.integers(min_value=1, max_value=9),
    st.sampled_from([8, 16]),
    st.booleans(),
)
def test_tiff_roundtrips_any_geometry(w, h, seed, rgb, be, comp, pred,
                                      rps, bits, tiled):
    """Every geometry × byte order × compression × predictor × channel
    count × sample depth × strip/tile layout roundtrips pixel-exact
    (strip boundaries at every offset; up to 3×3 tiles with padded
    edges at w,h ≤ 40 and 16×16 tiles)."""
    from razulibs_spark.operators.tiff import decode_tiff, encode_tiff

    mx = (1 << bits) - 1
    if rgb:
        pix = [
            ((seed + 3 * i) % mx, (seed // 7 + 5 * i) % mx,
             (seed // 11 + i) % mx)
            for i in range(w * h)
        ]
        flat = [c for p in pix for c in p]
    else:
        pix = [(seed + 13 * i) % mx for i in range(w * h)]
        flat = pix
    m = decode_tiff(
        encode_tiff(w, h, pix, rgb=rgb, big_endian=be,
                    packbits=(comp == "packbits"), lzw=(comp == "lzw"),
                    predictor2=pred, rows_per_strip=rps, bits=bits,
                    tiled=tiled)
    )
    assert (m["width"], m["height"]) == (w, h)
    assert m["n_channels"] == (3 if rgb else 1)
    assert m["compression"] == comp
    assert m["predictor"] == (2 if pred else 1)
    assert m["bits"] == bits
    assert m["layout"] == ("tiled" if tiled else "strips")
    assert list(m["pixels"]) == flat


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.lists(
            st.text(
                alphabet=st.characters(
                    codec="utf-8", exclude_characters="\ud800"
                ),
                max_size=30,
            ),
            min_size=1, max_size=4,
        ),
        min_size=1, max_size=3,
    ),
    st.booleans(),
)
def test_pdf_text_roundtrips_any_lines(pages, compress):
    """Any UTF-8 text — parens, backslashes, control bytes, emoji —
    must survive literal-string escaping, (optional) Flate framing and
    the content tokenizer, page- and line-exact."""
    from razulibs_spark.operators.pdf import encode_pdf, parse_pdf_text

    m = parse_pdf_text(encode_pdf(pages, compress=compress))
    assert m["n_pages"] == len(pages)
    assert m["text"] == "\f".join("\n".join(p) for p in pages)


@given(
    body=st.binary(min_size=0, max_size=2000),
    sizes=st.lists(st.integers(min_value=1, max_value=97), min_size=1,
                   max_size=20),
)
@settings(max_examples=150, deadline=None)
def test_chunked_framing_roundtrips_any_body(body, sizes):
    """Any byte body framed into chunks of arbitrary sizes de-frames
    to the identical bytes — the chunk boundaries are pure transport
    and must never leak into the payload."""
    from razulibs_spark.sources.warc import decode_chunked

    chunks, pos, i = [], 0, 0
    while pos < len(body):
        n = sizes[i % len(sizes)]
        chunks.append(body[pos:pos + n])
        pos += n
        i += 1
    framed = b"".join(
        b"%x\r\n%s\r\n" % (len(c), c) for c in chunks
    ) + b"0\r\n\r\n"
    assert decode_chunked(framed) == body


@given(
    words=st.lists(
        st.text(alphabet="abcdefghij", min_size=1, max_size=8),
        min_size=1, max_size=40,
    )
)
@settings(max_examples=100, deadline=None)
def test_markdown_to_text_is_identity_on_plain_prose(spark, words):
    """Prose with no markdown syntax passes through untouched (modulo
    the documented rtrim/blank-drop) — the stripper must never eat
    plain text."""
    from razulibs_spark.operators.text import markdown_to_text

    prose = " ".join(words)
    got = (
        spark.range(1)
        .select(markdown_to_text(F.lit(prose)).alias("t"))
        .collect()[0]["t"]
    )
    assert got == prose.rstrip()


def _psl_reference(host: str, suffixes: list[str]) -> str | None:
    """Independent registrable-domain reference (label-set walk)."""
    labels = host.split(".")
    best = None
    for k in range(len(labels), 0, -1):
        cand = ".".join(labels[-k:])
        if cand in suffixes:
            best = k
            break
    if best is None:
        best = 1  # implicit-* rule
    if len(labels) <= best:
        return None
    return ".".join(labels[-(best + 1):])


@given(
    labels=st.lists(
        st.sampled_from(["a", "bb", "co", "uk", "com", "x9"]),
        min_size=1, max_size=5,
    )
)
@settings(max_examples=100, deadline=None)
def test_registrable_domain_matches_reference(spark, labels):
    from razulibs_spark.functions.urls import registrable_domain

    sfx = ["com", "co.uk", "uk"]
    host = ".".join(labels)
    got = (
        spark.range(1)
        .select(registrable_domain(F.lit(host), sfx).alias("r"))
        .collect()[0]["r"]
    )
    assert got == _psl_reference(host, sfx), host


@given(st.lists(st.integers(min_value=-32768, max_value=32767),
                min_size=1, max_size=64))
@example(samples=[-1])
@example(samples=[-3])
@settings(max_examples=150, deadline=None)
def test_mulaw_companding_is_idempotent_and_bounded(samples):
    """decode(encode(x)) is a fixed point: re-companding the decoded
    value decodes to the same value, the error is bounded by the
    segment step, and zero is exact — the G.711 contract. The code is a
    fixed point too, except G.711's negative zero: the reference
    encoder gives -3..-1 the code 0x7F, which decodes to 0, and 0
    encodes as 0xFF."""
    from razulibs_spark.operators.multimodal import mulaw_encode_sample

    def decode(code: int) -> int:
        u = ~code & 0xFF
        sign = u & 0x80
        e = (u >> 4) & 7
        m = u & 0x0F
        mag = ((m * 8 + 0x84) << e) - 0x84
        return -mag if sign else mag

    assert decode(mulaw_encode_sample(0)) == 0
    for x in samples:
        code = mulaw_encode_sample(x)
        q = decode(code)
        again = mulaw_encode_sample(q)
        assert decode(again) == q  # the decoded value is a fixed point
        assert (code == 0x7F) == (-3 <= x <= -1)
        if code == 0x7F:  # negative zero
            assert (q, again) == (0, 0xFF)
        else:
            assert again == code  # so is the code
        step = 8 << ((~code & 0xFF) >> 4 & 7)
        assert abs(q - min(max(x, -32635), 32635)) <= step


@given(
    d=st.integers(min_value=0, max_value=10**6),
    words=st.lists(
        st.text(
            alphabet=st.characters(
                codec="utf-8", categories=("L", "N", "P", "S"),
                include_characters="=_?café",
            ),
            min_size=1, max_size=10,
        ).filter(lambda w: " " not in w),
        min_size=1, max_size=30,
    ),
)
@settings(max_examples=100, deadline=None)
def test_eml_roundtrip_any_words(d, words):
    """Every transfer shape recovers subject and body exactly — '='
    (the quoted-printable escape char), '?' (the encoded-word
    delimiter) and arbitrary unicode in the payload must all survive
    base64/qp encoding and RFC 2047 headers."""
    from razulibs_spark.operators.eml import encode_eml, parse_eml

    m = parse_eml(encode_eml(d, words))
    head = " ".join(words[:20])
    if d % 3 == 0:
        assert m["subject"] == f"Report {d} plain"
        assert m["body"] == f"plain summary: {head}"
        assert m["cte"] in ("7bit", "quoted-printable")
    else:
        assert m["subject"] == f"Report {d} naïve"
        assert m["body"] == f"naïve résumé: {head}"
    assert m["n_parts"] == (2 if d % 3 == 1 else 1)


@given(
    d=st.integers(min_value=0, max_value=10**6),
    chunks=st.lists(
        st.text(alphabet="abc xyz", min_size=1, max_size=20).filter(
            lambda c: c.strip() and "\n" not in c
        ),
        min_size=1, max_size=2000,
    ),
)
@settings(max_examples=60, deadline=None)
def test_srt_roundtrip_including_hour_boundaries(d, chunks):
    """Cue spans survive the HH:MM:SS,mmm grammar exactly — 2000
    cues push start times past the hour mark, so the hour field is
    exercised, not just minutes/seconds."""
    from razulibs_spark.operators.video import encode_srt, parse_srt

    m = parse_srt(encode_srt(d, chunks))
    assert m["n_cues"] == len(chunks)
    assert m["dur_ms"] == sum(
        1500 + (d + i) % 700 for i in range(len(chunks))
    )
    assert m["text"] == "\n".join(chunks)


@given(
    d=st.integers(min_value=0, max_value=10**6),
    words=st.lists(
        st.text(
            alphabet=st.characters(
                codec="utf-8", categories=("L", "N"),
                include_characters="&<>\"'",
            ),
            min_size=1, max_size=8,
        ).filter(lambda w: " " not in w),
        min_size=0, max_size=40,
    ),
)
@settings(max_examples=100, deadline=None)
def test_docx_roundtrip_any_words(d, words):
    """Arbitrary word lists (including XML-special characters that
    must entity-escape) survive the full OPC encode → parse cycle:
    torture paragraph exact, 8-word content paragraphs exact, table
    cells only on d%5==0."""
    from razulibs_spark.operators.docx import encode_docx, parse_docx_text

    paras = parse_docx_text(encode_docx(d, words))["paragraphs"]
    assert paras[0] == f'AT&T <tag>\t"padded" #{d}'
    expect = [
        " ".join(words[i:i + 8]) for i in range(0, len(words), 8)
    ]
    tail = ["cell A%d" % d, "cell B%d" % d] if d % 5 == 0 else []
    assert paras[1:] == expect + tail


def test_eml_malformed_encoded_word_fails_closed():
    """A malformed RFC 2047 encoded-word (bad charset, non-ASCII
    bytes under an ascii label) must degrade per-fragment, never
    raise — one poisoned header in a crawl batch must not kill the
    Arrow task (ADVICE r9)."""
    from razulibs_spark.operators.eml import parse_eml

    # unknown charset in the encoded-word
    m1 = parse_eml(
        b"From: a@example\r\n"
        b"Subject: =?x-no-such-charset?B?Y2Fmw6k=?=\r\n"
        b"Content-Type: text/plain; charset=utf-8\r\n\r\nhi\r\n"
    )
    assert isinstance(m1["subject"], str)
    # declared ascii but payload is not
    m2 = parse_eml(
        b"From: a@example\r\n"
        b"Subject: =?ascii?B?Y2Fmw6k=?=\r\n"
        b"Content-Type: text/plain; charset=utf-8\r\n\r\nhi\r\n"
    )
    assert isinstance(m2["subject"], str)
    assert m2["subject"].startswith("caf")


def test_csv_sniff_quoted_embedded_newline():
    """A quoted field containing a newline must not defeat the
    consistent-field-count scorer: quote-aware parsing sees ONE
    record where splitlines() saw two broken ones (ADVICE r9)."""
    from razulibs_spark.sources.csv_source import sniff_csv_dialect

    sample = (
        b"id;name;note\n"
        b'1;alice;"line one\nline two"\n'
        b'2;bob;"x,y|z\tq"\n'
        b"3;carol;plain\n"
    )
    d = sniff_csv_dialect(sample)
    assert d == {"delimiter": ";", "has_header": True}


def test_csv_sniff_byte_budget_truncation():
    """A byte-budget cut mid-record must not veto the right
    delimiter: the mangled final record is discarded before
    scoring."""
    from razulibs_spark.sources.csv_source import sniff_csv_dialect

    full = b"id|name\n" + b"".join(
        b'%d|"name %d"\n' % (i, i) for i in range(200)
    )
    budget = 256  # cuts mid-record
    d = sniff_csv_dialect(full, byte_budget=budget)
    assert d["delimiter"] == "|"
    assert d["has_header"] is True


@given(
    lits=st.lists(
        st.text(
            alphabet=st.characters(
                codec="utf-8",
                categories=("L", "N", "P", "S", "Zs"),
                include_characters='"\\\n\t\'',
            ),
            min_size=0, max_size=40,
        ),
        min_size=1, max_size=10,
    ),
)
@settings(max_examples=150, deadline=None)
def test_turtle_full_literal_escape_roundtrip(lits):
    """Any literal survives serialize → full-grammar parse: quotes,
    backslashes, newlines, tabs and arbitrary unicode must round-trip
    through the grouped writer's N-Triples-style escapes AND the
    triple-quoted form."""
    from razulibs_spark.sources.turtle_full import parse_turtle

    def esc(s: str) -> str:
        return (
            s.replace("\\", "\\\\").replace('"', '\\"')
            .replace("\n", "\\n").replace("\r", "\\r")
            .replace("\t", "\\t")
        )

    doc = "@prefix ex: <http://e/> .\n" + "".join(
        f'ex:s ex:p{i} "{esc(v)}" .\n' for i, v in enumerate(lits)
    )
    rows = parse_turtle(doc)
    assert [r["o"] for r in rows] == lits
    # triple-quoted form: raw newlines/quotes legal, only \ and """
    # need care — escape every backslash and double-quote
    doc2 = "@prefix ex: <http://e/> .\n" + "".join(
        f'ex:s ex:p{i} """'
        + v.replace("\\", "\\\\").replace('"', '\\"')
        + '""" .\n'
        for i, v in enumerate(lits)
    )
    rows2 = parse_turtle(doc2)
    # \r inside a triple-quoted literal is fine raw
    assert [r["o"] for r in rows2] == lits


@given(
    words=st.lists(
        st.text(
            alphabet=st.characters(
                codec="utf-8", categories=("L", "N", "P", "S"),
                include_characters="\\{}#",
            ),
            min_size=1, max_size=12,
        ).filter(lambda w: " " not in w and "\n" not in w),
        min_size=1, max_size=40,
    ),
    d=st.integers(min_value=0, max_value=10**6),
)
@settings(max_examples=100, deadline=None)
def test_rtf_roundtrip_any_words(words, d):
    """encode_rtf → rtf_to_text recovers the body lines exactly for
    arbitrary unicode incl. RTF metachars (braces, backslash, #)."""
    from razulibs_spark.operators.rtf import encode_rtf, rtf_to_text

    t = rtf_to_text(encode_rtf(d, words))
    lines = t.split("\n")
    assert lines[0] == f"Doc {d}"
    body = lines[2:]
    expected = [
        " ".join(words[i:i + 8]) for i in range(0, len(words), 8)
    ]
    assert body == expected


@given(
    words=st.lists(
        st.text(
            alphabet=st.characters(
                codec="utf-8", categories=("L", "N", "P", "S"),
                include_characters="&<>\"'",
            ),
            min_size=1, max_size=12,
        ).filter(lambda w: " " not in w and "\n" not in w
                 and "\r" not in w and "\t" not in w),
        min_size=1, max_size=40,
    ),
    d=st.integers(min_value=0, max_value=10**6),
)
@settings(max_examples=100, deadline=None)
def test_odt_roundtrip_any_words(words, d):
    """encode_odt → parse_odt recovers the word paragraphs exactly for
    arbitrary unicode incl. XML metachars."""
    from razulibs_spark.operators.odt import encode_odt, parse_odt

    m = parse_odt(encode_odt(d, words))
    paras = m["text"].split("\n")
    assert paras[0] == f"Doc {d}"
    body = paras[3:]  # heading, torture (2 lines via line-break)
    expected = [
        " ".join(words[i:i + 8]) for i in range(0, len(words), 8)
    ]
    assert body == expected


@given(
    words=st.lists(
        st.text(
            alphabet=st.characters(
                codec="utf-8", categories=("L", "N", "P", "S"),
                include_characters="&<>\"'",
            ),
            min_size=1, max_size=12,
        ).filter(lambda w: " " not in w),
        min_size=1, max_size=10,
    ),
    d=st.integers(min_value=0, max_value=10**6),
)
@settings(max_examples=100, deadline=None)
def test_xlsx_roundtrip_any_words(words, d):
    """encode_xlsx → parse_xlsx: inline strings carry arbitrary
    unicode/XML metachars; the grid stays exact."""
    from razulibs_spark.operators.xlsx import encode_xlsx, parse_xlsx

    m = parse_xlsx(encode_xlsx(d, words))
    cells = dict(m["cells"])
    assert m["n_cells"] == 21  # 15 value cells + the r11 date row
    assert cells["D1"] == f"w-{d}"
    for i in range(3):
        assert cells[f"B{i + 2}"] == words[i % len(words)]
        assert cells[f"A{i + 2}"] == str(d * 10 + i)


def test_prefix_expr_path_equals_builder_path(spark):
    """r13: the F.expr CASE-string forms of the prefix chains (built
    for cheap driver-side construction) must compute exactly what the
    Column-builder when-chains compute — expansion, compaction and
    the Turtle _compactable gate, including pass-through, null and
    unsafe-local-part cases."""
    from pyspark.sql import functions as F

    from razulibs_spark.operators.rdf import (
        compact_prefixed,
        expand_prefixed,
    )
    from razulibs_spark.sources.rdf_io import _compactable

    rows = [
        ("ldto:naam",),
        ("xsd:decimal",),
        ("rdf:type",),
        ("rdfs:label",),
        ("schema:name",),
        ("https://data.razu.nl/def/ldto/naam",),
        ("http://www.w3.org/2001/XMLSchema#date",),
        ("http://example.org/unbound",),
        ("plainstring",),
        ("https://data.razu.nl/def/ldto/bad local!",),  # unsafe local
        ("http://www.w3.org/1999/02/22-rdf-syntax-ns#type",),
        (None,),
    ]
    df = spark.createDataFrame(rows, "v string")
    out = df.select(
        expand_prefixed(F.col("v")).alias("e_col"),
        expand_prefixed("v").alias("e_str"),
        compact_prefixed(F.col("v")).alias("c_col"),
        compact_prefixed("v").alias("c_str"),
        _compactable(F.col("v")).alias("t_col"),
        _compactable("v").alias("t_str"),
    ).collect()
    for r in out:
        assert r["e_col"] == r["e_str"]
        assert r["c_col"] == r["c_str"]
        assert r["t_col"] == r["t_str"]
