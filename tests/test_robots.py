"""robots.txt evaluation (operators/robots.py, RFC 9309 subset)."""

from __future__ import annotations

from razulibs_spark.operators.robots import RobotsMatcher, parse_robots


def test_parse_groups_and_agent_precedence():
    txt = """# comment
User-agent: googlebot
Disallow: /g

User-agent: *
Disallow: /all
Allow: /all/ok
Crawl-delay: 10
"""
    assert parse_robots(txt, "googlebot") == [(False, "/g")]
    assert parse_robots(txt, "*") == [(False, "/all"), (True, "/all/ok")]
    # unknown agent falls back to the * group; a specific group
    # REPLACES it (rfc 9309 2.2.1), never merges
    assert parse_robots(txt, "otherbot") == [
        (False, "/all"), (True, "/all/ok")
    ]
    # stacked user-agent lines share one group
    multi = "User-agent: a\nUser-agent: b\nDisallow: /x\n"
    assert parse_robots(multi, "b") == [(False, "/x")]
    # empty disallow = no rule
    assert parse_robots("User-agent: *\nDisallow:\n") == []


def test_matcher_specificity_wildcards_and_anchors():
    m = RobotsMatcher(
        "User-agent: *\n"
        "Disallow: /private\n"
        "Allow: /private/open\n"
        "Disallow: /tmp*\n"
        "Disallow: /*.pdf$\n"
    )
    assert m.allowed("/pub/x")
    assert not m.allowed("/private/secret")
    # longest pattern wins regardless of rule order
    assert m.allowed("/private/open/doc")
    # wildcard prefix
    assert not m.allowed("/tmpfiles/a") and not m.allowed("/tmp/a")
    # $ anchors the END: .pdf mid-path stays allowed
    assert not m.allowed("/files/x.pdf")
    assert m.allowed("/files/x.pdf.html")
    # allow wins an exact-length tie
    tie = RobotsMatcher(
        "User-agent: *\nDisallow: /a/b\nAllow: /a/*\n"
    )
    assert tie.allowed("/a/b")  # both patterns length 4 -> allow
    # no rules / missing robots: everything allowed
    assert RobotsMatcher("").allowed("/anything")


def test_robots_filter_stage(spark):
    from razulibs_spark.operators.robots import robots_filter

    urls = spark.createDataFrame(
        [(1, "a.example", "/private/x"), (2, "a.example", "/pub"),
         (3, "b.example", "/private/x")],
        "doc_id long, host string, path string",
    )
    robots = spark.createDataFrame(
        [("a.example", "User-agent: *\nDisallow: /private\n")],
        "host string, robots_txt string",
    )
    got = {r["doc_id"]: r["allowed"]
           for r in robots_filter(urls, robots).collect()}
    # b.example has NO robots file -> allowed (null txt tolerated)
    assert got == {1: False, 2: True, 3: True}


def test_robots_sitemap_lines():
    from razulibs_spark.operators.robots import robots_sitemaps

    txt = ("User-agent: *\nDisallow: /x\n"
           "Sitemap: https://a.example/s.xml\n"
           "# Sitemap: https://commented.example/no.xml\n"
           "sitemap: https://b.example/t.xml\nSitemap:\n")
    assert robots_sitemaps(txt) == [
        "https://a.example/s.xml", "https://b.example/t.xml"
    ]


def test_sitemap_parse_and_strictness():
    import pytest as _pytest

    from razulibs_spark.sources.sitemap import SITEMAP_NS, parse_sitemap

    urlset = f"""<?xml version="1.0"?>
<urlset xmlns="{SITEMAP_NS}">
  <url><loc> https://a/1 </loc><lastmod>2024-03-04</lastmod>
       <changefreq>daily</changefreq><priority>0.8</priority></url>
  <url><loc>https://a/2</loc></url>
</urlset>""".encode()
    rows = parse_sitemap(urlset)
    assert rows == [
        ("urlset", "https://a/1", "2024-03-04", "daily", 0.8),
        ("urlset", "https://a/2", None, None, None),
    ]
    index = f"""<sitemapindex xmlns="{SITEMAP_NS}">
  <sitemap><loc>https://a/s1.xml</loc><lastmod>2024-01-01</lastmod></sitemap>
</sitemapindex>""".encode()
    assert parse_sitemap(index) == [
        ("index", "https://a/s1.xml", "2024-01-01", None, None)
    ]
    with _pytest.raises(ValueError, match="unexpected root"):
        parse_sitemap(b"<html/>")
    with _pytest.raises(ValueError, match="without <loc>"):
        parse_sitemap(
            f'<urlset xmlns="{SITEMAP_NS}"><url></url></urlset>'.encode()
        )
    with _pytest.raises(ValueError, match="malformed XML"):
        parse_sitemap(b"<urlset")


def test_sitemap_roundtrip_through_spark(spark, tmp_path):
    from razulibs_spark.sources.sitemap import (
        read_sitemaps,
        write_sitemap_index,
        write_urlset_files,
    )

    urls = spark.createDataFrame(
        [("h0", "https://h0/a", "2024-01-01", 0.5),
         ("h0", "https://h0/b&c", None, None),
         ("h1", "https://h1/a", "2024-01-02", 0.1)],
        "host string, loc string, lastmod string, priority double",
    )
    out = str(tmp_path / "maps")
    write_urlset_files(urls, out)
    write_sitemap_index(
        [("https://h0/sitemap-h0.xml", "2024-02-01")],
        f"{out}/index.xml",
    )
    got = sorted(
        map(tuple, read_sitemaps(spark, out).collect())
    )
    assert ("urlset", "https://h0/b&c", None, None, None) in got
    assert ("index", "https://h0/sitemap-h0.xml", "2024-02-01",
            None, None) in got
    assert len(got) == 4


def test_sitemap_gzip_priority_repr_and_group_guard(spark, tmp_path):
    """r9 surface: .xml.gz urlsets parse (magic-sniffed), priorities
    round-trip at full float precision (ADVICE r8: 0.55 used to be
    silently rounded to 0.6), and a non-filename-safe group value
    fails the write loudly instead of mangling the path."""
    import glob

    import pytest as _pytest

    from razulibs_spark.sources.sitemap import (
        read_sitemaps,
        write_urlset_files,
    )

    urls = spark.createDataFrame(
        [("h0", "https://h0/a", "2024-01-01", 0.55),
         ("h1", "https://h1/b", None, 0.3)],
        "host string, loc string, lastmod string, priority double",
    )
    out = str(tmp_path / "gz")
    write_urlset_files(urls, out, compress=True)
    files = sorted(glob.glob(out + "/*"))
    assert [f.rsplit("/", 1)[1] for f in files] == [
        "sitemap-h0.xml.gz", "sitemap-h1.xml.gz"
    ]
    with open(files[0], "rb") as fh:
        assert fh.read(2) == b"\x1f\x8b"
    got = {r["loc"]: r for r in read_sitemaps(spark, out).collect()}
    assert got["https://h0/a"]["priority"] == 0.55
    assert got["https://h1/b"]["priority"] == 0.3

    bad = spark.createDataFrame(
        [("h0/evil", "https://x/a", None, None)],
        "host string, loc string, lastmod string, priority double",
    )
    with _pytest.raises(Exception, match="not filename-safe"):
        write_urlset_files(bad, str(tmp_path / "bad"))


def test_urlset_files_hold_every_url_of_their_group(spark, tmp_path):
    """Groups spread over many input partitions, and several groups
    per writer task: each group's file is written once, with all of
    its URLs."""
    from razulibs_spark.sources.sitemap import (
        read_sitemaps,
        write_urlset_files,
    )

    urls = spark.createDataFrame(
        [(f"h{i % 7}", f"https://h{i % 7}/p{i}", None, None) for i in range(60)],
        "host string, loc string, lastmod string, priority double",
    ).repartition(5)
    out = str(tmp_path / "groups")
    write_urlset_files(urls, out)
    got = {
        r["loc"]: r["source"]
        for r in read_sitemaps(spark, out, include_source=True).collect()
    }
    assert got == {
        f"https://h{i % 7}/p{i}": f"sitemap-h{i % 7}.xml" for i in range(60)
    }


def test_read_sitemaps_include_source_and_mixed_compression(
    spark, tmp_path
):
    from razulibs_spark.sources.sitemap import (
        read_sitemaps,
        write_urlset_files,
    )

    urls = spark.createDataFrame(
        [("plain", "https://p/1", None, None),
         ("packed", "https://g/1", None, None)],
        "host string, loc string, lastmod string, priority double",
    )
    out = str(tmp_path / "mix")
    write_urlset_files(urls.filter("host = 'plain'"), out, compress=False)
    write_urlset_files(urls.filter("host = 'packed'"), out, compress=True)
    got = {
        r["loc"]: r["source"]
        for r in read_sitemaps(spark, out, include_source=True).collect()
    }
    assert got == {
        "https://p/1": "sitemap-plain.xml",
        "https://g/1": "sitemap-packed.xml.gz",
    }


def test_discover_sitemaps_stage(spark):
    """The distributed wrapper must agree with robots_sitemaps on the
    liberal grammar (CRLF lines, comments, first-colon split, missing
    values, NULL robots_txt)."""
    from razulibs_spark.operators.robots import discover_sitemaps

    robots = spark.createDataFrame(
        [
            ("a", "User-agent: *\r\nSitemap: https://a/s.xml\r\n"
                  "sitemap: https://a/t.xml.gz\r\nSitemap:\r\n"),
            ("b", "# no sitemaps here\nDisallow: /\n"),
            ("c", None),
        ],
        "host string, robots_txt string",
    )
    got = sorted(map(tuple, discover_sitemaps(robots).collect()))
    assert got == [
        ("a", "https://a/s.xml"), ("a", "https://a/t.xml.gz")
    ]


def test_crawl_delay_grammar():
    from razulibs_spark.operators.robots import crawl_delay

    txt = ("User-agent: *\nDisallow: /x\nCrawl-delay: 2.5\n"
           "User-agent: fastbot\nDisallow: /y\n"
           "User-agent: slowbot\nCrawl-delay: 7\nCrawl-delay: 3\n")
    assert crawl_delay(txt) == 2.5
    # specific group REPLACES *: fastbot's group has no delay -> None
    assert crawl_delay(txt, "fastbot") is None
    # conflicting delays in one group: the conservative max wins
    assert crawl_delay(txt, "slowbot") == 7.0
    # unparsable / negative values are skipped, not fatal
    assert crawl_delay("User-agent: *\nCrawl-delay: fast\n") is None
    assert crawl_delay("User-agent: *\nCrawl-delay: -1\n") is None
    assert crawl_delay(
        "User-agent: *\nCrawl-delay: nope\nCrawl-delay: 1.5\n"
    ) == 1.5
    # comments and CRLF line endings
    assert crawl_delay(
        "User-agent: *\r\nCrawl-delay: 4 # be nice\r\n"
    ) == 4.0
    assert crawl_delay("") is None


def test_politeness_schedule_stage(spark):
    from razulibs_spark.operators.robots import politeness_schedule

    frontier = spark.createDataFrame(
        [("a", "https://a/1"), ("a", "https://a/2"), ("a", "https://a/3"),
         ("b", "https://b/1"), ("b", "https://b/2")],
        "host string, url string",
    )
    robots = spark.createDataFrame(
        [("a", "User-agent: *\nCrawl-delay: 2\n"),
         ("b", "User-agent: *\nDisallow: /x\n")],  # no delay -> default
        "host string, robots_txt string",
    )
    got = {
        r["url"]: (r["crawl_delay"], r["fetch_at"])
        for r in politeness_schedule(
            frontier, robots, default_delay=0.5
        ).collect()
    }
    assert got == {
        "https://a/1": (2.0, 0.0), "https://a/2": (2.0, 2.0),
        "https://a/3": (2.0, 4.0),
        "https://b/1": (0.5, 0.0), "https://b/2": (0.5, 0.5),
    }


def test_bom_prefixed_file_parses():
    """A UTF-8 BOM before 'User-agent:' must not silently drop the
    group (RFC 9309 §2.3 permits the BOM; real files carry it)."""
    from razulibs_spark.operators.robots import (
        crawl_delay,
        parse_robots,
        robots_sitemaps,
    )

    txt = (
        "﻿User-agent: *\nDisallow: /private\nCrawl-delay: 2\n"
        "Sitemap: https://e.x/s.xml\n"
    )
    assert parse_robots(txt) == [(False, "/private")]
    assert crawl_delay(txt) == 2.0
    assert robots_sitemaps(txt) == ["https://e.x/s.xml"]
