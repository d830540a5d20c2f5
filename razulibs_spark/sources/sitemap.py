"""Sitemap XML source/sink (sitemaps.org protocol, the other half of
crawl discovery next to robots.txt — operators/robots.py extracts the
``Sitemap:`` pointers, this module scans the documents they point at).

Two document kinds share one grammar: ``<urlset>`` files list page
URLs with optional lastmod/changefreq/priority, ``<sitemapindex>``
files list child sitemap URLs. A corpus snapshot of sitemap files is
scanned per-FILE (``session.map_files`` tasks — sitemap files are ≤50k
URLs by spec, so file-level parallelism is the natural unit) and both kinds
land in one records frame tagged by ``kind``; frontier assembly is
then a join/filter, not a recursive fetch (there is no network here —
a real crawler resolves index→child by fetching, which is the
fetcher's job, not the scanner's).

Parsing is strict ElementTree over the spec namespace: a file whose
root is neither urlset nor sitemapindex, or an entry without <loc>,
raises ValueError — an ingest gate, never a silently dropped URL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from razulibs_spark.session import each_partition, map_files

SITEMAP_NS = "http://www.sitemaps.org/schemas/sitemap/0.9"
_NS = "{%s}" % SITEMAP_NS

SITEMAP_SCHEMA = StructType(
    [
        StructField("kind", StringType(), False),  # urlset | index
        StructField("loc", StringType(), False),
        StructField("lastmod", StringType(), True),
        StructField("changefreq", StringType(), True),
        StructField("priority", DoubleType(), True),
    ]
)


def parse_sitemap(content: bytes) -> list[tuple]:
    import xml.etree.ElementTree as ET

    if content[:2] == b"\x1f\x8b":
        # .xml.gz — ubiquitous in the wild (the spec's own 50 MB cap
        # is on the UNCOMPRESSED file). Reuse the WARC member walker:
        # single-member files are the common case, multi-member
        # concatenations decompress the same way.
        from razulibs_spark.sources.warc import _gunzip_members

        content = _gunzip_members(content)
    try:
        root = ET.fromstring(content)
    except ET.ParseError as exc:
        raise ValueError(f"sitemap: malformed XML: {exc}") from exc
    if root.tag == _NS + "urlset":
        kind, entry_tag = "urlset", _NS + "url"
    elif root.tag == _NS + "sitemapindex":
        kind, entry_tag = "index", _NS + "sitemap"
    else:
        raise ValueError(f"sitemap: unexpected root {root.tag!r}")
    rows: list[tuple] = []
    for entry in root:
        if entry.tag != entry_tag:
            raise ValueError(
                f"sitemap: expected {entry_tag!r}, got {entry.tag!r}"
            )
        loc = entry.findtext(_NS + "loc")
        if not loc or not loc.strip():
            raise ValueError("sitemap: entry without <loc>")
        pr = entry.findtext(_NS + "priority")
        rows.append(
            (
                kind,
                loc.strip(),
                (entry.findtext(_NS + "lastmod") or "").strip() or None,
                (entry.findtext(_NS + "changefreq") or "").strip() or None,
                float(pr) if pr is not None else None,
            )
        )
    return rows


def read_sitemaps(
    spark: SparkSession, path: str, include_source: bool = False
) -> DataFrame:
    """Sitemap file tree → one records frame (urlset + index rows
    tagged by kind). Per-file tasks; plain ``.xml`` and gzipped
    ``.xml.gz`` files both parse (magic-sniffed, not name-sniffed —
    mis-named files still decompress). With ``include_source`` each
    row carries the basename of the file it came from — frontier
    assembly needs provenance to keep only URLs from sitemaps a host's
    robots.txt actually advertises (operators/robots.py:
    discover_sitemaps)."""
    schema = SITEMAP_SCHEMA
    if include_source:
        schema = StructType(
            list(SITEMAP_SCHEMA.fields)
            + [StructField("source", StringType(), False)]
        )

    def parse_file(p, data):
        import os

        parsed = parse_sitemap(data)
        if include_source:
            base = os.path.basename(p)
            return [r + (base,) for r in parsed]
        return parsed

    return map_files(spark, path, parse_file, schema, glob="*.{xml,xml.gz}")


_XML_ILLEGAL_RE = None  # compiled lazily


def _esc(v: str) -> str:
    """Element-text escape + write-time rejection of XML-1.0-illegal
    control characters (same posture as the RDF/XML sinks: a URL with
    a raw control byte cannot be represented in XML at all — fail the
    write, don't emit a document every parser rejects)."""
    import re

    global _XML_ILLEGAL_RE
    if _XML_ILLEGAL_RE is None:
        _XML_ILLEGAL_RE = re.compile("[\x00-\x08\x0b\x0c\x0e-\x1f]")
    if _XML_ILLEGAL_RE.search(v):
        raise ValueError(
            f"sitemap: XML-1.0-illegal control character in {v!r}"
        )
    # \r as &#13; — XML line-end normalization would silently rewrite
    # a raw CR to LF on parse (the rdfxml-sink lesson, ADVICE r7).
    return (
        v.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        .replace("\r", "&#13;")
    )


_GROUP_OK_RE = None  # compiled lazily


def _check_group(g: str) -> str:
    """The group value becomes a filename component — reject anything
    that could escape the directory or surprise the glob (ADVICE r8:
    a host containing '/' silently broke the write path)."""
    import re

    global _GROUP_OK_RE
    if _GROUP_OK_RE is None:
        _GROUP_OK_RE = re.compile(r"^[A-Za-z0-9._-]+$")
    if not _GROUP_OK_RE.match(g):
        raise ValueError(
            f"sitemap: group value {g!r} is not filename-safe "
            "(allowed: letters, digits, '.', '_', '-')"
        )
    return g


def write_urlset_files(
    urls: DataFrame,
    directory: str,
    group_col: str = "host",
    loc_col: str = "loc",
    lastmod_col: str | None = "lastmod",
    priority_col: str | None = "priority",
    changefreq_col: str | None = None,
    compress: bool = False,
) -> None:
    """One ``sitemap-<group>.xml[.gz]`` urlset per group (per host,
    per shard — the spec's 50k-URL cap is the writer's natural split
    unit), written executor-side on a shared FS. Repartition by the
    group column and sort each partition by it, so one task owns each
    group's file and holds one group at a time. Priorities
    are written with full float repr — the file agrees with the input
    frame exactly (ADVICE r8: ``{:.1f}`` silently rounded 0.55 →
    0.6)."""
    import os

    os.makedirs(directory, exist_ok=True)
    cols = [group_col, loc_col]
    if lastmod_col:
        cols.append(lastmod_col)
    if priority_col:
        cols.append(priority_col)
    if changefreq_col:
        cols.append(changefreq_col)
    ext = ".xml.gz" if compress else ".xml"

    def write_group(g: str, lines: list[str]) -> None:
        doc = (
            '<?xml version="1.0" encoding="UTF-8"?>\n'
            f'<urlset xmlns="{SITEMAP_NS}">\n'
            + "\n".join(lines)
            + "\n</urlset>\n"
        ).encode("utf-8")
        if compress:
            from razulibs_spark.sources.warc import gzip_member

            doc = gzip_member(doc)
        with open(os.path.join(directory, f"sitemap-{g}{ext}"), "wb") as fh:
            fh.write(doc)

    def write_partition(rows) -> None:
        group, lines = None, []
        for row in rows:
            g = _check_group(row[group_col])
            if g != group:
                if lines:
                    write_group(group, lines)
                group, lines = g, []
            parts = ["  <url><loc>" + _esc(row[loc_col]) + "</loc>"]
            if lastmod_col and row[lastmod_col] is not None:
                parts.append(f"<lastmod>{_esc(row[lastmod_col])}</lastmod>")
            if changefreq_col and row[changefreq_col] is not None:
                parts.append(
                    f"<changefreq>{_esc(row[changefreq_col])}</changefreq>"
                )
            if priority_col and row[priority_col] is not None:
                parts.append(
                    f"<priority>{row[priority_col]!r}</priority>"
                )
            parts.append("</url>")
            lines.append("".join(parts))
        if lines:
            write_group(group, lines)

    # A group's rows land in one partition and, sorted, follow each
    # other; each_partition's merge of partitions keeps them so. A task
    # holds one group's lines at a time, and writes each file once.
    each_partition(
        urls.select(*cols).repartition(group_col).sortWithinPartitions(group_col),
        write_partition,
    )


def write_sitemap_index(
    entries: list[tuple[str, str | None]], path: str
) -> None:
    """One sitemapindex file from (loc, lastmod) pairs — index files
    are host-level singletons (a handful of entries), written
    driver-side by design."""
    lines = []
    for loc, lastmod in entries:
        row = "  <sitemap><loc>" + _esc(loc) + "</loc>"
        if lastmod:
            row += f"<lastmod>{_esc(lastmod)}</lastmod>"
        lines.append(row + "</sitemap>")
    with open(path, "w") as fh:
        fh.write(
            '<?xml version="1.0" encoding="UTF-8"?>\n'
            f'<sitemapindex xmlns="{SITEMAP_NS}">\n'
            + "\n".join(lines)
            + "\n</sitemapindex>\n"
        )
