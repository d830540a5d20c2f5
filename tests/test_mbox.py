"""MBOX sharded source — separator framing, mboxrd quoting, split
boundaries."""

from __future__ import annotations

from razulibs_spark.operators.mbox import mbox_escape, mbox_unescape


def test_mboxrd_quoting_roundtrip():
    body = (
        "From the start\n>From quoted already\n>>From deeper\n"
        "not From here\nFrom \n"
    )
    esc = mbox_escape(body)
    # every ^>*From line gained exactly one '>'
    assert esc.splitlines()[0] == ">From the start"
    assert esc.splitlines()[1] == ">>From quoted already"
    assert esc.splitlines()[3] == "not From here"
    assert mbox_unescape(esc) == body


def test_sharded_mbox_across_splits(spark, tmp_path):
    from razulibs_spark.operators.eml import encode_eml, parse_eml
    from razulibs_spark.operators.mbox import (
        _FROM_LINE,
        read_mbox_sharded,
    )

    words = "alpha beta gamma delta eps zeta eta theta".split(" ")
    msgs = {d: encode_eml(d, words).decode() for d in range(40)}
    mbox = "\n".join(
        _FROM_LINE + "\n" + mbox_escape(m) for m in msgs.values()
    )
    p = tmp_path / "spool.mbox"
    p.write_text(mbox)
    out = read_mbox_sharded(spark, str(p), min_partitions=8).collect()
    assert len(out) == 40
    subjects = set()
    for r in out:
        m = parse_eml(r["raw"].encode())
        subjects.add(m["subject"])
    assert subjects == {
        parse_eml(msgs[d].encode())["subject"] for d in range(40)
    }


def _cl_message(d: int, body: str, quote: bool, cl_delta: int = 0) -> str:
    """A minimal RFC 5322 message with a Content-Length header that
    counts the STORED body bytes (optionally off by cl_delta — real
    producers disagree about the trailing newline)."""
    stored = mbox_escape(body) if quote else body
    return (
        f"From: a{d}@example.org\n"
        f"Subject: Report {d} cl\n"
        f"Content-Length: {len(stored.encode('utf-8')) + cl_delta}\n"
        "\n"
        f"{stored}"
    )


def test_mboxcl2_unquoted_from_lines_stitch(spark, tmp_path):
    """mboxcl2 (VERDICT r11 next #5): bodies legally contain UNQUOTED
    'From ' lines; Content-Length is authoritative for framing, so
    the falsely-split fragments stitch back byte-exactly — at 16
    forced splits, with two From_ lines per body, at both CL
    conventions (with/without the trailing newline)."""
    from razulibs_spark.operators.mbox import (
        _FROM_LINE,
        read_mbox_sharded,
    )

    bodies = {
        d: (
            f"body {d} starts\n"
            f"From here it continues {d}\n"
            "middle line\n"
            f"From the end of {d}"
        )
        for d in range(12)
    }
    spool = "\n".join(
        _FROM_LINE + "\n" + _cl_message(d, b, quote=False,
                                        cl_delta=(d % 2))
        for d, b in bodies.items()
    )
    p = tmp_path / "spool.mboxcl2"
    p.write_text(spool)
    for dialect in ("cl2", "auto"):
        rows = read_mbox_sharded(
            spark, str(p), min_partitions=16, dialect=dialect
        ).collect()
        assert len(rows) == 12, dialect
        got = {}
        for r in rows:
            raw = r["raw"]
            d = int(raw.split("Report ")[1].split(" ")[0])
            got[d] = raw.split("\n\n", 1)[1]
        assert got == bodies, dialect
    # the rd reading of the same spool WOULD mis-split (the guard
    # that this axis actually exercises the new path)
    rd = read_mbox_sharded(
        spark, str(p), min_partitions=16, dialect="rd"
    ).collect()
    # 12 messages + 12 'From here…' false splits; the trailing
    # 'From the end…' lines are immediately followed by the next real
    # separator, so rd's framing (separator dropped) leaves them as
    # EMPTY records that never materialize
    assert len(rd) == 24


def test_mboxcl_quoted_bodies_unquote(spark, tmp_path):
    """mboxcl: Content-Length framed AND mboxrd-quoted — 'cl' undoes
    the quoting, 'cl2' keeps bytes exact."""
    from razulibs_spark.operators.mbox import (
        _FROM_LINE,
        read_mbox_sharded,
    )

    body = "From quoted start\nplain line\n>From pre-quoted"
    spool = (
        _FROM_LINE + "\n" + _cl_message(0, body, quote=True)
        + "\n" + _FROM_LINE + "\n"
        + _cl_message(1, "second body", quote=True)
    )
    p = tmp_path / "spool.mboxcl"
    p.write_text(spool)
    rows = {
        int(r["raw"].split("Report ")[1].split(" ")[0]):
        r["raw"].split("\n\n", 1)[1]
        for r in read_mbox_sharded(
            spark, str(p), min_partitions=4, dialect="cl"
        ).collect()
    }
    assert rows[0] == body  # quoting undone
    rows2 = {
        int(r["raw"].split("Report ")[1].split(" ")[0]):
        r["raw"].split("\n\n", 1)[1]
        for r in read_mbox_sharded(
            spark, str(p), min_partitions=4, dialect="cl2"
        ).collect()
    }
    assert rows2[0] == mbox_escape(body)  # bytes exact


def test_auto_dialect_mixed_spool(spark, tmp_path):
    """auto: an rd message (no Content-Length, quoted) and a cl2
    message (CL, unquoted From_ in body) in ONE spool both come back
    exact — per-message dialect detection."""
    from razulibs_spark.operators.eml import parse_eml
    from razulibs_spark.operators.mbox import (
        _FROM_LINE,
        read_mbox_sharded,
    )

    rd_body = "From an rd body\nplain"
    rd_msg = (
        "From: rd@example.org\nSubject: Report 100 rd\n\n"
        + mbox_escape(rd_body)
    )
    cl_body = "From a cl2 body\nFrom again\ntail"
    spool = (
        _FROM_LINE + "\n" + rd_msg + "\n"
        + _FROM_LINE + "\n" + _cl_message(200, cl_body, quote=False)
        + "\n" + _FROM_LINE + "\n" + rd_msg
    )
    p = tmp_path / "spool.mixed"
    p.write_text(spool)
    rows = read_mbox_sharded(
        spark, str(p), min_partitions=6, dialect="auto"
    ).collect()
    assert len(rows) == 3
    bodies = sorted(r["raw"].split("\n\n", 1)[1] for r in rows)
    assert bodies == sorted([rd_body, rd_body, cl_body])
    for r in rows:
        parse_eml(r["raw"].encode())  # all three parse as RFC 5322


def test_cl_fold_paths_equivalent(spark, tmp_path):
    """r14 size-adaptive fold (VERDICT r13 next #6): the distributed
    sync-point scan (splits > defaultParallelism) and the bounded
    one-task fold must produce IDENTICAL messages. The spool mixes rd
    and cl2 messages, plants unquoted ``From `` body lines (false
    separators that must stitch), and is read at split counts on both
    sides of the gate."""
    from razulibs_spark.operators.mbox import (
        _FROM_LINE,
        mbox_escape,
        read_mbox_sharded,
    )

    parts = []
    for d in range(40):
        if d % 3 == 0:
            body = f"From a cl2 body {d}\nFrom again\ntail {d}" + (
                "\nx" * (d % 7)
            )
            head = f"From: a@b\nSubject: Report {d} cl2"
            cl = len(body.encode("utf-8"))
            parts.append(
                _FROM_LINE + "\n" + head
                + f"\nContent-Length: {cl}\n\n" + body
            )
        else:
            body = f"plain body {d}\n" + ("y" * (d % 11))
            parts.append(
                _FROM_LINE + "\n"
                + mbox_escape(f"From: a@b\nSubject: Report {d}\n\n" + body)
            )
    p = tmp_path / "spool.eq"
    p.write_text("\n".join(parts))

    par = spark.sparkContext.defaultParallelism

    def rows(min_parts):
        return sorted(
            (r["msg_id"], r["raw"])
            for r in read_mbox_sharded(
                spark, str(p), min_partitions=min_parts, dialect="auto"
            ).collect()
        )

    small = rows(2)            # <= par: one-task fold
    big = rows(par + 3)        # > par: distributed sync-point scan
    # msg_id is the first fragment's rec_id, which depends on the
    # candidate-separator numbering — identical across split counts —
    # so full tuples must match exactly
    assert small == big
    assert len(small) == 40
