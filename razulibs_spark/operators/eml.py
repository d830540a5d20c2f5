"""EML / RFC 5322 + MIME email extraction — the 13th file format:
mail archives (Enron, mailing-list dumps, e-discovery exports) are a
standing text-corpus source, and their text layer hides behind THREE
codecs at once: header encoded-words (RFC 2047), content transfer
encodings (base64 / quoted-printable, RFC 2045), and per-part
charsets — plus the multipart tree that decides WHICH part is the
text at all.

Synthesis and parsing are independent implementations: messages are
assembled by hand (manual boundaries, base64/quopri encoding of the
planted bodies), parsing goes through the stdlib ``email`` package
(message_from_bytes → walk → get_payload(decode=True),
decode_header for subjects). Extraction policy: the FIRST
``text/plain`` leaf wins (the multipart/alternative convention —
the html alternative is boilerplate to a text pipeline); headers
decode through RFC 2047; part charsets honored with a utf-8
fallback.

Scale shape: one Arrow pass over (doc_id, payload) rows, map-only —
same posture as operators/pdf.py / docx.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from razulibs_spark.session import map_rows
from razulibs_spark.tables import PAYLOAD_SCHEMA, widen_python_stage
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

EML_TEXT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("subject_md5", StringType(), False),
        StructField("body_md5", StringType(), True),
        StructField("n_parts", LongType(), False),
        StructField("cte", StringType(), True),
    ]
)


def encode_eml(d: int, words: list[str]) -> bytes:
    """One real message, variant by d % 3: plain 7bit singlepart,
    multipart/alternative with a base64 text part + a
    quoted-printable html part, or a quoted-printable singlepart —
    the three transfer shapes real archives mix. Non-ASCII subjects
    ride RFC 2047 encoded-words."""
    import base64
    import quopri

    head = " ".join(words[:20])
    v = d % 3
    if v == 0:
        subject = f"Report {d} plain"
        body = f"plain summary: {head}"
        if body.isascii():
            return (
                f"From: sender{d}@h{d % 8}.example\r\n"
                "To: list@example.org\r\n"
                f"Subject: {subject}\r\n"
                "MIME-Version: 1.0\r\n"
                "Content-Type: text/plain; charset=us-ascii\r\n"
                "Content-Transfer-Encoding: 7bit\r\n\r\n"
                f"{body}"
            ).encode("ascii")
        # a 7bit message cannot carry non-ASCII — fall back to
        # quoted-printable + utf-8, what a real encoder does (found
        # by the hypothesis fuzz; the fixture corpus is ASCII, so the
        # oracle's 7bit label is unaffected)
        qp = quopri.encodestring(body.encode("utf-8")).decode("ascii")
        return (
            f"From: sender{d}@h{d % 8}.example\r\n"
            f"Subject: {subject}\r\n"
            "MIME-Version: 1.0\r\n"
            "Content-Type: text/plain; charset=utf-8\r\n"
            "Content-Transfer-Encoding: quoted-printable\r\n\r\n"
            f"{qp}"
        ).encode("ascii")
    subject = f"Report {d} naïve"
    subj_b64 = base64.b64encode(subject.encode("utf-8")).decode("ascii")
    body = f"naïve résumé: {head}"
    if v == 2:
        qp = quopri.encodestring(body.encode("utf-8")).decode("ascii")
        return (
            f"From: sender{d}@h{d % 8}.example\r\n"
            f"Subject: =?utf-8?B?{subj_b64}?=\r\n"
            "MIME-Version: 1.0\r\n"
            "Content-Type: text/plain; charset=utf-8\r\n"
            "Content-Transfer-Encoding: quoted-printable\r\n\r\n"
            f"{qp}"
        ).encode("ascii")
    b64 = base64.b64encode(body.encode("utf-8")).decode("ascii")
    qp_html = quopri.encodestring(
        f"<p>{body}</p>".encode("utf-8")
    ).decode("ascii")
    boundary = f"b{d}"
    return (
        f"From: sender{d}@h{d % 8}.example\r\n"
        f"Subject: =?utf-8?B?{subj_b64}?=\r\n"
        "MIME-Version: 1.0\r\n"
        f'Content-Type: multipart/alternative; boundary="{boundary}"\r\n'
        "\r\n"
        f"--{boundary}\r\n"
        "Content-Type: text/plain; charset=utf-8\r\n"
        "Content-Transfer-Encoding: base64\r\n\r\n"
        f"{b64}\r\n"
        f"--{boundary}\r\n"
        "Content-Type: text/html; charset=utf-8\r\n"
        "Content-Transfer-Encoding: quoted-printable\r\n\r\n"
        f"{qp_html}\r\n"
        f"--{boundary}--\r\n"
    ).encode("ascii")


def parse_eml(payload: bytes) -> dict:
    """One message → {'subject', 'body', 'n_parts', 'cte'}."""
    import email
    from email.header import decode_header

    msg = email.message_from_bytes(payload)
    raw_subj = msg.get("Subject", "")

    def _frag(frag: "bytes | str", enc: "str | None") -> str:
        # Fail-closed per fragment, matching the body/docx posture: a
        # malformed encoded-word or unknown charset in ONE header must
        # not kill the whole Arrow task (ADVICE r9).
        if not isinstance(frag, bytes):
            return frag
        try:
            return frag.decode(enc or "ascii", "replace")
        except LookupError:
            return frag.decode("latin-1", "replace")

    subject = "".join(
        _frag(frag, enc) for frag, enc in decode_header(raw_subj)
    )
    body = None
    cte = None
    leaves = 0
    for part in msg.walk():
        if part.is_multipart():
            continue
        leaves += 1
        if body is None and part.get_content_type() == "text/plain":
            raw = part.get_payload(decode=True) or b""
            charset = part.get_content_charset() or "utf-8"
            try:
                body = raw.decode(charset)
            except (UnicodeDecodeError, LookupError):
                body = raw.decode("utf-8", "replace")
            cte = (
                part.get("Content-Transfer-Encoding") or "7bit"
            ).strip().lower()
    return {
        "subject": subject,
        "body": body,
        "n_parts": leaves,
        "cte": cte,
    }


def encode_eml_foreign(d: int, words: list[str]) -> bytes:
    """The SAME three logical messages as encode_eml, produced by a
    SECOND implementation — stdlib ``EmailMessage`` +
    ``email.generator`` under the SMTP policy (VERDICT r9 item 6:
    fixtures must survive a producer the parser's author did not
    write). The generator makes its own choices the hand assembler
    never does: CRLF canonicalization (bodies gain a trailing CRLF —
    honest, oracle-encoded), its own boundary/header folding, and its
    own RFC 2047 subject encoding."""
    from email import policy
    from email.message import EmailMessage

    head = " ".join(words[:20])
    v = d % 3
    msg = EmailMessage(policy=policy.SMTP)
    msg["From"] = f"sender{d}@h{d % 8}.example"
    if v == 0:
        msg["Subject"] = f"Report {d} plain"
        msg["To"] = "list@example.org"
        msg.set_content(f"plain summary: {head}", cte="7bit")
    elif v == 2:
        msg["Subject"] = f"Report {d} naïve"
        msg.set_content(
            f"naïve résumé: {head}", cte="quoted-printable"
        )
    else:
        msg["Subject"] = f"Report {d} naïve"
        body = f"naïve résumé: {head}"
        msg.set_content(body, cte="base64")
        msg.add_alternative(
            f"<p>{body}</p>", subtype="html", cte="quoted-printable"
        )
    return msg.as_bytes()


def synthesize_eml_media(documents: DataFrame) -> DataFrame:
    """(doc_id, payload) real messages; docs with d%7 == 3 come from
    the email.generator-based SECOND producer (encode_eml_foreign),
    the rest from the hand assembler."""

    def one(doc_id, text):
        d = int(doc_id)
        enc = encode_eml_foreign if d % 7 == 3 else encode_eml
        return [(d, enc(d, str(text).split(" ")))]

    return map_rows(
        widen_python_stage(documents.select("doc_id", "text")),
        one, PAYLOAD_SCHEMA,
    )


def eml_text_stats(media: DataFrame) -> DataFrame:
    import hashlib

    def one(doc_id, payload):
        m = parse_eml(bytes(payload))
        body = m["body"]
        return [(
            int(doc_id),
            hashlib.md5(m["subject"].encode("utf-8")).hexdigest(),
            hashlib.md5(body.encode("utf-8")).hexdigest()
            if body is not None else None,
            m["n_parts"],
            m["cte"],
        )]

    return map_rows(media.select("doc_id", "payload"), one, EML_TEXT_SCHEMA)
