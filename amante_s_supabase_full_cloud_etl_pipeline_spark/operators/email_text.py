"""Email ingestion — ``.eml`` (RFC 5322 messages) and ``mbox``
archives as text sources for the curation pipeline (charter
extension, SURVEY.md §2.10; reference analog: none).

Mailing-list archives and support dumps are a real training-data
source, and they arrive exactly two ways: single RFC 5322 messages
(eml) and ``mbox`` files concatenating thousands of them. The
parser here is the stdlib :mod:`email` package (``policy=default``
— the modern, header-sane API), which makes this module mostly
PLUMBING with the hard parts delegated to a battle-tested public
implementation; what this module adds is the corpus discipline:

- :func:`split_mbox` — the ``From `` envelope-line splitter with
  **mboxrd** unescaping (a body line matching ``>+From `` loses one
  ``>``); member count capped.
- :func:`extract_email` — one message → headers (subject / from /
  to / message-id, date parsed to epoch ms) + the BODY TEXT chosen
  the way a reader would: the first ``text/plain`` part, else
  ``text/html`` through the in-repo HTML extractor
  (:func:`.extraction.extract_html_record` — same tier the crawl
  uses), walking ``multipart/*`` and nested ``message/rfc822``
  under a depth cap; attachments are COUNTED and size-summed, never
  decoded into the text. Extracted text is byte-capped; a
  structurally hopeless payload yields header-only rows rather than
  nothing (stdlib ``email`` never raises on bytes input — it
  records defects — so S4 here means "no headers AND no body").
- :func:`email_text` — the Arrow kernel: one row per message
  (``msg_idx`` orders mbox members), sniffing eml vs mbox from the
  leading bytes.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from .fuse import Corpus, MediaFamily

_MAX_MESSAGES = 1 << 16       # mbox members per blob
_MAX_PARTS = 1 << 10          # MIME parts walked per message
_MAX_DEPTH = 16               # multipart/message nesting
_MAX_TEXT_BYTES = 1 << 22     # 4 MiB body text per message

_FROM_LINE = re.compile(rb"^From .*\r?\n", re.M)
_MUNGED = re.compile(rb"^(>+)(From )", re.M)


def split_mbox(blob: bytes) -> list[bytes]:
    """Split an mbox into raw RFC 5322 messages: boundaries are
    ``From `` ENVELOPE lines at line starts; mboxrd unescaping
    restores ``>From`` body lines (one ``>`` stripped)."""
    if not blob.startswith(b"From "):
        return []
    starts = [m.start() for m in _FROM_LINE.finditer(blob)]
    # envelope lines only START messages; a "From " line inside a
    # body would have been munged by a conforming writer, so every
    # match is a boundary
    out = []
    for i, s in enumerate(starts):
        if len(out) >= _MAX_MESSAGES:
            break
        e = starts[i + 1] if i + 1 < len(starts) else len(blob)
        body = blob[s:e]
        # drop the envelope line itself
        nl = body.find(b"\n")
        if nl < 0:
            continue
        msg = body[nl + 1:]
        out.append(_unmunge(msg) if b">From " in msg else msg)
    return out


def _unmunge(msg: bytes) -> bytes:
    """mboxrd: a body line of ``>+From `` loses exactly one ``>``."""
    return _MUNGED.sub(lambda m: m.group(1)[1:] + m.group(2), msg)


class _Unsupported(Exception):
    """Raised by the fast-path parser whenever the message leaves the
    envelope of shapes whose policy.default equivalence is verified;
    the caller re-parses with the stdlib path. Never user-visible."""


def _body_text(msg, depth: int = 0, budget: list | None = None):
    """(text, n_parts, n_attachments, attachment_bytes) — first
    text/plain wins; text/html funnels through the crawl's HTML
    extractor; attachments counted not decoded."""
    from .extraction import extract_html_record

    if budget is None:
        budget = [_MAX_PARTS]
    if depth > _MAX_DEPTH:
        return None, 0, 0, 0
    n_parts = 0
    n_att = 0
    att_bytes = 0
    plain = None
    html = None
    stack = [(msg, depth)]
    while stack:
        part, d = stack.pop()
        budget[0] -= 1
        if budget[0] < 0:
            break  # global part allowance spent
        if d > _MAX_DEPTH:
            continue  # skip THIS over-deep subtree, not its siblings
        n_parts += 1
        ctype = part.get_content_type()
        disp = (part.get_content_disposition() or "").lower()
        if disp == "attachment":
            # attachments are counted never decoded into text —
            # including attached messages (message/rfc822 is
            # "multipart" to the stdlib, so this check must come
            # FIRST or a forwarded mail's body leaks in)
            n_att += 1
            try:
                payload = part.get_payload(decode=True)
                if payload is None:
                    payload = part.as_bytes()
            except _Unsupported:
                raise
            except Exception:
                payload = b""
            att_bytes += len(payload)
            continue
        if ctype == "message/rfc822":
            # inline forwarded message: its parts join the walk
            payload = part.get_payload()
            if isinstance(payload, list):
                for child in reversed(payload):
                    stack.append((child, d + 1))
            continue
        if part.is_multipart():
            children = list(part.iter_parts()) if hasattr(
                part, "iter_parts"
            ) else part.get_payload()
            for child in reversed(children):
                stack.append((child, d + 1))
            continue
        filename = part.get_filename()
        if filename and ctype not in ("text/plain", "text/html"):
            n_att += 1
            try:
                payload = part.get_payload(decode=True) or b""
            except _Unsupported:
                raise
            except Exception:
                payload = b""
            att_bytes += len(payload)
            continue
        if ctype == "text/plain" and not (plain and plain.strip()):
            try:
                got = part.get_content()
                if got and (plain is None or got.strip()):
                    plain = got
                elif plain is None:
                    plain = got
            except _Unsupported:
                raise
            except Exception:
                pass
        elif ctype == "text/html" and html is None:
            try:
                html = part.get_content()
            except _Unsupported:
                raise
            except Exception:
                html = None
    text = plain
    if (text is None or not text.strip()) and html is not None:
        # an empty/blank plain leg must not shadow a real html body
        rec = extract_html_record(html)
        # (title, text, n_links, link_density) tuple
        if rec and rec[1]:
            text = rec[1]
    if text is not None:
        # the cap is BYTES (the Arrow memory budget), not chars —
        # CJK text at 3 bytes/char would otherwise triple it
        enc = text.encode("utf-8", "ignore")
        if len(enc) > _MAX_TEXT_BYTES:
            text = enc[:_MAX_TEXT_BYTES].decode("utf-8", "ignore")
    return text, n_parts, n_att, att_bytes


def extract_email(raw: bytes | None) -> dict | None:
    """One RFC 5322 message → headers + chosen body text. Returns
    None only when there is neither a parseable header nor a body
    (S4); defective-but-salvageable messages surface what parsed.

    r14 (optimization round, guide §4.2): messages inside the
    verified fast-path envelope (ASCII unfolded headers, plain or
    single-encoded-word values, simple MIME parameters, the common
    transfer encodings) parse through :func:`_fast_message` — a
    byte-level parser exposing the same ``Message``-API subset the
    extraction walk uses, with semantics differentially pinned
    against ``policy=default`` (tests/test_email.py). ANYTHING
    outside that envelope raises :class:`_Unsupported` and the whole
    message re-parses on the stdlib path, so output is identical by
    construction for unsupported shapes and differentially verified
    for supported ones."""
    if not raw or len(raw) < 8:
        return None
    try:
        return _extract_from(_fast_message(raw))
    except _Unsupported:
        return _extract_stdlib(raw)


def _extract_stdlib(raw: bytes) -> dict | None:
    """The reference path: stdlib email with policy.default."""
    import email
    import email.policy

    try:
        msg = email.message_from_bytes(raw, policy=email.policy.default)
    except Exception:
        return None
    return _extract_from(msg)


def _extract_from(msg) -> dict | None:
    """Headers + body selection over a parsed message (stdlib
    ``EmailMessage`` or fast-path :class:`_Part` — same API)."""
    import email.utils

    if not list(msg.keys()):
        # stdlib treats ANY bytes as a headerless message whose
        # "body" is the input — for a corpus kernel that would turn
        # arbitrary binary into text rows; a real message always
        # carries at least one header
        return None
    subject = str(msg.get("Subject", "")) or None
    sender = str(msg.get("From", "")) or None
    to = str(msg.get("To", "")) or None
    message_id = str(msg.get("Message-ID", "")) or None
    date_ms = None
    if msg.get("Date"):
        try:
            dt = email.utils.parsedate_to_datetime(str(msg["Date"]))
            if dt is not None:
                if dt.tzinfo is None:
                    # '-0000' parses NAIVE; .timestamp() would then
                    # read the EXECUTOR's timezone — pin to UTC so
                    # the same message hashes identically everywhere
                    from datetime import timezone

                    dt = dt.replace(tzinfo=timezone.utc)
                date_ms = int(dt.timestamp() * 1000)
        except (ValueError, TypeError, OverflowError, OSError):
            date_ms = None
    try:
        text, n_parts, n_att, att_bytes = _body_text(msg)
    except _Unsupported:
        raise
    except Exception:
        text, n_parts, n_att, att_bytes = None, 0, 0, 0
    if not any((subject, sender, to, message_id, text)):
        return None
    return {
        "subject": subject,
        "sender": sender,
        "to": to,
        "message_id": message_id,
        "date_ms": date_ms,
        "text": text,
        "n_parts": n_parts,
        "n_attachments": n_att,
        "attachment_bytes": att_bytes,
    }


# ── fast-path message parser (r14, guide §4.2) ──────────────────
#
# The stdlib path costs ~1.2 ms/message, 85% of it in the
# policy.default header registry (every .get()/get_content_type()
# re-runs the RFC 5322 grammar) and the FeedParser line loop. The
# corpus and virtually all real mail is plain ASCII headers + simple
# MIME — for THAT envelope the parser below produces bit-identical
# extraction output (differential test over the full fixture corpus
# + hostile shapes + truncation fuzz) at ~15x the speed. Every
# guard failure raises _Unsupported → the message re-parses on the
# stdlib path, so unsupported shapes are identical by construction.

#: header name: RFC 5322 field-name (printable US-ASCII sans ':'),
#: additionally rejecting embedded spaces (policy.default DROPS a
#: "Name : v" header entirely — ambiguous, so such lines fall back)
_NAME_OK = re.compile(rb"[\x21-\x39\x3b-\x7e]+$")
#: header value: printable ASCII (no tabs/controls — those change
#: unstructured-parse whitespace semantics; fall back)
_VALUE_OK = re.compile(rb"[\x20-\x7e]*$")
_CTYPE_RE = re.compile(
    r"\s*([A-Za-z0-9!#$&^_.+-]+)/([A-Za-z0-9!#$&^_.+-]+)\s*(;.*)?$",
    re.S,
)
_DISP_RE = re.compile(r"\s*([A-Za-z0-9!#$&^_.+-]+)\s*(;.*)?$", re.S)
_PARAM_RE = re.compile(
    r';\s*([A-Za-z0-9!#$&^_.+-]+)\s*=\s*(?:"([^"\\]*)"|([^;\s"]*))\s*'
)
#: one whole-value encoded word (the only RFC 2047 shape fast-pathed)
_EW_RE = re.compile(r"=\?[^?]+\?[qQbB]\?[^?\s]*\?=$")
#: bare addr-spec / "Words <addr-spec>" that policy.default
#: round-trips verbatim (verified: dots in display names, double
#: spaces, quoting and multi-address lists all re-serialize
#: differently → excluded)
_ADDR_SPEC = r"[A-Za-z0-9_+-]+(?:\.[A-Za-z0-9_+-]+)*@[A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*"
_ADDR_RE = re.compile(_ADDR_SPEC + "$")
_NAME_ADDR_RE = re.compile(
    r"[A-Za-z0-9_-]+(?: [A-Za-z0-9_-]+)* <" + _ADDR_SPEC + ">$"
)
_MSGID_RE = re.compile(r"<[A-Za-z0-9._+-]+@[A-Za-z0-9._-]+>$")
_KNOWN_CTE = ("", "7bit", "8bit", "binary", "base64", "quoted-printable")
#: charsets whose decode the fast path performs itself; anything
#: else (incl. unknown charsets, which must raise LookupError
#: upstream) falls back
_KNOWN_CHARSETS = (
    "ascii", "us-ascii", "utf-8", "utf8",
    "latin-1", "latin1", "iso-8859-1", "windows-1252", "cp1252",
)


class _Part:
    """Parsed message node exposing the Message-API subset the
    extraction walk uses; every accessor either matches
    policy.default semantics exactly or raises _Unsupported."""

    __slots__ = (
        "_headers", "_ctype", "_maintype", "_params",
        "_disp", "_disp_params", "_cte", "_body", "_children",
    )

    def keys(self):
        return [n for n, _ in self._headers]

    def get(self, name, default=None):
        name = name.lower()
        for n, v in self._headers:
            if n == name:
                return _decode_header(name, v)
        return default

    def __getitem__(self, name):
        return self.get(name)

    def is_multipart(self):
        return self._children is not None

    def get_content_type(self):
        return self._ctype

    def get_content_disposition(self):
        return self._disp

    def get_filename(self):
        fn = self._disp_params.get("filename")
        if fn is None:
            fn = self._params.get("name")
        if fn is None:
            return None
        if '"' in fn or fn.startswith("<"):
            raise _Unsupported  # utils.unquote would re-unquote
        return fn.strip()

    def iter_parts(self):
        return iter(self._children or ())

    def get_payload(self, i=None, decode=False):
        if self._children is not None:
            return None if decode else self._children
        if not decode:
            raise _Unsupported  # walk never reads leaves undecoded
        body = self._body
        if self._cte == "base64":
            from email._encoded_words import decode_b

            # exact stdlib path: newline-stripped, defect-tolerant
            return decode_b(b"".join(body.splitlines()))[0]
        if self._cte == "quoted-printable":
            import quopri

            return quopri.decodestring(body)
        return body

    def get_content(self):
        # contentmanager.get_text_content (the only route the walk
        # takes: text/plain and text/html leaves), errors='replace'
        data = self.get_payload(decode=True)
        charset = self._params.get("charset", "ascii")
        if charset.lower() not in _KNOWN_CHARSETS:
            raise _Unsupported  # incl. stdlib's LookupError behavior
        return data.decode(charset, errors="replace")

    def as_bytes(self):
        raise _Unsupported  # policy re-serialization: stdlib only


def _decode_header(name, value):
    """policy.default decoded form of the five fetched headers."""
    if name == "subject":
        if "=?" not in value:
            return value
        if not _EW_RE.match(value):
            raise _Unsupported
        from email import _encoded_words as _ew

        try:
            text, charset, lang, defects = _ew.decode(value)
        except Exception:
            raise _Unsupported
        if defects or charset.lower() not in _KNOWN_CHARSETS:
            raise _Unsupported
        return text
    if name in ("from", "to"):
        if _ADDR_RE.match(value) or _NAME_ADDR_RE.match(value):
            return value
        raise _Unsupported
    if name == "message-id":
        if _MSGID_RE.match(value):
            return value
        raise _Unsupported
    if name == "date":
        # DateHeader keeps the source text verbatim (verified incl.
        # unparseable values); parsing happens downstream either way
        return value
    raise _Unsupported


def _fast_message(raw: bytes) -> _Part:
    if raw.replace(b"\r\n", b"").find(b"\r") != -1:
        raise _Unsupported  # bare-CR line endings: stdlib only
    return _parse_part(raw, top=True)


def _parse_part(raw: bytes, top: bool = False) -> _Part:
    headers: list[tuple[str, str]] = []
    pos = 0
    n = len(raw)
    body = b""
    first = True
    while pos <= n:
        nl = raw.find(b"\n", pos)
        end = n if nl < 0 else nl
        line = raw[pos:end]
        if line.endswith(b"\r"):
            line = line[:-1]
        if not line:
            # blank separator: body is everything after it
            body = raw[nl + 1:] if nl >= 0 else b""
            break
        if first and top and line.startswith(b"From "):
            # mbox envelope line: FeedParser skips it at the root
            first = False
            if nl < 0:
                break
            pos = nl + 1
            continue
        first = False
        c = line.find(b":")
        if c <= 0:
            if c == 0 or line[:1] in (b" ", b"\t"):
                # empty field name (policy DROPS the line and keeps
                # parsing headers) / folded header / stray FWS line
                raise _Unsupported
            # non-header line ends the header block and STARTS the
            # body (MissingHeaderBodySeparator — line included)
            body = raw[pos:]
            break
        name = line[:c]
        if not _NAME_OK.match(name):
            # a colon-bearing line with an invalid field name is
            # DROPPED (not body-starting) by policy.default —
            # ambiguous enough to punt
            raise _Unsupported
        value = line[c + 1:]
        if not _VALUE_OK.match(value):
            raise _Unsupported  # non-ASCII / control bytes / tabs
        headers.append(
            (
                name.decode("ascii").lower(),
                value.lstrip(b" \t").decode("ascii"),
            )
        )
        if nl < 0:
            break
        pos = nl + 1

    def _first(hname):
        for hn, hv in headers:
            if hn == hname:
                return hv
        return None

    ct = _first("content-type")
    if ct is None:
        maintype, subtype, params = "text", "plain", {}
    else:
        m = _CTYPE_RE.match(ct)
        if not m:
            raise _Unsupported  # malformed: policy recovery differs
        maintype = m.group(1).lower()
        subtype = m.group(2).lower()
        params = _parse_params(m.group(3))

    disp_raw = _first("content-disposition")
    disp, disp_params = None, {}
    if disp_raw is not None:
        m = _DISP_RE.match(disp_raw)
        if not m:
            raise _Unsupported
        disp = m.group(1).lower()
        disp_params = _parse_params(m.group(2))

    cte_raw = _first("content-transfer-encoding")
    cte = (cte_raw or "").strip().lower()
    if cte not in _KNOWN_CTE:
        raise _Unsupported  # uuencode variants etc.: stdlib only

    part = _Part()
    part._headers = headers
    part._maintype = maintype
    part._ctype = maintype + "/" + subtype
    part._params = params
    part._disp = disp
    part._disp_params = disp_params
    part._cte = cte
    part._children = None
    part._body = b""

    if maintype == "multipart":
        if subtype == "digest":
            raise _Unsupported  # children default to message/rfc822
        boundary = params.get("boundary")
        if not boundary:
            raise _Unsupported
        pieces = _split_multipart(body, boundary)
        if pieces is None:
            # start boundary never found: stdlib leaves the payload
            # as a non-multipart string (defect); body text walk
            # then skips it exactly like a leaf of multipart ctype
            part._body = body
        else:
            part._children = [_parse_part(p) for p in pieces]
    elif maintype == "message":
        # FeedParser nests a sub-message for EVERY message/* subtype
        # except delivery-status (whose payload is header blocks)
        if subtype == "delivery-status":
            raise _Unsupported
        if cte in ("base64", "quoted-printable"):
            raise _Unsupported  # encoded nested message: stdlib
        part._children = [_parse_part(body)]
    else:
        part._body = body
    return part


def _parse_params(rest: str | None) -> dict:
    params: dict[str, str] = {}
    if rest is None:
        return params
    pos = 0
    n = len(rest)
    while pos < n:
        m = _PARAM_RE.match(rest, pos)
        if not m:
            if rest[pos:].strip() in ("", ";"):
                break
            raise _Unsupported  # RFC 2231 / backslashes / junk
        name = m.group(1).lower()
        if name.endswith("*") or name in params:
            raise _Unsupported  # 2231 continuation / duplicates
        params[name] = m.group(2) if m.group(2) is not None else m.group(3)
        pos = m.end()
    return params


#: boundary line per FeedParser: the WHOLE line is ``--b``, an
#: optional terminal ``--``, optional linear whitespace
def _split_multipart(body: bytes, boundary: str) -> list[bytes] | None:
    try:
        bb = re.escape(boundary.encode("ascii"))
    except UnicodeEncodeError:
        raise _Unsupported
    pat = re.compile(
        rb"(?:\A|(?<=\n))--" + bb + rb"(--)?[ \t]*(?:\r?\n|\Z)"
    )
    it = pat.finditer(body)
    start_m = next(it, None)
    if start_m is None:
        return None
    if start_m.group(1):
        raise _Unsupported  # close boundary with no start boundary
    pieces = []
    start = start_m.end()
    closed = False
    for m in it:
        pieces.append(_strip_one_nl(body[start:m.start()]))
        start = m.end()
        if m.group(1):
            closed = True
            break  # epilogue ignored
    if not closed:
        # CloseBoundaryNotFound: the tail (minus one terminator, the
        # same rule as boundary-terminated parts) is the last part
        pieces.append(_strip_one_nl(body[start:]))
    return pieces


def _strip_one_nl(piece: bytes) -> bytes:
    if piece.endswith(b"\r\n"):
        return piece[:-2]
    if piece.endswith(b"\n"):
        return piece[:-1]
    return piece


EMAIL_TEXT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("msg_idx", LongType()),
        StructField("subject", StringType()),
        StructField("sender", StringType()),
        StructField("to", StringType()),
        StructField("message_id", StringType()),
        StructField("date_ms", LongType()),
        StructField("text", StringType()),
        StructField("n_parts", LongType()),
        StructField("n_attachments", LongType()),
        StructField("attachment_bytes", LongType()),
    ]
)

_EMAIL_COLS = [f.name for f in EMAIL_TEXT_SCHEMA.fields]


def _extract_kernel(batches):
    """mapInPandas body of :func:`email_text` (module-level so the
    fused composition can reuse it). Null blobs are skipped in-kernel
    with the same outcome as the frame-level filter (b"" → S4)."""
    import pandas as pd

    for batch in batches:
        rows = []
        for doc_id, blob in zip(batch["doc_id"], batch["blob"]):
            b = bytes(blob) if blob is not None else b""
            msgs = split_mbox(b) if b.startswith(b"From ") else [b]
            for idx, raw in enumerate(msgs):
                rec = extract_email(raw)
                if rec is None:
                    continue
                rows.append(
                    {
                        "doc_id": int(doc_id),
                        "msg_idx": idx,
                        "subject": rec["subject"],
                        "sender": rec["sender"],
                        "to": rec["to"],
                        "message_id": rec["message_id"],
                        "date_ms": rec["date_ms"],
                        "text": rec["text"],
                        "n_parts": rec["n_parts"],
                        "n_attachments": rec["n_attachments"],
                        "attachment_bytes": rec["attachment_bytes"],
                    }
                )
        yield pd.DataFrame(rows, columns=_EMAIL_COLS)


def email_text(media: DataFrame) -> DataFrame:
    """One row per message: a bare eml blob is one message
    (msg_idx 0); an mbox (``From `` leading bytes) fans out in
    archive order. Unparseable blobs emit nothing (S4). Expects
    (doc_id, blob)."""
    return EMAIL.extract(media)


def email_text_from_docs(docs: DataFrame) -> DataFrame:
    """Corpus synthesis + message extraction in ONE Python hop
    (guide §4.1 via :mod:`.fuse`): bit-identical rows to
    ``email_text(synthetic_email_corpus(docs).select(...))`` — the
    corpus frames never cross the JVM boundary. The two-stage form's
    blob-null filter is vacuous here (the corpus kernel never emits
    null blobs)."""
    return EMAIL.from_docs(docs)


def _eml_plain(d: int) -> bytes:
    return (
        "From: sender%d@example.com\r\n"
        "To: list%d@example.org\r\n"
        "Subject: Synthetic message %d\r\n"
        "Message-ID: <fixture-%d@example.com>\r\n"
        "Date: Mon, 01 Jan 2024 %02d:%02d:00 +0000\r\n"
        "MIME-Version: 1.0\r\n"
        "Content-Type: text/plain; charset=utf-8\r\n"
        "\r\n"
        "Plain body line one for %d.\r\n"
        "Second line with café unicode.\r\n"
        % (d, d % 5, d, d, d % 24, d % 60, d)
    ).encode("utf-8")


def _eml_multipart(d: int) -> bytes:
    import base64

    att = base64.b64encode(bytes(range(32)) * (1 + d % 3)).decode()
    return (
        "From: multi%d@example.com\r\n"
        "To: dest@example.org\r\n"
        "Subject: =?utf-8?q?Encoded_subject_%d_caf=C3=A9?=\r\n"
        "Message-ID: <multi-%d@example.com>\r\n"
        "Date: Tue, 02 Jan 2024 %02d:30:00 -0500\r\n"
        "MIME-Version: 1.0\r\n"
        "Content-Type: multipart/mixed; boundary=BB%d\r\n"
        "\r\n"
        "--BB%d\r\n"
        "Content-Type: multipart/alternative; boundary=AA%d\r\n"
        "\r\n"
        "--AA%d\r\n"
        "Content-Type: text/plain; charset=utf-8\r\n"
        "\r\n"
        "\r\n"
        "--AA%d\r\n"
        "Content-Type: text/html; charset=utf-8\r\n"
        "\r\n"
        "<html><body><p>Html body %d with <b>markup</b>.</p>"
        "<a href='http://example.com/%d'>link</a></body></html>\r\n"
        "--AA%d--\r\n"
        "--BB%d\r\n"
        "Content-Type: application/octet-stream\r\n"
        "Content-Disposition: attachment; filename=data%d.bin\r\n"
        "Content-Transfer-Encoding: base64\r\n"
        "\r\n"
        "%s\r\n"
        "--BB%d--\r\n"
        % (d, d, d, d % 24, d, d, d, d, d, d, d, d, d, d, att, d)
    ).encode("utf-8")


def _eml_forward(d: int) -> bytes:
    inner = _eml_plain(d + 1000).decode("utf-8")
    return (
        "From: fwd%d@example.com\r\n"
        "Subject: Fwd: synthetic %d\r\n"
        "Message-ID: <fwd-%d@example.com>\r\n"
        "Date: Wed, 03 Jan 2024 08:%02d:00 +0000\r\n"
        "MIME-Version: 1.0\r\n"
        "Content-Type: message/rfc822\r\n"
        "\r\n"
        "%s" % (d, d, d, d % 60, inner)
    ).encode("utf-8")


def build_mbox(d: int) -> bytes:
    """2+d%2 member mbox; the first body carries an mboxrd-munged
    ``>From `` line that must unescape on read."""
    msgs = []
    for i in range(2 + d % 2):
        body = "Mbox member %d-%d body.\r\n" % (d, i)
        if i == 0:
            body += ">From the munged line survives.\r\n"
        msgs.append(
            "From fixture@example Thu Jan  4 00:0%d:00 2024\n"
            "From: mbox%d-%d@example.com\n"
            "Subject: mbox member %d-%d\n"
            "Message-ID: <mbox-%d-%d@example.com>\n"
            "Date: Thu, 04 Jan 2024 %02d:00:00 +0000\n"
            "\n"
            "%s\n" % (i, d, i, d, i, d, i, (d + i) % 24, body)
        )
    return "".join(msgs).encode("utf-8")


def _corpus_kernel(batches):
    """mapInPandas body of :func:`synthetic_email_corpus`."""
    import pandas as pd

    for batch in batches:
        blobs, types = [], []
        for doc_id in batch["doc_id"]:
            d = int(doc_id)
            if d % 11 == 7:
                blobs.append(b"\x00\x01\x02 headerless binary")
                types.append("application/octet-stream")
            elif d % 4 == 0:
                blobs.append(_eml_plain(d))
                types.append("message/rfc822")
            elif d % 4 == 1:
                blobs.append(_eml_multipart(d))
                types.append("message/rfc822")
            elif d % 4 == 2:
                blobs.append(build_mbox(d))
                types.append("application/mbox")
            else:
                blobs.append(_eml_forward(d))
                types.append("message/rfc822")
        yield pd.DataFrame(
            {"doc_id": batch["doc_id"], "blob": blobs,
             "media_type": types}
        )


def synthetic_email_corpus(docs: DataFrame) -> DataFrame:
    """Deterministic fixture eml/mbox blobs keyed on doc_id: d%4
    cycles plain eml / multipart(html body + attachment) / mbox /
    forwarded message/rfc822; every 11th ≡ 7 is headerless binary
    (S4-skipped). Same (doc_id, blob, media_type) contract as the
    other corpora."""
    return EMAIL.corpus(docs)


EMAIL = MediaFamily(EMAIL_TEXT_SCHEMA, Corpus(_corpus_kernel), _extract_kernel)
