"""Office document text extraction — DOCX / PPTX / ODT as text
sources for the curation pipeline (charter extension, SURVEY.md
§2.10; reference analog: none — ref main.py reads xlsx only, which
:mod:`..sources.xlsx` already covers).

All three formats are ZIP containers of XML parts (ECMA-376 Office
Open XML for docx/pptx; the OASIS OpenDocument format for odt), so
this module is a thin, well-guarded composition of two layers that
already exist here: the clean-room zip reader
(:mod:`..sources.archives` — central-directory walk + CRC-validated
member extraction) and stdlib ``xml.etree`` with the same
DTD/ENTITY pre-parse refusal as :mod:`.sitemaps` (billion-laughs
and external-entity shapes are refused BEFORE expat sees them).

Extracted shapes (deliberate limits documented, not silent):

- DOCX: one row per paragraph of ``word/document.xml`` (``w:p``;
  runs' ``w:t`` joined, ``w:tab`` → TAB, ``w:br``/``w:cr`` → LF;
  table cells surface as their own paragraphs in document order).
  Headers/footers/footnotes/comments are separate parts and are NOT
  walked (triage extracts the body; a later pass can add parts).
- PPTX: one row per slide (``ppt/slides/slideN.xml`` in deck
  order; ``a:t`` runs joined, paragraphs separated by LF).
- ODT: one row per paragraph/heading of ``content.xml``
  (``text:p``/``text:h``; ``text:tab``/``text:line-break``
  handled, ``text:s`` expands its space count).

Damaged containers follow the S4 skip contract; a damaged single
PART yields no rows for that part while sibling parts extract. The
``office_text`` kernel sniffs the KIND from the member listing
(``word/document.xml`` / ``ppt/slides/`` / ODF ``mimetype``) — no
filename extension needed, matching how a crawl actually meets
these bytes.
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

from ..sources.archives import (
    _Broken,
    parse_zip_members,
    zip_extract_member,
)
from .fuse import Corpus, MediaFamily

_MAX_PART_BYTES = 1 << 26     # 64 MiB of XML per part
_MAX_TEXT_BYTES = 1 << 24     # 16 MiB extracted per document
_MAX_ROWS = 1 << 16           # paragraphs/slides per document

_W = "{http://schemas.openxmlformats.org/wordprocessingml/2006/main}"
_A = "{http://schemas.openxmlformats.org/drawingml/2006/main}"
_ODT_TEXT = "{urn:oasis:names:tc:opendocument:xmlns:text:1.0}"

_ODT_MIME = b"application/vnd.oasis.opendocument"


def _safe_xml(data: bytes):
    """Parse XML with the sitemaps.py hostile-input contract: DTD /
    ENTITY declarations are refused before expat ever runs. The scan
    must match the part's ENCODING — a UTF-16 part interleaves NULs,
    so a raw-bytes scan would miss the markers while expat still
    expands the entities (review catch)."""
    if data[:2] in (b"\xff\xfe", b"\xfe\xff"):
        text = data.decode("utf-16", "ignore")
        # full-buffer scan for BOTH markers: a DOCTYPE pushed past
        # any fixed window by comments/whitespace must still be
        # refused before expat (advice catch — the old 4 KiB window
        # let external-DTD DOCTYPEs through)
        if "<!DOCTYPE" in text or "<!ENTITY" in text:
            raise _Broken("DTD/ENTITY refused")
    elif b"<!DOCTYPE" in data or b"<!ENTITY" in data:
        raise _Broken("DTD/ENTITY refused")
    import xml.etree.ElementTree as ET

    try:
        return ET.fromstring(data)
    except ET.ParseError as exc:
        raise _Broken("xml: %s" % exc)


def _zip_part(blob: bytes, members: dict, name: str,
              budget: list) -> bytes | None:
    m = members.get(name)
    if m is None or m["size"] > _MAX_PART_BYTES:
        return None
    try:
        # ONE budget across every part of the document — per-call
        # fresh budgets would let a thousand truthful 64 MiB slides
        # inflate terabytes (review catch; the archives layer
        # threads its budget the same way)
        return zip_extract_member(blob, m, budget)
    except _Broken:
        return None


def _sniff_from_members(blob: bytes, members: list) -> str | None:
    names = {m["name"] for m in members}
    if "word/document.xml" in names:
        return "docx"
    if any(n.startswith("ppt/slides/slide") for n in names):
        return "pptx"
    if "mimetype" in names and "content.xml" in names:
        byname = {m["name"]: m for m in members}
        try:
            mt = zip_extract_member(blob, byname["mimetype"])
        except _Broken:
            return None
        if mt is not None and mt.startswith(_ODT_MIME):
            return "odt"
    return None


def sniff_office(blob: bytes) -> str | None:
    """'docx' | 'pptx' | 'odt' | None — from the zip member listing
    (the format-defining parts), not the filename."""
    members = parse_zip_members(blob or b"")
    if not members:
        return None
    return _sniff_from_members(blob, members)


def _docx_paragraph_text(p) -> str:
    """Text of ONE paragraph. Iterative (no recursion limit on
    hostile nesting) and does NOT descend into nested ``w:p``
    (textbox content) — those are emitted as their own rows by the
    document walk; descending here would double-extract them
    (review catch)."""
    out = []
    stack = list(reversed(list(p)))
    while stack:
        node = stack.pop()
        tag = node.tag
        if tag == _W + "p":
            continue  # nested paragraph: its own row
        if tag == _W + "t":
            out.append(node.text or "")
        elif tag == _W + "tab":
            out.append("\t")
        elif tag in (_W + "br", _W + "cr"):
            out.append("\n")
        else:
            stack.extend(reversed(list(node)))
    return "".join(out)


def _odt_paragraph_text(p) -> str:
    """Text of ONE paragraph/heading. Iterative (hostile nesting
    can't blow the recursion limit — review catch) and does NOT
    descend into nested ``text:p``/``text:h`` (footnote bodies,
    frames): those are their own rows; their tails still belong to
    this paragraph."""
    out = []
    if p.text:
        out.append(p.text)
    # stack of (node, emitted_children) — emulate the recursive
    # text/children/tail order without recursion
    stack = [(c, False) for c in reversed(list(p))]
    while stack:
        node, expanded = stack.pop()
        if expanded:
            if node.tail:
                out.append(node.tail)
            continue
        stack.append((node, True))
        tag = node.tag
        if tag in (_ODT_TEXT + "p", _ODT_TEXT + "h"):
            continue  # nested paragraph: its own row (tail kept)
        if tag == _ODT_TEXT + "tab":
            out.append("\t")
        elif tag == _ODT_TEXT + "line-break":
            out.append("\n")
        elif tag == _ODT_TEXT + "s":
            n = int(node.get(_ODT_TEXT + "c", "1") or "1")
            out.append(" " * min(n, 1024))
        if node.text:
            out.append(node.text)
        stack.extend((c, False) for c in reversed(list(node)))
    return "".join(out)


def extract_office_text(blob: bytes | None) -> list[dict] | None:
    """Per-part text rows: {kind, part, text, n_chars}. ``part`` is
    the paragraph index (docx/odt) or slide number (pptx). Returns
    None for non-office / broken containers (S4); a damaged single
    XML part contributes no rows while siblings extract."""
    if not blob:
        return None
    members = parse_zip_members(blob)
    if not members:
        return None
    # one central-directory walk serves both the sniff and the
    # part lookups (the kernel's hot path)
    kind = _sniff_from_members(blob, members)
    if kind is None:
        return None
    byname = {m["name"]: m for m in members}
    out = []
    budget = [_MAX_TEXT_BYTES]
    inflate_budget = [_MAX_PART_BYTES * 4]

    def push(part: int, text: str):
        budget[0] -= len(text)
        if budget[0] < 0 or len(out) >= _MAX_ROWS:
            raise _Broken("text cap")
        out.append(
            {"kind": kind, "part": part, "text": text,
             "n_chars": len(text)}
        )

    try:
        if kind == "docx":
            data = _zip_part(blob, byname, "word/document.xml",
                             inflate_budget)
            if data is None:
                return None
            root = _safe_xml(data)
            idx = 0
            for p in root.iter(_W + "p"):
                text = _docx_paragraph_text(p)
                if text:
                    push(idx, text)
                    idx += 1
        elif kind == "pptx":
            slides = sorted(
                ((int(re.search(r"slide(\d+)\.xml", n).group(1)), n)
                 for n in byname
                 if re.fullmatch(r"ppt/slides/slide\d+\.xml", n)),
            )
            # part carries the slide's FILENAME number, not the
            # enumerate position — decks with numbering gaps keep
            # their identity (review catch)
            for sn, name in slides:
                data = _zip_part(blob, byname, name,
                                 inflate_budget)
                if data is None:
                    continue  # damaged slide, siblings extract
                try:
                    root = _safe_xml(data)
                except _Broken:
                    continue
                paras = []
                for p in root.iter(_A + "p"):
                    runs = [t.text or "" for t in p.iter(_A + "t")]
                    if runs:
                        paras.append("".join(runs))
                if paras:
                    push(sn, "\n".join(paras))
        else:  # odt
            data = _zip_part(blob, byname, "content.xml",
                             inflate_budget)
            if data is None:
                return None
            root = _safe_xml(data)
            idx = 0
            for p in root.iter():
                if p.tag in (_ODT_TEXT + "p", _ODT_TEXT + "h"):
                    text = _odt_paragraph_text(p)
                    if text:
                        push(idx, text)
                        idx += 1
        return out
    except _Broken:
        return None
    except (ValueError, MemoryError, OverflowError,
            RecursionError):
        return None


OFFICE_TEXT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("kind", StringType()),
        StructField("part", LongType()),
        StructField("text", StringType()),
        StructField("n_chars", LongType()),
    ]
)

_OFFICE_COLS = [f.name for f in OFFICE_TEXT_SCHEMA.fields]


def _office_kernel(batches):
    """mapInPandas body of :func:`office_text` (module-level so the
    fused composition can reuse it; null blobs S4-skip in-kernel)."""
    import pandas as pd

    for batch in batches:
        rows = []
        for doc_id, blob in zip(batch["doc_id"], batch["blob"]):
            parts = extract_office_text(
                bytes(blob) if blob is not None else None
            )
            if not parts:
                continue
            for r in parts:
                rows.append({"doc_id": int(doc_id), **r})
        yield pd.DataFrame(rows, columns=_OFFICE_COLS)


def office_text(media: DataFrame) -> DataFrame:
    """One row per paragraph (docx/odt) / slide (pptx) of extracted
    text — the column the dedup/quality/lang-ID operators consume,
    exactly like :func:`.pdf.pdf_text`. Non-office and broken blobs
    emit nothing (S4). Expects (doc_id, blob)."""
    return OFFICE.extract(media)


def office_text_from_docs(docs: DataFrame) -> DataFrame:
    """Corpus synthesis + extraction in ONE Python hop (guide §4.1
    via :mod:`.fuse`) — bit-identical rows to
    ``office_text(synthetic_office_corpus(docs).select(...))``."""
    return OFFICE.from_docs(docs)


# ── fixture writers ─────────────────────────────────────────────


def encode_docx(paragraphs: list) -> bytes:
    """Minimal ECMA-376 .docx: [Content_Types] + rels + document
    body. Paragraph entries may be strings or lists of runs."""
    import io
    import zipfile

    body = []
    for para in paragraphs:
        runs = [para] if isinstance(para, str) else list(para)
        body.append(
            "<w:p>" + "".join(
                "<w:r><w:t xml:space=\"preserve\">%s</w:t></w:r>"
                % _xml_escape(r)
                for r in runs
            ) + "</w:p>"
        )
    doc = (
        "<?xml version=\"1.0\" encoding=\"UTF-8\"?>"
        "<w:document xmlns:w=\"http://schemas.openxmlformats.org/"
        "wordprocessingml/2006/main\"><w:body>%s</w:body>"
        "</w:document>" % "".join(body)
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr(
            "[Content_Types].xml",
            "<?xml version=\"1.0\"?><Types xmlns=\"http://schemas."
            "openxmlformats.org/package/2006/content-types\">"
            "<Default Extension=\"xml\" ContentType=\"application/"
            "xml\"/></Types>",
        )
        z.writestr("word/document.xml", doc)
    return buf.getvalue()


def encode_pptx(slides: list) -> bytes:
    """Minimal .pptx: one slide XML per entry (list of paragraph
    strings)."""
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr(
            "[Content_Types].xml",
            "<?xml version=\"1.0\"?><Types xmlns=\"http://schemas."
            "openxmlformats.org/package/2006/content-types\"/>",
        )
        for i, paras in enumerate(slides, start=1):
            sp = "".join(
                "<a:p><a:r><a:t>%s</a:t></a:r></a:p>" % _xml_escape(p)
                for p in paras
            )
            z.writestr(
                "ppt/slides/slide%d.xml" % i,
                "<?xml version=\"1.0\"?>"
                "<p:sld xmlns:p=\"http://schemas.openxmlformats.org/"
                "presentationml/2006/main\" xmlns:a=\"http://schemas."
                "openxmlformats.org/drawingml/2006/main\">"
                "<p:cSld><p:spTree>%s</p:spTree></p:cSld></p:sld>"
                % sp,
            )
    return buf.getvalue()


def encode_odt(paragraphs: list) -> bytes:
    import io
    import zipfile

    content = (
        "<?xml version=\"1.0\"?>"
        "<office:document-content xmlns:office=\"urn:oasis:names:tc:"
        "opendocument:xmlns:office:1.0\" xmlns:text=\"urn:oasis:"
        "names:tc:opendocument:xmlns:text:1.0\"><office:body>"
        "<office:text>%s</office:text></office:body>"
        "</office:document-content>"
        % "".join("<text:p>%s</text:p>" % _xml_escape(p)
                  for p in paragraphs)
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        # ODF spec: 'mimetype' first and STORED
        z.writestr("mimetype",
                   "application/vnd.oasis.opendocument.text",
                   compress_type=zipfile.ZIP_STORED)
        z.writestr("content.xml", content)
    return buf.getvalue()


def _xml_escape(s: str) -> str:
    from xml.sax.saxutils import escape

    return escape(s)


def _office_corpus_kernel(batches):
        import pandas as pd

        for batch in batches:
            blobs = []
            types = []
            for doc_id in batch["doc_id"]:
                d = int(doc_id)
                if d % 11 == 7:
                    blobs.append(b"PK\x09\x09 not an office zip")
                    types.append("application/octet-stream")
                    continue
                if d % 3 == 0:
                    blobs.append(encode_docx(
                        ["Synthetic word paragraph %d-%d with body "
                         "text." % (d, i)
                         for i in range(3 + d % 4)]
                    ))
                    types.append(
                        "application/vnd.openxmlformats-officedocument"
                        ".wordprocessingml.document"
                    )
                elif d % 3 == 1:
                    blobs.append(encode_pptx(
                        [["Slide %d-%d title" % (d, s),
                          "bullet %d" % (d % 9)]
                         for s in range(2 + d % 3)]
                    ))
                    types.append(
                        "application/vnd.openxmlformats-officedocument"
                        ".presentationml.presentation"
                    )
                else:
                    blobs.append(encode_odt(
                        ["Öpen document paragraph %d-%d." % (d, i)
                         for i in range(2 + d % 3)]
                    ))
                    types.append(
                        "application/vnd.oasis.opendocument.text"
                    )
            yield pd.DataFrame(
                {"doc_id": batch["doc_id"], "blob": blobs,
                 "media_type": types}
            )


def synthetic_office_corpus(docs: DataFrame) -> DataFrame:
    """Deterministic fixture office docs keyed on doc_id: d % 3
    cycles docx (3-6 paragraphs) / pptx (2-4 slides) / odt, with
    every 11th ≡ 7 non-office garbage (S4-skipped). Same
    (doc_id, blob, media_type) contract as the other corpora."""
    return OFFICE.corpus(docs)


OFFICE = MediaFamily(
    OFFICE_TEXT_SCHEMA,
    Corpus(_office_corpus_kernel, fan_out=True),
    _office_kernel,
)
