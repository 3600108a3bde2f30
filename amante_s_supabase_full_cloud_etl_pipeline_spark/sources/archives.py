"""Archive ingestion: ZIP and TAR members as Spark rows — the
landing-zone shapes a crawl/data-drop actually arrives in (charter
extension, SURVEY.md §2.10; reference analog: none — ref main.py
reads loose files from a Drive folder).

Scale design — why this is NOT stdlib ``zipfile`` on a worker:

- A ZIP's **central directory** lives at the TAIL of the archive
  (PKWARE APPNOTE §4.3): on an object store, one ranged read of the
  last ~64 KiB yields EVERY member's name, sizes, CRC and local-
  header offset — no need to download a multi-GB archive to list
  it. :func:`parse_zip_members` implements that directory walk
  (EOCD → EOCD64 when present → central records), and
  :func:`zip_member_range` resolves one member to the exact
  ``(offset, length)`` of its compressed bytes, so a reader fetches
  only the members a filter selected — the same ship-only-what-you-
  need pattern as :func:`..operators.mp4.keyframe_byte_ranges`.
- TAR has no directory — it is a stream of 512-byte header blocks
  (POSIX ustar; GNU longname/longlink 'L'/'K' and pax 'x'/'g'
  extended headers supported) — so member listing is a sequential
  header walk that SKIPS payloads (seek, not read): listing a 100 GB
  tar touches ~0.1% of its bytes.
- ``.tar.gz`` / ``.tgz`` must decompress to walk (gzip is not
  seekable); the inflate is budget-capped like every decoder here.

Both formats run as map-only Arrow kernels over opaque ``binary``
columns: :func:`archive_members` (one row per member — the listing)
and :func:`archive_extract` (one row per member with payload,
size-capped). Damaged archives follow the S4 skip contract (emit
nothing); resource caps (member count, name length, per-member and
per-archive inflate, compression-ratio bombs) make hostile blobs
cost O(caps).

Correctness is DIFFERENTIAL, not self-confirmed: the test fixtures
are authored by stdlib ``zipfile``/``tarfile`` (an independent
implementation of both specs), and the suite also hand-builds
headers byte-by-byte from the published layouts (APPNOTE 4.3.x
record fields, ustar octal fields) plus truncation/bomb sweeps.
"""

from __future__ import annotations

import struct
import zlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..operators.fuse import Corpus, Factory, MediaFamily

_MAX_MEMBERS = 1 << 17          # 131k members per archive
_MAX_NAME = 4096                # bytes per member name
_MAX_MEMBER_INFLATE = 1 << 28   # 256 MiB decompressed per member
_MAX_ARCHIVE_INFLATE = 1 << 30  # 1 GiB decompressed per archive
_EOCD_TAIL = 1 << 16            # EOCD comment can push it back 64 KiB


class _Broken(Exception):
    """Archive is damaged / not an archive → S4 skip."""


class _Bomb(_Broken):
    """Resource cap tripped — refuse the whole archive."""


class _BudgetExhausted(_Bomb):
    """The per-ARCHIVE inflate allowance ran out — extraction of
    this archive stops; distinct from a single lying member's cap
    trip, which skips that member and continues (review catch: a
    bare break on any _Bomb discarded innocent siblings)."""


# ── ZIP (PKWARE APPNOTE §4.3) ───────────────────────────────────

_EOCD_SIG = b"PK\x05\x06"
_EOCD64_LOC_SIG = b"PK\x06\x07"
_EOCD64_SIG = b"PK\x06\x06"
_CD_SIG = b"PK\x01\x02"
_LOCAL_SIG = b"PK\x03\x04"

#: compression methods (APPNOTE §4.4.5). stored/deflate/bzip2/lzma
#: extract (every method the stdlib can invert); zstd/xz/aes are
#: listed with method intact and skipped by extraction.
_METHODS = {0: "stored", 8: "deflate", 12: "bzip2", 14: "lzma",
            93: "zstd", 95: "xz", 99: "aes"}


def _find_eocd(blob: bytes):
    """Locate the end-of-central-directory record in the tail
    (§4.3.16); returns (cd_offset, cd_size, n_entries)."""
    tail_start = max(0, len(blob) - _EOCD_TAIL - 22)
    idx = blob.rfind(_EOCD_SIG, tail_start)
    if idx < 0 or idx + 22 > len(blob):
        raise _Broken("no EOCD")
    n_entries = struct.unpack("<H", blob[idx + 10:idx + 12])[0]
    cd_size = struct.unpack("<I", blob[idx + 12:idx + 16])[0]
    cd_off = struct.unpack("<I", blob[idx + 16:idx + 20])[0]
    # ZIP64 (§4.3.14): sentinel 0xFFFFFFFF / 0xFFFF values redirect
    # through the EOCD64 locator just before the EOCD
    if cd_off == 0xFFFFFFFF or cd_size == 0xFFFFFFFF or (
        n_entries == 0xFFFF
    ):
        loc = blob.rfind(_EOCD64_LOC_SIG, max(0, idx - 20), idx)
        if loc < 0 or loc + 20 > len(blob):
            # stdlib zipfile writes a PLAIN EOCD for exactly 65535
            # entries (its zip64 threshold is count > 65535), so a
            # literal 0xFFFF with sane offsets is a real archive,
            # not a redirect (review catch)
            if cd_off != 0xFFFFFFFF and cd_size != 0xFFFFFFFF and (
                0 <= cd_off <= len(blob)
                and cd_off + cd_size <= len(blob)
            ):
                return cd_off, cd_size, n_entries
            raise _Broken("zip64 locator missing")
        e64_off = struct.unpack("<Q", blob[loc + 8:loc + 16])[0]
        if not (0 <= e64_off <= len(blob) - 56) or (
            blob[e64_off:e64_off + 4] != _EOCD64_SIG
        ):
            raise _Broken("zip64 eocd missing")
        n_entries = struct.unpack(
            "<Q", blob[e64_off + 32:e64_off + 40]
        )[0]
        cd_size = struct.unpack("<Q", blob[e64_off + 40:e64_off + 48])[0]
        cd_off = struct.unpack("<Q", blob[e64_off + 48:e64_off + 56])[0]
    if n_entries > _MAX_MEMBERS:
        raise _Bomb("member cap")
    if not (0 <= cd_off <= len(blob) and cd_off + cd_size <= len(blob)):
        raise _Broken("cd out of range")
    return cd_off, cd_size, n_entries


def _zip64_extra(extra: bytes, need: list) -> dict:
    """Parse the 0x0001 ZIP64 extra field: values present in the
    order (usize, csize, header_offset) for each field that was
    0xFFFFFFFF in the fixed record (§4.5.3)."""
    out = {}
    p = 0
    while p + 4 <= len(extra):
        tag, size = struct.unpack("<HH", extra[p:p + 4])
        body = extra[p + 4:p + 4 + size]
        p += 4 + size
        if tag != 0x0001:
            continue
        q = 0
        for field in need:
            if q + 8 <= len(body):
                out[field] = struct.unpack("<Q", body[q:q + 8])[0]
                q += 8
        break
    return out


def parse_zip_members(blob: bytes) -> list[dict] | None:
    """The central-directory walk: one dict per member. Returns
    None for non-ZIP / broken blobs (S4). This reads ONLY the
    directory — at object-store scale that is the tail ranged read;
    payload bytes are untouched."""
    if not blob or len(blob) < 22:
        return None
    try:
        cd_off, cd_size, n_entries = _find_eocd(blob)
        out = []
        p = cd_off
        end = cd_off + cd_size
        for _ in range(n_entries):
            if p + 46 > len(blob) or blob[p:p + 4] != _CD_SIG:
                raise _Broken("cd record")
            (method, mtime, mdate, crc, csize, usize, nlen, xlen,
             clen) = struct.unpack("<HHHIIIHHH", blob[p + 10:p + 34])
            hdr_off = struct.unpack("<I", blob[p + 42:p + 46])[0]
            if nlen > _MAX_NAME:
                raise _Bomb("name cap")
            name = blob[p + 46:p + 46 + nlen]
            extra = blob[p + 46 + nlen:p + 46 + nlen + xlen]
            p += 46 + nlen + xlen + clen
            if p > end + 46:
                raise _Broken("cd overrun")
            need = []
            if usize == 0xFFFFFFFF:
                need.append("usize")
            if csize == 0xFFFFFFFF:
                need.append("csize")
            if hdr_off == 0xFFFFFFFF:
                need.append("hdr_off")
            if need:
                z64 = _zip64_extra(extra, need)
                usize = z64.get("usize", usize)
                csize = z64.get("csize", csize)
                hdr_off = z64.get("hdr_off", hdr_off)
            # a compressed payload or header offset cannot exceed
            # the blob, and a claimed size past 2^62 is hostile —
            # refuse before the value reaches an int64 Arrow column
            # (review catch: OverflowError killed the whole task)
            if csize > len(blob) or hdr_off > len(blob) or (
                usize > 1 << 62
            ):
                raise _Broken("zip64 size out of range")
            out.append(
                {
                    "name": _zip_name(name, extra),
                    "method": _METHODS.get(method, str(method)),
                    "compressed_size": csize,
                    "size": usize,
                    "crc32": crc,
                    "header_offset": hdr_off,
                    "is_dir": name.endswith(b"/"),
                    "dos_time": (mdate << 16) | mtime,
                }
            )
            if len(out) > _MAX_MEMBERS:
                raise _Bomb("member cap")
        return out
    except _Broken:
        return None
    except (struct.error, ValueError, MemoryError, OverflowError):
        return None


def _zip_name(name: bytes, extra: bytes) -> str:
    """Member name: the 0x7075 Unicode Path extra wins, else UTF-8
    when it decodes, else cp437 (the APPNOTE default)."""
    p = 0
    while p + 4 <= len(extra):
        tag, size = struct.unpack("<HH", extra[p:p + 4])
        if tag == 0x7075 and size >= 5:
            return extra[p + 9:p + 4 + size].decode("utf-8", "replace")
        p += 4 + size
    try:
        return name.decode("utf-8")
    except UnicodeDecodeError:
        return name.decode("cp437")


def zip_member_range(blob: bytes, member: dict):
    """Resolve a member (from :func:`parse_zip_members`) to the
    exact (offset, length) of its COMPRESSED payload — the bytes a
    ranged reader fetches. Validates the local header (§4.3.7);
    raises _Broken if it lies."""
    off = member["header_offset"]
    if not (0 <= off <= len(blob) - 30) or (
        blob[off:off + 4] != _LOCAL_SIG
    ):
        raise _Broken("local header")
    nlen, xlen = struct.unpack("<HH", blob[off + 26:off + 30])
    start = off + 30 + nlen + xlen
    end = start + member["compressed_size"]
    if end > len(blob):
        raise _Broken("payload out of range")
    return start, member["compressed_size"]


def zip_extract_member(blob: bytes, member: dict,
                       budget: list | None = None) -> bytes | None:
    """Materialize one member's bytes (stored / deflate / bzip2 /
    lzma — every method the stdlib can invert); returns None for
    the rest (zstd/xz/aes: listed, not extracted) and raises
    _Broken/_Bomb on damage. CRC-validated — a payload that
    inflates but mismatches its directory CRC is damage."""
    if budget is None:
        budget = [_MAX_ARCHIVE_INFLATE]
    if member["is_dir"]:
        return b""
    start, clen = zip_member_range(blob, member)
    raw = blob[start:start + clen]
    cap = min(_MAX_MEMBER_INFLATE, member["size"] + 16)
    if member["method"] == "stored":
        data = raw
    elif member["method"] == "deflate":
        d = zlib.decompressobj(-15)
        try:
            data = d.decompress(raw, cap + 1)
        except zlib.error as exc:
            raise _Broken("deflate: %s" % exc)
        if len(data) > cap:
            raise _Bomb("inflate cap")  # member lied — skippable
    elif member["method"] == "bzip2":
        import bz2

        d = bz2.BZ2Decompressor()
        try:
            data = d.decompress(raw, cap + 1)
        except (OSError, ValueError, EOFError) as exc:
            raise _Broken("bzip2: %s" % exc)
        if len(data) > cap:
            raise _Bomb("inflate cap")
    elif member["method"] == "lzma":
        # APPNOTE §5.8: a 4-byte version/props-size header precedes
        # the raw LZMA properties + stream
        import lzma

        if len(raw) < 9:
            raise _Broken("lzma header short")
        psize = int.from_bytes(raw[2:4], "little")
        props = raw[4:4 + psize]
        if psize < 5:
            raise _Broken("lzma props short")
        try:
            filt = lzma._decode_filter_properties(  # noqa: SLF001
                lzma.FILTER_LZMA1, props
            )
            d = lzma.LZMADecompressor(
                format=lzma.FORMAT_RAW, filters=[filt]
            )
            data = d.decompress(raw[4 + psize:], cap + 1)
        except (lzma.LZMAError, ValueError) as exc:
            raise _Broken("lzma: %s" % exc)
        if len(data) > cap:
            raise _Bomb("inflate cap")
    else:
        return None
    if len(data) != member["size"]:
        raise _Broken("size mismatch")
    if zlib.crc32(data) != member["crc32"]:
        raise _Broken("crc mismatch")
    budget[0] -= len(data)
    if budget[0] < 0:
        raise _BudgetExhausted("archive inflate cap")
    return data


# ── TAR (POSIX ustar + GNU/pax extensions) ──────────────────────


def _verify_tar_checksum(hdr: bytes):
    """ustar header checksum (offset 148, 8 bytes): sum of all
    header bytes with the checksum field read as spaces. A mismatch
    means a corrupted or misaligned header — refuse rather than
    emit garbage member rows (review catch; matches tarfile's
    ReadError behavior)."""
    try:
        want = _octal(hdr[148:156])
    except ValueError:
        raise _Broken("bad checksum field")
    got = sum(hdr[:148]) + 8 * 0x20 + sum(hdr[156:])
    if got == want:
        return
    # historic signed-byte-sum convention (pre-POSIX tars): bytes
    # ≥0x80 counted as negative. GNU tar and stdlib tarfile accept
    # either sum — mirror that so real-world members the tarfile
    # baseline would read aren't S4-skipped (advice catch).
    signed = sum(
        b - 256 if b >= 0x80 else b for b in hdr[:148]
    ) + 8 * 0x20 + sum(
        b - 256 if b >= 0x80 else b for b in hdr[156:]
    )
    if signed != want:
        raise _Broken("tar checksum mismatch")


def _octal(field: bytes) -> int:
    """ustar numeric field: octal ASCII, NUL/space padded; GNU
    base-256 (high bit set) for large values."""
    if field and field[0] & 0x80:
        # base-256: big-endian with the top bit masked
        val = field[0] & 0x7F
        for b in field[1:]:
            val = (val << 8) | b
        return val
    s = field.split(b"\x00")[0].strip()
    if not s:
        return 0
    return int(s, 8)


def parse_tar_members(blob: bytes) -> list[dict] | None:
    """Sequential header walk: one dict per member, payloads
    SKIPPED (offset+size recorded). GNU 'L' (longname) / 'K'
    (longlink) and pax 'x'/'g' headers are folded into the member
    they describe. Returns None for non-tar/broken blobs (S4)."""
    if not blob or len(blob) < 512:
        return None
    if blob[257:262] != b"ustar":
        return None
    try:
        out = []
        p = 0
        pending_name = None
        pending_pax: dict = {}
        global_pax: dict = {}
        while p + 512 <= len(blob):
            hdr = blob[p:p + 512]
            if hdr == b"\x00" * 512:
                break  # end-of-archive marker
            _verify_tar_checksum(hdr)
            name = hdr[0:100].split(b"\x00")[0]
            try:
                size = _octal(hdr[124:136])
                mtime = _octal(hdr[136:148])
            except ValueError:
                raise _Broken("bad numeric field")
            typeflag = hdr[156:157]
            prefix = hdr[345:500].split(b"\x00")[0]
            payload_off = p + 512
            if payload_off + size > len(blob):
                raise _Broken("member past end")
            if typeflag == b"L":  # GNU longname
                pending_name = blob[payload_off:payload_off + size]
                pending_name = pending_name.split(b"\x00")[0]
                if len(pending_name) > _MAX_NAME:
                    raise _Bomb("name cap")
            elif typeflag == b"x" or typeflag == b"g":  # pax
                rec = _parse_pax(blob[payload_off:payload_off + size])
                if typeflag == b"g":
                    global_pax.update(rec)
                else:
                    pending_pax.update(rec)
            elif typeflag == b"K":
                pass  # longlink target — irrelevant to listing
            else:
                full = name
                if prefix:
                    full = prefix + b"/" + name
                if pending_name is not None:
                    full = pending_name
                eff_pax = {**global_pax, **pending_pax}
                mname = eff_pax.get(
                    "path", full.decode("utf-8", "replace")
                )
                # pax numerics may be fractional (stdlib emits
                # mtime=....123456) and a >8 GiB member's size
                # lives ONLY in the pax record (the ustar field is
                # 0) — the WALK must advance by the pax-effective
                # size or every later member misparses (review
                # catches)
                msize = int(float(eff_pax.get("size", size)))
                if msize < 0 or msize > 1 << 62:
                    raise _Broken("pax size out of range")
                size = msize
                if payload_off + size > len(blob):
                    raise _Broken("member past end")
                if len(mname) > _MAX_NAME:
                    raise _Bomb("name cap")
                out.append(
                    {
                        "name": mname,
                        "size": msize,
                        "offset": payload_off,
                        "is_dir": typeflag == b"5" or mname.endswith("/"),
                        "typeflag": typeflag.decode("latin-1"),
                        "mtime": int(float(eff_pax.get("mtime", mtime))),
                    }
                )
                pending_name = None
                pending_pax = {}
                if len(out) > _MAX_MEMBERS:
                    raise _Bomb("member cap")
            p = payload_off + ((size + 511) // 512) * 512
        return out
    except _Broken:
        return None
    except (ValueError, MemoryError, OverflowError):
        return None


def _parse_pax(data: bytes) -> dict:
    """pax extended header records: ``len key=value\\n``."""
    out = {}
    p = 0
    while p < len(data):
        sp = data.find(b" ", p)
        if sp < 0:
            break
        try:
            rlen = int(data[p:sp])
        except ValueError:
            break
        rec = data[p + len(data[p:sp]) + 1:p + rlen - 1]
        eq = rec.find(b"=")
        if eq > 0:
            out[rec[:eq].decode("utf-8", "replace")] = rec[
                eq + 1:
            ].decode("utf-8", "replace")
        if rlen <= 0:
            break
        p += rlen
    return out


def tar_extract_member(blob: bytes, member: dict) -> bytes:
    off, size = member["offset"], member["size"]
    if off + size > len(blob):
        raise _Broken("member past end")
    return blob[off:off + size]


# ── format dispatch ─────────────────────────────────────────────


#: full 4-byte zip signatures a file can START with — a bare 'PK'
#: prefix would misroute a tar whose first member is named 'PK...'
#: (review catch)
_ZIP_START_SIGS = (_LOCAL_SIG, _EOCD_SIG, _CD_SIG, b"PK\x06\x06",
                   b"PK\x07\x08")


def sniff_archive(blob: bytes) -> str | None:
    """Magic-number dispatch: 'zip' | 'tar' | 'tar.gz' | None."""
    if not blob or len(blob) < 4:
        return None
    if blob[:4] in _ZIP_START_SIGS:
        return "zip"
    if blob[:2] == b"\x1f\x8b":
        return "tar.gz"
    if len(blob) >= 263 and blob[257:262] == b"ustar":
        return "tar"
    return None


def _gunzip(blob: bytes, budget: list) -> bytes:
    """All gzip MEMBERS concatenated (RFC 1952 streams may be
    `cat a.gz b.gz` — the warc.py multi-member lesson), refusing a
    stream whose final member is cut mid-payload."""
    cap = min(_MAX_ARCHIVE_INFLATE, budget[0])
    out = bytearray()
    data = blob
    try:
        while data:
            d = zlib.decompressobj(16 + 15)
            out.extend(d.decompress(data, cap + 1 - len(out)))
            if len(out) > cap:
                raise _Bomb("gunzip cap")
            if not d.eof:
                raise _Broken("gzip truncated")
            data = d.unused_data.lstrip(b"\x00")
    except zlib.error as exc:
        raise _Broken("gzip: %s" % exc)
    budget[0] -= len(out)
    return bytes(out)


def archive_member_list(blob: bytes) -> tuple[str, list] | None:
    """Driver-side core of :func:`archive_members`: sniff + list.
    Returns (format, members) or None (S4)."""
    fmt = sniff_archive(blob)
    if fmt is None:
        return None
    try:
        if fmt == "zip":
            members = parse_zip_members(blob)
        elif fmt == "tar":
            members = parse_tar_members(blob)
        else:
            inner = _gunzip(blob, [_MAX_ARCHIVE_INFLATE])
            members = parse_tar_members(inner)
        if members is None:
            return None
        return fmt, members
    except _Bomb:
        return None
    except _Broken:
        return None


# ── Spark kernels ───────────────────────────────────────────────

ARCHIVE_MEMBER_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("format", StringType()),
        StructField("member", StringType()),
        StructField("method", StringType()),
        StructField("size", LongType()),
        StructField("compressed_size", LongType()),
        StructField("crc32", LongType()),
        StructField("is_dir", LongType()),
    ]
)

ARCHIVE_PAYLOAD_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("format", StringType()),
        StructField("member", StringType()),
        StructField("size", LongType()),
        StructField("blob", BinaryType()),
    ]
)

_MEMBER_COLS = [f.name for f in ARCHIVE_MEMBER_SCHEMA.fields]
_PAYLOAD_COLS = [f.name for f in ARCHIVE_PAYLOAD_SCHEMA.fields]


def archive_members(archives: DataFrame) -> DataFrame:
    """One row per member across zip/tar/tar.gz blobs — the listing
    a routing filter runs BEFORE any payload is materialized (on an
    object store the zip path reads only the tail directory).
    Corrupt archives emit nothing (S4). Expects (doc_id, blob)."""

    def kernel(batches):
        import pandas as pd

        for batch in batches:
            rows = []
            for doc_id, blob in zip(batch["doc_id"], batch["blob"]):
                got = archive_member_list(
                    bytes(blob) if blob is not None else b""
                )
                if got is None:
                    continue
                fmt, members = got
                for m in members:
                    rows.append(
                        {
                            "doc_id": int(doc_id),
                            "format": fmt,
                            "member": m["name"],
                            "method": m.get("method", "stored"),
                            "size": m["size"],
                            "compressed_size": m.get(
                                "compressed_size", m["size"]
                            ),
                            "crc32": m.get("crc32", -1),
                            "is_dir": int(m["is_dir"]),
                        }
                    )
            yield pd.DataFrame(rows, columns=_MEMBER_COLS)

    return archives.filter(
        F.col("doc_id").isNotNull() & F.col("blob").isNotNull()
    ).mapInPandas(kernel, ARCHIVE_MEMBER_SCHEMA)


def archive_extract(
    archives: DataFrame,
    max_member_bytes: int = 1 << 24,
    suffix: str | None = None,
) -> DataFrame:
    """One row per extracted FILE member (directories and members
    larger than ``max_member_bytes`` are skipped — list first with
    :func:`archive_members`, extract selectively; ``suffix`` filters
    by name server-side so unwanted payloads are never inflated).
    ZIP payloads are CRC-validated; a member that fails CRC or
    bombs its budget is skipped while its siblings extract (the
    per-member analog of the S4 row contract)."""
    return ARCHIVE_EXTRACT.extract(archives, max_member_bytes, suffix)


def _extract_kernel(max_member_bytes: int, suffix):
    """mapInPandas body factory for :func:`archive_extract`."""

    def kernel(batches):
        import pandas as pd

        for batch in batches:
            rows = []
            for doc_id, blob in zip(batch["doc_id"], batch["blob"]):
                b = bytes(blob) if blob is not None else b""
                fmt = sniff_archive(b)
                if fmt is None:
                    continue
                budget = [_MAX_ARCHIVE_INFLATE]
                source = b
                if fmt == "tar.gz":
                    # gunzip ONCE; list and extract from the same
                    # inner buffer (review catch: the old shape
                    # inflated every .tgz twice per row)
                    try:
                        source = _gunzip(b, budget)
                    except _Broken:
                        continue
                try:
                    members = (
                        parse_zip_members(source) if fmt == "zip"
                        else parse_tar_members(source)
                    )
                except _Broken:
                    members = None
                if members is None:
                    continue
                for m in members:
                    if m["is_dir"] or m["size"] > max_member_bytes:
                        continue
                    if suffix is not None and not m["name"].endswith(
                        suffix
                    ):
                        continue
                    try:
                        if fmt == "zip":
                            data = zip_extract_member(source, m, budget)
                        else:
                            data = tar_extract_member(source, m)
                    except _BudgetExhausted:
                        break  # archive allowance spent: stop blob
                    except _Broken:
                        continue  # damaged/lying member, siblings go
                    if data is None:
                        continue  # unsupported method — listed only
                    rows.append(
                        {
                            "doc_id": int(doc_id),
                            "format": fmt,
                            "member": m["name"],
                            "size": len(data),
                            "blob": data,
                        }
                    )
            yield pd.DataFrame(rows, columns=_PAYLOAD_COLS)

    return kernel


def archive_extract_from_docs(
    docs: DataFrame,
    max_member_bytes: int = 1 << 24,
    suffix: str | None = None,
) -> DataFrame:
    """Corpus synthesis + member extraction in ONE Python hop (guide
    §4.1 via operators/fuse.py) — bit-identical rows to
    ``archive_extract(synthetic_archive_corpus(docs).select(...),
    suffix=suffix)``."""
    return ARCHIVE_EXTRACT.from_docs(
        docs, extract_args=(max_member_bytes, suffix)
    )


def synthetic_archive_corpus(docs: DataFrame) -> DataFrame:
    """Deterministic fixture archives keyed on doc_id — AUTHORED BY
    STDLIB zipfile/tarfile (an independent implementation, so even
    the bench corpus is a differential): d % 3 == 0 a deflate zip
    of 5 text members (+ one .bin the suffix filter skips), == 1 a
    tar (gzipped on every second), == 2 non-archive garbage
    (S4-skipped). Same (doc_id, blob, media_type) contract as the
    other synthetic corpora."""
    return ARCHIVE_EXTRACT.corpus(docs)


def _archive_corpus_kernel(batches):
    """mapInPandas body of :func:`synthetic_archive_corpus`."""
    import gzip
    import io
    import tarfile
    import zipfile

    import pandas as pd

    for batch in batches:
        blobs = []
        types = []
        for doc_id in batch["doc_id"]:
            d = int(doc_id)
            if d % 3 == 0:
                buf = io.BytesIO()
                with zipfile.ZipFile(
                    buf, "w", zipfile.ZIP_DEFLATED
                ) as z:
                    for i in range(5):
                        z.writestr(
                            "doc%d/part%d.txt" % (d, i),
                            ("archive member text %d-%d "
                             % (d, i)) * 12,
                        )
                    z.writestr("doc%d/meta.bin" % d,
                               bytes([d % 256]) * 64)
                blobs.append(buf.getvalue())
                types.append("application/zip")
            elif d % 3 == 1:
                buf = io.BytesIO()
                with tarfile.open(fileobj=buf, mode="w") as t:
                    for i in range(3):
                        payload = (
                            b"tar member %d-%d " % (d, i)
                        ) * 15
                        ti = tarfile.TarInfo(
                            "doc%d/m%d.txt" % (d, i)
                        )
                        ti.size = len(payload)
                        t.addfile(ti, io.BytesIO(payload))
                blob = buf.getvalue()
                if d % 2 == 1:
                    blob = gzip.compress(blob, 6)
                    types.append("application/gzip")
                else:
                    types.append("application/x-tar")
                blobs.append(blob)
            else:
                blobs.append(b"\x7fGARBAGE" + bytes([d % 256]) * 50)
                types.append("application/octet-stream")
        yield pd.DataFrame(
            {"doc_id": batch["doc_id"], "blob": blobs,
             "media_type": types}
        )


ARCHIVE_EXTRACT = MediaFamily(
    ARCHIVE_PAYLOAD_SCHEMA,
    Corpus(_archive_corpus_kernel, fan_out=True),
    Factory(_extract_kernel),
)
