"""File-type detection: magic-byte sniffing + container inspection.

Re-expresses the reference's detector (D1–D5 in SURVEY.md §2.2):
signature matching (`office-to-markdown/src/utils/file-detector.ts:59-107`),
ZIP-container Office sniff looking for ``word/document.xml`` etc. in the
leading bytes (`file-detector.ts:112-138`). The supported-type
allowlist (`file-detector.ts:203-230`) is ``extract.extract_document``'s
converter branches: every other kind is quarantined. Runs per Arrow
batch (bytes ops over a pandas column) — never per-row Python at the
plan level.
"""

from __future__ import annotations

# doc_kind values
KIND_HTML = "html"
KIND_TEXT = "text"
KIND_PDF = "pdf"
KIND_DOCX = "docx"
KIND_XLSX = "xlsx"
KIND_PPTX = "pptx"
KIND_ZIP = "zip"
KIND_DOC_LEGACY = "doc"
KIND_RTF = "rtf"
KIND_PNG = "png"
KIND_JPEG = "jpeg"
KIND_GIF = "gif"
KIND_BMP = "bmp"
KIND_EMPTY = "empty"
KIND_UNKNOWN = "unknown"

# magic signatures, checked in order (parity: file-detector.ts:59-107)
_SIGS = (
    (b"%PDF-", KIND_PDF),
    (b"PK\x03\x04", KIND_ZIP),            # refined below via container sniff
    (b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1", KIND_DOC_LEGACY),  # CFB
    (b"{\\rtf", KIND_RTF),
    (b"\xff\xd8\xff", KIND_JPEG),
    (b"\x89PNG\r\n\x1a\n", KIND_PNG),
    (b"GIF87a", KIND_GIF),
    (b"GIF89a", KIND_GIF),
    (b"BM", KIND_BMP),
)

_HTML_MARKERS = (b"<!doctype html", b"<html", b"<head", b"<body", b"<h1",
                 b"<div", b"<p>", b"<table")


def sniff_zip_office(head: bytes) -> str:
    """Distinguish Office-OpenXML containers by member names visible in the
    leading bytes of the ZIP (parity: file-detector.ts:112-138 which looks
    in the first 1KB for word/|xl/|ppt/ markers)."""
    window = head[:4096]
    if b"word/" in window:
        return KIND_DOCX
    if b"xl/" in window:
        return KIND_XLSX
    if b"ppt/" in window:
        return KIND_PPTX
    return KIND_ZIP


def detect_kind(payload: bytes | None) -> str:
    """Magic-byte detection of a document payload. Deterministic, order-
    stable; never consults the url (fixtures require content sniffing)."""
    if payload is None or len(payload) == 0:
        return KIND_EMPTY
    head = payload[:4096]
    for sig, kind in _SIGS:
        if head.startswith(sig):
            if kind == KIND_ZIP:
                return sniff_zip_office(head)
            return kind
    low = head[:512].lstrip()[:256].lower()
    if any(m in low for m in _HTML_MARKERS):
        return KIND_HTML
    # lenient: HTML-ish if it contains any tag-like structure early on
    if low.startswith(b"<"):
        return KIND_HTML
    # plain text / markdown (supported by the reference,
    # file-detector.ts:203-230): decodes as utf-8, no NULs. The 4 KiB
    # sniff window may split a multi-byte sequence at its edge — a
    # tail-only decode error within 3 bytes of the cut is not binary.
    if b"\x00" not in head:
        try:
            head.decode("utf-8")
            return KIND_TEXT
        except UnicodeDecodeError as exc:
            if len(payload) > len(head) and exc.start >= len(head) - 3:
                return KIND_TEXT
    return KIND_UNKNOWN


# extension ↔ mime guess tables (full parity with the reference's
# EXTENSION_TO_MIME, file-detector.ts:11-54; broadcastable plain dict)
_OOXML = "application/vnd.openxmlformats-officedocument"
_ODF = "application/vnd.oasis.opendocument"
EXT_TO_MIME = {
    # Microsoft Office
    ".docx": f"{_OOXML}.wordprocessingml.document",
    ".doc": "application/msword",
    ".xlsx": f"{_OOXML}.spreadsheetml.sheet",
    ".xls": "application/vnd.ms-excel",
    ".pptx": f"{_OOXML}.presentationml.presentation",
    ".ppt": "application/vnd.ms-powerpoint",
    # Documents
    ".pdf": "application/pdf",
    ".rtf": "application/rtf",
    ".odt": f"{_ODF}.text",
    ".ods": f"{_ODF}.spreadsheet",
    ".odp": f"{_ODF}.presentation",
    # Web
    ".html": "text/html", ".htm": "text/html",
    ".xml": "text/xml", ".css": "text/css",
    ".js": "text/javascript", ".json": "application/json",
    # Text
    ".txt": "text/plain", ".md": "text/markdown", ".csv": "text/csv",
    # Images
    ".jpg": "image/jpeg", ".jpeg": "image/jpeg", ".png": "image/png",
    ".gif": "image/gif", ".bmp": "image/bmp", ".webp": "image/webp",
    ".svg": "image/svg+xml",
    # Archives
    ".zip": "application/zip", ".rar": "application/x-rar-compressed",
    ".tar": "application/x-tar", ".gz": "application/gzip",
}
MIME_TO_KIND = {
    "text/html": KIND_HTML,
    "application/pdf": KIND_PDF,
    EXT_TO_MIME[".docx"]: KIND_DOCX,
    EXT_TO_MIME[".xlsx"]: KIND_XLSX,
    EXT_TO_MIME[".pptx"]: KIND_PPTX,
    "application/msword": KIND_DOC_LEGACY,
    "application/rtf": KIND_RTF,
    "image/png": KIND_PNG, "image/jpeg": KIND_JPEG,
    "image/gif": KIND_GIF, "image/bmp": KIND_BMP,
    "application/zip": KIND_ZIP,
}


def guess_mime_from_extension(extension: str) -> str | None:
    """D3 (file-detector.ts:144-146): case-insensitive ext → mime."""
    return EXT_TO_MIME.get(extension.lower())


def guess_extension_from_mime(mimetype: str) -> str | None:
    """D3 (file-detector.ts:151-155): mime → FIRST matching extension
    in table order (dict order mirrors the reference's entries)."""
    for ext, mime in EXT_TO_MIME.items():
        if mime == mimetype:
            return ext
    return None


# charset sniffing for the HTML decode path (StreamInfo charset
# handling, file-detector.ts:159-198): BOM first, then a meta
# charset=... declaration in the head, else utf-8.
import codecs as _codecs
import re as _re

_BOMS = (
    (b"\xef\xbb\xbf", "utf-8-sig"),
    (b"\xff\xfe", "utf-16"),
    (b"\xfe\xff", "utf-16"),
)
_CHARSET_RE = _re.compile(
    rb"charset\s*=\s*[\"']?\s*([A-Za-z0-9_\-]+)", _re.IGNORECASE)


def sniff_charset(payload: bytes, default: str = "utf-8") -> str:
    for bom, enc in _BOMS:
        if payload.startswith(bom):
            return enc
    m = _CHARSET_RE.search(payload[:2048])
    if m:
        enc = m.group(1).decode("ascii", errors="replace").lower()
        try:
            _codecs.lookup(enc)
            return enc
        except LookupError:
            pass
    return default

