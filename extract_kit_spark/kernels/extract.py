"""Per-document extraction orchestrator (pure Python).

The deterministic analogue of the reference's two orchestrators —
`aiVisionProcessor.process` (`pdf-processor/src/core/vision/processor.ts:
68-146`) and `DocxConverter.convert` (`office-to-markdown/src/converters/
docx-converter.ts:130-245`) — fused into one function the Spark stage
maps over every row of an Arrow batch:

    bytes → detect → (html|docx|pdf branch) → blocks → markdown text +
    span offsets + typed fields + validation + metadata

Invariants (adopted from the reference):
- NEVER raises: every input yields exactly one result dict (E5
  cardinality invariant, `index.ts:243-251`); failures carry a taxonomy
  code in ``status`` and ``validation.success=False``.
- Result shape mirrors AIVisionResult{data, metadata, validation}
  (`processor.ts:29-47`); metadata.schema_used / extractor /
  optimizations keep the reference's provenance-tag pattern
  (`image-optimization.ts:113-164`).
- Deterministic text: same bytes → same extracted_text, regardless of
  batch composition or parallelism.
"""

from __future__ import annotations

import time

from . import detect, errors
from .boilerplate import extract_title, strip_boilerplate
from .docx import docx_to_html
from .fields import (extract_invoice, extract_invoice_lines,
                     extract_receipt, extract_receipt_lines,
                     extract_tables, extract_tables_lines)
from .html_dom import body_of, parse_html
from .pdf_text import extract_pdf_pages, page_count
from .serialize_md import assemble, serialize_blocks

EXTRACTOR_VERSION = "readability-v1"
# upload cap parity: 50 MB (`pdf-processor/src/api/validation.ts:57-58`)
MAX_DOC_BYTES = 50 * 1024 * 1024

PROFILES = ("auto", "generic", "tables", "invoice", "receipt")


def _empty_fields() -> dict:
    return {"invoice": None, "receipt": None, "tables": None}


def _result(url: str, doc_kind: str, title=None, text="", spans=None,
            fields=None, val_errors=None, status="ok", pages=0,
            schema_used="generic", optimizations=None, t0=0.0) -> dict:
    ok = status == "ok" and not val_errors
    return {
        "url": url,
        "doc_kind": doc_kind,
        "title": title,
        "extracted_text": text,
        "spans": [{"start": s, "end": e, "kind": k}
                  for (s, e, k) in (spans or [])],
        "fields": fields or _empty_fields(),
        "validation": {"success": ok, "errors": val_errors or []},
        "metadata": {
            "page_count": pages,
            "processing_time_ms": int((time.perf_counter() - t0) * 1000),
            "extractor": "extract_kit_spark",
            "extractor_version": EXTRACTOR_VERSION,
            "schema_used": schema_used,
            "optimizations": optimizations or [],
        },
        "status": status,
    }


def _select_profile(requested: str, root) -> str:
    return _choose_profile(requested, root.text_content,
                           lambda: root.find("table") is not None)


def _select_profile_lines(requested: str, lines: list[str],
                          tables_of) -> str:
    return _choose_profile(
        requested, lambda: "\n".join(lines),
        lambda: tables_of(lines)["table_count"] > 0)


def _choose_profile(requested: str, text_of, has_table) -> str:
    """Schema-selection precedence analogue (Q1,
    `core/vision/schema-selector.ts:20-58`): an explicit profile wins;
    ``auto`` sniffs the document (invoice labels > receipt items >
    tables > generic). The input's ``text_of``/``has_table`` run lazily."""
    if requested != "auto":
        return requested
    text = text_of()
    low = text.lower()
    if "invoice number" in low or "facture n" in low:
        return "invoice"
    if " @ " in text and ("payment:" in low or "paiement" in low):
        return "receipt"
    if has_table():
        return "tables"
    return "generic"


def _extract_fields(profile: str, doc, tables, invoice,
                    receipt) -> tuple[dict, list[str]]:
    """Run ``profile`` with one input's extractors: the DOM body with
    ``extract_{tables,invoice,receipt}``, or text lines with their
    ``_lines`` forms."""
    fields = _empty_fields()
    val_errors: list[str] = []
    if profile == "invoice":
        # an invoice page's line-items table is also a table
        fields["tables"] = tables(doc)
        fields["invoice"], val_errors = invoice(doc, fields["tables"])
    elif profile == "receipt":
        fields["receipt"], val_errors = receipt(doc)
    elif profile == "tables":
        fields["tables"] = tables(doc)
        if fields["tables"]["table_count"] == 0:
            val_errors = ["tables profile: no tables detected"]
    return fields, val_errors


def _line_fields(profile: str, lines: list[str]) -> tuple:
    """(schema_used, fields, validation errors) of reading-ordered lines
    (the PDF and text branches). The lines' tables are built at most
    once: ``auto``'s table check and the tables profile share them."""
    built: list[dict] = []

    def tables_of(doc: list[str]) -> dict:
        if not built:
            built.append(extract_tables_lines(doc))
        return built[0]

    chosen = _select_profile_lines(profile, lines, tables_of)
    return (chosen, *_extract_fields(chosen, lines, tables_of,
                                     extract_invoice_lines,
                                     extract_receipt_lines))


def extract_html(url: str, payload: bytes, profile: str, t0: float,
                 doc_kind: str = "html",
                 optimizations: list[str] | None = None) -> dict:
    # charset from BOM / meta declaration, utf-8 default (D4 StreamInfo
    # charset handling, file-detector.ts:159-198)
    html = payload.decode(detect.sniff_charset(payload),
                          errors="replace")
    root = parse_html(html)
    body = body_of(root)
    title = extract_title(body, url)        # before boilerplate strip: h1
    strip_boilerplate(body)
    opts = (optimizations or []) + ["boilerplate-stripped"]
    chosen = _select_profile(profile, body)
    blocks = serialize_blocks(body)
    text, spans = assemble(blocks)
    fields, val_errors = _extract_fields(chosen, body, extract_tables,
                                         extract_invoice, extract_receipt)
    return _result(url, doc_kind, title=title, text=text, spans=spans,
                   fields=fields, val_errors=val_errors, pages=1,
                   schema_used=chosen, optimizations=opts, t0=t0)


def extract_text(url: str, payload: bytes, profile: str,
                 t0: float) -> dict:
    """text/plain + text/markdown branch (reference converts both,
    `file-detector.ts:203-230`; markdown is a passthrough there).
    Deterministic block rules over decoded lines:

    - ``#{1,6} `` line → heading block (first one is the title)
    - runs of ``- `` / ``* `` lines → one list block (normalized to
      the serializer's ``- `` bullets)
    - blank-line-separated runs → paragraphs (interior newlines fold
      to spaces)

    Structured profiles reuse the line-based extractors, so an
    invoice/receipt mailed as plain text extracts like its PDF twin."""
    import re
    text = payload.decode(detect.sniff_charset(payload),
                          errors="replace")
    lines = text.splitlines()
    blocks: list[tuple[str, str]] = []
    title = None
    heading_re = re.compile(r"^(#{1,6})\s+(.*)$")
    bullet_re = re.compile(r"^[-*]\s+(.*)$")
    para: list[str] = []
    bullets: list[str] = []

    def flush_para() -> None:
        if para:
            blocks.append(("para", " ".join(para)))
            para.clear()

    def flush_bullets() -> None:
        if bullets:
            blocks.append(("list",
                           "\n".join(f"- {b}" for b in bullets)))
            bullets.clear()

    for line in lines:
        stripped = line.strip()
        hm = heading_re.match(stripped)
        bm = bullet_re.match(stripped)
        if not stripped:
            flush_para()
            flush_bullets()
        elif hm:
            flush_para()
            flush_bullets()
            level = len(hm.group(1))
            htext = hm.group(2).strip()
            if title is None:
                title = htext
            blocks.append(("heading", f"{'#' * level} {htext}"))
        elif bm:
            flush_para()
            bullets.append(bm.group(1).strip())
        else:
            flush_bullets()
            para.append(stripped)
    flush_para()
    flush_bullets()
    if title is None:  # no heading: first non-empty source line
        title = next((ln.strip() for ln in lines if ln.strip()), None)
    out_text, spans = assemble(blocks)
    schema_used, fields, val_errors = _line_fields(
        profile, [ln.strip() for ln in lines])
    return _result(url, detect.KIND_TEXT, title=title, text=out_text,
                   spans=spans, fields=fields, val_errors=val_errors,
                   pages=1, schema_used=schema_used,
                   optimizations=["text-passthrough-v1"], t0=t0)


def extract_pdf(url: str, payload: bytes, profile: str, t0: float) -> dict:
    pages = extract_pdf_pages(payload)
    blocks: list[tuple[str, str]] = []
    title = None
    flat_lines: list[str] = []
    for lines in pages:
        flat_lines.extend(lines)
        for line in lines:
            if title is None and line.strip():
                title = line.strip()
                blocks.append(("heading", f"# {title}"))
            else:
                blocks.append(("para", line))
    text, spans = assemble(blocks)
    n_pages = page_count(payload) or len(pages)
    schema_used, fields, val_errors = _line_fields(profile, flat_lines)
    return _result(url, detect.KIND_PDF, title=title, text=text,
                   spans=spans, fields=fields, val_errors=val_errors,
                   pages=n_pages, schema_used=schema_used,
                   optimizations=["pdf-layout-v1"], t0=t0)


def extract_document(url: str, payload: bytes | None,
                     profile: str = "auto") -> dict:
    """bytes → result dict. The single function the Spark extraction
    stage applies to every row. Never raises."""
    t0 = time.perf_counter()
    try:
        if payload is None or len(payload) == 0:
            return _result(url, detect.KIND_EMPTY,
                           status=errors.EMPTY_FILE,
                           val_errors=["empty payload"], t0=t0)
        if len(payload) > MAX_DOC_BYTES:
            return _result(url, detect.KIND_UNKNOWN,
                           status=errors.FILE_TOO_LARGE,
                           val_errors=[f"payload {len(payload)}B > "
                                       f"{MAX_DOC_BYTES}B cap"], t0=t0)
        kind = detect.detect_kind(payload)
        if kind == detect.KIND_HTML:
            return extract_html(url, payload, profile, t0)
        if kind == detect.KIND_DOCX:
            html = docx_to_html(payload)
            res = extract_html(url, html.encode("utf-8"), profile, t0,
                               doc_kind=detect.KIND_DOCX,
                               optimizations=["omml-rewritten"])
            return res
        if kind == detect.KIND_PDF:
            return extract_pdf(url, payload, profile, t0)
        if kind == detect.KIND_TEXT:
            return extract_text(url, payload, profile, t0)
        return _result(url, kind, status=errors.UNSUPPORTED_FORMAT,
                       val_errors=[f"unsupported kind: {kind}"], t0=t0)
    except errors.ExtractError as exc:
        kind = detect.detect_kind(payload) if payload else detect.KIND_EMPTY
        return _result(url, kind, status=exc.code,
                       val_errors=[f"{exc.phase}: {exc}"], t0=t0)
    except Exception as exc:  # absolute backstop: one row in, one row out
        err = errors.classify_exception(exc)
        msg = f"{err.phase}: {exc}" if err.phase else str(exc)
        return _result(url, detect.KIND_UNKNOWN, status=err.code,
                       val_errors=[msg], t0=t0)


def span_digest(spans: "list[dict]") -> str:
    """Canonical digest of a span list: sha256 over
    'start:end:kind|...' in emission order. Computed identically by
    the Spark pipeline and the non-Spark golden generator
    (tests/gen_goldens.py), making the FULL span structure — not just
    its count — a hard driver-oracle signal per url."""
    import hashlib
    joined = "|".join(f"{s['start']}:{s['end']}:{s['kind']}"
                      for s in spans)
    return hashlib.sha256(joined.encode("utf-8")).hexdigest()
