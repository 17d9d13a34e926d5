"""Structured-field extraction profiles (deterministic analogues of the
reference's prompt modes, SURVEY.md §2.4 Q4).

The reference builds three prompt flavors — tablesOnly / invoice /
generic (`core/vision/ai-generator.ts:164-199`) — and lets a vision LLM
fill a Zod schema. Here each flavor is a deterministic extractor filling
the same shapes:

- ``tables``  → TablesOnlySchema      (`core/schemas/tables.ts:7-25`)
- ``invoice`` → ComprehensiveInvoiceSchema subset (`schemas/invoice.ts:57-108`)
- ``receipt`` → BasicReceiptSchema    (`schemas/invoice.ts:111-123`)

One rule set with two input adapters. ``_invoice`` and ``_receipt`` hold
each profile's regexes, items, scores and validation once; an adapter
only reads its input. ``extract_*`` reads the parsed DOM (labels from
leaf blocks, invoice items from table rows, receipt items from
``<li>``). ``extract_*_lines`` reads the reading-ordered text lines of a
PDF or plain-text document (the analogue of extractInvoicePdf /
extractReceiptPdf / extractTablesPdf, `pdf-processor/src/lib/index.ts:
138-184`), with items from the ``desc xN @ unit = total`` grammar.

Heterogeneous table cells (string|number|null union, `tables.ts:7-9`)
are canonicalized to strings (SURVEY.md §1.2 decision). Validation
mirrors V3/V4: never throw — emit (fields, errors) and let the caller
set validation.success.
"""

from __future__ import annotations

import re

from .html_dom import Node
from .serialize_md import render_inline

_NUM_RE = r"(-?\d+(?:\.\d+)?)"
_WS_ANY_RE = re.compile(r"\s+")


def _text(node: Node) -> str:
    return _WS_ANY_RE.sub(" ", node.text_content()).strip()


def _leaf_text(root: Node) -> str:
    """One line per leaf block (p/h1/h2/li/td) — label regexes need real
    line boundaries; container nodes (div) would run children together."""
    return "\n".join(
        _text(n) for n in root.find_all("p", "h1", "h2", "h3", "li", "td")
        if n.children)


def _to_float(s: str | None) -> float | None:
    if s is None:
        return None
    try:
        return float(s)
    except ValueError:
        return None


# ---------------------------------------------------------------------------
# tables profile
# ---------------------------------------------------------------------------

def extract_tables(root: Node) -> dict:
    """All <table>s as {headers, rows (string cells), n_rows, n_cols}."""
    detected = []
    for table in root.find_all("table"):
        rows_nodes = [r for r in table.iter() if r.tag == "tr"]
        if not rows_nodes:
            continue
        grid = []
        for tr in rows_nodes:
            cells = [c for c in tr.children if c.tag in ("td", "th")]
            grid.append([_text_cell(c) for c in cells])
        first_is_header = all(
            c.tag == "th"
            for c in rows_nodes[0].children if c.tag in ("td", "th"))
        headers = grid[0] if first_is_header and grid else []
        body = grid[1:] if headers else grid
        detected.append({
            "headers": headers,
            "rows": body,
            "n_rows": len(body),
            "n_cols": max((len(r) for r in grid), default=0),
        })
    return {"detected_tables": detected, "table_count": len(detected)}


def _text_cell(c: Node) -> str:
    return _WS_ANY_RE.sub(" ", render_inline(c)).strip()


# ---------------------------------------------------------------------------
# invoice profile
# ---------------------------------------------------------------------------

_INVOICE_LABELS = {
    "invoice_number": re.compile(
        r"(?:invoice number|invoice #|facture n[o°])\s*[:#]?\s*(\S+)",
        re.IGNORECASE),
    "invoice_date": re.compile(
        r"(?:invoice date|date de facture|date)\s*:\s*([0-9]{4}-[0-9]{2}-"
        r"[0-9]{2}|\S+)", re.IGNORECASE),
    "seller": re.compile(r"(?:seller|vendeur)\s*:\s*(.+?)(?:$|\n)",
                         re.IGNORECASE),
    "buyer": re.compile(r"(?:buyer|acheteur|client)\s*:\s*(.+?)(?:$|\n)",
                        re.IGNORECASE),
    "currency": re.compile(r"currency\s*:\s*([A-Z]{3})", re.IGNORECASE),
}
_TOTAL_RE = re.compile(
    r"(?:total(?:\s+amount)?|montant\s+total)\s*:\s*" + _NUM_RE,
    re.IGNORECASE)

_ITEM_HEADER_HINTS = {
    "description": ("description", "désignation", "item"),
    "quantity": ("quantity", "qty", "quantité", "quantite"),
    "unit_price": ("unit price", "prix unitaire", "unit"),
    "line_total": ("line total", "total", "montant"),
}


def _classify_headers(headers: list[str]) -> dict[str, int]:
    mapping: dict[str, int] = {}
    for i, h in enumerate(headers):
        hl = h.lower()
        for field, hints in _ITEM_HEADER_HINTS.items():
            if field not in mapping and any(x in hl for x in hints):
                mapping[field] = i
                break
    return mapping


def _invoice(page_text: str,
             line_items: list[dict]) -> tuple[dict, list[str]]:
    """The invoice rules over either input: labeled fields and total
    from the page text, then (fields, validation_errors). Coherence
    check V4: |Σ line_total − total_amount| ≤ 0.01
    (`tests/receipt.test.ts:83-85`)."""
    out: dict = {k: None for k in _INVOICE_LABELS}
    for key, pat in _INVOICE_LABELS.items():
        m = pat.search(page_text)
        if m:
            out[key] = m.group(1).strip()
    m = _TOTAL_RE.search(page_text)
    out["total_amount"] = _to_float(m.group(1)) if m else None
    out["line_items"] = line_items
    found = sum(1 for k in ("invoice_number", "invoice_date", "seller",
                            "buyer", "currency", "total_amount")
                if out.get(k) is not None) + (1 if line_items else 0)
    out["fields_found"] = found
    out["confidence_score"] = round(found / 7.0, 4)

    errors: list[str] = []
    if out["total_amount"] is None:
        errors.append("invoice.total_amount missing")
    if not line_items:
        errors.append("invoice.line_items empty")
    else:
        s = sum(li["line_total"] or 0.0 for li in line_items)
        if out["total_amount"] is not None and \
                abs(s - out["total_amount"]) > 0.01:
            errors.append(
                f"invoice coherence: sum(line_total)={s:.2f} != "
                f"total_amount={out['total_amount']:.2f}")
    return out, errors


def extract_invoice(root: Node, tables: dict) -> tuple[dict, list[str]]:
    """Invoice profile over the DOM. ``tables`` is the page's
    ``extract_tables(root)``; the line items are the rows of its first
    table whose headers name a description and a line total."""
    line_items: list[dict] = []
    for t in tables["detected_tables"]:
        cols = _classify_headers(t["headers"])
        if "description" not in cols or "line_total" not in cols:
            continue
        for row in t["rows"]:
            def cell(field: str) -> str | None:
                i = cols.get(field)
                return row[i] if i is not None and i < len(row) else None
            line_items.append({
                "description": cell("description"),
                "quantity": _to_float(cell("quantity")),
                "unit_price": _to_float(cell("unit_price")),
                "line_total": _to_float(cell("line_total")),
            })
        if line_items:
            break
    return _invoice(_leaf_text(root), line_items)


def extract_invoice_lines(lines: list[str],
                          tables: dict) -> tuple[dict, list[str]]:
    """Invoice profile over text lines: every item-grammar line is a
    line item. ``tables`` (``extract_tables_lines``) is not read: a
    detected table needs ≥2 consecutive item lines, a line item does
    not."""
    return _invoice("\n".join(lines), _item_lines(lines))


# ---------------------------------------------------------------------------
# receipt profile
# ---------------------------------------------------------------------------

_DATE_RE = re.compile(r"date\s*:\s*(\S+)", re.IGNORECASE)
_PAYMENT_RE = re.compile(r"(?:payment|paiement)\s*:\s*(\S+)", re.IGNORECASE)
_CURRENCY_RE = re.compile(r"currency\s*:\s*([A-Z]{3})", re.IGNORECASE)


def _receipt(merchant: str | None, page_text: str,
             item_lines: list[str]) -> tuple[dict, list[str]]:
    """The receipt rules over either input: BasicReceiptSchema shape
    with the reference's test assertions as validation rules
    (`tests/receipt.test.ts:41-85`)."""
    m = _TOTAL_RE.search(page_text)
    total = _to_float(m.group(1)) if m else None
    items = [{"name": it["description"], "quantity": it["quantity"],
              "price": it["unit_price"], "total": it["line_total"]}
             for it in _item_lines(item_lines)]
    fields = {
        "merchant_name": merchant, "date": _m1(_DATE_RE, page_text),
        "payment_method": _m1(_PAYMENT_RE, page_text),
        "currency": _m1(_CURRENCY_RE, page_text),
        "total_amount": total, "items": items,
    }
    errors: list[str] = []
    if not merchant:
        errors.append("receipt.merchant_name missing")
    if total is None or total <= 0:
        errors.append("receipt.total_amount not > 0")
    if not items:
        errors.append("receipt.items empty")
    for it in items:
        if not it["name"] or it["price"] <= 0 or it["quantity"] <= 0 \
                or it["total"] <= 0:
            errors.append(f"receipt item invalid: {it['name']!r}")
    if items and total is not None and \
            abs(sum(i["total"] for i in items) - total) > 0.01:
        errors.append("receipt coherence: sum(items.total) != total_amount")
    return fields, errors


def extract_receipt(root: Node) -> tuple[dict, list[str]]:
    """Receipt profile over the DOM: merchant = first <h1>, page text =
    the <p>s, items = the <li>s."""
    h1 = root.find("h1")
    return _receipt(_text(h1) if h1 is not None else None,
                    "\n".join(_text(p) for p in root.find_all("p")),
                    [_text(li) for li in root.find_all("li")])


def extract_receipt_lines(lines: list[str]) -> tuple[dict, list[str]]:
    """Receipt profile over text lines: merchant = first non-empty line
    (the PDF title position); every line is page text and an item
    candidate."""
    return _receipt(next((ln.strip() for ln in lines if ln.strip()), None),
                    "\n".join(lines), lines)


def _m1(pat: re.Pattern, text: str) -> str | None:
    m = pat.search(text)
    return m.group(1) if m else None


# ---------------------------------------------------------------------------
# the item grammar (text lines, and receipt <li>s)
# ---------------------------------------------------------------------------

_ITEM_RE = re.compile(
    r"^(.*?)\s+x(\d+)\s+@\s*" + _NUM_RE + r"\s*=\s*" + _NUM_RE + r"\s*$")
_ITEM_FIELDS = ("description", "quantity", "unit_price", "line_total")


def _parse_items(lines: list[str]) -> list[dict | None]:
    """Per line, its ``desc xN @ unit = total`` item, or None."""
    items: list[dict | None] = []
    for line in lines:
        m = _ITEM_RE.match(line.strip())
        items.append(None if m is None else {
            "description": m.group(1).strip(),
            "quantity": float(m.group(2)),
            "unit_price": float(m.group(3)),
            "line_total": float(m.group(4)),
        })
    return items


def _item_lines(lines: list[str]) -> list[dict]:
    """The item-grammar lines' items, in reading order."""
    return [it for it in _parse_items(lines) if it is not None]


def extract_tables_lines(lines: list[str]) -> dict:
    """Tables profile over text lines: runs of ≥2 consecutive item-
    grammar lines form one detected table (TablesOnlySchema shape,
    cells canonicalized to strings like the DOM path)."""
    detected = []
    run: list[dict] = []
    for it in _parse_items(lines) + [None]:
        if it is not None:
            run.append(it)
            continue
        if len(run) >= 2:
            detected.append({
                "headers": list(_ITEM_FIELDS),
                "rows": [[r["description"], f"{r['quantity']:g}",
                          f"{r['unit_price']:.2f}",
                          f"{r['line_total']:.2f}"] for r in run],
                "n_rows": len(run),
                "n_cols": 4,
            })
        run = []
    return {"detected_tables": detected, "table_count": len(detected)}
