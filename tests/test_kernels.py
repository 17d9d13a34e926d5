"""Unit tests for the pure-Python extraction kernels (no Spark).

Mirrors the reference's test intent (SURVEY.md §5) but as deterministic
unit tests: operator kernels (detector D1–D2, OMML table O4, serializer
rules O8–O19, boilerplate §2.7, PDF reading order §7.4) plus the
receipt/invoice assertions from `pdf-processor/tests/receipt.test.ts`.
"""

import hashlib

import pytest

from extract_kit_spark.fixtures import gen_page, gen_pages
from extract_kit_spark.kernels import detect, errors, pdf_text
from extract_kit_spark.kernels.boilerplate import (extract_title,
                                                   strip_boilerplate)
from extract_kit_spark.kernels.extract import extract_document
from extract_kit_spark.kernels.html_dom import body_of, parse_html
from extract_kit_spark.kernels.omml import omml_to_latex
from extract_kit_spark.kernels.pdf_text import extract_pdf_pages
from extract_kit_spark.kernels.serialize_md import (assemble, render_image,
                                                    render_link,
                                                    serialize_blocks)


# -- detection (D1–D2) -------------------------------------------------------

def test_detect_magic_bytes():
    assert detect.detect_kind(b"%PDF-1.4 rest") == "pdf"
    assert detect.detect_kind(b"<!DOCTYPE html><html>") == "html"
    assert detect.detect_kind(b"  <html><body>x</body>") == "html"
    assert detect.detect_kind(b"\x89PNG\r\n\x1a\nxxxx") == "png"
    assert detect.detect_kind(b"") == "empty"
    assert detect.detect_kind(None) == "empty"
    assert detect.detect_kind(b"{\\rtf1 hello}") == "rtf"
    assert detect.detect_kind(b"\xff\xd8\xff\xe0") == "jpeg"


def test_detect_zip_container_sniff():
    import io
    import zipfile
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("word/document.xml", "<w:document/>")
    assert detect.detect_kind(buf.getvalue()) == "docx"
    buf2 = io.BytesIO()
    with zipfile.ZipFile(buf2, "w") as z:
        z.writestr("other.txt", "x")
    assert detect.detect_kind(buf2.getvalue()) == "zip"


# -- OMML → LaTeX (O4) -------------------------------------------------------

def test_omml_fraction():
    omml = ("<m:oMath><m:f><m:num><m:r><m:t>x</m:t></m:r></m:num>"
            "<m:den><m:r><m:t>2</m:t></m:r></m:den></m:f></m:oMath>")
    assert omml_to_latex(omml) == r"\frac{x}{2}"


def test_omml_sup_sub_sqrt():
    sup = ("<m:sSup><m:e><m:r><m:t>a</m:t></m:r></m:e>"
           "<m:sup><m:r><m:t>3</m:t></m:r></m:sup></m:sSup>")
    assert omml_to_latex(sup) == "{a}^{3}"
    sub = ("<m:sSub><m:e><m:r><m:t>x</m:t></m:r></m:e>"
           "<m:sub><m:r><m:t>i</m:t></m:r></m:sub></m:sSub>")
    assert omml_to_latex(sub) == "{x}_{i}"
    rad = "<m:rad><m:e><m:r><m:t>y</m:t></m:r></m:e></m:rad>"
    assert omml_to_latex(rad) == r"\sqrt{y}"
    nth = ("<m:rad><m:deg><m:r><m:t>3</m:t></m:r></m:deg>"
           "<m:e><m:r><m:t>z</m:t></m:r></m:e></m:rad>")
    assert omml_to_latex(nth) == r"\sqrt[3]{z}"


def test_omml_symbols_and_fallback():
    assert omml_to_latex("<m:r><m:t>α + β</m:t></m:r>") == \
        r"\alpha + \beta"
    # garbage never raises; unterminated tags pass through as text
    assert omml_to_latex("<broken <xml") == "<broken <xml"
    assert omml_to_latex("<a><b>kept</b></a>") == "kept"


# -- serializer rules (O8–O19) -----------------------------------------------

def test_link_rules():
    assert render_link("x", "javascript:alert(1)") == "x"
    assert render_link("x", "vbscript:foo") == "x"
    assert render_link("https://a.io", "https://a.io") == "<https://a.io>"
    assert render_link("t", "https://a.io/p q") == \
        "[t](https://a.io/p%20q)"
    assert render_link("t", "https://a.io", 'say "hi"') == \
        '[t](https://a.io "say \\"hi\\"")'


def test_image_rules():
    long_data = "data:image/png;base64," + "A" * 200
    assert render_image("a", long_data).endswith("...)")
    assert render_image("a", "https://x/" + "b" * 600) == "[a]"
    assert render_image("a", "https://x/i.png", "t") == \
        '![a](https://x/i.png "t")'


def _blocks(html: str):
    return serialize_blocks(body_of(parse_html(html)))


def test_table_header_separator():
    blocks = _blocks("<table><tr><th>name</th><th>id</th></tr>"
                     "<tr><td>a</td><td>1</td></tr></table>")
    assert blocks == [("table",
                       "| name | id |\n| --- | --- |\n| a | 1 |")]


def test_table_no_header_row():
    blocks = _blocks("<table><tr><td>just</td><td>words</td></tr>"
                     "<tr><td>more</td><td>cells</td></tr></table>")
    text = blocks[0][1]
    assert "---" not in text


def test_table_cell_escaping():
    blocks = _blocks("<table><tr><td>a|b</td><td>x\ny</td></tr></table>")
    assert blocks[0][1] == "| a\\|b | x y |"


def test_list_nested_and_ordered():
    blocks = _blocks("<ul><li>one</li><li>two<ul><li>sub</li></ul></li>"
                     "</ul><ol><li>first</li><li>second</li></ol>")
    assert blocks[0] == ("list", "- one\n- two\n  - sub")
    assert blocks[1] == ("list", "1. first\n2. second")


def test_heading_newline_to_space():
    blocks = _blocks("<h2>multi\nline\ntitle</h2>")
    assert blocks == [("heading", "## multi line title")]


def test_math_block_and_inline():
    blocks = _blocks("<p>$$\\frac{a}{b}$$</p><p>text $x^2$ more</p>")
    assert blocks[0] == ("math", "$$\\frac{a}{b}$$")
    assert blocks[1][0] == "para"
    assert "$x^2$" in blocks[1][1]


def test_code_block_language():
    blocks = _blocks('<pre><code class="language-py">x = 1</code></pre>')
    assert blocks == [("code", "```py\nx = 1\n```")]


def test_script_style_stripped():
    blocks = _blocks("<script>var a=1;</script><style>.x{}</style>"
                     "<p>kept</p>")
    assert blocks == [("para", "kept")]


def test_assemble_offsets_are_exact():
    text, spans = assemble([("heading", "# T"), ("para", "hello world")])
    assert text == "# T\n\nhello world\n"
    for (start, end, kind) in spans:
        assert text[start:end] == {"heading": "# T",
                                   "para": "hello world"}[kind]


def test_assemble_empty():
    assert assemble([]) == ("", [])


# -- boilerplate (§2.7) ------------------------------------------------------

def test_boilerplate_strips_nav_header_footer_sidebar():
    html = ("<body><header id='top'>chrome</header>"
            "<nav><ul><li><a href='/a'>a</a></li></ul></nav>"
            "<div class='content'><h1>Title</h1><p>"
            + "real content words " * 20 + "</p></div>"
            "<div class='sidebar'><ul><li><a href='/x'>x</a></li></ul>"
            "</div><footer>foot</footer></body>")
    body = body_of(parse_html(html))
    strip_boilerplate(body)
    text = body.text_content()
    assert "real content" in text
    assert "chrome" not in text and "foot" not in text


def test_boilerplate_keeps_link_dense_main_content():
    # a long, link-dense block that IS the content must survive
    links = "".join(f"<a href='/{i}'>link text {i} and more words</a> "
                    for i in range(30))
    html = f"<body><div class='content'><p>{links}</p></div></body>"
    body = body_of(parse_html(html))
    strip_boilerplate(body)
    assert "link text 0" in body.text_content()


def test_compute_stats_matches_direct_definitions():
    """The one-pass stats table must equal the per-subtree definitions
    (stripped text length, nested-anchor sum, keep/media flags) on every
    element of every html fixture — this is what makes the O(1)
    classify_block exactly equivalent to the old re-walking one."""
    from extract_kit_spark.kernels.boilerplate import (
        compute_stats, _stripped_len, _KEEP_TAGS, _MEDIA_TAGS)
    checked = 0
    for i in range(200):
        row = gen_page(i)
        if row["_kind"] in ("docx_doc", "pdf_doc", "broken"):
            continue
        root = parse_html(row["html"].decode("utf-8", "replace"))
        stats = compute_stats(root)
        for node in root.iter():
            st = stats[id(node)]
            assert _stripped_len(st) == len(node.text_content().strip())
            assert st[3] == sum(len(a.text_content().strip())
                                for a in node.find_all("a"))
            assert st[4] == (node.find(*_KEEP_TAGS) is not None)
            assert st[5] == (node.find(*_MEDIA_TAGS) is not None)
            checked += 1
    assert checked > 1000


def test_boilerplate_deep_nested_chrome():
    # 60-deep nested wrappers each carrying a link list: linear-time
    # pruning must drop every list and keep the buried content paragraph
    deep = "<body>"
    for d in range(60):
        deep += (f'<div class="wrap{d}"><ul>'
                 + "".join(f'<li><a href="/x{j}">link {j}</a></li>'
                           for j in range(8)) + "</ul>")
    deep += ("<p>" + "real content word " * 200 + "</p>"
             + "</div>" * 60 + "</body>")
    body = body_of(parse_html(deep))
    strip_boilerplate(body)
    text = body.text_content()
    assert "real content word" in text
    assert "link 0" not in text


def test_title_rules():
    body = body_of(parse_html("<body><h1> A  Title </h1></body>"))
    assert extract_title(body, "https://x/y.html") == "A Title"
    body2 = body_of(parse_html("<body><p>no h1</p></body>"))
    assert extract_title(body2, "https://x/path/page-01.html") == "page-01"
    assert extract_title(body2, "") is None


# -- PDF (§7.4) ---------------------------------------------------------------

def _pdf_bytes(i: int = 0) -> bytes:
    for j in range(400):
        row = gen_page(j)
        if row["_kind"] == "pdf_doc":
            if i == 0:
                return row["html"]
            i -= 1
    raise AssertionError("no pdf fixture found")


def test_pdf_extracts_pages():
    pages = extract_pdf_pages(_pdf_bytes())
    assert pages and all(isinstance(l, str) for p in pages for l in p)


def test_pdf_two_column_reading_order():
    # hand-built two-column page: left column lines first, then right
    content = (b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (L1) Tj "
               b"1 0 0 1 320 700 Tm (R1) Tj "
               b"1 0 0 1 72 684 Tm (L2) Tj "
               b"1 0 0 1 320 684 Tm (R2) Tj ET")
    pdf = (b"%PDF-1.4\n1 0 obj\n<< /Type /Page >>\nendobj\n"
           b"2 0 obj\n<< /Length " + str(len(content)).encode() +
           b" >>\nstream\n" + content + b"\nendstream\nendobj\n%%EOF")
    pages = extract_pdf_pages(pdf)
    assert pages == [["L1", "L2", "R1", "R2"]]


def test_pdf_flate_length_slice_regression():
    """Compressed content streams whose deflate bytes contain
    endstream-like sequences or trailing CR bytes must decode via the
    /Length slice, not a delimiter scan. Fixture indices 3600/7632/
    21648 are plain-compressed seeds (i%12==0, outside the r4
    lzw85/rle quarter-slots i%48∈{24,36}) whose deflate bytes contain
    such sequences — a delimiter scan would lose pages."""
    import random
    from extract_kit_spark.fixtures import (_pdf_doc, _domain, _slug,
                                            gen_page)
    for i in (3600, 7632, 21648):
        row = gen_page(i)
        assert row["_kind"] == "pdf_doc" and b"/FlateDecode" in row["html"]
        rng = random.Random(f"42:{i}")
        rng.random()
        _domain(rng)
        _slug(rng)
        plain = _pdf_doc(rng, compress=False)
        a = extract_document(row["url"], row["html"])
        b = extract_document(row["url"], plain)
        assert a["extracted_text"] == b["extracted_text"]
        assert a["extracted_text"]


def test_pdf_invalid_raises_taxonomy():
    with pytest.raises(errors.ExtractError) as ei:
        extract_pdf_pages(b"not a pdf")
    assert ei.value.code == errors.INVALID_PDF


# -- orchestrator invariants ---------------------------------------------------

def test_cardinality_invariant_and_never_raises():
    rows = gen_pages(200, oversize_every=97)
    results = [extract_document(r["url"], r["html"]) for r in rows]
    assert len(results) == len(rows)  # E5: one row out per row in
    for r in results:
        assert r["status"] == "ok" or not r["validation"]["success"]


def test_size_cap_quarantine():
    big = b"<html>" + b"x" * (60 * 1024 * 1024)
    res = extract_document("u", big)
    assert res["status"] == errors.FILE_TOO_LARGE
    assert res["validation"]["success"] is False


def test_empty_payload():
    res = extract_document("u", b"")
    assert res["status"] == errors.EMPTY_FILE


def test_broken_zip_quarantined():
    res = extract_document("u", b"PK\x03\x04garbage")
    assert res["status"] in (errors.CORRUPTED_FILE, errors.INVALID_DOCX,
                             errors.UNSUPPORTED_FORMAT)


def test_receipt_assertions_reference_parity():
    # the strongest reference assertions (receipt.test.ts:41-85)
    for i in range(400):
        row = gen_page(i)
        if row["_kind"] != "receipt_page":
            continue
        res = extract_document(row["url"], row["html"])
        rec = res["fields"]["receipt"]
        assert rec["merchant_name"]
        assert rec["total_amount"] > 0
        assert rec["items"]
        for it in rec["items"]:
            assert it["name"] and it["price"] > 0
            assert it["quantity"] > 0 and it["total"] > 0
        assert abs(sum(i2["total"] for i2 in rec["items"])
                   - rec["total_amount"]) <= 0.01
        assert res["validation"]["success"]


def test_invoice_coherence():
    for i in range(400):
        row = gen_page(i)
        if row["_kind"] != "invoice_page":
            continue
        res = extract_document(row["url"], row["html"])
        inv = res["fields"]["invoice"]
        assert inv["invoice_number"] and inv["total_amount"] > 0
        s = sum(li["line_total"] for li in inv["line_items"])
        assert abs(s - inv["total_amount"]) <= 0.01
        assert 0.0 <= inv["confidence_score"] <= 1.0


def test_invoice_page_builds_its_tables_once(monkeypatch):
    """The invoice profile hands its tables to extract_invoice: an HTML
    invoice page under ``auto`` builds them once, not once per use."""
    from extract_kit_spark.kernels import extract, fields
    real = fields.extract_tables
    calls = []

    def counted(root):
        calls.append(root)
        return real(root)
    monkeypatch.setattr(fields, "extract_tables", counted)
    monkeypatch.setattr(extract, "extract_tables", counted)
    row = next(r for r in map(gen_page, range(400))
               if r["_kind"] == "invoice_page")
    res = extract_document(row["url"], row["html"])
    assert res["metadata"]["schema_used"] == "invoice"
    assert res["fields"]["invoice"]["line_items"]
    assert res["fields"]["tables"]["table_count"] == 1
    assert len(calls) == 1


def test_text_tables_document_builds_its_tables_once(monkeypatch):
    """``auto``'s table check over text lines and the tables profile it
    picks share one ``extract_tables_lines`` result."""
    from extract_kit_spark.kernels import extract
    real = extract.extract_tables_lines
    calls = []

    def counted(lines):
        calls.append(lines)
        return real(lines)
    monkeypatch.setattr(extract, "extract_tables_lines", counted)
    res = extract_document(
        "u", b"Parts list\nwidget x2 @ 10.00 = 20.00\n"
             b"bolt x1 @ 5.50 = 5.50\n")
    assert res["doc_kind"] == "text"
    assert res["metadata"]["schema_used"] == "tables"
    assert res["fields"]["tables"]["table_count"] == 1
    assert len(calls) == 1


def _html_and_text(res_of, html_body: str, lines: list[str]):
    """``res_of`` of the same document as HTML and as plain text."""
    html = f"<html><body>{html_body}</body></html>".encode("utf-8")
    text = "\n".join(lines).encode("utf-8")
    got = [extract_document("u", payload) for payload in (html, text)]
    assert [r["doc_kind"] for r in got] == ["html", "text"]
    return [res_of(r) for r in got]


@pytest.mark.parametrize("total,items", [
    ("3.99", [("bread", 2, "1.50", "3.00"), ("milk", 1, "0.99", "0.99")]),
    ("5.00", [("bread", 2, "1.50", "3.00"), ("milk", 1, "0.99", "0.99")]),
    ("0.00", [("free sample", 1, "0.00", "0.00")]),
], ids=["coherent", "incoherent", "zero-price"])
def test_receipt_same_rules_for_dom_and_lines(total, items):
    """A receipt as <h1>/<p>/<li> HTML and as the equivalent text lines
    gives equal fields and equal validation errors."""
    item_lines = [f"{n} x{q} @ {p} = {t}" for n, q, p, t in items]
    labels = ["Date: 2025-03-04", f"Total: {total}", "Payment: card",
              "Currency: EUR"]
    html = ("<h1>Corner Store</h1>"
            + "".join(f"<p>{ln}</p>" for ln in labels[:1])
            + "<ul>" + "".join(f"<li>{ln}</li>" for ln in item_lines)
            + "</ul>" + "".join(f"<p>{ln}</p>" for ln in labels[1:]))
    dom, lines = _html_and_text(
        lambda r: (r["metadata"]["schema_used"], r["fields"]["receipt"],
                   r["validation"]["errors"]),
        html, ["Corner Store", *labels[:1], *item_lines, *labels[1:]])
    assert dom == lines
    assert dom[0] == "receipt"
    assert dom[1]["merchant_name"] == "Corner Store"
    assert len(dom[1]["items"]) == len(items)
    assert bool(dom[2]) == (total != "3.99")


@pytest.mark.parametrize("total", ["Total: 25.50 EUR", "Total: 30.00 EUR",
                                   "Grand sum 25.50"],
                         ids=["coherent", "incoherent", "no-total"])
def test_invoice_same_rules_for_dom_and_lines(total):
    """An invoice as labeled <p>s plus a line-items table and as the
    equivalent text lines gives equal labeled fields, total, line items
    and coherence errors."""
    labels = ["Invoice Number: INV-000042", "Invoice Date: 2025-04-01",
              "Currency: EUR", "Seller: Acme GmbH", "Buyer: Bolt SARL"]
    items = [("widget", 2, "10.00", "20.00"), ("bolt", 1, "5.50", "5.50")]
    rows = "".join(f"<tr><td>{d}</td><td>{q}</td><td>{u}</td><td>{t}</td>"
                   "</tr>" for d, q, u, t in items)
    html = ("".join(f"<p>{ln}</p>" for ln in labels)
            + "<table><tr><th>Description</th><th>Quantity</th>"
            "<th>Unit Price</th><th>Line Total</th></tr>" + rows
            + f"</table><p>{total}</p>")
    dom, lines = _html_and_text(
        lambda r: (r["metadata"]["schema_used"], r["fields"]["invoice"],
                   r["validation"]["errors"]),
        html, [*labels, *(f"{d} x{q} @ {u} = {t}" for d, q, u, t in items),
               total])
    assert dom == lines
    assert dom[0] == "invoice"
    assert dom[1]["seller"] == "Acme GmbH"
    assert len(dom[1]["line_items"]) == 2
    assert bool(dom[2]) == (total != "Total: 25.50 EUR")


def test_docx_math_to_latex():
    for i in range(400):
        row = gen_page(i)
        if row["_kind"] != "docx_doc":
            continue
        res = extract_document(row["url"], row["html"])
        assert res["status"] == "ok"
        assert "$\\frac{" in res["extracted_text"]  # inline math O2/O4
        assert "$$" in res["extracted_text"]        # block math O3
        break


# -- fast parser ≡ stdlib parser -------------------------------------------------

def _tree_repr(node):
    if node.is_text:
        return ("#text", node.text)
    return (node.tag, tuple(sorted(node.attrs.items())),
            tuple(_tree_repr(c) for c in node.children))


def test_fast_parser_equivalent_to_stdlib_on_all_fixtures():
    from extract_kit_spark.kernels.html_dom import (parse_html,
                                                    parse_html_stdlib)
    from extract_kit_spark.kernels.docx import docx_to_html
    checked = 0
    for i in range(400):
        row = gen_page(i)
        kind = row["_kind"]
        if kind in ("pdf_doc", "broken"):
            continue
        if kind == "docx_doc":
            html = docx_to_html(row["html"])
        else:
            html = row["html"].decode("utf-8")
        fast = _tree_repr(parse_html(html))
        std = _tree_repr(parse_html_stdlib(html))
        assert fast == std, f"parser divergence at row {i} ({kind})"
        checked += 1
    assert checked > 300


def test_fast_parser_edge_cases():
    from extract_kit_spark.kernels.html_dom import (parse_html,
                                                    parse_html_stdlib)
    cases = [
        "<p>unclosed <p>implicit close</p>",
        "<ul><li>a<li>b</ul>",
        "<table><tr><td>x<td>y<tr><td>z</table>",
        "<!-- comment --><p>after &amp; entity &#65;</p>",
        "<a href='s q'>q</a><img src=bare alt=\"a&quot;b\"/>",
        "<div class=\"x\"><script>var a = '<p>';</script>kept</div>",
        "text only, no tags",
        "<p>dangling",
        "",
        # stdlib buffers unterminated comments/marked sections to EOF
        # and flushes them as data; PIs consume to the first '>'
        "<!-- unterminated<p>",
        "<!-->", "<!--->", "<!---->",
        "<?php echo ?>", "<?x",
        "<![CDATA[a]]>", "<![CDATA[a>b]]>", "<![CDATA[a <p>x",
        "&amp;<!-- t<p>",
        "pre<!DOC <p>post",
    ]
    for html in cases:
        assert _tree_repr(parse_html(html)) == \
            _tree_repr(parse_html_stdlib(html)), html


# -- determinism ---------------------------------------------------------------

def test_extraction_deterministic_and_order_independent():
    rows = gen_pages(50)
    a = [extract_document(r["url"], r["html"]) for r in rows]
    b = [extract_document(r["url"], r["html"])
         for r in reversed(rows)][::-1]
    for ra, rb in zip(a, b):
        assert ra["extracted_text"] == rb["extracted_text"]
        assert ra["spans"] == rb["spans"]
        assert ra["title"] == rb["title"]


def test_fixture_generation_deterministic():
    """gen_page is a pure function of (i, seed) down to the BYTES —
    the sleep forces a wall-clock second boundary between the two
    passes, pinning the zipfile-timestamp regression (writestr with a
    bare name stamps current time into DOCX member headers)."""
    import time as _time
    h1 = hashlib.sha256()
    h2 = hashlib.sha256()
    for i in range(100):
        h1.update(gen_page(i)["html"])
    _time.sleep(1.05)
    for i in range(100):
        h2.update(gen_page(i)["html"])
    assert h1.hexdigest() == h2.hexdigest()


def test_spans_index_into_text():
    for i in range(100):
        row = gen_page(i)
        res = extract_document(row["url"], row["html"])
        text = res["extracted_text"]
        prev_end = -2
        for s in res["spans"]:
            assert 0 <= s["start"] < s["end"] <= len(text)
            assert s["start"] >= prev_end + 2  # blank-line separated
            prev_end = s["end"]


def test_pdf_receipt_assertions_reference_parity():
    """extractReceiptPdf analogue: the reference's strongest test
    (receipt.test.ts:41-85) asserted on actual PDF payloads."""
    n = 0
    for i in range(1200):
        if i % 4 != 3:
            continue
        row = gen_page(i)
        if row["_kind"] != "pdf_doc":
            continue
        n += 1
        res = extract_document(row["url"], row["html"])
        assert res["doc_kind"] == "pdf"
        assert res["metadata"]["schema_used"] == "receipt"
        rec = res["fields"]["receipt"]
        assert rec["merchant_name"]
        assert rec["total_amount"] > 0
        assert rec["items"]
        for it in rec["items"]:
            assert it["name"] and it["price"] > 0
            assert it["quantity"] > 0 and it["total"] > 0
        assert abs(sum(i2["total"] for i2 in rec["items"])
                   - rec["total_amount"]) <= 0.01
        assert res["validation"]["success"]
    assert n >= 5


def test_pdf_invoice_coherence_and_profiles():
    """extractInvoicePdf analogue + explicit-profile routing on PDFs."""
    n = 0
    for i in range(1200):
        if i % 4 != 1:
            continue
        row = gen_page(i)
        if row["_kind"] != "pdf_doc":
            continue
        n += 1
        res = extract_document(row["url"], row["html"])
        assert res["metadata"]["schema_used"] == "invoice"
        inv = res["fields"]["invoice"]
        assert inv["invoice_number"] and inv["total_amount"] > 0
        assert inv["invoice_date"] and inv["currency"]
        s = sum(li["line_total"] for li in inv["line_items"])
        assert abs(s - inv["total_amount"]) <= 0.01
        assert res["validation"]["success"]
        # extractTablesPdf analogue: explicit tables profile sees the
        # line items as one detected table
        tab = extract_document(row["url"], row["html"],
                               profile="tables")
        t = tab["fields"]["tables"]
        assert t["table_count"] == 1
        assert t["detected_tables"][0]["n_rows"] == \
            len(inv["line_items"])
    assert n >= 5


def test_pdf_invoice_compressed_twin_same_fields():
    """A FlateDecode-compressed invoice PDF must extract identical
    fields to its uncompressed twin (the oracle only covers the
    uncompressed path — this pins the compressed one)."""
    import random as _random
    import zlib as _zlib
    from extract_kit_spark.fixtures import _pdf_invoice
    rng = _random.Random("pdfinv:compressed")
    plain = _pdf_invoice(rng)
    # recompress the content stream by rebuilding through the writer:
    # simplest faithful twin — decompress path exercised by swapping
    # the stream for its FlateDecode version
    import re as _re
    m = _re.search(rb"<< /Length (\d+) >>\nstream\n", plain)
    assert m
    start = m.end()
    length = int(m.group(1))
    raw = plain[start:start + length]
    comp = _zlib.compress(raw, 6)
    twin = (plain[:m.start()]
            + b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(comp)
            + comp + plain[start + length:])
    r1 = extract_document("u", plain)
    r2 = extract_document("u", twin)
    assert r1["fields"]["invoice"] == r2["fields"]["invoice"]
    assert r1["extracted_text"] == r2["extracted_text"]


def test_docx_hyperlink_image_ol_footnote():
    """DOCX fidelity subset from mammoth's defaults
    (docx-converter.ts:163-202): rels-resolved hyperlinks, <img alt>,
    numFmt-driven <ol> vs <ul>, footnote bodies appended in
    first-reference order."""
    import random
    from extract_kit_spark.fixtures import _docx_doc
    rng = random.Random("docxfid:1")
    res = extract_document("u", _docx_doc(rng))
    text = res["extracted_text"]
    assert res["status"] == "ok"
    # hyperlink rendered as a markdown link with the rels target
    assert "](https://" in text
    # image rendered with alt + media path
    assert "![" in text and "](media/image1.png)" in text
    # both list flavors present
    assert "\n- " in text and "\n1. " in text
    # footnote marker + trailing body
    assert "[2]" in text
    assert text.rstrip().splitlines()[-1].startswith("- [2] ")


def test_docx_style_map_override():
    """mammoth-style styleMap option: pStyle → html tag override
    (types/converter.ts:9-13)."""
    from extract_kit_spark.kernels.docx import docx_xml_to_html
    xml = ('<w:document xmlns:w="http://schemas.openxmlformats.org/'
           'wordprocessingml/2006/main"><w:body>'
           '<w:p><w:pPr><w:pStyle w:val="Quote"/></w:pPr>'
           '<w:r><w:t>wise words</w:t></w:r></w:p>'
           '</w:body></w:document>')
    html = docx_xml_to_html(xml, style_map={"Quote": "blockquote"})
    assert "<blockquote>wise words</blockquote>" in html
    # without the map the paragraph stays a <p>
    assert "<p>wise words</p>" in docx_xml_to_html(xml)


def test_docx_numbering_mixed_runs_split_lists():
    """Adjacent list paragraphs with different numFmt close and reopen
    the list element (ul↔ol boundary)."""
    from extract_kit_spark.kernels.docx import docx_xml_to_html
    W = 'xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main"'

    def li(num_id, txt):
        return ('<w:p><w:pPr><w:numPr><w:ilvl w:val="0"/>'
                f'<w:numId w:val="{num_id}"/></w:numPr></w:pPr>'
                f'<w:r><w:t>{txt}</w:t></w:r></w:p>')

    xml = (f'<w:document {W}><w:body>'
           + li(1, "a") + li(1, "b") + li(2, "c") + li(2, "d")
           + '</w:body></w:document>')
    numbering = {"1": {"0": "bullet"}, "2": {"0": "decimal"}}
    html = docx_xml_to_html(xml, numbering=numbering)
    assert html == ("<body><ul><li>a</li><li>b</li></ul>"
                    "<ol><li>c</li><li>d</li></ol></body>")


def test_mime_maps_full_table_and_guess_functions():
    """D3 parity: the full 31-entry extension↔mime table
    (file-detector.ts:11-54) and both guess directions."""
    from extract_kit_spark.kernels.detect import (
        EXT_TO_MIME, MIME_TO_KIND, guess_extension_from_mime,
        guess_mime_from_extension)
    assert len(EXT_TO_MIME) >= 30
    assert guess_mime_from_extension(".DOCX") == \
        EXT_TO_MIME[".docx"]
    assert guess_mime_from_extension(".nope") is None
    # first-match semantics: image/jpeg maps back to .jpg (table order)
    assert guess_extension_from_mime("image/jpeg") == ".jpg"
    assert guess_extension_from_mime("text/html") == ".html"
    assert guess_extension_from_mime("application/x-unknown") is None
    # every routed mime resolves to a declared kind
    assert MIME_TO_KIND["application/pdf"] == "pdf"
    assert MIME_TO_KIND["application/zip"] == "zip"


def test_charset_sniffing_decodes_html():
    """Charset handling in the HTML decode path: meta charset and BOMs
    override the utf-8 default; mojibake is the failure this guards."""
    from extract_kit_spark.kernels.detect import sniff_charset
    latin = ("<!DOCTYPE html><html><head>"
             '<meta charset="iso-8859-1"></head>'
             "<body><p>caf\xe9 cr\xe8me and lots of words here to "
             "keep the paragraph body " + "x " * 30 +
             "</p></body></html>").encode("iso-8859-1")
    assert sniff_charset(latin) == "iso-8859-1"
    res = extract_document("u", latin)
    assert "café crème" in res["extracted_text"]
    # utf-8 BOM
    bom = b"\xef\xbb\xbf<!DOCTYPE html><html><body><p>plain</p></body></html>"
    assert sniff_charset(bom) == "utf-8-sig"
    # no declaration → default
    assert sniff_charset(b"<!DOCTYPE html><html></html>") == "utf-8"
    # bogus charset name falls back
    assert sniff_charset(b'<meta charset="not-a-charset">x') == "utf-8"


def test_text_doc_markdown_and_plain_extraction():
    """text/plain + text/markdown branch (reference supports both,
    file-detector.ts:203-230): heading→title, bullets normalized,
    hard-wrapped paragraphs folded."""
    md = ("# My Title\n\nfirst paragraph\nwrapped here\n\n"
          "## Section\n\n- alpha beta\n* gamma\n\ntail para\n")
    res = extract_document("u", md.encode("utf-8"))
    assert res["doc_kind"] == "text" and res["status"] == "ok"
    assert res["title"] == "My Title"
    t = res["extracted_text"]
    assert "# My Title" in t and "## Section" in t
    assert "first paragraph wrapped here" in t
    assert "- alpha beta\n- gamma" in t
    # spans index into text exactly
    for s in res["spans"]:
        assert t[s["start"]:s["end"]]
    plain = b"Title Line\n\npara one line a\nline b\n\npara two"
    res2 = extract_document("u", plain)
    assert res2["doc_kind"] == "text"
    assert res2["title"] == "Title Line"
    assert "para one line a line b" in res2["extracted_text"]


def test_text_invoice_profile_via_lines():
    """A plain-text invoice extracts through the same line-based
    profile as the PDF branch (auto-sniffed)."""
    txt = ("Invoice INV-000042\nInvoice Number: INV-000042\n"
           "Invoice Date: 2025-04-01\nCurrency: EUR\n"
           "widget x2 @ 10.00 = 20.00\nbolt x1 @ 5.50 = 5.50\n"
           "Total: 25.50 EUR\n").encode("utf-8")
    res = extract_document("u", txt)
    assert res["doc_kind"] == "text"
    assert res["metadata"]["schema_used"] == "invoice"
    inv = res["fields"]["invoice"]
    assert inv["invoice_number"] == "INV-000042"
    assert inv["total_amount"] == 25.50
    assert len(inv["line_items"]) == 2
    assert res["validation"]["success"]


def test_detect_text_vs_binary():
    assert detect.detect_kind(b"just plain ascii words") == "text"
    assert detect.detect_kind("héllo unicode ünïcode".encode()) == "text"
    assert detect.detect_kind(b"text with\x00nul") == "unknown"
    assert detect.detect_kind(b"\xff\xfe\xfd garbage") == "unknown"
    # multi-byte char split at the 4096 sniff boundary is still text
    payload = (b"a" * 4095 + "é".encode("utf-8") + b" tail words")
    assert detect.detect_kind(payload) == "text"


def test_docx_nested_lists_via_ilvl():
    """ilvl nesting: deeper list paragraphs nest inside the preceding
    <li> (mammoth behavior); kind changes at the same level reopen."""
    from extract_kit_spark.kernels.docx import _render_list_items
    items = [(0, "ul", "a"), (1, "ol", "x"), (1, "ol", "y"),
             (0, "ul", "b"), (0, "ol", "c")]
    assert _render_list_items(items) == (
        "<ul><li>a<ol><li>x</li><li>y</li></ol></li><li>b</li></ul>"
        "<ol><li>c</li></ol>")
    # starting mid-depth (shallower items follow) still renders all
    assert _render_list_items([(1, "ul", "deep"), (0, "ul", "top")]) \
        == "<ul><li>deep</li></ul><ul><li>top</li></ul>"
    # through the full pipeline: fixture DOCX now carries a nested run
    import random
    from extract_kit_spark.fixtures import _docx_doc
    res = extract_document("u", _docx_doc(random.Random("n:1")))
    text = res["extracted_text"]
    assert "\n  1. " in text  # indented ordered child under a bullet


# -- PDF writer-variant kernels (round-3 interpreter broadening) ---------------

def test_pdf15_objstm_xref_stream_equivalent_to_classic():
    """PDF 1.5 layout (page dicts in an /ObjStm, /XRef cross-reference
    STREAM, no classic xref table): extraction and page discovery must
    match the classic-layout twin built from the same rng draws."""
    import random
    from extract_kit_spark.fixtures import _pdf_doc
    for s in ("p15:1", "p15:2", "p15:3"):
        a = _pdf_doc(random.Random(s), pdf15=True)
        b = _pdf_doc(random.Random(s))
        assert a.startswith(b"%PDF-1.5") and b"trailer" not in a
        assert pdf_text.extract_pdf_pages(a) == \
            pdf_text.extract_pdf_pages(b)
        assert pdf_text.page_count(a) == pdf_text.page_count(b) > 0


def test_pdf_scrambled_tm_order_reconstructs_reading_order():
    """Runs emitted in shuffled stream order with absolute Tm
    positioning: reading-order reconstruction must recover exactly the
    unscrambled twin's text (geometry, not stream order, decides)."""
    import random
    from extract_kit_spark.fixtures import _pdf_doc
    for s in ("scr:1", "scr:2", "scr:3", "scr:4"):
        a = _pdf_doc(random.Random(s), scrambled=True)
        b = _pdf_doc(random.Random(s))
        assert pdf_text.extract_pdf_pages(a) == \
            pdf_text.extract_pdf_pages(b)


def test_pdf_hex_strings_and_escape_edges():
    """Hex-string show-text ops decode identically to the literal twin,
    and the escape-edge block (balanced nested parens, octal with 8-bit
    wrap, dropped backslash, line continuation, odd-length hex) decodes
    to its spec-mandated texts."""
    import random
    from extract_kit_spark.fixtures import _pdf_doc, ESCAPE_EDGE_TEXTS
    for s in ("hex:1", "hex:2"):
        a = pdf_text.extract_pdf_pages(
            _pdf_doc(random.Random(s), hex_strings=True))
        b = pdf_text.extract_pdf_pages(_pdf_doc(random.Random(s)))
        # the escape block sits at the BOTTOM OF COLUMN 1 (x=72,
        # y≤80), so reading order places it mid-page when column 2
        # exists — assert it is a contiguous run and that removing it
        # leaves exactly the literal twin's lines
        idx = a[0].index(ESCAPE_EDGE_TEXTS[0])
        assert a[0][idx:idx + 4] == list(ESCAPE_EDGE_TEXTS)
        assert a[0][:idx] + a[0][idx + 4:] == b[0]
        assert a[1:] == b[1:]


def test_pdf_hex_invoice_fields_match_literal_twin():
    """The hex-string invoice variant yields the same structured fields
    as its literal twin (same rng draws) through the FULL kernel."""
    import random
    from extract_kit_spark.fixtures import _pdf_invoice
    for s in ("hinv:1", "hinv:2"):
        a = extract_document(
            "https://x/a.pdf",
            _pdf_invoice(random.Random(s), hex_strings=True),
            profile="invoice")["fields"]["invoice"]
        b = extract_document(
            "https://x/b.pdf", _pdf_invoice(random.Random(s)),
            profile="invoice")["fields"]["invoice"]
        assert a == b
        assert a["invoice_number"].startswith("INV-")
        assert a["total_amount"] > 0 and a["line_items"]


def test_pdf_tounicode_cmap_composite_font():
    """Type0 /Identity-H font with a /ToUnicode CMap: 2-byte glyph
    codes (ord+0x100 in the fixture) decode to the plain twin's text
    ONLY through the CMap's bfrange — a latin-1 passthrough would be
    control-character soup, so byte-identical twin output proves the
    mapping path."""
    import random
    from extract_kit_spark.fixtures import _pdf_doc
    for s in ("cmap:1", "cmap:2", "cmap:3"):
        a = _pdf_doc(random.Random(s), cmap=True)
        b = _pdf_doc(random.Random(s))
        assert b"/ToUnicode" in a and b"/Identity-H" in a
        assert pdf_text.extract_pdf_pages(a) == \
            pdf_text.extract_pdf_pages(b)


def test_pdf_cmap_bfchar_array_bfrange_and_ligatures():
    """CMap details beyond the fixture: bfchar entries, the ARRAY form
    of bfrange, multi-code-unit (ligature) destinations, and unmapped
    codes dropping silently."""
    cm = pdf_text._parse_cmap(
        "1 begincodespacerange <0000> <FFFF> endcodespacerange\n"
        "2 beginbfchar <0001> <00C9> <0002> <00660066006C> endbfchar\n"
        "1 beginbfrange <0010> <0012> [<0041> <215B> <0043>] endbfrange\n"
        "1 beginbfrange <0100> <0102> <0061> endbfrange\n")
    assert cm.nbytes == 2
    assert cm.apply("\x00\x01") == "É"          # bfchar
    assert cm.apply("\x00\x02") == "ffl"             # ligature target
    assert cm.apply("\x00\x10\x00\x11\x00\x12") == "A⅛C"  # array form
    assert cm.apply("\x01\x00\x01\x01\x01\x02") == "abc"  # incrementing
    assert cm.apply("\x7f\x7f") == ""                # unmapped dropped
    assert cm.apply("\x01\x00\x41") == "a"           # trailing partial unit


def test_pdf_rotated_page_reads_upright():
    """90°-rotated body (rotation carried in Tm): reading order must be
    reconstructed in the text's own upright frame — byte-identical to
    the unrotated twin, including two-column pages."""
    import random
    from extract_kit_spark.fixtures import _pdf_doc
    for s in ("rot:1", "rot:2", "rot:3", "rot:4"):
        a = _pdf_doc(random.Random(s), rotated=True)
        b = _pdf_doc(random.Random(s))
        assert b"0 1 -1 0" in a
        assert pdf_text.extract_pdf_pages(a) == \
            pdf_text.extract_pdf_pages(b)


def test_pdf_rotated_180_and_td_along_rotated_axes():
    """180° rotation plus relative Td line advances: Td/T* must
    translate along the ROTATED line axes for the layout to invert
    cleanly back to upright."""
    content = (b"BT /F1 12 Tf -1 0 0 -1 540 100 Tm (First line) Tj "
               b"0 -16 Td (Second line) Tj ET")
    stream = b"<< /Length %d >>\nstream\n%s\nendstream" % (
        len(content), content)
    pdf = (b"%PDF-1.4\n1 0 obj\n<< /Type /Page >>\nendobj\n"
           b"2 0 obj\n" + stream + b"\nendobj\n%%EOF")
    assert pdf_text.extract_pdf_pages(pdf) == [["First line", "Second line"]]


def test_pdf_split_stream_pages_follow_document_structure():
    """A page whose content is SPLIT across two stream objects via a
    /Contents array — stored in reversed file order — must come back as
    ONE page with the plain twin's exact text: page attribution follows
    catalog → /Kids → /Contents, not stream position, and graphics/text
    state spans the chunk boundary."""
    import random
    from extract_kit_spark.fixtures import _pdf_doc
    for s in ("split:1", "split:2", "split:3"):
        a = _pdf_doc(random.Random(s), split_streams=True)
        b = _pdf_doc(random.Random(s))
        assert b"/Contents [" in a
        assert pdf_text.extract_pdf_pages(a) == \
            pdf_text.extract_pdf_pages(b)
        assert pdf_text.page_count(a) == pdf_text.page_count(b)


def test_pdf_tj_kern_word_spacing():
    """TJ arrays with no space glyphs: inter-word kerns at/below the
    threshold decode as single spaces, small intra-word kerns don't —
    byte-identical to the plain twin that uses real spaces."""
    import random
    from extract_kit_spark.fixtures import _pdf_doc, _tj_kerned
    assert _tj_kerned("hello brave world") == \
        "[(he) -20 (llo) -250 (brave) -250 (world)] TJ"
    for s in ("tj:1", "tj:2", "tj:3"):
        a = _pdf_doc(random.Random(s), tj_kerned=True)
        b = _pdf_doc(random.Random(s))
        assert b"] TJ" in a and b"-250" in a
        assert pdf_text.extract_pdf_pages(a) == \
            pdf_text.extract_pdf_pages(b)


def test_pdf_encrypted_quarantines():
    """/Encrypt in the trailer → explicit INVALID_PDF (no decryption
    support), never ciphertext garbage."""
    import random
    from extract_kit_spark.fixtures import _pdf_doc
    pdf = _pdf_doc(random.Random("enc:1"))
    enc = pdf.replace(b"trailer\n<<",
                      b"trailer\n<< /Encrypt 99 0 R", 1)
    with pytest.raises(errors.ExtractError) as ei:
        pdf_text.extract_pdf_pages(enc)
    assert ei.value.code == errors.INVALID_PDF
    assert "encrypt" in str(ei.value).lower()


def test_pdf_structure_walk_survives_cycles_and_dangling_refs():
    """Adversarial document structure: a /Kids cycle must not hang
    (visited-set guard), and a /Contents pointing at a missing object
    falls back to the stream-per-page heuristic instead of losing the
    text."""
    content = b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (Survivor text) Tj ET"
    stream = b"<< /Length %d >>\nstream\n%s\nendstream" % (
        len(content), content)
    # catalog -> pages 2, kids [2 3]: node 2 cycles back to itself
    cyclic = (b"%PDF-1.4\n"
              b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
              b"2 0 obj\n<< /Type /Pages /Kids [2 0 R 3 0 R] /Count 1 >>"
              b"\nendobj\n"
              b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>"
              b"\nendobj\n"
              b"4 0 obj\n" + stream + b"\nendobj\n%%EOF")
    assert pdf_text.extract_pdf_pages(cyclic) == [["Survivor text"]]
    # /Contents -> object 99 which does not exist
    dangling = (b"%PDF-1.4\n"
                b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
                b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>"
                b"\nendobj\n"
                b"3 0 obj\n<< /Type /Page /Parent 2 0 R "
                b"/Contents 99 0 R >>\nendobj\n"
                b"4 0 obj\n" + stream + b"\nendobj\n%%EOF")
    assert pdf_text.extract_pdf_pages(dangling) == [["Survivor text"]]


def test_pdf_form_xobject_text_spliced_at_do():
    """Text painted through a Form XObject (the header/letterhead
    pattern) is spliced into its page at the Do call site — and a form
    that references itself terminates via the depth guard."""
    form = (b"<< /Subtype /Form /Length 58 >>\nstream\n"
            b"BT /F1 9 Tf 1 0 0 1 72 780 Tm (Corp Letterhead) Tj ET"
            b"\nendstream")
    body = (b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (Body text) Tj ET\n"
            b"/Fm1 Do")
    stream = b"<< /Length %d >>\nstream\n%s\nendstream" % (
        len(body), body)
    pdf = (b"%PDF-1.4\n"
           b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
           b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
           b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
           b"/Resources << /XObject << /Fm1 5 0 R >> >> >>\nendobj\n"
           b"4 0 obj\n" + stream + b"\nendobj\n"
           b"5 0 obj\n" + form + b"\nendobj\n%%EOF")
    assert pdf_text.extract_pdf_pages(pdf) == \
        [["Corp Letterhead", "Body text"]]
    # self-referencing form: must terminate, body text intact
    evil_form = (b"<< /Subtype /Form /Length 69 >>\nstream\n"
                 b"BT /F1 9 Tf 1 0 0 1 72 780 Tm (Loop) Tj ET\n"
                 b"/Fm1 Do"
                 b"\nendstream")
    evil = pdf.replace(form, evil_form)
    out = pdf_text.extract_pdf_pages(evil)
    assert out and "Body text" in out[0][-1]


def test_pdf_ascii_filters_and_chains():
    """ASCIIHexDecode, ASCII85Decode, and the wire-safe chain
    [/ASCII85Decode /FlateDecode] all decode to the same text as the
    plain stream; unknown filters (DCT/CCITT) are skipped, not garbled."""
    import base64
    import zlib as _z
    content = b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (Filtered text) Tj ET"

    def onedoc(raw: bytes, filt: bytes) -> bytes:
        stream = (b"<< /Length %d %s >>\nstream\n" % (len(raw), filt)
                  + raw + b"\nendstream")
        return (b"%PDF-1.4\n1 0 obj\n<< /Type /Page >>\nendobj\n"
                b"2 0 obj\n" + stream + b"\nendobj\n%%EOF")

    hexed = content.hex().encode() + b">"
    a85 = base64.a85encode(content) + b"~>"
    chain = base64.a85encode(_z.compress(content)) + b"~>"
    assert pdf_text.extract_pdf_pages(
        onedoc(hexed, b"/Filter /ASCIIHexDecode")) == [["Filtered text"]]
    assert pdf_text.extract_pdf_pages(
        onedoc(a85, b"/Filter /ASCII85Decode")) == [["Filtered text"]]
    assert pdf_text.extract_pdf_pages(
        onedoc(chain, b"/Filter [/ASCII85Decode /FlateDecode]")) == \
        [["Filtered text"]]
    # unknown filter: stream skipped, page gate still sees the page dict
    out = pdf_text.extract_pdf_pages(
        onedoc(b"\x01\x02junk", b"/Filter /DCTDecode"))
    assert out == []


def test_pdf_inline_image_binary_skipped():
    """BI..ID <binary> EI inside a content stream: the raw bytes (which
    contain '(' and 'BT'-like sequences) must not derail tokenization
    of the surrounding text."""
    content = (b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (Before image) Tj ET\n"
               b"BI /W 2 /H 2 /BPC 8 /CS /G ID \x28\x42\x54\x00 EI\n"
               b"BT 1 0 0 1 72 680 Tm (After image) Tj ET")
    stream = b"<< /Length %d >>\nstream\n%s\nendstream" % (
        len(content), content)
    pdf = (b"%PDF-1.4\n1 0 obj\n<< /Type /Page >>\nendobj\n"
           b"2 0 obj\n" + stream + b"\nendobj\n%%EOF")
    assert pdf_text.extract_pdf_pages(pdf) == \
        [["Before image", "After image"]]


def test_docx_merged_cells_keep_rectangular_grid():
    """gridSpan (colspan) pads the row with empty cells and a vMerge
    continuation renders empty — the markdown table grid stays
    rectangular with content in its true column."""
    import io
    import zipfile
    from extract_kit_spark.kernels.docx import docx_xml_to_html
    W = ("xmlns:w=\"http://schemas.openxmlformats.org/wordprocessingml"
         "/2006/main\"")
    xml = f"""<w:document {W}><w:body>
<w:tbl>
 <w:tr>
  <w:tc><w:tcPr><w:gridSpan w:val="2"/></w:tcPr>
    <w:p><w:r><w:t>wide</w:t></w:r></w:p></w:tc>
  <w:tc><w:tcPr><w:vMerge w:val="restart"/></w:tcPr>
    <w:p><w:r><w:t>tall</w:t></w:r></w:p></w:tc>
 </w:tr>
 <w:tr>
  <w:tc><w:p><w:r><w:t>a</w:t></w:r></w:p></w:tc>
  <w:tc><w:p><w:r><w:t>b</w:t></w:r></w:p></w:tc>
  <w:tc><w:tcPr><w:vMerge/></w:tcPr><w:p/></w:tc>
 </w:tr>
</w:tbl>
</w:body></w:document>"""
    html = docx_xml_to_html(xml)
    assert ("<tr><td>wide</td><td></td><td>tall</td></tr>"
            "<tr><td>a</td><td>b</td><td></td></tr>") in html


def test_pdf_encrypt_gate_scoped_to_trailer():
    """/Encrypt-shaped bytes INSIDE stream data (page text, compressed
    payload bytes) must NOT quarantine a valid unencrypted file — at
    10^12 docs the accidental pattern is a certainty (ADVICE r3). Only
    a trailer-dict (or /XRef stream dict) /Encrypt entry gates."""
    content = (b"BT /F1 12 Tf 1 0 0 1 72 700 Tm"
               b" (See /Encrypt 9 0 R for details) Tj ET")
    stream = b"<< /Length %d >>\nstream\n%s\nendstream" % (
        len(content), content)
    pdf = (b"%PDF-1.4\n"
           b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
           b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
           b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>"
           b"\nendobj\n"
           b"4 0 obj\n" + stream + b"\nendobj\n"
           b"trailer\n<< /Root 1 0 R >>\n%%EOF")
    assert pdf_text.extract_pdf_pages(pdf) == \
        [["See /Encrypt 9 0 R for details"]]
    # the real thing still quarantines (trailer dict)
    enc = pdf.replace(b"<< /Root 1 0 R >>",
                      b"<< /Root 1 0 R /Encrypt 9 0 R >>")
    with pytest.raises(errors.ExtractError) as ei:
        pdf_text.extract_pdf_pages(enc)
    assert ei.value.code == errors.INVALID_PDF


def test_pdf_length_indirect_reference_resolved():
    """'/Length 5 0 R' (indirect length object — common incremental
    writers) must resolve the referenced integer, or at worst fall back
    to the endstream scan — never read the literal '5' as the byte
    count and truncate the stream to garbage (ADVICE r3)."""
    content = b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (Full stream text) Tj ET"
    for length_obj, note in [
            (b"5 0 obj\n%d\nendobj\n" % len(content), "resolvable"),
            (b"", "dangling -> endstream fallback")]:
        pdf = (b"%PDF-1.4\n"
               b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
               b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>"
               b"\nendobj\n"
               b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>"
               b"\nendobj\n"
               b"4 0 obj\n<< /Length 5 0 R >>\nstream\n" + content +
               b"\nendstream\nendobj\n" + length_obj +
               b"trailer\n<< /Root 1 0 R >>\n%%EOF")
        assert pdf_text.extract_pdf_pages(pdf) == \
            [["Full stream text"]], note


# -- stdlib PNG codec (multimodal decode stage) ---------------------------


def test_png_roundtrip_every_filter_and_colortype():
    """Twin parity: the SAME pixels encoded under every scanline
    filter (0-4), every supported color type, and different zlib
    levels must decode to the identical raw pixel bytes — so the
    decoder's inverse-filter paths are pinned against each other, and
    filter-0 (verbatim scanlines) anchors them all to the input."""
    from extract_kit_spark.kernels import png
    import hashlib
    for color_type in (0, 2, 6):
        ch = {0: 1, 2: 3, 6: 4}[color_type]
        w, h = 13, 7
        pixels = bytes((i * 37 + 11) % 256 for i in range(w * h * ch))
        hashes = set()
        for ft in range(5):
            for level in (1, 9):
                payload = png.encode_png(w, h, pixels, color_type,
                                         filter_type=ft, level=level)
                img = png.decode_png(payload)
                assert (img["width"], img["height"]) == (w, h)
                assert img["channels"] == ch
                assert img["pixels"] == pixels
                hashes.add(hashlib.sha256(img["pixels"]).hexdigest())
        assert len(hashes) == 1


def test_png_decode_hand_computed_scanlines():
    """Independent of encode_png: a hand-assembled 2x2 gray PNG using
    Sub then Up filters decodes to the hand-computed pixel values."""
    import struct
    import zlib
    from extract_kit_spark.kernels import png
    # row0: filter 1 (Sub): stored (10, 5) -> pixels (10, 15)
    # row1: filter 2 (Up):  stored (20, 30) -> pixels (30, 45)
    raw = bytes([1, 10, 5, 2, 20, 30])
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)

    def chunk(tag, body):
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))

    payload = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
               + chunk(b"IDAT", zlib.compress(raw))
               + chunk(b"IEND", b""))
    img = png.decode_png(payload)
    assert img["pixels"] == bytes([10, 15, 30, 45])


def test_png_decode_rejects_corruption_typed():
    """Structural damage -> PngError (typed), never garbage pixels:
    flipped CRC, truncated chunk, interlaced flag, bad magic."""
    import pytest as _pytest
    from extract_kit_spark.kernels import png
    good = png.encode_png(4, 3, bytes(range(36)), 2, filter_type=4)
    assert png.decode_png(good)["pixels"] == bytes(range(36))
    with _pytest.raises(png.PngError):
        png.decode_png(good[:-5])  # truncated
    bad_crc = bytearray(good)
    bad_crc[-5] ^= 0xFF  # IEND crc byte
    with _pytest.raises(png.PngError):
        png.decode_png(bytes(bad_crc))
    with _pytest.raises(png.PngError):
        png.decode_png(b"NOTAPNG" + good)
    interlaced = bytearray(good)
    interlaced[28] = 1  # IHDR interlace flag
    # fix the IHDR crc so only the interlace rejection can fire
    import struct, zlib as _z
    ihdr_body = bytes(interlaced[16:29])
    interlaced[29:33] = struct.pack(
        ">I", _z.crc32(b"IHDR" + ihdr_body) & 0xFFFFFFFF)
    with _pytest.raises(png.PngError, match="interlace"):
        png.decode_png(bytes(interlaced))


def test_pdf_lzw_tiff_spec_vector():
    """HAND-COMPUTED pin of /LZWDecode against the published TIFF-6
    LZW example (the PDF spec §7.4.4 defines its LZW as TIFF's):
    input bytes 7,7,7,8,8,7,7,6,6 encode to the code sequence
    256,7,258,8,8,258,6,6,257 packed MSB-first at 9 bits. Both
    directions are pinned so the fixture encoder and the kernel
    decoder are each checked against the spec, not just each other."""
    from extract_kit_spark.fixtures import _lzw_encode
    from extract_kit_spark.kernels.pdf_text import _lzw_decode
    codes = [256, 7, 258, 8, 8, 258, 6, 6, 257]
    buf = n = 0
    wire = bytearray()
    for c in codes:
        buf = (buf << 9) | c
        n += 9
        while n >= 8:
            wire.append((buf >> (n - 8)) & 0xFF)
            n -= 8
    if n:
        wire.append((buf << (8 - n)) & 0xFF)
    plain = bytes([7, 7, 7, 8, 8, 7, 7, 6, 6])
    assert _lzw_decode(bytes(wire)) == plain
    assert _lzw_encode(plain) == bytes(wire)


def test_pdf_lzw_width_boundaries_and_clear():
    """Round-trips that cross the 9→10→11→12-bit width bumps (the
    classic early-change off-by-one) and the table-full ClearTable
    reset; plus the KwKwK self-referential code (a run of repeats
    forces code == next_free on the decoder side)."""
    import random as _r
    from extract_kit_spark.fixtures import _lzw_encode
    from extract_kit_spark.kernels.pdf_text import _lzw_decode
    # all 256 byte values cycled: the dictionary blows straight
    # through 511/1023/2047 and (at *80) the 4093 clear threshold
    for reps in (3, 8, 80):
        data = (bytes(range(256))[::-1] + bytes(range(256))) * reps
        assert _lzw_decode(_lzw_encode(data)) == data
    assert _lzw_decode(_lzw_encode(b"aaaaaaa")) == b"aaaaaaa"  # KwKwK
    rng = _r.Random(7)
    for n in (0, 1, 2000, 40000):
        blob = bytes(rng.randrange(256) for _ in range(n))
        assert _lzw_decode(_lzw_encode(blob)) == blob
        text = bytes(rng.choice(b"BT ET Tj Tm (strm) 0123456789")
                     for _ in range(n))
        assert _lzw_decode(_lzw_encode(text)) == text


def test_pdf_lzw_early_change_zero():
    """/DecodeParms << /EarlyChange 0 >> defers every width bump by
    exactly one code. Encode with a local late-change twin of the
    fixture encoder and decode through the full stream path so the
    DecodeParms parse itself is exercised."""
    from extract_kit_spark.kernels import pdf_text

    def late_encode(data: bytes) -> bytes:
        out = bytearray()
        buf = n = 0
        width = 9
        table = {bytes([i]): i for i in range(256)}
        next_code = 258

        def emit(code: int) -> None:
            nonlocal buf, n
            buf = (buf << width) | code
            n += width
            while n >= 8:
                out.append((buf >> (n - 8)) & 0xFF)
                n -= 8
            buf &= (1 << n) - 1

        emit(256)
        w = b""
        for b in data:
            wc = w + bytes([b])
            if wc in table:
                w = wc
                continue
            emit(table[w])
            table[wc] = next_code
            next_code += 1
            if next_code > (1 << width) and width < 12:  # LATE bump
                width += 1
            w = bytes([b])
        if w:
            emit(table[w])
        emit(257)
        if n:
            out.append((buf << (8 - n)) & 0xFF)
        return bytes(out)

    content = b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (Late change) Tj ET"
    # pad so the dictionary crosses 511 (width bump actually differs)
    content += b" % " + (bytes(range(256))[::-1] + bytes(range(256))) * 2
    raw = late_encode(content)
    assert pdf_text._lzw_decode(raw, early_change=0) == content
    stream = (b"<< /Length %d /Filter /LZWDecode /DecodeParms "
              b"<< /EarlyChange 0 >> >>\nstream\n" % len(raw)
              + raw + b"\nendstream")
    pdf = (b"%PDF-1.4\n1 0 obj\n<< /Type /Page >>\nendobj\n"
           b"2 0 obj\n" + stream + b"\nendobj\n%%EOF")
    assert pdf_text.extract_pdf_pages(pdf) == [["Late change"]]


def test_pdf_runlength_decode_and_corrupt():
    """/RunLengthDecode: literal runs, repeat runs (incl. the 128-byte
    maximum), EOD handling, and the corrupt-stream path (truncated run
    → stream skipped, not garbled — parity with the reference's
    reject-don't-guess rule, file-processor.ts:46-49)."""
    from extract_kit_spark.fixtures import _rle_encode
    from extract_kit_spark.kernels import pdf_text
    from extract_kit_spark.kernels.pdf_text import _runlength_decode
    # hand-computed: 2 literals, a 4-repeat, EOD, trailing junk ignored
    assert _runlength_decode(b"\x01ab\xfdz\x80IGNORED") == b"abzzzz"
    data = b"x" * 1000 + b"interleaved" + b"\x00" * 300 + b"tail"
    assert _runlength_decode(_rle_encode(data)) == data
    for bad in (b"\x05ab", b"\xfd"):  # truncated literal / repeat
        with pytest.raises(ValueError):
            _runlength_decode(bad)
    content = b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (RLE text) Tj ET"
    enc = _rle_encode(content)
    stream = (b"<< /Length %d /Filter /RunLengthDecode >>\nstream\n"
              % len(enc) + enc + b"\nendstream")
    pdf = (b"%PDF-1.4\n1 0 obj\n<< /Type /Page >>\nendobj\n"
           b"2 0 obj\n" + stream + b"\nendobj\n%%EOF")
    assert pdf_text.extract_pdf_pages(pdf) == [["RLE text"]]
    # corrupt payload under a declared RunLengthDecode → skipped
    bad_pdf = pdf.replace(enc, b"\x70" + b"x" * 3)  # literal overruns
    assert pdf_text.extract_pdf_pages(bad_pdf) == []


def test_pdf_lzw_and_rle_variants_match_plain_twin():
    """The r4 writer variants — [/ASCII85Decode /LZWDecode] chained
    content streams and /RunLengthDecode streams — extract
    byte-identical to the plain twin built from the same rng draws
    (same independence scheme as the cmap/rotated/split variants:
    codec correctness is pinned by the hand-computed spec vectors
    above; the twin parity then transfers the hand-pinned plain-twin
    texts to these variants)."""
    import random as _r
    from extract_kit_spark.fixtures import _pdf_doc
    for kw in ({"compress": "lzw85"}, {"compress": "rle"}):
        for s in range(6):
            rng_v, rng_p = _r.Random(f"t:{s}"), _r.Random(f"t:{s}")
            got = extract_pdf_pages(_pdf_doc(rng_v, **kw))
            want = extract_pdf_pages(_pdf_doc(rng_p))
            assert got == want and got, (kw, s)


def test_rc4_published_vectors():
    """Pin the RC4 implementation against the classic published
    test vectors (the original cypherpunks-posting set) — the cipher
    itself, independent of any PDF plumbing — plus the symmetric
    roundtrip property."""
    from extract_kit_spark.kernels.pdf_crypt import rc4
    assert rc4(b"Key", b"Plaintext").hex().upper() \
        == "BBF316E8D940AF0AD3"
    assert rc4(b"Wiki", b"pedia").hex().upper() == "1021BF0420"
    assert rc4(b"Secret", b"Attack at dawn").hex().upper() \
        == "45A01F645FC35B383552544B9BF5"
    blob = bytes(range(256)) * 3
    assert rc4(b"k2", rc4(b"k2", blob)) == blob


def test_pdf_encrypted_twins_extract_byte_identical():
    """Every trailer-layout PDF in the corpus, encrypted under ALL
    three supported cipher variants (RC4-128/R3, RC4-40/R2, and
    AES-128/AESV2), must extract byte-identically to its plain twin;
    the encrypted bytes must trip the encryption gate first (proving
    extraction went through real decryption, not a bypass)."""
    from extract_kit_spark.fixtures import (gen_page, pdf_encrypt,
                                            pdf_encrypt_aes)
    from extract_kit_spark.kernels.pdf_text import (extract_pdf_pages,
                                                    _is_encrypted)
    n_checked = 0
    for i in range(300):
        pl = gen_page(i)["html"]
        if not pl.startswith(b"%PDF-") or b"trailer" not in pl:
            continue
        plain = extract_pdf_pages(pl)
        for variant in (pdf_encrypt(pl),
                        pdf_encrypt(pl, v=1, r=2, length_bits=40),
                        pdf_encrypt_aes(pl)):
            assert _is_encrypted(variant)
            assert variant != pl
            assert extract_pdf_pages(variant) == plain, i
        n_checked += 1
    assert n_checked >= 5


def test_pdf_encryption_gates_still_quarantine():
    """Out-of-scope encrypted files must still fail loudly, never emit
    ciphertext: wrong user password (corrupted /U), /V 4 without a
    parseable crypt filter, and a non-Standard handler."""
    import re
    import pytest
    from extract_kit_spark.fixtures import gen_page, pdf_encrypt
    from extract_kit_spark.kernels.errors import ExtractError
    from extract_kit_spark.kernels.pdf_text import extract_pdf_pages
    pl = next(gen_page(i)["html"] for i in range(300)
              if gen_page(i)["html"].startswith(b"%PDF-")
              and b"trailer" in gen_page(i)["html"])
    enc = pdf_encrypt(pl)
    bad_u = bytearray(enc)
    j = bad_u.index(b"/U <") + 5
    bad_u[j] = ord("f") if bad_u[j] != ord("f") else ord("0")
    with pytest.raises(ExtractError):
        extract_pdf_pages(bytes(bad_u))
    aes = re.sub(rb"/V 2 /R 3", b"/V 4 /R 4", enc, count=1)
    with pytest.raises(ExtractError):
        extract_pdf_pages(aes)
    other = re.sub(rb"/Standard", b"/MyCustom", enc, count=1)
    with pytest.raises(ExtractError):
        extract_pdf_pages(other)


def test_aes_published_vectors():
    """AES-128 pinned against FIPS-197 Appendix B and the SP 800-38A
    F.2 CBC vectors; CBC padding errors return None (quarantine), not
    garbage plaintext."""
    from extract_kit_spark.kernels import aes
    key = bytes.fromhex("2b7e151628aed2a6abf7158809cf4f3c")
    ks = aes._expand_key(key)
    pt = bytes.fromhex("3243f6a8885a308d313198a2e0370734")
    ct = aes.encrypt_block(ks, pt)
    assert ct.hex() == "3925841d02dc09fbdc118597196a0b32"
    assert aes.decrypt_block(ks, ct) == pt
    iv = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
    p1 = bytes.fromhex("6bc1bee22e409f96e93d7e117393172a")
    c = aes.cbc_encrypt(key, iv, p1)
    assert c[:16].hex() == "7649abac8119b246cee98e9b12e9197d"
    assert aes.cbc_decrypt(key, iv, c) == p1
    assert aes.cbc_decrypt(key, iv, b"\x00" * 16) is None  # bad pad
    assert aes.cbc_decrypt(key, iv, b"\x00" * 15) is None  # bad len


def test_aes_twin_is_valid_pdf_and_v5_quarantines():
    """The AESV2 fixture twin is a structurally VALID PDF — every
    rebuilt xref offset points at its object, startxref at the xref —
    (unlike RC4, AES changes offsets, so this pins the rebuild); a
    /V 5 (AES-256) doctor of the same file still quarantines."""
    import re

    import pytest

    from extract_kit_spark.fixtures import gen_page, pdf_encrypt_aes
    from extract_kit_spark.kernels.errors import ExtractError
    from extract_kit_spark.kernels.pdf_text import extract_pdf_pages
    pl = next(gen_page(i)["html"] for i in range(300)
              if gen_page(i)["html"].startswith(b"%PDF-")
              and b"trailer" in gen_page(i)["html"])
    enc = pdf_encrypt_aes(pl)
    xm = re.search(rb"\nxref\n0 (\d+)\n", enc)
    size = int(xm.group(1))
    table = enc[xm.end():xm.end() + 20 * size]
    for num in range(1, size):
        off = int(table[20 * num:20 * num + 10])
        assert re.match(rb"%d\s+0\s+obj" % num, enc[off:off + 20])
    sx = int(re.search(rb"startxref\n(\d+)\n", enc).group(1))
    assert enc[sx:sx + 4] == b"xref"
    assert re.search(rb"/Size %d\b" % size, enc)
    v5 = re.sub(rb"/V 4 /R 4", b"/V 5 /R 6", enc, count=1)
    with pytest.raises(ExtractError):
        extract_pdf_pages(v5)


def test_aesv2_without_toplevel_length_decrypts():
    """ADVICE r4: /V 4 /CFM /AESV2 with the top-level /Length omitted
    (key length only implied by the crypt filter) must still derive a
    16-byte key — AESV2 IS AES-128 by definition — and extract
    byte-identically, not trip the key-expansion assert."""
    import re

    from extract_kit_spark.fixtures import gen_page, pdf_encrypt_aes
    from extract_kit_spark.kernels.pdf_text import extract_pdf_pages
    pl = next(gen_page(i)["html"] for i in range(300)
              if gen_page(i)["html"].startswith(b"%PDF-")
              and b"trailer" in gen_page(i)["html"])
    plain = extract_pdf_pages(pl)
    enc = pdf_encrypt_aes(pl)
    no_len = re.sub(rb"/Length 128 ", b"", enc, count=1)
    assert no_len != enc
    # the inner crypt-filter /Length 16 must survive the doctoring
    assert b"/CFM /AESV2 /AuthEvent /DocOpen /Length 16" in no_len
    assert extract_pdf_pages(no_len) == plain


# -- JPEG codec (r5) ----------------------------------------------------------

def _jpeg_seg(marker, body):
    import struct
    return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) \
        + body


def _hand_jpeg(entropy, dc_syms, ac_syms, dc_counts, ac_counts):
    """Assemble a single-component 8x8 baseline JPEG BY HAND from the
    T.81 grammar — independent of encode_jpeg, so the decoder is
    pinned against the spec, not against its own encoder."""
    import struct
    out = b"\xff\xd8"
    out += _jpeg_seg(0xDB, bytes([0]) + bytes([16] * 64))  # q all-16
    out += _jpeg_seg(0xC0, struct.pack(">BHHB", 8, 8, 8, 1)
                     + bytes([1, 0x11, 0]))
    out += _jpeg_seg(0xC4, bytes([0x00]) + bytes(dc_counts)
                     + bytes(dc_syms))
    out += _jpeg_seg(0xC4, bytes([0x10]) + bytes(ac_counts)
                     + bytes(ac_syms))
    out += _jpeg_seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    return out + entropy + b"\xff\xd9"


def test_jpeg_hand_assembled_dc_only_flat_block():
    """DC-only block, fully analytic: quant=16 everywhere, DC huffman
    code '0'->category 5, magnitude bits 10000 (diff=+16), AC code
    '0'->EOB. Dequantized DC = 256; IDCT of a DC-only block is flat
    256/8 + 128 = 160 exactly, on all 64 pixels. The bit stream
    0,10000,0 padded with 1 is the single byte 0x41 — checked by
    hand from T.81 F.1/F.2."""
    from extract_kit_spark.kernels import jpeg
    counts1 = [1] + [0] * 15
    payload = _hand_jpeg(bytes([0x41]), dc_syms=[5], ac_syms=[0x00],
                         dc_counts=counts1, ac_counts=counts1)
    img = jpeg.decode_jpeg(payload)
    assert (img["width"], img["height"], img["channels"]) == (8, 8, 1)
    assert img["pixels"] == bytes([160] * 64)


def test_jpeg_hand_assembled_single_ac_vs_independent_idct():
    """One AC coefficient, hand-encoded: DC cat 0, then AC symbol
    0x23 (run 2, size 3) with bits 101 (+5) at zigzag index 3
    (natural index 16 = (v=2,u=0)), then EOB. Expected pixels come
    from an INDEPENDENT numpy matrix IDCT (A^T S A), agreeing with
    the decoder's sequential float IDCT within 1 count."""
    import numpy as np
    from extract_kit_spark.kernels import jpeg
    # two-symbol tables at length 2 (codes 00, 01)
    counts2 = [0, 2] + [0] * 14
    # bits: DC '00' (cat 0, no magnitude) + AC '01' (0x23) + '101'
    # + EOB '00' -> 00 01 101 00 + pad 1...: 0001 1010 0111 1111
    entropy = bytes([0b00011010, 0b01111111])
    payload = _hand_jpeg(entropy, dc_syms=[0, 5], ac_syms=[0x00, 0x23],
                         dc_counts=counts2, ac_counts=counts2)
    img = jpeg.decode_jpeg(payload)
    S = np.zeros((8, 8))
    S[2, 0] = 5 * 16  # natural index 16, dequantized
    A = np.zeros((8, 8))
    for u in range(8):
        cu = (1 / np.sqrt(2)) if u == 0 else 1.0
        for x in range(8):
            A[u, x] = 0.5 * cu * np.cos((2 * x + 1) * u * np.pi / 16)
    want = np.clip(np.floor(A.T @ S @ A + 128.5), 0, 255)
    got = np.frombuffer(img["pixels"], dtype=np.uint8).reshape(8, 8)
    assert np.abs(got.astype(int) - want.astype(int)).max() <= 1
    # the AC pattern must actually vary down the columns
    assert len(set(img["pixels"])) > 1


def test_jpeg_roundtrip_bounds_and_determinism():
    """encode->decode bounds: flat blocks exact, smooth content within
    quantization tolerance, identical output across repeated decodes
    and across subsampling of flat chroma."""
    import hashlib
    import random
    from extract_kit_spark.kernels import jpeg
    # flat gray mid-level: exact
    img = jpeg.decode_jpeg(jpeg.encode_jpeg(8, 8, bytes([128] * 64),
                                            1, 90))
    assert img["pixels"] == bytes([128] * 64)
    # flat color: within 1 count through YCbCr roundtrip, both paths
    px = bytes([200, 30, 60] * 256)
    for sub in (False, True):
        d = jpeg.decode_jpeg(jpeg.encode_jpeg(16, 16, px, 3, 92,
                                              subsample=sub))
        assert max(abs(a - b) for a, b in zip(px, d["pixels"])) <= 1
    # noise at odd dims: deterministic, bounded, restart-invariant
    rng = random.Random(7)
    w, h = 13, 11
    px = bytes(rng.randrange(256) for _ in range(w * h * 3))
    enc = jpeg.encode_jpeg(w, h, px, 3, 85)
    d1, d2 = jpeg.decode_jpeg(enc), jpeg.decode_jpeg(enc)
    assert d1["pixels"] == d2["pixels"]
    assert (d1["width"], d1["height"]) == (w, h)
    rst = jpeg.decode_jpeg(jpeg.encode_jpeg(w, h, px, 3, 85,
                                            restart_interval=1))
    plain = jpeg.decode_jpeg(jpeg.encode_jpeg(w, h, px, 3, 85))
    assert rst["pixels"] == plain["pixels"]


def test_jpeg_rejects_out_of_scope_typed():
    """Progressive, arithmetic, 12-bit, truncation and garbage all
    raise JpegError (typed quarantine), never other exceptions."""
    import struct
    import pytest
    from extract_kit_spark.kernels import jpeg
    enc = jpeg.encode_jpeg(16, 16, bytes([70] * 768), 3, 90)
    for doctored, msg in (
            (enc.replace(b"\xff\xc0", b"\xff\xc2", 1), "progressive"),
            (enc.replace(b"\xff\xc0", b"\xff\xc9", 1), "SOF"),
            (enc[:50], "truncated|no SOS"),
            (b"\xff\xd8\xff\xd9", "no SOS"),
            (b"not a jpeg", "magic"),
    ):
        with pytest.raises(jpeg.JpegError, match=msg):
            jpeg.decode_jpeg(doctored)
    # 12-bit precision: patch SOF0 precision byte
    i = enc.index(b"\xff\xc0")
    bad = enc[:i + 4] + bytes([12]) + enc[i + 5:]
    with pytest.raises(jpeg.JpegError, match="precision"):
        jpeg.decode_jpeg(bad)


def test_image_decode_bomb_guards():
    """Hostile headers must quarantine BEFORE allocation: a JPEG SOF
    declaring 65535x65535, a PNG IHDR declaring giant dims, and a PNG
    zip-bomb IDAT (tiny compressed, huge inflated) all raise typed
    errors with O(declared-small-image) memory."""
    import struct
    import zlib
    import pytest
    from extract_kit_spark.kernels import jpeg, png

    enc = jpeg.encode_jpeg(8, 8, bytes([50] * 64), 1, 90)
    i = enc.index(b"\xff\xc0")
    huge = enc[:i + 5] + struct.pack(">HH", 65535, 65535) + enc[i + 9:]
    with pytest.raises(jpeg.JpegError, match="too large"):
        jpeg.decode_jpeg(huge)

    good = png.encode_png(4, 4, bytes(range(48)), 2)
    j = good.index(b"IHDR") + 4
    bomb_hdr = bytearray(good)
    bomb_hdr[j:j + 8] = struct.pack(">II", 60000, 60000)
    # fix the IHDR crc so the guard (not the crc check) is what fires
    body = bytes(bomb_hdr[j:j + 13])
    bomb_hdr[j + 13:j + 17] = struct.pack(
        ">I", zlib.crc32(b"IHDR" + body) & 0xFFFFFFFF)
    with pytest.raises(png.PngError, match="too large"):
        png.decode_png(bytes(bomb_hdr))

    # zip bomb: IDAT inflates to ~64 MB against a 4x4 declared raster
    bomb_idat = zlib.compress(b"\x00" * (64 << 20), 9)  # ~64 KB
    out = good[:8]
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0)
    out += png._chunk(b"IHDR", ihdr)
    out += png._chunk(b"IDAT", bomb_idat)
    out += png._chunk(b"IEND", b"")
    with pytest.raises(png.PngError, match="size mismatch"):
        png.decode_png(out)


def test_image_decoders_fuzz_only_typed_errors():
    """Arbitrary bytes behind the right magic must either decode or
    raise the codec's typed error — never IndexError/struct.error/
    KeyError/MemoryError. This is the E5 guarantee the mapInPandas
    stage relies on to map failures to quarantine rows."""
    import random
    from extract_kit_spark.kernels import jpeg, png
    rng = random.Random(99)
    enc = jpeg.encode_jpeg(10, 6, bytes([70] * 180), 3, 85)
    png_enc = png.encode_png(5, 4, bytes(range(60)), 2)
    for trial in range(400):
        # mix of pure noise and bit-flipped real files (doctored files
        # reach much deeper into the parsers than noise does)
        if trial % 2:
            base = bytearray(enc if trial % 4 == 1 else png_enc)
            for _ in range(rng.randint(1, 6)):
                base[rng.randrange(len(base))] = rng.randrange(256)
            payload = bytes(base)
        else:
            payload = bytes(rng.randrange(256)
                            for _ in range(rng.randint(0, 120)))
        try:
            jpeg.decode_jpeg(b"\xff\xd8" + payload)
        except jpeg.JpegError:
            pass
        try:
            png.decode_png(b"\x89PNG\r\n\x1a\n" + payload)
        except png.PngError:
            pass


def test_gif_decode_published_worked_example():
    """Pin the GIF-variant LZW (LSB-first packing, width growth at
    table==2**size, Clear/EOI) against the published 10x10 worked
    example from the 'What's In A GIF' spec walkthrough — external
    authority for the code-width growth rule, since no PIL exists in
    this container to cross-check."""
    from extract_kit_spark.kernels import gif

    data = bytes.fromhex("8C2D99872A1CDC33A00275EC95FAA8DE608C04914C0100")
    out = gif._lzw_decode(2, data, 100)
    rows = [out[r * 10:(r + 1) * 10] for r in range(10)]
    # red/blue quadrants with the white 4x4 square in the middle
    assert rows[0] == bytes([1] * 5 + [2] * 5)
    assert rows[3] == bytes([1] * 3 + [0] * 4 + [2] * 3)
    assert rows[6] == bytes([2] * 3 + [0] * 4 + [1] * 3)
    assert rows[9] == bytes([2] * 5 + [1] * 5)


def test_gif_roundtrip_paths():
    """Encoder→decoder roundtrips across palette sizes, interlacing,
    12-bit table growth + mid-stream Clear reset, GCE transparency
    reporting, and 87a/89a versions."""
    import random
    from extract_kit_spark.kernels import gif

    pal = [(i, (i * 7) % 256, (i * 13) % 256) for i in range(256)]
    rng = random.Random(7)
    for w, h, npal, inter in [(4, 3, 4, False), (13, 9, 16, True),
                              (64, 64, 256, False), (1, 1, 2, False),
                              (31, 17, 7, True)]:
        idx = bytes(rng.randrange(npal) for _ in range(w * h))
        payload = gif.encode_gif(w, h, idx, pal[:npal], interlace=inter)
        d = gif.decode_gif(payload)
        assert (d["width"], d["height"], d["channels"]) == (w, h, 3)
        assert d["pixels"] == b"".join(bytes(pal[i]) for i in idx)
    # high-entropy 300x200 forces growth to 12 bits AND the
    # full-table Clear reset inside one image
    idx = bytes(rng.randrange(256) for _ in range(300 * 200))
    d = gif.decode_gif(gif.encode_gif(300, 200, idx, pal))
    assert d["pixels"] == b"".join(bytes(pal[i]) for i in idx)
    # GCE transparency index is reported (not applied); 87a accepted
    p = gif.encode_gif(2, 2, b"\x00\x01\x01\x00", pal[:2], transparent=1)
    assert gif.decode_gif(p)["transparent_index"] == 1
    p87 = gif.encode_gif(2, 2, b"\x00\x01\x01\x00", pal[:2],
                         version=b"87a")
    assert gif.decode_gif(p87)["version"] == "87a"


def test_gif_typed_errors_and_bomb_guard():
    """Structural damage → GifError only; hostile dims quarantine
    before allocation (same MAX_PIXELS rule as png/jpeg)."""
    import random
    import struct
    import pytest
    from extract_kit_spark.kernels import gif

    pal = [(9, 9, 9), (200, 4, 4)]
    good = gif.encode_gif(6, 5, bytes([0, 1] * 15), pal)
    with pytest.raises(gif.GifError, match="signature"):
        gif.decode_gif(b"GIF90a" + good[6:])
    with pytest.raises(gif.GifError, match="truncated|trailer|sub-block"):
        gif.decode_gif(good[:len(good) // 2])
    # image descriptor doctored to 40000x40000: guard fires pre-LZW
    i = good.index(b"\x2c")
    bomb = (good[:i + 5] + struct.pack("<HH", 40000, 40000)
            + good[i + 9:])
    with pytest.raises(gif.GifError, match="too large"):
        gif.decode_gif(bomb)
    # palette index beyond the color table: a 2-entry GCT with an
    # LZW stream that names index 3 (min code size 2 permits 0-3)
    overflow = (b"GIF89a" + struct.pack("<HHBBB", 2, 1, 0x80, 0, 0)
                + bytes(6)  # 2-entry global color table
                + struct.pack("<BHHHHB", 0x2C, 0, 0, 2, 1, 0)
                + b"\x02")
    lzw = gif._lzw_encode(2, b"\x00\x03")
    overflow += bytes([len(lzw)]) + lzw + b"\x00\x3b"
    with pytest.raises(gif.GifError, match="palette index"):
        gif.decode_gif(overflow)
    with pytest.raises(gif.GifError, match="short raster|truncated|LZW"):
        trunc = bytearray(good)
        # zero out the LZW payload → EOI never reached
        j = good.index(b"\x2c") + 10
        k = trunc[j]  # first sub-block length
        trunc[j + 1:j + 1 + k] = bytes(k)
        gif.decode_gif(bytes(trunc))
    # fuzz: noise and bit-flipped real files raise GifError only
    rng = random.Random(31)
    for trial in range(400):
        if trial % 2:
            base = bytearray(good)
            for _ in range(rng.randint(1, 6)):
                base[rng.randrange(len(base))] = rng.randrange(256)
            payload = bytes(base)
        else:
            payload = b"GIF89a" + bytes(
                rng.randrange(256) for _ in range(rng.randint(0, 120)))
        try:
            gif.decode_gif(payload)
        except gif.GifError:
            pass


def test_wav_roundtrip_and_stdlib_crosscheck():
    """encode_wav→decode_wav roundtrip, cross-checked against the
    STDLIB wave module (independent reader) for plain PCM; the
    EXTENSIBLE + float paths (which stdlib wave cannot read) are
    pinned by our own decode."""
    import io
    import struct
    import wave as stdlib_wave
    from extract_kit_spark.kernels import wav

    frames = struct.pack("<" + "h" * 480,
                         *[(i * 37) % 32768 - 16384 for i in range(480)])
    p = wav.encode_wav(16000, 2, 16, frames)
    d = wav.decode_wav(p)
    assert (d["sample_rate"], d["channels"], d["bit_depth"],
            d["n_samples"], d["duration_ms"]) == (16000, 2, 16, 240, 15)
    assert d["samples"] == frames
    r = stdlib_wave.open(io.BytesIO(p))
    assert (r.getframerate(), r.getnchannels(), r.getsampwidth(),
            r.getnframes()) == (16000, 2, 2, 240)
    assert r.readframes(240) == frames
    # odd-length data chunk is pad-byte aligned per RIFF
    p8 = wav.encode_wav(8000, 1, 8, bytes(range(101)))
    assert len(p8) % 2 == 0
    assert wav.decode_wav(p8)["n_samples"] == 101
    # WAVE_FORMAT_EXTENSIBLE resolves via SubFormat; float tag kept
    pf = wav.encode_wav(44100, 1, 32, struct.pack("<25f", *range(25)),
                        float_fmt=True, extensible=True)
    df = wav.decode_wav(pf)
    assert (df["fmt_tag"], df["n_samples"]) == ("float", 25)
    pe = wav.decode_wav(wav.encode_wav(22050, 2, 16, frames,
                                       extensible=True))
    assert (pe["fmt_tag"], pe["sample_rate"]) == ("pcm", 22050)


_NAN = float("nan")
# per encoding: channel-0 samples and the channel-0 ints _pcm_ints must
# give for them, worked out by hand (8-bit: unsigned - 128; 16-bit: as
# is; 24/32-bit: floor of value / 2**(bits - 16); float: clamp to
# [-1, 1], times 32767, truncated toward zero, NaN -> 0)
_WAV_CH0 = {
    ("pcm", 8): ([0, 128, 255, 1, 200], [-128, 0, 127, -127, 72]),
    ("pcm", 16): ([0, 1, -1, 32767, -32768, 12345],
                  [0, 1, -1, 32767, -32768, 12345]),
    ("pcm", 24): ([0, 1, -1, 8388607, -8388608, 0x123456, -0x123456],
                  [0, 0, -1, 32767, -32768, 0x1234, -0x1235]),
    ("pcm", 32): ([0, 1, -1, 2**31 - 1, -2**31, 0x12345678, -0x12345678],
                  [0, 0, -1, 32767, -32768, 0x1234, -0x1235]),
    ("float", 32): ([0.0, 0.5, -0.5, 1.0, -1.0, 1.5, -3.0, _NAN, 0.25],
                    [0, 16383, -16383, 32767, -32767, 32767, -32767, 0,
                     8191]),
    ("float", 64): ([0.0, 0.5, -0.5, 1.0, -1.0, 1.5, -3.0, _NAN, 0.25],
                    [0, 16383, -16383, 32767, -32767, 32767, -32767, 0,
                     8191]),
}


@pytest.mark.parametrize("channels", [1, 2], ids=["mono", "stereo"])
@pytest.mark.parametrize("extensible", [False, True],
                         ids=["plain", "extensible"])
@pytest.mark.parametrize("fmt_tag,bits", list(_WAV_CH0),
                         ids=[f"{t}{b}" for t, b in _WAV_CH0])
def test_wav_codec_round_trip(fmt_tag, bits, extensible, channels):
    """Every variant decode_wav accepts: encode_wav -> decode_wav ->
    ops.multimodal._pcm_ints gives the channel-0 ints worked out
    above; channel 1 carries other values, so an interleave slip
    shows."""
    import struct
    from extract_kit_spark.kernels import wav
    from extract_kit_spark.ops.multimodal import _pcm_ints

    ch0, want = _WAV_CH0[(fmt_tag, bits)]
    width = bits // 8

    def sample(v):
        if fmt_tag == "float":
            return struct.pack("<d" if bits == 64 else "<f", v)
        if bits == 8:
            return bytes([v])
        return v.to_bytes(width, "little", signed=True)

    def other(v):  # the channel-1 partner of a channel-0 sample
        if fmt_tag == "float":
            return -v / 2
        return 255 - v if bits == 8 else -1 - v

    frames = b"".join(
        sample(v) + (sample(other(v)) if channels == 2 else b"")
        for v in ch0)
    snd = wav.decode_wav(wav.encode_wav(
        8000, channels, bits, frames, float_fmt=fmt_tag == "float",
        extensible=extensible))
    assert (snd["fmt_tag"], snd["bit_depth"], snd["channels"],
            snd["n_samples"]) == (fmt_tag, bits, channels, len(ch0))
    assert snd["samples"] == frames
    assert _pcm_ints(snd) == want


def test_wav_typed_errors():
    """Structural damage / unsupported codecs → WavError only."""
    import random
    import struct
    import pytest
    from extract_kit_spark.kernels import wav

    good = wav.encode_wav(8000, 1, 16, bytes(64))
    with pytest.raises(wav.WavError, match="signature"):
        wav.decode_wav(b"OggS" + good[4:])
    with pytest.raises(wav.WavError, match="truncated"):
        wav.decode_wav(good[:30])
    # ADPCM (tag 2) is a typed unsupported, not a crash
    i = good.index(b"fmt ") + 8
    adpcm = good[:i] + struct.pack("<H", 2) + good[i + 2:]
    with pytest.raises(wav.WavError, match="unsupported format tag"):
        wav.decode_wav(adpcm)
    # misaligned data chunk
    bad = bytearray(good)
    j = good.index(b"data")
    bad[j + 4:j + 8] = struct.pack("<I", 63)
    with pytest.raises(wav.WavError, match="frame-aligned|truncated"):
        wav.decode_wav(bytes(bad[:-1]))
    rng = random.Random(17)
    for trial in range(300):
        if trial % 2:
            base = bytearray(good)
            for _ in range(rng.randint(1, 6)):
                base[rng.randrange(len(base))] = rng.randrange(256)
            payload = bytes(base)
        else:
            payload = b"RIFF" + bytes(
                rng.randrange(256) for _ in range(rng.randint(0, 80)))
        try:
            wav.decode_wav(payload)
        except wav.WavError:
            pass


def test_mp4_probe_roundtrip_and_typed_errors():
    """ISO-BMFF container probe: brands / mvhd duration / per-track
    tkhd 16.16 geometry + hdlr codec handler / mdat size roundtrip
    through the writer twin; largesize and runs-to-end boxes parse;
    damage raises Mp4Error only (walk budget caps hostile chains)."""
    import random
    import struct
    import pytest
    from extract_kit_spark.kernels import mp4

    p = mp4.encode_mp4(125000, 600, [("vide", 1920, 1080),
                                     ("soun", 0, 0)],
                       mdat=bytes(500), brand="mp42")
    d = mp4.probe_mp4(p)
    assert (d["duration_ms"], d["timescale"]) == (125000, 600)
    assert d["tracks"] == [
        {"width": 1920, "height": 1080, "handler": "vide"},
        {"width": 0, "height": 0, "handler": "soun"}]
    assert d["mdat_bytes"] == 500
    assert d["major_brand"] == "mp42"
    assert d["compatible_brands"] == ["isom", "mp42"]
    # 64-bit largesize mdat: rewrite the trailing mdat box
    i = p.rindex(b"mdat") - 4
    big = (p[:i] + struct.pack(">I", 1) + b"mdat"
           + struct.pack(">Q", 16 + 500) + bytes(500))
    assert mp4.probe_mp4(big)["mdat_bytes"] == 500
    # size==0 runs-to-end
    zero = p[:i] + struct.pack(">I", 0) + b"mdat" + bytes(500)
    assert mp4.probe_mp4(zero)["mdat_bytes"] == 500
    # a moov-level tkhd after the traks: would overwrite the last
    # track's geometry
    m = p.index(b"moov") - 4
    moov_len, = struct.unpack(">I", p[m:m + 4])
    stray_tkhd = mp4._box(b"tkhd", bytes(76) + struct.pack(">II", 7 << 16,
                                                            7 << 16))
    stray = (p[:m] + mp4._box(b"moov", p[m + 8:m + moov_len] + stray_tkhd)
             + p[m + moov_len:])
    # typed failures: no ftyp, truncation, missing moov, box-size lies,
    # tkhd outside a trak
    for bad in (b"", b"\x00\x00\x00\x08free", p[:40],
                p[:8] + b"\x00\x00\x00\x30moov", stray):
        with pytest.raises(mp4.Mp4Error):
            mp4.probe_mp4(bad)
    rng = random.Random(5)
    for trial in range(400):
        if trial % 2:
            b = bytearray(p)
            for _ in range(rng.randint(1, 6)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            x = bytes(b)
        else:
            x = p[:8] + bytes(rng.randrange(256)
                              for _ in range(rng.randint(0, 120)))
        try:
            mp4.probe_mp4(x)
        except mp4.Mp4Error:
            pass


def test_codec_hostile_paths_stay_typed():
    """Review-found crash paths stay typed: an LZW min-code-size of
    9-11 (would blow up the base-table build with a raw ValueError),
    a deeply-nested MP4 container chain (would hit Python's recursion
    limit before the box budget), and the EXTENSIBLE writer's
    SubFormat GUID (must be the spec KSDATAFORMAT value, not just
    something our own lenient reader accepts)."""
    import struct
    import pytest
    from extract_kit_spark.kernels import gif, mp4, wav

    # GIF: valid header, hostile min code size 9
    bad = (b"GIF89a" + struct.pack("<HHBBB", 2, 1, 0x80, 0, 0)
           + bytes(6)
           + struct.pack("<BHHHHB", 0x2C, 0, 0, 2, 1, 0)
           + b"\x09" + b"\x01\x00" + b"\x00\x3b")
    with pytest.raises(gif.GifError, match="min code size"):
        gif.decode_gif(bad)
    # encoder precondition: >256-entry palettes rejected up front
    with pytest.raises(AssertionError, match="256"):
        gif.encode_gif(1, 1, b"\x00", [(0, 0, 0)] * 300)

    # MP4: 2000 nested moov headers — typed depth error, not
    # RecursionError
    p = mp4.encode_mp4(1000, 600, [("vide", 16, 16)])
    nest = b""
    for _ in range(2000):
        nest = struct.pack(">I", 8 + len(nest)) + b"moov" + nest
    with pytest.raises(mp4.Mp4Error, match="nesting"):
        mp4.probe_mp4(p[:p.index(b"moov") - 4] + nest)

    # WAV: the emitted EXTENSIBLE SubFormat GUID is the spec
    # KSDATAFORMAT_SUBTYPE_PCM value byte-for-byte
    pe = wav.encode_wav(8000, 1, 16, bytes(4), extensible=True)
    i = pe.index(b"fmt ") + 8
    guid = pe[i + 24:i + 40]
    assert guid == (struct.pack("<IHH", 1, 0, 0x0010)
                    + bytes.fromhex("800000AA00389B71"))


def test_jpeg_gray_noninterleaved_and_truncated_sof():
    """T.81 A.2: a single-component scan is non-interleaved, so gray
    files that declare 2x2/2x1 luma sampling decode byte-identically
    to their 1x1 twins (common in the wild); and an SOF whose length
    lies about its component specs raises a typed error, not a bare
    ValueError escaping the mapInPandas stage."""
    import struct
    import pytest
    from extract_kit_spark.kernels import jpeg

    for (w, h), samp in [((8, 8), 0x22), ((13, 9), 0x21),
                         ((16, 4), 0x12)]:
        px = bytes((40 + i * 3) % 200 for i in range(w * h))
        enc = jpeg.encode_jpeg(w, h, px, channels=1, quality=88)
        ref = jpeg.decode_jpeg(enc)
        i = enc.index(b"\xff\xc0")
        patched = bytearray(enc)
        assert patched[i + 11] == 0x11
        patched[i + 11] = samp
        got = jpeg.decode_jpeg(bytes(patched))
        assert got["pixels"] == ref["pixels"]
        assert (got["width"], got["height"]) == (w, h)
    trunc = (b"\xff\xd8\xff\xc0" + struct.pack(">H", 2 + 6)
             + struct.pack(">BHHB", 8, 16, 16, 3))
    with pytest.raises(jpeg.JpegError, match="truncated SOF"):
        jpeg.decode_jpeg(trunc)


def test_media_header_overflow_bounds():
    """Hostile header VALUES (not just sizes) stay typed: a
    0xFFFFFFFF mvhd timescale, a near-2^64 v1 duration, a truncated
    v1 mvhd, and a >int32 WAV sample rate must raise the codec's
    typed error — otherwise they overflow the ops layer's
    int32/int64 column casts and kill the task."""
    import struct
    import pytest
    from extract_kit_spark.kernels import mp4, wav

    good = mp4.encode_mp4(1000, 600, [("vide", 16, 16)])
    i = good.index(b"mvhd") + 4
    hot_ts = bytearray(good)
    hot_ts[i + 12:i + 16] = struct.pack(">I", 0xFFFFFFFF)
    with pytest.raises(mp4.Mp4Error, match="timescale"):
        mp4.probe_mp4(bytes(hot_ts))
    # v1 mvhd: duration near 2^64 -> implausible; truncated v1 body
    # (28-31 bytes) -> typed size error, never a fabricated duration
    v1body = bytes([1]) + bytes(19) + struct.pack(">IQ", 600,
                                                  (1 << 63))
    j = good.index(b"moov") - 4
    with pytest.raises(mp4.Mp4Error, match="implausible duration"):
        mp4.probe_mp4(good[:j]
                      + struct.pack(">I", 16 + len(v1body)) + b"moov"
                      + struct.pack(">I", 8 + len(v1body)) + b"mvhd"
                      + v1body)
    with pytest.raises(mp4.Mp4Error, match="version/size"):
        mp4.probe_mp4(good[:j]
                      + struct.pack(">I", 8 + 8 + 28) + b"moov"
                      + struct.pack(">I", 8 + 28) + b"mvhd"
                      + bytes([1]) + bytes(27))
    # writer preconditions match the parser's field widths
    with pytest.raises(AssertionError, match="4 ASCII"):
        mp4.encode_mp4(1000, 600, [("sou", 1, 1)])
    with pytest.raises(AssertionError, match="4 ASCII"):
        mp4.encode_mp4(1000, 600, [("vide", 1, 1)], brand="mp4")

    w = wav.encode_wav(8000, 1, 16, bytes(4))
    k = w.index(b"fmt ") + 8
    hot_rate = bytearray(w)
    hot_rate[k + 4:k + 8] = struct.pack("<I", 0xFFFFFFFE)
    with pytest.raises(wav.WavError, match="implausible sample rate"):
        wav.decode_wav(bytes(hot_rate))
