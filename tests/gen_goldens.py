"""Regenerate the committed golden fixtures (tests/golden/goldens.json).

Run ONLY when an intentional serializer/kernel change redefines the
golden bytes: ``python tests/gen_goldens.py``. The goldens pin, for the
first N fixture urls: sha256 of extracted_text, title, status, span
count — plus the FULL text for a small per-kind subset so diffs are
readable. They are the byte-identical-per-url invariant of
BASELINE.json made testable (north_star: reference golden outputs
recast as deterministic expected-text files).
"""

import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

from extract_kit_spark.fixtures import gen_page  # noqa: E402
from extract_kit_spark.kernels.extract import (extract_document,
                                                span_digest)  # noqa: E402

N = 150
FULL_TEXT_PER_KIND = 2

here = os.path.dirname(os.path.abspath(__file__))
out_path = os.path.join(here, "golden", "goldens.json")
os.makedirs(os.path.dirname(out_path), exist_ok=True)

goldens = {}
full_counts: dict[str, int] = {}
for i in range(N):
    row = gen_page(i)
    res = extract_document(row["url"], row["html"])
    entry = {
        "i": i,
        "kind": row["_kind"],
        "title": res["title"],
        "status": res["status"],
        "n_spans": len(res["spans"]),
        "text_sha256": hashlib.sha256(
            res["extracted_text"].encode("utf-8")).hexdigest(),
        "text_len": len(res["extracted_text"]),
    }
    if full_counts.get(row["_kind"], 0) < FULL_TEXT_PER_KIND:
        entry["full_text"] = res["extracted_text"]
        entry["spans"] = res["spans"]
        full_counts[row["_kind"]] = full_counts.get(row["_kind"], 0) + 1
    # structured-field goldens (FIXTURES.md §2 expected_fields_json)
    if row["_kind"] in ("invoice_page", "receipt_page", "table_page"):
        entry["fields_json"] = json.dumps(res["fields"], sort_keys=True)
    goldens[row["url"]] = entry

with open(out_path, "w") as f:
    json.dump(goldens, f, indent=1, sort_keys=True)
print(f"wrote {len(goldens)} goldens to {out_path}")

# -- flagship oracle registry: ALL fixture pages, exactly the flagship
# query's columns (queries._flagship_rows) + text_sha256, computed by
# this single-process non-Spark loop. DuckDB reads this file as the
# ext_flagship / ext_status_counts oracle, giving the driver a hard
# byte-identity signal on the full extraction pipeline.
from extract_kit_spark.queries import N_PAGES  # noqa: E402

flagship = []
for i in range(N_PAGES):
    row = gen_page(i)
    res = extract_document(row["url"], row["html"])
    flagship.append({
        "url": row["url"],
        "doc_kind": res["doc_kind"],
        "status": res["status"],
        "title": res["title"],
        "text_len": len(res["extracted_text"]),
        "n_spans": len(res["spans"]),
        "ok": res["validation"]["success"],
        "text_sha256": hashlib.sha256(
            res["extracted_text"].encode("utf-8")).hexdigest(),
        # full span-structure signal (r4): digest of start:end:kind in
        # emission order + coverage sum — kernels.extract.span_digest
        "spans_sha256": span_digest(res["spans"]),
        "span_cover": sum(s["end"] - s["start"] for s in res["spans"]),
    })
flagship_path = os.path.join(here, "golden", "flagship_1200.json")
with open(flagship_path, "w") as f:
    json.dump(flagship, f, indent=1, sort_keys=True)
print(f"wrote {len(flagship)} flagship goldens to {flagship_path}")
