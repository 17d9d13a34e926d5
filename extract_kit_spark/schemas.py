"""StructType contracts — the reference's Zod schemas re-expressed.

Zod schema vocabulary → Spark types per SURVEY.md §1.2. The registry
mirrors the schema-selection precedence chain (Q1,
`pdf-processor/src/core/vision/schema-selector.ts:20-58`) and the
JSON-Schema→Zod factory (Q2, `core/schemas/factory.ts:13-76`) becomes a
JSON-Schema→StructType converter. The output row shape mirrors
AIVisionResult{data, metadata, validation}
(`core/vision/processor.ts:29-47`).
"""

from __future__ import annotations

from pyspark.sql import types as T

# -- field sub-schemas (profiles) -------------------------------------------

LINE_ITEM = T.StructType([
    T.StructField("description", T.StringType()),
    T.StructField("quantity", T.DoubleType()),
    T.StructField("unit_price", T.DoubleType()),
    T.StructField("line_total", T.DoubleType()),
])

# ComprehensiveInvoiceSchema subset (`core/schemas/invoice.ts:57-108`)
INVOICE_FIELDS = T.StructType([
    T.StructField("invoice_number", T.StringType()),
    T.StructField("invoice_date", T.StringType()),
    T.StructField("seller", T.StringType()),
    T.StructField("buyer", T.StringType()),
    T.StructField("currency", T.StringType()),
    T.StructField("total_amount", T.DoubleType()),
    T.StructField("line_items", T.ArrayType(LINE_ITEM)),
    T.StructField("fields_found", T.IntegerType()),
    T.StructField("confidence_score", T.DoubleType()),
])

RECEIPT_ITEM = T.StructType([
    T.StructField("name", T.StringType()),
    T.StructField("quantity", T.DoubleType()),
    T.StructField("price", T.DoubleType()),
    T.StructField("total", T.DoubleType()),
])

# BasicReceiptSchema (`core/schemas/invoice.ts:111-123`)
RECEIPT_FIELDS = T.StructType([
    T.StructField("merchant_name", T.StringType()),
    T.StructField("date", T.StringType()),
    T.StructField("payment_method", T.StringType()),
    T.StructField("currency", T.StringType()),
    T.StructField("total_amount", T.DoubleType()),
    T.StructField("items", T.ArrayType(RECEIPT_ITEM)),
])

DETECTED_TABLE = T.StructType([
    T.StructField("headers", T.ArrayType(T.StringType())),
    # union-typed cells canonicalized to strings (SURVEY.md §1.2)
    T.StructField("rows", T.ArrayType(T.ArrayType(T.StringType()))),
    T.StructField("n_rows", T.IntegerType()),
    T.StructField("n_cols", T.IntegerType()),
])

# TablesOnlySchema (`core/schemas/tables.ts:7-25`)
TABLES_FIELDS = T.StructType([
    T.StructField("detected_tables", T.ArrayType(DETECTED_TABLE)),
    T.StructField("table_count", T.IntegerType()),
])

FIELDS_STRUCT = T.StructType([
    T.StructField("invoice", INVOICE_FIELDS),
    T.StructField("receipt", RECEIPT_FIELDS),
    T.StructField("tables", TABLES_FIELDS),
])

SPAN = T.StructType([
    T.StructField("start", T.LongType(), nullable=False),
    T.StructField("end", T.LongType(), nullable=False),
    T.StructField("kind", T.StringType(), nullable=False),
])

VALIDATION_STRUCT = T.StructType([
    T.StructField("success", T.BooleanType(), nullable=False),
    T.StructField("errors", T.ArrayType(T.StringType()), nullable=False),
])

METADATA_STRUCT = T.StructType([
    T.StructField("page_count", T.IntegerType()),
    T.StructField("processing_time_ms", T.LongType()),
    T.StructField("extractor", T.StringType()),
    T.StructField("extractor_version", T.StringType()),
    T.StructField("schema_used", T.StringType()),
    T.StructField("optimizations", T.ArrayType(T.StringType())),
])

# the pages table, the extraction job's input (url, warc_ts, html are
# what the extractor reads). File sources read every column as
# nullable, so the declared non-null url is not enforced on read
PAGES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), nullable=False),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("html", T.BinaryType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
])

# the extraction stage's full output row (FIXTURES.md §3)
EXTRACTION_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), nullable=False),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("doc_kind", T.StringType()),
    T.StructField("title", T.StringType()),
    T.StructField("extracted_text", T.StringType()),
    T.StructField("spans", T.ArrayType(SPAN)),
    T.StructField("fields", FIELDS_STRUCT),
    T.StructField("validation", VALIDATION_STRUCT),
    T.StructField("metadata", METADATA_STRUCT),
    T.StructField("status", T.StringType()),
    T.StructField("partition_id", T.IntegerType()),
])


# -- JSON-Schema → StructType (Q2 analogue) ----------------------------------

_SCALARS = {
    "string": T.StringType(),
    "number": T.DoubleType(),
    "integer": T.LongType(),
    "boolean": T.BooleanType(),
}


def json_schema_to_struct(schema: dict) -> T.DataType:
    """Convert a (subset of) JSON Schema to a Spark DataType, mirroring
    `core/schemas/factory.ts:13-76`: objects (:56-58), arrays (:51-54),
    ['string','null'] unions (:43-49), scalars, and a stringified-JSON
    fallback where the factory used z.any() (:36,74)."""
    typ = schema.get("type")
    if isinstance(typ, list):  # nullable union like ['string', 'null']
        non_null = [t for t in typ if t != "null"]
        if len(non_null) == 1:
            return json_schema_to_struct({**schema, "type": non_null[0]})
        return T.StringType()  # heterogeneous union → canonical string
    if typ == "object":
        props = schema.get("properties")
        if not props:
            # string-keyed record (z.record): MapType
            addl = schema.get("additionalProperties")
            if isinstance(addl, dict):
                return T.MapType(T.StringType(),
                                 json_schema_to_struct(addl))
            return T.MapType(T.StringType(), T.StringType())
        return T.StructType([
            T.StructField(name, json_schema_to_struct(sub))
            for name, sub in props.items()
        ])
    if typ == "array":
        items = schema.get("items", {})
        return T.ArrayType(json_schema_to_struct(items))
    if typ in _SCALARS:
        return _SCALARS[typ]
    return T.StringType()  # z.any() fallback → JSON-encoded string


# -- registry (Q1 + Q3 analogue) ---------------------------------------------

_DOCUMENT_TYPE_MAP = {
    # documentType → profile (factory.ts:81-101)
    "invoice": "invoice",
    "receipt": "receipt",
    "tables": "tables",
    "basic": "generic",
    "simple": "generic",
    "default": "auto",
}


def select_profile(custom_schema: T.StructType | None = None,
                   tables_only: bool = False,
                   document_type: str | None = None,
                   query: str | None = None) -> tuple[str, T.DataType]:
    """Precedence chain parity (`schema-selector.ts:20-58`):
    customSchema > tablesOnly > documentType > JSON query > default.
    Returns (profile_name, fields DataType)."""
    if custom_schema is not None:
        return "custom", custom_schema
    if tables_only:
        return "tables", TABLES_FIELDS
    if document_type:
        prof = _DOCUMENT_TYPE_MAP.get(document_type, "auto")
        return prof, FIELDS_STRUCT
    if query and query != "*":
        import json
        try:
            parsed = json.loads(query)
        except (ValueError, TypeError):
            return "auto", FIELDS_STRUCT
        return "custom", json_schema_to_struct(parsed)
    return "auto", FIELDS_STRUCT
