"""D9-D11 — document normalization for the JSONL/RAG sink.

Reference: `_normalize_doc` (`src/writer.py:185-275`):
- document_id: carr_eqp_uid ?? job_no ?? container_number ?? doc_<n>
- content: combined_content ?? milestones ?? ""
- metadata: every other field as a nested object, minus carr_eqp_uid /
  consignee_raw / combined_content
- consignee_codes coerced to array<string> inside metadata.

Spark notes: the fallback ``doc_<n>`` uses the enumeration order within a
written group file in the reference — inherently nondeterministic. We make
it deterministic with ``row_number`` over an explicit ordering inside each
``source_group`` (one bounded window shuffle, only paid when requested).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.cleaning import nonblank
from .common import memo

_METADATA_EXCLUDED = ("carr_eqp_uid", "consignee_raw", "combined_content")


def normalize_documents(
    df: DataFrame,
    *,
    with_doc_index_fallback: bool = True,
    legacy_repr_consignee_code: bool = False,
) -> DataFrame:
    """Shape a fully derived shipment DataFrame into documents:
    ``(document_id, content, metadata struct, consignee_code, source_group)``.

    ``consignee_code`` is emitted as a typed ``array<string>`` — a
    deliberate contract change from the reference writer, which
    serializes ``str(list)`` (a Python-repr string like
    ``"['0001234567']"``, `src/writer.py:244-247`). Downstream consumers
    that still parse the old repr format can set
    ``legacy_repr_consignee_code=True`` to get that exact string form.

    The output projection (dominated by the ~100-field metadata struct)
    is a pure function of (columns, flags), so it is memoized.
    """

    def build():
        return _document_projection(
            df.columns, with_doc_index_fallback, legacy_repr_consignee_code
        )

    key = (
        "docs",
        tuple(df.columns),
        with_doc_index_fallback,
        legacy_repr_consignee_code,
    )
    return df.select(*memo(df.sparkSession, key, build))


def _document_projection(
    columns: list, with_doc_index_fallback: bool, legacy_repr_consignee_code: bool
) -> list:
    cols = set(columns)

    def opt(name: str):
        return nonblank(F.col(f"`{name}`")) if name in cols else F.lit(None).cast("string")

    id_chain = [opt(name) for name in ("carr_eqp_uid", "job_no", "container_number")]
    if with_doc_index_fallback:
        order_cols = [F.col(c) for c in ("container_number", "job_no") if c in cols]
        if not order_cols:
            order_cols = [F.lit(1)]
        part = (
            [F.col("source_group")] if "source_group" in cols else [F.lit(1)]
        )
        rn = F.row_number().over(Window.partitionBy(*part).orderBy(*order_cols))
        id_chain.append(F.concat(F.lit("doc_"), rn.cast("string")))

    content = F.coalesce(
        opt("combined_content"),
        opt("milestones"),
        F.lit(""),
    )

    codes = (
        F.col("consignee_codes")
        if "consignee_codes" in cols
        else F.array().cast("array<string>")
    )
    out_codes = codes
    if legacy_repr_consignee_code:
        # Python str(list) parity: ['a', 'b'] with single quotes; the
        # metadata field keeps the typed array either way
        joined = F.concat(F.lit("['"), F.array_join(codes, "', '"), F.lit("']"))
        out_codes = F.when(F.size(codes) == 0, F.lit("[]")).otherwise(joined)

    metadata_fields = [
        F.col(f"`{c}`").alias(c)
        for c in columns
        if c not in _METADATA_EXCLUDED and c != "consignee_codes"
    ]
    metadata = F.struct(*metadata_fields, codes.alias("consignee_codes"))

    return [
        F.coalesce(*id_chain).alias("document_id"),
        content.alias("content"),
        metadata.alias("metadata"),
        out_codes.alias("consignee_code"),
        *(
            [F.col("source_group").alias("source_group")]
            if "source_group" in cols
            else []
        ),
    ]


def validate_documents(df: DataFrame) -> DataFrame:
    """Writer-side validation (`src/writer.py:277-295`) as a filter:
    documents must carry a non-null id; returns the valid subset."""
    return df.filter(F.col("document_id").isNotNull())
