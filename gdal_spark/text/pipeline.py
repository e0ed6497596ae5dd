"""One-call web-text curation: the standard hygiene chain as a single
composed Spark plan.

``curate(df)`` = Gopher quality filter → C4 blocklist screen → PII scrub
→ CCNet corpus-level line dedup → drop emptied docs → exact dedup (min-id
representative). Every stage is the standalone operator its own gate
verifies (quality_filter_verdicts, blocklist_filter_flags,
pii_redact_counts, dedup_lines_ccnet, dedup_exact); the
``corpus_curation_pipeline`` gate proves the composition hash-matches an
independent DuckDB derivation end-to-end.

Scale shape: the map-only stages (filter, blocklist, PII) fuse into the
scan; the only shuffles in the whole chain are line dedup's two slim
exchanges and the final text-hash group. A 100 TB corpus never
materializes between stages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from gdal_spark.text import analysis, dedup


def curate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    blocklist: list[str] | None = None,
    redact_pii: bool = True,
    line_keep: str = "first",
) -> DataFrame:
    """Returns the curated corpus: ``(id_col, text, n_lines, n_kept)``
    with one representative (min id) per distinct surviving text.
    Stages toggle independently (``blocklist=None`` skips the screen,
    ``redact_pii=False`` skips the scrub); the quality filter applies
    ``analysis.GOPHER_RULES`` as they stand, and line dedup splits on
    newlines."""
    out = analysis.quality_filter(
        df.select(F.col(id_col), F.col(text_col)), text_col
    ).filter("keep")
    if blocklist:
        out = analysis.blocklist_filter(out, blocklist, text_col).filter(
            ~F.col("blocked")
        )
    out = out.select(id_col, text_col)
    if redact_pii:
        out = analysis.pii_redact(out, text_col).select(
            id_col, F.col("text_redacted").alias(text_col)
        )
    ld = dedup.line_dedup(out, id_col, text_col, keep=line_keep)
    return (
        ld.filter(F.col("n_kept") > 0)
        # hash-first grouping (exact_dedup's discipline, dedup.py:33):
        # the 8-byte xxhash64 leads the shuffle key; the text column in
        # the group only disambiguates the ~0 colliding hash groups
        .groupBy(F.xxhash64(text_col).alias("__h"), text_col)
        .agg(F.min(F.struct(id_col, "n_lines", "n_kept")).alias("m"))
        .select(
            F.col(f"m.{id_col}").alias(id_col),
            F.col("m.n_lines").alias("n_lines"),
            F.col("m.n_kept").alias("n_kept"),
            text_col,
        )
    )
