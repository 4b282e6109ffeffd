"""Consolidation layer: WITH_INFO merge (A3) and duplicate-annotation
merge (A4/A5) — SURVEY.md §2.4.

Reference behavior: WithInfoConsolidator.java:23-143 (8-field key,
token-set union, ≤1700-char fragment re-split) and MAHDL.java:30-134
(6-field key, XREF_SOURCE set-union with ≤4000-char overflow chunking,
NOTES = note-tokens − xref-tokens plus PMID-bearing raw xrefs appended
for deconsolidation, NOTES==XREF clear).

Spark-first: each merge is ONE hash-aggregate shuffle on its key;
token-set algebra is array functions; the length-bounded re-split is
the shared fragment packer (functions/packer.py) + explode.

Single-path rule: each merge reads its input once and emits through one
explode over the grouped rows — a case that needs no re-split is a
``when`` branch of the exploded array, never a second branch unioned
back in (a union copies the whole input plan into each branch).

Documented deviation (SURVEY.md §2.4/A4): the reference's emission
order — and therefore its chunk boundaries and which member's
non-key fields survive — depends on HashMap iteration order and is
nondeterministic. This engine sorts token sets and takes the least
struct payload per group, making output deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.packer import pack_fragments
from ..schemas import (
    DUP_MERGE_KEY,
    WITH_INFO_MAX_LEN,
    WITHINFO_GROUP_KEY,
    XREF_SOURCE_MAX_LEN,
)

_SPLIT_RE = "[|,]"  # the reference splits multi-valued strings on | and ,


def _key_cols(key: list[str]) -> list:
    """Null-safe grouping columns (Utils.defaultString semantics)."""
    return [F.coalesce(F.col(c).cast("string"), F.lit("")).alias(f"_k_{c}") for c in key]


def _payload(cols: list[str]):
    """Deterministic group representative: least struct over all columns."""
    return F.min(F.struct(*cols)).alias("_rep")


def consolidate_with_info(annots: DataFrame) -> DataFrame:
    """A3: merge annotations equal on the 8-field key but differing in
    WITH_INFO; re-split merged WITH_INFO into ≤1700-char fragments.

    Empty-WITH rows get an ``EMPTY`` key marker so they never merge
    with non-empty rows (WithInfoConsolidator.computeAnnotKey); a
    singleton group whose WITH_INFO is already within the limit passes
    through byte-identical (original token order preserved —
    WithInfoConsolidator.mergeWithInfo's early return).
    """
    cols = annots.columns
    empty_marker = F.when(
        F.coalesce(F.trim("with_info"), F.lit("")) == "", F.lit("EMPTY")
    ).otherwise(F.lit(""))

    grouped = (
        annots.groupBy(*_key_cols(WITHINFO_GROUP_KEY), empty_marker.alias("_k_empty"))
        .agg(
            F.count("*").alias("_n"),
            F.array_sort(
                F.array_distinct(
                    F.flatten(
                        F.collect_list(
                            F.split(F.coalesce("with_info", F.lit("")), _SPLIT_RE)
                        )
                    )
                )
            ).alias("_tokens"),
            _payload(cols),
        )
    )

    passthrough = (F.col("_n") == 1) & (
        F.coalesce(F.length("_rep.with_info"), F.lit(0)) <= WITH_INFO_MAX_LEN
    )
    # one explode for both cases: a passthrough group emits its own
    # WITH_INFO; a merged group emits its packed fragments (never empty
    # strings: the "" token is removed first), and an all-empty-WITH group
    # (no fragments) one null-WITH row (explode_outer)
    frags = F.when(passthrough, F.array(F.col("_rep.with_info"))).otherwise(
        pack_fragments(F.array_remove(F.col("_tokens"), ""), WITH_INFO_MAX_LEN)
    )
    return grouped.select("_rep", F.explode_outer(frags).alias("_frag")).select(
        *[
            F.col("_frag").alias(c) if c == "with_info" else F.col(f"_rep.{c}").alias(c)
            for c in cols
        ]
    )


def merge_duplicates(annots: DataFrame) -> DataFrame:
    """A4 + A5: merge annotations equal on the 6-field key.

    - XREF_SOURCE: union of ``[|,]``-split tokens, sorted-deduped,
      re-joined with ``|``; if over 4000 chars the token set is packed
      into ≤4000-char chunks, one output row per chunk (MAHDL overflow
      emission — deterministic variant).
    - NOTES: union of note tokens minus the xref token set
      (MAHDL.java:107); every member whose raw XREF_SOURCE contains
      ``PMID`` appends ``(<raw>)`` (comma-joined, two-space prefix) for
      later deconsolidation (MAHDL.java:110-117).
    - A5: NOTES cleared when equal to XREF_SOURCE (MAHDL.handleAnnot).
    """
    cols = annots.columns
    grouped = annots.groupBy(*_key_cols(DUP_MERGE_KEY)).agg(
        F.array_sort(
            F.array_distinct(
                F.flatten(
                    F.collect_list(
                        F.split(F.coalesce("xref_source", F.lit("")), _SPLIT_RE)
                    )
                )
            )
        ).alias("_xref_tokens"),
        F.array_sort(
            F.array_distinct(
                F.flatten(
                    F.collect_list(
                        F.when(
                            F.coalesce(F.trim("notes"), F.lit("")) != "",
                            F.split("notes", _SPLIT_RE),
                        ).otherwise(F.expr("cast(array() as array<string>)"))
                    )
                )
            )
        ).alias("_note_tokens"),
        F.array_sort(
            F.array_distinct(
                F.collect_list(
                    F.when(
                        F.col("xref_source").contains("PMID"),
                        F.concat(F.lit("("), "xref_source", F.lit(")")),
                    )
                )
            )
        ).alias("_pmid_notes"),
        _payload(cols),
    )

    # notes minus xref tokens; drop empty-string artifacts of the split
    clean = (
        grouped.withColumn(
            "_note_tokens",
            F.array_remove(
                F.array_except("_note_tokens", "_xref_tokens"), ""
            ),
        )
        .withColumn("_xref_tokens", F.array_remove("_xref_tokens", ""))
        .withColumn(
            "_notes_merged",
            F.concat(
                F.array_join("_note_tokens", "|"),
                F.when(
                    F.size("_pmid_notes") > 0,
                    F.concat(F.lit("  "), F.array_join("_pmid_notes", ", ")),
                ).otherwise(F.lit("")),
            ),
        )
        .withColumn(
            "_xref_chunks", pack_fragments(F.col("_xref_tokens"), XREF_SOURCE_MAX_LEN)
        )
        .withColumn(
            "_xref_chunks",
            F.when(
                F.size("_xref_chunks") == 0, F.array(F.lit(None).cast("string"))
            ).otherwise(F.col("_xref_chunks")),
        )
    )

    def _out_col(c: str):
        if c == "xref_source":
            return F.col("_xref").alias(c)
        if c == "notes":
            return (
                F.when(F.col("_notes_merged") == "", None)
                .otherwise(F.col("_notes_merged"))
                .alias(c)
            )
        return F.col(f"_rep.{c}").alias(c)

    out = clean.withColumn("_xref", F.explode("_xref_chunks")).select(
        *[_out_col(c) for c in cols]
    )
    # A5: clear NOTES equal to XREF_SOURCE (null-safe)
    return out.withColumn(
        "notes",
        F.when(F.col("notes").eqNullSafe(F.col("xref_source")), None).otherwise(
            F.col("notes")
        ),
    )
