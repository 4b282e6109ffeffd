"""FULL_ANNOT upsert sink (SURVEY.md §2.1 S8, §2.4 A7/A8).

Reference behavior: MAHDL.handleAnnot + DAO.java:169-226 — per
annotation: no match on the 9-field null-safe natural key → INSERT;
match with changed NOTES / ANNOTATION_EXTENSION / GENE_PRODUCT_FORM_ID /
ORIGINAL_CREATED_DATE → UPDATE those four columns + LAST_MODIFIED_DATE;
match unchanged → touch LAST_MODIFIED_DATE. Stale delete
(DAO.deleteAnnotations): candidates are pipeline-created rows not
touched this run; ALL deletes abort when the net drop exceeds the
configured percentage of the current count.

Spark-first: the row-at-a-time JDBC upsert becomes one set-algebra
MERGE — a single full-outer-style classification join on the null-safe
key, rewriting the table. On a production 100 TB deployment this maps
1:1 onto Delta Lake ``MERGE INTO`` (whenMatchedUpdate ×2 /
whenNotMatchedInsert) with the table bucketed on the merge-key hash for
shuffle-free merges; this repo ships a dependency-free parquet
swap-directory implementation with identical semantics (the container
has no Delta), exposing the same counters the reference reports.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import ANNOT_MATCH_KEY, FULL_ANNOT_SCHEMA

# columns compared for the update-vs-touch decision (MAHDL.handleAnnot)
CHANGE_COLS = [
    "notes",
    "annotation_extension",
    "gene_product_form_id",
    "original_created_date",
]


@dataclass
class UpsertStats:
    inserted: int
    updated: int
    touched: int


class AnnotStore:
    """Mutable FULL_ANNOT table backed by a parquet directory."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def init_empty(self) -> None:
        empty = self.spark.createDataFrame([], FULL_ANNOT_SCHEMA)
        self._swap_in(empty)

    def seed(self, df: DataFrame) -> None:
        self._swap_in(df.select(*[f.name for f in FULL_ANNOT_SCHEMA.fields]))

    def read(self) -> DataFrame:
        return self.spark.read.schema(FULL_ANNOT_SCHEMA).parquet(self.path)

    # -- A7 ---------------------------------------------------------------
    def plan_merge(self, incoming: DataFrame, run_ts):
        """Build the MERGE plan: (classification join, counter columns,
        merged table). Pure plan construction — no actions; merge_upsert
        executes it, tests/test_pipeline.py audits its physical plan."""
        existing = self.read()
        key_cond = [
            existing[c].eqNullSafe(incoming[c]) for c in ANNOT_MATCH_KEY
        ]
        joined = existing.alias("e").join(
            incoming.alias("i"), key_cond, "full_outer"
        )

        e_key = F.col("e.full_annot_key")
        # evidence is NOT NULL in incoming rows → reliable presence probe
        matched = e_key.isNotNull() & F.col("i.evidence").isNotNull()
        changed = F.lit(False)
        for c in CHANGE_COLS:
            changed = changed | ~F.col(f"e.{c}").eqNullSafe(F.col(f"i.{c}"))

        counter_cols = [
            F.sum(F.when(e_key.isNull(), 1).otherwise(0)).alias("inserted"),
            F.sum(F.when(matched & changed, 1).otherwise(0)).alias("updated"),
            F.sum(F.when(matched & ~changed, 1).otherwise(0)).alias("touched"),
        ]

        ts = F.lit(run_ts).cast("timestamp")
        max_key = (existing.agg(F.max("full_annot_key")).collect()[0][0] or 0)

        out_cols = []
        for f in FULL_ANNOT_SCHEMA.fields:
            c = f.name
            if c == "full_annot_key":
                # surrogate keys for inserts: max-key offset + a partition-
                # parallel unique id (values differ from the Oracle sequence;
                # only equality/grouping semantics matter — SURVEY.md §4).
                # A global row_number() window here would funnel every insert
                # through one task; monotonically_increasing_id keeps key
                # assignment map-side at any scale.
                col = F.when(e_key.isNotNull(), e_key).otherwise(
                    F.lit(max_key) + F.lit(1) + F.monotonically_increasing_id()
                )
            elif c == "created_date":
                col = F.when(e_key.isNotNull(), F.col("e.created_date")).otherwise(ts)
            elif c == "last_modified_date":
                # every row seen this run gets its timestamp bumped —
                # insert, update, and touch alike (matching the reference);
                # rows only in the existing table keep theirs
                col = F.when(
                    matched | e_key.isNull(), ts
                ).otherwise(F.col("e.last_modified_date"))
            elif c in CHANGE_COLS:
                col = F.when(matched & changed, F.col(f"i.{c}")).otherwise(
                    F.coalesce(F.col(f"e.{c}"), F.col(f"i.{c}"))
                )
            elif c in ("created_by", "last_modified_by"):
                col = F.coalesce(F.col(f"e.{c}"), F.col(f"i.{c}"))
            elif c in ANNOT_MATCH_KEY:
                col = F.coalesce(F.col(f"e.{c}"), F.col(f"i.{c}"))
            else:
                # non-key payload (term, symbols, names, aspect, data_src...):
                # incoming wins when present (the reference only rewrites
                # CHANGE_COLS, but these fields are key-functional in
                # practice); existing kept for untouched rows
                col = F.when(matched | e_key.isNull(), F.col(f"i.{c}")).otherwise(
                    F.col(f"e.{c}")
                )
            out_cols.append(col.alias(c))

        return joined, counter_cols, joined.select(*out_cols)

    def merge_upsert(self, incoming: DataFrame, run_ts) -> UpsertStats:
        """MERGE incoming annotations on the 9-field null-safe key (J11).

        incoming: FULL_ANNOT-shaped rows WITHOUT full_annot_key /
        created_date / last_modified_date (assigned here). run_ts is the
        run's SYSDATE equivalent — captured once so every row of a run
        carries the same timestamp (SURVEY.md §7.4).

        One pass over the persisted classification join computes all
        three counters map-side (partial sums) and the table rewrite
        reuses the same physical execution — the join runs once, not 4×.
        Delta MERGE reports these counters natively as operation metrics.
        """
        joined, counter_cols, new_table = self.plan_merge(incoming, run_ts)
        joined = joined.persist()
        ins_c, upd_c, tch_c = joined.agg(*counter_cols).collect()[0]
        self._swap_in(new_table)
        joined.unpersist()
        return UpsertStats(
            inserted=int(ins_c or 0), updated=int(upd_c or 0), touched=int(tch_c or 0)
        )

    # -- A6 / J12 ---------------------------------------------------------
    def count_for_ref(
        self, rgd_ids: DataFrame, ref_rgd_id: int, species_type_key: int = 0
    ) -> int:
        """Count annots for a ref, restricted to ACTIVE annotated objects
        (rgdcore count SQL; species_type_key=0 → all species)."""
        active = rgd_ids.where(F.col("object_status") == "ACTIVE")
        if species_type_key:
            active = active.where(F.col("species_type_key") == species_type_key)
        return (
            self.read()
            .where(F.col("ref_rgd_id") == ref_rgd_id)
            .join(
                F.broadcast(active.select("rgd_id")),
                F.col("annotated_object_rgd_id") == F.col("rgd_id"),
                "left_semi",
            )
            .count()
        )

    # -- A8 ---------------------------------------------------------------
    def delete_stale(
        self,
        rgd_ids: DataFrame,
        created_by: int,
        cutoff_ts,
        ref_rgd_id: int,
        initial_count: int,
        threshold_str: str,
        species_type_key: int = 0,
    ) -> int:
        """Threshold-guarded stale delete (DAO.deleteAnnotations).

        Candidates: created_by = pipeline AND last_modified < cutoff AND
        ref_rgd_id matches (AND annotated object is of the species, when
        given). Abort all deletes when
        ``initial_count − (current − candidates) > pct% × current``.
        Returns rows deleted (0 on abort).
        """
        pct = int(threshold_str.rstrip("%"))
        # current (count_for_ref's count) and the candidate count come from
        # one aggregate: one scan of the table, one broadcast of the ACTIVE
        # ids (rgd_id is the key of rgd_ids, so the left join keeps rows 1:1)
        active = rgd_ids.where(F.col("object_status") == "ACTIVE")
        if species_type_key:
            active = active.where(F.col("species_type_key") == species_type_key)
        table = self.read()
        scoped = table.where(F.col("ref_rgd_id") == ref_rgd_id).join(
            F.broadcast(active.select(F.col("rgd_id").alias("_active_id"))),
            F.col("annotated_object_rgd_id") == F.col("_active_id"),
            "left",
        )
        is_active = F.col("_active_id").isNotNull()
        stale = (F.col("created_by") == created_by) & (
            F.col("last_modified_date") < F.lit(cutoff_ts).cast("timestamp")
        )
        if species_type_key:
            stale = stale & is_active
        current, n_cand = scoped.agg(
            F.count(F.when(is_active, 1)), F.count(F.when(stale, 1))
        ).collect()[0]
        threshold = (pct * current) // 100
        if initial_count - (current - n_cand) > threshold:
            return 0  # abort: upstream corruption suspected (changes.txt:93-95)
        if n_cand == 0:
            return 0
        remaining = table.join(
            scoped.where(stale).select("full_annot_key"), "full_annot_key", "left_anti"
        )
        self._swap_in(remaining)
        return n_cand

    # -- 100 TB layout ----------------------------------------------------
    def save_bucketed(
        self,
        table_name: str = "full_annot_bucketed",
        n_buckets: int = 32,
        keys: tuple[str, ...] = ("term_acc", "annotated_object_rgd_id"),
    ) -> None:
        """Materialize the table bucketed + sorted on the leading merge-key
        columns. A MERGE/classification join against a table laid out this
        way needs NO exchange or sort on the table side — only the
        (much smaller) incoming batch shuffles (SURVEY.md §4: "bucket
        full_annot by the merge-key hash to enable shuffle-free MERGE").
        tests/test_bucketing.py asserts the plan shape."""
        spark = self.read().sparkSession
        spark.sql(f"DROP TABLE IF EXISTS {table_name}")
        # A crashed prior run can leave the managed location on disk with no
        # catalog entry; overwrite mode then fails with LOCATION_ALREADY_EXISTS.
        warehouse = spark.conf.get("spark.sql.warehouse.dir")
        loc = os.path.join(warehouse.removeprefix("file:"), table_name)
        if os.path.exists(loc):
            shutil.rmtree(loc)
        (
            self.read()
            .write.mode("overwrite")
            .format("parquet")
            .bucketBy(n_buckets, *keys)
            .sortBy(*keys)
            .saveAsTable(table_name)
        )

    # -- storage ----------------------------------------------------------
    def _swap_in(self, df: DataFrame) -> None:
        """Materialize df then atomically replace the table directory.
        (Delta's transactional commit, minus the transaction log.)"""
        tmp = self.path + ".tmp"
        df.write.mode("overwrite").parquet(tmp)
        if os.path.exists(self.path):
            shutil.rmtree(self.path)
        os.rename(tmp, self.path)
