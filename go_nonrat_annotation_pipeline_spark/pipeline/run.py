"""Pipeline orchestration (SURVEY.md §3.2): per-species processing in
reference order, counters, before/after count reconciliation.

Reference behavior: GoNonratAnnotationPipeline.run():91-136 —
stale cutoff = run start − 10 min; snapshot "before" counts; process
each species (chinchilla LAST — its rat-ISO output shares the ISO ref
with every other species, so the rat-ISO stale delete may only run
after every producer has run); per-species stale delete; final rat-ISO
stale delete against the run-start count; counter report.

The per-species loop and threshold-guarded deletes are driver-side
control flow (counts are cheap actions); everything else is one
Catalyst-compiled DAG per species.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import CHINCHILLA, RAT, PipelineConfig
from .consolidate import consolidate_with_info, merge_duplicates
from .gaf import filter_sources, read_gaf, source_line_counts
from .qc import Dims, derive_annotations
from .sink import AnnotStore, UpsertStats


@dataclass
class SpeciesJob:
    """One per-species sub-pipeline (§3.3)."""

    species_type_key: int
    ref_rgd_id: int  # 0 → direct annotations suppressed (chinchilla)
    sources: tuple[str, ...] | None  # None → no source filter
    gaf_paths: list[str] | None  # None → chinchilla DB read-back (S7)


@dataclass
class SpeciesReport:
    species_type_key: int
    counters: dict[str, int] = field(default_factory=dict)
    upsert: UpsertStats | None = None
    stale_deleted: int = 0


@dataclass
class RunReport:
    species: list[SpeciesReport] = field(default_factory=list)
    counts_before: dict[str, int] = field(default_factory=dict)
    counts_after: dict[str, int] = field(default_factory=dict)
    iso_stale_deleted: int = 0


def chinchilla_readback(
    store: AnnotStore, dims: Dims, cfg: PipelineConfig
) -> DataFrame:
    """S7 + P16: re-project manual chinchilla GO annotations from the
    FULL_ANNOT table into 17-column GAF layout
    (DAO.getManualGoAnnotsForChinchilla + MAHParser.processForChinchilla).

    Caching note: this is a read-after-write dependency on the mutable
    table inside one run; the store snapshot-swaps on every merge, so
    this read observes every earlier species' writes — same sequencing
    as the reference (chinchilla runs last).
    """
    active_chin = dims.rgd_ids.where(
        (F.col("object_status") == "ACTIVE")
        & (F.col("species_type_key") == CHINCHILLA)
    ).select("rgd_id")
    annots = (
        store.read()
        .where(~F.col("created_by").isin(67, 192))
        .where(F.col("term_acc").startswith("GO:"))
        .join(
            F.broadcast(active_chin),
            F.col("annotated_object_rgd_id") == F.col("rgd_id"),
            "left_semi",
        )
    )
    taxon = (
        dims.species.where(F.col("species_type_key") == CHINCHILLA)
        .select("taxonomic_id")
        .collect()[0][0]
    )
    return annots.select(
        F.lit("RGD").alias("db"),  # rec.dbName — routes to the J3 identity branch
        F.col("annotated_object_rgd_id").cast("string").alias("db_object_id"),
        F.col("object_symbol").alias("db_object_symbol"),
        F.col("qualifier"),
        F.col("term_acc").alias("go_id"),
        F.concat(
            F.lit("RGD:"),
            F.col("ref_rgd_id"),
            F.when(
                F.col("xref_source").isNotNull(),
                F.concat(F.lit("|"), F.col("xref_source")),
            ).otherwise(F.lit("")),
        ).alias("db_reference"),
        F.col("evidence").alias("evidence_code"),
        F.col("with_info").alias("with_from"),
        F.col("aspect"),
        F.col("object_name").alias("db_object_name"),
        F.lit(None).cast("string").alias("db_object_synonym"),
        F.lit("gene").alias("db_object_type"),
        F.lit(f"taxon:{taxon}").alias("taxon"),
        F.date_format("created_date", "yyyyMMdd").alias("date"),
        F.lit("RGD").alias("assigned_by"),
        F.col("annotation_extension"),
        F.col("gene_product_form_id"),
    )


def process_species(
    spark: SparkSession,
    job: SpeciesJob,
    dims: Dims,
    cfg: PipelineConfig,
    store: AnnotStore,
    run_ts: datetime,
    cutoff_ts: datetime,
    audit_dir: str | None = None,
) -> SpeciesReport:
    """One per-species sub-pipeline: parse → QC → consolidate → merge →
    upsert → stale delete (GoNonratAnnotationPipeline.downloadAndProcessFiles).

    audit_dir: when set, every QC side output is persisted as
    ``<audit_dir>/<side_name>/species_type_key=<k>/`` parquet — the
    queryable replacement for the reference's 13 categorized log4j
    appenders (S9, log4j2.xml:9-91)."""
    rep = SpeciesReport(species_type_key=job.species_type_key)

    count0 = store.count_for_ref(dims.rgd_ids, job.ref_rgd_id, job.species_type_key)

    if job.gaf_paths is None:
        gaf = chinchilla_readback(store, dims, cfg)
    else:
        gaf = read_gaf(spark, job.gaf_paths)
        for row in source_line_counts(gaf).collect():
            rep.counters[f"lines[{row['db']}]"] = row["line_count"]
        if job.sources:
            gaf = filter_sources(gaf, job.sources)

    qc = derive_annotations(
        spark, gaf, dims, cfg, job.species_type_key, job.ref_rgd_id
    )
    try:
        for name, df in qc.side_outputs.items():
            if audit_dir is not None:
                out = os.path.join(
                    audit_dir, name, f"species_type_key={job.species_type_key}"
                )
                df.write.mode("overwrite").parquet(out)
                rep.counters[name] = spark.read.parquet(out).count()
            else:
                rep.counters[name] = df.count()
        for name, frame in qc.counter_frames.items():
            for row in frame.collect():
                rep.counters[f"{name}[{row[0]}]"] = row[-1]

        consolidated = merge_duplicates(consolidate_with_info(qc.annots))
        incoming = consolidated.drop("source_db")

        rep.upsert = store.merge_upsert(incoming, run_ts)
    finally:
        # the read-back's persisted GAF holds the pre-merge store: drop it
        # so no later plan over the same store path is served from it
        qc.release()
    rep.stale_deleted = store.delete_stale(
        dims.rgd_ids,
        cfg.created_by,
        cutoff_ts,
        job.ref_rgd_id,
        count0,
        cfg.stale_annot_delete_threshold,
        job.species_type_key,
    )
    return rep


def run_pipeline(
    spark: SparkSession,
    cfg: PipelineConfig,
    dims: Dims,
    store: AnnotStore,
    jobs: list[SpeciesJob],
    run_ts: datetime | None = None,
    audit_dir: str | None = None,
) -> RunReport:
    """Full pipeline run over the given species jobs, chinchilla-style
    read-back job included by appending a job with gaf_paths=None.
    run_ts is injectable for deterministic tests; audit_dir persists
    every QC side output as parquet audit tables (S9)."""
    run_ts = run_ts or datetime.now()
    cutoff_ts = run_ts - timedelta(minutes=cfg.stale_cutoff_minutes)

    report = RunReport()
    iso_count0 = store.count_for_ref(dims.rgd_ids, cfg.iso_ref_rgd_id, 0)
    report.counts_before["iso"] = iso_count0
    for job in jobs:
        report.counts_before[f"ref{job.ref_rgd_id}|sp{job.species_type_key}"] = (
            store.count_for_ref(dims.rgd_ids, job.ref_rgd_id, job.species_type_key)
        )

    for job in jobs:
        report.species.append(
            process_species(
                spark, job, dims, cfg, store, run_ts, cutoff_ts, audit_dir
            )
        )

    # final rat-ISO stale delete vs the RUN-START iso count
    # (GoNonratAnnotationPipeline.deleteObsoleteIsoAnnotationsForRat)
    report.iso_stale_deleted = store.delete_stale(
        dims.rgd_ids,
        cfg.created_by,
        cutoff_ts,
        cfg.iso_ref_rgd_id,
        iso_count0,
        cfg.stale_annot_delete_threshold,
        RAT,
    )

    report.counts_after["iso"] = store.count_for_ref(
        dims.rgd_ids, cfg.iso_ref_rgd_id, 0
    )
    for job in jobs:
        report.counts_after[f"ref{job.ref_rgd_id}|sp{job.species_type_key}"] = (
            store.count_for_ref(dims.rgd_ids, job.ref_rgd_id, job.species_type_key)
        )
    return report
