"""One benchmark iteration and its correctness check.

The timed iteration (``run_s``) is one nightly run of one species
through every layer of the pipeline, through the layers' public
functions and in the order ``pipeline.run.run_pipeline`` calls them:

    count_for_ref (ISO, species)            run-start counts
    read_gaf -> source_line_counts          parse, lines[db] counters
    filter_sources -> derive_annotations    QC
    consolidate_with_info -> merge_duplicates
    AnnotStore.merge_upsert                 MERGE into FULL_ANNOT
    AnnotStore.delete_stale (species)       threshold-guarded delete
    AnnotStore.delete_stale (ISO, rat)      final rat-ISO delete
    count_for_ref (ISO, species)            run-end counts

It leaves out ``process_species``' loop that counts each QC side output
and collects each counter frame (eleven actions): on a 4-core box each
of them re-executes the QC plan for about 3 s at any input size, which
would push one run of the benchmark past its time budget. So ``run_s``
does not include ``process_species``' own actions. The traced run calls
the real ``run_pipeline`` instead and reports that loop's cost as
``run.species_self_s``; both paths are checked by the same checker and
must leave the same store.

Each run restores the same pre-run store snapshot (untimed) and uses a
fixed ``run_ts``, so every run of a seed does identical work.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from datetime import datetime, timedelta

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from go_nonrat_annotation_pipeline_spark import schemas as S
from go_nonrat_annotation_pipeline_spark.pipeline import consolidate, gaf, qc
from go_nonrat_annotation_pipeline_spark.pipeline.config import RAT, PipelineConfig
from go_nonrat_annotation_pipeline_spark.pipeline.run import RunReport, SpeciesJob
from go_nonrat_annotation_pipeline_spark.pipeline.sink import AnnotStore

RUN_TS = datetime(2026, 6, 1, 12, 0, 0)
DIGEST_EXCLUDED = ("full_annot_key", "created_date", "last_modified_date")
# Order-independent FULL_ANNOT digests after one run at the default
# seed and sizes ("rows:sum of row xxhash64"); see store_digest().
PINNED_DIGESTS = {
    ("annot_load", 1): "26143:-2305195174600870399458",
    ("annot_refresh", 1): "113863:-235533058744767772745",
}

_DIM_SCHEMAS = {
    "genes": S.GENES_SCHEMA,
    "rgd_ids": S.RGD_IDS_SCHEMA,
    "rgd_acc_xdb": S.RGD_ACC_XDB_SCHEMA,
    "ortholog_edges": S.ORTHOLOG_EDGES_SCHEMA,
    "ont_terms": S.ONT_TERMS_SCHEMA,
    "ont_synonyms": S.ONT_SYNONYMS_SCHEMA,
    "ont_dag": S.ONT_DAG_SCHEMA,
    "rgd_id_history": S.RGD_ID_HISTORY_SCHEMA,
    "species": S.SPECIES_SCHEMA,
}


@dataclass
class Inputs:
    """A generated input set opened in a Spark session."""

    root: str
    manifest: dict
    dims: qc.Dims
    store: AnnotStore

    @classmethod
    def open(cls, spark: SparkSession, root: str, manifest: dict, live_dir: str) -> "Inputs":
        dims = qc.Dims(**{
            name: spark.read.schema(schema).parquet(os.path.join(root, "dims", name))
            for name, schema in _DIM_SCHEMAS.items()
        })
        return cls(root, manifest, dims, AnnotStore(spark, live_dir))

    def restore(self) -> None:
        """Replace the live store with the pre-run snapshot."""
        for path in (self.store.path, self.store.path + ".tmp"):
            shutil.rmtree(path, ignore_errors=True)
        shutil.copytree(os.path.join(self.root, self.manifest["store"]), self.store.path)

    @property
    def gaf_path(self) -> str:
        return os.path.join(self.root, self.manifest["gaf"])

    def species_job(self) -> SpeciesJob:
        m = self.manifest
        return SpeciesJob(m["species"], m["ref_rgd_id"], tuple(m["sources"]), [self.gaf_path])


def run_iteration(spark: SparkSession, cfg: PipelineConfig, inp: Inputs) -> dict:
    """One species through the pipeline (see module docstring); returns
    the run report the checker reads."""
    m, dims, store = inp.manifest, inp.dims, inp.store
    species, ref = m["species"], m["ref_rgd_id"]
    cutoff_ts = RUN_TS - timedelta(minutes=cfg.stale_cutoff_minutes)
    pct = cfg.stale_annot_delete_threshold

    iso0 = store.count_for_ref(dims.rgd_ids, cfg.iso_ref_rgd_id, 0)
    sp0 = store.count_for_ref(dims.rgd_ids, ref, species)

    lines_df = gaf.read_gaf(spark, [inp.gaf_path])
    lines = {
        f"lines[{r['db']}]": r["line_count"]
        for r in gaf.source_line_counts(lines_df).collect()
    }
    result = qc.derive_annotations(
        spark, gaf.filter_sources(lines_df, m["sources"]), dims, cfg, species, ref
    )
    incoming = consolidate.merge_duplicates(
        consolidate.consolidate_with_info(result.annots)
    ).drop("source_db")
    upsert = store.merge_upsert(incoming, RUN_TS)
    deleted = store.delete_stale(
        dims.rgd_ids, cfg.created_by, cutoff_ts, ref, sp0, pct, species
    )
    iso_deleted = store.delete_stale(
        dims.rgd_ids, cfg.created_by, cutoff_ts, cfg.iso_ref_rgd_id, iso0, pct, RAT
    )
    return dict(
        lines=lines,
        inserted=upsert.inserted,
        updated=upsert.updated,
        touched=upsert.touched,
        deleted_species=deleted,
        deleted_iso=iso_deleted,
        before=dict(species=sp0, iso=iso0),
        after=dict(
            species=store.count_for_ref(dims.rgd_ids, ref, species),
            iso=store.count_for_ref(dims.rgd_ids, cfg.iso_ref_rgd_id, 0),
        ),
    )


def pipeline_report(run: RunReport, job: SpeciesJob) -> dict:
    """``run_pipeline``'s report for one species job in the shape
    ``run_iteration`` returns."""
    sp = run.species[0]
    key = f"ref{job.ref_rgd_id}|sp{job.species_type_key}"
    return dict(
        lines={k: v for k, v in sp.counters.items() if k.startswith("lines[")},
        inserted=sp.upsert.inserted,
        updated=sp.upsert.updated,
        touched=sp.upsert.touched,
        deleted_species=sp.stale_deleted,
        deleted_iso=run.iso_stale_deleted,
        before=dict(species=run.counts_before[key], iso=run.counts_before["iso"]),
        after=dict(species=run.counts_after[key], iso=run.counts_after["iso"]),
    )


def store_digest(store: AnnotStore) -> str:
    """Order-independent FULL_ANNOT digest: row count and the exact sum of
    per-row xxhash64 over every column but the surrogate key and the two
    run timestamps."""
    cols = [f.name for f in S.FULL_ANNOT_SCHEMA.fields if f.name not in DIGEST_EXCLUDED]
    n, total = store.read().agg(
        F.count("*"), F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))
    ).collect()[0]
    return f"{n}:{total or 0}"


def check_report(report: dict, manifest: dict, table_rows: int) -> list[str]:
    """Problems with one iteration's report, [] when it is correct.

    Reconciliation (any seed): per ref, run-end count = run-start count
    + inserts - deletes, the per-ref inserts sum to the MERGE's insert
    counter, and the table grew by inserts - deletes. Generator-known
    counts (any seed): lines[db], stale deletes or the abort, and on the
    refresh workload the exact insert / update / touch counters.
    """
    bad = []
    exp = manifest["expect"]
    if report["lines"] != manifest["lines"]:
        bad.append(f"lines {report['lines']} != generated {manifest['lines']}")
    ins = {
        k: report["after"][k] - report["before"][k] + report[f"deleted_{k}"]
        for k in ("species", "iso")
    }
    if min(ins.values()) < 0 or sum(ins.values()) != report["inserted"]:
        bad.append(f"per-ref inserts {ins} do not sum to inserted={report['inserted']}")
    deleted = report["deleted_species"] + report["deleted_iso"]
    if table_rows != manifest["store_rows"] + report["inserted"] - deleted:
        bad.append(
            f"table rows {table_rows} != {manifest['store_rows']} + "
            f"{report['inserted']} - {deleted}"
        )
    for k in ("species", "iso"):
        want = 0 if exp[f"{k}_abort"] else exp[f"stale_{k}"]
        if report[f"deleted_{k}"] != want:
            bad.append(f"deleted_{k}={report[f'deleted_{k}']} != expected {want}")
    for k in ("inserted", "updated", "touched"):
        if k in exp and report[k] != exp[k]:
            bad.append(f"{k}={report[k]} != expected {exp[k]}")
    return bad


def check_digest(digest: str, workload: str, seed: int, default_sizes: bool) -> list[str]:
    """At the default sizes and a pinned seed, the store digest must
    equal the pinned value."""
    pinned = PINNED_DIGESTS.get((workload, seed)) if default_sizes else None
    if pinned is not None and digest != pinned:
        return [f"digest {digest} != pinned {pinned}"]
    return []
