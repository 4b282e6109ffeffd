"""End-to-end parity tests for the annotation pipeline (SURVEY.md §5).

Mirrors the reference's operational correctness model: counter
reconciliation per stage, golden expectations on the resulting
FULL_ANNOT table, the idempotence property (second run changes nothing
but LAST_MODIFIED_DATE), and the stale-delete threshold abort.
"""

from __future__ import annotations

import gc
import os
import re
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from go_nonrat_annotation_pipeline_spark.pipeline.config import (
    CHINCHILLA,
    MOUSE,
    PipelineConfig,
)
from go_nonrat_annotation_pipeline_spark.pipeline.consolidate import (
    consolidate_with_info,
    merge_duplicates,
)
from go_nonrat_annotation_pipeline_spark.pipeline.fixtures import (
    ISO_REF,
    MGI_REF,
    MOUSE_GAF_LINES,
    build_dims,
    seed_full_annot,
    write_mouse_gaf,
)
from go_nonrat_annotation_pipeline_spark.pipeline.gaf import filter_sources, read_gaf
from go_nonrat_annotation_pipeline_spark.pipeline.qc import (
    Dims,
    derive_annotations,
    validate_gene_status,
)
from go_nonrat_annotation_pipeline_spark.pipeline.run import (
    SpeciesJob,
    run_pipeline,
)
from go_nonrat_annotation_pipeline_spark.pipeline.sink import AnnotStore

RUN1_TS = datetime(2026, 6, 1, 12, 0, 0)
RUN2_TS = datetime(2026, 6, 2, 12, 0, 0)


@pytest.fixture(scope="module")
def env(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("pipe"))
    cfg = PipelineConfig()
    dims = build_dims(spark)
    gaf_path = write_mouse_gaf(os.path.join(root, "mgi.gaf"))
    store = AnnotStore(spark, os.path.join(root, "full_annot"))
    store.seed(seed_full_annot(spark, cfg))
    jobs = [
        SpeciesJob(MOUSE, MGI_REF, cfg.mouse_sources, [gaf_path]),
        SpeciesJob(CHINCHILLA, 0, None, None),  # read-back job, always last
    ]
    audit_dir = os.path.join(root, "audit")
    persisted_before = _persistent_rdds(spark)
    report1 = run_pipeline(
        spark, cfg, dims, store, jobs, run_ts=RUN1_TS, audit_dir=audit_dir
    )
    return dict(
        spark=spark, cfg=cfg, dims=dims, store=store, jobs=jobs,
        report1=report1, audit_dir=audit_dir, gaf_path=gaf_path,
        persisted_by_run=_persistent_rdds(spark) - persisted_before,
    )


def _persistent_rdds(spark) -> set[int]:
    """Ids of the RDDs the session holds persisted, local checkpoints
    left out: those cut the closures' lineage, are referenced by the
    plans that read them and are freed by Spark's ContextCleaner."""
    gc.collect()
    spark._jvm.System.gc()
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in rdds.keys() if not rdds[k].isCheckpointed()}


def test_run_releases_qc_caches(env):
    """process_species unpersists what derive_annotations persisted once
    its MERGE has run, and the closure releases its edge cache: a
    two-species run leaves no cached DataFrame behind."""
    assert env["persisted_by_run"] == set()


def test_counters(env):
    rep = env["report1"].species[0]
    assert rep.counters["lines[MGI]"] == 8
    assert rep.counters["lines[UniProtKB]"] == 3
    assert rep.counters["lines[RNAcentral]"] == 1
    assert rep.counters["high_level_go_term"] == 1
    assert rep.counters["catalytic_activity_ipi"] == 1
    # counted once per loadIntoFULL_ANNOT call: the unknown-term line
    # reaches it on both the direct and the ISO branch
    assert rep.counters["no_go_term"] == 2
    assert rep.counters["wrong_species"] == 1
    assert rep.counters["unmatched"] == 0
    assert rep.counters["inactive"] == 1      # retired 102 → resolved to 103
    assert rep.counters["no_rat_gene"] == 1   # 104's only ortholog is retired
    assert rep.counters["wrong_evidence[IEA]"] == 1
    assert rep.counters["self_referencing"] == 0


def test_audit_side_outputs_persisted(env):
    """S9: every QC side output lands as a queryable parquet audit table
    partitioned by species (replaces the reference's 13 log appenders)."""
    spark = env["spark"]
    inactive = spark.read.parquet(
        os.path.join(env["audit_dir"], "inactive", "species_type_key=2")
    )
    assert inactive.count() == 1
    assert inactive.collect()[0].db_object_id == "MGI:RETIRED1"
    wrong = spark.read.parquet(
        os.path.join(env["audit_dir"], "wrong_species", "species_type_key=2")
    )
    assert [r.gene_rgd_id for r in wrong.collect()] == [301]


def test_upsert_classification(env):
    up = env["report1"].species[0].upsert
    # inserts: merged IDA annot on 101, alt-id annot on 104, IGI merged
    # annot on 101, ISO on 201 (IDA), ISO on 202 (IMP), ISO on 201 (IGI)
    assert up.inserted == 6
    assert up.updated == 1   # seeded 9002: notes + original_created_date
    assert up.touched == 1   # seeded 9001: byte-identical incoming
    assert env["report1"].species[0].stale_deleted == 1  # seeded 9003
    # chinchilla read-back derives exactly one new rat ISO annot
    chin = env["report1"].species[1].upsert
    assert chin.inserted == 1
    assert env["report1"].iso_stale_deleted == 0


def test_merged_annotation_contents(env):
    fa = env["store"].read()
    merged = fa.where(
        (F.col("term_acc") == "GO:0000001")
        & (F.col("annotated_object_rgd_id") == 101)
        & (F.col("evidence") == "IDA")
    ).collect()
    assert len(merged) == 1
    row = merged[0]
    # A4: sorted-dedup xref token union; PMID-bearing raw xrefs in notes
    assert row.xref_source == "MGI:222|PMID:111|PMID:444"
    assert row.notes == "  (PMID:111|MGI:222), (PMID:444)"
    assert row.term == "apoptotic process"
    assert row.data_src == "MGI"
    assert row.original_created_date.isoformat() == "2024-04-08"


def test_withinfo_consolidation(env):
    fa = env["store"].read()
    igi = fa.where(
        (F.col("evidence") == "IGI") & (F.col("annotated_object_rgd_id") == 101)
    ).collect()
    assert len(igi) == 1
    assert igi[0].with_info == "MGI:W1|MGI:W2|MGI:W3"

    iso_igi = fa.where(
        (F.col("evidence") == "ISO")
        & (F.col("term_acc") == "GO:0000002")
        & (F.col("annotated_object_rgd_id") == 201)
    ).collect()
    assert len(iso_igi) == 1
    assert iso_igi[0].with_info == "RGD:101"
    assert iso_igi[0].ref_rgd_id == ISO_REF
    assert iso_igi[0].notes == "MGI:W1|MGI:W2|MGI:W3  (PMID:600)"


def test_iso_derivation(env):
    fa = env["store"].read()
    iso = fa.where(F.col("evidence") == "ISO")
    assert iso.count() == 4
    # history-resolved gene 103 → rat ortholog 202
    via_history = iso.where(F.col("annotated_object_rgd_id") == 202).collect()
    assert len(via_history) == 1
    assert via_history[0].with_info == "RGD:103"
    # chinchilla read-back ISO on 201
    chin = iso.where(F.col("with_info") == "RGD:401").collect()
    assert len(chin) == 1
    assert chin[0].annotated_object_rgd_id == 201
    assert chin[0].xref_source == "RGD:7777"
    assert chin[0].notes == "RGD:61958"
    assert chin[0].data_src == "RGD"
    assert chin[0].object_symbol == "Pax6r"


def test_update_and_touch_paths(env):
    fa = env["store"].read()
    updated = fa.where(F.col("full_annot_key") == 9002).collect()[0]
    assert updated.notes == "  (PMID:555)"
    assert updated.original_created_date.isoformat() == "2024-04-08"
    assert updated.last_modified_date == RUN1_TS
    assert updated.created_date == datetime(2023, 1, 1)  # preserved

    touched = fa.where(F.col("full_annot_key") == 9001).collect()[0]
    assert touched.notes == "  (PMID:333)"
    assert touched.last_modified_date == RUN1_TS
    # stale row gone
    assert fa.where(F.col("full_annot_key") == 9003).count() == 0


def test_idempotence(env):
    """Second run: no inserts/updates/deletes; only LAST_MODIFIED moves
    (the reference's operational invariant, SURVEY.md §5)."""
    before = {
        r.full_annot_key: r
        for r in env["store"].read().collect()
    }
    report2 = run_pipeline(
        env["spark"], env["cfg"], env["dims"], env["store"], env["jobs"],
        run_ts=RUN2_TS,
    )
    for rep in report2.species:
        assert rep.upsert.inserted == 0
        assert rep.upsert.updated == 0
        assert rep.stale_deleted == 0
    assert report2.iso_stale_deleted == 0

    after = {r.full_annot_key: r for r in env["store"].read().collect()}
    assert set(after) == set(before)
    for k, row in after.items():
        b = before[k]
        for f in row.asDict():
            if f == "last_modified_date":
                continue
            assert row[f] == b[f], f"{k}.{f}: {row[f]!r} != {b[f]!r}"
        if b.created_by == env["cfg"].created_by and b.last_modified_date >= RUN1_TS:
            assert row.last_modified_date == RUN2_TS


def test_merge_plan_no_single_partition_exchange(spark, tmp_path):
    """A7 at 100 TB: the merge rewrite must stay partition-parallel —
    no single-partition exchange (the old global row_number surrogate-key
    window funneled every inserted row through one task)."""
    from go_nonrat_annotation_pipeline_spark.pipeline.fixtures import _annot_row
    from go_nonrat_annotation_pipeline_spark import schemas as S

    cfg = PipelineConfig()
    old = datetime(2023, 1, 1)
    rows = [
        _annot_row(
            full_annot_key=100 + i,
            term="binding",
            annotated_object_rgd_id=101,
            ref_rgd_id=MGI_REF,
            evidence="IEA",
            term_acc="GO:0000002",
            created_by=cfg.created_by,
            last_modified_by=cfg.created_by,
            xref_source=f"X:{i}",
            created_date=old,
            last_modified_date=old,
        )
        for i in range(10)
    ]
    df = spark.createDataFrame(
        [tuple(r[f.name] for f in S.FULL_ANNOT_SCHEMA.fields) for r in rows],
        S.FULL_ANNOT_SCHEMA,
    )
    store = AnnotStore(spark, str(tmp_path / "fa"))
    store.seed(df)
    incoming = df.drop("full_annot_key", "created_date", "last_modified_date")
    _, _, new_table = store.plan_merge(incoming, RUN1_TS)
    p = spark._jvm.PythonSQLUtils.explainString(
        new_table._jdf.queryExecution(), "formatted"
    )
    assert "SinglePartition" not in p
    assert "row_number" not in p.lower()


def test_threshold_abort(spark, tmp_path):
    """A8: deletes abort when the net drop exceeds the threshold
    (DAO.deleteAnnotations; changes.txt:93-95)."""
    from go_nonrat_annotation_pipeline_spark.pipeline.fixtures import _annot_row
    from go_nonrat_annotation_pipeline_spark import schemas as S

    cfg = PipelineConfig()
    dims = build_dims(spark)
    old = datetime(2023, 1, 1)
    rows = [
        _annot_row(
            full_annot_key=100 + i,
            term="binding",
            annotated_object_rgd_id=101,
            ref_rgd_id=MGI_REF,
            evidence="IEA",
            term_acc="GO:0000002",
            created_by=cfg.created_by,
            last_modified_by=cfg.created_by,
            xref_source=f"X:{i}",
            created_date=old,
            last_modified_date=old,
        )
        for i in range(10)
    ]
    df = spark.createDataFrame(
        [tuple(r[f.name] for f in S.FULL_ANNOT_SCHEMA.fields) for r in rows],
        S.FULL_ANNOT_SCHEMA,
    )
    store = AnnotStore(spark, str(tmp_path / "fa"))
    store.seed(df)
    cutoff = datetime(2026, 6, 1)

    # all 10 stale → net drop 10 > 10% of 10 → abort
    deleted = store.delete_stale(
        dims.rgd_ids, cfg.created_by, cutoff, MGI_REF, 10, "10%", MOUSE
    )
    assert deleted == 0
    assert store.read().count() == 10

    # bump 9 rows' last_modified past the cutoff → 1 candidate, within
    # threshold (initial 10 − (10−1) = 1 ≤ 1) → deleted
    bumped = store.read().withColumn(
        "last_modified_date",
        F.when(
            F.col("full_annot_key") > 100, F.lit(datetime(2026, 6, 2))
        ).otherwise(F.col("last_modified_date")),
    )
    store.seed(bumped)
    deleted = store.delete_stale(
        dims.rgd_ids, cfg.created_by, cutoff, MGI_REF, 10, "10%", MOUSE
    )
    assert deleted == 1
    assert store.read().count() == 9


def _operator_count(df, name: str) -> int:
    """Distinct physical operators called ``name`` in df's plan. The
    formatted explain lists each operator once in its detail section
    ("(id) Name"), however often a cached subtree is printed in the tree."""
    plan = df.sparkSession._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    return len(re.findall(rf"^\(\d+\) {name}\b", plan, re.M))


def test_merge_plan_derives_each_gaf_line_once(spark, env, tmp_path):
    """The MERGE's plan scans the GAF once: the QC fan-out points are
    persisted, and neither gene-status validation nor WITH_INFO
    consolidation unions a branch back in."""
    cfg = env["cfg"]
    store = AnnotStore(spark, str(tmp_path / "fa"))
    store.seed(seed_full_annot(spark, cfg))
    gaf = filter_sources(read_gaf(spark, [env["gaf_path"]]), cfg.mouse_sources)
    qc = derive_annotations(spark, gaf, env["dims"], cfg, MOUSE, MGI_REF)
    try:
        incoming = merge_duplicates(consolidate_with_info(qc.annots)).drop("source_db")
        _, _, new_table = store.plan_merge(incoming, RUN1_TS)
        assert _operator_count(new_table, "Scan csv") == 1
    finally:
        qc.release()
    plain = spark.createDataFrame([], qc.annots.schema)
    assert _operator_count(consolidate_with_info(plain), "Union") == 0


def _status_dims(spark) -> Dims:
    """Genes 1 and 3 ACTIVE, 2/4/5/6/7/8 RETIRED; history 2→3, 4→5
    (retired end), 7→1, 8→2→3 (two hops); 6 has no history."""
    base = build_dims(spark)
    status = {1: "ACTIVE", 3: "ACTIVE"}
    ids = range(1, 9)
    return Dims(**{
        **vars(base),
        "genes": spark.createDataFrame(
            [(i, f"G{i}", f"gene {i}", "protein-coding", 2) for i in ids],
            base.genes.schema,
        ),
        "rgd_ids": spark.createDataFrame(
            [(i, 1, status.get(i, "RETIRED"), 2) for i in ids],
            base.rgd_ids.schema,
        ),
        "rgd_id_history": spark.createDataFrame(
            [(2, 3), (4, 5), (7, 1), (8, 2)], base.rgd_id_history.schema
        ),
    })


def test_validate_gene_status_cases(spark):
    matched = spark.createDataFrame(
        [
            (1, 1, "G1", "gene 1", 2),  # active
            (2, 2, "OLD2", "old 2", 2),  # retired → active 3
            (3, 4, "G4", "gene 4", 2),  # retired → retired 5: dropped
            (4, 6, "G6", "gene 6", 2),  # retired, no history: dropped
            (5, 1, "G1", "gene 1", 2),  # active 1 ...
            (5, 7, "G7", "gene 7", 2),  # ... and retired 7 → 1: one row
            (6, 8, "G8", "gene 8", 2),  # retired → 2 → active 3
        ],
        "_row_id long, gene_rgd_id int, gene_symbol string, gene_name string, "
        "gene_species_key int",
    )
    valid, inactive = validate_gene_status(matched, _status_dims(spark))
    assert valid.columns == matched.columns
    assert sorted(tuple(r) for r in valid.collect()) == [
        (1, 1, "G1", "gene 1", 2),
        (2, 3, "G3", "gene 3", 2),
        (5, 1, "G1", "gene 1", 2),
        (6, 3, "G3", "gene 3", 2),
    ]
    assert sorted((r._row_id, r.gene_rgd_id) for r in inactive.collect()) == [
        (2, 2), (3, 4), (4, 6), (5, 7), (6, 8),
    ]


def test_row_id_stable_across_input_files(spark, env, tmp_path):
    """With the GAF split over several files (several partitions, so
    _row_id is not 0..n-1), every input row lands either in the valid
    set or in exactly one dropping side output — a row revived through
    its history is both valid and in the inactive audit."""
    cfg = env["cfg"]
    lines = MOUSE_GAF_LINES[1:]
    paths = []
    for i in range(3):
        path = str(tmp_path / f"part{i}.gaf")
        with open(path, "w") as fh:
            fh.write("\n".join(lines[i::3]) + "\n")
        paths.append(path)
    gaf = filter_sources(read_gaf(spark, paths), cfg.mouse_sources)
    qc = derive_annotations(spark, gaf, env["dims"], cfg, MOUSE, MGI_REF)
    try:
        inputs, valid = qc.persisted
        assert inputs.rdd.getNumPartitions() > 1
        ids = [r._row_id for r in inputs.select("_row_id").collect()]
        assert len(ids) == len(set(ids)) == 11
        valid_ids = {r._row_id for r in valid.select("_row_id").collect()}
        drops = {
            name: [r._row_id for r in qc.side_outputs[name].select("_row_id").collect()]
            for name in (
                "high_level_go_term", "catalytic_activity_ipi", "unmatched",
                "inactive", "wrong_species",
            )
        }
        for i in ids:
            hits = [n for n, rows in drops.items() for r in rows if r == i]
            if i in valid_ids:
                assert hits in ([], ["inactive"]), (i, hits)
            else:
                assert len(hits) == 1, (i, hits)
    finally:
        qc.release()
