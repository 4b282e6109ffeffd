"""QC layer: gene matching, status/history validation, term validation,
annotation derivation (SURVEY.md §2.2 P6-P15, §2.3 J1-J10).

Reference behavior: MAHQC.java (per-record QC with per-key JDBC lookup
caches). Spark-first re-expression: every lookup cache becomes one
broadcast-hash join against a dimension DataFrame; the reference's
"try primary key, then secondary, then alt-id" cascade (MAHQC.java:
101-167) becomes a single posexplode of prioritized candidate keys +
one broadcast join + a min-priority filter — no driver loops.

Each GAF line is derived once. A DataFrame that feeds several branches
is copied into every branch of the plan, so the fan-out points are
materialized: ``derive_annotations`` persists (1) the GAF once
``_row_id`` is assigned — which also pins the id — and (2) ``valid``
after the species guard, which feeds both projection branches and three
side outputs. Everything else is single-path: ``validate_gene_status``
is one left-join chain (status → broadcast history map → active genes)
rather than a union of active and revived rows. The caller releases the
two frames with ``QCResult.release()``.

All functions are DataFrame-in/DataFrame-out and never collect fact
data to the driver; audit streams (the reference's 13 log4j appenders,
log4j2.xml:9-91) are returned as side-output DataFrames (S9).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.closure import resolve_history, transitive_descendants
from .config import (
    CATALYTIC_ACTIVITY_TERM,
    PRIMARY_XDB_KEY,
    XDB_KEY_UNIPROT_SECONDARY,
    PipelineConfig,
)

_EMPTY = ("", None)


def _nullify_empty(c):
    """Oracle treats '' as NULL; normalize at ingest (SURVEY.md §7.4)."""
    col = F.col(c) if isinstance(c, str) else c
    return F.when(F.trim(col) == "", None).otherwise(col)


@dataclass
class Dims:
    """Dimension DataFrames (FIXTURES.md §2) — all small, broadcast-joined."""

    genes: DataFrame
    rgd_ids: DataFrame
    rgd_acc_xdb: DataFrame
    ortholog_edges: DataFrame
    ont_terms: DataFrame
    ont_synonyms: DataFrame
    ont_dag: DataFrame
    rgd_id_history: DataFrame
    species: DataFrame


@dataclass
class QCResult:
    annots: DataFrame  # validated annotation rows (pre-consolidation)
    side_outputs: dict[str, DataFrame] = field(default_factory=dict)
    counter_frames: dict[str, DataFrame] = field(default_factory=dict)
    persisted: list[DataFrame] = field(default_factory=list)

    def release(self) -> None:
        """Unpersist the frames derive_annotations materialized; call once
        every action over annots / side outputs / counters has run."""
        for df in self.persisted:
            df.unpersist()
        self.persisted = []


def gene_status(dims: Dims) -> DataFrame:
    """Gene status registry (DAO.getStatusForGeneRgdIds: rgd_ids, object_key=1)."""
    return dims.rgd_ids.where(F.col("object_key") == 1).select(
        "rgd_id", "object_status"
    )


def catalytic_descendants(spark: SparkSession, dims: Dims) -> DataFrame:
    """Descendant closure of GO:0003824 including itself
    (DAO.isCatalyticActivityTerm; iterative closure replaces CONNECT BY)."""
    seeds = spark.createDataFrame(
        [(CATALYTIC_ACTIVITY_TERM,)], ["node"]
    )
    return transitive_descendants(
        dims.ont_dag, seeds, child_col="child_term_acc", parent_col="parent_term_acc"
    )


def match_genes(
    gaf: DataFrame,
    dims: Dims,
    species_type_key: int,
) -> tuple[DataFrame, DataFrame]:
    """J1/J2/J3 + P6/P7/P8: match each GAF row to 0..n genes.

    Returns (matched, unmatched): matched has one row per (input row ×
    gene) with gene_rgd_id / gene_symbol / gene_name / gene_species_key
    and the effective db_object_id; unmatched is the audit side output
    (MAHQC.java:82-84).

    The reference's lookup cascade — primary xdb key, then UniProt
    secondary, then alt-id from gene_product_form_id (MAHQC.java:
    150-165) — is one join over prioritized candidates: only the best
    surviving priority per input row is kept, which reproduces
    "try next only when the previous found nothing".
    """
    xdb_gene = F.broadcast(
        dims.rgd_acc_xdb.select("xdb_key", "acc_id", "rgd_id")
        .join(
            dims.genes.select(
                "rgd_id",
                F.col("gene_symbol").alias("gene_symbol"),
                F.col("full_name").alias("gene_name"),
                F.col("species_type_key").alias("gene_species_key"),
            ),
            "rgd_id",
        )
        .withColumnRenamed("rgd_id", "gene_rgd_id")
    )

    # ---- chinchilla identity branch (J3; MAHQC.java:137-147): trust the
    # incoming RGD id, construct the gene inline, no lookup
    rgd_rows = gaf.where(F.col("db") == "RGD").select(
        "*",
        F.col("db_object_id").cast("int").alias("gene_rgd_id"),
        F.col("db_object_symbol").alias("gene_symbol"),
        F.col("db_object_name").alias("gene_name"),
        F.lit(species_type_key).alias("gene_species_key"),
        F.col("db_object_id").alias("matched_db_object_id"),
    )

    # ---- RNAcentral branch (P7; MAHQC.java:120-135): URS..._9606 →
    # (acc, taxon); species resolved via the species dimension; the gene
    # match additionally requires the gene's species to equal the taxon's
    rna = gaf.where(F.col("db") == "RNAcentral").select(
        "*",
        F.substring_index("db_object_id", "_", 1).alias("_acc"),
        F.substring_index("db_object_id", "_", -1).cast("int").alias("_taxon_id"),
    )
    rna = rna.join(
        F.broadcast(
            dims.species.select(
                F.col("taxonomic_id").alias("_taxon_id"),
                F.col("species_type_key").alias("_acc_species"),
            )
        ),
        "_taxon_id",
        "left",
    )
    rna_matched = (
        rna.where(F.col("_acc_species").isNotNull())
        .join(
            xdb_gene,
            (F.col("xdb_key") == PRIMARY_XDB_KEY["RNAcentral"])
            & (F.col("acc_id") == F.col("_acc"))
            & (F.col("gene_species_key") == F.col("_acc_species")),
            "inner",
        )
        .withColumn("matched_db_object_id", F.col("_acc"))
        .drop("xdb_key", "acc_id", "_acc", "_taxon_id", "_acc_species")
    )

    # ---- default branch (J1/J2): prioritized candidate keys
    std = gaf.where(~F.col("db").isin("RGD", "RNAcentral"))
    # P6: HGNC ids arrive unprefixed (MAHQC.java:111-113)
    norm_id = F.when(
        (F.col("db") == "HGNC") & ~F.col("db_object_id").startswith("HGNC:"),
        F.concat(F.lit("HGNC:"), F.col("db_object_id")),
    ).otherwise(F.col("db_object_id"))
    # P8: alt id — token after ':' in gene_product_form_id (17-col rows only)
    alt_parts = F.split(F.col("gene_product_form_id"), ":")
    alt_id = F.when(F.size(alt_parts) >= 2, alt_parts.getItem(1))

    primary_key = F.lit(None).cast("int")
    for db_name, key in PRIMARY_XDB_KEY.items():
        primary_key = F.when(F.col("db") == db_name, F.lit(key)).otherwise(
            primary_key
        )

    cands = std.select(
        "*",
        primary_key.alias("_xdb_primary"),
        norm_id.alias("_id_norm"),
        alt_id.alias("_id_alt"),
    ).select(
        "*",
        F.posexplode(
            F.array(
                F.struct(
                    F.col("_xdb_primary").alias("k"), F.col("_id_norm").alias("a")
                ),
                F.struct(
                    F.when(
                        F.col("db") == "UniProtKB",
                        F.lit(XDB_KEY_UNIPROT_SECONDARY),
                    ).alias("k"),
                    F.col("_id_norm").alias("a"),
                ),
                F.struct(F.col("_xdb_primary").alias("k"), F.col("_id_alt").alias("a")),
            )
        ).alias("_prio", "_cand"),
    )
    cands = cands.where(
        F.col("_cand.k").isNotNull() & F.col("_cand.a").isNotNull()
    )
    hits = cands.join(
        xdb_gene,
        (F.col("xdb_key") == F.col("_cand.k")) & (F.col("acc_id") == F.col("_cand.a")),
        "inner",
    )
    best = Window.partitionBy("_row_id")
    std_matched = (
        hits.withColumn("_best", F.min("_prio").over(best))
        .where(F.col("_prio") == F.col("_best"))
        .withColumn("matched_db_object_id", F.col("_cand.a"))
        .drop(
            "xdb_key", "acc_id",
            "_xdb_primary", "_id_norm", "_id_alt", "_prio", "_cand", "_best",
        )
    )

    matched = std_matched.unionByName(rna_matched).unionByName(rgd_rows)
    unmatched = gaf.join(matched.select("_row_id"), "_row_id", "left_anti")
    return matched, unmatched


def validate_gene_status(
    matched: DataFrame, dims: Dims
) -> tuple[DataFrame, DataFrame]:
    """J4: ACTIVE genes pass; retired genes follow the rgd_id_history
    chain to an ACTIVE terminal (else drop); de-dup per (row, gene)
    (MAHQC.validateGeneStatus; rgdcore getActiveRgdIdFromHistory).

    One path over ``matched``: a left-join chain status → history map →
    active genes, then the (row, gene) de-dup. The history map is closed
    once over the history dimension by pointer doubling (operators/
    closure.resolve_history) and broadcast — it never depends on the
    fact ids, so ``matched`` appears in the plan once.
    Returns (valid, inactive_audit).
    """
    status = F.broadcast(
        gene_status(dims).select(F.col("rgd_id").alias("_st_id"), "object_status")
    )
    with_status = matched.join(
        status, F.col("gene_rgd_id") == F.col("_st_id"), "left"
    ).drop("_st_id")
    is_active = F.coalesce(F.col("object_status") == "ACTIVE", F.lit(False))
    inactive = with_status.where(~is_active).drop("object_status")

    history = dims.rgd_id_history
    closed = resolve_history(
        history,
        history.select(F.col("old_rgd_id").alias("id")),
        old_col="old_rgd_id",
        new_col="new_rgd_id",
    )
    hist = F.broadcast(
        closed.where(F.col("resolved_id") != F.col("id")).select(
            F.col("id").alias("_h_old"), F.col("resolved_id").alias("_h_new")
        )
    )
    # the successor must itself be an ACTIVE gene; its attributes replace
    # the retired gene's
    active_genes = F.broadcast(
        dims.genes.select(
            F.col("rgd_id").alias("_ag_gene_rgd_id"),
            F.col("gene_symbol").alias("_ag_gene_symbol"),
            F.col("full_name").alias("_ag_gene_name"),
            F.col("species_type_key").alias("_ag_gene_species_key"),
        ).join(
            gene_status(dims)
            .where(F.col("object_status") == "ACTIVE")
            .select(F.col("rgd_id").alias("_ag_gene_rgd_id")),
            "_ag_gene_rgd_id",
        )
    )
    chained = with_status.join(
        hist, F.col("gene_rgd_id") == F.col("_h_old"), "left"
    ).join(
        active_genes,
        F.when(~is_active, F.col("_h_new")) == F.col("_ag_gene_rgd_id"),
        "left",
    )
    revived = F.col("_ag_gene_rgd_id").isNotNull()
    gene_cols = ("gene_rgd_id", "gene_symbol", "gene_name", "gene_species_key")
    valid = (
        chained.where(is_active | revived)
        .select(
            *[
                F.when(revived, F.col(f"_ag_{c}")).otherwise(F.col(c)).alias(c)
                if c in gene_cols
                else F.col(c)
                for c in matched.columns
            ]
        )
        .dropDuplicates(["_row_id", "gene_rgd_id"])
    )
    return valid, inactive


def derive_annotations(
    spark: SparkSession,
    gaf: DataFrame,
    dims: Dims,
    cfg: PipelineConfig,
    species_type_key: int,
    ref_rgd_id: int,
) -> QCResult:
    """Full QC dataflow for one species file (MAHQC.process):

    term gates (J9/J10) → gene match (J1-J3) → status/history (J4) →
    species guard (J5) → two projection branches — direct annotation +
    rat-ISO via ortholog join (J6/J7) — → shared field derivation and
    term validation (P9-P15, J8).

    Persists the GAF (after ``_row_id``) and the species-guarded valid
    rows; the caller runs every action it needs, then calls
    ``QCResult.release()``.
    """
    side: dict[str, DataFrame] = {}
    counters: dict[str, DataFrame] = {}

    # materialization point 1: every side output and both projection
    # branches descend from these rows, and persisting pins _row_id
    # (monotonically_increasing_id) to one value per line
    gaf = gaf.withColumn("_row_id", F.monotonically_increasing_id()).persist()

    # ---- J9: Not4Curation anti-join (MAHQC.java:61-67)
    not4cur = F.broadcast(
        dims.ont_synonyms.where(F.col("synonym_name") == "Not4Curation")
        .select(F.col("term_acc").alias("go_id"))
        .distinct()
    )
    side["high_level_go_term"] = gaf.join(not4cur, "go_id", "left_semi")
    g = gaf.join(not4cur, "go_id", "left_anti")

    # ---- J10: IPI × catalytic-activity descendant anti-join (MAHQC.java:69-75)
    cat = F.broadcast(
        catalytic_descendants(spark, dims).select(F.col("node").alias("_cat_acc"))
    )
    ipi_cat_cond = (g["go_id"] == cat["_cat_acc"]) & (
        g["evidence_code"] == "IPI"
    )
    side["catalytic_activity_ipi"] = g.join(cat, ipi_cat_cond, "left_semi")
    g = g.join(cat, ipi_cat_cond, "left_anti")

    # ---- J1-J3 gene match, J4 status, J5 species guard
    matched, unmatched = match_genes(g, dims, species_type_key)
    side["unmatched"] = unmatched
    valid, inactive = validate_gene_status(matched, dims)
    side["inactive"] = inactive

    wrong_species = valid.where(F.col("gene_species_key") != species_type_key)
    side["wrong_species"] = wrong_species
    # materialization point 2: feeds the direct and ISO branches,
    # no_rat_gene, wrong_evidence and match_by_db
    valid = valid.where(F.col("gene_species_key") == species_type_key).persist()
    counters["match_by_db"] = valid.groupBy("db").agg(
        F.count("*").alias("match_count")
    )

    # ---- direct annotation branch (loadIntoFULL_ANNOT args at MAHQC.java:97)
    direct = valid.select(
        "*",
        F.col("assigned_by").alias("_data_src_field"),
        F.col("evidence_code").alias("_evidence_field"),
        F.col("with_from").alias("_with_info_field"),
        F.col("db_reference").alias("_notes_field"),
        F.lit(ref_rgd_id).alias("_ref_rgd_id"),
        F.col("gene_rgd_id").alias("_annot_rgd_id"),
        F.col("gene_symbol").alias("_obj_symbol"),
        F.col("gene_name").alias("_obj_name"),
    )

    # ---- rat-ISO branch (J6/J7; MAHQC.createRatAnnotations)
    rat_genes = F.broadcast(
        dims.genes.where(F.col("species_type_key") == 3)
        .join(
            gene_status(dims).where(F.col("object_status") == "ACTIVE").select("rgd_id"),
            "rgd_id",
        )
        .select(
            F.col("rgd_id").alias("_rat_rgd_id"),
            F.col("gene_symbol").alias("_rat_symbol"),
            F.col("full_name").alias("_rat_name"),
        )
    )
    edges = F.broadcast(dims.ortholog_edges)
    with_ortho = valid.join(
        edges, valid["gene_rgd_id"] == edges["src_rgd_id"], "left"
    ).join(rat_genes, F.col("dest_rgd_id") == F.col("_rat_rgd_id"), "left")

    side["no_rat_gene"] = (
        with_ortho.groupBy("_row_id", "db", "gene_rgd_id")
        .agg(F.max("_rat_rgd_id").alias("_any"))
        .where(F.col("_any").isNull())
        .drop("_any")
    )
    ortho_rows = with_ortho.where(F.col("_rat_rgd_id").isNotNull())
    gated_out = ortho_rows.where(
        ~F.col("evidence_code").isin(*sorted(cfg.evidence_codes_for_iso))
    )
    counters["wrong_evidence"] = gated_out.groupBy(
        F.col("evidence_code").alias("evidence")
    ).agg(F.count("*").alias("skip_count"))

    iso = ortho_rows.where(
        F.col("evidence_code").isin(*sorted(cfg.evidence_codes_for_iso))
    ).select(
        *[c for c in valid.columns],
        F.lit("RGD").alias("_data_src_field"),
        F.lit("ISO").alias("_evidence_field"),
        F.concat(F.lit("RGD:"), F.col("gene_rgd_id")).alias("_with_info_field"),
        F.when(
            F.coalesce(F.trim("with_from"), F.lit("")) == "", F.col("db_reference")
        ).otherwise(F.col("with_from")).alias("_notes_field"),
        F.lit(cfg.iso_ref_rgd_id).alias("_ref_rgd_id"),
        F.col("_rat_rgd_id").alias("_annot_rgd_id"),
        F.col("_rat_symbol").alias("_obj_symbol"),
        F.col("_rat_name").alias("_obj_name"),
    )

    staged = direct.unionByName(iso)
    annots, load_side = load_into_full_annot(staged, dims, cfg)
    side.update(load_side)
    return QCResult(
        annots=annots, side_outputs=side, counter_frames=counters,
        persisted=[gaf, valid],
    )


def load_into_full_annot(
    staged: DataFrame, dims: Dims, cfg: PipelineConfig
) -> tuple[DataFrame, dict[str, DataFrame]]:
    """Shared annotation builder (MAHQC.loadIntoFULL_ANNOT): P9-P15 field
    derivations + J8 term lookup, emitting FULL_ANNOT-shaped rows.

    Input columns: the 17 GAF columns plus _data_src_field,
    _evidence_field, _with_info_field, _notes_field, _ref_rgd_id,
    _annot_rgd_id, _obj_symbol, _obj_name.
    """
    side: dict[str, DataFrame] = {}

    df = staged.where(F.col("_ref_rgd_id") != 0)

    # P11: self-referencing filter (checked BEFORE the gene-product move)
    self_ref = F.col("_with_info_field") == F.concat(
        F.lit("RGD:"), F.col("_annot_rgd_id")
    )
    side["self_referencing"] = df.where(self_ref)
    df = df.where(~F.coalesce(self_ref, F.lit(False)))

    # P12: ISO — move gene_product_form_id into with_info, blank the source
    is_iso = F.col("_evidence_field") == "ISO"
    gpfi = F.coalesce(F.trim("gene_product_form_id"), F.lit(""))
    wi = F.coalesce(F.trim("_with_info_field"), F.lit(""))
    df = df.withColumn(
        "_wi2",
        F.when(
            is_iso & (gpfi != ""),
            F.when(wi == "", F.col("gene_product_form_id")).otherwise(
                F.concat_ws(",", "_with_info_field", "gene_product_form_id")
            ),
        ).otherwise(F.col("_with_info_field")),
    ).withColumn(
        "_gpfi2",
        F.when(is_iso & (gpfi != ""), F.lit(None).cast("string")).otherwise(
            _nullify_empty("gene_product_form_id")
        ),
    )

    # P13: drop ISO annots with empty with_info
    empty_wi2 = F.coalesce(F.trim("_wi2"), F.lit("")) == ""
    side["iso_empty_with_info"] = df.where(is_iso & empty_wi2)
    df = df.where(~(is_iso & empty_wi2))

    # P14: annotation extension must not transfer to ISO annotations
    df = df.withColumn(
        "_annot_ext2",
        F.when(is_iso, F.lit(None).cast("string")).otherwise(
            _nullify_empty("annotation_extension")
        ),
    )

    # P9: qualifier normalize (trim, empty→null, colocalizes_with→located_in)
    qual = F.when(F.trim("qualifier") == "", None).otherwise(
        F.regexp_replace(F.trim("qualifier"), "colocalizes_with", "located_in")
    )

    # J8: GO term name lookup; missing → drop + audit (MAHQC.java:300-308)
    terms = F.broadcast(
        dims.ont_terms.select(
            F.col("term_acc").alias("go_id"), F.col("term").alias("_term_name")
        )
    )
    df = df.join(terms, "go_id", "left")
    side["no_go_term"] = df.where(F.col("_term_name").isNull())
    df = df.where(F.col("_term_name").isNotNull())

    # P10: DATA_SRC substitution map (AppConfigure.xml:46-50)
    data_src = F.col("_data_src_field")
    for k, v in cfg.source_subst.items():
        data_src = F.when(F.col("_data_src_field") == k, F.lit(v)).otherwise(data_src)

    annots = df.select(
        F.col("db").alias("source_db"),
        F.col("_term_name").alias("term"),
        F.col("_annot_rgd_id").cast("int").alias("annotated_object_rgd_id"),
        F.lit(1).alias("rgd_object_key"),
        data_src.alias("data_src"),
        F.col("_obj_symbol").alias("object_symbol"),
        F.col("_ref_rgd_id").cast("int").alias("ref_rgd_id"),
        F.col("_evidence_field").alias("evidence"),
        _nullify_empty("_wi2").alias("with_info"),
        _nullify_empty("aspect").alias("aspect"),
        F.col("_obj_name").alias("object_name"),
        _nullify_empty("_notes_field").alias("notes"),
        qual.alias("qualifier"),
        F.col("go_id").alias("term_acc"),
        F.lit(cfg.created_by).alias("created_by"),
        F.lit(cfg.created_by).alias("last_modified_by"),
        _nullify_empty("db_reference").alias("xref_source"),
        F.col("_annot_ext2").alias("annotation_extension"),
        F.col("_gpfi2").alias("gene_product_form_id"),
        F.to_date("date", "yyyyMMdd").alias("original_created_date"),
        F.lit(None).cast("string").alias("qualifier2"),
        F.lit(None).cast("string").alias("associated_with"),
        F.lit(None).cast("string").alias("molecular_entity"),
        F.lit(None).cast("string").alias("alteration"),
        F.lit(None).cast("string").alias("alteration_location"),
        F.lit(None).cast("string").alias("variant_nomenclature"),
    )
    return annots, side
