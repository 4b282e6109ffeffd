"""Seeded input generator for the annotation-pipeline benchmark.

One call builds everything a workload reads, from ``(workload, seed)``
alone, with no download:

- the nine dimension tables (``Dims``) as parquet, written with pyarrow;
- one species GAF 2.2 file;
- the pre-run FULL_ANNOT snapshot as parquet;
- ``manifest.json``: paths plus the counts the generator knows for any
  seed (``lines[db]``, expected inserts / updates / touches / stale
  deletes, which stale delete aborts).

The GAF hits every QC branch: unmatched ids, retired genes with 1- and
2-step history chains (some ending in a withdrawn id), wrong-species
matches, Not4Curation terms, IPI x catalytic-activity descendants, GO
ids missing from ``ont_terms``, genes with no rat ortholog and genes
with two. The load file also carries A3 (WITH_INFO) and A4
(XREF_SOURCE) duplicate groups, a few of them long enough to hit the
1700 / 4000-character overflow split.

Rates. The repository holds no measured GAF or FULL_ANNOT statistics,
so every rate here is an assumption, not a measurement: each was chosen
so that every QC and sink path works on a non-trivial share of the
input. They decide how much each path weighs in ``run_s``; replace them
once a sample of real files or counter logs is in the repository. The
assumed rates:

- genes: 6% retired (4.5% whose history chain ends ACTIVE, 1.5%
  WITHDRAWN), chains of 1 or 2 steps alike; 20% with a secondary
  UniProt id, 25% with an RNAcentral id; MGI ids resolving to 2% of
  the human genes (wrong species);
- rat orthologs: 12% of genes have none, 10% have two, the rest one;
- load GAF: the category weights in ``LOAD_MIX``; 30% of MGI ids with
  the ``MGI:MGI:`` double prefix; 5% with an annotation extension; one
  A3 / A4 duplicate group in ten long enough to overflow;
- refresh delta: 55% of lines unchanged (touch), 15% changed (update:
  half in NOTES, half in ORIGINAL_CREATED_DATE), 22% new (insert), the
  remaining 8% QC-dropped noise in six equal kinds; stale rows 7% of the
  touched and updated ones; 30% GO_REF references, 20% RNAcentral lines
  where the gene has such an id.

Only the limits come from the reference: the 10% stale-delete threshold
(``PipelineConfig``) and the 1700 / 4000-character overflow lengths
(``pipeline.consolidate``).

The refresh file is a nightly delta against a large pre-run store: every
"simple" line's pipeline output is predicted row by row, so the store
can hold exact matches (touch), rows that differ only in NOTES or
ORIGINAL_CREATED_DATE (update), nothing (insert), and pipeline rows the
delta no longer produces (stale delete). Rat-ISO rows derived from the
species that do not run this night make the final ISO stale delete
exceed the 10% threshold, so the abort path runs.

Outputs are byte-identical for the same arguments and are cached under
the work directory; ``manifest.json`` is written last and marks a
complete entry.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys
from dataclasses import asdict, dataclass, replace
from datetime import date, datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

from go_nonrat_annotation_pipeline_spark import schemas as S
from go_nonrat_annotation_pipeline_spark.pipeline.config import (
    CATALYTIC_ACTIVITY_TERM,
    CHINCHILLA,
    HUMAN,
    MOUSE,
    RAT,
    PipelineConfig,
)

CFG = PipelineConfig()
GEN_VERSION = 1

TAXON = {HUMAN: 9606, MOUSE: 10090, RAT: 10116, CHINCHILLA: 34839}
ID_BASE = {MOUSE: 1_000_000, HUMAN: 2_000_000, RAT: 3_000_000, CHINCHILLA: 4_000_000}
HISTORY_BASE = 5_000_000  # intermediate / withdrawn ids of history chains
NOT4CURATION = ("GO:0008150", "GO:0003674", "GO:0005575")
ISO_EVIDENCE = sorted(CFG.evidence_codes_for_iso)
OTHER_EVIDENCE = ["IEA", "ISS", "TAS", "ND"]
OLD_TS = datetime(2024, 1, 15, 3, 0, 0)
MANUAL_CREATORS = (50, 60, 70)


@dataclass(frozen=True)
class Sizes:
    """Workload size. ``gaf_lines`` counts non-comment GAF lines;
    ``store_filler`` counts pre-run FULL_ANNOT rows outside the
    pipeline's refs (other refs and creators)."""

    gaf_lines: int
    store_filler: int


@dataclass(frozen=True)
class Workload:
    species: int
    ref_rgd_id: int
    sources: tuple[str, ...]
    sizes: Sizes


# The load GAF is 10x the refresh delta and the refresh store over 50x the
# delta. Sizes stay small because a run is bound by the pipeline's Spark
# actions (about a hundred per iteration), not by its rows.
WORKLOADS = {
    "annot_load": Workload(
        MOUSE, CFG.mgi_ref_rgd_id, CFG.mouse_sources,
        Sizes(gaf_lines=20_000, store_filler=4_000),
    ),
    "annot_refresh": Workload(
        HUMAN, CFG.goa_all_species_ref_rgd_id,
        CFG.all_species_sources,
        Sizes(gaf_lines=2_000, store_filler=110_000),
    ),
}


# ---------------------------------------------------------------------------
# arrow helpers
# ---------------------------------------------------------------------------
_ARROW = {
    "IntegerType()": pa.int32(),
    "LongType()": pa.int64(),
    "StringType()": pa.string(),
    "BooleanType()": pa.bool_(),
    "TimestampType()": pa.timestamp("us", tz="UTC"),
    "DateType()": pa.date32(),
}


def _arrow_schema(struct) -> pa.Schema:
    return pa.schema([pa.field(f.name, _ARROW[repr(f.dataType)]) for f in struct.fields])


def _write_parquet(path: str, struct, rows: list[tuple]) -> None:
    schema = _arrow_schema(struct)
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    table = pa.table(
        {f.name: pa.array(list(c), type=f.type) for f, c in zip(schema, cols)},
        schema=schema,
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


def _utc(ts: datetime) -> datetime:
    return ts.replace(tzinfo=timezone.utc)


# ---------------------------------------------------------------------------
# the world: genes, accessions, orthologs, ontology, history
# ---------------------------------------------------------------------------
class World:
    """Dimension rows plus the lookups the GAF writer and the store
    predictor need. Gene counts scale with the GAF size."""

    def __init__(self, rng: random.Random, n_genes: int):
        self.rng = rng
        self.genes: list[tuple] = []
        self.rgd_ids: list[tuple] = []
        self.xdb: list[tuple] = []
        self.orthologs: list[tuple] = []
        self.history: list[tuple] = []
        self.symbol: dict[int, tuple[str, str]] = {}
        self.active: dict[int, list[int]] = {}
        self.retired_live: dict[int, list[int]] = {}  # chain ends ACTIVE
        self.retired_dead: dict[int, list[int]] = {}  # chain ends WITHDRAWN
        self.acc: dict[tuple[int, int], str] = {}  # (gene, xdb_key) -> acc
        self.rat_of: dict[int, list[int]] = {}  # gene -> ACTIVE rat orthologs
        self._hist_next = HISTORY_BASE
        self._xdb_key = 0

        n = {MOUSE: n_genes, HUMAN: n_genes, RAT: n_genes, CHINCHILLA: max(20, n_genes // 10)}
        for sp, count in n.items():
            self._species_genes(sp, count)
        self._accessions()
        self._ortholog_edges()
        self._ontology()

    # -- genes and status ---------------------------------------------------
    def _species_genes(self, sp: int, count: int) -> None:
        rng = self.rng
        tag = {MOUSE: "m", HUMAN: "h", RAT: "r", CHINCHILLA: "c"}[sp]
        self.active[sp], self.retired_live[sp], self.retired_dead[sp] = [], [], []
        for i in range(1, count + 1):
            gid = ID_BASE[sp] + i
            sym, name = f"G{tag}{i}", f"{tag} gene {i}"
            self.genes.append((gid, sym, name, "protein-coding", sp))
            self.symbol[gid] = (sym, name)
            roll = rng.random()
            if sp == CHINCHILLA or roll >= 0.06:
                self.rgd_ids.append((gid, 1, "ACTIVE", sp))
                self.active[sp].append(gid)
            else:
                self.rgd_ids.append((gid, 1, "RETIRED", sp))
                (self.retired_live if roll < 0.045 else self.retired_dead)[sp].append(gid)
        for gid in self.retired_live[sp]:
            # 1- or 2-step chain to an ACTIVE successor (max successor wins)
            cur = gid
            for _ in range(rng.choice((0, 1))):
                mid = self._new_history_id(sp, "RETIRED")
                self.history.append((cur, mid))
                cur = mid
            self.history.append((cur, rng.choice(self.active[sp])))
        for gid in self.retired_dead[sp]:
            self.history.append((gid, self._new_history_id(sp, "WITHDRAWN")))

    def _new_history_id(self, sp: int, status: str) -> int:
        self._hist_next += 1
        self.rgd_ids.append((self._hist_next, 1, status, sp))
        return self._hist_next

    # -- accessions (rgd_acc_xdb) ---------------------------------------------
    def _add_acc(self, gene: int, xdb_key: int, acc: str) -> None:
        self._xdb_key += 1
        self.xdb.append((self._xdb_key, gene, xdb_key, acc))
        self.acc[(gene, xdb_key)] = acc

    def _accessions(self) -> None:
        rng = self.rng
        for gid, _sym, _name, _t, sp in self.genes:
            i = gid - ID_BASE[sp]
            if sp == MOUSE:
                self._add_acc(gid, 5, f"MGI:{100000 + i}")
            if sp in (MOUSE, HUMAN):
                tag = "M" if sp == MOUSE else "H"
                self._add_acc(gid, 14, f"P{tag}{i:06d}")
                if rng.random() < 0.2:
                    self._add_acc(gid, 60, f"Q{tag}{i:06d}")
                if rng.random() < 0.25:
                    self._add_acc(gid, 68, f"URS{tag}{i:08X}")
        # MGI ids that resolve to HUMAN genes: the wrong-species branch
        for k, gid in enumerate(self.active[HUMAN][: max(5, len(self.active[HUMAN]) // 50)]):
            self._add_acc(gid, 5, f"MGI:9{k:06d}")

    def _ortholog_edges(self) -> None:
        rng = self.rng
        rats = [g for g, *_rest, sp in self.genes if sp == RAT]
        rat_active = set(self.active[RAT])
        for gid, _s, _n, _t, sp in self.genes:
            if sp == RAT:
                continue
            roll = rng.random()
            fan = 0 if roll < 0.12 else (2 if roll > 0.90 else 1)
            dests = rng.sample(rats, fan)
            for d in dests:
                self.orthologs.append((gid, d))
            self.rat_of[gid] = sorted(d for d in dests if d in rat_active)

    # -- ontology -------------------------------------------------------------
    def _ontology(self) -> None:
        rng = self.rng
        n_terms = 400 + len(self.genes) // 10
        self.terms: list[str] = []
        self.term_rows: list[tuple] = []
        self.term_name: dict[str, str] = {}
        self.term_aspect: dict[str, str] = {}
        for k in range(n_terms):
            acc = f"GO:{1_000_000 + k:07d}"
            aspect = "PFC"[k % 3]
            self._term(acc, f"go term {k}", aspect)
            self.terms.append(acc)
        # catalytic-activity subtree, depth 2 (J10 closure runs 3 rounds)
        self.catalytic = [CATALYTIC_ACTIVITY_TERM]
        self._term(CATALYTIC_ACTIVITY_TERM, "catalytic activity", "F")
        self.dag: list[tuple] = []
        for a in range(3):
            child = f"GO:{4100 + a:07d}"
            self._term(child, f"catalytic child {a}", "F")
            self.dag.append((child, CATALYTIC_ACTIVITY_TERM))
            self.catalytic.append(child)
            for b in range(3):
                grand = f"GO:{4200 + 3 * a + b:07d}"
                self._term(grand, f"catalytic grandchild {a}.{b}", "F")
                self.dag.append((grand, child))
                self.catalytic.append(grand)
        for acc, name in zip(NOT4CURATION, ("biological_process", "molecular_function", "cellular_component")):
            self._term(acc, name, "PFC"[NOT4CURATION.index(acc)])
        # an is_a forest over the ordinary terms (not reachable from the seed)
        for k in range(1, n_terms):
            self.dag.append((self.terms[k], self.terms[rng.randrange(k)]))
        self.synonyms = [(acc, "Not4Curation") for acc in NOT4CURATION]
        self.synonyms += [(t, f"synonym of {t}") for t in self.terms[::7]]

    def _term(self, acc: str, name: str, aspect: str) -> None:
        self.term_rows.append((acc, name, 0, "GO"))
        self.term_name[acc] = name
        self.term_aspect[acc] = aspect

    # -- output ---------------------------------------------------------------
    def write_dims(self, root: str) -> list[str]:
        tables = {
            "genes": (S.GENES_SCHEMA, self.genes),
            "rgd_ids": (S.RGD_IDS_SCHEMA, self.rgd_ids),
            "rgd_acc_xdb": (S.RGD_ACC_XDB_SCHEMA, self.xdb),
            "ortholog_edges": (S.ORTHOLOG_EDGES_SCHEMA, self.orthologs),
            "ont_terms": (S.ONT_TERMS_SCHEMA, self.term_rows),
            "ont_synonyms": (S.ONT_SYNONYMS_SCHEMA, self.synonyms),
            "ont_dag": (S.ONT_DAG_SCHEMA, self.dag),
            "rgd_id_history": (S.RGD_ID_HISTORY_SCHEMA, self.history),
            "species": (
                S.SPECIES_SCHEMA,
                [
                    (HUMAN, "human", "HUMAN", TAXON[HUMAN], True),
                    (MOUSE, "mouse", "MOUSE", TAXON[MOUSE], True),
                    (RAT, "rat", "RAT", TAXON[RAT], True),
                    (CHINCHILLA, "chinchilla", "CHINCHILLA", TAXON[CHINCHILLA], True),
                ],
            ),
        }
        for name, (struct, rows) in tables.items():
            _write_parquet(os.path.join(root, "dims", name), struct, rows)
        return sorted(tables)

    def plain_term(self) -> str:
        return self.rng.choice(self.terms)


# ---------------------------------------------------------------------------
# GAF lines
# ---------------------------------------------------------------------------
def _gaf(db, obj_id, symbol, qual, go, ref, ev, with_from, aspect, name,
         taxon, day, assigned_by, ext="", gpfi="") -> str:
    obj_type = "gene" if db == "MGI" else "protein"
    return "\t".join([
        db, obj_id, symbol, qual, go, ref, ev, with_from, aspect, name, "",
        obj_type, f"taxon:{taxon}", day, assigned_by, ext, gpfi,
    ])


def _day(rng: random.Random) -> str:
    return (date(2015, 1, 1) + timedelta(days=rng.randrange(3600))).strftime("%Y%m%d")


def _pmid(rng: random.Random) -> str:
    return f"PMID:{rng.randrange(10_000_000, 40_000_000)}"


def _qualifier(rng: random.Random) -> str:
    return rng.choice(["", "", "enables", "involved_in", "part_of", "colocalizes_with"])


def _normalize_qualifier(q: str) -> str | None:
    q = q.strip()
    return None if q == "" else q.replace("colocalizes_with", "located_in")


# Assumed category weights of the load GAF (see the module docstring).
LOAD_MIX = [  # (category, weight); A3/A4 weights count groups, not lines
    ("mgi", 38), ("uniprot", 14), ("uniprot_secondary", 4), ("uniprot_alt", 3),
    ("rnacentral", 5), ("unmatched", 4), ("retired", 5), ("wrong_species", 2),
    ("not4curation", 2), ("ipi_catalytic", 2), ("missing_term", 2),
    ("a3", 4), ("a4", 3),
]


def _mouse_line(w: World, cat: str, gene: int, go: str, ev: str) -> str:
    rng = w.rng
    sym, name = w.symbol[gene]
    day, qual, ref = _day(rng), _qualifier(rng), _pmid(rng)
    aspect = w.term_aspect.get(go, "P")
    with_from = ""
    if ev in ("IGI", "IPI"):
        with_from = "|".join(f"MGI:MGI:{rng.randrange(10**5, 10**6)}" for _ in range(rng.randint(1, 3)))
    if cat in ("uniprot", "uniprot_secondary", "uniprot_alt"):
        if cat == "uniprot":
            acc, gpfi = w.acc[(gene, 14)], ""
        elif cat == "uniprot_secondary":
            acc, gpfi = w.acc[(gene, 60)], ""
        else:  # primary id unknown; the alt id in column 17 matches (P8)
            acc, gpfi = f"XM{rng.randrange(10**7):07d}", f"UniProtKB:{w.acc[(gene, 14)]}"
        return _gaf("UniProtKB", acc, sym, qual, go, ref, ev, with_from, aspect,
                    name, TAXON[MOUSE], day, "UniProt", "", gpfi)
    if cat == "rnacentral":
        acc = w.acc.get((gene, 68), f"URSX{gene:08X}")
        return _gaf("RNAcentral", f"{acc}_{TAXON[MOUSE]}", sym, qual, go, ref, ev,
                    "", aspect, name, TAXON[MOUSE], day, "RNAcentral")
    acc = w.acc[(gene, 5)]
    if rng.random() < 0.3:
        acc = "MGI:" + acc  # MGI:MGI: double prefix (P1)
    ext = f"part_of(UBERON:{rng.randrange(10**6):07d})" if rng.random() < 0.05 else ""
    return _gaf("MGI", acc, sym, qual, go, ref, ev, with_from, aspect, name,
                TAXON[MOUSE], day, "MGI", ext)


def _genes_with_acc(w: World, sp: int, xdb_key: int) -> list[int]:
    return [g for g in w.active[sp] if (g, xdb_key) in w.acc]


def mouse_load_lines(w: World, n_lines: int) -> list[str]:
    """Full mouse GAF (MGI / UniProtKB / RNAcentral) for a first load."""
    rng = w.rng
    cats, weights = zip(*LOAD_MIX)
    mouse = w.active[MOUSE]
    secondary = _genes_with_acc(w, MOUSE, 60)
    rna = _genes_with_acc(w, MOUSE, 68)
    wrong = [g for g in w.active[HUMAN] if (g, 5) in w.acc]
    any_ev = ISO_EVIDENCE + OTHER_EVIDENCE
    lines: list[str] = []
    while len(lines) < n_lines:
        cat = rng.choices(cats, weights)[0]
        if cat == "uniprot_secondary" and not secondary or cat == "rnacentral" and not rna:
            cat = "mgi"  # tiny worlds may lack these accessions
        ev = rng.choice(any_ev)
        go = w.plain_term()
        if cat in ("mgi", "uniprot", "uniprot_alt"):
            lines.append(_mouse_line(w, cat, rng.choice(mouse), go, ev))
        elif cat == "uniprot_secondary":
            lines.append(_mouse_line(w, cat, rng.choice(secondary), go, ev))
        elif cat == "rnacentral":
            lines.append(_mouse_line(w, cat, rng.choice(rna), go, ev))
        elif cat == "retired":
            pool = (w.retired_live[MOUSE] if rng.random() < 0.75 else w.retired_dead[MOUSE]) or mouse
            lines.append(_mouse_line(w, "mgi", rng.choice(pool), go, ev))
        elif cat == "unmatched":
            sym = f"Unk{rng.randrange(10**5)}"
            lines.append(_gaf("MGI", f"MGI:8{rng.randrange(10**6):06d}", sym, "", go,
                              _pmid(rng), ev, "", "P", sym, TAXON[MOUSE], _day(rng), "MGI"))
        elif cat == "wrong_species":
            g = rng.choice(wrong)
            sym, name = w.symbol[g]
            lines.append(_gaf("MGI", w.acc[(g, 5)], sym, "", go, _pmid(rng), ev, "",
                              "P", name, TAXON[MOUSE], _day(rng), "MGI"))
        elif cat == "not4curation":
            lines.append(_mouse_line(w, "mgi", rng.choice(mouse), rng.choice(NOT4CURATION), ev))
        elif cat == "ipi_catalytic":
            lines.append(_mouse_line(w, "uniprot", rng.choice(mouse), rng.choice(w.catalytic), "IPI"))
        elif cat == "missing_term":
            lines.append(_mouse_line(w, "mgi", rng.choice(mouse), f"GO:9{rng.randrange(10**6):06d}", ev))
        elif cat == "a3":
            lines.extend(_a3_group(w, rng.choice(mouse)))
        else:
            lines.extend(_a4_group(w, rng.choice(mouse)))
    return lines[:n_lines]


def _a3_group(w: World, gene: int) -> list[str]:
    """Lines equal on the 8-field WITH_INFO key, differing in WITH_FROM.
    One group in ten carries enough tokens to overflow 1700 chars."""
    rng = w.rng
    sym, name = w.symbol[gene]
    go, day, ref, qual = w.plain_term(), _day(rng), _pmid(rng), _qualifier(rng)
    ev = rng.choice(("IGI", "IPI", "IMP"))
    per_line = 70 if rng.random() < 0.1 else rng.randint(1, 3)
    out = []
    for _ in range(rng.randint(2, 3)):
        with_from = "|".join(f"MGI:MGI:{rng.randrange(10**6, 10**7)}" for _ in range(per_line))
        out.append(_gaf("MGI", w.acc[(gene, 5)], sym, qual, go, ref, ev, with_from,
                        w.term_aspect[go], name, TAXON[MOUSE], day, "MGI"))
    return out


def _a4_group(w: World, gene: int) -> list[str]:
    """Lines equal on the 6-field duplicate key, differing in the
    reference. One group in ten overflows the 4000-char XREF_SOURCE."""
    rng = w.rng
    sym, name = w.symbol[gene]
    go, qual = w.plain_term(), _qualifier(rng)
    ev = rng.choice(ISO_EVIDENCE + OTHER_EVIDENCE)
    per_line = 110 if rng.random() < 0.1 else 1
    out = []
    for _ in range(rng.randint(2, 4)):
        ref = "|".join(_pmid(rng) for _ in range(per_line))
        out.append(_gaf("MGI", w.acc[(gene, 5)], sym, qual, go, ref, ev, "",
                        w.term_aspect[go], name, TAXON[MOUSE], _day(rng), "MGI"))
    return out


# ---------------------------------------------------------------------------
# FULL_ANNOT rows
# ---------------------------------------------------------------------------
_FA_COLS = [f.name for f in S.FULL_ANNOT_SCHEMA.fields]


def _fa_row(**kw) -> dict:
    row = dict.fromkeys(_FA_COLS)
    row.update(rgd_object_key=1, created_date=_utc(OLD_TS), last_modified_date=_utc(OLD_TS))
    row.update(kw)
    return row


def _predict(w: World, ref_rgd_id: int, line: dict) -> list[dict]:
    """FULL_ANNOT rows the pipeline derives from one simple refresh line
    (singleton groups, no WITH_FROM, no extension, single reference):
    the direct annotation plus one rat-ISO row per ACTIVE ortholog when
    the evidence passes the ISO gate."""
    gene, go, ref = line["gene"], line["go"], line["ref"]
    notes = f"  ({ref})" if "PMID" in ref else None
    common = dict(
        term=w.term_name[go], term_acc=go, qualifier=_normalize_qualifier(line["qual"]),
        aspect=w.term_aspect[go], notes=notes, xref_source=ref,
        created_by=CFG.created_by, last_modified_by=CFG.created_by,
        original_created_date=datetime.strptime(line["day"], "%Y%m%d").date(),
    )
    sym, name = w.symbol[gene]
    rows = [_fa_row(
        annotated_object_rgd_id=gene, ref_rgd_id=ref_rgd_id, evidence=line["ev"],
        data_src=line["data_src"], object_symbol=sym, object_name=name, **common,
    )]
    if line["ev"] in CFG.evidence_codes_for_iso:
        for rat in w.rat_of[gene]:
            rsym, rname = w.symbol[rat]
            rows.append(_fa_row(
                annotated_object_rgd_id=rat, ref_rgd_id=CFG.iso_ref_rgd_id, evidence="ISO",
                with_info=f"RGD:{gene}", data_src="RGD", object_symbol=rsym,
                object_name=rname, **common,
            ))
    return rows


def _simple_line(w: World, gene: int, go: str, used: set) -> dict | None:
    """A refresh line whose output _predict() knows exactly; None when
    the (term, gene) pair is taken (a shared pair would merge)."""
    if (go, gene) in used:
        return None
    used.add((go, gene))
    rng = w.rng
    via_rna = (gene, 68) in w.acc and rng.random() < 0.2
    return dict(
        gene=gene, go=go, ev=rng.choice(ISO_EVIDENCE[:4] + OTHER_EVIDENCE[:2]),
        qual=rng.choice(["", "enables", "involved_in", "colocalizes_with"]),
        ref=_pmid(rng) if rng.random() < 0.7 else f"GO_REF:{rng.randrange(1, 50):07d}",
        day=_day(rng),
        db="RNAcentral" if via_rna else "UniProtKB",
        data_src="RNAcentral" if via_rna else "UniProt",
    )


def _simple_gaf(w: World, sp: int, line: dict) -> str:
    gene = line["gene"]
    sym, name = w.symbol[gene]
    if line["db"] == "RNAcentral":
        obj = f"{w.acc[(gene, 68)]}_{TAXON[sp]}"
    else:
        obj = w.acc[(gene, 14)]
    return _gaf(line["db"], obj, sym, line["qual"], line["go"], line["ref"], line["ev"],
                "", w.term_aspect[line["go"]], name, TAXON[sp], line["day"],
                line["data_src"])


def _filler_rows(w: World, n: int) -> list[dict]:
    """Rows standing in for the rest of FULL_ANNOT: other refs and
    creators, objects of every species, never stale-delete candidates."""
    rng = w.rng
    objs = w.active[MOUSE] + w.active[HUMAN] + w.active[RAT]
    refs = [10_000 + k for k in range(60)]
    rows = []
    for _ in range(n):
        gene, go = rng.choice(objs), w.plain_term()
        sym, name = w.symbol[gene]
        ref = _pmid(rng)
        by = rng.choice(MANUAL_CREATORS)
        rows.append(_fa_row(
            term=w.term_name[go], annotated_object_rgd_id=gene, data_src="RGD",
            object_symbol=sym, ref_rgd_id=rng.choice(refs), evidence=rng.choice(ISO_EVIDENCE),
            aspect=w.term_aspect[go], object_name=name, notes=f"curated {ref}",
            term_acc=go, created_by=by, last_modified_by=by, xref_source=ref,
            original_created_date=date(2019, 1, 1) + timedelta(days=rng.randrange(1500)),
        ))
    return rows


def _chinchilla_rows(w: World, n: int) -> list[dict]:
    """Manual chinchilla GO annotations: the read-back job's source."""
    rng = w.rng
    rows = []
    for _ in range(n):
        gene, go = rng.choice(w.active[CHINCHILLA]), w.plain_term()
        sym, name = w.symbol[gene]
        rows.append(_fa_row(
            term=w.term_name[go], annotated_object_rgd_id=gene, data_src="RGD",
            object_symbol=sym, ref_rgd_id=7777, evidence=rng.choice(("IDA", "IMP", "IEA")),
            with_info=f"RGD:{rng.randrange(10**5, 10**6)}", aspect=w.term_aspect[go],
            object_name=name, term_acc=go, created_by=50, last_modified_by=50,
            created_date=_utc(datetime(2022, 5, 1) + timedelta(hours=rng.randrange(9000))),
        ))
    return rows


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------
def _load(w: World, wl: Workload) -> tuple[list[str], list[dict], dict]:
    lines = mouse_load_lines(w, wl.sizes.gaf_lines)
    n_chin = max(10, wl.sizes.store_filler * 3 // 4)
    rows = _chinchilla_rows(w, n_chin) + _filler_rows(w, wl.sizes.store_filler - n_chin)
    # an empty store side: nothing to touch, update or delete
    expect = dict(touched=0, updated=0, stale_species=0, stale_iso=0,
                  species_abort=False, iso_abort=False)
    return lines, rows, expect


def _refresh(w: World, wl: Workload) -> tuple[list[str], list[dict], dict]:
    rng, sp = w.rng, wl.species
    n = wl.sizes.gaf_lines
    used: set = set()
    kinds = {"touch": 0.55, "update": 0.15, "insert": 0.22}  # assumed shares
    simple: dict[str, list[dict]] = {k: [] for k in kinds}
    genes = w.active[sp]
    for kind, share in kinds.items():
        while len(simple[kind]) < int(n * share):
            line = _simple_line(w, rng.choice(genes), w.plain_term(), used)
            if line is not None:
                simple[kind].append(line)

    store: list[dict] = []
    counts = dict(touched=0, updated=0, inserted=0)
    iso_kept = 0
    for kind, lines in simple.items():
        for line in lines:
            pred = _predict(w, wl.ref_rgd_id, line)
            counts[{"touch": "touched", "update": "updated", "insert": "inserted"}[kind]] += len(pred)
            if kind == "insert":
                continue
            iso_kept += len(pred) - 1
            if kind == "update":
                changed = "notes" if rng.random() < 0.5 else "date"
                for r in pred:
                    if changed == "notes":
                        r["notes"] = "superseded note"
                    else:
                        r["original_created_date"] -= timedelta(days=365)
            store.extend(pred)

    # pipeline rows the delta no longer produces: stale-delete candidates
    n_stale = max(1, int(0.07 * (len(simple["touch"]) + len(simple["update"]))))
    stale_lines = []
    while len(stale_lines) < n_stale:
        line = _simple_line(w, rng.choice(genes), w.plain_term(), used)
        if line is not None:
            stale_lines.append(line)
    stale_direct = stale_iso = 0
    for line in stale_lines:
        pred = _predict(w, wl.ref_rgd_id, line)
        stale_direct += 1
        stale_iso += len(pred) - 1
        store.extend(pred)
    # rat-ISO rows derived from the species that do not run tonight
    other = MOUSE if sp != MOUSE else HUMAN
    n_other = max(1, iso_kept)
    other_iso = 0
    while other_iso < n_other:
        line = _simple_line(w, rng.choice(w.active[other]), w.plain_term(), used)
        if line is None:
            continue
        line["ev"] = "IDA"
        iso_rows = _predict(w, 0, line)[1:]  # the direct row is not stored
        store.extend(iso_rows)
        other_iso += len(iso_rows)

    noise = _refresh_noise(w, sp, n - sum(len(v) for v in simple.values()))
    lines = [_simple_gaf(w, sp, l) for v in simple.values() for l in v] + noise
    rng.shuffle(lines)
    store += _filler_rows(w, wl.sizes.store_filler)

    # the reference's threshold rule, evaluated on the predicted counts
    pct = int(CFG.stale_annot_delete_threshold.rstrip("%"))

    def aborts(count0: int, inserted: int, cand: int) -> bool:
        current = count0 + inserted
        return count0 - (current - cand) > (pct * current) // 100

    d_ins = len(simple["insert"])
    d0 = len(simple["touch"]) + len(simple["update"]) + stale_direct
    iso_ins = counts["inserted"] - d_ins
    iso0 = iso_kept + stale_iso + other_iso
    expect = dict(
        **counts,
        stale_species=stale_direct,
        stale_iso=stale_iso + other_iso,
        species_abort=aborts(d0, d_ins, stale_direct),
        iso_abort=aborts(iso0, iso_ins, stale_iso + other_iso),
    )
    if expect["species_abort"] or not expect["iso_abort"]:
        raise RuntimeError(f"refresh mix misses its delete paths: {expect}")
    return lines, store, expect


def _refresh_noise(w: World, sp: int, n: int) -> list[str]:
    """QC-dropped delta lines: unmatched ids, wrong species, Not4Curation,
    missing terms, IPI x catalytic, and a source outside the filter."""
    rng = w.rng
    out = []
    other = MOUSE if sp != MOUSE else HUMAN
    for k in range(n):
        gene = rng.choice(w.active[sp])
        sym, name = w.symbol[gene]
        acc = w.acc[(gene, 14)]
        go, ev = w.plain_term(), "IDA"
        kind = k % 6
        if kind == 0:
            acc = f"XH{rng.randrange(10**7):07d}"
        elif kind == 1:
            acc = w.acc[(rng.choice(w.active[other]), 14)]
        elif kind == 2:
            go = rng.choice(NOT4CURATION)
        elif kind == 3:
            go = f"GO:9{rng.randrange(10**6):06d}"
        elif kind == 4:
            go, ev = rng.choice(w.catalytic), "IPI"
        db = "ComplexPortal" if kind == 5 else "UniProtKB"
        out.append(_gaf(db, acc, sym, "", go, _pmid(rng), ev, "", "F", name,
                        TAXON[sp], _day(rng), "UniProt"))
    return out


def generate(workload: str, seed: int, out_dir: str, sizes: Sizes | None = None) -> dict:
    """Write every input of ``workload`` for ``seed`` into ``out_dir``
    and return the manifest; its paths are relative to ``out_dir``."""
    wl = WORKLOADS[workload]
    if sizes is not None:
        wl = replace(wl, sizes=sizes)
    rng = random.Random(f"{workload}:{seed}:{GEN_VERSION}")
    w = World(rng, n_genes=max(60, wl.sizes.gaf_lines // 8))
    lines, store, expect = (_load if workload == "annot_load" else _refresh)(w, wl)
    for key, row in enumerate(store, start=1):
        row["full_annot_key"] = key

    os.makedirs(out_dir, exist_ok=True)
    dims = w.write_dims(out_dir)
    gaf_name = f"{workload}.gaf"
    with open(os.path.join(out_dir, gaf_name), "w") as fh:
        fh.write("!gaf-version: 2.2\n!generated-by: perfbench\n")
        fh.write("\n".join(lines) + "\n")
    _write_parquet(
        os.path.join(out_dir, "full_annot"),
        S.FULL_ANNOT_SCHEMA,
        [tuple(r[c] for c in _FA_COLS) for r in store],
    )

    line_counts: dict[str, int] = {}
    for ln in lines:
        key = f"lines[{ln.split(chr(9), 1)[0]}]"
        line_counts[key] = line_counts.get(key, 0) + 1
    return dict(
        workload=workload,
        seed=seed,
        sizes=asdict(wl.sizes),
        species=wl.species,
        ref_rgd_id=wl.ref_rgd_id,
        sources=list(wl.sources),
        gaf=gaf_name,
        dims=dims,
        store="full_annot",
        store_rows=len(store),
        lines=line_counts,
        expect=expect,
    )


def manifest_file(workload: str, seed: int, cache_root: str, sizes: Sizes | None = None) -> str:
    """The manifest of the cache entry of ``(workload, seed, sizes)``;
    the entry is complete once this file exists."""
    s = sizes or WORKLOADS[workload].sizes
    return os.path.join(
        cache_root, f"{workload}-s{seed}-g{s.gaf_lines}-f{s.store_filler}-v{GEN_VERSION}",
        "manifest.json",
    )


def load_or_generate(workload: str, seed: int, cache_root: str, sizes: Sizes | None = None) -> tuple[str, dict]:
    """Cached ``generate``: returns (entry directory, manifest). A
    missing entry is built in a child process, so the caller's memory
    (``peak_rss_mb``) does not depend on whether the cache was warm."""
    s = sizes or WORKLOADS[workload].sizes
    manifest_path = manifest_file(workload, seed, cache_root, s)
    root = os.path.dirname(manifest_path)
    if not os.path.exists(manifest_path):
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        path = os.pathsep.join(filter(None, [repo, os.environ.get("PYTHONPATH")]))
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), workload, str(seed), root,
             str(s.gaf_lines), str(s.store_filler)],
            check=True,
            env={**os.environ, "PYTHONPATH": path},
        )
    with open(manifest_path) as fh:
        return root, json.load(fh)


def _write_entry(workload: str, seed: int, root: str, sizes: Sizes) -> None:
    tmp = root + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    manifest = generate(workload, seed, tmp, sizes)
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    shutil.rmtree(root, ignore_errors=True)
    os.rename(tmp, root)


if __name__ == "__main__":
    # python3 gen.py WORKLOAD SEED ENTRY_DIR GAF_LINES STORE_FILLER
    wl_name, seed_arg, entry, lines_arg, filler_arg = sys.argv[1:]
    _write_entry(wl_name, int(seed_arg), entry, Sizes(int(lines_arg), int(filler_arg)))
