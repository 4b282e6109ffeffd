"""Tests of the benchmark itself: generator determinism, the checker,
and one tiny-size run of each workload.

    python3 -m pytest perfbench/tests -q

The two smoke runs start their own Spark session each (about a minute
apiece on a 4-core box).
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
REPO = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, REPO]

import gen  # noqa: E402
import iteration as it  # noqa: E402

TINY = gen.Sizes(gaf_lines=300, store_filler=2_000)


def _tree_digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            path = os.path.join(d, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", sorted(gen.WORKLOADS))
def test_generator_is_deterministic_per_seed(tmp_path, workload):
    a = gen.generate(workload, 5, str(tmp_path / "a"), TINY)
    b = gen.generate(workload, 5, str(tmp_path / "b"), TINY)
    c = gen.generate(workload, 6, str(tmp_path / "c"), TINY)
    assert a == b
    assert _tree_digest(str(tmp_path / "a")) == _tree_digest(str(tmp_path / "b"))
    gaf = a["gaf"]
    assert _tree_digest(str(tmp_path / "a"))[gaf] != _tree_digest(str(tmp_path / "c"))[gaf]
    assert sum(a["lines"].values()) == TINY.gaf_lines


def test_cache_returns_the_generated_entry(tmp_path):
    root, first = gen.load_or_generate("annot_refresh", 3, str(tmp_path), TINY)
    root2, again = gen.load_or_generate("annot_refresh", 3, str(tmp_path), TINY)
    assert (root, first) == (root2, again)
    assert os.path.isdir(os.path.join(root, first["store"]))


def _valid_report(manifest: dict) -> tuple[dict, int]:
    """A report that satisfies every check for ``manifest``."""
    exp = manifest["expect"]
    inserted = exp.get("inserted", 40)
    deleted = {k: 0 if exp[f"{k}_abort"] else exp[f"stale_{k}"] for k in ("species", "iso")}
    ins = {"species": inserted // 2, "iso": inserted - inserted // 2}
    before = {"species": 100, "iso": 200}
    report = dict(
        lines=dict(manifest["lines"]),
        inserted=inserted,
        updated=exp.get("updated", 0),
        touched=exp.get("touched", 0),
        deleted_species=deleted["species"],
        deleted_iso=deleted["iso"],
        before=before,
        after={k: before[k] + ins[k] - deleted[k] for k in before},
    )
    table_rows = manifest["store_rows"] + inserted - sum(deleted.values())
    return report, table_rows


@pytest.mark.parametrize(
    "tamper",
    [
        lambda r: r.update(touched=r["touched"] + 1),
        lambda r: r["lines"].update({"lines[UniProtKB]": 1}),
        lambda r: r["after"].update(iso=r["after"]["iso"] + 1),
        lambda r: r.update(deleted_iso=r["deleted_iso"] + 3),
        lambda r: r.update(inserted=r["inserted"] + 1),
    ],
)
def test_checker_rejects_a_tampered_report(tmp_path, tamper):
    _, manifest = gen.load_or_generate("annot_refresh", 1, str(tmp_path), TINY)
    report, rows = _valid_report(manifest)
    assert it.check_report(report, manifest, rows) == []
    tamper(report)
    assert it.check_report(report, manifest, rows) != []
    assert it.check_report(_valid_report(manifest)[0], manifest, rows + 1) != []


def test_checker_rejects_a_tampered_digest():
    pinned = it.PINNED_DIGESTS[("annot_load", 1)]
    rows, total = pinned.split(":")
    tampered = f"{rows}:{int(total) + 1}"
    assert it.check_digest(pinned, "annot_load", 1, True) == []
    assert it.check_digest(tampered, "annot_load", 1, True) != []
    # the pin holds at the default sizes only
    assert it.check_digest(tampered, "annot_load", 1, False) == []


@pytest.mark.parametrize("workload,trace", [("annot_load", 0), ("annot_refresh", 1)])
def test_tiny_run_of_each_workload(tmp_path, workload, trace):
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    cmd = [
        sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
        "--seed", "2", "--seconds", "1", "--trace", str(trace),
        "--gaf-lines", str(TINY.gaf_lines), "--store-filler", str(TINY.store_filler),
        "--work-dir", str(tmp_path),
    ]
    proc = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, proc.stderr[-3000:]
    wanted = spec["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
