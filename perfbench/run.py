"""Benchmark of the GO annotation pipeline (BENCHMARK.json).

    python3 perfbench/run.py --workload annot_load --seed 1 --seconds 40 --trace 0

Run from the repository root. One process, one closed-loop client, one
iteration, at ``local[nproc]``, in the program's own Spark session with
a 1 GB driver heap (see start_session). A run is one short-lived Spark
JVM, as the nightly FULL_ANNOT job is:

1. set-up (``setup_s``): start the Spark session, then three times
   generate or load the seeded inputs, open them and restore the pre-run
   store; ``setup_s`` is the session start plus the median pass. On a
   cold input cache the first pass also generates the inputs, so the
   median leaves generation out; the stamp records ``cache_cold`` and
   every pass;
2. ``--trace 0``: one iteration (iteration.run_iteration) on the clock
   gives ``run_s``, and the memory sampled during it ``peak_rss_mb``.
   The iteration runs once in the fresh JVM: on a 4-core box it takes
   30-55 s, so no run affords a warm-up plus several timed iterations,
   and ``--seconds`` does not change what is measured;
3. ``--trace 1``: the real ``run_pipeline`` for the workload's species
   job, with spans around the layers' public functions, gives the
   per-layer numbers (``run.trace_overhead_s`` is the time the tracer
   spent in its own Spark calls); then the probes (qc.exec_s,
   consolidate.exec_s, run.readback_s, plans.build_s /
   operators.exec_s) run with tracing off.

Either run is checked off the clock: the run report's reconciliation,
the generator-known counts and, at seed 1, the pinned store digest.

The last stdout line is the result JSON: ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones. The line before it
stamps the run: nproc, defaultParallelism, loadavg at start and end, CPU
time stolen by other guests, CPU calibration, Spark and Python versions,
fail_rate, set-up passes.
Stamp and spans are also written to ``.perfbench_work/records/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import random
import shutil
import statistics
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path[:0] = [HERE, REPO]

import pyspark  # noqa: E402

from go_nonrat_annotation_pipeline_spark.pipeline import consolidate, qc  # noqa: E402
from go_nonrat_annotation_pipeline_spark.pipeline import gaf as gaf_layer  # noqa: E402
from go_nonrat_annotation_pipeline_spark.pipeline import run as run_layer  # noqa: E402
from go_nonrat_annotation_pipeline_spark.pipeline.config import PipelineConfig  # noqa: E402
from go_nonrat_annotation_pipeline_spark.pipeline.run import RunReport  # noqa: E402
from go_nonrat_annotation_pipeline_spark.pipeline.sink import AnnotStore  # noqa: E402
from go_nonrat_annotation_pipeline_spark.session import get_spark  # noqa: E402

import gen  # noqa: E402
import iteration as it  # noqa: E402
from spans import Tracer, self_time, subtree  # noqa: E402

SETUP_REPEATS = 3
# the registry's pipeline query over in-package fixtures: it needs no
# dataset outside the repository
PLANS_PROBE = "pipeline_e2e_mouse"


# ---------------------------------------------------------------------------
# environment
# ---------------------------------------------------------------------------
def _loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def cpu_calibration() -> float:
    """Median of three timings of a fixed pure-Python workload (seeded
    sort + hashing): a box-speed reference stored with every record."""
    data = [random.Random(7).random() for _ in range(300_000)]
    blob = bytes(range(256)) * 65_536
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        sorted(data)
        hashlib.sha256(blob).hexdigest()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


class RssSampler:
    """While open, samples the resident memory of this process plus the
    Spark JVM every 50 ms; ``peak`` is the largest sum seen."""

    def __init__(self, jvm_pid: int):
        self.pids = [os.getpid(), jvm_pid]
        self.page = os.sysconf("SC_PAGE_SIZE")
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _rss(self) -> int:
        total = 0
        for pid in self.pids:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * self.page
        return total

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, self._rss())
            if self._stop.wait(0.05):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def start_session(work: str):
    """The program's own session (``get_spark``: its collector, JIT and
    confs) with a 1 GB driver heap, its scratch directories kept in the
    work directory and the status store keeping every job for the tracer.

    The heap is capped below get_spark's 8 GB default because an uncapped
    G1 heap grows with GC timing: on a 4-core box peak_rss_mb then read
    3.5-6.0 GB across seeds of one workload, wider than any bound. At 1 GB
    the iteration grows the heap to or near its cap (no pre-touch) and
    peak_rss_mb repeats within ~2%; a change that retains more data then
    shows as GC time in run_s, and one that lets the heap stay below the
    cap shows in peak_rss_mb."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    spark = get_spark(
        "perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the Spark JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


# ---------------------------------------------------------------------------
# runs
# ---------------------------------------------------------------------------
def timed_run(spark, cfg: PipelineConfig, inp: it.Inputs) -> tuple[dict, float, float]:
    """The untraced iteration (iteration.run_iteration) on the clock;
    returns its report, wall time and peak memory (MB)."""
    inp.restore()
    with RssSampler(spark.sparkContext._gateway.proc.pid) as rss:
        t0 = time.perf_counter()
        report = it.run_iteration(spark, cfg, inp)
        wall = time.perf_counter() - t0
    return report, wall, rss.peak / 2**20


def install_tracer(spark) -> Tracer:
    tr = Tracer(spark)
    tr.wrap(run_layer, "process_species", "run.species")
    tr.wrap(AnnotStore, "count_for_ref", "sink.count")
    tr.wrap(AnnotStore, "merge_upsert", "sink.merge")
    tr.wrap(AnnotStore, "delete_stale", "sink.delete")
    # run and qc bind the layers' functions at import: wrap them where
    # they are called
    tr.wrap(run_layer, "derive_annotations", "qc.derive")
    tr.wrap(run_layer, "consolidate_with_info", "consolidate.build")
    tr.wrap(run_layer, "merge_duplicates", "consolidate.build")
    tr.wrap(qc, "transitive_descendants", "operators.closure")
    tr.wrap(qc, "resolve_history", "operators.closure")
    tr.capture_counts(type(spark.range(0)))
    return tr


def traced_run(spark, cfg: PipelineConfig, inp: it.Inputs) -> tuple[dict, Tracer, RunReport]:
    """One ``run_pipeline`` call for the workload's species job with
    every layer wrapped; returns its report (run_iteration's shape),
    the tracer and run_pipeline's own report."""
    job = inp.species_job()
    inp.restore()
    tr = install_tracer(spark)
    tr.enabled = True
    try:
        with tr.span("run.pipeline"):
            run = run_layer.run_pipeline(
                spark, cfg, inp.dims, inp.store, [job], run_ts=it.RUN_TS
            )
    finally:
        tr.enabled = False
        tr.unwrap_all()
    return it.pipeline_report(run, job), tr, run


def layer_metrics(tr: Tracer, report: dict, counters: dict, table: dict) -> dict:
    """Per-layer numbers of the traced ``run_pipeline`` call."""
    spans = tr.spans

    def named(name):
        return [s for s in spans if s.name == name]

    def total(name, attr="wall"):
        return sum(getattr(s, attr) for s in named(name))

    def jobs(name):
        return sum(len(x.jobs) for s in named(name) for x in subtree(s, spans))

    def written(name, attr):
        return sum(getattr(x, attr) for s in named(name) for x in subtree(s, spans))

    root = named("run.pipeline")[0]
    species = named("run.species")
    deleted = report["deleted_species"] + report["deleted_iso"]
    aborts = sum(
        1 for s in named("sink.delete") if s.result == 0 and s.counts and s.counts[-1] > 0
    )
    rewritten = written("sink.merge", "output_rows") + written("sink.delete", "output_rows")
    return {
        "run.pipeline_s": root.wall,
        "run.self_s": self_time(root, spans),
        "run.species_s": total("run.species"),
        "run.species_self_s": sum(self_time(s, spans) for s in species),
        "run.species_self_jobs": sum(len(s.jobs) for s in species),
        "run.trace_overhead_s": tr.overhead_s,
        "gaf.lines": sum(report["lines"].values()),
        "qc.derive_s": total("qc.derive"),
        "qc.derive_jobs": jobs("qc.derive"),
        "qc.closure_s": total("operators.closure"),
        # side outputs are counted under their own name, counter frames
        # as name[key]
        "qc.side_rows": sum(v for k, v in counters.items() if "[" not in k),
        "qc.match_rows": sum(v for k, v in counters.items() if k.startswith("match_by_db[")),
        "consolidate.build_s": total("consolidate.build"),
        "sink.merge_s": total("sink.merge"),
        "sink.merge_jobs": jobs("sink.merge"),
        "sink.inserted": report["inserted"],
        "sink.updated": report["updated"],
        "sink.touched": report["touched"],
        "sink.delete_s": total("sink.delete"),
        "sink.delete_jobs": jobs("sink.delete"),
        "sink.deleted": deleted,
        "sink.delete_aborts": aborts,
        "sink.count_s": total("sink.count"),
        "sink.count_calls": len(named("sink.count")),
        "sink.count_jobs": sum(len(s.jobs) for s in named("sink.count")),
        "sink.bytes_written": written("sink.merge", "output_bytes") + written("sink.delete", "output_bytes"),
        "sink.rows_rewritten": rewritten,
        "sink.useful_ratio": (report["inserted"] + report["updated"] + deleted) / max(1, rewritten),
        "sink.table_rows": table["rows"],
        "sink.table_bytes": table["bytes"],
        "sink.table_files": table["files"],
        "spark.jobs": sum(len(s.jobs) for s in spans),
        "spark.stages": sum(s.stages for s in spans),
        "spark.tasks": sum(s.tasks for s in spans),
        "spark.shuffle_write_bytes": sum(s.shuffle_write_bytes for s in spans),
        "spark.spill_bytes": sum(s.spill_bytes for s in spans),
    }


def table_stats(inp: it.Inputs) -> dict:
    files = [
        os.path.join(d, f)
        for d, _, fs in os.walk(inp.store.path)
        for f in fs
        if f.endswith(".parquet")
    ]
    return dict(
        rows=inp.store.read().count(),
        bytes=sum(os.path.getsize(f) for f in files),
        files=len(files),
    )


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def probes(spark, cfg: PipelineConfig, inp: it.Inputs) -> tuple[dict, list[str]]:
    """Probes of the traced run, tracing off: QC and consolidation each
    executed alone into a noop sink (their cost is otherwise hidden
    inside sink.merge_s), the chinchilla read-back, and the plans
    registry's fixture-only pipeline query (build vs execute, checked
    against its DuckDB oracle)."""
    import duckdb

    from go_nonrat_annotation_pipeline_spark.plans.registry import all_queries
    from tools.compare import row_multiset

    m = inp.manifest
    lines_df = gaf_layer.filter_sources(gaf_layer.read_gaf(spark, [inp.gaf_path]), m["sources"])
    result = qc.derive_annotations(spark, lines_df, inp.dims, cfg, m["species"], m["ref_rgd_id"])
    annots = result.annots.persist()
    out = {"qc.exec_s": _noop(annots)}
    out["consolidate.exec_s"] = _noop(
        consolidate.merge_duplicates(consolidate.consolidate_with_info(annots))
    )
    annots.unpersist()
    out["run.readback_s"] = _noop(run_layer.chinchilla_readback(inp.store, inp.dims, cfg))

    q = all_queries()[PLANS_PROBE]
    t0 = time.perf_counter()
    df = q.spark(spark, inp.root)
    t1 = time.perf_counter()
    rows = [tuple(r) for r in df.collect()]  # a few rows: collect costs what noop does
    out["operators.exec_s"] = time.perf_counter() - t1
    out["plans.build_s"] = t1 - t0
    cur = duckdb.connect().execute(q.oracle)
    want = row_multiset([d[0] for d in cur.description], cur.fetchall())
    if row_multiset(df.columns, rows) != want:
        return out, [f"{PLANS_PROBE}: Spark result differs from its DuckDB oracle"]
    return out, []


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------
def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument(
        "--seconds", type=float, default=40,
        help="accepted for the benchmark interface; a run measures one iteration",
    )
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--gaf-lines", type=int, help="override the workload's GAF size")
    ap.add_argument("--store-filler", type=int, help="override the workload's store filler")
    ap.add_argument("--work-dir", default=os.path.join(os.getcwd(), ".perfbench_work"))
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    default = gen.WORKLOADS[args.workload].sizes
    sizes = gen.Sizes(
        args.gaf_lines or default.gaf_lines,
        default.store_filler if args.store_filler is None else args.store_filler,
    )
    work = os.path.abspath(args.work_dir)
    live = os.path.join(work, "live", f"{args.workload}-{os.getpid()}")
    stamp = dict(
        workload=args.workload, seed=args.seed, trace=args.trace,
        nproc=len(os.sched_getaffinity(0)), loadavg_start=_loadavg(), steal_s=-_steal_s(),
        calibration_s=cpu_calibration(), python=platform.python_version(),
        spark=pyspark.__version__, sizes=vars(sizes),
        cache_cold=not os.path.exists(gen.manifest_file(
            args.workload, args.seed, os.path.join(work, "inputs"), sizes
        )),
    )
    cfg = PipelineConfig()
    problems: list[str] = []
    tr = None

    t0 = time.perf_counter()
    spark = start_session(work)
    session_s = time.perf_counter() - t0
    stamp["default_parallelism"] = spark.sparkContext.defaultParallelism
    try:
        reps = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            root, manifest = gen.load_or_generate(
                args.workload, args.seed, os.path.join(work, "inputs"), sizes
            )
            inp = it.Inputs.open(spark, root, manifest, live)
            inp.restore()
            reps.append(time.perf_counter() - t0)
        try:
            if args.trace:
                report, tr, run = traced_run(spark, cfg, inp)
            else:
                report, run_s, peak_mb = timed_run(spark, cfg, inp)
                # committed heap at the end of the run: shows whether it hit its cap
                runtime = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
                stamp["heap_committed_mb"] = runtime.totalMemory() / 2**20
        except Exception as exc:  # noqa: BLE001 - reported as a failed iteration
            report = None
            problems.append(f"the iteration raised {type(exc).__name__}: {exc}")
        if report is not None:
            table = table_stats(inp)
            problems += it.check_report(report, manifest, table["rows"])
            stamp["digest"] = it.store_digest(inp.store)
            problems += it.check_digest(
                stamp["digest"], args.workload, args.seed, sizes == default
            )
        if args.trace:
            metrics = {}
            if report is not None:
                metrics = layer_metrics(tr, report, run.species[0].counters, table)
            probe, bad = probes(spark, cfg, inp)
            metrics.update(probe)
            problems += bad
            units = {k: _unit(k) for k in metrics}
        else:
            metrics = {"setup_s": session_s + statistics.median(reps)}
            if report is not None:
                metrics.update(run_s=run_s, peak_rss_mb=peak_mb)
            units = {"setup_s": "s", "run_s": "s", "peak_rss_mb": "MB"}
        stamp.update(
            loadavg_end=_loadavg(), steal_s=round(stamp["steal_s"] + _steal_s(), 2),
            setup_reps_s=reps, session_s=session_s,
            fail_rate=float(bool(problems)), problems=problems,
        )
    finally:
        stop_session(spark)
        shutil.rmtree(live, ignore_errors=True)

    write_record(work, args, stamp, tr)
    for p in problems:
        print("PROBLEM", p, file=sys.stderr)
    print(f"{args.workload} seed={args.seed}:", " ".join(
        f"{k}={v:.6g} {units[k]}" for k, v in metrics.items()
    ), f"fail_rate={stamp['fail_rate']:g} ratio")
    print(json.dumps(dict(stamp=stamp)))
    print(json.dumps(dict(
        correct=not problems,
        attempted=1,
        failed=int(bool(problems)),
        metrics={k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    )))
    return 0


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith("ratio"):
        return "ratio"
    return "count"


def write_record(work: str, args, stamp: dict, tr: Tracer | None) -> None:
    out = os.path.join(work, "records")
    os.makedirs(out, exist_ok=True)
    spans = [
        dict(id=s.sid, name=s.name, parent=s.parent, start=s.start, end=s.end,
             jobs=len(s.jobs), stages=s.stages, tasks=s.tasks)
        for s in (tr.spans if tr else [])
    ]
    path = os.path.join(out, f"{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(path, "w") as fh:
        json.dump(dict(stamp=stamp, spans=spans), fh)


if __name__ == "__main__":
    sys.exit(main())
