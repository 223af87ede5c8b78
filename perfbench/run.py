"""Pipeline benchmark: ``plans.pipeline.run_pipeline`` on seeded inputs.

Usage, from the repository root::

    python3 perfbench/run.py --workload loglines --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

One client, closed loop: one pipeline run at a time on a
``local[<cores>]`` session.  A run is the ``run_pipeline`` call with the
arguments ``jobs/run_pipeline.py`` passes by default, plus collecting
``per_sink_counts``, ``hourly_rollup`` and ``conv_counts``.  Every timed
run is checked against a DuckDB oracle over the same generated parquet.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` also makes
one traced run and a facet pass, and reports the per-layer metrics.  The
last line of standard output is one JSON object.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

# Input sizes are fixed per workload; only the seed varies.  ``rerun`` has
# the loglines shape at 5x the turns: at 40k a rerun is ~0.8 s of per-job
# overhead whose level differs by ~20% from one JVM to the next; at 200k the
# read side's per-row work takes a larger share and the level varies less
# (see README.md, Sizing).
WORKLOADS = {
    "loglines": {"turns": 40_000, "prose_frac": 0.0, "rerun": False},
    "prose": {"turns": 20_000, "prose_frac": 0.6, "rerun": False},
    "rerun": {"turns": 200_000, "prose_frac": 0.0, "rerun": True},
}
CORES = len(os.sched_getaffinity(0))  # what nproc reports
PARSE_IMPL = "native"  # the jobs/run_pipeline.py default
SETUP_REPS = 3
FACET_REPS = 3
# untimed runs before the timed ones, for at least WARMUP_S seconds and
# WARMUP_RUNS runs: run times keep drifting down for a minute or two as the
# JIT compiles Spark's planner, and a fixed warm-up puts the timed window at
# the same point of that drift; the run count keeps a slow first run (up to
# 4x the others) from using up the warm-up on its own
WARMUP_S, WARMUP_RUNS = 5.0, 3
TRACE_WARMUP_S = 8.0  # after the session restart of the traced run
# fixed, pre-touched heap (-Xms = -Xmx, AlwaysPreTouch): the share of the
# heap that G1 has touched by the end of a run depends on its GC timing,
# not on the work, so the heap counts as a constant and peak_rss_mb moves
# with the memory outside it (metaspace, code, native buffers, Python workers)
DRIVER_MEMORY = "2g"

END_TO_END_UNITS = {
    "setup_s": "s",
    "turns_per_s": "turns/s",
    "sink_bytes_per_turn": "B/turn",
    "peak_rss_mb": "MB",
    "ok_run_frac": "frac",
}

PER_LAYER_UNITS = {
    "sources.scan_s": "s", "sources.bytes_read": "B",
    "functions.parse.self_s": "s", "functions.parse.cpu_s": "s",
    "functions.parse.unknown_frac": "frac",
    "operators.enrich.self_s": "s", "operators.enrich.miss_frac": "frac",
    "operators.enrich.shuffle_bytes": "B", "operators.router.tag_self_s": "s",
    "sources.route_write_s": "s", "sources.bytes_written": "B",
    "sources.files_written": "count", "sources.write_max_task_s": "s",
    "operators.aggregate.sink_counts_s": "s",
    "operators.aggregate.hourly_rollup_s": "s",
    "operators.aggregate.conv_count_s": "s",
    "operators.aggregate.shuffle_bytes": "B",
    "operators.aggregate.max_task_s": "s",
    "plans.manifest.fingerprint_s": "s", "plans.manifest.readback_s": "s",
    "plans.manifest.stages_skipped": "count", "plans.pipeline.self_s": "s",
    "spark.gc_s": "s", "spark.spill_bytes": "B",
    "trace.overhead_turns_per_s": "turns/s",
}


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


# -- process memory --------------------------------------------------------

def _process_tree(root_pid: int) -> list[int]:
    """``root_pid`` and all its descendants (the JVM and its Python workers)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def reset_peak_rss(root_pid: int) -> None:
    for pid in _process_tree(root_pid):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def peak_rss_mb(root_pid: int) -> float:
    total_kb = 0
    for pid in _process_tree(root_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024


def parquet_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet data files under ``path``."""
    total = files = 0
    for p in Path(path).rglob("*.parquet"):
        total += p.stat().st_size
        files += 1
    return total, files


# -- the benchmark -----------------------------------------------------------

class Bench:
    def __init__(self, workload: str, seed: int, work: Path) -> None:
        self.name = workload
        self.wl = WORKLOADS[workload]
        self.seed = seed
        self.work = work
        self.input_path = str(work / "input")
        self.primed_path = str(work / "primed")
        self.spark = None
        self.n_runs = 0

    # session ---------------------------------------------------------------
    def start_session(self, ui: bool) -> None:
        from log_analysis_spark.session import get_spark

        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData -XX:+AlwaysPreTouch",
            "spark.local.dir": str(self.work / "local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.driver.host": "127.0.0.1",
            "spark.driver.bindAddress": "127.0.0.1",
        }
        if ui:
            conf.update({"spark.ui.enabled": "true", "spark.ui.port": "0"})
        self.spark = get_spark(
            f"perfbench-{self.name}", master=f"local[{CORES}]", extra_conf=conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    # setup -----------------------------------------------------------------
    def materialize(self) -> None:
        from inputs import transcripts

        transcripts(
            self.spark, self.wl["turns"], self.seed, self.wl["prose_frac"],
            partitions=CORES,
        ).write.mode("overwrite").parquet(self.input_path)
        self.turns = self.spark.read.parquet(self.input_path)
        if self.wl["rerun"]:
            shutil.rmtree(self.primed_path, ignore_errors=True)
            self.pipeline(self.primed_path)

    def pipeline(self, out_dir: str):
        from log_analysis_spark.plans.pipeline import run_pipeline

        return run_pipeline(self.spark, self.turns, out_dir, parse_impl=PARSE_IMPL)

    def out_dir(self) -> str:
        if self.wl["rerun"]:
            return self.primed_path
        self.n_runs += 1
        return str(self.work / "runs" / f"r{self.n_runs}")

    def one_run(self, out_dir: str):
        """One timed run: the pipeline call plus collecting its results."""
        t0 = time.perf_counter()
        res = self.pipeline(out_dir)
        hourly = res.hourly_rollup.collect()
        conv = res.conv_counts.collect()
        return time.perf_counter() - t0, res, hourly, conv

    def checked_run(self, exp, con) -> dict:
        """Run once and check against the oracle; never raises."""
        from oracle import check, routed_stats

        out = self.out_dir()
        rec = {"ok": False, "wall_s": None, "sink_bytes": 0}
        try:
            wall, res, hourly, conv = self.one_run(out)
            rec["wall_s"] = wall
            bad = check(
                exp, res.per_sink_counts, res.n_turns, hourly, conv,
                routed_stats(con, res.routed_path),
            )
            rec["sink_bytes"] = parquet_bytes(res.routed_path)[0]
            rec["ok"] = not bad
            for msg in bad:
                print(f"check failed: {msg}", file=sys.stderr)
        except Exception:  # a failing run is counted, not fatal
            traceback.print_exc()
        if not self.wl["rerun"]:
            shutil.rmtree(out, ignore_errors=True)
        return rec


def warm_up(bench: Bench, seconds: float, runs: int = 1) -> list[float]:
    """Untimed runs for at least ``seconds`` and at least ``runs`` runs."""
    walls: list[float] = []
    deadline = time.perf_counter() + seconds
    while len(walls) < runs or time.perf_counter() < deadline:
        out = bench.out_dir()
        try:
            walls.append(bench.one_run(out)[0])
        except Exception:
            traceback.print_exc()
            break
        finally:
            if not bench.wl["rerun"]:
                shutil.rmtree(out, ignore_errors=True)
    return walls


def facet_pass(bench: Bench, tracer) -> None:
    """Split the fused write job into layers by forcing each prefix to the
    ``noop`` sink, then time a write of the persisted tagged frame.  Each
    facet runs ``FACET_REPS`` times, as run ``facet<i>``."""
    from pyspark import StorageLevel

    from log_analysis_spark.datagen import role_taxonomy, tool_registry
    from log_analysis_spark.functions.parse import parse_turns
    from log_analysis_spark.operators import enrich, router
    from log_analysis_spark.sources.iceberg import route_write_resumable

    spark = bench.spark

    def noop(name, df, rep):
        with tracer.span(name, run_id=f"facet{rep}"):
            df.write.format("noop").mode("overwrite").save()

    if bench.wl["rerun"]:
        # the rerun scans the routed sinks, not the input; the fused
        # parse / enrich / tag / write job does not run at all
        for rep in range(FACET_REPS):
            noop("facet.scan", spark.read.parquet(f"{bench.primed_path}/routed"), rep)
        return
    parsed = parse_turns(bench.turns, impl=PARSE_IMPL)
    enriched = enrich.enrich_tools(
        enrich.enrich_roles(parsed, role_taxonomy(spark)), tool_registry(spark)
    )
    tagged = router.tag_sinks(enriched, router.default_rules())
    for rep in range(FACET_REPS):
        for name, df in [("facet.scan", bench.turns), ("facet.parse", parsed),
                         ("facet.enrich", enriched), ("facet.tag", tagged)]:
            noop(name, df, rep)
    # after the prefixes: the cache serves every plan equal to ``tagged``
    cached = tagged.persist(StorageLevel.MEMORY_AND_DISK)
    cached.count()
    for rep in range(FACET_REPS):
        out = str(bench.work / "write_only")
        with tracer.span("facet.write_only", run_id=f"facet{rep}"):
            route_write_resumable(cached, out)
        shutil.rmtree(out, ignore_errors=True)
    cached.unpersist()


def traced_run(bench: Bench, exp, con, untraced_tps: float) -> tuple[dict, dict]:
    """Restart the session with the UI on, make one traced run and the facet
    pass; return (per-layer metrics, check record)."""
    from oracle import check, routed_glob, routed_stats
    from spans import Tracer, attach_stage_counters, patched

    bench.stop_session()
    bench.start_session(ui=True)
    bench.turns = bench.spark.read.parquet(bench.input_path)
    sc = bench.spark.sparkContext
    ui_port = int(sc.uiWebUrl.rsplit(":", 1)[1])
    warm_up(bench, TRACE_WARMUP_S)  # the JVM is warm; this settles the new context

    tracer = Tracer(sc)
    out = bench.out_dir()
    with patched(tracer), tracer.span("run", run_id="traced") as root:
        with tracer.span("plans.pipeline"):
            res = bench.pipeline(out)
        with tracer.span("operators.aggregate.hourly_rollup"):
            hourly = res.hourly_rollup.collect()
        with tracer.span("operators.aggregate.conv_count"):
            conv = res.conv_counts.collect()
    bad = check(
        exp, res.per_sink_counts, res.n_turns, hourly, conv,
        routed_stats(con, res.routed_path),
    )
    for msg in bad:
        print(f"check failed (traced run): {msg}", file=sys.stderr)
    sink_bytes, sink_files = parquet_bytes(res.routed_path)
    unknown, lookups, misses = con.execute(
        "SELECT count_if(turn_class = 'unknown'), count(*) + count_if(tool <> '-'),"
        " count_if(role_status <> 'ok') + count_if(tool <> '-' AND tool_status <> 'ok')"
        f" FROM read_parquet('{routed_glob(res.routed_path)}', hive_partitioning = true)"
    ).fetchone()
    skipped = len(res.stages_skipped)
    if not bench.wl["rerun"]:
        shutil.rmtree(out, ignore_errors=True)

    facet_pass(bench, tracer)
    attach_stage_counters(sc, ui_port, tracer.spans)

    def span(name):
        return tracer.find(name, "traced")

    def dur(name):
        s = span(name)
        return s.dur if s else 0.0

    def counter(names, key, agg=sum):
        vals = [span(n).counters[key] for n in names if span(n)]
        return agg(vals) if vals else 0

    def facet(name, key=None):
        """Median over the facet reps of a facet's duration or counter."""
        reps = [tracer.find(name, f"facet{i}") for i in range(FACET_REPS)]
        vals = [(s.counters[key] if key else s.dur) for s in reps if s]
        return _median(vals)

    def facet_delta(name, prev, key=None):
        if tracer.find(name, "facet0") is None:
            return 0.0  # the layer did not run
        return facet(name, key) - facet(prev, key)

    run_spans = [s.name for s in tracer.spans if s.run_id == "traced"]
    agg_spans = [
        "operators.aggregate.sink_counts",
        "operators.aggregate.hourly_rollup",
        "operators.aggregate.conv_count",
    ]
    turns = exp.turns
    traced_tps = turns / root.dur
    layer = {
        "sources.scan_s": facet("facet.scan"),
        "sources.bytes_read": counter(run_spans, "input_bytes"),
        "functions.parse.self_s": facet_delta("facet.parse", "facet.scan"),
        "functions.parse.cpu_s": facet_delta("facet.parse", "facet.scan", "cpu_s"),
        "functions.parse.unknown_frac": unknown / turns,
        "operators.enrich.self_s": facet_delta("facet.enrich", "facet.parse"),
        "operators.enrich.miss_frac": misses / lookups,
        "operators.enrich.shuffle_bytes": facet("facet.enrich", "shuffle_bytes"),
        "operators.router.tag_self_s": facet_delta("facet.tag", "facet.enrich"),
        "sources.route_write_s": facet("facet.write_only"),
        "sources.bytes_written": sink_bytes,
        "sources.files_written": sink_files,
        "sources.write_max_task_s": counter(["sources.route_write"], "max_task_s"),
        "operators.aggregate.sink_counts_s": dur(agg_spans[0]),
        "operators.aggregate.hourly_rollup_s": dur(agg_spans[1]),
        "operators.aggregate.conv_count_s": dur(agg_spans[2]),
        "operators.aggregate.shuffle_bytes": counter(agg_spans, "shuffle_bytes"),
        "operators.aggregate.max_task_s": counter(agg_spans, "max_task_s", agg=max),
        "plans.manifest.fingerprint_s": dur("plans.manifest.fingerprint"),
        "plans.manifest.readback_s": dur("plans.manifest.readback"),
        "plans.manifest.stages_skipped": skipped,
        "plans.pipeline.self_s": tracer.self_time(span("plans.pipeline")),
        "spark.gc_s": counter(run_spans, "gc_s"),
        "spark.spill_bytes": counter(run_spans, "spill_bytes"),
        "trace.overhead_turns_per_s": traced_tps - untraced_tps,
    }
    out_dir = ROOT / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)
    tracer.dump(
        str(out_dir / f"spans-{bench.name}-seed{bench.seed}.json"),
        {"workload": bench.name, "seed": bench.seed, "per_layer": layer,
         "traced_turns_per_s": traced_tps, "untraced_turns_per_s": untraced_tps},
    )
    return layer, {"ok": not bad}



def run_workload(args) -> int:
    sys.path[:0] = [str(ROOT), str(HERE)]
    import oracle  # imports the program; fails outside a full checkout
    from inputs import measure_properties

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ.update({
        "TZ": "UTC",
        "TMPDIR": str(work / "tmp"),
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "SPARK_LOCAL_IP": "127.0.0.1",
    })
    time.tzset()

    bench = Bench(args.workload, args.seed, work)
    gateway = None
    try:
        t0 = time.perf_counter()
        bench.start_session(ui=False)
        session_s = time.perf_counter() - t0
        gateway = bench.spark.sparkContext._gateway
        reps = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            bench.materialize()
            reps.append(time.perf_counter() - t0)
        setup_s = session_s + _median(reps)

        con = oracle.connect(str(work), CORES)
        input_glob = f"{bench.input_path}/*.parquet"
        exp = oracle.expected(con, input_glob)
        props = measure_properties(con, input_glob, exp.classes)
        print(f"# {args.workload} seed={args.seed} input: {json.dumps(props)}")

        warm = warm_up(bench, WARMUP_S, WARMUP_RUNS)
        print(f"# warm-up runs (s): {[round(w, 3) for w in warm]}")
        pid = bench.jvm_pid()
        reset_peak_rss(pid)
        recs = []
        deadline = time.perf_counter() + args.seconds
        while not recs or time.perf_counter() < deadline:
            recs.append(bench.checked_run(exp, con))
        rss = peak_rss_mb(pid)

        ok = [r for r in recs if r["ok"]]
        walls = [r["wall_s"] for r in ok]
        failed = len(recs) - len(ok)
        tps = exp.turns / _median(walls) if walls else 0.0
        e2e = {
            "setup_s": setup_s,
            "turns_per_s": tps,
            "sink_bytes_per_turn": _median([r["sink_bytes"] for r in ok]) / exp.turns,
            "peak_rss_mb": rss,
            "ok_run_frac": len(ok) / len(recs),
        }
        print(f"# setup reps (s): {[round(r, 3) for r in reps]}, session {session_s:.3f}")
        print(f"# timed runs: {len(recs)}, ok walls (s): {[round(w, 3) for w in walls]}")
        for k, v in e2e.items():
            print(f"{args.workload:9s} {k:22s} {v:14.4f} {END_TO_END_UNITS[k]}")
        print(f"{args.workload:9s} {'failed_run_frac':22s} {failed / len(recs):14.4f} frac")

        if args.trace:
            layer, rec = traced_run(bench, exp, con, tps)
            recs.append(rec)
            failed = sum(1 for r in recs if not r["ok"])
            for k, v in layer.items():
                print(f"{args.workload:9s} {k:34s} {v:16.6f} {PER_LAYER_UNITS[k]}")
            metrics = {k: {"value": v, "unit": PER_LAYER_UNITS[k]} for k, v in layer.items()}
        else:
            metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}
        con.close()
    finally:
        bench.stop_session()
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()  # only when no other invocation is using it
        except OSError:
            pass

    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(recs),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def run_all(args) -> int:
    """Each workload in its own process; print every metric by name."""
    code = 0
    for name in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, __file__, "--workload", name, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True,
        )
        lines = proc.stdout.splitlines()
        print("\n".join(line for line in lines[:-1] if not line.startswith("#")))
        code = code or proc.returncode
    return code


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    return run_all(args) if args.workload == "all" else run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
