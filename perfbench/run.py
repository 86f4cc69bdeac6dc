#!/usr/bin/env python3
"""The repository benchmark: one workload per run, metrics as JSON.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Inputs are generated from ``--seed``
inside ``.bench_work/`` (never read from elsewhere), the engine runs on
one driver process with ``local[min(4, nproc)]`` and four shuffle
partitions, and whole units of work (a backfill tick, a pass over the
headline suite) repeat until ``--seconds`` have been measured, at least
once. Every unit's output is checked outside the timed region:
loca2 ticks against the generator (DuckDB over the written Parquet and
CSV), headline queries against their DuckDB oracles.

The next-to-last stdout line is a report (sample counts, percentiles,
checks, provenance); the last line is the result object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics, with ``--trace 1`` the per-layer
metrics of a separate traced run.

    python3 perfbench/run.py --smoke            # every workload, tiny inputs
    python3 perfbench/run.py --benchmark-json   # print BENCHMARK.json
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.trace import PLAN_COUNTERS, WORK_COUNTERS, Tracer  # noqa: E402

RUN_SECONDS = 5
MAX_CORES = 4

WORKLOADS = {
    "loca2_backfill": "the reference's ETL job: one full LOCA2 tick from empty state over a "
                      "seeded 27-model registry, 849 monthly CDF-1 files plus decoys",
    "headline_sf001": "the analytics and corpus surface: 17 pinned headline specs, each built "
                      "then collected in a fresh driver, over seeded sf0.01-sized tables",
}

# name -> (unit, better, bound); perfbench/README.md defines each metric
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "wall_s": ("s", "lower", 0.25),
    "op_p50_s": ("s", "lower", 0.25),
    "op_tail_s": ("s", "lower", 0.25),
    "peak_rss_mb": ("MB", "lower", 0.25),
}

LOCA2_LAYERS = ("discovery", "ingest", "decode", "cursor", "catalog")
FAMILIES = ("plans", "textops", "catalog", "dedup", "similarity", "pipeline")
FAMILY_COUNTERS = ("build_s", "exec_s", "jobs_build", "jobs_exec") + PLAN_COUNTERS
LOCA2_COUNTERS = {
    "discovery": ("listings", "match_ratio", "new_ratio"),
    "ingest": ("files", "bytes"),
    "decode": ("cells",),
    "cursor": ("log_files", "log_rows"),
    "catalog": ("rows", "quarantined"),
}
LAYERS = LOCA2_LAYERS + tuple(f for f in FAMILIES if f not in LOCA2_LAYERS)


def per_layer_names() -> dict[str, str]:
    """Per-layer metric name -> unit. Family ``jobs`` is jobs_build + jobs_exec."""
    units = {"s": "s", "cpu_s": "s", "build_s": "s", "exec_s": "s",
             "shuffle_bytes": "bytes", "output_bytes": "bytes", "bytes": "bytes",
             "match_ratio": "ratio", "new_ratio": "ratio"}
    names: dict[str, str] = {}
    for layer in LAYERS:
        family = layer in FAMILIES
        for c in ("s",) + WORK_COUNTERS:
            if c == "jobs" and family and layer not in LOCA2_LAYERS:
                continue
            names[f"{layer}.{c}"] = units.get(c, "count")
        for c in (FAMILY_COUNTERS if family else ()) + LOCA2_COUNTERS.get(layer, ()):
            names[f"{layer}.{c}"] = units.get(c, "count")
    names.update({"host.anchor_s": "s", "host.loadavg": "load",
                  "trace.overhead_s": "s", "trace.wall_s": "s"})
    return names


def benchmark_json() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS.items()],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": bound}
                       for n, (u, b, bound) in END_TO_END.items()],
        "per_layer": [{"name": n, "unit": u, "better": "higher" if n.endswith("ratio")
                       else "lower"} for n, u in per_layer_names().items()],
    }


# --- host provenance ----------------------------------------------------------

def process_age() -> float:
    """Seconds since this process started (includes interpreter start-up)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def foreign_procs() -> int:
    """Java or pytest processes not started by this run."""
    me, n = os.getpid(), 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == me:
            continue
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                head = [a.decode(errors="replace") for a in f.read().split(b"\0") if a][:4]
        except OSError:
            continue
        if comm == "java" or any(a.rsplit("/", 1)[-1] == "pytest" for a in head) \
                or ("-m" in head and "pytest" in head):
            n += 1
    return n


def children(pid: int) -> list[int]:
    out = []
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(p))
            except OSError:
                continue
    return out


def vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """VmHWM of this process plus its JVM (the launcher's java child)."""
    me = os.getpid()
    jvms = []
    for c in children(me):
        try:
            with open(f"/proc/{c}/comm") as f:
                if f.read().strip() == "java":
                    jvms.append(c)
        except OSError:
            continue
    return (vm_hwm_kb(me) + sum(vm_hwm_kb(j) for j in jvms)) / 1024.0


def _import_engine(batches):
    import downscaledclimatedata_spark.plans as plans
    plans.all_specs()
    yield from batches


def warm_workers(spark, cores: int) -> None:
    """Start the Python workers and import the engine in each of them, the
    one-time cost every fresh driver pays before its first UDF runs."""
    spark.range(cores).repartition(cores).mapInPandas(_import_engine, "id long").collect()


def host_anchor(spark) -> float:
    """bench.py's pinned host-speed probe: median of 3 range sums."""
    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(200_000_000).selectExpr("sum(id * 2 + 7) AS s").collect()
        runs.append(time.perf_counter() - t0)
    return sorted(runs)[1]


def stop(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the gateway server exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# --- statistics -------------------------------------------------------------

def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with >= 10 samples
    beyond it, or the maximum (percentile 100) when that percentile would
    not reach the median (fewer than 21 samples)."""
    xs = sorted(values)
    n = len(xs)
    if n < 21:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


# --- workloads ----------------------------------------------------------------

class Run:
    """State shared by one workload run."""

    def __init__(self, args, work: Path):
        self.args = args
        self.work = work
        self.smoke = args.scale == "smoke"
        self.checks: dict[str, int] = {}
        self.failures: list[str] = []
        self.attempted = 0
        self.layer_extra: dict[str, float] = {}
        self.report: dict = {"phases": {}}

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        self.checks[name] = self.checks.get(name, 0) + 1
        if not ok:
            self.failures.append(f"{name}: {detail}" if detail else name)


def run_backfill(run: Run, spark, tracer, deadline_s: float):
    from downscaledclimatedata_spark.operators.discovery import registry_from_nested
    from perfbench import loca2

    def check(pipe, out) -> None:
        expected = sorted(remote.files, key=lambda f: f.s3_key)
        for name, ok in loca2.check_tick(pipe, out, expected).items():
            run.check(f"tick.{name}", ok, f"tick {out['tick']}")
        for r in out.get("ingested", []):
            run.check("ingest.row", r.status == "ok", f"{r.s3_key}: {r.error}")
        if tracer.enabled:
            _loca2_counters(run, pipe, out, remote)
        shutil.rmtree(pipe.work)

    remote = loca2.plant(str(run.work / "remote"),
                         loca2.TINY if run.smoke else loca2.BACKFILL, run.args.seed)
    registry_df = registry_from_nested(spark, remote.nested).cache()
    registry_df.count()
    setup_s = process_age()
    # no warm-up tick: the backfill is a one-shot job in a fresh driver, as
    # the reference runs it, so engine warm-up is part of the measured tick
    times, ticks = [], []
    t_start = time.perf_counter()
    while not times or time.perf_counter() - t_start < deadline_s:
        pipe = loca2.Pipeline(spark, str(run.work / f"rep{len(times)}"), remote, registry_df)
        t0 = time.perf_counter()
        ticks.append((pipe, pipe.tick(len(times), tracer)))
        times.append(time.perf_counter() - t0)
    rss = peak_rss_mb()
    for pipe, out in ticks:
        check(pipe, out)
    run.report.update({"files": len(remote.files), "cells_per_file": remote.files[0].n_cells,
                       "ticks": len(times),
                       "files_per_s": len(remote.files) / statistics.mean(times)})
    return setup_s, times, times, rss


def _loca2_counters(run: Run, pipe, out: dict, remote) -> None:
    """Layer counters of one tick, summed over ticks (reported per tick)."""
    e = run.layer_extra
    ing = out.get("ingested", [])
    log_dir = Path(pipe.work) / "state" / "processed"
    add = {
        "discovery.listings": remote.listing_count(),
        "_anchors": out["discovery_span"].counters.get("rows:MapInPandas", 0.0),
        "_matched": len(remote.files),
        "_new": len(out["manifest"]),
        "ingest.files": len(ing),
        "ingest.bytes": sum(r.n_bytes for r in ing),
        "decode.cells": sum(remote.by_key[r.s3_key].n_cells for r in ing if r.status == "ok"),
        "cursor.log_files": len(list(log_dir.glob("*.parquet"))),
        "cursor.log_rows": len(ing),
        "catalog.rows": len(ing),
        "catalog.quarantined": out.get("quarantined", 0),
    }
    for k, v in add.items():
        e[k] = e.get(k, 0.0) + v


def run_headline(run: Run, spark, tracer, deadline_s: float, sf_dir: str, oracle):
    from downscaledclimatedata_spark.plans import all_specs
    from perfbench.headline import PINNED, mismatch, run_query

    specs = all_specs()
    if oracle.wait() != 0:
        raise RuntimeError(f"the DuckDB oracle process exited with {oracle.returncode}")
    with open(run.work / "oracle.pickle", "rb") as f:
        answers = pickle.load(f)
    setup_s = process_age()
    # a fixed order: in a fresh driver the first specs of each family absorb
    # its JIT warm-up, so a seeded order would move per-query latencies
    order = list(PINNED)
    lat, passes, records = [], [], []
    t_start = time.perf_counter()
    while True:
        t0 = time.perf_counter()
        for name in order:
            records.append(run_query(spark, specs[name], PINNED[name], sf_dir, tracer))
            lat.append(records[-1]["s"])
        passes.append(time.perf_counter() - t0)
        if time.perf_counter() - t_start >= deadline_s:
            break
    rss = peak_rss_mb()
    for rec in records:
        reason = rec.get("error") or mismatch(answers[rec["name"]], rec.pop("result"))
        run.check("query", reason is None, f"{rec['name']}: {reason}")
    run.report["passes"] = len(passes)
    run.report["queries"] = {r["name"]: round(r["s"], 4) for r in records[:len(order)]}
    run.report["query_p50_s"] = statistics.median(lat)
    run.report["query_tail_s"], run.report["query_tail_pct"] = tail(lat)
    return setup_s, passes, lat, rss


def run_workload(args) -> int:
    work = ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    (work / "tmp").mkdir()
    # everything the run writes stays inside the checkout
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "tmp")
    # every JVM (the launcher's too): temp files in the work dir, no
    # hsperfdata under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    try:
        return _run_workload(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run_workload(args, work: Path) -> int:
    provenance = {"nproc": os.cpu_count(), "loadavg_start": os.getloadavg()[0],
                  "foreign_procs": foreign_procs()}
    try:
        import downscaledclimatedata_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    cores = max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))
    run = Run(args, work)
    oracle = sf_dir = None
    if args.workload.startswith("headline"):
        from downscaledclimatedata_spark.plans import all_specs
        from perfbench.headline import PINNED
        from perfbench.tables import generate_tables
        sf = 0.001 if run.smoke else 0.01
        sf_dir = str(work / "tables")
        run.report["phases"]["imports"] = process_age()
        run.report["rows"] = generate_tables(sf_dir, sf, args.seed)
        run.report["sf"] = sf
        missing = [n for n in PINNED if n not in all_specs()]
        if missing:
            print(f"perfbench: pinned specs missing from the registry: {missing}",
                  file=sys.stderr)
            return 2
        # the oracle answers compute in a child process while the JVM starts
        (work / "oracle.json").write_text(json.dumps({n: all_specs()[n].oracle for n in PINNED}))
        oracle = subprocess.Popen(
            [sys.executable, "-m", "perfbench.headline", str(work / "oracle.json"), sf_dir,
             str(max(1, cores - 1)), str(work / "oracle.pickle")], cwd=ROOT)

    run.report["phases"]["inputs"] = process_age()
    try:
        return _measure(args, run, provenance, cores, sf_dir, oracle)
    finally:
        if oracle is not None and oracle.poll() is None:
            oracle.kill()
        if oracle is not None:
            oracle.wait()


def _measure(args, run: Run, provenance: dict, cores: int, sf_dir, oracle) -> int:
    """Start the driver, measure, check, stop the driver, print the result."""
    from downscaledclimatedata_spark.session import get_spark
    work = run.work
    spark = get_spark(
        "perfbench", master=f"local[{cores}]", shuffle_partitions=MAX_CORES,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.driver.host": "127.0.0.1",
            "spark.driver.bindAddress": "127.0.0.1",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            # a fixed young generation keeps the peak RSS a measure of what
            # the driver retains rather than of G1's adaptive eden sizing
            "spark.driver.extraJavaOptions": "-Xmn256m",
        })
    try:
        spark.sparkContext.setLogLevel("ERROR")
        warm_workers(spark, cores)
        run.report["phases"]["session"] = process_age()
        provenance["master"] = spark.sparkContext.master
        if args.trace:
            provenance["host_anchor_s"] = host_anchor(spark)
        tracer = Tracer(spark, bool(args.trace))
        deadline = float(args.seconds)
        if args.workload == "headline_sf001":
            setup_s, units, ops, rss = run_headline(run, spark, tracer, deadline, sf_dir,
                                                    oracle)
        else:
            setup_s, units, ops, rss = run_backfill(run, spark, tracer, deadline)
    finally:
        stop(spark)
    provenance["loadavg_end"] = os.getloadavg()[0]
    # back-to-back runs leave their own load in loadavg, so only foreign
    # java/pytest processes mark a run as contaminated
    provenance["contaminated"] = provenance["foreign_procs"] > 0

    op_tail, tail_pct = tail(ops)
    e2e = {"setup_s": setup_s, "wall_s": statistics.mean(units),
           "op_p50_s": statistics.median(ops), "op_tail_s": op_tail, "peak_rss_mb": rss}
    if args.trace:
        metrics = _per_layer(run, tracer, provenance, statistics.mean(units), len(units))
    else:
        metrics = {n: {"value": v, "unit": END_TO_END[n][0]} for n, v in e2e.items()}
    failed = len(run.failures)
    run.report.update({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "end_to_end": {n: {"value": v, "unit": END_TO_END[n][0]} for n, v in e2e.items()},
        "samples": {"units": len(units), "ops": len(ops), "op_tail_pct": tail_pct},
        "failed_ratio": failed / max(1, run.attempted), "checks": run.checks,
        "failures": run.failures[:20], "provenance": provenance,
    })
    if args.trace:
        (ROOT / ".bench_work" / "traces").mkdir(parents=True, exist_ok=True)
        tracer.dump(str(ROOT / ".bench_work" / "traces" / f"{args.workload}-{args.seed}.json"))
    print(json.dumps(run.report, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": max(1, run.attempted),
                      "failed": failed, "metrics": metrics}))
    return 0


def _per_layer(run: Run, tracer, provenance: dict, wall: float, units: int) -> dict:
    names = per_layer_names()
    layers = tracer.by_layer()
    values = {n: 0.0 for n in names}
    for n in names:
        layer, counter = n.split(".", 1)
        if layer in layers:
            values[n] = layers[layer].get(counter, 0.0) / units
    extra = run.layer_extra
    if extra:
        values["discovery.match_ratio"] = extra["_matched"] / max(1.0, extra["_anchors"])
        values["discovery.new_ratio"] = extra["_new"] / max(1.0, extra["_matched"])
    for n, v in extra.items():
        if n in values:
            values[n] = v / units
    values["host.anchor_s"] = provenance["host_anchor_s"]
    values["host.loadavg"] = os.getloadavg()[0]
    values["trace.overhead_s"] = tracer.overhead_s / units
    values["trace.wall_s"] = wall
    return {n: {"value": v, "unit": names[n]} for n, v in values.items()}


# --- smoke mode ----------------------------------------------------------------

def smoke() -> int:
    """Every workload on tiny inputs, untraced and traced: every named metric
    must be emitted and every check must pass."""
    e2e = set(END_TO_END)
    layers = set(per_layer_names())
    bad = []
    for workload in WORKLOADS:
        walls = {}
        for trace in (0, 1):
            cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", workload,
                   "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "smoke"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or len(lines) < 2:
                bad.append(f"{workload} trace={trace}: exit {proc.returncode} "
                           f"{proc.stderr[-2000:]}")
                continue
            report, result = json.loads(lines[-2]), json.loads(lines[-1])
            want = layers if trace else e2e
            if set(result["metrics"]) != want:
                bad.append(f"{workload} trace={trace}: metrics differ: "
                           f"{sorted(set(result['metrics']) ^ want)}")
            if not result["correct"] or result["failed"]:
                bad.append(f"{workload} trace={trace}: checks failed {report['failures']}")
            walls[trace] = report["end_to_end"]["wall_s"]["value"]
            print(json.dumps({"workload": workload, "trace": trace,
                              "correct": result["correct"], "attempted": result["attempted"],
                              "end_to_end": report["end_to_end"],
                              "samples": report["samples"]}))
        if len(walls) == 2:
            print(json.dumps({"workload": workload,
                              "trace_overhead_s": walls[1] - walls[0]}))
    for b in bad:
        print(f"smoke: FAIL {b}", file=sys.stderr)
    print(json.dumps({"smoke": "pass" if not bad else "fail", "failures": len(bad)}))
    return 1 if bad else 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("bench", "smoke"), default="bench",
                    help=argparse.SUPPRESS)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload on tiny inputs and check all metrics")
    ap.add_argument("--benchmark-json", action="store_true",
                    help="print the BENCHMARK.json these definitions imply")
    args = ap.parse_args(argv)
    if args.benchmark_json:
        print(json.dumps(benchmark_json(), indent=2))
        return 0
    if args.smoke:
        return smoke()
    if not args.workload:
        ap.error("--workload is required")
    return run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
