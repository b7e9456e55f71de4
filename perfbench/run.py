#!/usr/bin/env python3
"""Run one benchmark workload over the query registry and print its metrics.

    python3 perfbench/run.py --workload marts --seed 1 --seconds 5 --trace 0

A run writes the source tables (``datagen``, scale ``SF``, fixed
``DATA_SEED``) into a private work dir, starts a ``local[nproc]`` session
with ``shuffle.partitions = nproc``, registers the catalog and fills every
cache in an untimed warm pass. It then runs the workload's queries one at a
time (a closed loop with one client), each pass in an order drawn from
``--seed``, in whole passes until ``--seconds`` have passed. Each sample
times the query's build (``QuerySpec.spark``) and its execution, which
collects the result to the driver as pandas.

Outside the timed region it attributes every Spark job to the (query,
phase) window it was submitted in, checks every result, of the warm pass
and of each timed pass, against the query's DuckDB oracle, and prints a
report line followed by the result line
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 1`` passes
alternate between untraced and traced; traced passes record spans around
every call into the package's layers and give the per-layer metrics,
untraced ones give ``trace.overhead_frac``. The spans are written to
``.perfbench/traces/`` when the run ends.

Every run starts from the same cache state: its tables are freshly written,
so no fixture or layout cache keyed on them exists, and a new session has
empty session caches. The warm pass fills them and is charged to
``setup_s``. What the run adds to ``.scratch`` is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "steam_data_engineer_project_spark"
SF = 0.01
DATA_SEED = 42
TAIL_BEYOND = 10  # samples the tail percentile leaves above it
#: a fixed-size heap, so the driver's resident memory does not depend on
#: when the collector decides to grow it
DRIVER_MEMORY = "1g"

#: the gated end-to-end metrics; query_s_p50 and query_s_tail are order
#: statistics over one pass's samples, too unsteady between runs of this
#: length to gate, so they are printed in the report line only
END_TO_END = {"setup_s": "s", "pass_s": "s", "cpu_s": "s", "peak_rss_mb": "MB"}
#: every end-to-end figure the report line prints, with its unit
REPORTED = {**END_TO_END, "query_s_p50": "s", "query_s_tail": "s", "failed_frac": "ratio"}
#: operator modules by the workload meant to stress them; ``clustering`` is
#: left out, because no query that reaches it fits a run (WORKLOADS.md)
LLM_OPERATORS = (
    "bloom", "chunking", "components", "dedup", "pii",
    "sampling", "similarity", "sketches", "textstats",
)
RELATIONAL_OPERATORS = ("merge", "ranking", "sessionize", "skew", "temporal", "topk")
ENGINE_UNITS = {
    "jobs": "count", "stages": "count", "stages_skipped": "count",
    "tasks": "count", "input_mb": "MB", "shuffle_write_mb": "MB",
    "shuffle_read_mb": "MB", "spill_mb": "MB", "no_job_s": "s",
    "executor_run_s": "s", "executor_cpu_s": "s", "gc_s": "s",
}
#: layer self time as a share of the traced pass: span-name prefixes
SHARES = {
    "operators.llm": tuple(f"operators.{m}" for m in LLM_OPERATORS),
    "operators.relational": tuple(f"operators.{m}" for m in RELATIONAL_OPERATORS),
    "streaming": ("streaming",),
    "sources": ("sources",),
    "plans": ("plans",),
    "quality": ("quality",),
    "multimodal": ("multimodal",),
}


def per_layer_units() -> dict[str, str]:
    """Every metric a traced run prints, with its unit. Layer times that are
    zero on a workload which never calls the layer appear as shares and
    call counts here; the report and trace file keep their seconds."""
    units = {
        "session.start_s": "s", "queries.cache_fill_s": "s",
        "queries.build_s": "s", "queries.build_jobs": "count",
        "queries.persisted_left": "count",
        "queries.exec_s": "s", "queries.exec_jobs": "count",
    }
    units.update({f"engine.{k}": u for k, u in ENGINE_UNITS.items()})
    units.update({f"operators.{m}.calls": "count" for m in LLM_OPERATORS + RELATIONAL_OPERATORS})
    units.update({f"{layer}.self_share": "ratio" for layer in SHARES})
    units.update({
        "streaming.batches": "count", "streaming.empty_batches": "count",
        "trace.overhead_frac": "ratio",
    })
    return units


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def log(msg: str) -> None:
    print(f"perfbench {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def latency(s: dict) -> float:
    return s["build_s"] + s["exec_s"]


def by_query(samples: list[dict], value=latency) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for s in samples:
        if s["error"] is None:
            out.setdefault(s["query"], []).append(value(s))
    return out


def tail(values: list[float]) -> tuple[float | None, float | None]:
    """The highest percentile with TAIL_BEYOND samples above it, as
    (value, percentile); (None, None) when there are too few samples."""
    xs = sorted(values)
    n = len(xs)
    if n <= TAIL_BEYOND:
        return None, None
    return xs[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n


def scratch_state(path: str) -> dict:
    """Entries and megabytes under ``.scratch``, where the query layer keeps
    its fixture, layout and store caches."""
    entries, size = 0, 0
    if os.path.isdir(path):
        entries = len(os.listdir(path))
        for dirpath, _dirs, files in os.walk(path):
            for fn in files:
                try:
                    size += os.lstat(os.path.join(dirpath, fn)).st_size
                except OSError:
                    pass
    return {"entries": entries, "mb": size / 2**20}


class Runner:
    """Runs queries one at a time and records a (query, phase) window for
    each build and each execution, in the status store's clock (epoch ms)."""

    def __init__(self, spark, data_dir: str, tracer) -> None:
        from steam_data_engineer_project_spark.queries import QUERIES

        self.spark = spark
        self.data_dir = data_dir
        self.queries = QUERIES
        self.tracer = tracer
        self.windows: list = []
        self._exec_ids = iter(range(1, 2**62))

    def window(self, query: str, phase: str, pass_no: int, fn):
        """Run ``fn`` inside a window; return its value and the seconds."""
        from engine import Window

        w = Window(query, phase, pass_no, time.time() * 1000, 0.0)
        self.windows.append(w)
        tracer, span = self.tracer, None
        if tracer is not None and tracer.enabled:
            tracer.runner_stack = tracer.thread_stack()
            span = tracer.open(f"query.{phase}")
            tracer.phase_span = span.sid
        t0 = time.perf_counter()
        try:
            return fn(), time.perf_counter() - t0
        finally:
            w.end_ms = time.time() * 1000
            if span is not None:
                tracer.close(span)
                tracer.phase_span = None

    def run(self, name: str, pass_no: int) -> dict:
        """Build and execute one query; the sample keeps the result as
        pandas for the oracle check."""
        from probes import tree_cpu_s

        spec = self.queries[name]
        sample = {"query": name, "pass": pass_no, "error": None, "exec_id": next(self._exec_ids)}
        if self.tracer is not None:
            self.tracer.exec_id = sample["exec_id"]
        cpu0 = tree_cpu_s()
        try:
            df, sample["build_s"] = self.window(
                name, "build", pass_no, lambda: spec.spark(self.spark, self.data_dir)
            )
            sample["result"], sample["exec_s"] = self.window(name, "exec", pass_no, df.toPandas)
        except Exception as exc:  # a failing query is counted, not fatal
            sample["error"] = f"{type(exc).__name__}: {exc}".splitlines()[0][:300]
            traceback.print_exc(file=sys.stderr)
        sample["cpu_s"] = tree_cpu_s() - cpu0
        sample["persisted_left"] = self.spark.sparkContext._jsc.getPersistentRDDs().size()
        return sample


def start_session(work: str, cores: int):
    from steam_data_engineer_project_spark.session import get_spark

    local = os.path.join(work, "local")
    os.makedirs(local, exist_ok=True)
    return get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            # no JVM temp or perf-data files outside the run's work dir
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData -Djava.io.tmpdir={local}"
            ),
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # keep every job and stage of the run in the status store
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM, which exits when its stdin
    closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def timed_passes(runner, workload, seed: int, seconds: float, tracer, on_traced) -> tuple[dict, list]:
    """Whole passes, each in an order drawn from ``seed`` and the pass
    number, until ``seconds`` have passed. With a tracer the passes come
    in pairs of one untraced and one traced pass, the untraced first on an
    even seed and second on an odd one, so that over seeds neither mode
    gets the later, warmer pass; ``on_traced`` wraps each traced sample.
    Returns the samples per mode, and per pass its mode, wall time and the
    CPU time of the process tree."""
    from probes import tree_cpu_s

    if tracer is None:
        modes: tuple[str, ...] = ("plain",)
    else:
        modes = ("plain", "traced") if seed % 2 == 0 else ("traced", "plain")
    samples: dict[str, list[dict]] = {m: [] for m in sorted(modes)}
    passes: list[dict] = []
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds or len(passes) % len(modes):
        pass_no = len(passes)
        mode = modes[pass_no % len(modes)]
        order = list(workload.queries)
        random.Random(seed * 1_000_003 + pass_no).shuffle(order)
        if tracer is not None:
            tracer.enabled = mode == "traced"
        cpu0, wall0 = tree_cpu_s(), time.perf_counter()
        for name in order:
            if mode == "traced":
                samples[mode].append(on_traced(lambda: runner.run(name, pass_no)))
            else:
                samples[mode].append(runner.run(name, pass_no))
        passes.append({
            "mode": mode,
            "wall_s": time.perf_counter() - wall0,
            "cpu_s": tree_cpu_s() - cpu0,
        })
    if tracer is not None:
        tracer.enabled = False
    return samples, passes


def layer_metrics(tracer, runner, traced, stages, progress, setup) -> tuple[dict, dict]:
    """Per-layer metrics per traced pass, and self seconds per span name."""
    from engine import phase_stats

    passes = len({s["pass"] for s in traced})
    exec_ids = {s["exec_id"] for s in traced}
    spans = tracer.self_times(lambda sp: sp.name if sp.exec_id in exec_ids else None)
    spans.pop(None, None)

    def self_s(prefixes: tuple[str, ...]) -> float:
        starts = tuple(p + "." for p in prefixes)
        return sum(v["self_s"] for k, v in spans.items() if k.startswith(starts))

    wins = [w for w in runner.windows if w.pass_no in {s["pass"] for s in traced}]
    build = phase_stats([w for w in wins if w.phase == "build"], stages)
    execs = phase_stats([w for w in wins if w.phase == "exec"], stages)
    both = phase_stats(wins, stages)
    ok = [s for s in traced if s["error"] is None]
    wall = sum(latency(s) for s in ok)
    m = {
        "session.start_s": setup["session_start_s"],
        "queries.cache_fill_s": setup["warm_s"],
        "queries.build_s": sum(s["build_s"] for s in ok) / passes,
        "queries.build_jobs": build["jobs"] / passes,
        # seconds of jobs run during build: zero on most workloads, so it is
        # reported but not one of the printed per-layer metrics
        "queries.build_job_s": build["job_s"] / passes,
        "queries.persisted_left": sum(s["persisted_left"] for s in traced) / passes,
        "queries.exec_s": sum(s["exec_s"] for s in ok) / passes,
        "queries.exec_jobs": execs["jobs"] / passes,
    }
    m.update({f"engine.{k}": both[k] / passes for k in ENGINE_UNITS})
    for mod in LLM_OPERATORS + RELATIONAL_OPERATORS:
        key = f"operators.{mod}."
        m[f"operators.{mod}.calls"] = sum(v["calls"] for k, v in spans.items() if k.startswith(key)) / passes
    for layer, prefixes in SHARES.items():
        m[f"{layer}.self_share"] = self_s(prefixes) / wall if wall > 0 else 0.0
    m["streaming.batches"] = len(progress) / passes
    m["streaming.empty_batches"] = sum(1 for p in progress if p["rows"] == 0) / passes
    return m, {k: v["self_s"] / passes for k, v in spans.items()}


def streaming_detail(progress: list[dict], passes: int) -> dict:
    """Micro-batch timings from the streaming listener, per traced pass."""
    batch = [p["duration_ms"].get("triggerExecution", 0) / 1e3 for p in progress]
    rows = sum(p["rows"] for p in progress)

    def total(*keys: str) -> float:
        return sum(p["duration_ms"].get(k, 0) for p in progress for k in keys) / 1e3 / passes

    return {
        "streaming.batch_s_p50": statistics.median(batch) if batch else 0.0,
        "streaming.add_batch_s": total("addBatch"),
        "streaming.commit_s": total("walCommit", "commitOffsets"),
        "streaming.rows_per_s": rows / sum(batch) if sum(batch) > 0 else 0.0,
    }


def write_trace(workload: str, seed: int, report: dict, tracer, traced: list[dict]) -> None:
    """Write the run's spans, and self time per (query, layer), to
    ``.perfbench/traces/<workload>-seed<seed>.json``."""
    out_dir = os.path.join(ROOT, ".perfbench", "traces")
    os.makedirs(out_dir, exist_ok=True)
    query_of = {s["exec_id"]: s["query"] for s in traced}
    per_query = tracer.self_times(
        lambda sp: f"{query_of[sp.exec_id]} {sp.name.rsplit('.', 1)[0]}"
        if sp.exec_id in query_of else None
    )
    per_query.pop(None, None)
    with open(os.path.join(out_dir, f"{workload}-seed{seed}.json"), "w") as f:
        json.dump({
            "report": report,
            "per_query_layer": per_query,
            "spans": [vars(s) for s in tracer.spans],
        }, f)


def measure(args, workload, work: str) -> dict:
    import datagen
    from engine import StatusStore, Window, attribute
    from oracle import Oracle
    from probes import HostWindow, tree_peak_rss_mb
    from tracing import Tracer, streaming_listener

    cores = len(os.sched_getaffinity(0))
    data_dir = datagen.write(os.path.join(work, "data"), SF, DATA_SEED)
    log("tables written")
    host = HostWindow()

    scratch = scratch_state(os.path.join(ROOT, ".scratch"))

    # -- setup: session, catalog, and a warm pass that fills every cache -----
    t0 = time.perf_counter()
    spark = start_session(work, cores)
    session_start_s = time.perf_counter() - t0
    from steam_data_engineer_project_spark.queries import TABLES, register_catalog

    tracer = Tracer() if args.trace else None
    runner = Runner(spark, data_dir, tracer)
    catalog = Window("<catalog>", "setup", -1, time.time() * 1000, 0.0)
    register_catalog(spark, data_dir)
    catalog.end_ms = time.time() * 1000
    runner.windows.append(catalog)
    t1 = time.perf_counter()
    warm = [runner.run(name, -1) for name in workload.queries]
    warm_s = time.perf_counter() - t1
    setup_s = time.perf_counter() - t0
    log(f"setup {setup_s:.1f}s")

    # -- timed passes ---------------------------------------------------------
    progress: list[dict] = []
    if tracer is None:
        samples, passes = timed_passes(runner, workload, args.seed, args.seconds, None, None)
    else:
        listener = streaming_listener(progress)

        def on_traced(run):
            spark.streams.addListener(listener)
            try:
                return run()
            finally:
                spark.streams.removeListener(listener)

        tracer.install()
        try:
            samples, passes = timed_passes(runner, workload, args.seed, args.seconds, tracer, on_traced)
        finally:
            tracer.uninstall()
    peak_rss = tree_peak_rss_mb()
    context = host.close()
    log("timed passes done")

    # -- attribution: every job the store saw belongs to one window ----------
    status = StatusStore(spark)
    status.drain()
    jobs = status.jobs()
    orphans = attribute(runner.windows, jobs)
    timed = [w for w in runner.windows if w.pass_no >= 0]
    per_query_jobs: dict[str, int] = {}
    for w in timed:
        per_query_jobs[w.query] = per_query_jobs.get(w.query, 0) + len(w.jobs)
    lo, hi = timed[0].start_ms - 1, timed[-1].end_ms + 1
    timed_total = sum(1 for j in jobs if lo <= (j.get("submissionTime") or 0) <= hi)
    attributed = not orphans and sum(per_query_jobs.values()) == timed_total
    log("jobs attributed")

    # -- oracle check of every result, outside the timed region -------------
    runs = warm + [s for mode in samples.values() for s in mode]
    oracle = Oracle(data_dir, TABLES, os.path.join(ROOT, ".perfbench", "oracle"))
    mismatches: dict[str, str] = {}
    for s in runs:
        result = s.pop("result", None)
        if s["error"] is None:
            why = oracle.mismatch(runner.queries[s["query"]].oracle, result)
            if why is not None:
                mismatches[f"{s['query']} pass {s['pass']}"] = why
    oracle.close()
    log("oracle checked")

    failed = len(mismatches) + sum(1 for s in runs if s["error"] is not None)
    plain = [s for s in samples["plain"] if s["error"] is None]
    plain_passes = [p for p in passes if p["mode"] == "plain"]
    lat = [latency(s) for s in plain]
    tail_s, tail_pct = tail(lat)
    e2e = {
        "setup_s": setup_s,
        "pass_s": statistics.median(p["wall_s"] for p in plain_passes),
        "query_s_p50": statistics.median(lat) if lat else float("nan"),
        "query_s_tail": tail_s,
        "cpu_s": statistics.median(p["cpu_s"] for p in plain_passes),
        "peak_rss_mb": peak_rss,
        "failed_frac": failed / len(runs),
    }
    report = {
        "workload": workload.name,
        "seed": args.seed,
        "trace": args.trace,
        "sf": SF,
        "data_seed": DATA_SEED,
        "master": f"local[{cores}]",
        "passes": passes,
        "samples": len(lat),
        "query_s_tail_percentile": tail_pct,
        "attempted": len(runs),
        "mismatches": mismatches,
        "errors": sorted({s["error"] for s in runs if s["error"]}),
        "jobs": {
            "in_store": len(jobs),
            "timed": timed_total,
            "orphans": [j["jobId"] for j in orphans],
            "per_query": per_query_jobs,
        },
        "setup": {"session_start_s": session_start_s, "warm_s": warm_s},
        "first_pass_s": passes[0]["wall_s"],
        "scratch_at_start": scratch,
        "host": context,
        "query_s": {q: statistics.median(v) for q, v in by_query(plain).items()},
        "warm_query_s": {s["query"]: latency(s) for s in warm if s["error"] is None},
        "end_to_end": {k: {"value": e2e[k], "unit": u} for k, u in REPORTED.items()},
    }
    if tracer is None:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    else:
        traced = samples["traced"]
        layer, layer_s = layer_metrics(tracer, runner, traced, status.stages(), progress, report["setup"])
        traced_pass_s = statistics.median(p["wall_s"] for p in passes if p["mode"] == "traced")
        layer["trace.overhead_frac"] = traced_pass_s / e2e["pass_s"] - 1.0
        report["layers"] = layer
        report["layer_self_s"] = layer_s
        report["streaming"] = streaming_detail(progress, len({s["pass"] for s in traced}))
        metrics = {k: {"value": layer[k], "unit": u} for k, u in per_layer_units().items()}
        write_trace(workload.name, args.seed, report, tracer, traced)
    stop_session(spark)
    log("session stopped")
    print(json.dumps({"report": report}))
    return {
        "correct": failed == 0 and attributed,
        "attempted": len(runs),
        "failed": failed,
        "metrics": metrics,
    }


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    log("start")
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "queries.py")):
        print(f"perfbench: no {PACKAGE} package beside {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    scratch = os.path.join(ROOT, ".scratch")
    scratch_before = set(os.listdir(scratch)) if os.path.isdir(scratch) else set()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
    })
    try:
        result = measure(args, WORKLOADS[args.workload], work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(scratch):
            for name in set(os.listdir(scratch)) - scratch_before:
                shutil.rmtree(os.path.join(scratch, name), ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
