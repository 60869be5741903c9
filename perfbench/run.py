#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of the smile_spark engine.

    python3 perfbench/run.py --workload relational_short --seed 1 \
        --seconds 5 --trace 0

One run is one Spark application on ``local[N]``, N = the CPUs this
process may use.  A single closed-loop client runs the workload's jobs
one after another in a fixed order; a pass runs every job once.  The
run builds its inputs from ``--seed`` (a seeded relabelling of the
bundled fixture tables, see ``seedmap.py``), runs one cold pass, one
warm-up pass, then measured passes until ``--seconds`` have elapsed,
and finally checks the cold pass's results against the DuckDB oracle.

The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``.  With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones, read from spans around each call and from Spark's
status stores, and measured passes alternate between untraced and
traced so the tracing overhead is measured too.  The line before it,
starting with ``# info``, carries the figures that are not gated
(seed, tail percentile and sample count, ``write_s``, ``state_mb``,
``failed_frac``, pass times).

Everything the run writes goes under ``perfbench/.work``: inputs per
seed, cached oracle results, span files, and a per-run directory for
the warehouse, Spark's local dirs and temp files, removed at exit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import tempfile
import time
from dataclasses import dataclass, field
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
FIXTURE = os.path.join(HERE, "fixtures", "sf0.01")
# The lifecycle rungs cost per SQL execution far more than per row, so
# a 200-document corpus keeps one pass near ten seconds.
MAX_DOCS = 200
INPUT_TAG = f"sf0.01-docs{MAX_DOCS}"
WARMUP_PASSES = 1
MB = 1 << 20


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def dir_mb(path: str) -> float:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total / MB


def driver_memory() -> str:
    """A quarter of the box's memory, at most 8g, as the driver heap."""
    with open("/proc/meminfo") as f:
        kib = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
    return f"{max(1, min(8, kib // (4 << 20)))}g"


def remove_dead_runs() -> None:
    """Remove the run directories of runs that were killed before
    their own cleanup; a directory's name ends in its run's pid."""
    runs = os.path.join(WORK, "runs")
    for name in os.listdir(runs) if os.path.isdir(runs) else []:
        if not os.path.exists(f"/proc/{name.rsplit('-', 1)[-1]}"):
            shutil.rmtree(os.path.join(runs, name), ignore_errors=True)


def ensure_inputs(seed: int) -> str:
    import seedmap

    dst = os.path.join(WORK, "inputs", f"{INPUT_TAG}-seed{seed}")
    if not os.path.isdir(dst):
        seedmap.write_seeded(FIXTURE, dst, seed, max_docs=MAX_DOCS)
    return dst


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit), for all workloads."""
    from workloads import WORKLOADS, lifecycle_steps

    names = [("session.start_s", "s")]
    for make in WORKLOADS.values():
        wl = make()
        for job in wl.jobs:
            names += [
                (f"{job.name}.s", "s"),
                (f"{job.name}.sql_execs", "count"),
                (f"{job.name}.shuffle_mb", "MB"),
            ]
        names += [
            (f"session.{wl.name}.busy_frac", "ratio"),
            (f"session.{wl.name}.driver_s", "s"),
            (f"session.{wl.name}.stages", "count"),
            (f"session.{wl.name}.tasks", "count"),
            (f"session.{wl.name}.shuffle_mb", "MB"),
            (f"session.{wl.name}.input_mb", "MB"),
            (f"session.{wl.name}.spill_mb", "MB"),
            (f"session.{wl.name}.trace_overhead_s", "s"),
        ]
    names += [(f"bucketed.{step}.state_mb", "MB") for step in lifecycle_steps()]
    names += [
        ("session.label_lifecycle.write_s", "s"),
        ("session.label_lifecycle.state_mb", "MB"),
    ]
    return names


@dataclass
class PassResult:
    traced: bool
    wall: float = 0.0
    times: dict = field(default_factory=dict)  # job -> s
    counts: dict = field(default_factory=dict)  # job -> CallCounters (traced)
    state_mb: dict = field(default_factory=dict)  # writing job -> warehouse MB
    driver_s: float = 0.0  # call time with no Spark job active (traced)
    end_mb: float = 0.0  # warehouse MB at the end of the pass


class Run:
    """One Spark application running one workload."""

    def __init__(self, spark, workload, sf_dir: str, warehouse: str, cpus: int):
        self.spark = spark
        self.wl = workload
        self.sf_dir = sf_dir
        self.warehouse = warehouse
        self.cpus = cpus
        self.attempted = 0
        self.errors: list[str] = []
        self.leftovers: list[int] = []  # artifacts surviving clear_* per pass
        self.payload_memo: list[int] = []
        self.spans: list[dict] = []
        self.store = None
        self.mark = None

    def _span(self, name, start, end, parent, pass_id):
        self.spans.append(
            {"id": len(self.spans), "name": name, "start": start,
             "end": end, "parent": parent, "pass": pass_id}
        )
        return len(self.spans) - 1

    def reset(self) -> None:
        """Start a pass: clear the session memos, then (for workloads
        that persist state) record and remove what the clears left in
        the catalog and warehouse, and check that nothing remains."""
        for clear in self.wl.clears:
            clear()
        if not self.wl.persists:
            return
        from smile_spark.operators import multimodal

        # attach_payload's per-application memo has no public clear.
        self.payload_memo.append(len(multimodal._PAYLOAD_CACHE))
        tables = [t.name for t in self.spark.catalog.listTables() if not t.isTemporary]
        files = os.listdir(self.warehouse) if os.path.isdir(self.warehouse) else []
        self.leftovers.append(len(tables) + len(files))
        for t in tables:
            self.spark.sql(f"DROP TABLE IF EXISTS `{t}`")
        shutil.rmtree(self.warehouse, ignore_errors=True)
        os.makedirs(self.warehouse)
        left = [t.name for t in self.spark.catalog.listTables() if not t.isTemporary]
        if left or os.listdir(self.warehouse):
            raise RuntimeError(f"pass does not start empty: {left}")

    def run_pass(self, pass_id: int, collect: dict | None = None, traced=False):
        """Run every job once.  With ``collect``, checked results are
        collected into it instead of being forced through the noop sink."""
        from pyspark.sql import DataFrame

        from counters import IdWatermark, SparkStatusStore, covered_ms, read_new

        self.reset()
        if traced and self.store is None:
            self.store, self.mark = SparkStatusStore(self.spark), IdWatermark()
        if traced:
            self.store.drain()
            read_new(self.store, self.mark)  # skip what the reset ran
        res = PassResult(traced=traced)
        p0, e0 = time.perf_counter(), time.time()
        pspan = self._span("pass", e0, None, None, pass_id)
        for job in self.wl.jobs:
            self.attempted += 1
            t0, w0 = time.perf_counter(), time.time()
            try:
                out = job.run(self.spark, self.sf_dir)
                if isinstance(out, DataFrame):
                    if collect is not None and job.oracle:
                        collect[job.name] = out.toPandas()
                    else:
                        out.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001 -- counted, run goes on
                self.errors.append(f"{job.name}: {type(exc).__name__}: {exc}"[:400])
            res.times[job.name] = time.perf_counter() - t0
            w1 = time.time()
            self._span(job.name, w0, w1, pspan, pass_id)
            if traced:
                self.store.drain()
                c = read_new(self.store, self.mark)
                res.counts[job.name] = c
                busy_ms = covered_ms(c.job_spans_ms, w0 * 1000, w1 * 1000)
                res.driver_s += (w1 - w0) - busy_ms / 1000
                if job.writes:
                    res.state_mb[job.name] = dir_mb(self.warehouse)
        res.wall = time.perf_counter() - p0
        self.spans[pspan]["end"] = e0 + res.wall
        if self.wl.persists:
            res.end_mb = dir_mb(self.warehouse)
        return res


def check_outputs(results: dict, jobs, sf_dir: str, seed: int) -> list[str]:
    """Compare collected results with the DuckDB oracle the way
    ``smile_spark.testing.assert_matches_oracle`` does; oracle results
    are cached per (seed, inputs, SQL)."""
    import pandas as pd

    import __spark_entry__
    from smile_spark.testing import canonicalize, duckdb_oracle

    sqls = __spark_entry__.oracle_sql()
    cache = os.path.join(WORK, "oracle")
    os.makedirs(cache, exist_ok=True)
    bad = []
    for job in jobs:
        if job.name not in results:
            continue
        sql = sqls[job.oracle]
        key = hashlib.sha256(f"{seed}|{INPUT_TAG}|{sql}".encode()).hexdigest()[:32]
        path = os.path.join(cache, f"{key}.pkl")
        if os.path.exists(path):
            want = pd.read_pickle(path)
        else:
            want = canonicalize(duckdb_oracle(sql, sf_dir))
            want.to_pickle(path + ".tmp")
            os.replace(path + ".tmp", path)
        got = canonicalize(results[job.name])
        try:
            if list(got.columns) != list(want.columns):
                raise AssertionError(f"columns {list(got.columns)} != {list(want.columns)}")
            if len(got) != len(want):
                raise AssertionError(f"rows {len(got)} != {len(want)}")
            pd.testing.assert_frame_equal(got, want, check_dtype=True, check_exact=True)
        except AssertionError as exc:
            bad.append(f"{job.name}: {str(exc)[:300]}")
    return bad


def write_s(wl, p: PassResult) -> float:
    return sum(t for j, t in p.times.items() if wl.job(j).writes)


def summarize_e2e(setup_s, warm, passes, wl, rss_mb):
    """Pass figures from the measured passes; job latencies from every
    warm pass, the warm-up included, so the tail has samples beyond it."""
    from stats import tail

    samples = [t for p in warm + passes for t in p.times.values()]
    tail_s, tail_pct, n = tail(samples)
    metrics = {
        "setup_s": (setup_s, "s"),
        "batch_s": (median([p.wall for p in passes]), "s"),
        "job_p50_s": (median(samples), "s"),
        "job_tail_s": (tail_s, "s"),
        "read_s": (median([sum(p.times.values()) - write_s(wl, p) for p in passes]), "s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }
    info = {"job_tail_pct": round(tail_pct, 1), "job_samples": n}
    return metrics, info


def summarize_layers(run, start_s, passes):
    """Per-layer metrics of this workload; those of other workloads'
    calls read 0."""
    from workloads import lifecycle_steps

    wl = run.wl
    m = {name: [0.0, unit] for name, unit in per_layer_names()}
    m["session.start_s"][0] = start_s
    traced = [p for p in passes if p.traced]
    plain = [p for p in passes if not p.traced]

    def per_pass(f):
        return median([f(p) for p in traced])

    def total(p, attr):
        return sum(getattr(c, attr) for c in p.counts.values())

    for job in wl.jobs:
        m[f"{job.name}.s"][0] = median([p.times[job.name] for p in passes])
        m[f"{job.name}.sql_execs"][0] = per_pass(lambda p: p.counts[job.name].sql_execs)
        m[f"{job.name}.shuffle_mb"][0] = per_pass(
            lambda p: p.counts[job.name].shuffle_bytes / MB
        )
    pre = f"session.{wl.name}"
    m[f"{pre}.busy_frac"][0] = per_pass(
        lambda p: total(p, "run_ms") / 1000 / (p.wall * run.cpus)
    )
    m[f"{pre}.driver_s"][0] = per_pass(lambda p: p.driver_s)
    m[f"{pre}.stages"][0] = per_pass(lambda p: total(p, "stages"))
    m[f"{pre}.tasks"][0] = per_pass(lambda p: total(p, "tasks"))
    m[f"{pre}.shuffle_mb"][0] = per_pass(lambda p: total(p, "shuffle_bytes") / MB)
    m[f"{pre}.input_mb"][0] = per_pass(lambda p: total(p, "input_bytes") / MB)
    m[f"{pre}.spill_mb"][0] = per_pass(lambda p: total(p, "spill_bytes") / MB)
    m[f"{pre}.trace_overhead_s"][0] = median([p.wall for p in traced]) - median(
        [p.wall for p in plain]
    )
    if wl.persists:
        for step, job_name in lifecycle_steps().items():
            m[f"bucketed.{step}.state_mb"][0] = per_pass(lambda p: p.state_mb[job_name])
        m["session.label_lifecycle.write_s"][0] = median([write_s(wl, p) for p in passes])
        m["session.label_lifecycle.state_mb"][0] = median([p.end_mb for p in passes])
    return {k: (v, u) for k, (v, u) in m.items()}


def stop_spark(spark) -> None:
    """Stop the application and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        proc.wait(timeout=60)


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "smile_spark", "__init__.py")):
        print(f"smile_spark not found next to {HERE}", file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    dirs = {k: os.path.join(run_dir, k) for k in ("warehouse", "local", "tmp", "cwd")}
    memory = driver_memory()
    remove_dead_runs()
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in dirs.values():
        os.makedirs(d)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEMORY=memory,
        SPARK_LOCAL_DIRS=dirs["local"],
        TMPDIR=dirs["tmp"],
        # the launcher JVM that spark-submit starts first
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}",
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    )
    tempfile.tempdir = dirs["tmp"]
    os.chdir(dirs["cwd"])
    sys.path.insert(0, ROOT)
    spark = None
    try:
        g0 = time.perf_counter()
        sf_dir = ensure_inputs(args.seed)
        gen_s = time.perf_counter() - g0

        from smile_spark import get_spark

        s0 = time.perf_counter()
        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            extra_conf={
                "spark.sql.warehouse.dir": dirs["warehouse"],
                "spark.ui.showConsoleProgress": "false",
                # A 1 GiB heap floor: from G1's small default start the
                # heap grows at GC-timing-dependent moments, which made
                # peak RSS wander by a fifth between identical runs.
                "spark.driver.extraJavaOptions": (
                    f"-XX:+UseG1GC -Xms1g -XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}"
                ),
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        start_s = time.perf_counter() - s0

        run = Run(spark, WORKLOADS[args.workload](), sf_dir, dirs["warehouse"], cpus)
        results: dict = {}
        cold = run.run_pass(0, collect=results)
        setup_s = process_age_s() - gen_s
        warm = [run.run_pass(1 + i) for i in range(WARMUP_PASSES)]
        # Traced runs alternate untraced and traced passes, at least
        # untraced-traced-untraced, so warm-up drift cancels out of the
        # tracing overhead.
        min_passes = 3 if args.trace else 1
        passes = []
        m0 = time.perf_counter()
        while len(passes) < min_passes or time.perf_counter() - m0 < args.seconds:
            traced = bool(args.trace) and len(passes) % 2 == 1
            passes.append(run.run_pass(1 + WARMUP_PASSES + len(passes), traced=traced))
        jvm_pid = spark.sparkContext._gateway.proc.pid
        rss_jvm, rss_client = peak_rss_mb(jvm_pid), peak_rss_mb(os.getpid())
        rss = rss_jvm + rss_client
        if args.trace:
            metrics = summarize_layers(run, start_s, passes)
            info = {}
        else:
            metrics, info = summarize_e2e(setup_s, warm, passes, run.wl, rss)
        c0 = time.perf_counter()
        bad = check_outputs(results, run.wl.jobs, sf_dir, args.seed)
        check_s = time.perf_counter() - c0
        failed = len(run.errors) + len(bad)
        info.update(
            workload=args.workload,
            seed=args.seed,
            cpus=cpus,
            inputs_s=round(gen_s, 3),
            cold_pass_s=round(cold.wall, 3),
            warmup_pass_s=[round(p.wall, 3) for p in warm],
            rss_mb={"jvm": round(rss_jvm, 1), "client": round(rss_client, 1)},
            check_s=round(check_s, 3),
            pass_s=[round(p.wall, 3) for p in passes],
            job_s={
                j.name: round(median([p.times[j.name] for p in passes]), 3)
                for j in run.wl.jobs
            },
            traced=[p.traced for p in passes],
            write_s=median([write_s(run.wl, p) for p in passes]),
            state_mb=median([p.end_mb for p in passes]),
            failed_frac=failed / run.attempted,
            leftover_artifacts_after_clears=run.leftovers,
            payload_memo_entries=run.payload_memo,
            errors=run.errors[:5],
            mismatches=bad,
        )
        if args.trace:
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            span_file = os.path.join(
                WORK, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.json"
            )
            with open(span_file, "w") as f:
                json.dump(run.spans, f)
            info["spans"] = os.path.relpath(span_file, ROOT)
        print("# info " + json.dumps(info, default=str))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": run.attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0 if failed == 0 else 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
