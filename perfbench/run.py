"""Benchmark entry point: one closed-loop client runs one workload against
the program on ``local[nproc]`` and prints one JSON result line.

    python3 perfbench/run.py --workload amplab_scan_agg --seed 1 \
        --seconds 60 --trace 0

Run from the root of a checkout. Inputs are generated once into
``perfbench/.cache`` (pure numpy, not timed); the seed orders the ops
of every pass and splits the stream workload's events into chunks.

A run is: start the session and make one warm pass (together,
``setup_s``), check every op's result once (untimed), then make the
workload's fixed number of timed passes, so every run measures the
same work. ``--seconds`` is accepted and recorded but does not change
that work. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
enables the Spark UI, alternates untraced and traced passes and
reports the per-layer metrics, the spans' Spark work read from the
UI's REST API. Every metric is a number: a layer the workload never
enters (the streaming layer in a catalog workload) reads 0.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
OP_TIMEOUT_S = 60.0

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "rows_per_s": "rows/s",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.peak_rss_mb": "MB",
    "sources.load_table_s": "s",
    "sources.load_table_jobs": "count",
    "sources.input_mb": "MB",
    "sources.input_rows": "count",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "operators.action_s": "s",
    "operators.executor_run_s": "s",
    "operators.executor_cpu_s": "s",
    "operators.gc_s": "s",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.deserialize_s": "s",
    "operators.core_idle_frac": "ratio",
    "partitioning.shuffle_write_mb": "MB",
    "partitioning.shuffle_read_mb": "MB",
    "partitioning.spill_mb": "MB",
    "partitioning.tasks_per_stage": "count",
    "streaming.ingest_s": "s",
    "streaming.trigger_s": "s",
    "streaming.readout_s": "s",
    "streaming.readout_jobs": "count",
    "streaming.state_files": "count",
    "streaming.state_mb": "MB",
    "streaming.output_mb": "MB",
    "trace.op_self_s": "s",
    "trace.overhead_frac": "ratio",
}


def ensure_tier(sf: float) -> tuple[str, dict[str, int]]:
    """Generate the input tier for ``sf`` unless a complete one is
    already cached; verify its per-table row counts either way."""
    import pyarrow.parquet as pq

    import gen

    d = os.path.join(CACHE, "data", f"sf{sf}")
    manifest = os.path.join(d, "rows.json")
    if not os.path.exists(manifest):
        counts = gen.write_tier(d, sf)
        with open(manifest + ".tmp", "w") as f:
            json.dump(counts, f)
        os.replace(manifest + ".tmp", manifest)
    with open(manifest) as f:
        counts = json.load(f)
    for t in gen.TABLES:
        got = pq.ParquetFile(os.path.join(d, f"{t}.parquet")).metadata.num_rows
        if got != counts[t]:
            raise RuntimeError(f"{d}/{t}.parquet has {got} rows, expected {counts[t]}")
    return d, counts


def peak_rss_mb(pids) -> float:
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, all) jiffies summed over the host's CPUs."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def host_probe_s() -> float:
    """Median wall time of a fixed single-threaded Python loop, taken
    while Spark is idle: a yardstick of host speed recorded with every
    result, so a slower host can be told from a slower program."""
    ts = []
    for _ in range(5):
        t = time.perf_counter()
        sum(i * i for i in range(1_000_000))
        ts.append(time.perf_counter() - t)
    return statistics.median(ts)


def environment() -> dict:
    import pyspark

    commit = None
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.exists(head):
        with open(head) as f:
            ref = f.read().strip()
        commit = ref
        if ref.startswith("ref: "):
            p = os.path.join(ROOT, ".git", ref[5:])
            if os.path.exists(p):
                with open(p) as f:
                    commit = f.read().strip()
    return {
        "nproc": os.environ["SPARK_GRAFT_CPUS"],
        "load1": os.getloadavg()[0],
        "pyspark": pyspark.__version__,
        "commit": commit,
    }


def timed_op(wl, key, tr, op_id, sc) -> tuple[float, bool]:
    """Run one op; a raise or a run past OP_TIMEOUT_S is a failure."""
    timer = threading.Timer(OP_TIMEOUT_S, sc.cancelAllJobs)
    timer.start()
    t = time.perf_counter()
    ok = True
    try:
        with tr.span("op", op_id):
            wl.run_op(key, tr, op_id)
    except Exception as e:
        print(f"op {key} failed: {type(e).__name__}: {e}", file=sys.stderr)
        ok = False
    finally:
        timer.cancel()
    return time.perf_counter() - t, ok


def layer_metrics(wl, spans, groups, stages, jobs, cores) -> dict:
    """Per-layer numbers of one traced pass from its spans and the
    Spark stages their jobs ran. The ``load_table`` probes that follow
    the pass are reported on their own and kept out of the pass's
    Spark totals."""
    from stats import self_times
    from spans import assign_jobs, stage_totals

    probes = [s for s in spans if s["name"] == "sources.load_table"]
    spans = [s for s in spans if s["name"] != "sources.load_table"]
    owned = assign_jobs(jobs, groups)
    stage_job = {}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        for s in j["stageIds"]:
            stage_job.setdefault(s, j["jobId"])

    def by(name):
        return [s for s in spans if s["name"] == name]

    def wall(name):
        return sum(s["end"] - s["start"] for s in by(name))

    def jobs_of(ids):
        return {j for i in ids for j in owned.get(i, ())}

    def job_ids(names):
        return jobs_of(s["id"] for s in spans if s["name"] in names)

    def totals(ids):
        return stage_totals(stages, {s for s, j in stage_job.items() if j in ids})

    def subtree(ids):
        # spans are listed in the order they opened, parents first
        ids = set(ids)
        for s in spans:
            if s["parent"] in ids:
                ids.add(s["id"])
        return ids

    all_jobs = jobs_of(s["id"] for s in spans)
    mine = all_jobs | jobs_of(s["id"] for s in probes)
    tot = totals(all_jobs)
    # the outermost spans that run Spark work: an action nested in a
    # readout is covered by the readout's wall time
    spark_spans = ("operators.action", "streaming.ingest", "streaming.readout")
    name_of = {s["id"]: s["name"] for s in spans}
    roots = [s for s in spans
             if s["name"] in spark_spans and name_of.get(s["parent"]) not in spark_spans]
    busy = totals(jobs_of(subtree(s["id"] for s in roots)))["executorRunTime"]
    busy_wall = sum(s["end"] - s["start"] for s in roots)
    selfs = self_times(spans)
    # a layer the workload never enters reads 0: no time, jobs or bytes
    files, state, total = wl.state_sizes() if wl.streaming else (0, 0, 0)
    m = {
        "sources.load_table_s": sum(s["end"] - s["start"] for s in probes),
        "sources.load_table_jobs": len(jobs_of(s["id"] for s in probes)),
        "sources.input_mb": tot["inputBytes"] / 2**20,
        "sources.input_rows": tot["inputRecords"],
        "plans.build_s": wall("plans.build"),
        "plans.build_jobs": len(job_ids(("plans.build",))),
        "operators.action_s": wall("operators.action"),
        "operators.executor_run_s": tot["executorRunTime"],
        "operators.executor_cpu_s": tot["executorCpuTime"],
        "operators.gc_s": tot["jvmGcTime"],
        "operators.jobs": len(all_jobs),
        "operators.stages": tot["stages"],
        "operators.tasks": tot["numCompleteTasks"],
        "operators.deserialize_s": tot["executorDeserializeTime"],
        "operators.core_idle_frac": 1.0 - busy / (busy_wall * cores),
        "partitioning.shuffle_write_mb": tot["shuffleWriteBytes"] / 2**20,
        "partitioning.shuffle_read_mb": tot["shuffleReadBytes"] / 2**20,
        "partitioning.spill_mb": tot["diskBytesSpilled"] / 2**20,
        "partitioning.tasks_per_stage": (
            tot["numCompleteTasks"] / tot["stages"] if tot["stages"] else 0.0
        ),
        "streaming.ingest_s": wall("streaming.ingest"),
        "streaming.trigger_s": wl.trigger_s if wl.streaming else 0.0,
        "streaming.readout_s": wall("streaming.readout"),
        "streaming.readout_jobs": len(jobs_of(subtree(s["id"] for s in by("streaming.readout")))),
        "streaming.state_files": files,
        "streaming.state_mb": state / 2**20,
        "streaming.output_mb": total / 2**20,
        "trace.op_self_s": sum(selfs[s["id"]] for s in by("op")),
        # jobs run between this pass's first and last job that no span
        # claims: nonzero would mean attribution misses work
        "untagged_jobs": sum(
            min(mine) < j < max(mine) for j in owned.get(-1, ())) if mine else 0,
    }
    return m


def run(args) -> dict:
    import numpy as np

    from stats import count_failures, tail
    from spans import NullTracer, Tracer
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload]()
    data_dir, counts = ensure_tier(wl.sf)
    ticks0, probe0 = cpu_ticks(), host_probe_s()
    work_dir = os.path.join(CACHE, "runs", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)
    wl.prepare(data_dir, work_dir, args.seed, counts)
    rng = np.random.default_rng(args.seed)
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(CACHE, "spark-local")
    os.environ["TMPDIR"] = os.path.join(CACHE, "tmp")
    # the JVM's temp files go under the checkout too; -XX:-UsePerfData
    # keeps it from writing its perf-data file, which always goes to
    # /tmp/hsperfdata_<user>, outside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"),
        f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        "-XX:-UsePerfData",
    )))
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    tempfile.tempdir = os.environ["TMPDIR"]

    from lambda_refarch_mapreduce_spark import get_spark

    extra = {"spark.ui.enabled": "true", "spark.ui.port": "0"} if args.trace else None
    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=extra)
    start_s = time.perf_counter() - t0
    sc = spark.sparkContext
    try:
        sc.setLogLevel("ERROR")
        wl.bind(spark)
        null = NullTracer()
        tr = Tracer(spark) if args.trace else null
        op_id = 0

        def one_pass(k, tracer):
            nonlocal op_id
            order = list(rng.permutation(wl.ops()))
            wl.begin_pass(k)
            ops = []
            t = time.perf_counter()
            for key in order:
                key = key.item() if hasattr(key, "item") else key
                w, ok = timed_op(wl, key, tracer, op_id, sc)
                ops.append({"name": str(key), "wall": w, "ok": ok})
                op_id += 1
            wall = time.perf_counter() - t
            wrong = wl.end_pass()
            if wrong:
                print(f"pass {k}: wrong readouts {sorted(wrong)}", file=sys.stderr)
                for o in ops:
                    o["ok"] = False
            return wall, ops

        warm_s, warm_ops = one_pass(0, null)
        setup_s = time.perf_counter() - t0
        # the correctness check runs every op's query once more, which
        # also lets the JIT compile further before the timed passes
        wrong = wl.check()
        t_timed = time.perf_counter()
        passes, untraced, ops, layers = [], [], [], []
        if not args.trace:
            for k in range(1, wl.passes + 1):
                w, o = one_pass(k, null)
                passes.append(w)
                ops += o
        else:
            # untraced and traced passes alternate, so the tracing
            # overhead is measured under the same JIT and cache state
            for k in range(1, max(1, wl.passes // 2) + 1):
                w, o = one_pass(2 * k - 1, null)
                untraced.append(w)
                ops += o
                lo = len(tr.spans)
                w, o = one_pass(2 * k, tr)
                passes.append(w)
                ops += o
                wl.probe_sources(tr)
                tr.drain()
                layers.append(layer_metrics(
                    wl, tr.spans[lo:], tr.groups, tr.rest("stages"),
                    tr.rest("jobs"), cores))
        t_end = time.perf_counter()
        probe1, ticks1 = host_probe_s(), cpu_ticks()
        attempted, failed = count_failures(ops, wrong)
        walls = [o["wall"] for o in ops]
        tail_v, tail_p, n = tail(walls)
        pids = [os.getpid(), sc._jvm.java.lang.ProcessHandle.current().pid()]
        report = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "env": {
                **environment(),
                "host_probe_s": [probe0, probe1],
                "steal_frac": (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]),
            },
            "passes": len(passes),
            "pass_s": [round(w, 3) for w in passes],
            "ops": n,
            "op_p50_s": statistics.median(walls),
            "op_tail_s": tail_v,
            "op_tail_percentile": tail_p,
            "wrong": sorted(map(str, wrong)),
            "untagged_jobs": sum(m["untagged_jobs"] for m in layers),
            "rows_per_pass": wl.rows_per_pass,
            "warm_pass_s": warm_s,
            "peak_rss_mb": peak_rss_mb(pids),
            "warm_op_s": [round(o["wall"], 3) for o in warm_ops],
            "op_s": [round(w, 3) for w in walls],
            "phase_s": {
                "setup": setup_s,
                "check": t_timed - t0 - setup_s,
                "timed": t_end - t_timed,
            },
        }
        if args.trace:
            metrics = {}
            for name in PER_LAYER:
                if name in layers[0]:
                    metrics[name] = statistics.median(m[name] for m in layers)
            metrics["session.start_s"] = start_s
            metrics["session.warmup_s"] = warm_s
            metrics["session.peak_rss_mb"] = report["peak_rss_mb"]
            metrics["trace.overhead_frac"] = (
                statistics.median(passes) / statistics.median(untraced) - 1.0
            )
            units = PER_LAYER
        else:
            pass_s = statistics.median(passes)
            metrics = {
                "setup_s": setup_s,
                "pass_s": pass_s,
                "rows_per_s": wl.rows_per_pass / pass_s,
            }
            units = END_TO_END
        bad = [k for k in units if not _is_number(metrics.get(k))]
        if bad:
            raise RuntimeError(f"metrics without a numeric value: {bad}")
        print(json.dumps(report), flush=True)
        return {
            "correct": not wrong and failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }
    finally:
        stop(spark)
        shutil.rmtree(work_dir, ignore_errors=True)


def _is_number(v) -> bool:
    return isinstance(v, (int, float)) and not isinstance(v, bool) and math.isfinite(v)


def stop(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    try:
        import lambda_refarch_mapreduce_spark as program
        import tools.check_oracle  # noqa: F401
    except ImportError as e:
        print(f"the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(program.__file__).startswith(ROOT + os.sep):
        print(f"the program is not in this checkout ({ROOT})", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
