"""The benchmark's workloads. Each drives only public entry points of
the program: ``sources.load_table``, the ``plans.catalog`` registry
(``REGISTRY[name].spark(spark, sf_dir)`` then a ``noop`` write) and the
``streaming.abtest`` / ``streaming.sprt`` ingest and readout functions.

A workload is a list of op keys. One pass runs every op once, in an
order drawn from the seed; an op is the unit that is timed.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

from gen import TABLES

# catalog query -> the input tables it reads (rows per pass are
# counted from these, never from Spark metrics)
_W1 = {
    "scan_filter_project": ("events",),
    "scan_filter_project_wide": ("events",),
    "substr_groupby_sum": ("documents",),
    "agg_pricing_summary": ("lineitem",),
    "join_revenue_by_nation": ("customer", "nation", "orders", "region"),
    "q8_market_share": (
        "customer", "lineitem", "nation", "orders", "region", "supplier",
    ),
    "q21_waiting_suppliers": ("lineitem", "orders", "supplier"),
}


class CatalogWorkload:
    """Catalog queries built and run to a ``noop`` sink."""

    streaming = False

    def __init__(self, sf, queries, passes):
        self.sf, self.queries, self.passes = sf, queries, passes

    def prepare(self, data_dir, work_dir, seed, counts):
        from lambda_refarch_mapreduce_spark.plans import (  # noqa: F401
            catalog_analytics,
            catalog_llm,
        )
        from lambda_refarch_mapreduce_spark.plans.catalog import REGISTRY

        self.data_dir, self.registry = data_dir, REGISTRY
        self.rows_per_pass = sum(
            counts[t] for tables in self.queries.values() for t in tables
        )
        self.tables = sorted({t for ts in self.queries.values() for t in ts})

    def bind(self, spark):
        self.spark = spark

    def ops(self):
        return list(self.queries)

    def begin_pass(self, k):
        pass

    def run_op(self, key, tr, op_id):
        from lambda_refarch_mapreduce_spark.operators.relational import pin_scope

        with pin_scope():
            with tr.span("plans.build", op_id):
                df = self.registry[key].spark(self.spark, self.data_dir)
            with tr.span("operators.action", op_id):
                df.write.format("noop").mode("overwrite").save()

    def end_pass(self):
        return set()

    def probe_sources(self, tr):
        _probe_sources(self.spark, self.data_dir, self.tables, tr)

    def check(self):
        """Compare every op's result with its DuckDB oracle on the same
        files; returns the set of ops whose result is wrong."""
        import duckdb

        from lambda_refarch_mapreduce_spark.operators.relational import pin_scope
        from tools.check_oracle import canon

        con = duckdb.connect()
        for t in TABLES:
            con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(self.data_dir, t)}.parquet'"
            )
        wrong = set()
        for key in self.queries:
            try:
                with pin_scope():
                    sdf = self.registry[key].spark(self.spark, self.data_dir)
                    srows, scols = sdf.collect(), sdf.columns
                res = con.sql(self.registry[key].oracle)
                orows, ocols = res.fetchall(), [d[0] for d in res.description]
                ok = (
                    len(srows) > 0
                    and sorted(scols) == sorted(ocols)
                    and canon([tuple(r) for r in srows], scols)
                    == canon(orows, ocols)
                )
            except Exception as e:  # a raising check is a wrong result
                print(f"check {key}: {type(e).__name__}: {e}", flush=True)
                ok = False
            if not ok:
                wrong.add(key)
        con.close()
        return wrong


class StreamWorkload:
    """Events arrive in seeded chunks; each arrival restarts both
    monitors' ``availableNow`` queries from their own checkpoints and
    then serves both readouts. A pass replays every chunk into fresh
    source, checkpoint and state directories."""

    streaming = True
    N_CHUNKS = 2
    SCHEMA = (
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string"
    )

    def __init__(self, sf, passes):
        self.sf, self.passes = sf, passes

    def prepare(self, data_dir, work_dir, seed, counts):
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.data_dir, self.work_dir = data_dir, work_dir
        ev = pd.read_parquet(os.path.join(data_dir, "events.parquet"))
        chunk = _chunk_of(ev["event_id"].to_numpy(), seed, self.N_CHUNKS)
        os.makedirs(os.path.join(work_dir, "chunks"), exist_ok=True)
        self.chunk_files = []
        for c in range(self.N_CHUNKS):
            part = ev[chunk == c].reset_index(drop=True)
            part["ts"] = part["ts"].dt.tz_localize("UTC")
            path = os.path.join(work_dir, "chunks", f"chunk{c}.parquet")
            pq.write_table(pa.Table.from_pandas(part, preserve_index=False), path)
            self.chunk_files.append(path)
        self.rows_per_pass = len(ev)
        self.want = None

    def bind(self, spark):
        self.spark = spark

    def ops(self):
        return list(range(self.N_CHUNKS))

    def _dirs(self, k):
        base = os.path.join(self.work_dir, f"pass{k}")
        return {d: os.path.join(base, d) for d in (
            "src", "ckpt_ab", "idx_ab", "ckpt_sp", "idx_sp")}

    def begin_pass(self, k):
        self.d = self._dirs(k)
        os.makedirs(self.d["src"], exist_ok=True)
        self.trigger_s = 0.0
        self.last = {}

    def run_op(self, c, tr, op_id):
        from lambda_refarch_mapreduce_spark.plans.catalog_analytics import (
            SPRT_A_MICRO,
            SPRT_L1_MICRO,
            SPRT_L2_MICRO,
        )
        from lambda_refarch_mapreduce_spark.streaming import abtest, sprt

        d = self.d
        # the arrival: files starting with '.' are invisible to the
        # file source until the rename publishes them
        tmp = os.path.join(d["src"], f".chunk{c}.parquet")
        shutil.copyfile(self.chunk_files[c], tmp)
        os.replace(tmp, os.path.join(d["src"], f"chunk{c}.parquet"))
        monitors = (
            ("ab", lambda s: abtest.ingest_value_counts(
                s, d["idx_ab"], d["ckpt_ab"], "purchase", "click"),
             lambda: abtest.mann_whitney_now(self.spark, d["idx_ab"])),
            ("sp", lambda s: sprt.ingest_day_counts(
                s, d["idx_sp"], d["ckpt_sp"], "event_type = 'purchase'",
                "event_type IN ('purchase', 'click')"),
             lambda: sprt.sprt_now(self.spark, d["idx_sp"], SPRT_L1_MICRO,
                                   SPRT_L2_MICRO, SPRT_A_MICRO)),
        )
        for tag, ingest, readout in monitors:
            with tr.span("streaming.ingest", op_id):
                stream = self.spark.readStream.schema(self.SCHEMA).parquet(d["src"])
                q = ingest(stream).start()
                tr.add_group(str(q.runId))
                finished = q.awaitTermination(120)
                if not finished:
                    q.stop()
                    raise TimeoutError(f"{tag} ingest did not finish")
                if q.exception() is not None:
                    raise RuntimeError(str(q.exception()))
                self.trigger_s += sum(
                    p["durationMs"].get("triggerExecution", 0)
                    for p in q.recentProgress
                ) / 1000.0
            with tr.span("streaming.readout", op_id):
                with tr.span("plans.build", op_id):
                    df = readout()
                with tr.span("operators.action", op_id):
                    self.last[tag] = df.collect()[0]

    def end_pass(self):
        """After the last arrival the served readouts must equal the
        batch entries on the union of the chunks; returns the failed
        check names (empty when both hold)."""
        if self.want is None:  # the warm pass, before check() has run
            return set()
        got_ab = self.last.get("ab")
        got = {
            "ab": None if got_ab is None else (
                got_ab.n_a, got_ab.n_b, got_ab.auc, got_ab.z, got_ab.significant),
            "sp": None if "sp" not in self.last else tuple(self.last["sp"]),
        }
        return {k for k in ("ab", "sp") if got[k] != self.want[k]}

    def state_sizes(self):
        """(state files, state bytes, all bytes written) of this pass:
        committed monitor state under the index dirs, and index plus
        checkpoint dirs."""
        files = state = total = 0
        for key, path in self.d.items():
            if key == "src":
                continue
            for root, _, names in os.walk(path):
                for n in names:
                    size = os.path.getsize(os.path.join(root, n))
                    total += size
                    if key.startswith("idx"):
                        files += 1
                        state += size
        return files, state, total

    def probe_sources(self, tr):
        _probe_sources(self.spark, self.data_dir, ("events",), tr)

    def check(self):
        """Compute the batch entries every pass's final readouts must
        equal; the comparison itself is made at each pass's end."""
        from lambda_refarch_mapreduce_spark.plans.catalog import REGISTRY

        mw = REGISTRY["mann_whitney_auc_value"].spark(
            self.spark, self.data_dir).collect()[0]
        sp = REGISTRY["sprt_ab_daily_llr"].spark(
            self.spark, self.data_dir).collect()[0]
        self.want = {
            "ab": (mw.n_purchase, mw.n_click, mw.auc, mw.z, mw.significant),
            "sp": tuple(sp),
        }
        return set()


def _probe_sources(spark, data_dir, tables, tr):
    """Time ``load_table`` alone on every input table."""
    from lambda_refarch_mapreduce_spark import load_table

    for t in tables:
        with tr.span("sources.load_table"):
            load_table(spark, data_dir, t)


def _chunk_of(event_id: np.ndarray, seed: int, n: int) -> np.ndarray:
    """Chunk number per event: a splitmix64 hash of (event_id, seed)."""
    with np.errstate(over="ignore"):
        z = event_id.astype(np.uint64) + np.uint64(seed) * np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        z = z ^ (z >> np.uint64(31))
    return (z % np.uint64(n)).astype(np.int64)


# name -> workload. ``passes`` is the fixed number of timed passes a
# run makes, sized on a 4-core host so that a run costs about a minute
# in all (session start 7-10 s, a first pass 2-4x slower than a warm
# one) and a few dozen runs of each workload fit in under an hour. Most
# of the spread is between runs and follows the host's speed, which
# holds for minutes (two or three passes in one run agree far better
# than runs do), so more passes buy little: the catalog workload makes
# four, the stream workload one, since each of its passes costs 16 s.
# Input size barely moves the stream ops (fixed per-query cost), so
# both use the sf0.1 tier.
WORKLOADS = {
    "amplab_scan_agg": lambda: CatalogWorkload(0.1, _W1, 4),
    "stream_monitors": lambda: StreamWorkload(0.1, 1),
}
