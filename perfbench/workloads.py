"""The workloads. One closed-loop client: each operation starts after
the previous one returned. Every operation's output is checked, outside its
timed interval.

Each workload runs a fixed number of cycles, derived from ``--seconds`` and
the cycle time measured on the reference box (4 cores), so every run of a
workload carries the same operations in a seed-dependent order and a
seed-dependent input, and the sample count does not move with speed.
"""

from __future__ import annotations

import os
import time
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np

from perfbench import gen
from perfbench.oracle import diff
from perfbench.probes import catalyst_phases

# The TPC-H-style registered queries (q1-q22 but the two below) and the
# time-series ones. All of them read only the generated tables.
QUERY_MIX = [
    "q1_pricing_summary",
    "q2_cheapest_supplier",
    "q3_shipping_priority",
    "q4_order_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q7_nation_volume",
    "q8_market_share",
    "q11_important_parts",
    "q12_priority_shipping",
    "q13_order_count_distribution",
    "q14_promo_revenue",
    "q15_top_supplier",
    "q16_supplier_part_counts",
    "q17_small_qty_revenue",
    "q18_large_volume_customers",
    "q19_disjunctive_revenue",
    "q20_bulk_suppliers",
    "q21_waiting_suppliers",
    "q22_idle_rich_customers",
    "candles_15m",
    "asof_purchase_view",
    "session_windows_30m",
    "latest_event_per_user",
    "event_value_delta",
    "scd2_customer_state",
]

# Known defects, not in the gated mix: both round double SUMs and can come
# out one cent away from their DuckDB oracle when a group's exact sum lies on
# a .005 tie, which q9 hits on most seeds. They run once per dataset after the timed loop, and
# their check results are reported beside the gated figures.
KNOWN_DEFECTS = ["q9_product_profit", "q10_returned_items"]

QUERY_MIX_WARM = ["q1_pricing_summary", "q3_shipping_priority", "session_windows_30m"]

# Input sizes, as multiples of the sf0.1 fixtures.
QUERY_MIX_SCALE = 0.05
WARMUP_SCALE = 0.02

# ELT: customer key space, changes per CDC batch, CSV landing rows, how
# often the MOR table is compacted, and point reads per cycle.
ELT_KEYS = 5_000
ELT_BATCH_ROWS = 2_000
ELT_LANDING_ROWS = 3_000
# Every second cycle: a 3-cycle run then has two compactions, so its tail
# (the 11th-largest operation) falls on a compaction, not on the slowest of
# the small reads.
ELT_COMPACT_EVERY = 2
ELT_POINT_READS = 16  # the batch's most-changed keys, read back after the drain

# Seconds one cycle takes at HEAD on 4 cores; cycles = seconds / this.
CYCLE_S = {"query_mix": 16.5, "elt_incremental": 9.4}


def cycles_for(workload: str, seconds: float) -> int:
    return max(1, round(seconds / CYCLE_S[workload]))


@dataclass
class Op:
    name: str
    kind: str
    latency_s: float
    ok: bool = True
    error: str | None = None
    end: float = 0.0  # perf_counter() when the timed call returned


@dataclass
class Ctx:
    """Everything a workload needs; ``probe`` is set only when tracing."""

    spark: object
    tracer: object
    probe: object | None
    oracle: object
    seed: int
    cache: str
    scratch: str
    ops: list[Op] = field(default_factory=list)
    counts: dict[str, list[float]] = field(default_factory=dict)
    extra: dict[str, float] = field(default_factory=dict)
    sizes: dict[str, object] = field(default_factory=dict)
    probe_s: float = 0.0
    phases: dict[str, float] = field(default_factory=dict)
    known_defects: list[dict] = field(default_factory=list)

    def count(self, name: str, value: float) -> None:
        self.counts.setdefault(name, []).append(value)

    @contextmanager
    def untraced(self):
        """Warm-up runs with no spans and no counters."""
        probe, enabled = self.probe, self.tracer.enabled
        self.probe, self.tracer.enabled = None, False
        try:
            yield
        finally:
            self.probe, self.tracer.enabled = probe, enabled


# -- registered-query operations ---------------------------------------------


def _pyrows(table) -> list[tuple]:
    """Arrow rows as Python tuples, timestamps naive UTC as ``collect()``
    gives them under the UTC session."""
    cols = [
        [v.replace(tzinfo=None) if hasattr(v, "tzinfo") and v.tzinfo else v for v in c]
        for c in (col.to_pylist() for col in table.columns)
    ]
    return list(zip(*cols)) if cols else []


def query_op(ctx: Ctx, name: str, sf_dir: str, check: bool = True) -> Op:
    """Build the registered query and run its plan into Arrow batches on the
    driver (timed), then compare them with the DuckDB oracle (untimed)."""
    from lakeflow.queries import QUERIES

    op_id = len(ctx.ops)
    probe, tr = ctx.probe, ctx.tracer
    if probe:
        p0 = time.perf_counter()
        probe.drain()
        sql0, gc0 = probe.sql_count(), probe.gc_s()
        probe.set_group(f"b{op_id}")
        ctx.probe_s += time.perf_counter() - p0
    t0 = time.perf_counter()
    try:
        with tr.span("bench.op", op_id):
            with tr.span("queries.build"):
                df = QUERIES[name](ctx.spark, sf_dir)
            built_ms = time.time() * 1000.0
            phases = None
            if probe:
                probe.set_group(f"x{op_id}")
                with tr.span("catalyst.plan"):
                    phases = catalyst_phases(df)
            with tr.span("exec.run"):
                result = df.toArrow()
        op = Op(name, "query", time.perf_counter() - t0)
    except Exception as exc:  # a failing query is a result, not a crash
        op = Op(name, "query", time.perf_counter() - t0, False, repr(exc)[:300])
    if probe and op.ok:
        p0 = time.perf_counter()
        probe.drain()
        ctx.count("exec.jvm_gc_s", probe.gc_s() - gc0)
        ctx.count("queries.eager_sql_execs", probe.sql_started_before(sql0, built_ms))
        for k, v in probe.stage_totals(f"x{op_id}").items():
            ctx.count(k, v)
        for k, v in phases.items():
            ctx.count(f"catalyst.{k}_s", v)
        ctx.probe_s += time.perf_counter() - p0
    if check and op.ok:
        with tr.span("check.oracle", op_id):
            try:
                err = ctx.oracle.check(name, sf_dir, result.column_names, _pyrows(result))
            except Exception as exc:
                err = f"check raised {exc!r}"[:300]
        if err:
            op.ok, op.error = False, err
    ctx.ops.append(op)
    return op


def _order(seed: int, cycle: int, names: list[str]) -> list[str]:
    rng = np.random.default_rng([seed, 500, cycle])
    return [names[i] for i in rng.permutation(len(names))]


def _warm_queries(ctx: Ctx, names: list[str], sf_dir: str) -> None:
    """One untimed, unchecked pass so JIT and first-use costs are paid
    before timing. A warm-up failure is still recorded as a failed op."""
    t0 = time.perf_counter()
    with ctx.untraced():
        for name in names:
            op = query_op(ctx, name, sf_dir, check=False)
            if op.ok:
                ctx.ops.pop()
    ctx.phases["warmup_s"] = time.perf_counter() - t0


def _cycle_seed(seed: int, cycle: int) -> int:
    return int(np.random.SeedSequence([seed, 600, cycle]).generate_state(1)[0])


def run_query_mix(ctx: Ctx, cycles: int) -> None:
    """Every query of the mix once per cycle, in a seeded order, over the
    cycle's dataset: work shared between queries (files in the OS cache,
    the JIT) counts. Each cycle draws its own dataset from the seed, so a
    run samples the inputs ``cycles`` times."""
    datasets = []
    for c in range(cycles):
        d = os.path.join(ctx.cache, f"query_mix-s{ctx.seed}-c{c}-x{QUERY_MIX_SCALE}")
        rows = gen.fixture_tables(d, _cycle_seed(ctx.seed, c), QUERY_MIX_SCALE)
        datasets.append(d)
    ctx.sizes.update(scale_of_sf01=QUERY_MIX_SCALE, datasets=cycles, rows=rows)
    tiny = os.path.join(ctx.cache, f"warm-s{ctx.seed}")
    gen.fixture_tables(tiny, ctx.seed, WARMUP_SCALE)
    _warm_queries(ctx, QUERY_MIX_WARM, tiny)
    for c, data in enumerate(datasets):
        for name in _order(ctx.seed, c, QUERY_MIX):
            query_op(ctx, name, data)
    with ctx.untraced():
        for c, data in enumerate(datasets):
            for name in KNOWN_DEFECTS:
                op = query_op(ctx, name, data)
                ctx.ops.pop()
                ctx.known_defects.append(
                    {"name": name, "cycle": c, "ok": op.ok, "error": op.error}
                )


# -- ELT ---------------------------------------------------------------------


class EltState:
    """Tables, inputs and the benchmark's own model of what they hold."""

    def __init__(self, ctx: Ctx, n_cycles: int) -> None:
        from lakeflow.sources.table_stream import register_table_changes_source
        from lakeflow.tables import VersionedTable

        spark = ctx.spark
        register_table_changes_source(spark)
        wh = os.path.join(ctx.scratch, "elt")
        self.bronze = VersionedTable(spark, os.path.join(wh, "bronze_cdc"))
        self.silver = VersionedTable(spark, os.path.join(wh, "silver_stream"))
        self.mor = VersionedTable(spark, os.path.join(wh, "silver_mor"))
        self.ckpt = os.path.join(wh, "_ckpt_silver")
        self.gold_wh = os.path.join(wh, "medallion")
        inputs = os.path.join(ctx.cache, f"elt-s{ctx.seed}")
        os.makedirs(inputs, exist_ok=True)
        self.batches, self.landing = [], []
        for c in range(n_cycles):
            path = os.path.join(inputs, f"cdc-{c:04d}.parquet")
            if not os.path.exists(path):
                gen._write(gen.cdc_batch(ctx.seed, c, ELT_BATCH_ROWS, ELT_KEYS), path)
            self.batches.append(path)
            self.landing.append(
                gen.customer_landing(
                    os.path.join(inputs, f"landing-{c:04d}"), ctx.seed, c, ELT_LANDING_ROWS
                )
            )
        # Models: silver_stream holds live rows after last-seq-wins with
        # deletes; silver_mor holds the latest change row per key.
        self.live: dict[int, tuple] = {}
        self.latest: dict[int, tuple] = {}
        self.mor_at: dict[int, dict[int, tuple]] = {}
        self.hot_keys: list[int] = []

    def fold(self, path: str) -> None:
        import pyarrow.parquet as pq

        t = pq.read_table(path).to_pylist()
        t.sort(key=lambda r: r["seq"])
        for r in t:
            k = r["c_custkey"]
            self.latest[k] = (k, r["c_acctbal"], r["c_mktsegment"], r["seq"], r["op"])
            if r["op"] == "D":
                self.live.pop(k, None)
            else:
                self.live[k] = (k, r["c_acctbal"], r["c_mktsegment"])
        counts = Counter(r["c_custkey"] for r in t)
        ranked = sorted(counts, key=lambda k: (-counts[k], k))
        self.hot_keys = ranked[:ELT_POINT_READS]


LIVE_COLS = ["c_custkey", "c_acctbal", "c_mktsegment"]
MOR_COLS = ["c_custkey", "c_acctbal", "c_mktsegment", "seq", "op"]


def _timed(ctx: Ctx, name: str, kind: str, span: str, fn, check=None) -> tuple[Op, object]:
    op_id = len(ctx.ops)
    probe = ctx.probe
    if probe:
        p0 = time.perf_counter()
        probe.drain()
        gc0 = probe.gc_s()
        ctx.probe_s += time.perf_counter() - p0
    t0 = time.perf_counter()
    out = None
    try:
        with ctx.tracer.span("bench.op", op_id):
            with ctx.tracer.span(span):
                out = fn()
        end = time.perf_counter()
        op = Op(name, kind, end - t0, end=end)
    except Exception as exc:
        end = time.perf_counter()
        op = Op(name, kind, end - t0, False, repr(exc)[:300], end)
    if probe and op.ok:
        p0 = time.perf_counter()
        probe.drain()
        ctx.count("exec.jvm_gc_s", probe.gc_s() - gc0)
        ctx.probe_s += time.perf_counter() - p0
    if check is not None and op.ok:
        with ctx.tracer.span("check.model", op_id):
            try:
                err = check(out)
            except Exception as exc:
                err = f"check raised {exc!r}"[:300]
        if err:
            op.ok, op.error = False, err
    ctx.ops.append(op)
    return op, out


def _rows_check(cols: list[str], want: list[tuple]):
    def check(rows) -> str | None:
        return diff(cols, [tuple(r[c] for c in cols) for r in rows], cols, want)

    return check


def elt_cycle(ctx: Ctx, st: EltState, c: int) -> None:
    from lakeflow.operators.transforms import dedup_latest
    from lakeflow.plans.medallion import build_medallion_pipeline
    from lakeflow.streaming.sinks import stream_apply_changes

    spark = ctx.spark
    batch = st.batches[c]

    commit, _ = _timed(
        ctx, "bronze_commit", "write", "tables.commit",
        lambda: st.bronze.commit(spark.read.parquet(batch)),
    )

    def drain():
        src = (
            spark.readStream.format("lakeflow_table_changes")
            .option("path", st.bronze.root)
            .load()
        )
        q = stream_apply_changes(src, st.silver, ["c_custkey"], "seq", checkpoint=st.ckpt)
        q.awaitTermination()
        return q.recentProgress

    op, progress = _timed(ctx, "stream_drain", "drain", "streaming.drain", drain)
    st.fold(batch)
    if op.ok and commit.ok:
        ctx.count("elt.freshness_s", op.end - commit.end)
        ctx.count("streaming.batches", len(progress))
        for p in progress:
            for phase, ms in (p.durationMs or {}).items():
                ctx.count(f"streaming.{phase}_ms", ms)

    def upsert():
        changes = dedup_latest(spark.read.parquet(batch), ["c_custkey"], "seq")
        return st.mor.upsert_mor(changes, ["c_custkey"])

    op, v = _timed(ctx, "mor_upsert", "write", "tables.upsert_mor", upsert)
    if op.ok:
        st.mor_at[v] = dict(st.latest)
    if c % ELT_COMPACT_EVERY == ELT_COMPACT_EVERY - 1:
        op, v = _timed(ctx, "mor_compact", "write", "tables.compact", st.mor.compact)
        if op.ok:
            st.mor_at[v] = dict(st.latest)

    cust_csv, nat_csv = st.landing[c]

    def pipeline():
        res = build_medallion_pipeline(spark, cust_csv, nat_csv, st.gold_wh).run()
        return res["gold_dim_customer"]

    def gold_check(path) -> str | None:
        import duckdb

        gold = spark.read.parquet(path)
        got = [tuple(r) for r in gold.collect()]
        con = duckdb.connect()
        res = con.execute(
            f"""
            SELECT c_custkey, c_name,
                   CASE WHEN c_acctbal <= 0 THEN NULL ELSE c_acctbal END AS c_acctbal,
                   c_mktsegment, n_name AS nation_name
            FROM read_csv_auto('{cust_csv}/*.csv') c
            LEFT JOIN read_csv_auto('{nat_csv}/*.csv') n ON c_nationkey = n_nationkey
            """
        )
        want_cols = [d[0] for d in res.description]
        want = res.fetchall()
        con.close()
        return diff(gold.columns, got, want_cols, want)

    _timed(ctx, "medallion_pipeline", "pipeline", "plans.pipeline_run", pipeline, gold_check)

    for key in st.hot_keys:
        want = [st.live[key]] if key in st.live else []
        _timed(
            ctx, "point_read", "read", "tables.scan_point",
            lambda key=key: st.silver.scan_point("c_custkey", key).collect(),
            _rows_check(LIVE_COLS, want),
        )
    versions = sorted(st.mor_at)  # empty only if every MOR write failed
    if versions:
        tv = versions[-2] if len(versions) > 1 else versions[-1]
        _timed(
            ctx, "time_travel_read", "read", "tables.read_version",
            lambda: st.mor.read(version=tv).collect(),
            _rows_check(MOR_COLS, list(st.mor_at[tv].values())),
        )
    _timed(
        ctx, "full_read", "read", "tables.read",
        lambda: st.silver.read().collect(),
        _rows_check(LIVE_COLS, list(st.live.values())),
    )


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def run_elt(ctx: Ctx, cycles: int) -> None:
    """Repeated lakehouse cycles with writes beside reads; history grows
    through the run. Cycle 0 is an untimed warm-up (its failures count)."""
    st = EltState(ctx, cycles + 1)
    ctx.sizes.update(
        keys=ELT_KEYS, cdc_rows_per_batch=ELT_BATCH_ROWS, landing_rows=ELT_LANDING_ROWS,
        cycles=cycles,
    )
    t0 = time.perf_counter()
    with ctx.untraced():
        elt_cycle(ctx, st, 0)
    ctx.phases["warmup_s"] = time.perf_counter() - t0
    ctx.ops[:] = [o for o in ctx.ops if not o.ok]
    ctx.counts.clear()
    for c in range(1, cycles + 1):
        elt_cycle(ctx, st, c)

    # Final states against the model; a mismatch fails the last write op
    # that produced the table.
    finals = (
        (st.silver, LIVE_COLS, list(st.live.values()), "stream_drain"),
        (st.mor, MOR_COLS, list(st.latest.values()), "mor_upsert"),
    )
    for table, cols, want, producer in finals:
        err = _rows_check(cols, want)(table.read().collect())
        if err:
            last = next(o for o in reversed(ctx.ops) if o.name == producer)
            last.ok, last.error = False, f"final state: {err}"

    lat = {k: [o.latency_s for o in ctx.ops if o.kind == k and o.ok] for k in ("write", "read")}
    ctx.counts["elt.write_s"] = lat["write"]
    ctx.counts["elt.read_s"] = lat["read"]

    # Space amplification: silver tables on disk against the same rows
    # written once as plain parquet.
    plain = os.path.join(ctx.scratch, "elt_plain")
    on_disk = once = 0
    for i, (table, _, _, _) in enumerate(finals):
        on_disk += _dir_bytes(table.root)
        dest = os.path.join(plain, str(i))
        table.read().coalesce(1).write.mode("overwrite").parquet(dest)
        once += _dir_bytes(dest)
    ctx.extra["elt.space_amp"] = on_disk / once
    tables = (st.bronze, st.silver, st.mor)
    ctx.extra["tables.versions"] = sum(len(t.versions()) for t in tables)
    ctx.extra["tables.data_dirs"] = sum(t.n_data_dirs() for t in tables)
    ctx.extra["tables.manifest_bytes"] = sum(
        _dir_bytes(os.path.join(t.root, "_snapshots")) for t in tables
    )


WORKLOADS = {
    "query_mix": run_query_mix,
    "elt_incremental": run_elt,
}
