"""The benchmark's own checks. Run: python -m pytest perfbench/tests -q"""

from __future__ import annotations

import hashlib
import json
import os

import pyarrow as pa
import pytest

from perfbench import gen, run, workloads
from perfbench.oracle import QueryOracle, diff
from perfbench.spans import Span, Tracer, self_times

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_and_units_match_benchmark_json():
    b = _bench()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == {
        k: unit for k, (unit, _) in run.PER_LAYER.items()
    }
    assert {w["name"] for w in b["workloads"]} <= set(workloads.WORKLOADS)


def _digests(d: str) -> dict[str, str]:
    out = {}
    for root, _, files in os.walk(d):
        for f in files:
            with open(os.path.join(root, f), "rb") as fh:
                out[os.path.relpath(os.path.join(root, f), d)] = hashlib.sha256(
                    fh.read()
                ).hexdigest()
    return out


def _cdc(d: str, seed: int) -> None:
    os.makedirs(d, exist_ok=True)
    gen._write(gen.cdc_batch(seed, 4, 500, 1000), os.path.join(d, "b.parquet"))


@pytest.mark.parametrize(
    "make",
    [
        lambda d, seed: gen.fixture_tables(d, seed, 0.01),
        lambda d, seed: gen.customer_landing(d, seed, 2, 50),
        _cdc,
    ],
    ids=["fixtures", "landing", "cdc"],
)
def test_generator_is_deterministic_per_seed(tmp_path, make):
    make(str(tmp_path / "a"), 7)
    make(str(tmp_path / "b"), 7)
    make(str(tmp_path / "c"), 8)
    a, b, c = (_digests(str(tmp_path / x)) for x in "abc")
    assert a and a == b
    assert a != c


def test_replicas_shift_keys_and_names(tmp_path):
    counts = gen.fixture_tables(str(tmp_path), 1, 2.0)
    assert counts["lineitem"] == 2 * gen.BASE_ROWS["lineitem"]
    import duckdb

    cust = os.path.join(str(tmp_path), "customer.parquet")
    rows = duckdb.sql(
        f"SELECT c_custkey, c_name FROM '{cust}' WHERE c_custkey IN (5, {gen.KEY_OFF + 5})"
    ).fetchall()
    assert sorted(rows) == [(5, "Customer#000000005"), (gen.KEY_OFF + 5, "Customer#aaa000000005")]


# Statistics of the repository's sf0.1 fixtures, measured with DuckDB. The
# generator at scale 1 must reproduce each within the given absolute
# tolerance (sampling noise at these row counts stays well inside it).
SF01_STATS = [
    ("SELECT count(*), min(c_acctbal), median(c_acctbal), max(c_acctbal) FROM customer",
     (15000, -999.85, 4598.32, 9999.80), 200),
    ("SELECT quantile_cont(n, 0.5), quantile_cont(n, 0.9), max(n) FROM "
     "(SELECT count(*) n FROM orders GROUP BY o_custkey)", (10, 14, 24), 2),
    ("SELECT quantile_cont(o_totalprice, [0.1, 0.5, 0.9]) FROM orders",
     ([50697.46, 249938.44, 449844.17],), 5000),
    ("SELECT datediff('day', DATE '1995-01-01', min(o_orderdate)), "
     "datediff('day', DATE '1995-01-01', max(o_orderdate)) FROM orders", (0, 2404), 3),
    ("SELECT quantile_cont(n, 0.5), max(n) FROM "
     "(SELECT count(*) n FROM lineitem GROUP BY l_orderkey)", (4, 17), 3),
    ("SELECT quantile_cont(l_extendedprice, [0.1, 0.5, 0.9]) FROM lineitem",
     ([11331.59, 52923.19, 94602.46],), 1100),
    ("SELECT min(l_quantity), max(l_quantity), max(l_discount), max(l_tax) FROM lineitem",
     (1, 50, 0.1, 0.08), 0),
    # Prices are drawn independently in the fixtures: extended price is not
    # quantity x retail price, and an order's total is not its lines' sum.
    ("SELECT avg((abs(l_extendedprice - l_quantity * p_retailprice) < 0.005)::INT) "
     "FROM lineitem JOIN part ON l_partkey = p_partkey", (0.0,), 0.01),
    ("SELECT corr(o_totalprice, s) FROM orders JOIN (SELECT l_orderkey, "
     "sum(l_extendedprice * (1 + l_tax) * (1 - l_discount)) s FROM lineitem "
     "GROUP BY 1) ON o_orderkey = l_orderkey", (0.0,), 0.02),
    ("SELECT avg((l_shipdate > o_orderdate)::INT) FROM lineitem "
     "JOIN orders ON l_orderkey = o_orderkey", (0.5187,), 0.01),
    ("SELECT quantile_cont(n, 0.5), quantile_cont(n, 0.9) FROM "
     "(SELECT count(*) n FROM lineitem GROUP BY l_partkey)", (30, 37), 1),
    ("SELECT quantile_cont(n, 0.5) FROM "
     "(SELECT count(*) n FROM lineitem GROUP BY l_suppkey)", (599,), 10),
    ("SELECT count(DISTINCT p_name), count(DISTINCT p_brand), count(DISTINCT p_type), "
     "min(p_retailprice), max(p_retailprice) FROM part", (64, 25, 6, 900.0, 999.9), 0),
    ("SELECT quantile_cont(n, 0.5), quantile_cont(n, 0.9) FROM "
     "(SELECT count(*) n FROM events GROUP BY user_id)", (66, 78), 2),
    ("SELECT avg(value), median(value), max(value) FROM events", (49.87, 34.77, 560.21), 1),
    ("SELECT median(n_chars) FROM documents", (295,), 15),
    ("SELECT avg((text LIKE '% dup')::INT), avg((lang = 'en')::INT) FROM documents",
     (0.05, 0.41), 0.02),
    ("SELECT stddev(u) FROM (SELECT unnest(embedding) u FROM embeddings)", (0.125,), 0.002),
]


def _close(got, want, tol) -> bool:
    if isinstance(want, list):
        return len(got) == len(want) and all(_close(g, w, tol) for g, w in zip(got, want))
    return abs(float(got) - want) <= tol


def test_generator_matches_fixture_statistics(tmp_path):
    import duckdb

    d = str(tmp_path)
    gen.fixture_tables(d, 5, 1.0)
    con = duckdb.connect()
    for t in ("customer", "part", "orders", "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
    bad = []
    for sql, want, tol in SF01_STATS:
        got = con.execute(sql).fetchone()
        if not all(_close(g, w, tol) for g, w in zip(got, want)):
            bad.append((sql, got, want))
    assert not bad


class _FakeFrame:
    def __init__(self, table):
        self._table = table

    def toArrow(self):
        return self._table


def _ctx(tmp_path):
    return workloads.Ctx(
        spark=None, tracer=Tracer(False), probe=None, oracle=QueryOracle(),
        seed=1, cache=str(tmp_path), scratch=str(tmp_path),
    )


@pytest.mark.parametrize("corrupt", [False, True])
def test_corrupted_output_counts_as_failed(tmp_path, monkeypatch, corrupt):
    from lakeflow import queries

    data = str(tmp_path / "data")
    gen.fixture_tables(data, 3, 0.01)
    ctx = _ctx(tmp_path)
    name = "q1_pricing_summary"
    cols, rows = ctx.oracle.answer(name, data)
    rows = [list(r) for r in rows]
    if corrupt:
        i = next(j for j, v in enumerate(rows[0]) if isinstance(v, float))
        rows[0][i] += 0.01
    table = pa.table({c: [r[k] for r in rows] for k, c in enumerate(cols)})
    monkeypatch.setitem(queries.QUERIES, name, lambda spark, sf_dir: _FakeFrame(table))
    op = workloads.query_op(ctx, name, data)
    assert op.ok is (not corrupt)
    assert ctx.ops == [op]
    if corrupt:
        assert "differ" in op.error


def test_raising_query_counts_as_failed(tmp_path, monkeypatch):
    from lakeflow import queries

    def boom(spark, sf_dir):
        raise ValueError("broken")

    monkeypatch.setitem(queries.QUERIES, "q6_forecast_revenue", boom)
    ctx = _ctx(tmp_path)
    op = workloads.query_op(ctx, "q6_forecast_revenue", str(tmp_path))
    assert not op.ok and "broken" in op.error


def test_diff_normalisation():
    assert diff(["b", "a"], [(1, 2.0), (3, float("nan"))], ["a", "b"],
                [(float("nan"), 3), (2.0, 1)]) is None
    assert diff(["a"], [(True,)], ["a"], [(1,)]) is None
    assert "rows !=" in diff(["a"], [(1,)], ["a"], [])
    assert "columns" in diff(["a"], [(1,)], ["b"], [(1,)])


def test_self_time_subtracts_union_of_children():
    spans = [
        Span("bench.op", 0.0, 10.0, None, 0),
        Span("queries.build", 1.0, 4.0, 0, 0),
        Span("exec.run", 3.0, 6.0, 0, 0),  # overlaps build: union is 1..6
        Span("exec.inner", 4.0, 5.0, 2, 0),
        Span("check.oracle", 10.0, 12.0, None, 0),
        Span("queries.build", 20.0, 21.0, None, 1),
    ]
    st = self_times(spans)
    assert st["bench"] == pytest.approx(10.0 - 5.0)
    assert st["queries"] == pytest.approx(3.0 + 1.0)
    assert st["exec"] == pytest.approx((3.0 - 1.0) + 1.0)
    assert st["check"] == pytest.approx(2.0)


def test_self_times_of_nested_spans_sum_to_root_time():
    tr = Tracer(True)
    for op in range(3):
        with tr.span("bench.op", op):
            with tr.span("queries.build"):
                with tr.span("exec.eager"):
                    pass
            with tr.span("exec.run"):
                pass
    roots = sum(s.end - s.start for s in tr.spans if s.parent is None)
    assert sum(self_times(tr.spans).values()) == pytest.approx(roots)


def test_tracer_records_parents_and_op_ids():
    tr = Tracer(True)
    with tr.span("bench.op", 7):
        with tr.span("queries.build"):
            pass
    assert [(s.name, s.parent, s.op_id) for s in tr.spans] == [
        ("bench.op", None, 7), ("queries.build", 0, 7)
    ]
    off = Tracer(False)
    with off.span("bench.op", 1):
        pass
    assert off.spans == []


def test_tail_is_highest_percentile_with_ten_beyond():
    xs = [float(i) for i in range(1, 41)]
    value, pct, n = run.tail(xs)
    assert (value, pct, n) == (30.0, 75.0, 40)
    assert sum(1 for x in xs if x > value) == 10
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)


def test_cycles_follow_seconds():
    assert workloads.cycles_for("query_mix", 1) == 1
    assert workloads.cycles_for("query_mix", 4 * workloads.CYCLE_S["query_mix"]) == 4


def test_known_defects_are_registered_and_outside_the_gated_mix():
    from lakeflow.queries import ORACLES, QUERIES

    for name in workloads.QUERY_MIX + workloads.KNOWN_DEFECTS:
        assert name in QUERIES and name in ORACLES
    assert not set(workloads.KNOWN_DEFECTS) & set(workloads.QUERY_MIX)
