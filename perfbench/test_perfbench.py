"""Tests of the benchmark's own code. Run from the repository root:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from btc_blockchain_scanner_spark.kg import oracle  # noqa: E402
from perfbench import sfdata, stats, trace, workloads  # noqa: E402
from perfbench.run import END_TO_END, stop_jvm  # noqa: E402
from perfbench.tracerun import PER_LAYER  # noqa: E402
from perfbench.workloads import QUERIES, WORKLOADS, CanonGraph  # noqa: E402


# -- percentile support -------------------------------------------------------


def test_median_always_p80_only_from_50_samples():
    assert stats.summarize([3.0]) == {"n": 1, "p50": 3.0}
    assert "p80" not in stats.summarize([float(i) for i in range(49)])
    s = stats.summarize([float(i) for i in range(50)])
    assert s["p50"] == 24.5 and s["p80"] == pytest.approx(39.2)
    assert stats.supported_tail(99) == 80
    assert stats.supported_tail(100) == 90
    assert stats.supported_tail(1000) == 99


# -- span arithmetic ----------------------------------------------------------


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_self_time_is_span_minus_children():
    clock = FakeClock()
    tr = trace.Tracer(clock=clock)
    with tr.span("op"):
        clock.t = 1.0
        with tr.span("a"):
            clock.t = 3.0
            with tr.span("a.inner"):
                clock.t = 4.0
        clock.t = 5.0
        with tr.span("b"):
            clock.t = 9.0
        clock.t = 10.0
    assert [s.wall for s in tr.spans] == [10.0, 3.0, 1.0, 4.0]
    assert trace.self_times(tr.spans) == [3.0, 2.0, 1.0, 4.0]
    assert tr.self_time("op") == 3.0
    assert [s.parent for s in tr.spans] == [None, 0, 1, 0]


def test_overlapping_children_are_counted_once():
    spans = [
        trace.Span("op", 0.0, 10.0),
        trace.Span("x", 1.0, 6.0, parent=0),
        trace.Span("y", 4.0, 8.0, parent=0),
        trace.Span("z", 9.0, 12.0, parent=0),  # clipped to the parent's end
    ]
    assert trace.self_times(spans)[0] == pytest.approx(10.0 - 7.0 - 1.0)


# -- job attribution ----------------------------------------------------------


class FakeTracker:
    def __init__(self):
        self.jobs: list[int] = []

    def getJobIdsForGroup(self, group):
        assert group is None
        return list(self.jobs)


class FakeSpark:
    def __init__(self):
        self.tracker = FakeTracker()
        self.sparkContext = self

    def statusTracker(self):
        return self.tracker

    def run_jobs(self, n):
        start = max(self.tracker.jobs, default=-1) + 1
        self.tracker.jobs.extend(range(start, start + n))


def test_jobs_are_attributed_by_id_difference():
    spark = FakeSpark()
    spark.run_jobs(3)
    tr = trace.Tracer(spark)
    with tr.span("op"):
        spark.run_jobs(2)
        with tr.span("layer"):
            spark.run_jobs(4)
        spark.run_jobs(1)
    op, layer = tr.spans
    assert layer.jobs == [5, 6, 7, 8]
    assert op.jobs == [3, 4, 5, 6, 7, 8, 9]


# -- canon_graph closed form --------------------------------------------------


class TinyCanon(CanonGraph):
    hub_leaves = 50
    n_chains = 20
    batch_edges = 40

    def __init__(self, seed):
        self.seed, self.n_ops = seed, 3


def test_canon_graph_closed_form_matches_union_find():
    wl = TinyCanon(seed=7)
    src, dst = wl.graph_edges()
    assert len(src) == wl.hub_leaves + 7 * wl.n_chains and (src < dst).all()
    uf = oracle.UnionFind()
    for s, d in zip(src.tolist(), dst.tolist()):
        uf.union(s, d)
    assert all(uf.find(n) == wl.component_key(n) for n in list(uf.p))

    over = dict(wl.expected_overrides())
    for b in range(wl.n_ops - 1):
        for s, d in zip(*wl.batch_edges_of(b)):
            uf.union(int(s), int(d))
    for n in list(uf.p):
        key = wl.component_key(n)
        assert uf.find(n) == over.get(key, key)


def test_inputs_depend_only_on_the_seed():
    a, b, c = TinyCanon(1), TinyCanon(1), TinyCanon(2)
    for x, y in zip(a.batch_edges_of(0), b.batch_edges_of(0)):
        assert (x == y).all()
    assert not all((x == y).all() for x, y in zip(a.graph_edges(), c.graph_edges()))


# -- BENCHMARK.json agrees with the code --------------------------------------


def test_benchmark_json_matches_the_metric_lists():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]] == [
        tuple(m) for m in END_TO_END
    ]
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == [
        tuple(m) for m in PER_LAYER
    ]
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


# -- query suite --------------------------------------------------------------


def test_query_suite_runs_registered_queries_in_registry_order():
    from btc_blockchain_scanner_spark import plans

    registered = list(plans.queries())
    assert [q for q in registered if q in QUERIES] == list(QUERIES)
    assert {workloads.query_module(q) for q in QUERIES} == {"relational", "text", "curation"}


def test_shared_shingle_oracle_returns_the_all_pairs_rows(tmp_path):
    import duckdb

    from btc_blockchain_scanner_spark import plans

    sfdata.write(str(tmp_path), seed=3, scale=0.002)  # 100 documents
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'")
    sql = plans.oracle_sql()["t05_ngram_jaccard_dups"]
    fast = workloads.cheaper_oracle(sql)
    assert fast != sql
    want = sorted(con.execute(sql).fetchall())
    assert want and sorted(con.execute(fast).fetchall()) == want


def test_tables_depend_only_on_the_seed():
    a, b, c = sfdata.tables(1, 0.001), sfdata.tables(1, 0.001), sfdata.tables(2, 0.001)
    assert list(a) == list(sfdata.TABLES)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


# -- the traced composition does the same work as pipeline.run ---------------


@pytest.fixture(scope="module")
def spark():
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    from btc_blockchain_scanner_spark.session import get_spark

    s = get_spark(master="local[2]", app_name="perfbench-tests")
    yield s
    stop_jvm(s)


def test_traced_build_equals_pipeline_run(spark, tmp_path):
    from btc_blockchain_scanner_spark.kg import datagen, pipeline
    from perfbench import layers

    datagen.transcripts(spark, n_convs=200, seed=5).write.parquet(str(tmp_path / "t"))
    turns = spark.read.parquet(str(tmp_path / "t"))
    want = pipeline.run(spark, turns, str(tmp_path / "run")).counters

    cc_stats: list[dict] = []
    tracer = trace.Tracer(spark)
    with layers.traced_cc(tracer, cc_stats):
        got = layers.traced_build(spark, tracer, turns, str(tmp_path / "traced"))
    match = {k: got.pop(f"match_{k}") for k in ("exact", "fuzzy", "new")}
    assert match == {"exact": 30, "fuzzy": 0, "new": 0}
    assert got == want
    names = [s.name for s in tracer.spans]
    for layer in ("kg.extract", "kg.link", "kg.canonicalize", "operators.cc", "kg.materialize"):
        assert layer in names
        assert all(s.jobs for s in tracer.named(layer))
    assert cc_stats and cc_stats[0]["path"] == "driver"
