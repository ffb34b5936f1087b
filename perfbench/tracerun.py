"""The traced run: one unmodified op, then the same work layer by layer,
then per-layer metrics from the spans, the status tracker, the UDF
profiler and the Spark event log.

Every workload reports every metric in ``PER_LAYER``; a layer a workload
does not run reports 0.
"""

from __future__ import annotations

import statistics

from perfbench import layers, trace
from perfbench.workloads import QUERIES, query_module

# (name, unit, better) — mirrored by BENCHMARK.json's per_layer list.
PER_LAYER = [
    ("session.start_s", "s", "lower"),
    ("kg.pipeline.jobs", "count", "lower"),
    ("kg.pipeline.stages", "count", "lower"),
    ("kg.pipeline.tasks", "count", "lower"),
    ("kg.pipeline.self_s", "s", "lower"),
    ("kg.pipeline.overlap_s", "s", "higher"),
    ("kg.extract.wall_s", "s", "lower"),
    ("kg.extract.jobs", "count", "lower"),
    ("kg.extract.udf_s", "s", "lower"),
    ("kg.extract.shuffle_write_mb", "MB", "lower"),
    ("kg.extract.spill_mb", "MB", "lower"),
    ("kg.extract.turns", "count", "higher"),
    ("kg.extract.mentions", "count", "higher"),
    ("kg.extract.triples", "count", "higher"),
    ("kg.checkpoints.validate_s", "s", "lower"),
    ("kg.checkpoints.record_s", "s", "lower"),
    ("kg.checkpoints.jobs", "count", "lower"),
    ("kg.link.wall_s", "s", "lower"),
    ("kg.link.jobs", "count", "lower"),
    ("kg.link.match_exact", "count", "higher"),
    ("kg.link.match_fuzzy", "count", "higher"),
    ("kg.link.match_new", "count", "lower"),
    ("kg.link.fuzzy_yield", "ratio", "higher"),
    ("kg.canonicalize.wall_s", "s", "lower"),
    ("kg.canonicalize.self_s", "s", "lower"),
    ("kg.canonicalize.batch_wall_s", "s", "lower"),
    ("kg.canonicalize.jobs", "count", "lower"),
    ("operators.cc.wall_s", "s", "lower"),
    ("operators.cc.rounds", "count", "lower"),
    ("operators.cc.driver_edges", "count", "higher"),
    ("operators.cc.distributed_edges", "count", "higher"),
    ("operators.cc.jobs", "count", "lower"),
    ("operators.cc.shuffle_write_mb", "MB", "lower"),
    ("operators.cc.spill_mb", "MB", "lower"),
    ("kg.materialize.wall_s", "s", "lower"),
    ("kg.materialize.jobs", "count", "lower"),
    ("kg.materialize.nodes", "count", "higher"),
    ("kg.materialize.edges", "count", "higher"),
    ("sources.merge.wall_s", "s", "lower"),
    ("sources.merge.jobs", "count", "lower"),
    ("sources.merge.rows_written", "count", "lower"),
    ("sources.merge.rows_changed", "count", "higher"),
    ("sources.merge.write_amplification", "ratio", "lower"),
    *[(f"plans.{m}.wall_s", "s", "lower") for m in ("relational", "text", "curation")],
    *[(f"plans.query.{q}_s", "s", "lower") for q in QUERIES],
    ("spark.executor_run_s", "s", "lower"),
    ("spark.executor_cpu_s", "s", "lower"),
    ("spark.cpu_util", "ratio", "higher"),
    ("spark.gc_s", "s", "lower"),
    ("spark.shuffle_read_mb", "MB", "lower"),
    ("spark.shuffle_write_mb", "MB", "lower"),
    ("spark.spill_mb", "MB", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.failed_tasks", "count", "lower"),
    ("host.steal_pct", "%", "lower"),
    ("host.peak_rss_mb", "MB", "lower"),
    ("trace.op_wall_s", "s", "lower"),
    ("trace.overhead_ratio", "ratio", "lower"),
]

PROFILER = "spark.sql.pyspark.udf.profiler"


def trace_conf(log_dir: str) -> dict[str, str]:
    """Session settings of the traced run: one uncompressed event-log file
    inside the run's work dir."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{log_dir}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def udf_seconds(spark) -> float:
    """Total time the perf profiler saw inside Python UDFs since the last
    ``spark.profile.clear()``."""
    results = spark.profile.profiler_collector._perf_profile_results
    return sum(st.total_tt for st in results.values())


class TracedRun:
    """Drives one workload's traced run and collects what the metrics need
    before the session stops (the event log is read after)."""

    def __init__(self, spark, wl):
        self.spark = spark
        self.wl = wl
        self.tracer = trace.Tracer(spark)
        self.cc_stats: list[dict] = []
        self.info: list[dict] = []
        self.udf_s = 0.0
        self.op_jobs: list[int] = []  # jobs per unmodified op
        self.failed: list[str] = []

    def unmodified(self, i: int) -> None:
        with self.tracer.span("op") as s:
            _, ok = self.wl.op(i)
        if not ok:
            self.failed.append(f"unmodified op {i} failed its check")
        self.op_jobs.append(len(s.jobs))
        self.tracer.next_op()

    def layered(self, fn, *args, **kwargs) -> dict:
        self.spark.conf.set(PROFILER, "perf")
        self.spark.profile.clear()
        try:
            with self.tracer.span("traced_op"), layers.traced_cc(self.tracer, self.cc_stats):
                info = fn(self.spark, self.tracer, *args, **kwargs)
            self.udf_s += udf_seconds(self.spark)
        finally:
            self.spark.conf.unset(PROFILER)
        self.tracer.next_op()
        self.info.append(info)
        return info

    def run(self) -> None:
        wl = self.wl
        if wl.name == "rebuild_small":
            self.unmodified(0)
            info = self.layered(layers.traced_build, wl.turns, wl.path("traced"))
            got = {k: info[k] for k in wl.expected}
            if got != wl.expected:
                self.failed.append(f"layered build counters {got} != {wl.expected}")
        elif wl.name == "query_suite":
            # a query is one plan: there are no layers to take apart, so
            # each query's span is its plans.query metric
            for i in range(wl.n_ops):
                self.unmodified(i)
        else:
            for i in range(wl.n_ops):
                self.unmodified(i)
            state = wl.path("traced_state")
            self.layered(layers.traced_canon_op, state, wl.graph, entities=wl.entities)
            for b in wl.batches:
                self.layered(layers.traced_canon_op, state, b)
            diff = (
                self.spark.read.parquet(state)
                .exceptAll(self.spark.read.parquet(wl.state))
                .count()
            )
            if diff:
                self.failed.append(f"layered canon state differs from the op's in {diff} rows")
        self.failed += wl.gates()

    def metrics(
        self, log_dir: str, session_s: float, steal: float, peak_rss_mb: float, cores: int
    ) -> dict:
        """Per-layer metrics; call after the session has stopped."""
        job_stages, stage_totals = trace.read_event_log(log_dir)
        tr = self.tracer

        def wall(name):
            return sum(s.wall for s in tr.named(name))

        def jobs(*names):
            return sorted({j for n in names for s in tr.named(n) for j in s.jobs})

        def totals(*names):
            return trace.totals_for(jobs(*names), job_stages, stage_totals)

        ops = tr.named("op")
        op_wall = sum(s.wall for s in ops)
        traced_wall = wall("traced_op") - wall("bench.count")
        batch_ops = set()
        if self.wl.name == "canon_graph":  # every layered op after the sweep is a batch
            batch_ops = {s.op for s in tr.named("traced_op")}
            batch_ops.discard(min(batch_ops))
        batch_walls = [s.wall for s in tr.named("kg.canonicalize") if s.op in batch_ops]

        layer_names = [
            "kg.checkpoints.validate", "kg.extract", "kg.checkpoints.record",
            "kg.link", "kg.canonicalize", "kg.materialize", "sources.merge",
        ]
        pipeline = self.wl.name == "rebuild_small"

        def total(key):
            return sum(info.get(key, 0) for info in self.info)

        fuzzy, new = total("match_fuzzy"), total("match_new")
        merges = [m for info in self.info for m in info.get("merge", {}).values()]
        written = sum(m["inserted"] + m["updated"] + m["kept"] for m in merges)
        changed = total("changed")
        cc_path = [
            (st.get("path"), st.get("undirected_edges", 0), st.get("rounds", 0))
            for st in self.cc_stats
        ]
        engine = totals("op")
        ex, cc = totals("kg.extract"), totals("operators.cc")
        n_ops = len(ops) if pipeline else 0
        query_s = {q: 0.0 for q in QUERIES}
        if self.wl.name == "query_suite":
            for s in ops:
                query_s[QUERIES[s.op % len(QUERIES)]] += s.wall

        m = {
            "session.start_s": session_s,
            "kg.pipeline.jobs": statistics.median(self.op_jobs) if n_ops else 0,
            "kg.pipeline.stages": engine.stages / n_ops if n_ops else 0,
            "kg.pipeline.tasks": engine.tasks / n_ops if n_ops else 0,
            "kg.pipeline.self_s": tr.self_time("kg.pipeline"),
            "kg.pipeline.overlap_s": (
                sum(wall(n) for n in layer_names) - op_wall if pipeline else 0.0
            ),
            "kg.extract.wall_s": wall("kg.extract"),
            "kg.extract.jobs": len(jobs("kg.extract")),
            "kg.extract.udf_s": self.udf_s,
            "kg.extract.shuffle_write_mb": ex.shuffle_write_mb,
            "kg.extract.spill_mb": ex.spill_mb,
            "kg.extract.turns": total("turns_scanned"),
            "kg.extract.mentions": total("mentions_found"),
            "kg.extract.triples": total("triples_emitted"),
            "kg.checkpoints.validate_s": wall("kg.checkpoints.validate"),
            "kg.checkpoints.record_s": wall("kg.checkpoints.record"),
            "kg.checkpoints.jobs": len(jobs("kg.checkpoints.validate", "kg.checkpoints.record")),
            "kg.link.wall_s": wall("kg.link"),
            "kg.link.jobs": len(jobs("kg.link")),
            "kg.link.match_exact": total("match_exact"),
            "kg.link.match_fuzzy": fuzzy,
            "kg.link.match_new": new,
            "kg.link.fuzzy_yield": fuzzy / (fuzzy + new) if fuzzy + new else 0.0,
            "kg.canonicalize.wall_s": wall("kg.canonicalize"),
            "kg.canonicalize.self_s": tr.self_time("kg.canonicalize"),
            "kg.canonicalize.batch_wall_s": statistics.median(batch_walls) if batch_walls else 0.0,
            "kg.canonicalize.jobs": len(jobs("kg.canonicalize")),
            "operators.cc.wall_s": wall("operators.cc"),
            "operators.cc.rounds": max((r for _, _, r in cc_path), default=0),
            "operators.cc.driver_edges": sum(e for p, e, _ in cc_path if p == "driver"),
            "operators.cc.distributed_edges": sum(e for p, e, _ in cc_path if p == "distributed"),
            "operators.cc.jobs": len(jobs("operators.cc")),
            "operators.cc.shuffle_write_mb": cc.shuffle_write_mb,
            "operators.cc.spill_mb": cc.spill_mb,
            "kg.materialize.wall_s": wall("kg.materialize"),
            "kg.materialize.jobs": len(jobs("kg.materialize")),
            "kg.materialize.nodes": total("nodes"),
            "kg.materialize.edges": total("edges"),
            "sources.merge.wall_s": wall("sources.merge"),
            "sources.merge.jobs": len(jobs("sources.merge")),
            "sources.merge.rows_written": written,
            "sources.merge.rows_changed": changed,
            "sources.merge.write_amplification": written / max(changed, 1),
            **{
                f"plans.{m}.wall_s": sum(t for q, t in query_s.items() if query_module(q) == m)
                for m in ("relational", "text", "curation")
            },
            **{f"plans.query.{q}_s": t for q, t in query_s.items()},
            "spark.executor_run_s": engine.run_s,
            "spark.executor_cpu_s": engine.cpu_s,
            "spark.cpu_util": engine.cpu_s / (op_wall * cores) if op_wall else 0.0,
            "spark.gc_s": engine.gc_s,
            "spark.shuffle_read_mb": engine.shuffle_read_mb,
            "spark.shuffle_write_mb": engine.shuffle_write_mb,
            "spark.spill_mb": engine.spill_mb,
            "spark.tasks": engine.tasks,
            "spark.failed_tasks": engine.failed_tasks,
            "host.steal_pct": steal,
            "host.peak_rss_mb": peak_rss_mb,
            "trace.op_wall_s": op_wall,
            "trace.overhead_ratio": traced_wall / op_wall if op_wall else 0.0,
        }
        units = {n: u for n, u, _ in PER_LAYER}
        if set(m) != set(units):
            raise RuntimeError(f"per-layer metrics out of sync: {set(m) ^ set(units)}")
        return {n: {"value": v, "unit": units[n]} for n, v in m.items()}
