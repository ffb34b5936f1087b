"""Layer-by-layer compositions of the program's ops for the traced run.

``pipeline.run`` calls its layers internally, so the traced run pushes the same input through the public
layer functions in the same order, with the same forcing writes and
checkpoints, each inside a span. The pipeline's thread pools are not used:
layers run one after another, so each span owns its jobs. The difference
between the sum of layer spans and the unmodified op's wall is the overlap
the pipeline gains from its pools.

``operators.cc.connected_components`` is interposed where
``kg.canonicalize`` calls it, to give CC its own span and its stats
(path, rounds, edges) without changing what it computes.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import functions as F

from btc_blockchain_scanner_spark.kg import canonicalize, extract, link, materialize, pipeline
from btc_blockchain_scanner_spark.kg.checkpoints import Manifest
from btc_blockchain_scanner_spark.sources.merge import merge_upsert


@contextmanager
def traced_cc(tracer, stats: list[dict]):
    """Run every CC call made through ``kg.canonicalize`` inside an
    ``operators.cc`` span, appending its ``stats_out`` to ``stats``."""
    orig = canonicalize.connected_components

    def traced(*args, **kwargs):
        st: dict = {}
        with tracer.span("operators.cc"):
            out = orig(*args, stats_out=st, **kwargs)
        stats.append(st)
        return out

    canonicalize.connected_components = traced
    try:
        yield
    finally:
        canonicalize.connected_components = orig


def match_counts(mentions, alias_dict) -> dict:
    """Distinct surfaces by link outcome (``match_exact`` / ``_fuzzy`` /
    ``_new``). Runs extra jobs, so callers keep it outside the layer spans."""
    resolved = link.resolve_surfaces(mentions.select("surface"), alias_dict)
    got = {r.match_type: r["count"] for r in resolved.groupBy("match_type").count().collect()}
    return {f"match_{k}": got.get(k, 0) for k in ("exact", "fuzzy", "new")}


def traced_build(spark, tracer, transcripts, out_dir: str, alias_dict=None, n_parts: int = 8) -> dict:
    """``pipeline.run`` on a fresh ``out_dir``, one span per layer.
    Returns pipeline.run's counters plus the link match counts."""
    alias_dict = alias_dict if alias_dict is not None else link.default_alias_dict(spark)
    mentions_path, triples_path = f"{out_dir}/mentions", f"{out_dir}/triples"
    with tracer.span("kg.pipeline"):
        manifest = Manifest(spark, f"{out_dir}/checkpoints")
        turns = pipeline.with_partition_key(transcripts, n_parts)
        with tracer.span("kg.checkpoints.validate"):
            done = manifest.validated_done(
                {mentions_path: "mentions_found", triples_path: "triples_emitted"}
            )
        pending = sorted({str(i) for i in range(n_parts)} - done, key=int)

        with tracer.span("kg.extract"):
            extracted = extract.extract(turns.where(F.col("partition_key").isin(pending))).persist()
            sinks = [
                (extract.mentions_from(extracted), mentions_path),
                (extract.triples_from(extracted), triples_path),
                (extract.mention_flags_from_extracted(extracted), f"{out_dir}/mention_flags"),
            ]
            for df, path in sinks:
                pipeline._write_partitioned(pipeline.with_partition_key(df, n_parts), path)

        with tracer.span("kg.checkpoints.record"):
            pend_df = spark.createDataFrame([(p,) for p in pending], "partition_key string")
            per_part = extracted.groupBy("partition_key").agg(
                F.count("*").alias("turns_scanned"),
                F.sum(F.size("ex.mentions")).alias("mentions_found"),
                F.sum(F.size("ex.triples")).alias("triples_emitted"),
            )
            counters = pend_df.join(per_part, "partition_key", "left").select(
                "partition_key",
                F.lit("batch-1").alias("last_done"),
                *[
                    F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c)
                    for c in ("turns_scanned", "mentions_found", "triples_emitted")
                ],
            )
            manifest.record(counters)
        extracted.unpersist()

        mentions_all = spark.read.parquet(mentions_path)
        with tracer.span("kg.link"):
            linked, entities = link.link_mentions(mentions_all, alias_dict, spark=spark)
            entities = entities.localCheckpoint(eager=True)
            entities.write.mode("overwrite").parquet(f"{out_dir}/entities")

        with tracer.span("kg.canonicalize"):
            edges_sim = canonicalize.comention_edges(linked)
            canon = canonicalize.canon_map(entities, edges_sim).localCheckpoint(eager=True)
            canon.write.mode("overwrite").parquet(f"{out_dir}/canon_map")

        with tracer.span("kg.materialize"):
            s2i = linked.select("surface", "entity_id").distinct()
            linked_triples = spark.read.parquet(triples_path).join(
                F.broadcast(s2i.toDF("subj_surface", "subj_entity")), "subj_surface"
            ).join(F.broadcast(s2i.toDF("obj_surface", "obj_entity")), "obj_surface")
            materialize.build_edges(linked_triples).write.mode("overwrite").parquet(
                f"{out_dir}/edges"
            )
            nodes = materialize.build_nodes(entities, canon)
            nodes.write.mode("overwrite").parquet(f"{out_dir}/nodes")

        totals = manifest.read().agg(
            *[F.sum(c).alias(c) for c in ("turns_scanned", "mentions_found", "triples_emitted")]
        ).first()
        out = {k: totals[k] or 0 for k in ("turns_scanned", "mentions_found", "triples_emitted")}
        out["entities"] = entities.count()
        out["nodes"] = spark.read.parquet(f"{out_dir}/nodes").count()
        out["edges"] = spark.read.parquet(f"{out_dir}/edges").count()
    with tracer.span("bench.count"):
        out.update(match_counts(mentions_all, alias_dict))
    return out


def changed_rows(spark, target: str, updates, keys: list[str]) -> int:
    """Rows a MERGE of ``updates`` into ``target`` inserts or changes."""
    if not os.path.isdir(target):
        return updates.count()
    old = spark.read.parquet(target)
    vals = [c for c in updates.columns if c not in keys]
    diff = updates.join(old.select(*keys, *[F.col(c).alias(f"_old_{c}") for c in vals]), keys, "left")
    cond = F.lit(False)
    for c in vals:
        cond = cond | ~F.col(c).eqNullSafe(F.col(f"_old_{c}"))
    return diff.where(cond).count()


def traced_canon_op(spark, tracer, state: str, edges, entities=None) -> dict:
    """One canon_graph op, one span per layer: a full ``canon_map`` sweep
    when ``entities`` is given, else a contracted batch update; then the
    MERGE into the persisted canon state."""
    with tracer.span("kg.canonicalize"):
        if entities is not None:
            canon = canonicalize.canon_map(entities, edges)
        else:
            canon = canonicalize.incremental_canon_update(spark.read.parquet(state), edges)
        canon = canon.localCheckpoint(eager=True)
    with tracer.span("bench.count"):
        changed = changed_rows(spark, state, canon, ["entity_id"])
    with tracer.span("sources.merge"):
        stats = merge_upsert(spark, state, canon, ["entity_id"])
    return {"changed": changed, "merge": {"canon_map": stats}}
