"""Which functions the traced run wraps, per layer.

Each layer's public functions are wrapped under the names their callers
bind: ``store.py`` imports ``prune_rowgroup_ids`` and
``decode_matching`` by name, ``warehouse.py`` imports ``encode`` by
name, and the facade imports the aggregate and top-k operators inside
its methods (so those are wrapped on their defining module).
"""

from __future__ import annotations

import contextlib

from .spans import Tracer

STORE_METHODS = (
    "add_range", "close", "compact", "delete_where", "upsert", "vacuum",
    "rows", "solid_rows", "query_by_value", "query_by_in", "query_where",
    "topk", "group_agg", "quantile", "aggregate", "schema",
)
WAREHOUSE_METHODS = (
    "manifest", "live_manifest", "committed_segments", "done_rowgroups",
    "encode_resumable", "compact", "replace_rowgroups",
    "vacuum_orphan_segments",
)
PLANS_FUNCS = (
    "prune_rowgroup_ids", "prune_rowgroup_ids_in", "prune_rowgroup_ids_null",
    "prune_rowgroup_ids_any", "prune_rowgroups_by_value",
    "prune_rowgroups_by_range", "prune_rowgroups_by_values",
    "prune_rowgroups_by_null", "prune_segments_any", "prune_rowgroups_any",
)
OPERATOR_FUNCS = (
    "encode", "decode", "decode_matching", "decode_matching_in",
    "decode_matching_range", "decode_matching_null",
    "decode_matching_contains", "decode_window", "decode_with_rowgroup",
    "schema_from_segments", "aggregate_segments", "group_count",
    "group_agg", "quantiles", "count_matching", "distinct_values",
    "count_distinct", "topk", "semi_join_segments",
)


@contextlib.contextmanager
def traced_store_stack(tracer: Tracer):
    """store -> plans / sources -> operators, as bound by their callers,
    wrapped for the duration of the block."""
    from columnstore_spark import store
    from columnstore_spark.operators import aggregate, semijoin
    from columnstore_spark.operators import topk as topk_mod
    from columnstore_spark.sources import warehouse

    for m in STORE_METHODS:
        tracer.wrap(store.TranscriptColumnStore, m, f"store.{m}")
    for m in WAREHOUSE_METHODS:
        tracer.wrap(warehouse.Warehouse, m, f"sources.{m}")
    callers = (store, warehouse, aggregate, topk_mod, semijoin)
    tracer.wrap_bound(callers, PLANS_FUNCS, "plans")
    # the facade's call-time imports resolve on the defining modules
    # (aggregate, topk_mod), which `callers` already covers
    tracer.wrap_bound(callers, OPERATOR_FUNCS, "operators")
    try:
        yield tracer
    finally:
        tracer.unwrap_all()


# op kinds with a plan/exec split (reads) and with one time (writes);
# the projected export reports with the full one as `rows`
READ_KINDS = ("point", "fresh_read", "in", "where", "topk", "group_agg",
              "quantile", "aggregate", "rows")
WRITE_KINDS = ("add_range", "close", "compact", "delete", "upsert")


def op_layers(results) -> dict:
    """store.<op>.plan_ms / exec_ms / jobs (reads) and store.<op>.ms /
    jobs (writes): medians over the results of each kind."""
    from .runtime import median

    out = {}
    for kind in READ_KINDS + WRITE_KINDS:
        rs = [r for r in results if r.kind == kind
              or (kind == "rows" and r.kind == "rows_proj")]
        if not rs:
            continue
        out[f"store.{kind}.jobs"] = median(r.jobs for r in rs)
        if kind in WRITE_KINDS:
            out[f"store.{kind}.ms"] = median(r.total_s for r in rs) * 1e3
        else:
            out[f"store.{kind}.plan_ms"] = median(r.plan_s for r in rs) * 1e3
            out[f"store.{kind}.exec_ms"] = median(r.exec_s for r in rs) * 1e3
    return out


def ingest_layers(tracer: Tracer, written: dict, appended: int) -> dict:
    """sources.* of the ingest stream: the commit protocol's self time
    (its span minus its operators.encode child), and the bytes and files
    written under the store root per raw byte appended."""
    from .runtime import median
    from .spans import durations

    return {
        "sources.encode_resumable.self_ms": median(durations(
            tracer.spans, "sources.encode_resumable", self_only=True)) * 1e3,
        "sources.write_amp": sum(written.values()) / appended,
        "sources.files_written": len(written),
    }


def spark_layers(counters, results, wall: float, n_cores: int) -> dict:
    """spark.* totals of the jobs `results` ran (exact: each op ran in
    its own job group)."""
    t = counters.stage_totals(r.group for r in results)
    return {
        "spark.jobs": sum(r.jobs for r in results),
        "spark.tasks": t["tasks"],
        "spark.executor_run_ms": t["run_ms"],
        "spark.shuffle_write_bytes": t["shuffle_write"],
        "spark.executor_busy_ratio": t["run_ms"] / (wall * 1e3 * n_cores),
    }


LAYERS = ("store", "plans", "sources", "operators", "session")


def self_time_layers(spans, point_root: str = "op.point") -> dict:
    """Per-layer self time of `spans`: summed over all of them
    (trace.<layer>.self_ms) and as the median under one point lookup
    (trace.point.<layer>_ms), with the share of the lookup's wall time
    that layer spans account for."""
    from .runtime import median
    from .spans import self_times

    out = {}
    total = self_times(spans)
    for layer in LAYERS:
        out[f"trace.{layer}.self_ms"] = sum(total.get(layer, [0.0])) * 1e3
    point = self_times(spans, point_root)
    if point:
        n = len(next(iter(point.values())))
        for layer in LAYERS:
            out[f"trace.point.{layer}_ms"] = median(
                point.get(layer, [0.0] * n)) * 1e3
        bench = point.get("bench", [0.0] * n)
        walls = [sum(v[i] for v in point.values()) for i in range(n)]
        out["trace.point.accounted_ratio"] = median(
            1 - b / w for b, w in zip(bench, walls))
    return out
