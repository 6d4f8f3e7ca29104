"""Per-layer metrics of the traced run.

Layers are named after the engine's modules: `api` (mlvectordb_spark/api.py,
EngineService), `store` (operators/store.py, VectorStore), `ann`
(operators/ann.py), `queries` (mlvectordb_spark/queries.py, spans opened
around the registry call and its noop write) and `spark` (job-group
counters from Spark's status store). `client` is the benchmark's own root
span of each operation.

A span covers the time spent inside the wrapped call. Engine calls that
return a lazy DataFrame (the ann searches) cover planning only; the
DataFrame runs in the caller's span, usually the store's collect.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from spans import Tracer, self_times
from stats import p50

API = ("search", "search_batch", "upsert_batch", "delete_vectors",
       "sync_indexes", "build_index")
STORE = ("find_similar", "find_similar_batch", "df", "upsert_by_id",
         "upsert_many", "delete", "sync_indexes", "compact", "build_index")
ANN = ("build", "apply_changes", "knn_join_exact", "knn_join", "search_exact",
       "search", "measure_recall_curve", "nprobe_for_recall")

SPARK_OPS = ("search_exact", "search_indexed", "search_approx", "search_batch",
             "upsert", "insert", "delete", "sync", "analytics")
SPARK_TOTALS = ("task_run_ms", "task_cpu_ms", "gc_ms", "driver_gap_ms",
                "shuffle_write_bytes", "shuffle_fetch_wait_ms")

# name → unit, in the order BENCHMARK.json lists them
METRICS: dict[str, str] = {
    "api.search.self_ms": "ms", "api.search_batch.self_ms": "ms",
    "api.upsert_batch.self_ms": "ms", "api.calls": "count/op",
    "store.find_similar.ms": "ms", "store.find_similar_batch.ms": "ms",
    "store.df.ms": "ms", "store.upsert_by_id.ms": "ms",
    "store.upsert_many.ms": "ms", "store.delete.ms": "ms",
    "store.sync_indexes.ms": "ms", "store.plan_cache.hit_ratio": "ratio",
    "store.compact.count": "count", "store.compact.ms": "ms",
    "store.data_files": "count", "store.space_amp": "ratio",
    "store.tombstone_ratio.max": "ratio",
    "ann.build.ms": "ms", "ann.apply_changes.ms": "ms",
    "ann.apply_changes.calls": "count", "ann.resync.count": "count",
    "ann.knn_join_exact.ms": "ms", "ann.search_exact.ms": "ms",
    "ann.measure_recall_curve.ms": "ms", "ann.nprobe_chosen": "count",
    "ann.probe_ratio": "ratio",
    "queries.plan_ms": "ms", "queries.exec_s": "s", "queries.vector.s": "s",
    **{f"spark.jobs.{op}": "count/op" for op in SPARK_OPS},
    **{f"spark.tasks.{op}": "count/op" for op in SPARK_OPS},
    **{f"spark.{m}": ("bytes/op" if m.endswith("bytes") else "ms/op")
       for m in SPARK_TOTALS},
    "trace.overhead_ms": "ms", "trace.selftime_residual_ms": "ms",
}


def instrument(tracer: Tracer) -> None:
    """Wrap the public functions of api, store and ann. The store imports
    `resync_index_from_snapshot` from the ann module at call time, so that
    name is wrapped in the ann module's namespace."""
    from mlvectordb_spark import api
    from mlvectordb_spark.operators import ann, store

    for attr in API:
        tracer.wrap(api.EngineService, attr, f"api.{attr}", "api")
    last_df = {}

    def df_hit(rec, out, _args):
        rec["hit"] = last_df.get("obj") is out
        last_df["obj"] = out

    for attr in STORE:
        tracer.wrap(store.VectorStore, attr, f"store.{attr}", "store",
                    on_result=df_hit if attr == "df" else None)

    def probe_dial(rec, out, args):
        rec["nprobe"] = int(out)
        rec["n_clusters"] = int(args[0].n_clusters)

    for attr in ANN:
        tracer.wrap(ann.IVFIndex, attr, f"ann.{attr}", "ann",
                    on_result=probe_dial if attr == "nprobe_for_recall" else None)
    tracer.wrap(ann, "resync_index_from_snapshot", "ann.resync", "ann")


def per_layer(run) -> tuple[dict[str, float], list[str]]:
    """Every per-layer metric (0 where the workload does not reach the
    layer), and report lines that show the self-time split per op type."""
    spans = run.tracer.spans
    selfs = self_times(spans)
    op_name = {s["op"]: s["name"] for s in spans if s["parent"] is None}
    measured = [s for s in spans if not op_name[s["op"]].startswith("setup.")]
    by_name = defaultdict(list)
    for s in measured:
        by_name[s["name"]].append(s)
    setup_by_name = defaultdict(list)
    for s in spans:
        setup_by_name[s["name"]].append(s)

    def dur_ms(name, pool=by_name):
        xs = [(s["end"] - s["start"]) * 1e3 for s in pool[name]]
        return p50(xs) if xs else 0.0

    def self_ms(name):
        xs = [selfs[s["id"]] * 1e3 for s in by_name[name]]
        return p50(xs) if xs else 0.0

    n_ops = max(1, sum(1 for s in measured if s["parent"] is None))
    m: dict[str, float] = dict.fromkeys(METRICS, 0.0)
    m["api.search.self_ms"] = self_ms("api.search")
    m["api.search_batch.self_ms"] = self_ms("api.search_batch")
    m["api.upsert_batch.self_ms"] = self_ms("api.upsert_batch")
    m["api.calls"] = sum(len(by_name[f"api.{a}"]) for a in API) / n_ops
    for a in ("find_similar", "find_similar_batch", "df", "upsert_by_id",
              "upsert_many", "delete", "sync_indexes"):
        m[f"store.{a}.ms"] = dur_ms(f"store.{a}")
    dfs = by_name["store.df"]
    if dfs:
        m["store.plan_cache.hit_ratio"] = sum(bool(s.get("hit")) for s in dfs) / len(dfs)
    m["store.compact.count"] = len(by_name["store.compact"])
    m["store.compact.ms"] = dur_ms("store.compact")
    store_samples = run.samples.get("store", [])
    if store_samples:
        m["store.data_files"] = statistics.median(x["data_files"] for x in store_samples)
        m["store.space_amp"] = statistics.median(x["space_amp"] for x in store_samples)
        m["store.tombstone_ratio.max"] = max(x["tombstone_ratio"] for x in store_samples)
    m["ann.build.ms"] = dur_ms("ann.build", setup_by_name)
    m["ann.measure_recall_curve.ms"] = dur_ms("ann.measure_recall_curve", setup_by_name)
    m["ann.apply_changes.ms"] = dur_ms("ann.apply_changes")
    m["ann.apply_changes.calls"] = len(by_name["ann.apply_changes"])
    m["ann.resync.count"] = len(by_name["ann.resync"])
    m["ann.knn_join_exact.ms"] = dur_ms("ann.knn_join_exact")
    m["ann.search_exact.ms"] = dur_ms("ann.search_exact")
    dials = by_name["ann.nprobe_for_recall"]
    if dials:
        m["ann.nprobe_chosen"] = statistics.median(s["nprobe"] for s in dials)
        m["ann.probe_ratio"] = statistics.median(s["nprobe"] / s["n_clusters"] for s in dials)
    m["queries.plan_ms"] = dur_ms("queries.plan")
    m["queries.exec_s"] = dur_ms("queries.exec") / 1e3
    m["queries.vector.s"] = dur_ms("analytics") / 1e3

    all_counts = [c for cs in run.spark_by_op.values() for c in cs]
    for op in SPARK_OPS:
        cs = run.spark_by_op.get(op, [])
        if cs:
            m[f"spark.jobs.{op}"] = statistics.mean(c["jobs"] for c in cs)
            m[f"spark.tasks.{op}"] = statistics.mean(c["tasks"] for c in cs)
    for key in SPARK_TOTALS:
        if all_counts:
            m[f"spark.{key}"] = statistics.mean(c[key] for c in all_counts)

    # tracing overhead: traced minus untraced p50, over the op types that
    # ran both ways (cycles alternate between the two)
    diffs = [
        p50(run.lat[op]) - p50(run.untraced_lat[op])
        for op in run.lat if run.lat[op] and run.untraced_lat.get(op)
    ]
    if diffs:
        m["trace.overhead_ms"] = statistics.median(diffs) * 1e3

    # self times of an operation's spans add up to its wall time
    lines = []
    by_op_layer = defaultdict(lambda: defaultdict(float))
    wall = defaultdict(float)
    residual = 0.0
    per_op_sum = defaultdict(float)
    for s in measured:
        by_op_layer[op_name[s["op"]]][s["layer"]] += selfs[s["id"]]
        per_op_sum[s["op"]] += selfs[s["id"]]
        if s["parent"] is None:
            wall[op_name[s["op"]]] += s["end"] - s["start"]
    for s in measured:
        if s["parent"] is None:
            residual = max(residual, abs(per_op_sum[s["op"]] - (s["end"] - s["start"])))
    m["trace.selftime_residual_ms"] = residual * 1e3
    for op, layers in sorted(by_op_layer.items()):
        n = len(run.lat.get(op, [])) or 1
        split = "  ".join(f"{k}={v / n * 1e3:.1f}" for k, v in sorted(layers.items()))
        lines.append(
            f"self-time split {op}: wall {wall[op] / n * 1e3:.1f} ms/op = "
            f"sum of layer self {sum(layers.values()) / n * 1e3:.1f} ms/op ({split})"
        )
    return m, lines
