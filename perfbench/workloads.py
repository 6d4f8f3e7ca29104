"""The two serve workloads, driven by one closed-loop client.

`serve_read` is read-only: single searches in exact, indexed and approx
mode, batches of 16 indexed searches, and vector-family analytics entries
from the `queries` registry, over two generated namespaces with an IVF
index each. `serve_mixed` runs a write cycle over one small hot namespace:
upsert by id, insert, delete, sync then a read of a vector written in the
cycle, and eight exact and eight indexed searches.

Every answer is checked: store searches against the benchmark's numpy
mirror of the live rows (`gen.Mirror`), analytics entries against their
DuckDB oracle SQL. A failed or wrong answer counts as a failure.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict

import numpy as np

import gen
from spans import SparkCounters, Tracer
from stats import geomean, p50, speed_factor, summarize

K = 10
BATCH = 16
TARGET_RECALL = 0.9
MIN_MEAN_RECALL = 0.8

READ_NAMESPACES = ("ns0", "ns1")
APPROX_NS = "ns0"
READ_ROWS = 5_000         # per namespace
# the gated searches (exact, indexed) are 8 of every 11 requests, so that
# a short run gives each of their medians as many samples as it can
READ_MIX = ("exact", "indexed", "approx", "exact", "indexed", "batch",
            "exact", "indexed", "exact", "indexed", "analytics")
ANALYTICS_ROWS = 2_000
ANALYTICS_ENTRIES = ("knn_l2", "knn_cosine", "knn_batch", "range_l2", "hybrid_knn")

HOT = "hot"
# each cycle leaves 48 garbage rows (16 superseded, 32 tombstoned): at 160
# live rows that crosses the 20% compaction trigger in every cycle, so every
# measured cycle has the same shape (compaction, then a full index resync)
HOT_ROWS = 160
UPSERT_BATCH = 32
INSERT_BATCH = 16
HOT_READS = 8             # exact + indexed search pairs per cycle

# Host-speed probe. The speed of a shared VM drifts by up to 2x within an
# hour, and every wall-clock figure drifts with it. Before each timed
# request the run times one fixed piece of JVM work: sorting a copy of the
# same PROBE_N pseudo-random longs in Spark's JVM. It runs no engine
# code, so the program cannot move it. The gated figures are reported at
# the host speed at which the probe's median takes PROBE_REF_MS.
PROBE_N = 200_000
PROBE_SEED = 7
PROBE_REF_MS = 20.0


class Run:
    """State of one benchmark run: the engine handles, the mirror, and
    what was measured."""

    def __init__(self, spark, workdir: str, seed: int, seconds: float, traced: bool):
        from mlvectordb_spark.api import EngineService
        from mlvectordb_spark.operators.store import VectorStore

        self.spark = spark
        self.workdir = workdir
        self.seconds = seconds
        self.rng = np.random.default_rng(seed)
        self.mirror = gen.Mirror()
        self.store = VectorStore(spark, os.path.join(workdir, "store"))
        self.svc = EngineService(self.store)
        self.lat: dict[str, list[float]] = defaultdict(list)
        self.failed: dict[str, int] = defaultdict(int)
        self.attempted = 0
        self.errors: list[str] = []
        self.recalls: list[float] = []
        self.setup_phases: dict[str, float] = {}
        self.measured_s = 0.0
        self.cycles = 0
        self.recording = True     # False during warm-up: checked, not timed
        self.probe_s: list[float] = []
        self._probe_src = None
        # traced run only
        self.tracer = Tracer() if traced else None
        self.counters = SparkCounters(spark) if traced else None
        self.trace_on = traced
        self.untraced_lat: dict[str, list[float]] = defaultdict(list)
        self.spark_by_op: dict[str, list[dict]] = defaultdict(list)
        self.samples: dict[str, list[dict]] = defaultdict(list)

    # -- measurement ---------------------------------------------------------

    def fail(self, op: str, msg: str) -> None:
        self.failed[op] += 1
        if len(self.errors) < 20:
            self.errors.append(f"{op}: {msg}")

    def probe(self) -> None:
        """Time the host-speed probe once, outside any timed request."""
        jvm = self.spark.sparkContext._jvm
        if self._probe_src is None:
            self._probe_src = (
                jvm.java.util.SplittableRandom(PROBE_SEED).longs(PROBE_N).toArray()
            )
        t0 = time.perf_counter()
        jvm.java.util.Arrays.sort(jvm.java.util.Arrays.copyOf(self._probe_src, PROBE_N))
        self.probe_s.append(time.perf_counter() - t0)

    def host_factor(self) -> float:
        """Multiplier from this run's host speed to the reference speed."""
        return speed_factor(self.probe_s, PROBE_REF_MS)

    def call(self, op: str, fn, check=None):
        """Time one operation, then check its answer outside the timed
        region. Returns the answer, or None when it failed."""
        if self.recording:
            self.probe()
        self.attempted += 1
        traced = self.tracer is not None and self.trace_on and self.recording
        group = f"perfbench-{self.attempted}"
        if traced:
            self.counters.start(group)
        w0 = time.time() * 1e3
        t0 = time.perf_counter()
        try:
            if traced:
                with self.tracer.op(op):
                    out = fn()
            else:
                out = fn()
        except Exception as e:  # noqa: BLE001 — a failed request is a measured outcome
            self.fail(op, repr(e)[:300])
            return None
        finally:
            dt = time.perf_counter() - t0
            w1 = time.time() * 1e3
            if traced:
                self.counters.stop()
                self.spark_by_op[op].append(self.counters.read(group, w0, w1))
        err = check(out) if check is not None else None
        if err is not None:
            self.fail(op, err)
            return None
        if self.recording:
            untraced = self.tracer is not None and not traced
            (self.untraced_lat if untraced else self.lat)[op].append(dt)
        return out

    def setup_phase(self, name: str, fn):
        """Run one untimed-by-the-client set-up step, recording its time
        (and, in a traced run, its spans)."""
        t0 = time.perf_counter()
        if self.tracer is not None:
            with self.tracer.op(f"setup.{name}"):
                out = fn()
        else:
            out = fn()
        self.setup_phases[name] = self.setup_phases.get(name, 0.0) + time.perf_counter() - t0
        return out

    def loop(self, cycle, min_cycles: int = 1) -> None:
        """Closed loop: run whole cycles until the measuring time is up and
        at least `min_cycles` have run. In a traced run every other cycle
        runs untraced, for the overhead."""
        t0 = time.perf_counter()
        while True:
            if self.tracer is not None:
                self.trace_on = self.cycles % 2 == 0
            cycle()
            self.cycles += 1
            if time.perf_counter() - t0 >= self.seconds and self.cycles >= min_cycles:
                break
        self.trace_on = self.tracer is not None
        self.measured_s = time.perf_counter() - t0

    # -- shared request shapes -----------------------------------------------

    def ingest(self, ns_rows: dict[str, tuple[list[str], np.ndarray]]) -> None:
        """Bulk-load generated rows through `VectorStore.upsert_df`, from a
        parquet file the benchmark writes."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = os.path.join(self.workdir, "ingest")
        os.makedirs(path, exist_ok=True)
        table = pa.table({
            "id": [i for ids, _x in ns_rows.values() for i in ids],
            "namespace": [ns for ns, (ids, _x) in ns_rows.items() for _ in ids],
            "values": pa.array(
                [v for _ids, x in ns_rows.values() for v in x],
                type=pa.list_(pa.float32()),
            ),
        })
        # one file per core, so the load (and the store it writes) is split
        # the way a parallel bulk load would be
        parts = self.spark.sparkContext.defaultParallelism
        step = -(-table.num_rows // parts)
        for i in range(parts):
            pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i}.parquet"))
        self.store.upsert_df(self.spark.read.parquet(path), assume_unique_ids=True)
        for ns, (ids, x) in ns_rows.items():
            self.mirror.upsert(ns, ids, x)

    def query_near(self, ns: str) -> list[float]:
        return gen.noisy(self.rng, self.mirror.vector(ns, self.mirror.pick(ns, self.rng)))

    def search(self, op: str, ns: str, mode: str) -> None:
        q = self.query_near(ns)
        self.call(
            op,
            lambda: self.svc.search(q, K, ns, metric="l2", mode=mode),
            lambda res: gen.check_topk(self.mirror, ns, q, K, res),
        )

    def approx(self, ns: str) -> None:
        q = self.query_near(ns)
        res = self.call(
            "search_approx",
            lambda: self.store.find_similar(
                q, K, ns, "l2", mode="approx", target_recall=TARGET_RECALL
            ),
            lambda res: gen.check_scores(self.mirror, ns, q, res),
        )
        if res is not None:
            self.recalls.append(gen.recall(self.mirror, ns, q, K, res))

    def batch(self, ns: str) -> None:
        qs = {f"q{i}": self.query_near(ns) for i in range(BATCH)}

        def check(res):
            if [r["query_id"] for r in res] != list(qs):
                return "batch answered other queries"
            for r in res:
                err = gen.check_topk(self.mirror, ns, qs[r["query_id"]], K, r["matches"])
                if err:
                    return f"{r['query_id']}: {err}"
            return None

        self.call(
            "search_batch",
            lambda: self.svc.search_batch(qs, K, ns, metric="l2", mode="indexed"),
            check,
        )


# -- serve_read ---------------------------------------------------------------


def _write_embeddings(path: str, rng: np.random.Generator) -> None:
    """The `embeddings` table the vector-family analytics entries read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    x, labels = gen.Mixture(rng, centers=10, spread=1.0, scale=0.1).draw(
        rng, ANALYTICS_ROWS, labels=True
    )
    os.makedirs(path, exist_ok=True)
    table = pa.table({
        "vec_id": pa.array(np.arange(ANALYTICS_ROWS, dtype=np.int64)),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(labels, type=pa.int32()),
    })
    pq.write_table(table, os.path.join(path, "embeddings.parquet"))


def _analytics_entry(run: Run, sf_dir: str, name: str):
    """One registry entry: build the plan, then force it with the noop
    sink. The plan and execution halves are spans of the queries layer."""
    from mlvectordb_spark.queries import QUERIES

    tr = run.tracer if run.trace_on else None
    t0 = time.perf_counter()
    if tr is not None:
        with tr.span("queries.plan", "queries"):
            df = QUERIES[name](run.spark, sf_dir)
        with tr.span("queries.exec", "queries"):
            df.write.format("noop").mode("overwrite").save()
    else:
        df = QUERIES[name](run.spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def check_analytics(run: Run, sf_dir: str) -> None:
    """Each analytics entry once more, collected and compared with its
    oracle SQL on DuckDB (outside the timed region)."""
    import duckdb

    from mlvectordb_spark.queries import ORACLE_SQL, QUERIES

    con = duckdb.connect()
    try:
        path = os.path.join(sf_dir, "embeddings.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}')")
        for name in ANALYTICS_ENTRIES:
            run.attempted += 1
            got = [tuple(r) for r in QUERIES[name](run.spark, sf_dir).collect()]
            want = con.execute(ORACLE_SQL[name]).fetchall()
            if gen.canonical_rows(got) != gen.canonical_rows(want):
                run.fail("analytics", f"{name}: {len(got)} rows differ from the oracle's {len(want)}")
    finally:
        con.close()


def serve_read(run: Run) -> None:
    rng = run.rng
    sf_dir = os.path.join(run.workdir, "sf")

    def data():
        mix = gen.Mixture(rng)
        rows = {}
        for ns in READ_NAMESPACES:
            x = mix.draw(rng, READ_ROWS)
            rows[ns] = ([f"{ns}-{i:06d}" for i in range(READ_ROWS)], x)
        _write_embeddings(sf_dir, rng)
        return rows

    rows = run.setup_phase("generate", data)
    run.setup_phase("ingest", lambda: run.ingest(rows))
    for ns in READ_NAMESPACES:
        run.setup_phase("index_build", lambda ns=ns: run.svc.build_index(ns))
    # the approx path calibrates its recall curve lazily on first use;
    # approx requests go to the first namespace only, which bounds that
    # one-time cost to one calibration
    q = run.query_near(APPROX_NS)
    run.setup_phase(
        "calibrate",
        lambda: run.store.find_similar(
            q, K, APPROX_NS, "l2", mode="approx", target_recall=TARGET_RECALL
        ),
    )
    step = {"n": 0}

    def cycle():
        for kind in READ_MIX:
            ns = READ_NAMESPACES[int(rng.integers(len(READ_NAMESPACES)))]
            if kind == "exact":
                run.search("search_exact", ns, "exact")
            elif kind == "indexed":
                run.search("search_indexed", ns, "indexed")
            elif kind == "approx":
                run.approx(APPROX_NS)
            elif kind == "batch":
                run.batch(ns)
            else:
                name = ANALYTICS_ENTRIES[step["n"] % len(ANALYTICS_ENTRIES)]
                step["n"] += 1
                run.call("analytics", lambda name=name: _analytics_entry(run, sf_dir, name))

    _warm_then_loop(run, cycle)
    check_analytics(run, sf_dir)


# -- serve_mixed --------------------------------------------------------------


def serve_mixed(run: Run) -> None:
    rng = run.rng
    mix = gen.Mixture(rng)
    fresh = {"n": 0}

    def new_ids(n: int) -> list[str]:
        out = [f"{HOT}-n{fresh['n'] + i:06d}" for i in range(n)]
        fresh["n"] += n
        return out

    rows = run.setup_phase(
        "generate",
        lambda: {HOT: ([f"{HOT}-{i:06d}" for i in range(HOT_ROWS)], mix.draw(rng, HOT_ROWS))},
    )
    run.setup_phase("ingest", lambda: run.ingest(rows))
    run.setup_phase("index_build", lambda: run.svc.build_index(HOT))

    def cycle(reads: int = HOT_READS):
        written: list[str] = []
        # 1. true upsert by id: half overwrite live ids, half are new
        live = run.mirror.ids(HOT)
        half = UPSERT_BATCH // 2
        ids = [live[i] for i in rng.choice(len(live), half, replace=False)] + new_ids(half)
        vecs = mix.draw(rng, UPSERT_BATCH)
        records = [{"id": i, "values": v.tolist()} for i, v in zip(ids, vecs)]
        got = run.call(
            "upsert",
            lambda: run.store.upsert_by_id(records, namespace=HOT),
            lambda res: None if sorted(res) == sorted(ids) else "upsert returned other ids",
        )
        if got is not None:
            run.mirror.upsert(HOT, ids, vecs)
            written += ids
        # 2. reference insert semantics: every vector gets a fresh uuid
        vecs = mix.draw(rng, INSERT_BATCH)
        res = run.call(
            "insert",
            lambda: run.svc.upsert_batch([{"values": v.tolist()} for v in vecs], HOT),
            lambda res: None if res["count"] == INSERT_BATCH
            and len(set(res["ids"])) == INSERT_BATCH
            and not any(run.mirror.has(HOT, i) for i in res["ids"])
            else "insert did not mint fresh ids",
        )
        if res is not None:
            run.mirror.upsert(HOT, res["ids"], vecs)
            written += res["ids"]
        # 3. delete as many rows as were added, keeping the live count steady
        n_del = run.mirror.count(HOT) - HOT_ROWS
        if n_del > 0:
            keep = set(written)
            pool = [i for i in run.mirror.ids(HOT) if i not in keep]
            victims = [pool[i] for i in rng.choice(len(pool), n_del, replace=False)]
            res = run.call(
                "delete",
                lambda: run.svc.delete_vectors(victims, HOT),
                lambda res: None if sorted(res["deleted_ids"]) == sorted(victims)
                else "delete removed other ids",
            )
            if res is not None:
                run.mirror.delete(HOT, victims)
        # 4. the write becomes visible: sync, then an indexed read of it
        if written:
            target = written[int(rng.integers(len(written)))]
            q = run.mirror.vector(HOT, target).astype(np.float64).tolist()

            def visible():
                run.svc.sync_indexes()
                return run.svc.search(q, K, HOT, metric="l2", mode="indexed")

            def check(res):
                if target not in {m["id"] for m in res}:
                    return f"written id {target} not visible after sync"
                return gen.check_topk(run.mirror, HOT, q, K, res)

            run.call("sync", visible, check)
        # 5. reads between writes
        for _ in range(reads):
            run.search("search_exact", HOT, "exact")
            run.search("search_indexed", HOT, "indexed")
        if run.tracer is not None and run.recording:
            run.samples["store"].append(_storage_sample(run))

    # A cycle takes 9-20 s on 4 cores: two at least, so that every run
    # measures the same number of cycles whatever the host's speed. One
    # read pair in the warm-up cycle passes through the same code as eight.
    _warm_then_loop(run, cycle, warm=lambda: cycle(reads=1), min_cycles=2)


def _warm_then_loop(run: Run, cycle, warm=None, min_cycles: int = 1) -> None:
    """One whole cycle first (or `warm`, a shorter one through the same
    code), checked but not timed: the first pass through each code path is
    several times slower than the steady state. Then the measured loop."""
    run.recording = False
    run.setup_phase("warmup", warm or cycle)
    run.recording = True
    run.loop(cycle, min_cycles)


def _storage_sample(run: Run) -> dict:
    """Files and bytes of the hot namespace on disk, against its live rows
    (sampled between cycles, outside any timed operation)."""
    data_files = n_bytes = 0
    for sub in ("vectors", "tombstones"):
        for dirpath, _dirs, files in os.walk(os.path.join(run.store.path, sub)):
            for f in files:
                if f.endswith(".parquet"):
                    n_bytes += os.path.getsize(os.path.join(dirpath, f))
                    data_files += sub == "vectors"
    live = max(1, run.mirror.count(HOT))
    return {
        "data_files": data_files,
        "space_amp": n_bytes / (live * gen.DIM * 4),
        "tombstone_ratio": run.store.tombstone_ratio(HOT),
    }


WORKLOADS = {"serve_read": serve_read, "serve_mixed": serve_mixed}


# -- results ------------------------------------------------------------------


def end_to_end(run: Run, scaled: bool = True) -> dict[str, tuple[float, str]]:
    """The metrics BENCHMARK.json gates, every one measured on both
    workloads: at the reference host speed, or as measured when `scaled`
    is false. Throughput leaves out the time spent in the probe."""
    f = run.host_factor() if scaled else 1.0
    n_done = sum(len(xs) for xs in run.lat.values())
    busy_s = run.measured_s - sum(run.probe_s)
    ex = summarize(run.lat["search_exact"], run.failed["search_exact"])
    ix = summarize(run.lat["search_indexed"], run.failed["search_indexed"])
    return {
        "setup_s": (sum(run.setup_phases.values()) * f, "s"),
        "requests_per_s": (n_done / busy_s / f, "1/s"),
        "search_exact_p50_ms": (ex["p50_ms"] * f, "ms"),
        "search_indexed_p50_ms": (ix["p50_ms"] * f, "ms"),
    }


def report_lines(run: Run) -> list[str]:
    """Every end-to-end figure the workload exercises, by name, with unit
    and sample count (human-readable; the gated subset is the JSON line)."""
    names = {
        "search_exact": "search_exact", "search_indexed": "search_indexed",
        "search_approx": "search_approx", "upsert": "upsert",
        "insert": "insert", "delete": "delete", "sync": "write_visible",
        "analytics": "analytics_entry", "search_batch": "search_batch",
    }
    out = [f"setup_s {sum(run.setup_phases.values()):.3f} s "
           + " ".join(f"{k}={v:.2f}" for k, v in run.setup_phases.items())]
    if run.probe_s:
        raw = end_to_end(run, scaled=False)
        out.append(
            f"host_probe_p50_ms {p50(run.probe_s) * 1e3:.2f} ms  "
            f"n={len(run.probe_s)}  reference {PROBE_REF_MS} ms, so the gated "
            f"figures are these times {run.host_factor():.4f}: "
            + " ".join(f"{k}={v:.4g} {u}" for k, (v, u) in raw.items())
        )
    for op, label in names.items():
        s = summarize(run.lat.get(op, []), run.failed.get(op, 0))
        if not s["n"]:
            continue
        tail = "n/a (fewer than 10 samples beyond p90)" if s["p90_ms"] is None else f"{s['p90_ms']:.1f} ms"
        out.append(f"{label}_p50_ms {s['p50_ms']:.1f} ms  {label}_p90_ms {tail}  n={s['n']} failed={s['failed']}")
    batches = run.lat.get("search_batch")
    if batches:
        qps = BATCH * len(batches) / sum(batches)
        out.append(f"batch_search_qps {qps:.2f} queries/s  n={len(batches)}")
    if run.recalls:
        out.append(f"approx_recall_at_10 {float(np.mean(run.recalls)):.4f} ratio  n={len(run.recalls)}")
    entries = run.lat.get("analytics")
    if entries:
        out.append(f"analytics_geomean_ms {geomean(entries) * 1e3:.1f} ms  n={len(entries)}")
    out.append(f"error_rate {sum(run.failed.values()) / max(1, run.attempted):.4f} ratio  "
               f"attempted={run.attempted} failed={sum(run.failed.values())}")
    return out
