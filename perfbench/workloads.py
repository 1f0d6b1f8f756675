"""One benchmark run of one workload, in its own process.

Started by ``run.py`` with a fresh TMPDIR as its working directory;
writes its result as JSON to ``--out``.  Each workload is driven by a
single closed-loop client: the next op starts when the previous one has
returned.
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

T_PROCESS = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import tracing as tr  # noqa: E402

# every per-layer metric and its unit; a layer a workload does not
# exercise reports 0
PER_LAYER = {
    "session.start_s": "s",
    "registry.import_s": "s", "catalog.load_s": "s",
    "build.cold_s": "s", "build.p50_s": "s", "build.pass_s": "s",
    "exec.p50_s": "s", "exec.pass_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.run_s": "s", "spark.cpu_s": "s", "spark.gc_s": "s",
    "spark.sched_delay_s": "s",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.spill_bytes": "bytes",
    "scan.bytes": "bytes", "scan.files": "count",
    "stream.trigger_s": "s", "stream.get_batch_ms": "ms",
    "stream.plan_ms": "ms", "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms",
    "lakehouse.create_s": "s", "lakehouse.merge_s": "s",
    "lakehouse.merge_ckpt_s": "s",
    "lakehouse.files_rewritten": "count", "lakehouse.files_pruned": "count",
    "spark.jobs_per_merge": "count",
    "lakehouse.snapshot_s": "s", "lakehouse.read_plan_s": "s",
    "lakehouse.collect_s": "s", "lakehouse.files_scanned": "count",
    "lakehouse.prune_ratio": "ratio", "spark.jobs_per_read": "count",
    "host.steal_share": "ratio", "jvm.peak_rss_mb": "MB",
    "jvm.live_heap_mb": "MB",
}

# Seven of the 24 headline ids (bench.BENCH_QUERIES), one per engine
# area.  A cold pass over all 24 does not fit the per-run time budget.
# An odd count puts the median inside one query's latency cluster
# instead of in the gap between two.
ANALYTICS_QUERIES = (
    "flagship_cdc_compaction",   # CDC compaction: join + window + agg
    "agg_hash_groupby",          # TPC-H Q1 partial/final hash agg
    "join_sortmerge",            # shuffle join
    "win_running_sum",           # running-frame window
    "tfidf_keywords",            # multi-join text pipeline
    "decode_canal_json",         # CDC wire decode
    "analytics_returned_items",  # TPC-H Q10: three joins + top-k
)
# untimed warm-up after the cold pass: op latency keeps falling for
# several passes while the JIT compiles (0.6 -> 0.3 s on some queries)
ANALYTICS_WARM_PASSES = 1
STREAM_WARMUP_BATCHES = 5
# A run does a fixed amount of work: --seconds at these rates, measured
# on a 4-cpu host.  A time-bound window let a faster run (or host) do
# more passes, and later passes are faster (JIT), which moved the median
# by 10-30% between runs; fixed work times the same ops on every run.
ANALYTICS_PASS_S = 3.75
STREAM_BATCH_S = 1.25
READBACK_READS = 20


def start_session(run_dir: str, traced: bool):
    from cdc_plg_spark import catalog
    from cdc_plg_spark.session import get_spark

    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "3g",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={run_dir} -Dderby.system.home={run_dir} "
            "-XX:-UsePerfData",
    }
    if traced:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        confs.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": "file://" + log_dir,
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark(app_name="perfbench",
                      master=f"local[{os.cpu_count()}]", extra_confs=confs)
    # the confs load_table forces, set before any work so they do not
    # flip mid-run
    catalog.ensure_session_confs(spark)
    return spark


def tail(lat: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; with 22 or fewer samples, the upper median."""
    s = sorted(lat)
    n = len(s)
    i = max(n - 11, n // 2)
    return s[i], 100.0 * (i + 1) / n


# ------------------------------------------------------------ analytics

def analytics_batch(a, tracer: tr.Tracer) -> dict:
    sf_dir = inputs.analytics_tables(a.cache_dir)
    t_setup = time.perf_counter()
    with tracer.span("session.start"):
        spark = start_session(a.run_dir, a.trace)
    with tracer.span("registry.import"):
        from cdc_plg_spark import catalog, registry
        from cdc_plg_spark.testing import assert_frames_match, duckdb_conn
        entries = registry.all_entries()
        import bench
    ids = list(ANALYTICS_QUERIES)
    if not set(ids) <= set(bench.BENCH_QUERIES):
        raise RuntimeError(f"not headline ids: "
                           f"{sorted(set(ids) - set(bench.BENCH_QUERIES))}")
    with tracer.span("catalog.load"):
        for name in catalog.TABLES:
            catalog.load_table(spark, name, sf_dir)

    # cold pass: builds every plan once and checks every result against
    # its DuckDB oracle; a wrong query fails all its timed ops
    wrong: set[str] = set()
    con = duckdb_conn(sf_dir)
    try:
        for q in ids:
            with tracer.span("check", op=f"cold:{q}"):
                try:
                    with tracer.span("build.cold"):
                        df = entries[q].fn(spark, sf_dir)
                    got = df.toPandas()
                    want = con.execute(entries[q].oracle).df()
                    assert_frames_match(got, want, name=q)
                except Exception:  # noqa: BLE001 - counted, then reported
                    traceback.print_exc()
                    wrong.add(q)
    finally:
        con.close()
    for _ in range(ANALYTICS_WARM_PASSES):
        for q in ids:
            with tracer.span("warm", op=f"warm:{q}"):
                entries[q].fn(spark, sf_dir).write.format("noop") \
                    .mode("overwrite").save()

    # timed passes, each query once per pass in a seeded order
    lat, build, execute, windows = [], [], [], []
    per_query: dict[str, list[float]] = {}
    attempted = failed = 0
    steal0 = tr.cpu_times()
    t0 = time.perf_counter()
    setup_s = t0 - t_setup
    for n_pass in range(max(1, round(a.seconds / ANALYTICS_PASS_S))):
        for q in inputs.query_order(ids, a.seed, n_pass):
            attempted += 1
            w0 = time.time()
            s0 = time.perf_counter()
            try:
                with tracer.span("op", op=f"p{n_pass}:{q}"):
                    with tracer.span("build"):
                        df = entries[q].fn(spark, sf_dir)
                    s1 = time.perf_counter()
                    with tracer.span("exec"):
                        df.write.format("noop").mode("overwrite").save()
            except Exception:  # noqa: BLE001 - counted as a failed op
                traceback.print_exc()
                failed += 1
                continue
            s2 = time.perf_counter()
            windows.append((w0, time.time()))
            lat.append(s2 - s0)
            per_query.setdefault(q, []).append(s2 - s0)
            build.append((n_pass, s1 - s0))
            execute.append((n_pass, s2 - s1))
            failed += q in wrong
    wall = time.perf_counter() - t0
    steal = tr.steal_share(steal0, tr.cpu_times())

    layer = {}
    if a.trace:
        def per_pass(xs):
            sums: dict[int, float] = {}
            for p, v in xs:
                sums[p] = sums.get(p, 0.0) + v
            return tr.median(sums.values())

        layer.update({
            "registry.import_s": tracer.named("registry.import")[0].dur,
            "catalog.load_s": tracer.named("catalog.load")[0].dur,
            "build.cold_s": sum(s.dur for s in tracer.named("build.cold")),
            "build.p50_s": tr.median(v for _, v in build),
            "build.pass_s": per_pass(build),
            "exec.p50_s": tr.median(v for _, v in execute),
            "exec.pass_s": per_pass(execute),
        })
    out = finish(a, spark, tracer, lat, attempted, failed, setup_s, wall,
                 steal, correct=not wrong, windows=windows, layer=layer)
    out["notes"] = {"passes": n_pass + 1, "query_p50_s": {
        q: round(tr.median(v), 4) for q, v in sorted(per_query.items())}}
    return out


# ------------------------------------------------------------ CDC sink

def stream_cdc_sink(a, tracer: tr.Tracer) -> dict:
    n_files = STREAM_WARMUP_BATCHES + max(1, round(a.seconds
                                                   / STREAM_BATCH_S))
    feed = inputs.make_feed(a.seed, n_files)
    base_path = os.path.join(a.run_dir, "base.parquet")
    feed_dir = os.path.join(a.run_dir, "feed")
    inputs.write_stream_inputs(feed, base_path, feed_dir)

    t_setup = time.perf_counter()
    with tracer.span("session.start"):
        spark = start_session(a.run_dir, a.trace)
    from cdc_plg_spark.lakehouse import TxLogTable
    from cdc_plg_spark.streaming.core import run_foreach_batch

    listener = None
    if a.trace:
        listener = tr.progress_listener()
        spark.streams.addListener(listener)
    with tracer.span("lakehouse.create"):
        table = TxLogTable.create(
            spark, os.path.join(a.run_dir, "sink"),
            spark.read.parquet(base_path), key_col="id",
            n_files=inputs.TABLE_FILES)
    stream = (spark.readStream.option("maxFilesPerTrigger", 1)
              .schema(inputs.FEED_DDL).parquet(feed_dir))

    st = {"end": None, "end_wall": None, "t0": None, "steal0": None}
    lat, bodies, windows, merges = [], [], [], []

    def sink(batch_df, epoch_id: int) -> None:
        now = time.perf_counter()
        with tracer.span("lakehouse.merge", op=f"b{epoch_id}"):
            res = table.merge(batch_df, op_col="op", order_by=("seq",))
        end, end_wall = time.perf_counter(), time.time()
        merges.append(res)
        if st["t0"] is not None:
            lat.append(end - st["end"])
            bodies.append(end - now)
            windows.append((st["end_wall"], end_wall))
        elif epoch_id == STREAM_WARMUP_BATCHES - 1:
            st["t0"] = end
            st["steal0"] = tr.cpu_times()
        st["end"], st["end_wall"] = end, end_wall

    run_foreach_batch(stream, sink, os.path.join(a.run_dir, "ckpt"))
    if len(merges) != n_files:
        raise RuntimeError(f"{len(merges)} micro-batches for {n_files} "
                           f"feed files")
    setup_s = st["t0"] - t_setup
    wall = st["end"] - st["t0"]
    steal = tr.steal_share(st["steal0"], tr.cpu_times())

    # checks: head state, change-feed count and a seeded read mix, all
    # against the in-memory replay of the files the sink committed
    final, at_warm = feed.replay(len(merges), STREAM_WARMUP_BATCHES)
    problems = check_sink(table, feed, final, len(merges))
    reads = inputs.read_mix(a.seed, at_warm, READBACK_READS)
    read_problems, scanned = check_reads(
        table, reads, final, at_warm, STREAM_WARMUP_BATCHES, tracer)
    problems += read_problems
    for p in problems:
        print("CHECK FAILED:", p, file=sys.stderr)

    layer, job_windows = {}, {}
    if a.trace:
        all_merges = tracer.named("lakehouse.merge")
        timed = all_merges[STREAM_WARMUP_BATCHES:]
        timed_res = merges[STREAM_WARMUP_BATCHES:]
        ckpt = [s.dur for s, r in zip(all_merges, merges)
                if r["version"] % 10 == 0]
        deadline = time.time() + 5
        while len(listener.durations) < len(merges) and \
                time.time() < deadline:
            time.sleep(0.1)
        prog = listener.durations[STREAM_WARMUP_BATCHES:]
        spark.streams.removeListener(listener)
        reads_sp = tracer.named("lakehouse.read")
        layer.update({
            "lakehouse.create_s": tracer.named("lakehouse.create")[0].dur,
            "lakehouse.merge_s": tr.median(s.dur for s in timed),
            "lakehouse.merge_ckpt_s": tr.median(ckpt),
            "lakehouse.files_rewritten": tr.median(
                r["files_scanned"] for r in timed_res),
            "lakehouse.files_pruned": tr.median(
                r["files_pruned"] for r in timed_res),
            "stream.trigger_s": tr.median(
                op - body for op, body in zip(lat, bodies)),
            "stream.get_batch_ms": tr.median(
                d.get("getBatch", 0) for d in prog),
            "stream.plan_ms": tr.median(
                d.get("queryPlanning", 0) for d in prog),
            "stream.wal_commit_ms": tr.median(
                d.get("walCommit", 0) for d in prog),
            "stream.commit_offsets_ms": tr.median(
                d.get("commitOffsets", 0) for d in prog),
            "lakehouse.snapshot_s": tr.median(
                s.dur for s in tracer.named("lakehouse.snapshot")),
            "lakehouse.read_plan_s": tr.median(
                s.dur for s in tracer.named("lakehouse.read_plan")),
            "lakehouse.collect_s": tr.median(
                s.dur for s in tracer.named("lakehouse.collect")),
            "lakehouse.files_scanned": tr.median(n for n, _ in scanned),
            "lakehouse.prune_ratio": tr.median(
                1 - n / live for n, live in scanned),
        })
        job_windows = {
            "spark.jobs_per_merge": [(s.start, s.end) for s in timed],
            "spark.jobs_per_read": [(s.start, s.end) for s in reads_sp]}
    out = finish(a, spark, tracer, lat, len(lat), len(lat) if problems
                 else 0, setup_s, wall, steal, correct=not problems,
                 windows=windows, layer=layer, job_windows=job_windows)
    out["notes"] = {"batches_applied": len(merges),
                    "warmup_batches": STREAM_WARMUP_BATCHES,
                    "table_rows": int(final.live.sum())}
    if scanned:
        out["notes"]["prune_base_files"] = tr.median(l for _, l in scanned)
    return out


def check_sink(table, feed, final, n_merges: int) -> list[str]:
    """Head state and net change count against the model."""
    problems = []
    head = table.snapshot().version
    if head != n_merges:
        problems.append(f"head version {head} != {n_merges} merges")
    got = table.read().toPandas().sort_values("id")
    problems += compare_rows(got, final.frame(), "head state")
    base = feed.base
    both = base.live & final.live
    updated = both & ((base.seq != final.seq) | (base.grp != final.grp)
                      | (base.amount != final.amount)
                      | (base.note != final.note))
    want = int((base.live != final.live).sum() + updated.sum())
    n = table.table_changes(0, head).count()
    if n != want:
        problems.append(f"table_changes(0, {head}) has {n} rows, "
                        f"model says {want}")
    return problems


def compare_rows(got, want, what: str) -> list[str]:
    """Exact comparison of two key-sorted frames."""
    cols = ["id", "seq", "grp", "amount", "note"]
    got = got[cols].reset_index(drop=True)
    want = want[cols].reset_index(drop=True)
    if len(got) != len(want):
        return [f"{what}: {len(got)} rows, model has {len(want)}"]
    for c in cols:
        diff = got[c].to_numpy() != want[c].to_numpy()
        if diff.any():
            i = int(diff.argmax())
            return [f"{what}: column {c} differs at row {i}: "
                    f"{got[c].iloc[i]!r} vs model {want[c].iloc[i]!r}"]
    return []


def check_reads(table, reads, final, at_warm, warm_version: int,
                tracer: tr.Tracer) -> tuple[list[str], list[tuple]]:
    """Run the read mix, each read checked against the model.  Traced,
    also returns (files scanned, live files) per read."""
    import numpy as np

    problems, scanned = [], []
    for i, r in enumerate(reads):
        version = warm_version if r.kind == "travel" else None
        model = at_warm if r.kind == "travel" else final
        with tracer.span("lakehouse.read", op=f"read{i}:{r.kind}"):
            if tracer.enabled:
                with tracer.span("lakehouse.snapshot"):
                    live = len(table.snapshot(version).files)
            with tracer.span("lakehouse.read_plan"):
                if r.kind == "range":
                    df = table.read(where_between=("amount", r.lo, r.hi))
                else:
                    df = table.read(version=version,
                                    key_between=(int(r.lo), int(r.hi)))
            with tracer.span("lakehouse.collect"):
                got = df.toPandas()
        if tracer.enabled:
            scanned.append((len(df.inputFiles()), live))
        if r.kind == "range":
            ids = np.flatnonzero(model.live & (model.amount >= r.lo)
                                 & (model.amount <= r.hi))
        else:
            ids = np.array([int(r.lo)])
        problems += compare_rows(got.sort_values("id"), model.frame(ids),
                                 f"read {i} ({r.kind})")
    return problems, scanned


# ------------------------------------------------------------ common

def finish(a, spark, tracer, lat, attempted, failed, setup_s, wall, steal,
           correct, windows, layer, job_windows=None) -> dict:
    p_tail, pct = tail(lat) if lat else (0.0, 0.0)
    out = {
        "correct": bool(correct) and failed == 0 and bool(lat),
        "attempted": max(attempted, 1), "failed": failed,
        "n": len(lat), "setup_s": setup_s,
        "op_p50_s": tr.median(lat), "op_tail_s": p_tail, "tail_pct": pct,
        "ops_per_s": len(lat) / wall if wall > 0 else 0.0,
        "wall_s": wall, "steal_share": steal, "latencies_s": lat,
    }
    if a.trace:
        full = dict.fromkeys(PER_LAYER, 0.0)
        full.update(layer)
        full["session.start_s"] = tracer.named("session.start")[0].dur
        full["host.steal_share"] = steal
        full["jvm.peak_rss_mb"], full["jvm.live_heap_mb"] = \
            tr.jvm_memory(spark)
        spark.stop()
        log = tr.EventLog(os.path.join(a.run_dir, "eventlog"))
        full.update(log.per_op(windows))
        for name, w in (job_windows or {}).items():
            full[name] = log.jobs_in(w)
        out["per_layer"] = full
        out["self_times"] = tracer.self_times()
        tracer.dump(os.path.join(a.run_dir, "spans.jsonl"))
    else:
        spark.stop()
    out["process_s"] = time.perf_counter() - T_PROCESS
    return out


WORKLOADS = {"analytics_batch": analytics_batch,
             "stream_cdc_sink": stream_cdc_sink}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--cache-dir", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    a.trace = bool(a.trace)
    result = WORKLOADS[a.workload](a, tr.Tracer(a.trace))
    with open(a.out, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
