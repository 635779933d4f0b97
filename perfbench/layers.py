"""Turns the harness's events into the benchmark's metrics.

End-to-end metrics (untraced run) and per-layer metrics (traced run) are
listed in BENCHMARK.json; every run reports all of its kind, with 0 for a
layer the workload does not exercise.
"""
import stats

OP_KINDS = ("merge", "query")
QUERY_FIELDS = ("build_s", "exec_s", "jobs")
STREAMING_COUNTS = ("jobs", "bytes_read", "files_written", "bytes_written")


def _op_layer(o):
    """Layer counts of one traced op."""
    spans = o.get("jobs", [])
    last_write = o.get("last_write_end_ms", 0)
    return {
        "jobs": len(spans),
        "driver_s": stats.driver_s(o["t0_ms"], o["t1_ms"], spans),
        "executor_cpu_s": o["cpu_s"],
        "shuffle_write_bytes": o["shuffle_write_bytes"],
        "spill_bytes": o["spill_bytes"],
        "bytes_read": o["bytes_read"],
        "bytes_written": o["bytes_written"],
        "write_task_s": o["write_task_s"],
        "commit_s": max(0, o["t1_ms"] - last_write) / 1000.0 if last_write else 0.0,
        "files_written": o.get("files_written", 0),
        "store_bytes": o.get("store_bytes", 0),
        "rows": o.get("rows", 0),
        "partition_filter_s": o.get("partition_filter_s", 0.0),
        "gc_s": o["gc_s"],
        "build_s": o.get("build_s", 0.0),
        "exec_s": o["wall_s"] - o.get("build_s", 0.0),
    }


def _medians(rows):
    return {k: stats.median([r[k] for r in rows]) for k in rows[0]} if rows else {}


def _overhead(good, by_name):
    """Median over op groups of (traced / untraced median adjusted wall).
    Groups are query names on query_mix, all ops elsewhere."""
    groups = {}
    for o in good:
        groups.setdefault(o["name"] if by_name else "", []).append(o)
    ratios = []
    for ops in groups.values():
        t = [_adjusted(o) for o in ops if o["traced"]]
        u = [_adjusted(o) for o in ops if not o["traced"]]
        if t and u:
            ratios.append(stats.median(t) / stats.median(u))
    return stats.median(ratios)


def _adjusted(o):
    """An op's wall time less the share the hypervisor stole (stats.unstolen_share)."""
    return o["wall_s"] * stats.unstolen_share(o["cpu_ticks"])


def end_to_end(launch, setup, untimed_s, good, heap):
    """launch: (epoch seconds, /proc/stat cpu ticks) when the JVM started."""
    walls = [_adjusted(o) for o in good]
    setup_ticks = [b - a for a, b in zip(launch[1], setup["cpu_ticks"])]
    setup_s = (setup["epoch_ms"] / 1000.0 - launch[0] - untimed_s) * stats.unstolen_share(setup_ticks)
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "op_p50_s": {"value": stats.median(walls), "unit": "s"},
        "ops_per_s": {"value": len(walls) / sum(walls), "unit": "1/s"},
        "live_heap_mb": {"value": heap["mb"], "unit": "MB"},
    }


def per_layer(workload, setup, good, extra, queries, end):
    """extra: the traced set-up ops by kind ("backfill", "acquire")."""
    traced = [o for o in good if o["traced"]]
    m = {}

    def put(name, value, unit):
        m[name] = {"value": value, "unit": unit}

    acquire = extra.get("acquire")
    put("sources.acquire_s", acquire["wall_s"] if acquire else 0.0, "s")
    put("sources.scan_partitions", acquire["tasks"] if acquire else 0, "count")

    pipe = _op_layer(extra["backfill"]) if "backfill" in extra else {}
    for k, unit in (("jobs", "count"), ("driver_s", "s"), ("executor_cpu_s", "s"),
                    ("shuffle_write_bytes", "B"), ("write_task_s", "s"), ("commit_s", "s"),
                    ("files_written", "count"), ("bytes_written", "B")):
        put(f"pipeline.{k}", pipe.get(k, 0), unit)
    put("pipeline.store_bytes_per_row",
        pipe["store_bytes"] / pipe["rows"] if pipe.get("rows") else 0.0, "B/row")

    # Times are medians over the traced merges. Counts are those of the
    # first traced merge, which merges the same day into the same store in
    # every run with a seed; later merges find a store grown by as many
    # merges as the run had time for.
    merges = [_op_layer(o) for o in traced] if workload == "daily_merge" else []
    strm = _medians(merges)
    if merges:
        strm.update({k: merges[0][k] for k in STREAMING_COUNTS})
    for k, unit in (("partition_filter_s", "s"), ("jobs", "count"), ("driver_s", "s"),
                    ("executor_cpu_s", "s"), ("bytes_read", "B"), ("files_written", "count"),
                    ("bytes_written", "B"), ("commit_s", "s")):
        put(f"streaming.{k}", strm.get(k, 0), unit)

    # query_mix: per-query medians over traced executions; per-pass values
    # are their sums over the mix, so each query weighs once per pass.
    per_q = {q: _medians([_op_layer(o) for o in traced if o["name"] == q])
             for q in queries} if workload == "query_mix" else {}
    mix = {}
    for med in per_q.values():
        for k, v in med.items():
            mix[k] = mix.get(k, 0) + v
    for k, unit in (("build_s", "s"), ("exec_s", "s"), ("jobs", "count"), ("driver_s", "s"),
                    ("executor_cpu_s", "s"), ("shuffle_write_bytes", "B"), ("spill_bytes", "B")):
        put(f"queries.{k}", mix.get(k, 0), unit)
    for q in queries:
        med = per_q.get(q, {})
        for k in QUERY_FIELDS:
            put(f"queries.{q}.{k}", med.get(k, 0), "count" if k == "jobs" else "s")

    put("entry.prepare_s", setup.get("prepare_s", 0.0), "s")
    put("util.cached_bytes", setup.get("cached_bytes", 0), "B")
    put("runtime.gc_s", (mix if workload == "query_mix" else strm).get("gc_s", 0.0), "s")
    put("runtime.peak_rss_mb", end["peak_rss_mb"], "MB")
    put("runtime.steal_share", 1 - stats.median([stats.unstolen_share(o["cpu_ticks"]) for o in good]),
        "ratio")
    put("trace.overhead_ratio", _overhead(good, workload == "query_mix"), "ratio")
    return m


def sample_note(workload, good):
    """One line on the latency samples: count, median, and the highest
    percentile with at least ten samples beyond it, if any."""
    walls = [_adjusted(o) for o in good]
    p = stats.supported_percentile(len(walls))
    tail = (f"p{p:g} {stats.percentile(walls, p):.4f} s" if p and p > 50
            else "no percentile above p50 has ten samples beyond it")
    return (f"{workload}: {len(walls)} latency samples, "
            f"p50 {stats.percentile(walls, 50):.4f} s; {tail}")


def summarize(workload, traced, launch, events, checks, queries):
    """The result line: correct/attempted/failed and the run's metrics.
    An op that threw or failed its check counts as failed and gives no
    sample; any failed check makes the run incorrect."""
    ops = {e["id"]: dict(e) for e in events if e["ev"] == "op"}
    for e in events:
        if e["ev"] == "note":
            ops[e["id"]].update(e)
    bad_ids = {c.get("op") for c in checks if not c["ok"]}
    bad_queries = {c.get("query") for c in checks if not c["ok"]}
    timed = [o for o in ops.values() if o["kind"] in OP_KINDS]
    good = [o for o in timed
            if o["ok"] and o["id"] not in bad_ids and o["name"] not in bad_queries]
    setup = next((e for e in events if e["ev"] == "setup_done"), None)
    heap = next((e for e in events if e["ev"] == "live_heap"), None)
    crashed = any(e["ev"] == "crash" for e in events)
    correct = (bool(good) and setup is not None and heap is not None and not crashed
               and all(c["ok"] for c in checks))
    if not correct:
        metrics = {}
    elif traced:
        extra = {o["kind"]: o for o in ops.values() if o["kind"] not in OP_KINDS and o["ok"]}
        end = next(e for e in events if e["ev"] == "end")
        metrics = per_layer(workload, setup, good, extra, queries, end)
    else:
        untimed = sum(e["s"] for e in events if e["ev"] == "untimed")
        metrics = end_to_end(launch, setup, untimed, good, heap)
    attempted = max(1, len(timed))
    return ({"correct": correct, "attempted": attempted,
             "failed": attempted - len(good), "metrics": metrics},
            sample_note(workload, good))
