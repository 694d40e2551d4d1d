"""Metrics of one run, from what the JVM harness recorded.

End-to-end metrics come from an untraced run, per-layer metrics from a
traced one. Per-layer times and counts are means per op of the timed
phase unless the name says otherwise; a layer that does no work in a
workload reports 0.
"""
import math
import statistics

END_TO_END = (
    ("setup_s", "s"), ("op_p50_s", "s"), ("op_tail_s", "s"),
    ("ops_per_s", "1/s"), ("heap_live_mb", "MB"), ("tmp_live_mb", "MB"))

PER_LAYER = (
    ("queries.build_s", "s"), ("queries.driver_gap_s", "s"),
    ("queries.sql_execs", "count"), ("queries.jobs", "count"),
    ("queries.tasks", "count"), ("queries.sched_wait_s", "s"),
    ("queries.job_wall_s", "s"), ("queries.task_cpu_s", "s"),
    ("queries.shuffle_mb", "MB"), ("queries.spill_mb", "MB"),
    ("queries.gc_s", "s"), ("tables.input_mb", "MB"),
    ("tables.records_read", "count"), ("queries.rows_read_per_row_out", "ratio"),
    ("ml.jobs", "count"), ("ml.job_wall_s", "s"), ("ml.task_cpu_s", "s"),
    ("curation.process_batch_s", "s"), ("curation.retract_batch_s", "s"),
    ("curation.sql_execs_per_batch", "count"),
    ("curation.jobs_per_batch", "count"), ("curation.driver_gap_s", "s"),
    ("curation.task_cpu_s", "s"), ("ops.exec_overlap", "ratio"),
    ("streaming.trigger_s", "s"), ("streaming.add_batch_s", "s"),
    ("streaming.wal_commit_s", "s"), ("streaming.commit_offsets_s", "s"),
    ("streaming.latest_offset_s", "s"), ("streaming.query_planning_s", "s"),
    ("streaming.batches", "count"),
    ("dedup.sql_execs", "count"), ("dedup.jobs", "count"),
    ("dedup.job_wall_s", "s"), ("dedup.shuffle_mb", "MB"),
    ("dedup.records_read_per_doc", "ratio"),
    ("text.sql_execs", "count"), ("text.jobs", "count"),
    ("text.job_wall_s", "s"),
    ("similarity.sql_execs", "count"), ("similarity.jobs", "count"),
    ("similarity.job_wall_s", "s"),
    ("dedup.bytes_written_mb", "MB"), ("dedup.index_mb", "MB"),
    ("dedup.index_files", "count"),
    ("text.bytes_written_mb", "MB"), ("text.index_mb", "MB"),
    ("text.index_files", "count"),
    ("similarity.bytes_written_mb", "MB"), ("similarity.index_mb", "MB"),
    ("similarity.index_files", "count"),
    ("curation.bootstrap_s", "s"), ("curation.space_amp", "ratio"),
    ("jvm.gc_s", "s"), ("jvm.heap_peak_mb", "MB"),
    ("trace.ops_per_s", "1/s"),
)

# Read-path metrics only rag_retrieval produces; that workload is not in
# BENCHMARK.json, so they are reported for it alone.
RAG_LAYER = (
    ("text.query_s", "s"), ("text.records_read_per_result", "ratio"),
    ("similarity.probe_s", "s"), ("similarity.rows_scanned_per_result", "ratio"),
    ("dedup.manifest_reads", "count"), ("similarity.recall_at_10", "ratio"),
)


TAIL_PCT = 90


def _beta_cdf_steps(a, b, n, steps=64):
    """P(X <= i/n) for i = 0..n, X ~ Beta(a, b), by Simpson's rule."""
    log_b = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)

    def pdf(x):
        if x <= 0.0 or x >= 1.0:
            return 0.0
        return math.exp((a - 1) * math.log(x) + (b - 1) * math.log1p(-x)
                        - log_b)

    cdf = [0.0]
    for i in range(n):
        lo, h = i / n, 1 / (n * steps)
        s = pdf(lo) + pdf(lo + 1 / n) + sum(
            (4 if k % 2 else 2) * pdf(lo + k * h) for k in range(1, steps))
        cdf.append(cdf[-1] + s * h / 3)
    return cdf


def quantile(xs, p):
    """The Harrell-Davis estimate of the ``p`` quantile: a mean of every
    value, weighted by how near its rank sits to ``p``. A run holds a few
    ops of each of several kinds of unequal cost, so a plain order
    statistic lands on one or two ops of whichever kind sits at that rank
    and jumps when two kinds swap places; this estimate moves smoothly."""
    xs = sorted(xs)
    n = len(xs)
    if n == 1:
        return xs[0]
    cdf = _beta_cdf_steps(p * (n + 1), (1 - p) * (n + 1), n)
    w = [cdf[i + 1] - cdf[i] for i in range(n)]
    return sum(wi * x for wi, x in zip(w, xs)) / sum(w)


def tail(latencies):
    """The ``TAIL_PCT``-th percentile op latency, as (value, percentile).
    A run holds tens of ops at most, too few for a percentile with ten ops
    beyond it, and the slowest op alone swings with one stray stall."""
    return quantile(latencies, TAIL_PCT / 100), TAIL_PCT


def union_ms(iv):
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(iv):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def end_to_end(res):
    ops = res["ops"]
    lat = [o["latency_s"] for o in ops]
    t, pct = tail(lat) if lat else (0.0, 0)
    setup = statistics.median(res["setup_reps_s"]) + res["setup_extra_s"]
    m = {
        "setup_s": setup,
        "op_p50_s": quantile(lat, 0.5) if lat else 0.0,
        "op_tail_s": t,
        "ops_per_s": len(ops) / res["timed_wall_s"] if res["timed_wall_s"] else 0.0,
        "heap_live_mb": res["heap_live_mb"],
        "tmp_live_mb": res["tmp_live_mb"],
    }
    return m, pct


def per_layer(res):
    ops = res["ops"]
    tr = res["trace"]
    by_op = {}
    for c in tr["counters"]:
        if c["op"] >= 0:
            by_op.setdefault(c["op"], {})[c["module"]] = c
    intervals = {j["op"]: j["intervals"] for j in tr["job_intervals"]}
    spans = tr["spans"]
    ids = [o["id"] for o in ops]

    def per_op(module, key, subset=None):
        sel = ids if subset is None else subset
        vals = []
        for i in sel:
            mods = by_op.get(i, {})
            if module is None:
                vals.append(sum(c[key] for c in mods.values()))
            else:
                vals.append(mods.get(module, {}).get(key, 0))
        return _mean(vals)

    def total(module, key, subset):
        return sum(by_op.get(i, {}).get(module, {}).get(key, 0)
                   if module else
                   sum(c[key] for c in by_op.get(i, {}).values())
                   for i in subset)

    def span_mean(name, sel):
        """Mean seconds per op of the named span, over the ops ``sel``."""
        per_op = tr["span_by_op"].get(name, {})
        return _mean([per_op.get(str(i), 0.0) for i in sel])

    def gap(i, wall_ms):
        return max(0.0, wall_ms - union_ms(intervals.get(i, []))) / 1e3

    m = {k: 0.0 for k, _ in PER_LAYER + RAG_LAYER}
    wl = res["workload"]
    wall = {o["id"]: o["end_ms"] - o["start_ms"] for o in ops}
    if wl == "trend_analytics":
        m["queries.build_s"] = span_mean("queries.build", ids)
        m["queries.driver_gap_s"] = _mean([gap(i, wall[i]) for i in ids])
        for k in ("sql_execs", "jobs", "tasks", "sched_wait_s", "job_wall_s",
                  "task_cpu_s", "shuffle_mb", "spill_mb", "gc_s"):
            m[f"queries.{k}"] = per_op(None, k)
        m["tables.input_mb"] = per_op(None, "input_mb")
        m["tables.records_read"] = per_op(None, "records_read")
        rows_out = sum(res.get("rows_out", {}).get(o["name"], 0) for o in ops)
        if rows_out:
            m["queries.rows_read_per_row_out"] = \
                total(None, "records_read", ids) / rows_out
        for k in ("jobs", "job_wall_s", "task_cpu_s"):
            m[f"ml.{k}"] = per_op("ml", k)
    elif wl == "curation_ingest":
        ingest = [o["id"] for o in ops if o["kind"] == "ingest"]
        retract = [o["id"] for o in ops if o["kind"] == "retract"]
        m["curation.process_batch_s"] = span_mean("curation.process_batch",
                                                  ingest)
        m["curation.retract_batch_s"] = span_mean("curation.retract_batch",
                                                  retract)
        m["curation.sql_execs_per_batch"] = per_op(None, "sql_execs")
        m["curation.jobs_per_batch"] = per_op(None, "jobs")
        m["curation.driver_gap_s"] = _mean([gap(i, wall[i]) for i in ids])
        m["curation.task_cpu_s"] = per_op(None, "task_cpu_s")
        overlaps = []
        for i in ids:
            iv = intervals.get(i, [])
            u = union_ms(iv)
            if u:
                overlaps.append(sum(e - s for s, e in iv) / u)
        m["ops.exec_overlap"] = _mean(overlaps)
        prog = {p["batch"]: p["durations_ms"] for p in tr["progress"]}
        for metric, key in (("trigger_s", "triggerExecution"),
                            ("add_batch_s", "addBatch"),
                            ("wal_commit_s", "walCommit"),
                            ("commit_offsets_s", "commitOffsets"),
                            ("latest_offset_s", "latestOffset"),
                            ("query_planning_s", "queryPlanning")):
            m[f"streaming.{metric}"] = _mean(
                [prog[i].get(key, 0) / 1e3 for i in ids if i in prog])
        m["streaming.batches"] = float(len(ids))
        for mod in ("dedup", "text", "similarity"):
            for k in ("sql_execs", "jobs", "job_wall_s", "bytes_written_mb"):
                m[f"{mod}.{k}"] = per_op(mod, k)
        m["dedup.shuffle_mb"] = per_op("dedup", "shuffle_mb")
        docs = res["batch_docs"]
        if docs:
            m["dedup.records_read_per_doc"] = \
                total("dedup", "records_read", ids) / docs
        m["curation.space_amp"] = res["space_amp"]
    else:
        bm25 = [o["id"] for o in ops if o["kind"] == "bm25"]
        ann = [o["id"] for o in ops if o["kind"] == "ann"]
        rows = {int(k): v for k, v in res["result_rows"].items()}
        m["text.query_s"] = span_mean("text.query", bm25)
        m["similarity.probe_s"] = span_mean("similarity.probe", ann)
        for metric, sel in (("text.records_read_per_result", bm25),
                            ("similarity.rows_scanned_per_result", ann)):
            out = sum(rows.get(i, 0) for i in sel)
            if out:
                m[metric] = total(None, "records_read", sel) / out
        reads = {r["op"]: r["n"] for r in tr["manifest_reads"]}
        m["dedup.manifest_reads"] = _mean([reads.get(i, 0) for i in ids])
        m["similarity.recall_at_10"] = res["recall_at_10"]
        m["curation.space_amp"] = res["space_amp"]
    if wl != "trend_analytics":
        for mod in ("dedup", "text", "similarity"):
            c = res["index_census"][mod]
            m[f"{mod}.index_mb"] = c["mb"]
            m[f"{mod}.index_files"] = float(c["files"])
        boot = spans.get("curation.bootstrap")
        if boot:
            m["curation.bootstrap_s"] = boot["total_s"] / boot["count"]
    m["jvm.gc_s"] = res["jvm_gc_s"]
    m["jvm.heap_peak_mb"] = res["heap_peak_mb"]
    m["trace.ops_per_s"] = end_to_end(res)[0]["ops_per_s"]
    return m


def summarise(res, trace):
    ops = res["ops"]
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    e2e, pct = end_to_end(res)
    notes = [f"ops = {attempted} attempted, {failed} failed "
             f"(failed_frac = {failed / attempted if attempted else 1.0:.4g})",
             f"op_p50_s and op_tail_s (p{pct}) are Harrell-Davis "
             f"estimates over {attempted} ops"]
    if "space_amp" in res:
        notes.append(f"space_amp = {res['space_amp']:.6g} ratio")
    if "recall_at_10" in res:
        notes.append(f"recall_at_10 = {res['recall_at_10']:.6g} ratio "
                     f"over {res['recall_queries']} ANN queries")
    notes += [f"check: {n}" for n in res.get("check_notes", [])]
    notes.append(f"loadavg {res['loadavg_start_1m']:.2f} -> "
                 f"{res['loadavg_end_1m']:.2f} on {res['nproc']} cpus")
    if res.get("cpu_steal_frac") is not None:
        notes.append(f"cpu steal {res['cpu_steal_frac']:.1%} of cpu time")
    if trace:
        units = dict(PER_LAYER)
        if res["workload"] == "rag_retrieval":
            units.update(RAG_LAYER)
        vals = per_layer(res)
    else:
        units = dict(END_TO_END)
        vals = e2e
    return {
        "correct": failed == 0 and attempted > 0,
        "attempted": max(attempted, 1),
        "failed": failed if attempted else 1,
        "metrics": {k: {"value": float(vals[k]), "unit": units[k]}
                    for k in units},
        "end_to_end": e2e,
        "notes": notes,
    }
