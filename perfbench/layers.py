"""Per-layer metrics of the traced run (`run.py --trace 1`).

Inputs are the harness's `PB` records: the prefix ladder (one rung per
public stage of `Pipeline.run`, each drained into `noop`), the traced jobs
with their listener spans, per-stage task totals and SQL executions, and the
traced/untraced walls. Layers a workload does not run report 0.

The listener's record is cross-checked against Spark's own app status store
(the jobs it saw in the traced window) and SQL status store (the executions'
spans): a lost or unfinished job is a check failure, and
`trace.span_coverage` is the share of the traced wall that those recorded
spans cover, so events the listener missed lower it.
"""
import statistics

MB = float(1 << 20)

UNITS = {
    "transcripts.wall_s": "s", "transcripts.cpu_s": "s", "transcripts.shuffle_write_mb": "MB",
    "grok.wall_s": "s", "grok.cpu_ns_per_row": "ns/row", "grok.cpu_ns_per_kb": "ns/KB",
    "grok.quarantine_ratio": "ratio",
    "salt_exchange.shuffle_write_mb": "MB", "salt_exchange.skew_ratio": "ratio",
    "enrich.wall_s": "s", "enrich.join_nodes": "count",
    "route.wall_s": "s", "route.fanout_ratio": "ratio", "route.dead_letter_ratio": "ratio",
    "limit.wall_s": "s", "limit.cells": "count", "limit.breached_cells": "count",
    "limit.rerouted_rows": "count", "limit.dropped_rows": "count",
    "limit.verdict_scan_files": "count",
    "limit_exchange.shuffle_write_mb": "MB", "limit_exchange.skew_ratio": "ratio",
    "limit_exchange.spill_mb": "MB",
    "sink.write_s": "s", "sink.files": "count", "sink.mb": "MB",
    "manifest.commit_s": "s", "manifest.dir_moves": "count",
    "spark.task_cpu_s": "s", "spark.gc_s": "s", "spark.core_util": "ratio",
    "spark.driver_only_s": "s",
    "query.q_route_counts_s": "s", "query.q_sink_agg_s": "s", "query.q_conv_spans_s": "s",
    "query.q_sink_conv_spans_s": "s", "query.q_enrich_agg_s": "s",
    "query.q_limit_final_s": "s", "query.plan_s": "s", "query.jobs": "count",
    "trace.overhead_s": "s", "trace.span_coverage": "ratio",
}


def limiter_counts(metrics):
    """(rerouted, dropped) rows from a `_metrics_<run>.json` record: rows
    that left their original sink, and rows discarded."""
    per = metrics["per_sink"].values()
    rerouted = sum(max(0, c["in_rows"] - c["out_rows"] - c["dropped_rows"]) for c in per)
    return rerouted, sum(c["dropped_rows"] for c in per)


def _layer_of(call_site, writes):
    """Layer of one Pipeline.run job, from the call site of its SQL
    execution (or its own, for jobs outside one)."""
    if writes:
        return "stage_write"
    if "SinglePassLimit" in call_site:
        return "limit"
    if "Transcripts" in call_site:
        return "scan"
    return "manifest"  # Manifest.entries and the collect of the returned aggregate


def attribute(traced):
    """Splits one traced Pipeline.run into layer spans that tile its wall:
    each job goes to its layer, and the driver-only gap before a job goes to
    that job's layer (the driver work that prepares it). Returns
    (seconds by layer, the spans)."""
    exec_of = {}
    for ex in traced["sql"]:
        for j in ex["jobs"]:
            exec_of[j] = ex
    spans, by_layer, cursor = [], {}, 0
    for sp in sorted(traced["spans"], key=lambda s: s["start_ms"]):
        ex = exec_of.get(sp["job"])
        site = ex["description"] if ex else sp["call_site"]
        layer = _layer_of(site, bool(ex and ex["files_written"]))
        start, end = max(sp["start_ms"], cursor), max(sp["end_ms"], cursor)
        by_layer[layer] = by_layer.get(layer, 0) + (end - cursor) / 1e3
        spans.append({"layer": layer, "job": sp["job"], "site": site,
                      "from_ms": cursor, "job_start_ms": start, "to_ms": end})
        cursor = end
    tail = max(0, traced["wall_ms"] - cursor)
    by_layer["manifest"] = by_layer.get("manifest", 0) + tail / 1e3
    return by_layer, spans


def listener_errors(traced):
    """Disagreements between the listener's jobs and the status store's."""
    seen = {s["job"] for s in traced["spans"]}
    status = set(traced["status_jobs"])
    errs = []
    if seen != status:
        errs.append(f"traced rep {traced['rep']}: listener saw jobs {sorted(seen - status)} "
                    f"the status store did not, and missed {sorted(status - seen)}")
    unended = [s["job"] for s in traced["spans"] if not s["ended"]]
    if unended:
        errs.append(f"traced rep {traced['rep']}: no end event for jobs {unended}")
    return errs


def span_coverage(traced):
    """Share of the traced wall inside a recorded span: a listener job span
    or a SQL execution's span from the status store. Driver work outside
    any job or SQL execution (file moves, manifest writes) is not covered."""
    wall = traced["wall_ms"]
    clip = lambda s, e: (min(max(s, 0), wall), min(max(e, 0), wall))
    spans = [clip(s["start_ms"], s["end_ms"]) for s in traced["spans"]]
    spans += [clip(ex["start_ms"], ex["end_ms"]) for ex in traced["sql"]]
    return _union(spans) / wall


def per_layer(events, facts, want, threads, job):
    """Returns (metrics, record, errors) of a traced run."""
    ladder = {r["rung"]: r for e in events if e["kind"] == "ladder" for r in e["rungs"]}
    traced = [e for e in events if e["kind"] == "traced"]
    over = next(e for e in events if e["kind"] == "overhead")
    best = min(traced, key=lambda t: t["wall_s"])
    # each rung's figures are minima over its reps
    rung = lambda name, key: min(r[key] for r in ladder[name]["reps"])
    m = {k: 0.0 for k in UNITS}

    grok_cpu = rung("grok", "cpu_s") - rung("transcripts", "cpu_s")
    m.update({
        "transcripts.wall_s": rung("transcripts", "wall_s"),
        "transcripts.cpu_s": rung("transcripts", "cpu_s"),
        "transcripts.shuffle_write_mb": rung("transcripts", "shuffle_write_bytes") / MB,
        "grok.wall_s": rung("grok", "wall_s") - rung("transcripts", "wall_s"),
        "grok.cpu_ns_per_row": grok_cpu * 1e9 / want["turns"],
        "grok.cpu_ns_per_kb": grok_cpu * 1e9 / (want["text_bytes"] / 1024),
        "salt_exchange.shuffle_write_mb":
            (rung("salt_exchange", "shuffle_write_bytes") - rung("grok", "shuffle_write_bytes")) / MB,
        "salt_exchange.skew_ratio": rung("salt_exchange", "top_read_skew"),
        "enrich.wall_s": rung("enrich", "wall_s") - rung("salt_exchange", "wall_s"),
        "enrich.join_nodes": ladder["limit_exchange"]["broadcast_hash_joins"],
        "route.wall_s": rung("route_explode", "wall_s") - rung("enrich", "wall_s"),
        "limit_exchange.shuffle_write_mb": (rung("limit_exchange", "shuffle_write_bytes")
                                            - rung("route_explode", "shuffle_write_bytes")) / MB,
        "limit_exchange.skew_ratio": rung("limit_exchange", "top_read_skew"),
    })

    totals = best["totals"]
    wall = best["wall_ms"] / 1e3
    record = {"ladder": list(ladder.values()), "traced": traced, "overhead": over}
    errors = [e for t in traced for e in listener_errors(t)]
    union_ms = _union([(s["start_ms"], s["end_ms"]) for s in best["spans"]])
    m.update({
        "spark.task_cpu_s": totals["cpu_s"],
        "spark.gc_s": totals["gc_s"],
        "spark.core_util": totals["run_s"] / (wall * threads),
        "spark.driver_only_s": wall - union_ms / 1e3,
        "trace.overhead_s": statistics.median(over["traced_s"]) - statistics.median(over["untraced_s"]),
        "trace.span_coverage": span_coverage(best),
    })

    if job == "pipeline":
        by_layer, spans = attribute(best)
        record["attribution"] = {"by_layer_s": by_layer, "spans": spans}
        metrics = facts[best["run_id"]]["metrics"]
        st = metrics["stages"]
        exec_of = {j: ex for ex in best["sql"] for j in ex["jobs"]}
        write_jobs = {s["job"] for s in spans if s["layer"] == "stage_write"}
        limit_execs = {id(exec_of[s["job"]]): exec_of[s["job"]] for s in spans
                       if s["layer"] == "limit" and s["job"] in exec_of}
        write_spill = sum(s["metrics"]["spill_disk_bytes"] for s in best["spans"]
                          if s["job"] in write_jobs)
        rerouted, dropped = limiter_counts(metrics)
        m.update({
            "grok.quarantine_ratio": st["parse"]["rows_quarantined"] / st["scan"]["rows"],
            "route.fanout_ratio": st["route"]["fanout_rows"] / st["route"]["rows_in"],
            "route.dead_letter_ratio": st["route"]["rows_dead_letter"] / st["route"]["rows_in"],
            "limit.wall_s": by_layer.get("limit", 0.0),
            "limit.cells": want["cells"],
            "limit.breached_cells": want["breached_cells"],
            "limit.rerouted_rows": rerouted,
            "limit.dropped_rows": dropped,
            "limit.verdict_scan_files": sum(ex["files_read"] for ex in limit_execs.values()),
            "limit_exchange.spill_mb": write_spill / MB,
            "sink.write_s": by_layer.get("stage_write", 0.0) - rung("limit_exchange", "wall_s"),
            "sink.files": sum(ex["files_written"] for ex in best["sql"]),
            "sink.mb": facts[best["run_id"]]["sink_bytes"] / MB,
            "manifest.commit_s": by_layer.get("manifest", 0.0),
            "manifest.dir_moves": want["rerouted_cells"] + len(want["sinks"]),
        })
    else:
        qs = best["queries"]
        start_of = {s["job"]: s["start_ms"] for s in best["spans"]}
        plan = 0.0
        for q in qs:
            m[f"query.{q['query']}_s"] = q["wall_s"]
            firsts = [start_of[j] for j in q["jobs"] if j in start_of]
            if firsts:
                plan += (min(firsts) - q["start_ms"]) / 1e3
        m.update({"query.plan_s": plan, "query.jobs": sum(len(q["jobs"]) for q in qs)})
    return m, record, errors


def _union(intervals):
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total
