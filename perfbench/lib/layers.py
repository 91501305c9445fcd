"""Grading: result checks, end-to-end metrics and per-layer metrics of one
run, from the raw observations the JVM harness wrote."""
import json
import os

import duckdb

from lib import consume, gen, stats

END_TO_END = [
    ("setup_s", "s"),
    ("latency_p50_ms", "ms"),
    ("latency_p75_ms", "ms"),
    ("throughput_per_s", "1/s"),
    ("peak_rss_mb", "MB"),
]

PER_LAYER = [
    ("sql.bind_ms", "ms"),
    ("sources.admin_ms", "ms"),
    ("v2.segments_planned", "count"),
    ("v2.rows_planned", "count"),
    ("v2.rows_skipped", "count"),
    ("v2.rows_delivered", "count"),
    ("v2.useful_ratio", "ratio"),
    ("v2.scan_amplification", "ratio"),
    ("v2.footer_parses", "count"),
    ("v2.reader_ns_per_record", "ns"),
    ("v2.latest_offset_ms", "ms"),
    ("functions.json_map_ns", "ns"),
    ("functions.json_field_ns", "ns"),
    ("transforms.jolt_ns", "ns"),
    ("plans.ordered_cap_jobs", "count"),
    ("stream.batches", "count"),
    ("stream.batch_ms", "ms"),
    ("stream.add_batch_ms", "ms"),
    ("stream.planning_ms", "ms"),
    ("stream.commit_ms", "ms"),
    ("stream.state_rows", "count"),
    ("stream.state_bytes", "bytes"),
    ("stream.state_commit_ms", "ms"),
    ("stream.watermark_lag_ms", "ms"),
    ("stream.publish_lag_ms", "ms"),
    ("stream.catchup_local1_per_s", "1/s"),
] + [("entry.%s_s" % e, "s") for e in gen.CURATION_ENTRIES] + [
    ("driver.analysis_ms", "ms"),
    ("driver.optimization_ms", "ms"),
    ("driver.planning_ms", "ms"),
    ("driver.codegen_ms", "ms"),
    ("sched.jobs", "count"),
    ("sched.stages", "count"),
    ("sched.tasks", "count"),
    ("sched.delay_ms", "ms"),
    ("exec.task_ms", "ms"),
    ("exec.cpu_ms", "ms"),
    ("exec.busy_ratio", "ratio"),
    ("exec.peak_memory_bytes", "bytes"),
    ("exchange.shuffle_write_bytes", "bytes"),
    ("exchange.shuffle_read_bytes", "bytes"),
    ("exchange.spill_bytes", "bytes"),
    ("exchange.fetch_wait_ms", "ms"),
    ("jvm.gc_ms", "ms"),
    ("storage.block_bytes_peak", "bytes"),
    ("trace.self_op_ms", "ms"),
    ("trace.self_job_ms", "ms"),
    ("trace.self_stage_ms", "ms"),
    ("trace.self_task_ms", "ms"),
    ("trace.latency_p50_ms", "ms"),
    ("host.stall_ratio", "ratio"),
    ("check.error_rate", "ratio"),
]

# The known defect the consume_sql check names: a `-c name=path` VARCHAR
# mapping drops a JSON *string* whose text is all digits (ColumnMapping's
# number test looks at the text, not the JSON token type).
KNOWN_DEFECT = "VARCHAR -c mapping returns NULL for an all-digit JSON string"

# Entries whose oracle is the exact answer to an approximate method: a
# result that is a strict subset of the oracle's rows is the method's
# shortfall on this input, reported (error_rate, flagged) but not failed;
# any row outside the oracle's still fails.
APPROXIMATE = {
    "dedup_lsh_recall": "MinHash LSH (16 bands x 4 rows) missed a pair with "
                        "3-gram Jaccard >= 0.5 (recall < 1 on this input)",
    "emb_ann_neardups": "the ANN index missed a near-duplicate pair the exact "
                        "cosine scan finds (recall < 1 on this input)",
}


def _plain(v):
    """DuckDB values as the JSON the harness writes them."""
    import datetime
    import decimal
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return [_plain(x) for x in v]
    if isinstance(v, dict):
        return {k: _plain(x) for k, x in v.items()}
    return v


def _median(xs):
    return stats.median(xs) if xs else 0.0


# ---- checks and end-to-end metrics per workload ----------------------------

def _consume(res, ctx):
    ops_by_id = {o["id"]: o for o in ctx["ops"]}
    exp = consume.expected(duckdb.connect(), ctx["data"], ctx["ops"])
    failed, known, flagged = 0, 0, {}
    for o in res["ops"]:
        if "error" in o:
            failed += 1
            flagged[o["id"]] = o["error"]
            continue
        e = exp[o["id"]]
        if stats.rows_match(o["rows"], e["ref"]):
            continue
        if e["defect"] is not None and stats.rows_match(o["rows"], e["defect"]):
            known += 1
            flagged.setdefault(o["id"], "known defect: " + KNOWN_DEFECT)
        else:
            failed += 1
            flagged[o["id"]] = "rows differ from the DuckDB oracle"
    lat = [o["lat_ms"] for o in res["ops"]]
    n = len(lat)
    e2e = {"latency_p50_ms": stats.median(lat),
           "latency_p75_ms": stats.percentile(lat, 75),
           "throughput_per_s": n / res["measured_s"]}
    tail = stats.tail_percentile(n)
    lines = ["statements: %d in %.2f s (closed loop, 1 client, cycle of %d)"
             % (n, res["measured_s"], len(ops_by_id)),
             "query_p50_ms %.1f, query_p75_ms %.1f, queries_per_s %.2f"
             % (e2e["latency_p50_ms"], e2e["latency_p75_ms"], e2e["throughput_per_s"]),
             "tail rule: p%s = %s ms (n = %d)" % (
                 tail, "%.1f" % stats.percentile(lat, tail) if tail else "-", n)]
    for kind in consume.KINDS:
        k = [o["lat_ms"] for o in res["ops"] if o["kind"] == kind]
        if k:
            lines.append("  %-6s n=%-3d p50 %.1f ms" % (kind, len(k), stats.median(k)))
    return e2e, n, failed, known, flagged, lines


def _stream(res, ctx):
    fresh = stats.freshness_ms(res["published"], res["progress"])
    covered = [f for f in fresh if f is not None]
    live_ok = stats.rows_match(res["live_table"], res["live_batch"])
    drains_ok = [stats.rows_match(t, res["backlog_batch"]) for t in res["backlog_tables"]]
    failed = (len(fresh) - len(covered)) + (0 if live_ok else len(covered)) + \
        drains_ok.count(False)
    flagged = {}
    if not live_ok:
        flagged["live"] = "window table differs from the batch recomputation"
    for i, ok in enumerate(drains_ok):
        if not ok:
            flagged["backlog%d" % (i + 1)] = "window table differs from the batch recomputation"
    if len(covered) < len(fresh):
        flagged["freshness"] = "%d segments never covered by a sink batch" % (len(fresh) - len(covered))
    records = ctx["topics"]["backlog_records"]
    drain = stats.median(res["drain_s"])
    e2e = {"latency_p50_ms": stats.median(covered) if covered else 0.0,
           "latency_p75_ms": stats.percentile(covered, 75) if covered else 0.0,
           "throughput_per_s": records / drain}
    lag = [p["published_ms"] - p["due_ms"] for p in res["published"]]
    lines = ["open loop: %d segments of %d records, one every %d ms; %d live batches"
             % (len(fresh), gen.STREAM["live_rows"], gen.STREAM["period_ms"],
                sum(1 for p in res["progress"] if p.get("numInputRows", 0) > 0)),
             "freshness_p50_ms %.1f, freshness_p75_ms %.1f, freshness_p90_ms %s (n = %d); "
             "publisher lag p50 %.1f ms, max %.1f ms"
             % (e2e["latency_p50_ms"], e2e["latency_p75_ms"],
                "%.1f" % stats.percentile(covered, 90)
                if covered and (stats.tail_percentile(len(covered)) or 0) >= 90 else "-",
                len(covered), stats.median(lag), max(lag)),
             "catchup_records_per_s %.0f (%d backlog records, drains %s s)"
             % (e2e["throughput_per_s"], records, ", ".join("%.2f" % d for d in res["drain_s"]))]
    return e2e, len(fresh) + len(drains_ok), failed, 0, flagged, lines


def _curation(res, ctx, work):
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute("CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet'" % (t, ctx["data"], t))
    bad, approx = {}, {}
    for e in gen.CURATION_ENTRIES:
        sql = res["oracle_sql"].get(e)
        if sql is None:
            bad[e] = "no oracle SQL"
            continue
        try:
            got = con.execute("SELECT * FROM read_parquet('%s/results/%s/*.parquet')" % (work, e))
            gcols = [d[0] for d in got.description]
            grows = got.fetchall()
            ex = con.execute(sql)
            ecols = [d[0] for d in ex.description]
            erows = ex.fetchall()
        except duckdb.Error as err:
            bad[e] = "check failed: %s" % str(err).splitlines()[0]
            continue
        if sorted(gcols) != sorted(ecols):
            bad[e] = "columns %s != %s" % (gcols, ecols)
            continue
        order = [gcols.index(c) for c in ecols]
        grows = [[_plain(r[i]) for i in order] for r in grows]
        erows = [[_plain(v) for v in r] for r in erows]
        if stats.rows_match(grows, erows):
            continue
        if e in APPROXIMATE and len(grows) < len(erows) and \
                stats.rows_subset(grows, erows):
            approx[e] = APPROXIMATE[e] + " (%d of %d rows)" % (len(grows), len(erows))
        else:
            bad[e] = "rows differ from oracleSql (%d vs %d rows)" % (len(grows), len(erows))
    times = [t for p in res["passes"] for t in p.values()]
    n = len(times)
    failed = sum(1 for p in res["passes"] for e in p if e in bad)
    known = sum(1 for p in res["passes"] for e in p if e in approx)
    pass_s = [sum(p.values()) for p in res["passes"]]
    # the operation is a pass: one or two per run, too few for the tail
    # rule, so both percentiles are taken over the passes' curation_s
    e2e = {"latency_p50_ms": stats.median(pass_s) * 1e3,
           "latency_p75_ms": stats.percentile(pass_s, 75) * 1e3,
           "throughput_per_s": n / sum(times)}
    lines = ["passes: %d over %d entries; curation_s %s"
             % (len(pass_s), len(gen.CURATION_ENTRIES), ", ".join("%.2f" % s for s in pass_s)),
             "curation_s p50 %.1f ms, p75 %.1f ms, entries_per_s %.3f; cold pass %.2f s"
             % (e2e["latency_p50_ms"], e2e["latency_p75_ms"], e2e["throughput_per_s"],
                sum(res["warm_s"].values()))]
    return e2e, n, failed, known, dict(bad, **approx), lines


# ---- per-layer metrics -----------------------------------------------------

def _op_groups(workload, groups):
    if workload == "consume_sql":
        return {g: v for g, v in groups.items() if g.startswith("op-")}
    if workload == "curation_batch":
        return {g: v for g, v in groups.items() if g.startswith("entry-")}
    return {g: v for g, v in groups.items()
            if g.startswith("live-batch-") or (g.startswith("backlog") and "-batch-" in g)}


def _span_self(work):
    """Mean self time per root operation, by span kind."""
    path = os.path.join(work, "spans.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        spans = json.load(f)
    by_id = {s["id"]: s for s in spans}

    def root(s):
        seen = 0
        while s["parent"] in by_id and seen < 16:
            s = by_id[s["parent"]]
            seen += 1
        return s

    kept = [s for s in spans if root(s)["name"] == "op"]
    selfs = stats.self_times(kept)
    roots = sum(1 for s in kept if s["name"] == "op")
    out = {}
    for s in kept:
        out[s["name"]] = out.get(s["name"], 0.0) + selfs[s["id"]]
    return {k: v / max(roots, 1) for k, v in out.items()}


def _per_layer(workload, res, ctx, cpus, e2e, error_rate, work):
    m = {name: 0.0 for name, _ in PER_LAYER}
    tr = res["trace"]
    ops = _op_groups(workload, tr["groups"])
    n = max(len(ops), 1)

    def total(key):
        return sum(g[key] for g in ops.values())

    tasks = total("tasks")
    m.update({
        "sched.jobs": total("jobs") / n, "sched.stages": total("stages") / n,
        "sched.tasks": tasks / n,
        "sched.delay_ms": total("sched_delay_ms") / tasks if tasks else 0.0,
        "exec.task_ms": total("task_ms") / n, "exec.cpu_ms": total("cpu_ms") / n,
        "exec.busy_ratio": sum(g["task_ms"] for g in tr["groups"].values())
        / (cpus * tr["wall_s"] * 1e3),
        "exec.peak_memory_bytes": max([g["peak_memory_bytes"] for g in ops.values()] or [0]),
        "exchange.shuffle_write_bytes": total("shuffle_write_bytes") / n,
        "exchange.shuffle_read_bytes": total("shuffle_read_bytes") / n,
        "exchange.spill_bytes": total("spill_bytes") / n,
        "exchange.fetch_wait_ms": total("fetch_wait_ms") / n,
        "jvm.gc_ms": tr["gc_ms"] / n,
        "storage.block_bytes_peak": tr["block_bytes_peak"],
        "v2.footer_parses": tr["footer_parses"],
        "driver.analysis_ms": tr["phases_ms"].get("analysis", 0.0) / n,
        "driver.optimization_ms": tr["phases_ms"].get("optimization", 0.0) / n,
        "driver.planning_ms": tr["phases_ms"].get("planning", 0.0) / n,
        "driver.codegen_ms": tr["codegen_ms"] / n,
        "trace.latency_p50_ms": e2e["latency_p50_ms"],
        "host.stall_ratio": stats.stall_ratio(res["calibration_ms"]),
        "check.error_rate": error_rate,
    })
    for kind, v in _span_self(work).items():
        if "trace.self_%s_ms" % kind in m:
            m["trace.self_%s_ms" % kind] = v

    if workload == "consume_sql":
        rs = res["ops"]
        m["sql.bind_ms"] = _median([o["bind_ms"] for o in rs if "bind_ms" in o])
        m["sources.admin_ms"] = _median([o["lat_ms"] for o in rs if o["kind"] == "admin"])
        scanned = [o for o in rs if o.get("scan", {}).get("scans")]
        if scanned:
            window = {o["id"]: o["window_rows"] for o in ctx["ops"] if "window_rows" in o}
            k = len(scanned)
            tot = {f: sum(o["scan"][f] for o in scanned)
                   for f in ("segments", "rows_planned", "rows_skipped", "rows_delivered")}
            m["v2.segments_planned"] = tot["segments"] / k
            m["v2.rows_planned"] = tot["rows_planned"] / k
            m["v2.rows_skipped"] = tot["rows_skipped"] / k
            m["v2.rows_delivered"] = tot["rows_delivered"] / k
            d, s = tot["rows_delivered"], tot["rows_skipped"]
            m["v2.useful_ratio"] = d / (d + s) if d + s else 0.0
            w = sum(window[o["id"]] for o in scanned)
            m["v2.scan_amplification"] = d / w if w else 0.0
        kern = res["kernels"]
        m["v2.reader_ns_per_record"] = kern["reader_ns_per_record"]
        m["functions.json_map_ns"] = kern["json_map_ns"]
        m["functions.json_field_ns"] = kern["json_field_ns"]
        m["transforms.jolt_ns"] = kern["jolt_ns"]
        filt = [tr["groups"][o["run"]]["jobs"] for o in rs
                if o["kind"] == "filter" and o["run"] in tr["groups"]]
        m["plans.ordered_cap_jobs"] = _median(filt)
    elif workload == "stream_ingest":
        prog = [p for p in res["progress"] if p.get("numInputRows", 0) > 0]
        dur = lambda k: _median([p["durationMs"].get(k, 0) for p in prog])  # noqa: E731
        m["stream.batches"] = len(prog)
        m["stream.batch_ms"] = dur("triggerExecution")
        m["stream.add_batch_ms"] = dur("addBatch")
        m["stream.planning_ms"] = dur("queryPlanning")
        m["stream.commit_ms"] = dur("commitOffsets") + dur("walCommit")
        m["v2.latest_offset_ms"] = dur("latestOffset")
        states = [p["stateOperators"][0] for p in prog if p.get("stateOperators")]
        if states:
            m["stream.state_rows"] = states[-1].get("numRowsTotal", 0)
            m["stream.state_bytes"] = states[-1].get("memoryUsedBytes", 0)
            m["stream.state_commit_ms"] = _median([s.get("commitTimeMs", 0) for s in states])
        lags = []
        for p in prog:
            wm = p.get("eventTime", {}).get("watermark")
            if wm and p.get("sink_done_ms") is not None:
                wm_ms = _iso_ms(wm)
                if wm_ms > 0:
                    lags.append(p["sink_done_ms"] - res["start_ms"] - wm_ms)
        m["stream.watermark_lag_ms"] = _median(lags)
        m["stream.publish_lag_ms"] = _median(
            [p["published_ms"] - p["due_ms"] for p in res["published"]])
        if res.get("drain_local1_s"):
            m["stream.catchup_local1_per_s"] = \
                ctx["topics"]["backlog_records"] / res["drain_local1_s"]
    else:
        for e in gen.CURATION_ENTRIES:
            m["entry.%s_s" % e] = _median([p[e] for p in res["passes"] if e in p])
    return m


def _iso_ms(text):
    import datetime
    dt = datetime.datetime.fromisoformat(text.replace("Z", "+00:00"))
    return dt.timestamp() * 1e3


def grade(workload, res, ctx, cpus, trace, work):
    if workload == "consume_sql":
        e2e, attempted, failed, known, flagged, lines = _consume(res, ctx)
    elif workload == "stream_ingest":
        e2e, attempted, failed, known, flagged, lines = _stream(res, ctx)
    else:
        e2e, attempted, failed, known, flagged, lines = _curation(res, ctx, work)
    e2e["setup_s"] = stats.median(res["setup_s"])
    e2e["peak_rss_mb"] = res["peak_rss_mb"]
    error_rate = (failed + known) / attempted if attempted else 0.0
    lines = ["setup_s            %.3f s (median of %s)" % (
        e2e["setup_s"], ", ".join("%.2f" % s for s in res["setup_s"]))] + lines + [
        "peak_rss_mb        %.0f" % e2e["peak_rss_mb"],
        "error_rate         %.4f (%d failed + %d known/approximate of %d attempted)"
        % (error_rate, failed, known, attempted)]
    for k, v in sorted(flagged.items()):
        lines.append("  flagged %s: %s" % (k, v))
    out = {"end_to_end": {k: (e2e[k], u) for k, u in END_TO_END},
           "attempted": attempted, "failed": failed, "lines": lines,
           "report": {"error_rate": error_rate, "known_defect": known,
                      "flagged": flagged,
                      "end_to_end": {k: e2e[k] for k, _ in END_TO_END}}}
    if trace:
        pl = _per_layer(workload, res, ctx, cpus, e2e, error_rate, work)
        out["per_layer"] = {k: (pl[k], u) for k, u in PER_LAYER}
        for k, u in PER_LAYER:
            if pl[k]:
                lines.append("%-34s %.4g %s" % (k, pl[k], u))
    return out
