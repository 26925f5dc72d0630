"""Turns one run's raw measurements into metrics, checks its outputs and
assembles its spans.  The JVM side (perfbench/src) only records
timestamps and counts; every derived number is computed here."""
import hashlib
import itertools
from collections import defaultdict

import stats

NS = 1e9
MS = 1e6

# Status codes written by the JVM side (perfbench.Ingest).
NEW, DUP_IN_INCREMENT, DUP_OF_INDEX, DUP = 0, 1, 2, 3

# End-to-end metrics on the result line (BENCHMARK.json "end_to_end").
# The report also carries latency_tail_ms, which is too noisy to gate.
E2E_UNITS = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "throughput_per_s": "1/s",
}

# Per-layer metrics of a traced run (BENCHMARK.json "per_layer"). Query
# workloads report them per pass (median over passes), stream_dedup per
# timed window; a layer a workload does not run reports 0.
LAYER_UNITS = {
    "ops.construct_s": "s",
    "ops.construct_jobs": "count",
    "sql.analysis_s": "s",
    "sql.optimization_s": "s",
    "sql.planning_s": "s",
    "exec.driver_gap_s": "s",
    "exec.jobs": "count",
    "plan.file_scans": "count",
    "plan.shuffle_exchanges": "count",
    "plan.broadcast_exchanges": "count",
    "plan.reused_exchanges": "count",
    "plan.subqueries": "count",
    "tables.input_bytes": "bytes",
    "tables.input_records": "count",
    "tables.scan_time_s": "s",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.job_union_s": "s",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.deserialize_s": "s",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_write_s": "s",
    "exec.shuffle_read_bytes": "bytes",
    "exec.fetch_wait_s": "s",
    "exec.spill_bytes": "bytes",
    "exec.slot_util": "frac",
    "pipeline.supplier_calls": "count",
    "pipeline.empty_polls": "count",
    "pipeline.batches": "count",
    "pipeline.batch_events_mean": "count",
    "pipeline.dispatch_wait_ms_p50": "ms",
    "pipeline.dispatch_wait_ms_p99": "ms",
    "pipeline.process_ms_p50": "ms",
    "pipeline.finalize_lag_ms_p50": "ms",
    "pipeline.in_flight_max": "count",
    "pipeline.worker_busy_frac": "frac",
    "pipeline.stop_drain_ms": "ms",
    "sources.supplier_calls": "count",
    "sources.empty_polls": "count",
    "sources.pickup_lag_ms_p50": "ms",
    "streaming.triggers": "count",
    "streaming.trigger_ms_p50": "ms",
    "streaming.latest_offset_ms_p50": "ms",
    "streaming.query_planning_ms_p50": "ms",
    "streaming.add_batch_ms_p50": "ms",
    "streaming.wal_commit_ms_p50": "ms",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "bytes",
    "streaming.state_commit_ms_p50": "ms",
    "streaming.rows_per_trigger_mean": "count",
    "streaming.finalize_ms_p50": "ms",
    "gen.lag_ms_p99": "ms",
    "gen.backlog_end": "count",
    "trace.accounting_share_p50": "frac",
    "trace.event_chain_ok_frac": "frac",
}

# job metric (JVM name) -> (layer metric, scale to its unit)
JOB_LAYERS = {
    "stages": ("exec.stages", 1), "tasks": ("exec.tasks", 1),
    "run_ns": ("exec.run_s", 1 / NS), "cpu_ns": ("exec.cpu_s", 1 / NS),
    "gc_ns": ("exec.gc_s", 1 / NS), "deser_ns": ("exec.deserialize_s", 1 / NS),
    "shuffle_write_bytes": ("exec.shuffle_write_bytes", 1),
    "shuffle_write_ns": ("exec.shuffle_write_s", 1 / NS),
    "shuffle_read_bytes": ("exec.shuffle_read_bytes", 1),
    "fetch_wait_ns": ("exec.fetch_wait_s", 1 / NS),
    "spill_bytes": ("exec.spill_bytes", 1),
    "input_bytes": ("tables.input_bytes", 1),
    "input_records": ("tables.input_records", 1),
}
CENSUS_LAYERS = {
    "file_scans": ("plan.file_scans", 1), "shuffle_exchanges": ("plan.shuffle_exchanges", 1),
    "broadcast_exchanges": ("plan.broadcast_exchanges", 1),
    "reused_exchanges": ("plan.reused_exchanges", 1), "subqueries": ("plan.subqueries", 1),
    "scan_time_ns": ("tables.scan_time_s", 1 / NS),
}
PHASES = ("analysis", "optimization", "planning")


def evaluate(raw, digests):
    """{e2e, layers, report, spans, attempted, failed} for one raw run."""
    if "queries" in raw:
        res = _queries(raw, digests)
    else:
        res = _events(raw)
    e2e = res["report"]["end_to_end"]
    res["e2e"] = {k: (e2e[k][0], u) for k, u in E2E_UNITS.items()}
    layers = {k: 0.0 for k in LAYER_UNITS}
    layers.update(res.pop("layer_values", {}))
    res["layers"] = {k: (float(layers[k]), u) for k, u in LAYER_UNITS.items()}
    res["report"]["per_layer"] = res["layers"] if raw["trace"] else {}
    res["report"].update(workload=raw["workload"], seed=raw["seed"], trace=raw["trace"],
                         attempted=res["attempted"], failed=res["failed"])
    return res


def _setup(raw, report):
    setups = [x / NS for x in raw["setup_ns"]]
    launch_to_first = (raw["t0_epoch_ms"] + raw["first_op_ns"] / MS - raw["launched_epoch_ms"]) / 1e3
    report["setup_runs_s"] = setups
    return {"setup_s": (stats.median(setups), "s"),
            "launch_to_first_op_s": (launch_to_first, "s")}


def _tail_note(xs):
    p, v = stats.tail(xs)
    return p, v, f"p{p:g} of {len(xs)} samples" if p is not None else f"none of {len(xs)}"


# ----------------------------------------------------------------- queries

def _queries(raw, digests):
    samples = raw["queries"]
    ok = [q for q in samples if q["error"] is None]
    walls = [(q["end"] - q["start"]) / NS for q in ok]
    passes = [(e - s) / NS for s, e in raw["passes"]]
    report = {"errors": {q["name"]: q["error"] for q in samples if q["error"]}}
    mismatched = {n: d for n, d in raw["digests"].items() if digests.get(n) != d}
    report["digest_mismatches"] = mismatched
    attempted = len(samples) + len(raw["digests"])
    failed = len(samples) - len(ok) + len(mismatched)
    e2e = _setup(raw, report)
    p, tail, note = _tail_note(walls)
    e2e.update({
        "latency_p50_ms": (stats.median(walls) * 1e3, "ms"),
        "latency_tail_ms": (tail * 1e3, "ms"),
        "throughput_per_s": (len(ok) / sum(passes), "1/s"),
        "mix_s": (stats.median(passes), "s"),
        "query_p50_s": (stats.median(walls), "s"),
        "query_tail_s": (tail, "s"),
        "failed_frac": (failed / attempted, "frac"),
    })
    report.update(end_to_end=e2e, tail=note, passes_s=passes)
    res = {"report": report, "attempted": attempted, "failed": failed, "spans": []}
    if raw["trace"]:
        _query_layers(raw, res)
    return res


def _query_layers(raw, res):
    """Per-pass layer metrics, per-query accounting share and the span
    tree of a traced query run."""
    spans = [list(sp) for sp in raw["spans"]]
    new_id = itertools.count(max([sp[0] for sp in spans] + [0]) + 1)
    samples = [q for q in raw["queries"] if q["error"] is None]
    by_span = {q["span"]: q for q in samples}
    parts = defaultdict(list)  # query span -> its construct/execute spans
    owner = {}                 # construct/execute span -> (query, kind)
    for sid, parent, name, start, end in spans:
        if parent in by_span:
            parts[parent].append((sid, start, end))
            owner[sid] = (by_span[parent], name)
    per = defaultdict(lambda: defaultdict(float))  # query span -> metric -> value
    busy = defaultdict(list)   # query span -> job and planning-phase intervals
    jobs = defaultdict(list)   # query span -> job intervals
    unattributed = 0
    for j in raw["jobs"]:
        if j["span"] not in owner:
            unattributed += 1
            continue
        q, kind = owner[j["span"]]
        acc = per[q["span"]]
        acc["exec.jobs"] += 1
        acc["ops.construct_jobs"] += kind == "construct"
        for k, (layer, scale) in JOB_LAYERS.items():
            acc[layer] += j[k] * scale
        jobs[q["span"]].append((j["start"], j["end"]))
        busy[q["span"]].append((j["start"], j["end"]))
        spans.append([next(new_id), j["span"], "job", j["start"], j["end"]])
    # a query execution belongs to the query whose wall holds its first phase
    for qe in raw["qes"]:
        phases = [(n, iv) for n, iv in sorted(qe["phases"].items()) if n in PHASES]
        if not phases:
            continue
        first = min(iv[0] for _, iv in phases)
        q = next((x for x in samples if x["start"] <= first <= x["end"]), None)
        if q is None:
            continue
        acc = per[q["span"]]
        for n, (start, end) in phases:
            acc[f"sql.{n}_s"] += (end - start) / NS
            busy[q["span"]].append((start, end))
            parent = next((sid for sid, a, b in parts[q["span"]] if a <= start <= b), q["span"])
            spans.append([next(new_id), parent, n, start, end])
        for k, (layer, scale) in CENSUS_LAYERS.items():
            acc[layer] += qe["census"][k] * scale
    shares = defaultdict(list)
    by_pass = defaultdict(list)
    for q in samples:
        acc = per[q["span"]]
        construct = (q["start"], q["constructed"])
        execute = (q["constructed"], q["end"])
        acc["ops.construct_s"] += (construct[1] - construct[0]) / NS
        acc["exec.driver_gap_s"] += stats.driver_gap(execute, busy[q["span"]]) / NS
        acc["exec.job_union_s"] += stats.union_length(stats.clip(jobs[q["span"]], q["start"], q["end"])) / NS
        accounted = (stats.self_time(construct, busy[q["span"]]) / NS
                     + sum(acc[f"sql.{n}_s"] for n in PHASES)
                     + acc["exec.job_union_s"] + acc["exec.driver_gap_s"])
        shares[q["name"]].append(accounted / ((q["end"] - q["start"]) / NS))
        by_pass[q["pass"]].append(acc)
    names = {k for accs in by_pass.values() for acc in accs for k in acc}
    values = {k: stats.median([sum(acc.get(k, 0.0) for acc in accs) for accs in by_pass.values()])
              for k in names}
    union = values.get("exec.job_union_s", 0.0)
    values["exec.slot_util"] = values.get("exec.run_s", 0.0) / (union * raw["cores"]) if union else 0.0
    per_query = {name: stats.median(v) for name, v in shares.items()}
    values["trace.accounting_share_p50"] = stats.median(per_query.values())
    res["layer_values"] = values
    res["report"].update(accounting=per_query, unattributed_jobs=unattributed,
                         self_s=_self_times(spans, by_span))
    res["spans"] = spans


def _self_times(spans, query_spans=()):
    """Total self time (s) per span kind; query spans count as 'query'."""
    children = defaultdict(list)
    for s in spans:
        children[s[1]].append((s[3], s[4]))
    out = defaultdict(float)
    for sid, _, name, start, end in spans:
        kind = "query" if sid in query_spans else name
        out[kind] += stats.self_time((start, end), children[sid]) / NS
    return dict(out)


# ------------------------------------------------------------------ events

def _events(raw):
    due, fin, status, batch = raw["due"], raw["fin"], raw["status"], raw["batch"]
    texts = [raw["texts"][k] for k in raw["text_of"]]
    n = len(due)
    ws, we = raw["window"]
    window = [i for i in range(n) if ws <= due[i] < we]
    lost = sum(1 for f in fin if f < 0)
    digest_bad = 0
    if "digest" in raw:
        digest_bad = sum(1 for i in range(n) if fin[i] >= 0 and
                         raw["digest"][i] != hashlib.md5(texts[i].encode()).hexdigest())
    misclassified = _misclassified(texts, fin, status, batch, streamed="digest" not in raw)
    failed = lost + int(raw["duplicates"]) + digest_bad + misclassified + int(raw["burst_failed"])
    attempted = n + int(raw["burst_attempted"])
    report = {"lost": lost, "duplicated": int(raw["duplicates"]), "digest_mismatches": digest_bad,
              "misclassified": misclassified, "burst_lost_or_duplicated": int(raw["burst_failed"])}
    lat = [(fin[i] - due[i]) / MS for i in window if fin[i] >= 0]
    done = sum(1 for i in range(n) if ws <= fin[i] < we)
    # capacity: a queued burst drained as fast as the path goes
    capacity = [raw["burst_events"] / (b / NS) for b in raw["burst_ns"]]
    report.update(burst_rates_per_s=capacity, offered_per_s=raw["rate"],
                  headroom=stats.median(capacity) / raw["rate"])
    e2e = _setup(raw, report)
    p, tail, note = _tail_note(lat)
    e2e.update({
        "latency_p50_ms": (stats.median(lat), "ms"),
        "latency_tail_ms": (tail, "ms"),
        "throughput_per_s": (stats.median(capacity), "1/s"),
        "events_per_s": (done / ((we - ws) / NS), "1/s"),
        "event_latency_p50_ms": (stats.median(lat), "ms"),
        "event_latency_tail_ms": (tail, "ms"),
        "failed_frac": (failed / attempted, "frac"),
    })
    report.update(end_to_end=e2e, tail=note)
    res = {"report": report, "attempted": attempted, "failed": failed, "spans": []}
    if raw["trace"]:
        _event_layers(raw, window, res)
    return res


def _misclassified(texts, fin, status, batch, streamed):
    """Events whose status disagrees with exact dedup. The facade marks
    the first carrier of each distinct text NEW and the rest DUP; the
    stream marks, within the first micro-batch holding a text, its
    smallest id NEW and the others DUP_IN_INCREMENT, and every later
    carrier DUP_OF_INDEX."""
    groups = defaultdict(list)
    for i, t in enumerate(texts):
        if fin[i] >= 0:
            groups[t].append(i)
    bad = 0
    for ids in groups.values():
        if not streamed:
            news = sum(1 for i in ids if status[i] == NEW)
            bad += abs(news - 1) + sum(1 for i in ids if status[i] not in (NEW, DUP))
            continue
        first = min(batch[i] for i in ids)
        head = min(i for i in ids if batch[i] == first)
        for i in ids:
            want = NEW if i == head else DUP_IN_INCREMENT if batch[i] == first else DUP_OF_INDEX
            bad += status[i] != want
    return bad


def _event_layers(raw, window, res):
    due, fin = raw["due"], raw["fin"]
    pickup, ps, pe, enq = raw["pickup"], raw["proc_start"], raw["proc_end"], raw["enq"]
    ws, we = raw["window"]
    values = {
        "gen.lag_ms_p99": stats.percentile([(enq[i] - due[i]) / MS for i in window], 99),
        "gen.backlog_end": raw["backlog_end"],
    }
    # each event's chain due -> pickup -> dispatch -> process -> finalize
    # must be ordered, so its segments sum to the event's latency
    segments = ("queue", "dispatch", "process", "finalize")
    chains = [[due[i], pickup[i], ps[i], pe[i], fin[i]] for i in window]
    chain_ok = 0
    spans = []
    for c in chains:
        chain_ok += all(a <= b for a, b in zip(c, c[1:]))
        root = len(spans) + 1
        spans.append([root, -1, "event", c[0], c[-1]])
        for name, a, b in zip(segments, c, c[1:]):
            spans.append([len(spans) + 1, root, name, a, b])
    values["trace.event_chain_ok_frac"] = chain_ok / len(chains)
    res["report"]["event_chain_ms_p50"] = {
        name: stats.median([(c[k + 1] - c[k]) / MS for c in chains]) for k, name in enumerate(segments)}
    if "batches" in raw:
        values.update(_facade_layers(raw))
    else:
        values.update(_stream_layers(raw, window, spans))
    res["layer_values"] = values
    res["report"]["self_s"] = _self_times(spans)
    res["spans"] = spans


def _facade_layers(raw):
    ws, we = raw["window"]
    rows = [b for b in raw["batches"] if ws <= b[1] < we]
    size = [b[0] for b in rows]
    return {
        "pipeline.supplier_calls": raw["supplier_calls"],
        "pipeline.empty_polls": raw["empty_polls"],
        "pipeline.batches": len(rows),
        "pipeline.batch_events_mean": sum(size) / len(size),
        "pipeline.dispatch_wait_ms_p50": stats.median([(b[2] - b[1]) / MS for b in rows]),
        "pipeline.dispatch_wait_ms_p99": stats.percentile([(b[2] - b[1]) / MS for b in rows], 99),
        "pipeline.process_ms_p50": stats.median([(b[3] - b[2]) / MS for b in rows]),
        "pipeline.finalize_lag_ms_p50": stats.median([(b[4] - b[3]) / MS for b in rows]),
        "pipeline.in_flight_max": raw["in_flight_max"],
        "pipeline.worker_busy_frac": sum(b[5] - b[2] for b in rows) / ((we - ws) * 4),
        "pipeline.stop_drain_ms": raw["stop_call_ns"] / MS,
    }


def _stream_layers(raw, window, spans):
    ws, we = raw["window"]
    due, pickup = raw["due"], raw["pickup"]
    trig = sorted((t for t in raw["triggers"] if ws <= t["start"] < we and t["rows"] > 0),
                  key=lambda t: t["batch"])

    def p50(key):
        xs = [t["durations_ms"].get(key, 0) for t in trig]
        return stats.median(xs) if xs else 0.0

    values = {
        "sources.supplier_calls": raw["supplier_calls"],
        "sources.empty_polls": raw["empty_polls"],
        "sources.pickup_lag_ms_p50": stats.median([(pickup[i] - due[i]) / MS for i in window]),
        "streaming.triggers": len(trig),
        "streaming.trigger_ms_p50": stats.median([t["duration_ms"] for t in trig]) if trig else 0.0,
        "streaming.latest_offset_ms_p50": p50("latestOffset"),
        "streaming.query_planning_ms_p50": p50("queryPlanning"),
        "streaming.add_batch_ms_p50": p50("addBatch"),
        "streaming.wal_commit_ms_p50": p50("walCommit"),
        "streaming.state_rows": trig[-1]["state_rows"] if trig else 0,
        "streaming.state_memory_bytes": trig[-1]["state_memory_bytes"] if trig else 0,
        "streaming.state_commit_ms_p50":
            stats.median([t["state_commit_ms"] for t in trig]) if trig else 0.0,
        "streaming.rows_per_trigger_mean": sum(t["rows"] for t in trig) / len(trig) if trig else 0.0,
        "streaming.finalize_ms_p50": stats.median(raw["finalize_ns"]) / MS,
    }
    # jobs of the window's triggers, attributed by their streaming.sql.batchId
    in_window = {t["batch"] for t in trig}
    sid = max([s[0] for s in spans] + [0])
    trigger_span = {}
    for t in trig:
        sid += 1
        trigger_span[t["batch"]] = sid
        spans.append([sid, -1, "trigger", t["start"], t["start"] + t["duration_ms"] * MS])
    job_iv = []
    for j in raw["jobs"]:
        if j["batch"] not in in_window:
            continue
        values["exec.jobs"] = values.get("exec.jobs", 0) + 1
        for k, (layer, scale) in JOB_LAYERS.items():
            values[layer] = values.get(layer, 0) + j[k] * scale
        job_iv.append((j["start"], j["end"]))
        sid += 1
        spans.append([sid, trigger_span[j["batch"]], "job", j["start"], j["end"]])
    union = stats.union_length(job_iv) / NS
    values["exec.job_union_s"] = union
    values["exec.slot_util"] = values.get("exec.run_s", 0) / (union * raw["cores"]) if union else 0.0
    for qe in raw["qes"]:
        for n, (s, e) in qe["phases"].items():
            if n in PHASES and ws <= s < we:
                values[f"sql.{n}_s"] = values.get(f"sql.{n}_s", 0) + (e - s) / NS
        # census of the window's micro-batch executions
        if any(n in PHASES and ws <= s < we for n, (s, _) in qe["phases"].items()):
            for k, (layer, scale) in CENSUS_LAYERS.items():
                values[layer] = values.get(layer, 0) + qe["census"][k] * scale
    return values


def report_lines(res):
    """Human-readable lines: every end-to-end metric by name and unit."""
    r = res["report"]
    lines = [f"{r['workload']} seed={r['seed']} trace={r['trace']} "
             f"attempted={res['attempted']} failed={res['failed']} tail={r['tail']}"]
    for name, (v, unit) in r["end_to_end"].items():
        lines.append(f"  {name:<24} {v:.6g} {unit}")
    if "headroom" in r:
        lines.append(f"  offered {r['offered_per_s']:g}/s; capacity is {r['headroom']:.1f}x that")
    for k in ("errors", "digest_mismatches"):
        if r.get(k):
            lines.append(f"  {k}: {r[k]}")
    return lines
