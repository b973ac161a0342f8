"""Turn a run's raw records into the benchmark's metrics.

The harness writes latencies, listener data and spans; this module
derives the end-to-end metrics (untraced runs) and the per-layer
metrics (traced runs) from them. Times in the records are epoch
milliseconds.
"""

import stats

SEARCH_ARMS = ["bm25", "chunk", "ivf", "pq", "hybrid", "phrase"]
INDEX_KINDS = ["postings", "ivf", "pq"]
# the generator is behind when its p95 lateness exceeds this
LATE_BOUND_MS = 50.0
# the reported tail leaves this many samples beyond it
TAIL_BEYOND = 10


def _requests(doc):
    """(route, due, dispatched, start, end, status, ok) rows."""
    return doc.get("requests", [])


def _event_latencies(doc):
    """Due-time latency of each trickle message: due -> commit of the
    first trigger whose last offset covers the message's offset."""
    commits = sorted((p["end_offset"], p["commit"]) for p in doc["progress"])
    out = []
    for due, _added, off in doc["events"]:
        done = next((c for eo, c in commits if eo >= off), None)
        if done is None:
            raise ValueError("message at offset %d never committed" % off)
        out.append(stats.due_latency(due, done))
    return out


def latencies(doc):
    if doc["stamp"]["workload"] == "cdc_saga":
        return _event_latencies(doc)
    return [stats.due_latency(r[1], r[4]) for r in _requests(doc)]


def lateness(doc):
    if doc["stamp"]["workload"] == "cdc_saga":
        return [added - due for due, added, _off in doc["events"]]
    return [r[2] - r[1] for r in _requests(doc)]


def attempted_failed(doc):
    """Operations attempted, and failed operations plus failed checks."""
    if doc["stamp"]["workload"] == "cdc_saga":
        ops = len(doc.get("events", [])) + doc.get("bulk", {}).get("ops", 0)
        bad = 0
    else:
        rows = (_requests(doc) + doc.get("burst", []) + doc.get("untraced", [])
                + doc.get("traced", []))
        ops, bad = len(rows), sum(1 for r in rows if not r[6])
    bad += sum(1 for c in doc.get("checks", []) if not c["ok"])
    return max(ops, 1), bad


def problems(doc):
    """Reasons the run is not valid: failed checks, a harness error, or
    a generator that fell behind its schedule."""
    out = ["check %s: %s" % (c["name"], c["detail"])
           for c in doc.get("checks", []) if not c["ok"]]
    if "error" in doc:
        out.append("harness error: %s" % doc["error"])
    late = lateness(doc) if "error" not in doc else []
    if late and stats.percentile(late, 0.95) > LATE_BOUND_MS:
        out.append("generator fell behind: p95 lateness %.1f ms > %.0f ms"
                   % (stats.percentile(late, 0.95), LATE_BOUND_MS))
    return out


def end_to_end(doc):
    lat = latencies(doc)
    tail, q = stats.tail(lat, TAIL_BEYOND)
    bulk = doc["bulk"]
    return {
        "setup_s": doc["setup_s"],
        "latency_p50_ms": stats.percentile(lat, 0.5),
        "latency_tail_ms": tail,
        "throughput_per_s": bulk["ops"] / bulk["seconds"],
    }, {"samples": len(lat), "tail_percentile": round(100 * q, 1)}


# ---------------------------------------------------------------- traced

def _spans(doc):
    t = doc["trace"]
    spans = [{"id": s[0], "parent": s[1], "name": s[2], "start": s[3],
              "end": s[4], "req": s[5]} for s in t["spans"]]
    # triggers of the async phases are timed by Spark's own progress
    # reports; add them as root spans. Only triggers that started while
    # the listener was attached, and that no harness span already
    # times, have their jobs and tasks in the trace.
    timed = [(s["start"], s["end"]) for s in spans if s["name"] == "streaming.trigger"]
    nid = max([s["id"] for s in spans] + [0]) + 1
    for p in doc.get("progress", []):
        traced = any(lo <= p["start"] <= hi for lo, hi in t.get("windows", []))
        if traced and not any(lo < p["commit"] and p["start"] < hi for lo, hi in timed):
            spans.append({"id": nid, "parent": 0, "name": "streaming.trigger",
                          "start": p["start"], "end": p["commit"], "req": nid})
            nid += 1
    return spans


def _tasks(doc):
    """(launch, finish, run_ms, cpu_ms, gc_ms, in_b, shr_b, shw_b, spill_b, stage)."""
    return doc["trace"]["tasks"]


def _roots(spans):
    roots = [s for s in spans if s["parent"] == 0]
    # traced wall time is the union of the root windows
    merged = stats.union([(s["start"], s["end"]) for s in roots])
    return roots, merged


def job_spans(doc, spans):
    """Spark jobs as child spans of the root whose window holds their
    start, named after the program module they were launched from."""
    roots, _ = _roots(spans)
    jobs = doc["trace"]["jobs"]
    owner = stats.attach([(r["id"], r["start"], r["end"]) for r in roots],
                         [j["start"] for j in jobs])
    nid = max([s["id"] for s in spans] + [0]) + 1
    out = []
    for j, o in zip(jobs, owner):
        if o is not None:
            out.append({"id": nid, "parent": o, "name": "spark.job[%s]" % j["module"],
                        "start": j["start"], "end": j["end"], "req": o})
            nid += 1
    return out


def layer_table(doc):
    """Self time per span name, over every span of the traced run."""
    spans = _spans(doc)
    spans = spans + job_spans(doc, spans)
    selfs = stats.self_times(spans)
    rows = {}
    for s in spans:
        r = rows.setdefault(s["name"], [0, 0.0, 0.0])
        r[0] += 1
        r[1] += s["end"] - s["start"]
        r[2] += selfs[s["id"]]
    return rows


def per_layer(doc, cores):
    spans = _spans(doc)
    jobs = doc["trace"]["jobs"]
    tasks = _tasks(doc)
    task_iv = [(t[0], t[1]) for t in tasks]
    m = {}

    # api: per route, from the one-at-a-time traced requests
    for route in ["search_" + a for a in SEARCH_ARMS]:
        mine = [s for s in spans if s["name"] == "api." + route]
        job_starts = [j["start"] for j in jobs]
        if mine:
            ms = [s["end"] - s["start"] for s in mine]
            n_jobs = [sum(1 for t in job_starts if s["start"] <= t <= s["end"]) for s in mine]
            no_task = [stats.uncovered(s["start"], s["end"], task_iv) for s in mine]
            m["api.%s.ms" % route] = stats.median(ms)
            m["api.%s.jobs" % route] = sum(n_jobs) / float(len(mine))
            m["api.%s.no_task_ms" % route] = stats.median(no_task)
        else:
            for k in ("ms", "jobs", "no_task_ms"):
                m["api.%s.%s" % (route, k)] = 0.0

    # tables: store-root scans around each write or trigger
    writes = doc.get("writes", [])
    if writes:
        m["tables.versions_per_write"] = sum(w["versions"] for w in writes) / float(len(writes))
        m["tables.write_mb_per_write"] = (sum(w["written_bytes"] for w in writes)
                                          / 1e6 / len(writes))
        changed = sum(w["changed_bytes"] for w in writes)
        m["tables.write_amp"] = (sum(w["written_bytes"] for w in writes) / changed
                                 if changed else 0.0)
    else:
        m.update({"tables.versions_per_write": 0.0, "tables.write_mb_per_write": 0.0,
                  "tables.write_amp": 0.0})
    m["tables.load_ms"] = stats.median(doc["load_ms"]) if doc.get("load_ms") else 0.0
    m["tables.segments_live"] = float(doc.get("segments_live", 0))

    # streaming: StreamingQueryProgress of the trickle triggers
    ev = doc.get("events") or [[0, 0, -1]]
    prog = [p for p in doc.get("progress", [])
            if ev[0][2] <= p["end_offset"] <= ev[-1][2]]
    def dur(key):
        return stats.median([p["durations"].get(key, 0.0) for p in prog]) if prog else 0.0
    m["streaming.trigger_ms"] = dur("triggerExecution")
    m["streaming.add_batch_ms"] = dur("addBatch")
    m["streaming.plan_ms"] = dur("queryPlanning")
    m["streaming.wal_ms"] = dur("walCommit")
    m["streaming.rows_per_trigger"] = stats.median([p["rows"] for p in prog]) if prog else 0.0
    m["streaming.backlog_max"] = float(max([p["rows"] for p in prog] or [0]))
    bf = doc.get("bulk") if doc["stamp"]["workload"] == "cdc_saga" else None
    m["streaming.backfill_msgs_per_s"] = bf["ops"] / bf["seconds"] if bf else 0.0

    # operators: direct builder and action calls, and cold index builds
    queries = [s for s in spans if s["name"].startswith("query.")]
    m["operators.build_s"] = sum(s["end"] - s["start"] for s in spans
                                 if s["name"] == "operators.build") / 1e3
    m["operators.exec_s"] = sum(s["end"] - s["start"] for s in spans
                                if s["name"] == "operators.exec") / 1e3
    m["operators.jobs_per_query"] = (
        sum(1 for j in jobs for q in queries if q["start"] <= j["start"] <= q["end"])
        / float(len(queries)) if queries else 0.0)
    builds = doc.get("index_build_s", {})
    for k in INDEX_KINDS:
        m["operators.index_build_s." + k] = float(builds.get(k, 0.0))

    # spark: everything the listener saw while tracing
    _, windows = _roots(spans)
    wall_ms = sum(e - s for s, e in windows)
    m["spark.jobs"] = float(len(jobs))
    m["spark.stages"] = float(len(doc["trace"]["stages"]))
    m["spark.tasks"] = float(len(tasks))
    m["spark.task_run_s"] = sum(t[2] for t in tasks) / 1e3
    m["spark.task_cpu_s"] = sum(t[3] for t in tasks) / 1e3
    m["spark.gc_s"] = sum(t[4] for t in tasks) / 1e3
    m["spark.no_task_s"] = sum(stats.uncovered(s, e, task_iv) for s, e in windows) / 1e3
    m["spark.exec_util"] = (sum(t[2] for t in tasks) / (wall_ms * cores)) if wall_ms else 0.0
    m["spark.plan_ms"] = sum(p[1] for p in doc["trace"]["plans"])
    m["spark.input_mb"] = sum(t[5] for t in tasks) / 1e6
    m["spark.shuffle_read_mb"] = sum(t[6] for t in tasks) / 1e6
    m["spark.shuffle_write_mb"] = sum(t[7] for t in tasks) / 1e6
    m["spark.spill_mb"] = sum(t[8] for t in tasks) / 1e6
    by_stage = {}
    for t in tasks:
        by_stage.setdefault(t[9], []).append(t[1] - t[0])
    ratios = [max(d) / stats.median(d) for d in by_stage.values()
              if len(d) > 1 and stats.median(d) > 0]
    m["spark.skew"] = stats.median(ratios) if ratios else 1.0

    # gen: open-loop lateness
    late = lateness(doc)
    m["gen.late_p95_ms"] = stats.percentile(late, 0.95) if late else 0.0
    m["gen.late_max_ms"] = max(late) if late else 0.0

    m["trace.overhead_pct"] = overhead_pct(doc)
    return m


def overhead_pct(doc):
    """Traced against untraced: the same kind of work run both ways in
    the traced run (requests one at a time, or small triggers)."""
    if "untraced_ms" in doc:
        base = sum(doc["untraced_ms"])
        traced = sum(w["ms"] for w in doc["writes"])
        return 100.0 * (traced / base - 1.0)
    by = {}
    for key in ("untraced", "traced"):
        for r in doc.get(key, []):
            by.setdefault(r[0], {}).setdefault(key, []).append(r[4] - r[3])
    base = traced = 0.0
    for d in by.values():
        if "untraced" in d and "traced" in d:
            n = len(d["traced"])
            base += n * stats.median(d["untraced"])
            traced += n * stats.median(d["traced"])
    return 100.0 * (traced / base - 1.0) if base else 0.0
