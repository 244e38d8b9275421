"""Turns the harness's raw observations into the benchmark's metrics.

End-to-end metrics (BENCHMARK.json `end_to_end`) are the same three names on
every workload, each read from the workload's own operations:

  metric            tier_sync               catalog
  throughput_per_s  turns / backfill median queries / timed pass median
  op_p50_s          refresh round median    query median
  setup_s           median of the run's repeated set-ups

The tails (refresh_tail_s, query_tail_s: the highest percentile with ten
samples beyond it) are report lines, printed with their percentile and
sample count. A run collects fewer than 22 refresh rounds or queries, and
below that the tail is the median, so it is no end-to-end metric.

The driver JVM's peak RSS (VmHWM) is a report line and the per-layer metric
jvm.peak_rss_mb: it moves with the JVM's heap sizing by a sixth from run to
run, too much for an end-to-end bound.

The workload-specific names of the issue that defined the benchmark
(refresh_p50_s, query_p50_s, ...) are printed as report lines.
"""

from stats import attribute, median, self_times, subtree, tail, union_length

LAYER_SPANS = (
    "tierstore.backfill", "icetable.append",
    "tierstore.refresh", "catalog.tiers", "catalog.gapfill", "catalog.sleep",
    "catalog.text_dedup", "catalog.ann",
)
SPAN_METRICS = (
    ("wall_s", "s"), ("jobs", "count"), ("driver_gap_s", "s"), ("exec_cpu_s", "s"),
    ("gc_s", "s"), ("shuffle_bytes", "B"), ("spill_bytes", "B"), ("input_bytes", "B"),
)
EXTRA_METRICS = (
    ("tierstore.backfill.output_bytes", "B"),
    ("tierstore.refresh.output_bytes", "B"),
    ("tierstore.t1m_marker_s", "s"),
    ("tierstore.t1h_marker_s", "s"),
    ("tierstore.t1d_marker_s", "s"),
    ("tierstore.rebuild_ratio", "ratio"),
    ("tierstore.refresh_scan_fraction", "ratio"),
    ("tierstore.store_bytes_per_turn", "B"),
    ("icetable.live_files", "count"),
    ("icetable.live_files_s", "s"),
    ("catalog.jobs_per_query", "count"),
    ("op.self_s", "s"),
    ("jvm.peak_rss_mb", "MB"),
    ("trace_overhead", "ratio"),
)


def _div(a, b):
    return a / b if b else 0.0


def _line(name, value, unit, note=""):
    return f"{name:34s} {value:>14.6g} {unit:8s} {note}".rstrip()


def check_catalog(raw, reference):
    """Compare each query's (rows, hash) with the reference; returns the
    number of mismatching queries and messages. Queries the reference marks
    unstable have only their row count compared."""
    got = {k[len("check."):]: v for k, v in raw["values"].items() if k.startswith("check.")}
    unstable = reference.get("unstable", {})
    bad, msgs = 0, []
    for name in sorted(raw["values"].get("queries", [])):
        if name not in got:
            continue  # the query threw; already counted as failed
        if name not in reference["queries"]:
            bad += 1
            msgs.append(f"check catalog {name}: no reference")
            continue
        rows, digest = reference["queries"][name]
        g_rows, g_digest = got[name]
        if g_rows != rows or (name not in unstable and g_digest != digest):
            bad += 1
            msgs.append(f"check catalog {name}: rows {g_rows} hash {g_digest}, want {rows} {digest}")
    return bad, msgs


def end_to_end(workload, raw):
    """(metrics dict, report lines) of an untraced run."""
    s, v = raw["samples"], raw["values"]
    lines = []
    turns = v.get("turns", 0)
    if workload == "tier_sync":
        backs = s.get("backfill_s", [])
        thr = median(s.get("backfill_turns_per_s", []))
        ops, label = s.get("round_s", []), "refresh"
        t, p, n = tail(ops)
        lines += [
            _line("warmup_s", v.get("warmup_s", float("nan")), "s", "untimed warm-up backfill and round"),
            _line("backfill_s", median(backs), "s",
                  f"median of {len(backs)}; {v.get('days', 0)} days, {turns}+ turns"),
            _line("refresh_p50_s", median(ops), "s", f"n={len(ops)}"),
            _line("refresh_tail_s", t, "s", f"p{p:.0f}, n={n}"),
            _line("store_bytes_per_turn", _div(v.get("store_bytes", 0), turns), "B/turn"),
        ]
    else:
        passes, ops, label = s.get("catalog_pass_s", []), s.get("query_s", []), "query"
        thr = _div(len(v.get("queries", [])), median(passes))
        t, p, n = tail(ops)
        lines += [
            _line("query_p50_s", median(ops), "s", f"n={len(ops)}"),
            _line("query_tail_s", t, "s", f"p{p:.0f}, n={n}"),
            _line("catalog_wall_s", median(passes), "s", f"median of {len(passes)} timed passes"),
            _line("check_pass_s", sum(s.get("check_query_s", [])), "s", "untimed check pass"),
        ]
    m = {
        "throughput_per_s": (thr, "1/s"),
        "op_p50_s": (median(ops), "s"),
        "setup_s": (median(s.get("setup_s", [])), "s"),
    }
    lines += [
        _line("setup_s", m["setup_s"][0], "s", f"median of {len(s.get('setup_s', []))} set-ups"),
        _line("peak_rss_mb", v.get("peak_rss_kb", 0) / 1024.0, "MB"),
        _line(f"op_p50_s ({label})", m["op_p50_s"][0], "s", f"n={len(ops)}"),
        _line("throughput_per_s", thr, "1/s"),
    ]
    return {k: {"value": x, "unit": u} for k, (x, u) in m.items()}, lines


def per_layer(workload, raw):
    """(metrics dict, report lines) of a traced run. Span metrics are means
    per traced call; a layer the workload does not reach reads 0."""
    v, s = raw["values"], raw["samples"]
    spans = [dict(zip(("id", "parent", "name", "start", "end"), x)) for x in raw["spans"]]
    jobs = [dict(zip(("id", "start", "end", "cpu_ns", "gc_ms", "shuffle", "spill", "input",
                      "output"), x)) for x in raw["jobs"]]
    owner = attribute(jobs, spans)
    by_span = {}
    for j in jobs:
        if j["id"] in owner:
            by_span.setdefault(owner[j["id"]], []).append(j)
    trees = subtree(spans)
    selfs = self_times(spans)

    def span_totals(name):
        inst = [x for x in spans if x["name"] == name]
        tot = dict.fromkeys(("wall", "jobs", "gap", "cpu", "gc", "shuffle", "spill", "input", "output"), 0.0)
        for x in inst:
            js = [j for i in trees[x["id"]] for j in by_span.get(i, [])]
            wall = (x["end"] - x["start"]) / 1000.0
            tot["wall"] += wall
            tot["jobs"] += len(js)
            tot["gap"] += wall - union_length(
                [(j["start"], j["end"]) for j in js if j["end"] >= 0], x["start"], x["end"]) / 1000.0
            tot["cpu"] += sum(j["cpu_ns"] for j in js) / 1e9
            tot["gc"] += sum(j["gc_ms"] for j in js) / 1000.0
            for k in ("shuffle", "spill", "input", "output"):
                tot[k] += sum(j[k] for j in js)
        return len(inst), tot

    m = {}
    totals = {}
    for name in LAYER_SPANS:
        n, tot = span_totals(name)
        totals[name] = (n, tot)
        for (metric, unit), key in zip(SPAN_METRICS, ("wall", "jobs", "gap", "cpu", "gc", "shuffle",
                                                       "spill", "input")):
            m[f"{name}.{metric}"] = (_div(tot[key], n), unit)

    turns = v.get("turns", 0)
    n_back, back = totals["tierstore.backfill"]
    n_ref, ref = totals["tierstore.refresh"]
    catalog = [totals[x] for x in LAYER_SPANS if x.startswith("catalog.")]
    rebuilt = s.get("rebuilt_days", [])
    roots = [x for x in spans if x["parent"] == 0 and any(c["parent"] == x["id"] for c in spans)]
    pairs = raw.get("pairs", [])
    extra = {
        "tierstore.backfill.output_bytes": _div(back["output"], n_back),
        "tierstore.refresh.output_bytes": _div(ref["output"], n_ref),
        "tierstore.t1m_marker_s": v.get("t1m_marker_s", 0.0),
        "tierstore.t1h_marker_s": v.get("t1h_marker_s", 0.0),
        "tierstore.t1d_marker_s": v.get("t1d_marker_s", 0.0),
        "tierstore.rebuild_ratio": _div(sum(rebuilt), 3 * len(rebuilt)),
        "tierstore.refresh_scan_fraction": _div(ref["input"], sum(s.get("traced_source_bytes", []))),
        "tierstore.store_bytes_per_turn": _div(v.get("store_bytes", 0), turns)
        if workload == "tier_sync" else 0.0,
        "icetable.live_files": median(s["live_files"]) if s.get("live_files") else 0.0,
        "icetable.live_files_s": median(s["live_files_s"]) if s.get("live_files_s") else 0.0,
        "catalog.jobs_per_query": _div(sum(t["jobs"] for _, t in catalog), sum(n for n, _ in catalog)),
        "op.self_s": _div(sum(selfs[x["id"]] for x in roots) / 1000.0, len(roots)),
        "jvm.peak_rss_mb": v.get("peak_rss_kb", 0) / 1024.0,
        "trace_overhead": _div(sum(p[0] for p in pairs), sum(p[1] for p in pairs)),
    }
    units = dict(EXTRA_METRICS)
    m.update({k: (x, units[k]) for k, x in extra.items()})
    lines = [_line(k, x, u) for k, (x, u) in m.items() if x]
    lines.append(f"trace_overhead pairs: {len(pairs)}; traced spans: {len(spans)}; jobs: {len(jobs)} "
                 f"({len(owner)} attributed)")
    return {k: {"value": x, "unit": u} for k, (x, u) in m.items()}, lines


def summarize(workload, raw, trace, cores, reference):
    attempted, failed = raw["attempted"], raw["failed"]
    lines = [f"perfbench {workload}: local[{cores}], one client, closed loop"]
    errors = list(raw["errors"])
    if raw["values"].get("fatal"):
        errors.append("fatal: " + raw["values"]["fatal"])
    if workload == "catalog" and reference is not None:
        bad, msgs = check_catalog(raw, reference)
        failed += bad
        errors += msgs
    m, more = per_layer(workload, raw) if trace else end_to_end(workload, raw)
    lines += more
    lines.append(_line("failed_ratio", _div(failed, attempted), "ratio", f"{failed}/{attempted}"))
    lines += [f"error: {e}" for e in errors]
    correct = failed == 0 and not raw["values"].get("fatal") and (
        workload != "catalog" or reference is not None)
    return {"lines": lines, "correct": correct, "attempted": attempted, "failed": failed, "metrics": m}
