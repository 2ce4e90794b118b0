"""Turns the harness's raw result into the benchmark's metrics: the
end-to-end ones a user of the engine sees, and the per-layer ones of a
traced run."""
import stats

MB = 1048576.0
# the layers spans are tagged with (the harness's Recorder.span calls)
LAYERS = ("driver", "cdc", "streaming", "pipeline", "functions")


def _ok(ops):
    return [o for o in ops if o["ok"]]


def _walls(ops):
    return [o["wall_s"] for o in _ok(ops)]


def units_and_latencies(workload, r, props):
    """Throughput (units per second) and latency samples (ms) of one
    measured phase."""
    ops, extra = r["ops"], r["extra"]
    walls = _walls(ops)
    if workload == "stream":
        drains = extra.get("drain_s")
        rate = extra["burst"] / stats.median(drains) if drains else None
        return rate, list(extra.get("latency_ms", []))
    if not walls:
        return None, []
    rate = props["rows"] / stats.median(walls)
    return rate, [w * 1000.0 for w in walls]


def end_to_end(workload, r, gen_times, props):
    setup = [g + s["session_s"] + s["warm_s"] for g, s in zip(gen_times, r["setup"])]
    rate, lat = units_and_latencies(workload, r, props)
    m = {"setup_s": (stats.median(setup), "s"),
         "throughput_per_s": (rate, "1/s"),
         "heap_peak_mb": (r["heap_peak_mb"], "MB")}
    if lat:
        m["latency_p50_ms"] = (stats.median(lat), "ms")
    return m


def _per(x, n):
    return x / n if n else 0.0


def per_layer(workload, r, props):
    L = r["layers"]
    n = L["operations"]
    calls = r["entry_calls"]
    m = {
        "driver.jobs": (_per(L["jobs"], n), "count"),
        "driver.stages": (_per(L["stages"], n), "count"),
        "driver.tasks": (_per(L["tasks"], n), "count"),
        "driver.build_s": (_per(sum(c["build_s"] for c in calls), len(calls)), "s"),
        "driver.exec_s": (_per(sum(c["exec_s"] for c in calls), len(calls)), "s"),
        "driver.idle_share": (1.0 - L["task_s"] / (L["phase_s"] * r["cores"]), "share"),
        "driver.core_scaling": (r["probe_scaling"]["core_scaling"], "x"),
        "stage.task_s": (_per(L["task_s"], n), "s"),
        "stage.cpu_s": (_per(L["cpu_s"], n), "s"),
        "stage.shuffle_mb": (_per(L["shuffle_bytes"] / MB, n), "MB"),
        "stage.spill_mb": (_per(L["spill_bytes"] / MB, n), "MB"),
        "stage.skew": (L["skew"], "x"),
    }
    for k in ("exchanges", "sort_merge_joins", "bnl_joins", "from_json"):
        m[f"plan.{k}"] = (_per(L["plan"][k], n), "count")
    c = r["probe_cdc"]
    m.update({"cdc.replicate_full_s": (c["replicate_full_s"], "s"),
              "cdc.collection_apply_s": (c["collection_apply_s"], "s"),
              "cdc.rows_out": (c["rows_out"], "count"),
              "cdc.write_mb": (c["write_bytes"] / MB, "MB")})
    s = r["probe_stream"]
    for q in ("consumer", "twin"):
        st = s[q]
        with_rows = [x for x in st["rows"] if x > 0]
        m.update({
            f"streaming.{q}.batch_ms": (stats.median(st["batch_ms"]), "ms"),
            f"streaming.{q}.add_batch_ms": (stats.median(st["add_batch_ms"]), "ms"),
            f"streaming.{q}.wal_commit_ms": (stats.median(st["wal_commit_ms"]), "ms"),
            f"streaming.{q}.jobs_per_batch": (_per(r["stream_jobs"][q], st["batches"]), "count"),
            f"streaming.{q}.rows_per_batch": (_per(sum(with_rows), len(with_rows)), "count"),
            f"streaming.{q}.state_rows": (st["state_rows"], "count"),
            f"streaming.{q}.state_mb": (st["state_bytes"] / MB, "MB"),
        })
    m.update({
        "streaming.redelivered": (s["redelivered"], "count"),
        "streaming.generator_lag_ms": (stats.percentile(s["generator_lag_ms"], 99.0), "ms"),
        "streaming.latency_p99_ms": (stats.percentile(s["latency_ms"], 99.0), "ms"),
        "streaming.mv_staleness_p50_ms": (stats.median(s["staleness_ms"]), "ms"),
        "streaming.mv_staleness_p99_ms": (stats.percentile(s["staleness_ms"], 99.0), "ms"),
    })
    p = r["probe_pipeline"]
    for k in ("keeplist", "decontaminate", "quality", "classifier", "pack"):
        m[f"pipeline.{k}_s"] = (p[f"{k}_s"], "s")
    m["pipeline.materializations"] = (p["materializations"], "count")
    m["pipeline.keep_ratio"] = (p["keep_ratio"], "share")
    f = r["probe_functions"]
    for k in ("tokens", "shingles", "polyhash"):
        m[f"functions.{k}_rows_per_s"] = (f[f"{k}_rows_per_s"], "1/s")
    self_s = stats.self_times(r["spans"])
    for layer in LAYERS:
        m[f"{layer}.self_s"] = (self_s.get(layer, 0.0), "s")
    _, traced_lat = units_and_latencies(workload, r, props)
    _, base_lat = units_and_latencies(workload, r["untraced"], props)
    if traced_lat and base_lat:
        m["trace.overhead_ms"] = (stats.median(traced_lat) - stats.median(base_lat), "ms")
    return m


def report(workload, r, gen_times, props, checks, trace):
    """Metrics plus the attempted/failed accounting. An operation is a
    timed run, query or micro-batch, the warm-up, or a correctness check."""
    ops = r["ops"]
    failed = sum(1 for o in ops if not o["ok"]) + len(r["failures"])
    failed += sum(1 for _, ok, _ in checks if not ok)
    failed += 1 if r.get("prime_error") else 0
    attempted = len(ops) + r["batches"] + len(checks) + 1
    metrics = (per_layer if trace else lambda w, x, p: end_to_end(w, x, gen_times, p))(workload, r, props)
    _, lat = units_and_latencies(workload, r, props)
    detail = {
        "failed_share": failed / attempted,
        "latency_ms": stats.summary(lat),
        "op_s": [round(o["wall_s"], 3) for o in ops],
        "timeline_s": r.get("timeline"),
        "errors": [o["error"] for o in ops if not o["ok"]][:3] + r["failures"][:3]
        + ([r["prime_error"]] if r.get("prime_error") else []),
    }
    if workload == "stream":
        detail["mv_staleness_ms"] = stats.summary(r["extra"].get("staleness_ms", []))
    missing = [k for k, (v, _) in metrics.items() if v is None]
    ok = failed == 0 and not missing
    return {
        "correct": ok,
        "attempted": attempted,
        "failed": failed + len(missing),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items() if v is not None},
        "detail": detail,
    }
