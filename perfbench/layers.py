"""Metrics from the harness's raw record: end-to-end, per workload, and
per layer (traced runs)."""
from stats import median, self_times, tail, union_length
from workloads import layer_of

MB = 1 << 20

# Per-layer metrics every traced run reports (0 where a workload leaves
# the layer idle), with their units.
PER_LAYER = {
    "spark.jobs": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.gc_s": "s", "spark.sched_wait_s": "s",
    "spark.shuffle_read_mb": "MB", "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB", "spark.output_mb": "MB",
    "spark.driver_only_s": "s",
    "core.session_s": "s", "core.first_setup_s": "s",
    "jvm.cpu_s": "s",
    "core.leaked_pins": "count",
    "core.leaked_pin_mb": "MB",
    "plans.plan_s": "s",
    "ml.featurize_s": "s", "ml.fit_s": "s", "ml.fit_gbt_s": "s",
    "ml.fit_dt_s": "s", "ml.fit_rf_s": "s", "ml.predict_s": "s",
    "features.featurize_s": "s",
    "gd.lr_local_s": "s", "gd.nn_local_s": "s", "gd.lr_dist_s": "s",
    "gd.nn_dist_s": "s", "gd.dist_ms_per_job": "ms", "gd.evaluate_s": "s",
    "text.s": "s", "expressions.cpu_us_per_doc": "us",
    "operators.dedup.exact_s": "s", "operators.dedup.lsh_s": "s",
    "operators.dedup.lsh_yield": "ratio", "operators.dedup.clusters_s": "s",
    "operators.dedup.incremental_s": "s",
    "operators.bpe.train_s": "s", "operators.bpe.encode_s": "s",
    "operators.similarity.ivf_s": "s",
    "operators.similarity.ivf_persist_s": "s",
    "operators.curation.s": "s", "operators.curation.ingest_s": "s",
    "operators.layout.write_s": "s",
    "queries.relational_s": "s", "streaming.s": "s",
    "bench.harness_self_s": "s", "trace.wall_s": "s",
}


def _steps(raw):
    return [r for r in raw["records"] if r["step"] != "_pass_end"]


def _pass_walls(raw):
    """Per pass, the summed wall time of its steps, in seconds."""
    walls = {}
    for r in _steps(raw):
        walls[r["pass"]] = walls.get(r["pass"], 0) + r["wall_ns"] / 1e9
    return [walls[p] for p in sorted(walls)]


# End-to-end metrics every run reports, with their units.
END_TO_END = {"wall_s": "s", "setup_s": "s", "peak_heap_mb": "MB"}


def end_to_end(raw, gen_s):
    """wall_s: one pass over the workload's steps (median over passes);
    setup_s: input generation plus the median in-JVM set-up;
    peak_heap_mb: peak live heap."""
    m = {
        "wall_s": median(_pass_walls(raw)),
        "setup_s": gen_s + median(raw["setup_s"]),
        "peak_heap_mb": raw["peak_heap_bytes"] / MB,
    }
    return {k: (v, END_TO_END[k]) for k, v in m.items()}


def _latencies(raw, kind_of, kind):
    return [r["wall_ns"] / 1e9 for r in _steps(raw)
            if kind_of(r["step"]) == kind and not r.get("error")]


def workload_metrics(raw, kind_of):
    """The metrics that only some workloads have: training and prediction
    time and mean F1 for the classifier stack, read and write latency
    for the mixed reads-and-writes workload."""
    out = {}
    per_pass = len(_pass_walls(raw)) or 1
    steps = _steps(raw)
    classifiers = [v for k, v in raw["results"].items()
                   if k.startswith("classifier:")]
    if classifiers:
        def step_s(prefix):
            return sum(r["wall_ns"] for r in steps
                       if r["step"].startswith(prefix)) / 1e9
        fit = sum(r["info"].get("fit_s", 0) for r in steps
                  if r["step"].startswith("ml.fit."))
        pred = sum(r["info"].get("predict_s", 0) for r in steps
                   if r["step"].startswith("ml.fit."))
        train = fit + step_s("gd.lr_") + step_s("gd.nn_")
        out["train_s"] = (train / per_pass, "s")
        out["predict_s"] = ((pred + step_s("gd.evaluate")) / per_pass, "s")
        out["f1_mean"] = (sum(c["f1"] for c in classifiers) /
                          len(classifiers), "f1")
    reads = _latencies(raw, kind_of, "read")
    writes = _latencies(raw, kind_of, "write")
    if writes:
        out["read_p50_s"] = (median(reads), "s")
        t = tail(reads)
        if t:
            out["read_tail_s"] = (t[0], "s")
        out["write_p50_s"] = (median(writes), "s")
    return out


def notes(raw, kind_of):
    """Context printed beside the metrics: the tail's percentile and base,
    and which steps left pins behind."""
    out = {}
    reads = _latencies(raw, kind_of, "read")
    writes = _latencies(raw, kind_of, "write")
    if writes:
        t = tail(reads)
        out["read_tail"] = (f"p{t[1]:.1f} of {t[2]} reads" if t
                            else f"undefined: {len(reads)} reads")
        out["writes"] = f"{len(writes)} samples"
    leaks = {}
    for r in raw["records"]:
        if r.get("leaked_pins"):
            leaks[r["step"]] = leaks.get(r["step"], 0) + r["leaked_pins"]
    out["leaked_pins"] = ", ".join(f"{k}={v}" for k, v in sorted(leaks.items())) or "none"
    out["passes"] = str(raw["passes"])
    return out


def _job_step(raw):
    """Map each listener job to the step record that ran it: by the job
    group the harness set, else (jobs a streaming thread submits under
    its own group) by the step span that contains the job's start."""
    by_key = {r["key"]: r for r in _steps(raw)}
    windows = [(r["start_ns"] / 1e6, (r["start_ns"] + r["wall_ns"]) / 1e6, r)
               for r in _steps(raw)]
    out = []
    for j in raw["jobs"]:
        r = by_key.get(j["group"])
        if r is None:
            r = next((w[2] for w in windows if w[0] <= j["start_ms"] <= w[1]),
                     None)
        out.append((j, r))
    return out


def per_layer(raw, spec):
    m = dict.fromkeys(PER_LAYER, 0.0)
    steps = _steps(raw)
    spans = raw["spans"]
    selfs = self_times(spans)
    step_ids = {s["id"] for s in spans
                if s["parent"] >= 0 and spans[s["parent"]]["name"].startswith("pass#")}
    for s in spans:
        if s["name"] == "plan":
            m["plans.plan_s"] += (s["end_ns"] - s["start_ns"]) / 1e9
        if s["id"] in step_ids or s["name"].startswith("pass#"):
            m["bench.harness_self_s"] += selfs[s["id"]] / 1e9
    for r in steps:
        layer = layer_of(r["step"])
        if layer != "ml.fit_s":
            m[layer] += r["wall_ns"] / 1e9
            continue
        algo = r["step"].rsplit(".", 1)[1]
        m["ml.fit_s"] += r["info"].get("fit_s", 0.0)
        m["ml.predict_s"] += r["info"].get("predict_s", 0.0)
        if f"ml.fit_{algo}_s" in m:
            m[f"ml.fit_{algo}_s"] += r["info"].get("fit_s", 0.0)

    jobs = _job_step(raw)
    dist_jobs = 0
    text_cpu_ns = 0
    by_step = {}
    for j, r in jobs:
        m["spark.jobs"] += 1
        m["spark.tasks"] += j["tasks"]
        m["spark.executor_run_s"] += j["executor_run_ms"] / 1e3
        m["spark.executor_cpu_s"] += j["executor_cpu_ns"] / 1e9
        m["spark.gc_s"] += j["gc_ms"] / 1e3
        m["spark.sched_wait_s"] += j["sched_wait_ms"] / 1e3
        m["spark.shuffle_read_mb"] += j["shuffle_read_bytes"] / MB
        m["spark.shuffle_write_mb"] += j["shuffle_write_bytes"] / MB
        m["spark.spill_mb"] += j["spill_bytes"] / MB
        m["spark.output_mb"] += j["output_bytes"] / MB
        if r is None:
            continue
        by_step.setdefault(r["key"], []).append(j)
        if r["step"] in ("gd.lr_dist", "gd.nn_dist"):
            dist_jobs += 1
        if layer_of(r["step"]) == "text.s":
            text_cpu_ns += j["executor_cpu_ns"]
    for r in steps:
        a, b = r["start_ns"] / 1e6, (r["start_ns"] + r["wall_ns"]) / 1e6
        covered = union_length(
            (max(j["start_ms"], a), min(j["end_ms"] if j["end_ms"] >= 0 else b, b))
            for j in by_step.get(r["key"], ()))
        m["spark.driver_only_s"] += max(0.0, (b - a) - covered) / 1e3

    m["core.session_s"] = median(raw["session_s"])
    m["core.first_setup_s"] = raw["setup_s"][0]
    m["jvm.cpu_s"] = median([r["process_cpu_ns"] / 1e9 for r in raw["records"]
                             if r["step"] == "_pass_end"])
    m["core.leaked_pins"] = float(sum(r.get("leaked_pins", 0) for r in raw["records"]))
    m["core.leaked_pin_mb"] = sum(r.get("leaked_pin_bytes", 0)
                                  for r in raw["records"]) / MB
    if dist_jobs:
        m["gd.dist_ms_per_job"] = 1e3 * (m["gd.lr_dist_s"] + m["gd.nn_dist_s"]) / dist_jobs
    docs = spec.get("docs", 0) * raw["passes"]
    if docs and text_cpu_ns:
        m["expressions.cpu_us_per_doc"] = text_cpu_ns / 1e3 / docs
    y = raw.get("yields") or {}
    if y.get("lsh_candidates"):
        m["operators.dedup.lsh_yield"] = y["lsh_verified"] / y["lsh_candidates"]
    m["trace.wall_s"] = end_to_end(raw, 0.0)["wall_s"][0]
    return {k: (v, PER_LAYER[k]) for k, v in m.items()}
