"""Turns the harness's raw samples and trace into the benchmark's metrics.

End-to-end metrics (untraced run) are medians of the per-operation
samples, plus the 90th percentile of apply times. Per-layer metrics
(traced run) attribute every Spark job to a layer by the first ``graft.``
frame of a layer in its call site, or else by the benchmark span it
started in, and split sampled task-thread time by the outermost
``graft.`` frame of a layer in the task's stack. They are reported for
one set-up plus one cycle (one fit and the workload's applies per
cycle), with the cycle values averaged over the traced cycles.
"""

import math
import re

MB = float(1 << 20)

LAYERS = ["sources", "ml.fixed", "ml.random", "ml.descent", "ml.score",
          "ml.eval", "operators.dedup", "operators.ann", "functions",
          "engine"]
BASE = ["wall_s", "self_s", "jobs", "tasks", "task_cpu_s", "gc_s",
        "shuffle_mb", "spill_mb", "sampled_s"]
EXTRA = {
    "sources": ["input_mb", "output_mb"],
    "ml.fixed": ["evals", "driver_s", "ns_per_row_eval"],
    "ml.random": ["entities", "us_per_entity"],
    "ml.descent": ["checkpoint_mb"],
    "operators.dedup": ["candidate_pairs", "verified_ratio"],
    "operators.ann": ["files_read", "files_written"],
    "engine": ["stages", "floor_s"],
}
TRACE = ["trace.fit_s", "trace.overhead_s"]

FIXED_FILES = {"Glm.scala", "GlmMath.scala", "Objectives.scala",
               "Optimizers.scala", "Losses.scala"}
FRAME = re.compile(r"^(?P<cls>[\w.$]+)\.(?P<meth>[^.(]+)\((?P<file>[^:)]*)")


def per_layer_names():
    return [f"{l}.{m}" for l in LAYERS for m in BASE + EXTRA.get(l, [])] \
        + TRACE


def per_layer_unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("ns_per_row_eval"):
        return "ns"
    if name.endswith("us_per_entity"):
        return "us"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"


# ---- statistics ------------------------------------------------------

def median(xs):
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def percentile(xs, p):
    """Linear interpolation between closest ranks (numpy's default)."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    pos = (len(s) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def union_length(intervals):
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


# ---- attribution -----------------------------------------------------

def layer_of_frame(frame):
    """Layer of one ``graft.`` frame, or None for helpers outside the
    named layers (util, manifests, shims)."""
    m = FRAME.match(frame)
    if not m:
        return None
    cls, meth, f = m.group("cls"), m.group("meth"), m.group("file")
    if cls.startswith("graft.sources."):
        return "sources"
    if cls.startswith("graft.functions."):
        return "functions"
    if cls.startswith("graft.ml."):
        if f == "Evaluators.scala":
            return "ml.eval"
        if f == "CoordinateDescent.scala":
            if "GameModel" in cls or "Trained" in cls or \
                    meth.startswith("scoreInPlace"):
                return "ml.score"
            return "ml.descent"
        if f in ("Glm.scala", "RandomEffect.scala") and "score" in meth:
            return "ml.score"
        if f in FIXED_FILES:
            return "ml.fixed"
        if f == "RandomEffect.scala":
            return "ml.random"
        return None
    if cls.startswith("graft.operators."):
        return {"GroupedSampling.scala": "ml.random",
                "Dedup.scala": "operators.dedup",
                "Similarity.scala": "operators.ann"}.get(f)
    return None


def first_layer(frames):
    for fr in frames:
        layer = layer_of_frame(fr)
        if layer:
            return layer
    return None


def innermost_span(spans, t):
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"] and \
                (best is None or s["start"] >= best["start"]):
            best = s
    return best


def job_layer(job, spans):
    """Layer of a job, 'harness' for the benchmark's own checking jobs,
    or None when neither its call site nor a span names one."""
    span = innermost_span(spans, job["start"])
    if span is not None and span["layer"] == "harness":
        return "harness"
    return first_layer(job["frames"]) or (span["layer"] if span else None)


def window_metrics(jobs, spans, sampled, stored, slots):
    """Per-layer values for one window's jobs, spans and samples."""
    v = {l: {} for l in LAYERS}

    def add(layer, key, x):
        v[layer][key] = v[layer].get(key, 0.0) + x

    done = [j for j in jobs if j["end"] >= j["start"]]
    layered = []
    for j in sorted(done, key=lambda j: (j["start"], j["id"])):
        layer = job_layer(j, spans)
        if layer == "harness":
            continue
        layered.append((j, layer))
        for l in ([layer] if layer in v and layer != "engine" else []) + \
                ["engine"]:
            add(l, "jobs", 1)
            add(l, "tasks", j["tasks"])
            add(l, "task_cpu_s", j["cpu_ns"] / 1e9)
            add(l, "gc_s", j["gc_ms"] / 1e3)
            add(l, "shuffle_mb", j["shuffle_bytes"] / MB)
            add(l, "spill_mb", j["spill_bytes"] / MB)
            add(l, "run_s", j["run_ms"] / 1e3)
            add(l, "input_mb", j["input_bytes"] / MB)
            add(l, "output_mb", j["output_bytes"] / MB)
        add("engine", "stages", j["stages"])
        if layer == "ml.fixed" and any(
                "valueAndGradient" in f for f in j["frames"][:1]):
            add("ml.fixed", "evals", 1)

    # activity intervals: jobs, spans, and the driver-side gap between
    # two consecutive jobs of the same layer (that layer's own work)
    intervals = {l: [] for l in LAYERS}
    gaps = []
    for (a, la), (b, lb) in zip(layered, layered[1:]):
        if la == lb and la in intervals and b["start"] > a["end"]:
            gaps.append((a["end"], b["start"], la))
            add(la, "driver_s", (b["start"] - a["end"]) / 1e3)
    for j, layer in layered:
        if layer in intervals:
            intervals[layer].append((j["start"], j["end"]))
        intervals["engine"].append((j["start"], j["end"]))
    for g in gaps:
        intervals[g[2]].append(g[:2])
    real_spans = [s for s in spans if s["layer"] != "harness"]
    for s in real_spans:
        if s["layer"] in intervals:
            intervals[s["layer"]].append((s["start"], s["end"]))
    for l in LAYERS:
        v[l]["wall_s"] = union_length(intervals[l]) / 1e3

    # self time: each instant goes to its innermost activity — running
    # jobs (shared equally), else a same-layer gap, else the innermost
    # span
    cuts = sorted({t for j, _ in layered for t in (j["start"], j["end"])} |
                  {t for g in gaps for t in g[:2]} |
                  {t for s in real_spans for t in (s["start"], s["end"])})
    for t0, t1 in zip(cuts, cuts[1:]):
        mid = (t0 + t1) / 2.0
        running = [l for j, l in layered if j["start"] <= mid < j["end"]]
        dt = (t1 - t0) / 1e3
        if running:
            for l in running:
                add(l if l in v else "engine", "self_s", dt / len(running))
            continue
        gap = [g[2] for g in gaps if g[0] <= mid < g[1]]
        if gap:
            add(gap[0], "self_s", dt)
            continue
        span = innermost_span(real_spans, mid)
        if span is not None and span["layer"] in v:
            add(span["layer"], "self_s", dt)
    # the engine's own share: time a job is open but no task runs
    task_spans = [tuple(t) for j, _ in layered for t in j["task_spans"]]
    v["engine"]["self_s"] = max(0.0, v["engine"]["wall_s"] -
                                union_length(task_spans) / 1e3)
    v["engine"]["floor_s"] = v["engine"]["wall_s"] - \
        v["engine"].get("run_s", 0.0) / slots

    for s in sampled:
        layer = first_layer(s["key"].split(";")) if s["key"] else None
        add(layer or "engine", "sampled_s", s["seconds"])
    for s in stored:
        if s["site"].startswith("localCheckpoint at CoordinateDescent.scala"):
            add("ml.descent", "checkpoint_mb", s["bytes"] / MB)
    return v


def per_layer(raw):
    """Per-layer metrics of a traced run: one set-up plus one cycle."""
    tr = raw["trace"]
    slots, cycles = tr["slots"], max(1, tr["cycles"])
    spans, jobs = tr["spans"], tr["jobs"]

    def in_window(name, start, end):
        return window_metrics(
            [j for j in jobs if start <= j["start"] < end],
            [s for s in spans if s["window"] == name],
            [s for s in tr["sampled"] if s["window"] == name],
            [s for s in tr["stored"] if s["window"] == name], slots)

    total = {l: {} for l in LAYERS}
    for w in tr["windows"]:
        share = 1.0 if w["name"] == "setup" else 1.0 / cycles
        vals = in_window(w["name"], w["start"], w["end"] + 1)
        for l in LAYERS:
            for k, x in vals[l].items():
                total[l][k] = total[l].get(k, 0.0) + x * share
    # workload counters: sizes per fit, or totals over the traced cycles
    size = tr["counters"]
    per_cycle = {k: x / cycles for k, x in size.items()}
    t = total
    t["ml.random"]["entities"] = size.get("ml.random.entities", 0.0)
    solves = size.get("ml.random.solves", 0.0)
    t["ml.random"]["us_per_entity"] = (
        t["ml.random"].get("sampled_s", 0.0) * 1e6 / solves if solves else 0.0)
    evals, rows = t["ml.fixed"].get("evals", 0.0), size.get(
        "ml.fixed.rows", 0.0)
    t["ml.fixed"]["ns_per_row_eval"] = (
        t["ml.fixed"].get("run_s", 0.0) * 1e9 / (evals * rows)
        if evals and rows else 0.0)
    cand = per_cycle.get("operators.dedup.candidate_pairs", 0.0)
    t["operators.dedup"]["candidate_pairs"] = cand
    t["operators.dedup"]["verified_ratio"] = (
        per_cycle.get("operators.dedup.verified_pairs", 0.0) / cand
        if cand else 0.0)
    for k in ("files_read", "files_written"):
        t["operators.ann"][k] = per_cycle.get(f"operators.ann.{k}", 0.0)

    out = {}
    for name in per_layer_names():
        if name.startswith("trace."):
            continue
        layer, metric = name.rsplit(".", 1)
        out[name] = t[layer].get(metric, 0.0)
    traced, untraced = tr["traced_fit_s"], tr["untraced_fit_s"]
    out["trace.fit_s"] = median(traced)
    out["trace.overhead_s"] = median(traced) - median(untraced)
    return out


def end_to_end(raw):
    """End-to-end metrics of an untraced run: name → (value, unit,
    samples)."""
    apply_s = raw["apply_s"]
    return {
        "setup_s": (median(raw["setup_s"]), "s", len(raw["setup_s"])),
        "fit_s": (median(raw["fit_s"]), "s", len(raw["fit_s"])),
        "fit_cpu_s": (median(raw["fit_cpu_s"]), "s", len(raw["fit_cpu_s"])),
        "apply_s": (median(apply_s), "s", len(apply_s)),
        "apply_p90_s": (percentile(apply_s, 90), "s", len(apply_s)),
        "peak_storage_mb": (median(raw["peak_storage_bytes"]) / MB, "MB",
                            len(raw["peak_storage_bytes"])),
        # holdout AUC (GAME) or IVF-PQ recall@10 (corpus)
        "quality": (raw["quality"], "ratio", 1),
    }
