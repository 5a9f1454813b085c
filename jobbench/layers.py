"""Per-layer metrics from the spans of the traced legs.

Each layer is named after the engine module whose public calls the
spans wrap (``spans.install``). Counts and busy times are per engine
job of the traced legs, so they read the same at any run length. A
span's self time is its duration minus the part of it that its child
spans cover; a layer's self time sums its spans' self times.
"""

from __future__ import annotations

import math
from collections import defaultdict

from loadgen import Job

LAYERS = ("core", "jobstore", "broker", "build", "results")


def _self_ms(spans: list[dict]) -> dict[int, float]:
    """Span id → self time in ms."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"]:
            children[s["parent"]].append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, reach = 0.0, s["start"]
        for a, b in sorted(children.get(s["id"], ())):
            a, b = max(a, reach, s["start"]), min(b, s["end"])
            if b > a:
                covered += b - a
                reach = b
        out[s["id"]] = (s["end"] - s["start"] - covered) * 1e3
    return out


def pct(values, q: float) -> float:
    """Percentile (q in 0..100), interpolating linearly between the
    closest ranks; 0 for no values."""
    v = sorted(values)
    if not v:
        return 0.0
    k = (len(v) - 1) * q / 100
    lo = math.floor(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def per_layer(passes, spans: list[dict]) -> dict:
    """Name → (value, unit) for every per-layer metric."""
    jobs: list[Job] = [j for p in passes for j in p.jobs]
    ids = {j.job_id for j in jobs}
    n = max(len(jobs), 1)
    by_name: dict[str, list[dict]] = defaultdict(list)
    for s in spans:
        by_name[s["name"]].append(s)
    self_ms = _self_ms(spans)

    def busy(name: str) -> float:
        return sum((s["end"] - s["start"]) * 1e3 for s in by_name[name]) / n

    def count(name: str) -> float:
        return len(by_name[name]) / n

    def attr_sum(name: str, key: str) -> float:
        return sum(s["attrs"].get(key, 0) for s in by_name[name])

    new_job = {s["trace"]: s for s in by_name["core.new_job"]}
    started = {}
    for s in by_name["jobstore.set_state"]:
        if s["attrs"].get("state") == "STARTED":
            started.setdefault(s["trace"], s["end"])
    for s in by_name["jobstore.claim"]:
        if s["attrs"].get("hit"):
            started.setdefault(s["trace"], s["end"])
    waits = [(started[t] - s["end"]) * 1e3 for t, s in new_job.items()
             if t in started and t in ids]
    overhead = [j.post_ms - (new_job[j.job_id]["end"]
                             - new_job[j.job_id]["start"]) * 1e3
                for j in jobs if j.post_ms is not None and j.job_id in new_job]
    claims = by_name["jobstore.claim"]
    hits = sum(1 for s in claims if s["attrs"].get("hit"))
    m: dict[str, tuple[float, str]] = {
        "http_api.post_overhead_ms": (pct(overhead, 50), "ms"),
        "core.new_job.busy_ms": (busy("core.new_job"), "ms/job"),
        "core.queue_wait_ms.p50": (pct(waits, 50), "ms"),
        "core.queue_wait_ms.p90": (pct(waits, 90), "ms"),
    }
    for op in ("create", "get", "set_state", "claim"):
        m[f"jobstore.{op}.count"] = (count(f"jobstore.{op}"), "count/job")
        m[f"jobstore.{op}.busy_ms"] = (busy(f"jobstore.{op}"), "ms/job")
    m["jobstore.claim.hit_ratio"] = (hits / len(claims) if claims else 0.0,
                                     "ratio")
    for op in ("check_and_put", "get", "mutate", "claim"):
        m[f"broker.{op}.busy_ms"] = (busy(f"broker.{op}"), "ms/job")
    build_jobs = attr_sum("build", "spark_jobs")
    write_jobs = attr_sum("results.write", "spark_jobs")
    m.update({
        "build.busy_ms": (busy("build"), "ms/job"),
        "build.spark_jobs": (build_jobs / n, "count/job"),
        "results.write.busy_ms": (busy("results.write"), "ms/job"),
        "results.write.rows": (attr_sum("results.write", "rows") / n,
                               "count/job"),
        "results.write.spark_jobs": (write_jobs / n, "count/job"),
        "results.read.busy_ms": (busy("results.read"), "ms/job"),
        "spark.jobs_per_job": ((build_jobs + write_jobs) / n, "count/job"),
    })
    for layer in LAYERS:
        total = sum(self_ms[s["id"]] for s in spans
                    if s["name"].split(".")[0] == layer)
        m[f"{layer}.self_ms"] = (total / n, "ms/job")
    m["loadgen.sent"] = (float(sum(1 for j in jobs if j.sent)), "count")
    return m
