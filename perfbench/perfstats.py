"""Pure arithmetic of the benchmark: percentiles, interval self time,
job/stage/phase attribution, failure counting, and the end-to-end and
per-layer metrics derived from one run record (see Main.scala for the
record's shape). Times in a record are epoch microseconds.
"""
import statistics

TAIL_BEYOND = 10


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """The highest percentile with at least TAIL_BEYOND samples above it.

    Returns (value, percentile, n). With fewer than TAIL_BEYOND + 1
    samples no percentile qualifies and the maximum is returned with
    percentile 100, flagged by n.
    """
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= TAIL_BEYOND:
        return s[-1], 100.0, n
    i = n - 1 - TAIL_BEYOND  # exactly TAIL_BEYOND samples lie above s[i]
    return s[i], 100.0 * (i + 1) / n, n


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children]
    return (e - s) - union_length(clipped)


def attribute_stages(jobs, stages):
    """Map each (stage id, attempt) to the job that ran it.

    A stage belongs to a job whose `stage_ids` lists it. When several
    jobs list it (a shuffle stage shared with a later job, which skips
    it), the earliest-starting listing job still open when the stage
    was submitted wins. Jobs that list no such stage never claim it, so
    a concurrent broadcast or subquery job keeps its own stages.
    """
    listing = {}
    for j in jobs:
        for sid in j["stage_ids"]:
            listing.setdefault(sid, []).append(j)
    out = {}
    for st in stages:
        cands = sorted(listing.get(st["id"], []), key=lambda j: (j["start"], j["id"]))
        if not cands:
            continue
        t = st["submitted"]
        open_at = [j for j in cands
                   if j["start"] <= t + 1000 and (j["end"] < 0 or t <= j["end"] + 1000)]
        out[(st["id"], st["attempt"])] = (open_at or cands)[0]["id"]
    return out


def attribute_by_time(requests, t):
    """The request whose interval holds time t (requests never overlap)."""
    best = None
    for r in requests:
        if r["start"] - 1000 <= t <= r["end"] + 1000:
            if best is None or r["start"] > best["start"]:
                best = r
    return best["id"] if best else 0


def serving(requests):
    """The client's requests, without the maintenance between passes."""
    return [r for r in requests if r["kind"] != "maintenance"]


def untagged_jobs(requests, jobs):
    """Per request id, the jobs that carry no request id (req 0) but
    started inside that request: work the request caused that the local
    property did not reach (e.g. a job started from a thread the library
    owns), which the attribution would otherwise silently drop."""
    out = {}
    for j in jobs:
        if j["req"] == 0:
            for r in requests:
                if r["start"] <= j["start"] <= r["end"]:
                    out[r["id"]] = out.get(r["id"], 0) + 1
    return out


def fail_counts(requests):
    """(attempted, failed): a request fails when it raised or when its
    output check failed — both leave an `error`."""
    return len(requests), sum(1 for r in requests if r.get("error"))


def fail_ratio(requests):
    attempted, failed = fail_counts(requests)
    return failed / attempted if attempted else 1.0


def latency_ms(r):
    return (r["end"] - r["start"]) / 1000.0


def end_to_end(rec):
    reqs = serving(rec["trace"]["requests"])
    lat = [latency_ms(r) for r in reqs]
    tail_v, tail_pct, n = tail(lat)
    return {
        "setup_s": (median(rec["setup_s"]), "s"),
        "ops_per_s": (len(reqs) / rec["measured_s"], "1/s"),
        "driver_cpu_ms_per_op": (sum(r["cpu_ms"] for r in reqs) / len(reqs), "ms"),
        "live_heap_mb": (rec["live_heap_mb"], "MB"),
    }, {"op_p50_ms": median(lat), "steal_share": rec["steal_share"], "cpu_s": rec["cpu_s"], "peak_rss_mb": rec["peak_rss_mb"], "op_tail_ms": tail_v, "op_tail_percentile": tail_pct, "op_samples": n,
        "pass_s": median(rec["pass_s"])}


def _p50(reqs, pred):
    return median([latency_ms(r) for r in reqs if pred(r)])


def decompose(rec):
    """Per request: wall, the union of its jobs, the Catalyst phase time
    outside jobs, the layer-call self time and the request's own self
    time. `parts_ms` sums the disjoint parts. The request's own self
    time is what the other parts leave uncovered, so the sum can miss
    the wall only through a job attributed to the wrong request; a job
    that lost its request id instead moves into self time, so a request
    with untagged jobs inside it is never `within_5pct`."""
    t = rec["trace"]
    reqs = t["requests"]
    untagged = untagged_jobs(reqs, t["jobs"])
    jobs_by_req = {}
    for j in t["jobs"]:
        if j["end"] >= 0:
            jobs_by_req.setdefault(j["req"], []).append((j["start"], j["end"]))
    phase_by_req = {}
    for p in t["phases"]:
        for name in ("analysis", "optimization", "planning"):
            iv = p.get(name)
            if iv:
                rid = attribute_by_time(reqs, iv[0])
                phase_by_req.setdefault(rid, []).append((name, iv[0], iv[1]))
    spans_by_req = {}
    for s in t["spans"]:
        spans_by_req.setdefault(s["req"], []).append(s)
    out = []
    for r in reqs:
        wall = r["end"] - r["start"]
        jobs = jobs_by_req.get(r["id"], [])
        phases = phase_by_req.get(r["id"], [])
        job_us = union_length(jobs)
        phase_ivs = [(s, e) for _, s, e in phases]
        covered = union_length(jobs + phase_ivs)
        catalyst_us = covered - job_us
        calls = [s for s in spans_by_req.get(r["id"], []) if s["layer"] != "request"]
        top = [(s["start"], s["end"]) for s in calls if _is_top(s, spans_by_req[r["id"]])]
        calls_self = sum(self_time((s["start"], s["end"]), jobs + phase_ivs) for s in calls
                         if _is_top(s, spans_by_req[r["id"]]))
        req_self = self_time((r["start"], r["end"]), top + jobs + phase_ivs)
        by_phase = {}
        for name, s, e in phases:
            by_phase[name] = by_phase.get(name, 0.0) + (e - s)
        # the parts are disjoint: request self + layer-call self (both
        # outside jobs and phases) + phases outside jobs + jobs
        parts = req_self + calls_self + catalyst_us + job_us
        out.append({
            "id": r["id"], "name": r["name"], "kind": r["kind"], "wall_ms": wall / 1000,
            "jobs": len(jobs), "job_ms": job_us / 1000, "catalyst_ms": catalyst_us / 1000,
            "driver_ms": (wall - job_us) / 1000, "layer_self_ms": calls_self / 1000,
            "request_self_ms": req_self / 1000, "parts_ms": parts / 1000,
            "phases_ms": {k: v / 1000 for k, v in by_phase.items()},
            "untagged_jobs": untagged.get(r["id"], 0),
            "within_5pct": (wall > 0 and abs(parts - wall) <= 0.05 * wall
                            and r["id"] not in untagged),
        })
    return out


def _is_top(span, spans):
    """A layer call directly under the request span."""
    parents = {s["id"]: s for s in spans}
    p = parents.get(span["parent"])
    return p is not None and p["layer"] == "request"


SERVE_READS = ("ivf", "ivfpq", "filtered", "get")
SOURCE_VERBS = (("append", "vec_append"), ("delete", "vec_delete"), ("payload", "vec_payload"),
                ("ingest", "ingest"))
KERNELS = ("vec_cosine", "vec_l2", "minhash", "simhash", "term_counts", "centroid_dists",
           "nearest_clusters", "pq_adc", "lsh_band", "topk_by_score")


def unit_of(name):
    """Unit of a per-layer metric, from its name's suffix."""
    for suffix, unit in (("_ns", "ns"), ("_ms", "ms"), ("_s", "s"), ("_bytes", "bytes"),
                         ("_mb", "MB"), ("_ratio", "ratio"), ("_amp", "ratio"),
                         ("_at_k", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def per_layer(rec):
    """Per-layer metrics of a traced run: per-request means unless the
    name says p50 / ratio. Layers a workload does not exercise read 0."""
    t = rec["trace"]
    reqs = t["requests"]
    n = max(1, len(reqs))
    facts = rec.get("workload_facts", {})
    dec = decompose(rec)
    stage_job = attribute_stages(t["jobs"], t["stages"])
    job_req = {j["id"]: j["req"] for j in t["jobs"]}
    mine = [s for s in t["stages"]
            if job_req.get(stage_job.get((s["id"], s["attempt"])), 0) > 0]
    cpus = rec["env"]["cpus"]

    def ssum(k):
        return sum(s[k] for s in mine)

    spans = t["spans"]
    construct = [s for s in spans if s["name"] == "construct"]
    action = [s for s in spans if s["name"] == "action"]
    eager = 0
    for j in t["jobs"]:
        if any(c["req"] == j["req"] and c["start"] <= j["start"] <= c["end"] for c in construct):
            eager += 1
    releases = rec["trace"]["releases"]
    stored = [r["storage_bytes"] for r in releases if r["storage_bytes"] >= 0]
    search = [r for r in reqs if r["kind"] == "search"]
    kernels = facts.get("kernels", {})
    phase_tot = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    for d in dec:
        for k, v in d["phases_ms"].items():
            phase_tot[k] += v
    m = {
        "catalyst.analysis_ms": phase_tot["analysis"] / n,
        "catalyst.optimization_ms": phase_tot["optimization"] / n,
        "catalyst.planning_ms": phase_tot["planning"] / n,
        "sched.jobs": sum(d["jobs"] for d in dec) / n,
        "sched.stages": len(mine) / n,
        "sched.tasks": ssum("tasks") / n,
        "sched.delay_ms": (ssum("duration_ms") - ssum("run_ms") - ssum("deserialize_ms")
                           - ssum("result_serialize_ms") - ssum("getting_result_ms")) / n,
        "sched.driver_ms": sum(d["driver_ms"] for d in dec) / n,
        "exec.task_run_ms": ssum("run_ms") / n,
        "exec.task_cpu_ms": ssum("cpu_ns") / 1e6 / n,
        "exec.gc_ms": ssum("gc_ms") / n,
        "exec.shuffle_read_bytes": ssum("shuffle_read_bytes") / n,
        "exec.shuffle_write_bytes": ssum("shuffle_write_bytes") / n,
        "exec.spill_bytes": ssum("spill_bytes") / n,
        "exec.result_bytes": ssum("result_bytes") / n,
        "exec.core_busy_ratio": ssum("run_ms") / (rec["measured_s"] * 1000 * cpus),
        "operators.construct_ms": sum(s["end"] - s["start"] for s in construct) / 1000 / n,
        "operators.eager_jobs": eager / n,
        "operators.action_ms": sum(s["end"] - s["start"] for s in action) / 1000 / n,
        "indexcache.materializations": sum(r["materialized"] for r in reqs) / n,
        "indexcache.hit_ratio": (sum(1 for r in search if r["materialized"] == 0) / len(search)
                                 if search else 0.0),
        "indexcache.storage_bytes": median(stored),
        "indexcache.release_ms": median([r["ms"] for r in releases]),
        "jvm.gc_ms": rec["jvm"]["gc_ms"],
        "jvm.heap_peak_mb": rec["jvm"]["heap_peak_mb"],
        "trace.within_5pct_ratio": sum(1 for d in dec if d["within_5pct"]) / n,
        "trace.untagged_jobs": sum(d["untagged_jobs"] for d in dec),
        "request.p50_ms": median([latency_ms(r) for r in reqs]),
        "request.tail_ms": tail([latency_ms(r) for r in reqs])[0],
    }
    for kind in SERVE_READS:
        m[f"serve.{kind}_ms"] = _p50(reqs, lambda r, k=kind: r["kind"] == "search" and r["name"] == k)
    for name, verb in SOURCE_VERBS:
        m[f"sources.{name}_ms"] = _p50(reqs, lambda r, v=verb: r["name"] == v)
    m["sources.compact_s"] = _p50(reqs, lambda r: r["name"] == "vec_compact") / 1000
    m["sources.lease_ms"] = facts.get("lease_ms", 0.0)
    m["sources.write_amp"] = median(facts.get("write_amp", []))
    m["sources.files"] = facts.get("index_files", 0)
    m["sources.debt_rows"] = facts.get("debt_rows", 0)
    for kind in ("search", "write"):
        m[f"serve.{kind}_p50_ms"] = _p50(reqs, lambda r, k=kind: r["kind"] == k)
    m["serve.recall_at_k"] = facts.get("recall_at_k", 0.0)
    m["serve.space_amp"] = facts.get("space_amp", 0.0)
    for k in KERNELS:
        m[f"functions.{k}_ns"] = kernels.get(k, {}).get("ns_per_row", 0.0)
    return m


def kernel_problems(rec):
    """A kernel query no slower than its baseline is a failed
    measurement, not a figure."""
    kernels = rec.get("workload_facts", {}).get("kernels", {})
    return [f"functions.{k}: kernel query {f['kernel_s']:.3f} s is not slower than its "
            f"baseline {f['baseline_s']:.3f} s over {f['rows']} rows"
            for k, f in sorted(kernels.items()) if not f["ns_per_row"] > 0]


def workload_view(rec):
    """Per-workload figures kept in the artifact only (not metrics)."""
    reqs = rec["trace"]["requests"]
    facts = rec.get("workload_facts", {})
    w = rec["workload"]
    out = {}
    if w == "suite":
        out["suite_s"] = median(rec["pass_s"])
        out["queries_per_pass"] = len(facts.get("queries", []))
    elif w == "serve":
        for kind, label in (("search", "search"), ("write", "write")):
            lat = [latency_ms(r) for r in reqs if r["kind"] == kind]
            v, pct, n = tail(lat)
            out[f"{label}_p50_ms"] = median(lat)
            out[f"{label}_tail_ms"] = {"value": v, "percentile": pct, "samples": n}
        out["compact_s"] = _p50(reqs, lambda r: r["name"] == "vec_compact") / 1000
        out["serve_ops_per_s"] = len(serving(reqs)) / rec["measured_s"]
        for k in ("recall_at_k", "space_amp"):
            out[k] = facts.get(k)
    # each request name's share of the wall of the passes and the
    # maintenance between them
    total = rec["measured_s"] + sum(rec.get("maintenance_s", []))
    walls = {}
    for r in reqs:
        walls[r["name"]] = walls.get(r["name"], 0.0) + latency_ms(r) / 1000 / total
    out["wall_share"] = walls
    out["op_fail_ratio"] = fail_ratio(reqs)
    return out
