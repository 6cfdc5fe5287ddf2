"""Turns one raw JVM result into spans and metrics.

Span tree of a traced run:
    run > lane > {build, exec > plan, release}
    lane > job > stage   (a job joins its lane through the lane's job group)
A span's self time is its duration minus the part of it that its child
spans cover. A lane's driver gap is the lane time that no job covers.
"""
import bisect
import math
import statistics

from workloads import BATCH_GROUPS, MODULES, is_sync, module_of

MODULE_METRICS = [
    ("build_ms", "ms"), ("plan_ms", "ms"), ("exec_ms", "ms"), ("driver_gap_ms", "ms"),
    ("jobs", "count"), ("tasks", "count"), ("narrow_stage_lanes", "count"),
    ("executor_cpu_ms", "ms"), ("gc_ms", "ms"), ("sched_wait_ms", "ms"),
    ("shuffle_write_mb", "MB"), ("spill_mb", "MB"),
]
CODECS = [("sources", c) for c in ("zstd", "xz", "bzip2", "lz4", "snappy")] + [("text", "brotli")]

# A stage is heavy when it covers at least this share of its lane's wall
# time (and at least HEAVY_MIN_MS); it is narrow when it runs fewer tasks
# than the session has cores.
HEAVY_SHARE = 0.2
HEAVY_MIN_MS = 100.0


def covered(start, end, intervals):
    """Length of [start, end] covered by the union of `intervals`."""
    clipped = sorted((max(s, start), min(e, end)) for s, e in intervals if e > start and s < end)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def add_self_times(spans):
    """Sets each span's `self_ms`: its duration minus the part of it that
    its direct children cover."""
    kids = {}
    for c in spans:
        kids.setdefault(c["parent"], []).append((c["start"], c["end"]))
    for s in spans:
        s["self_ms"] = (s["end"] - s["start"]) - covered(s["start"], s["end"], kids.get(s["id"], []))
    return spans


def _beta_cf(a, b, x):
    """Continued fraction of the incomplete beta function (modified Lentz)."""
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 300):
        for num in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                    -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-14:
            break
    return h


def beta_cdf(x, a, b):
    """Regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _beta_cf(a, b, x) / a
    return 1.0 - front * _beta_cf(b, a, 1.0 - x) / b


def percentile(values, q):
    """Harrell-Davis estimate of the q-th percentile, q in (0, 100): a
    beta-weighted mean of all order statistics. With a few dozen samples
    drawn from a handful of lanes it moves far less between runs than any
    single order statistic."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return float("nan")
    a, b = (n + 1) * q / 100.0, (n + 1) * (1 - q / 100.0)
    cdf = [beta_cdf(i / n, a, b) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(xs))


def geomean(values):
    return math.exp(sum(math.log(max(v, 1e-9)) for v in values) / len(values))


def pass_walls(res):
    """Wall time of each timed pass: its lane visits with their cleanup."""
    walls = {}
    for v in res["visits"]:
        walls[v["pass"]] = walls.get(v["pass"], 0.0) + v["wall_ms"] + v["release_ms"]
    return [walls[p] for p in sorted(walls)]


def end_to_end(workload, res, setup_ms):
    """Untraced metrics of one run."""
    visits = res["visits"]
    by_lane = {}
    for v in visits:
        by_lane.setdefault(v["lane"], []).append(v["wall_ms"])
    reads = [v["wall_ms"] for v in visits if not is_sync(workload, v["lane"])]
    # Every workload reports every end-to-end metric. Only asset_index has
    # sync lanes; elsewhere sync_p50_ms repeats query_p50_ms and is not a
    # figure of its own.
    syncs = [v["wall_ms"] for v in visits if is_sync(workload, v["lane"])] or reads
    return {
        "setup_s": (statistics.median(setup_ms) / 1000.0, "s"),
        "wall_s": (statistics.median(pass_walls(res)) / 1000.0, "s"),
        "lane_geomean_ms": (geomean([statistics.median(t) for t in by_lane.values()]), "ms"),
        "query_p50_ms": (percentile(reads, 50), "ms"),
        "sync_p50_ms": (percentile(syncs, 50), "ms"),
    }


def build_spans(res):
    """Span list for the timed region of a traced run."""
    trace = res["trace"]
    visits = res["visits"]
    spans = [{"id": 0, "parent": None, "name": "run", "kind": "run",
              "start": visits[0]["start_ms"] if visits else 0.0,
              "end": visits[-1]["start_ms"] + visits[-1]["wall_ms"] + visits[-1]["release_ms"] if visits else 0.0}]

    def add(parent, name, kind, start, end, **attrs):
        spans.append(dict(id=len(spans), parent=parent, name=name, kind=kind, start=start, end=end, **attrs))
        return len(spans) - 1

    lane_ids, exec_ids, build_ids = {}, {}, {}
    for i, v in enumerate(visits):
        s = v["start_ms"]
        lane_ids[i] = add(0, v["lane"], "lane", s, s + v["wall_ms"] + v["release_ms"], visit=i, traced=v.get("traced", True))
        build_ids[i] = add(lane_ids[i], "build", "build", s, s + v["build_ms"], visit=i)
        exec_ids[i] = add(lane_ids[i], "exec", "exec", s + v["build_ms"], s + v["wall_ms"], visit=i)
        add(lane_ids[i], "release", "release", s + v["wall_ms"], s + v["wall_ms"] + v["release_ms"], visit=i)

    starts = [v["start_ms"] for v in visits]
    for p in trace["plans"]:
        ph = p["phases"].values()
        if not ph:
            continue
        ps, pe = min(x["start_ms"] for x in ph), max(x["end_ms"] for x in ph)
        i = _visit_at(starts, visits, ps)
        if i is None:
            continue
        v = visits[i]
        parent = exec_ids[i] if ps >= v["start_ms"] + v["build_ms"] else build_ids[i]
        add(parent, p["func"], "plan", ps, pe, visit=i)

    stage_by_id = {}
    for st in trace["stages"]:
        stage_by_id.setdefault(st["stage"], []).append(st)
    for j in trace["jobs"]:
        if j["visit"] < 0 or j["visit"] >= len(visits) or "end_ms" not in j:
            continue
        jid = add(lane_ids[j["visit"]], f"job {j['job']}", "job", j["start_ms"], j["end_ms"], visit=j["visit"])
        for sid in j["stages"]:
            for st in stage_by_id.pop(sid, []):
                add(jid, st["name"], "stage", st["start_ms"], st["end_ms"], visit=j["visit"],
                    **{k: st[k] for k in ("tasks", "cpu_ms", "gc_ms", "wait_ms", "shuffle_write_bytes", "spill_bytes")})
    return add_self_times(spans)


def _visit_at(starts, visits, t):
    i = bisect.bisect_right(starts, t) - 1
    if i < 0:
        return None
    v = visits[i]
    return i if t <= v["start_ms"] + v["wall_ms"] + v["release_ms"] else None


def visit_layers(spans, visits, cpus):
    """Per-visit layer record from the span tree."""
    out = [dict(build_ms=v["build_ms"], exec_ms=v["exec_ms"], plan_ms=0.0, jobs=0, tasks=0,
                executor_cpu_ms=0.0, gc_ms=0.0, sched_wait_ms=0.0, shuffle_write_mb=0.0,
                spill_mb=0.0, narrow=False, job_iv=[]) for v in visits]
    for s in spans:
        if "visit" not in s:
            continue
        r = out[s["visit"]]
        if s["kind"] == "plan" and s["parent"] is not None and spans[s["parent"]]["kind"] == "exec":
            r["plan_ms"] += s["end"] - s["start"]
        elif s["kind"] == "job":
            r["jobs"] += 1
            r["job_iv"].append((s["start"], s["end"]))
        elif s["kind"] == "stage":
            v = visits[s["visit"]]
            r["tasks"] += s["tasks"]
            r["executor_cpu_ms"] += s["cpu_ms"]
            r["gc_ms"] += s["gc_ms"]
            r["sched_wait_ms"] += s["wait_ms"]
            r["shuffle_write_mb"] += s["shuffle_write_bytes"] / 1e6
            r["spill_mb"] += s["spill_bytes"] / 1e6
            heavy = (s["end"] - s["start"]) >= max(HEAVY_MIN_MS, HEAVY_SHARE * v["wall_ms"])
            if heavy and s["tasks"] < cpus:
                r["narrow"] = True
    for r, v in zip(out, visits):
        r["driver_gap_ms"] = v["wall_ms"] - covered(v["start_ms"], v["start_ms"] + v["wall_ms"], r.pop("job_iv"))
    return out


def per_layer(workload, res, cpus):
    """Traced metrics of one run: per-module layer sums over one pass
    (each lane's median visit), codec throughput, error rate and the
    tracing overhead, and the untraced visits' p90; also the spans and
    each lane's layer record."""
    visits = res["visits"]
    traced = [i for i, v in enumerate(visits) if v.get("traced")]
    spans = build_spans({"visits": visits, "trace": res["trace"]})
    layers = visit_layers(spans, visits, cpus)
    by_lane = {}
    for i in traced:
        by_lane.setdefault(visits[i]["lane"], []).append(layers[i])
    lane_layers = {}
    for lane, rs in by_lane.items():
        rec = {k: statistics.median(r[k] for r in rs) for k, _ in MODULE_METRICS if k != "narrow_stage_lanes"}
        rec.update(module=module_of(lane), visits=len(rs), narrow=sum(r["narrow"] for r in rs) * 2 >= len(rs))
        lane_layers[lane] = rec
    metrics = {}
    for m in MODULES:
        recs = [r for r in lane_layers.values() if r["module"] == m]
        for key, unit in MODULE_METRICS:
            val = sum(r["narrow"] for r in recs) if key == "narrow_stage_lanes" else sum(r[key] for r in recs)
            metrics[f"{m}.{key}"] = (val, unit)
    rel = {}
    for i in traced:
        rel.setdefault(visits[i]["lane"], []).append(visits[i]["release_ms"])
    metrics["operators.staged_release_ms"] = (sum(statistics.median(x) for x in rel.values()), "ms")
    codecs = res.get("codecs") or {}
    for module, name in CODECS:
        c = codecs.get(name, {})
        mb = c.get("in_bytes", 0) / 1e6
        enc, dec = c.get("encode_ms"), c.get("decode_ms")
        metrics[f"{module}.{name}.encode_mb_s"] = (mb / (statistics.median(enc) / 1000.0) if enc else 0.0, "MB/s")
        metrics[f"{module}.{name}.decode_mb_s"] = (mb / (statistics.median(dec) / 1000.0) if dec else 0.0, "MB/s")
        metrics[f"{module}.{name}.ratio"] = (c["in_bytes"] / c["out_bytes"] if c.get("out_bytes") else 0.0, "x")
    n = len(res["checks"]) + len(visits)
    bad = sum(1 for v in res["checks"] + visits if v["error"])
    metrics["error_rate"] = (bad / n if n else 0.0, "ratio")
    # traced and untraced visits of a lane come in adjacent pairs; each
    # lane's ratio counts once, so the heavy lanes' pairs, whose order
    # alternates with position, cannot dominate
    ratios = [visits[i]["wall_ms"] / visits[j]["wall_ms"]
              for i in traced for j in (i - 1, i + 1)
              if 0 <= j < len(visits) and not visits[j].get("traced")
              and visits[j]["lane"] == visits[i]["lane"] and visits[j]["pass"] == visits[i]["pass"]]
    metrics["tracing_overhead_pct"] = (100.0 * (geomean(ratios) - 1.0) if ratios else 0.0, "%")
    metrics["peak_heap_mb"] = (res["peak_heap_mb"], "MB")
    untraced = [v for v in visits if not v.get("traced")]
    reads = [v["wall_ms"] for v in untraced if not is_sync(workload, v["lane"])]
    metrics["query_p90_ms"] = (percentile(reads, 90), "ms")
    # the batch workload's lane groups, each a pass's worth of its lanes'
    # median untraced visits with their cleanup (0 where absent)
    lane_ms = {}
    for v in untraced:
        lane_ms.setdefault(v["lane"], []).append(v["wall_ms"] + v["release_ms"])
    for group, lanes in BATCH_GROUPS.items():
        ms = sum(statistics.median(lane_ms[l]) for l in lanes if l in lane_ms)
        metrics[f"{group}.wall_s"] = (ms / 1000.0, "s")
    return metrics, spans, lane_layers


def lane_spread(visits, ratio=2.0):
    """Per-lane wall times over the timed visits, with a flag where the
    slowest visit takes `ratio` times the fastest or more."""
    by_lane = {}
    for v in visits:
        by_lane.setdefault(v["lane"], []).append(round(v["wall_ms"], 3))
    return {l: {"ms": t, "max_over_min": max(t) / max(min(t), 1e-9), "flagged": max(t) >= ratio * min(t)}
            for l, t in sorted(by_lane.items())}
