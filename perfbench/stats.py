"""Arithmetic of the benchmark: percentiles, failure accounting, span self
times and the per-layer roll-up of a traced run. Pure functions over the
harness's `result.json` records, so they can be tested without Spark."""
import math
import statistics


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    k = max(0, math.ceil(p / 100.0 * len(xs)) - 1)
    return xs[k]


TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0)


def tail_percentile(n, beyond=10, candidates=TAIL_CANDIDATES):
    """The highest percentile that has at least `beyond` of `n` samples
    above its nearest-rank value, or None when even the lowest candidate
    has too few."""
    for p in candidates:
        rank = math.ceil(round(p * n / 100.0, 9))
        if n - rank >= beyond:
            return p
    return None


def median(values):
    return statistics.median(values)


def failure_count(ops, check_results):
    """Operations that threw, or whose output failed its check.

    `ops` are the harness's op records; `check_results` maps a check's
    name to (op name, passed). An operation fails once, however many of
    its checks fail."""
    bad = {op for op, ok in check_results.values() if not ok}
    return sum(1 for o in ops if o.get("error") or o["name"] in bad)


# ------------------------------------------------------------------ spans

def _clip(spans):
    """Clip every span to its parent's interval, top-down, so a child never
    claims time outside its parent. Returns the clipped spans by id and the
    time clipped off: child time outside its parent, which the listeners'
    ms resolution explains only up to a millisecond or two a span; more
    means an event was attributed to the wrong operation or phase."""
    by_id = {s["id"]: dict(s) for s in spans}
    order = sorted(by_id.values(), key=lambda s: _depth(s, by_id))
    clipped = 0.0
    for s in order:
        p = by_id.get(s["parent"])
        if p is not None:
            before = s["end"] - s["start"]
            s["start"] = min(max(s["start"], p["start"]), p["end"])
            s["end"] = max(min(s["end"], p["end"]), s["start"])
            clipped += before - (s["end"] - s["start"])
    return by_id, clipped


def _depth(s, by_id):
    d = 0
    while s["parent"] in by_id:
        s = by_id[s["parent"]]
        d += 1
    return d


def self_times(spans):
    """Self time of each span of one trace, keyed by span id.

    A span's self time is its duration minus the part of it that its
    children cover. Where children overlap (concurrent jobs), each instant
    is shared equally among the deepest spans active then, so the self
    times of a trace add up to its root's duration; the child time that
    did not fit inside its parent is `_clip`'s and `op_layers`' `clipped_ms`."""
    by_id, _ = _clip(spans)
    children = {}
    for s in by_id.values():
        children.setdefault(s["parent"], []).append(s["id"])
    cuts = sorted({t for s in by_id.values() for t in (s["start"], s["end"])})
    out = {i: 0.0 for i in by_id}
    for a, b in zip(cuts, cuts[1:]):
        if b <= a:
            continue
        active = {i for i, s in by_id.items() if s["start"] <= a and s["end"] >= b}
        leaves = [i for i in active
                  if not any(c in active for c in children.get(i, ()))]
        for i in leaves:
            out[i] += (b - a) / len(leaves)
    return out


def union_length(intervals):
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


SELF_LAYERS = ("operators", "driver", "catalyst", "scheduler", "executor", "streaming",
               "materialize")
STAGE_SUMS = ("tasks", "run_ms", "cpu_ms", "gc_ms", "shuffle_write_bytes",
              "shuffle_read_bytes", "fetch_wait_ms", "spill_bytes", "rows_read",
              "bytes_read")


def op_layers(spans):
    """Per-layer record of one operation from its spans. A DataFrame
    operation has `construct` and `action` children; an eager step has one
    child span, its work, and no construction (`construct_ms` is None)."""
    by_id, clipped = _clip(spans)
    root = next(s for s in by_id.values() if s["layer"] == "op")
    st = self_times(spans)
    construct = next((s for s in by_id.values() if s["name"] == "construct"), None)
    work = next(s for s in by_id.values()
                if s["parent"] == root["id"] and s["name"] != "construct")

    def under(s, ancestor):
        while s["parent"] in by_id:
            s = by_id[s["parent"]]
            if s is ancestor:
                return True
        return False

    jobs = [s for s in by_id.values() if s["layer"] == "scheduler"]
    stages = [s for s in by_id.values() if s["layer"] == "executor"]
    rec = {
        "wall_ms": root["end"] - root["start"],
        "self_sum_ms": sum(st.values()),
        "clipped_ms": clipped,
        "construct_ms": construct and construct["end"] - construct["start"],
        "construct_jobs": construct and sum(1 for j in jobs if under(j, construct)),
        "jobs": len(jobs),
        "stages": len(stages),
        "idle_ms": (work["end"] - work["start"]) - union_length(
            [(j["start"], j["end"]) for j in jobs if under(j, work)]),
        "exchanges": root["attrs"].get("exchanges", 0.0),
        "rows_out": root["attrs"].get("rows_out", 0.0),
        "triggers": sorted((s["start"], s["end"] - s["start"]) for s in by_id.values()
                           if s["name"] == "trigger"),
    }
    for ph in ("analysis", "optimization", "planning"):
        rec[ph + "_ms"] = sum(s["end"] - s["start"] for s in by_id.values()
                              if s["layer"] == "catalyst" and s["name"] == ph)
    for k in STAGE_SUMS:
        rec[k] = sum(s["attrs"].get(k, 0.0) for s in stages)
    for layer in SELF_LAYERS:
        rec["self_" + layer] = sum(st[i] for i, s in by_id.items() if s["layer"] == layer)
    return rec


def unit_of(metric):
    """Unit of a per-layer metric, from its name."""
    for suffix, unit in (("_ns_per_row", "ns"), ("_ms", "ms"), ("_s", "s"),
                         ("_bytes", "bytes"), ("_frac", "fraction"),
                         ("_per_scan_row", "ratio")):
        if metric.endswith(suffix):
            return unit
    return "count"


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def _med(xs):
    return statistics.median(xs) if xs else 0.0


# the artifact kinds the set-ups build: geo_serve's posting index and
# lat-band layout, corpus_ingest's bootstrap (docbase, overlay, LM model)
BUILD_KINDS = ("graft_postings", "graft_shapes_latband", "graft_docbase",
               "graft_docglobal", "graft_lmmodel")


def layer_metrics(spans, extra, traced_walls_s, untraced_walls_s, cpus):
    """The per-layer metrics of a traced run (means are per operation;
    construction figures are over the DataFrame operations only)."""
    traces = {}
    for s in spans:
        traces.setdefault(s["trace"], []).append(s)
    recs = [op_layers(v) for _, v in sorted(traces.items())]
    m = lambda k: _mean([r[k] for r in recs if r[k] is not None])
    wall = sum(r["wall_ms"] for r in recs)
    rows_read = sum(r["rows_read"] for r in recs)
    rows_out = sum(r["rows_out"] for r in recs)
    trig = [r["triggers"] for r in recs if r["triggers"]]
    x = lambda k: _med(extra.get(k, []))
    out = {
        "operators.construct_ms": _med([r["construct_ms"] for r in recs
                                        if r["construct_ms"] is not None]),
        "operators.construct_jobs": m("construct_jobs"),
        "operators.result_rows_per_scan_row":
            rows_out / rows_read if rows_read else 0.0,
        "catalyst.analysis_ms": m("analysis_ms"),
        "catalyst.optimization_ms": m("optimization_ms"),
        "catalyst.planning_ms": m("planning_ms"),
        "catalyst.exchanges": m("exchanges"),
        "scheduler.jobs": m("jobs"),
        "scheduler.stages": m("stages"),
        "scheduler.tasks": m("tasks"),
        "scheduler.idle_ms": m("idle_ms"),
        "executor.run_ms": m("run_ms"),
        "executor.cpu_ms": m("cpu_ms"),
        "executor.gc_ms": m("gc_ms"),
        "executor.busy_frac": sum(r["run_ms"] for r in recs) / (wall * cpus) if wall else 0.0,
        "executor.spill_bytes": m("spill_bytes"),
        "shuffle.write_bytes": m("shuffle_write_bytes"),
        "shuffle.read_bytes": m("shuffle_read_bytes"),
        "shuffle.fetch_wait_ms": m("fetch_wait_ms"),
        "scan.rows_read": m("rows_read"),
        "scan.read_bytes": m("bytes_read"),
        "materialize.build_ms": x("materialize.build_ms"),
        "materialize.written_bytes": x("materialize.written_bytes")
        or x("setup.written_bytes"),
        "materialize.files_written": x("materialize.files_written")
        or x("setup.files_written"),
        "materialize.pending_batches": x("materialize.pending_batches"),
        "materialize.compact_ms": x("materialize.compact_ms"),
        "materialize.refresh_ms": x("materialize.refresh_ms"),
        "streaming.first_trigger_ms": _med([t[0][1] for t in trig]),
        "streaming.trigger_ms": _med([d for t in trig for _, d in t[1:]]),
        "jvm.heap_used_peak_bytes": x("jvm.heap_used_peak_bytes"),
        "jvm.driver_gc_ms": x("jvm.driver_gc_ms"),
        "trace.overhead_s": _med(traced_walls_s) - _med(untraced_walls_s),
        "trace.self_gap_ms": max((r["clipped_ms"] for r in recs), default=0.0),
        "trace.ops": float(len(recs)),
    }
    for layer in SELF_LAYERS:
        out[f"{layer}.self_ms"] = m("self_" + layer)
    for kind in BUILD_KINDS:
        out[f"materialize.{kind}.build_ms"] = x(f"materialize.{kind}.build_ms")
    for k in ("dl", "char_ngrams", "minhash", "haversine", "cosine"):
        out[f"functions.{k}_ns_per_row"] = x(f"functions.{k}_ns_per_row")
    return out
