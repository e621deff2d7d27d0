#!/usr/bin/env python3
"""Benchmark of the graft engine: one seeded workload, timed at full output.

    python3 perfbench/run.py --workload geo_serve --seed 1 --seconds 10 --trace 0

Run from the repository root. It builds the engine and the harness
(perfbench/build.py), generates the seeded inputs (perfbench/gen.py), runs
the workload in one JVM at local[nproc], checks the outputs against the
DuckDB oracles (perfbench/check.py) and prints, as its last line, one JSON
object: the end-to-end metrics untraced (`--trace 0`), the per-layer
metrics traced (`--trace 1`). Each run works in its own directory under
`.perfbench_runs/`, deleted at the end.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing behind in the checkout

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("geo_serve", "batch_analytics", "corpus_ingest")
DEADLINE_S = 165  # a run must end within 180 s, checks included

JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
               "java.base/java.lang.reflect", "java.base/java.io",
               "java.base/java.net", "java.base/java.nio",
               "java.base/java.util", "java.base/java.util.concurrent",
               "java.base/java.util.concurrent.atomic",
               "java.base/sun.nio.ch", "java.base/sun.nio.cs",
               "java.base/sun.security.action", "java.base/sun.util.calendar"]

# kinds of geo_serve requests that each latency group covers
GROUPS = {"fuzzy": ("fuzzy",), "radius": ("radius", "radius_latlng", "knn"),
          "lookup": ("lookup",)}


def driver_heap():
    """The engine's tier-1 heap: half the machine's memory, 2g to 8g."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(max(g, 2), 8)}g"


def run_jvm(classpath, workload, inputs, run_dir, seconds, trace, cpus, deadline):
    """Runs the harness in one JVM at local[cpus]; returns its result.json."""
    for d in ("local", "tmp", "warehouse", "artifacts", "dumps", "work"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    cmd = ["java", f"-Xmx{driver_heap()}", "-Xss8m",
           f"-Djava.io.tmpdir={run_dir}/tmp", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Harness", workload, inputs, run_dir,
            str(seconds), str(trace), str(cpus)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # on a timeout, or when this process is being stopped
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0:
        with open(log) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"harness exited with {rc}:\n{tail}")
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f)


def end_to_end(workload, res):
    """Every end-to-end metric of the run, the gated ones first."""
    ops = [o for o in res["ops"] if not o["traced"]]
    lat = lambda os_: [o["end"] - o["start"] for o in os_]
    extra = res["extra"]
    out = {"setup_s": (stats.median(res["setup_s"]), "s"),
           "wall_s": (typical_pass_s(ops), "s")}
    if workload == "geo_serve":
        req = lat(ops)
        out["req_p50_ms"] = (stats.median(req), "ms")
        p = stats.tail_percentile(len(req))
        if p is not None:
            out[f"req_p{p:g}_ms"] = (stats.percentile(req, p), "ms")
        for g, kinds in GROUPS.items():
            out[f"{g}_p50_ms"] = (stats.median(lat([o for o in ops if o["kind"] in kinds])), "ms")
        # the headline operation is auto-complete: the median of the whole
        # mix falls on the gap between the slow and the fast request kinds
        out["op_p50_ms"] = out["fuzzy_p50_ms"]
    elif workload == "batch_analytics":
        out["op_p50_ms"] = (stats.median(lat(ops)), "ms")
        for kind in sorted({o["kind"] for o in ops}):
            out[f"{kind}_s"] = (stats.median(lat([o for o in ops if o["kind"] == kind])) / 1000, "s")
    else:
        out["op_p50_ms"] = (stats.median(extra["arrival_ms"]), "ms")
        out["arrival_p50_s"] = (out["op_p50_ms"][0] / 1000, "s")
        out["refresh_s"] = (stats.median(extra["refresh_s"]), "s")
        out["served_read_ms"] = (stats.median(extra["served_read_ms"]), "ms")
        out["write_amp"] = (stats.median(extra["write_amp"]), "count")
    out["requests"] = (float(len(ops)), "count")
    return out


# the metrics BENCHMARK.json gates; `op_p50_ms` and the rest are printed
# only: over ten seeds the ingest trigger median spread 0.29 of its median
GATED = ("setup_s", "wall_s")


def pass_walls(ops):
    """Wall seconds of each measured pass: the sum of its operations' times
    (book-keeping between operations, such as the checker's dumps, is out)."""
    walls = {}
    for o in ops:
        walls[o["pass"]] = walls.get(o["pass"], 0.0) + (o["end"] - o["start"]) / 1000
    return [w for _, w in sorted(walls.items())]


def typical_pass_s(ops):
    """Wall seconds of a typical measured pass: the sum over the pass's
    operations of each one's median time over the passes. A burst of load
    from outside slows the operations it overlaps; each operation's median
    leaves the burst out unless it slows that operation in most passes."""
    times = {}
    for o in ops:
        times.setdefault(o["name"], []).append((o["end"] - o["start"]) / 1000)
    return sum(stats.median(t) for t in times.values())


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    cpus = len(os.sched_getaffinity(0))  # nproc
    t0 = time.time()
    root = os.getcwd()
    classpath = build.build(root)
    deadline = time.time() + DEADLINE_S  # a first run may add the build's time
    run_dir = os.path.join(root, ".perfbench_runs", f"{a.workload}-s{a.seed}-{os.getpid()}")
    if os.path.exists(run_dir):
        shutil.rmtree(run_dir)
    try:
        inputs = os.path.join(run_dir, "inputs")
        t_gen = time.time()
        gen.generate(a.seed, inputs)
        t_jvm = time.time()
        res = run_jvm(classpath, a.workload, inputs, run_dir, a.seconds, a.trace,
                      cpus, deadline)
        t_check = time.time()
        marks = res["marks"]
        print("phases: " + " ".join(f"{q['phase']}={(q['t'] - p['t']) / 1000:.1f}s"
                                    for p, q in zip(marks, marks[1:])), file=sys.stderr)
        print("ops: " + " ".join(f"{o['name']}={(o['end'] - o['start']) / 1000:.2f}s"
                                 for o in res["ops"]), file=sys.stderr)
        results = check.run_checks(res["checks"], os.path.join(inputs, "data"))
        for name, (op, ok, reason) in sorted(results.items()):
            if not ok:
                print(f"CHECK FAIL {name}: {reason}", file=sys.stderr)
        for o in res["ops"]:
            if o.get("error"):
                print(f"OP FAIL {o['name']}: {o['error']}", file=sys.stderr)
        ops = res["ops"]
        failed = stats.failure_count(ops, {k: (v[0], v[1]) for k, v in results.items()})
        e2e = end_to_end(a.workload, res)
        e2e["failed_frac"] = (failed / len(ops) if ops else 1.0, "fraction")
        e2e["checks"] = (float(len(results)), "count")
        if a.trace:
            walls = lambda t: pass_walls([o for o in ops if o["traced"] == t])
            with open(os.path.join(run_dir, "spans.jsonl")) as f:
                spans = [json.loads(l) for l in f]
            metrics = stats.layer_metrics(spans, res["extra"], walls(True), walls(False), cpus)
            print("builds: " + " ".join(f"{k}={stats.median(v):.0f}ms"
                                        for k, v in sorted(res["extra"].items())
                                        if k.endswith(".build_ms")), file=sys.stderr)
            shown = {k: (v, stats.unit_of(k)) for k, v in metrics.items()}
        else:
            shown = {k: e2e[k] for k in GATED}
        for k, (v, u) in sorted(e2e.items()):
            print(f"{a.workload} {k} {v:.6g} {u}")
        print(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                          "detail": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}}))
        print(json.dumps({
            "correct": failed == 0 and all(v[1] for v in results.values()),
            "attempted": len(ops), "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()}}))
        print(f"run: {time.time() - t0:.1f}s (build {t_gen - t0:.1f}s, inputs "
              f"{t_jvm - t_gen:.1f}s, jvm {t_check - t_jvm:.1f}s, "
              f"checks {time.time() - t_check:.1f}s)", file=sys.stderr)
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.join(root, ".perfbench_runs"))
        except OSError:
            pass


def _stop(signum, _frame):
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _stop)
    try:
        sys.exit(main())
    except Exception as e:  # a run that cannot finish prints no result
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
