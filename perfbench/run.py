#!/usr/bin/env python3
"""Benchmark entry point. See perfbench/README.md.

    python3 perfbench/run.py --workload warehouse --seed 1 --seconds 4 --trace 0

Builds the engine and its JVM side (once per checkout), generates the seed's
inputs (cached per seed), times set-up, runs the workload in one JVM, checks
every query's output against its DuckDB oracle, and prints as its last line
one JSON object: {"correct", "attempted", "failed", "metrics"}. The line
before it is a report with the host provenance of the run.

    python3 perfbench/run.py --workload all --seed 1 --seconds 4 --trace 0
                              runs every workload and prints a table
    python3 perfbench/run.py --selftest      runs the planted controls
"""
import argparse
import contextlib
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402

BUILD = build.BUILD
WORKLOADS = os.path.join(HERE, "workloads.json")
SCHEMAS = os.path.join(HERE, "schemas.json")
XMX = "2g"
# A run must end within 180 s of its inputs being ready; a JVM still
# running at this point is killed and the run fails.
DEADLINE_S = 170
# A timed pass beyond the required ones starts only if it can end this many
# seconds after the JVM's launch, which leaves time for the output check.
BUDGET_S = DEADLINE_S - 20
# Spark on JDK 17 outside spark-submit: the same list as build.sbt's forks.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def cores():
    return len(os.sched_getaffinity(0))


def jvm(classes, data, extra=()):
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{XMX}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(BUILD, 'warehouse')}",
        f"-Dspark.graft.scratchDir={os.path.join(BUILD, 'scratch', 'graft_qtmp_bench')}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", classes + os.pathsep + build.spark_jars(),
        "perfbench.PerfBench", "--data", data,
        "--cores", str(cores()),
    ]
    return cmd + list(extra)


def launch(cmd, log, deadline):
    """Runs one JVM, killing it at `deadline` (a perf_counter time); returns
    (seconds from launch to READY, exit code)."""
    t0 = time.perf_counter()
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                             text=True, cwd=BUILD)
        watchdog = threading.Timer(max(0.0, deadline - t0), p.kill)
        watchdog.start()
        try:
            ready = None
            for line in p.stdout:
                if ready is None and line.strip() == "PERFBENCH READY":
                    ready = time.perf_counter() - t0
            code = p.wait()
        finally:
            watchdog.cancel()
    return ready, code


def tail(path, n=20):
    with open(path) as f:
        return "".join(f.readlines()[-n:])


def compare(out_dir, data, names, failed):
    """Checks each written output. Oracled queries go through the repo's
    DuckDB compare (tools/check_oracle.py, imported as is); the others must
    be non-empty and have their recorded schema. Returns {name: reason}."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check_oracle
    import duckdb
    buf = io.StringIO()
    argv = sys.argv
    sys.argv = ["check_oracle.py", out_dir, data]
    try:
        with contextlib.redirect_stdout(buf):
            check_oracle.main()
    except SystemExit:
        pass
    finally:
        sys.argv = argv
    seen = {}
    for line in buf.getvalue().splitlines():
        verdict, _, rest = line.partition(" ")
        name, _, detail = rest.partition(": ")
        if verdict in ("PASS", "FAIL", "ROWS-ONLY"):
            seen[name] = (verdict, detail)
    schemas = json.load(open(SCHEMAS)) if os.path.exists(SCHEMAS) else {}
    con = duckdb.connect()
    bad = {}
    for n in names:
        if n in failed:
            continue
        verdict, detail = seen.get(n, ("MISSING", "no output checked"))
        if verdict == "ROWS-ONLY":
            f = os.path.join(out_dir, n, "*.parquet")
            rows = con.sql(f"SELECT count(*) FROM '{f}'").fetchone()[0]
            schema = [list(r[:2]) for r in con.sql(f"DESCRIBE SELECT * FROM '{f}'").fetchall()]
            if rows == 0:
                bad[n] = "empty output"
            elif not n.startswith("_ctl_") and schemas.get(n) != schema:
                bad[n] = f"schema {schema} != recorded {schemas.get(n)}"
        elif verdict != "PASS":
            bad[n] = f"{verdict} {detail}"
    return bad


def quantile(values, q):
    """Linear-interpolated quantile of a sorted copy of `values`."""
    v = sorted(values)
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def source_digest(classes):
    return os.path.basename(classes).split("-", 1)[1]


def git_sha():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def bench(args):
    declared = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    workloads = json.load(open(args.workload_file))
    if args.workload not in workloads:
        raise BenchError(f"unknown workload {args.workload!r}; "
                         f"known: {', '.join(sorted(workloads))}")
    wl = workloads[args.workload]
    t0 = time.perf_counter()
    timeline = {}
    os.makedirs(BUILD, exist_ok=True)
    classes = build.classes_dir()
    timeline["build_s"] = time.perf_counter() - t0
    data = gen.generate(args.seed, os.path.join(BUILD, "data"))
    timeline["inputs_s"] = time.perf_counter() - t0
    run_dir = os.path.join(BUILD, "runs", args.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    out = os.path.join(run_dir, "out")
    os.makedirs(out)
    shutil.rmtree(os.path.join(BUILD, "scratch"), ignore_errors=True)
    load_start = os.getloadavg()
    deadline = time.perf_counter() + DEADLINE_S
    extra = ["--out", out, "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--budget", str(BUDGET_S), "--min-passes", str(wl.get("min_passes", 1)),
             "--queries", ",".join(wl["queries"]),
             "--artifacts", ",".join(wl.get("artifacts", []))]
    if args.plant_wrong:
        extra += ["--plant-wrong", args.plant_wrong]
    log = os.path.join(run_dir, "main.log")
    setup_s, code = launch(jvm(classes, data, extra), log, deadline)
    if setup_s is None or code != 0:
        raise BenchError(f"benchmark JVM exited with {code}:\n" + tail(log))
    res = json.load(open(os.path.join(out, "result.json")))
    timeline["main_jvm_s"] = time.perf_counter() - t0

    check_failed = dict(res["check_failed"])
    bad = compare(out, data, wl["queries"], check_failed)
    timeline["compare_s"] = time.perf_counter() - t0
    passes = res["passes"]
    untraced = [p for p in passes if not p["traced"]]
    run_errors = sum(len(p["errors"]) for p in passes)
    attempted = len(wl["queries"]) + sum(len(p["queries"]) + len(p["errors"]) for p in passes)
    failed = len(check_failed) + len(bad) + run_errors

    samples = [q["wall_s"] for p in untraced for q in p["queries"].values()]
    p90 = quantile(samples, 0.9)
    if args.trace:
        # the first pass: the same position as the pass an untraced run times
        metrics = {m["name"]: passes[0]["layers"][m["name"]]
                   for m in declared["per_layer"]}
        units = {m["name"]: m["unit"] for m in declared["per_layer"]}
    else:
        metrics = {
            "pass_s": statistics.median(p["wall_s"] for p in untraced),
            "query_p50_s": statistics.median(samples),
            "query_p90_s": p90,
            "setup_s": setup_s,
        }
        units = {m["name"]: m["unit"] for m in declared["end_to_end"]}
    if set(metrics) != set(units):
        raise BenchError(f"metric names {sorted(metrics)} differ from "
                         f"BENCHMARK.json {sorted(units)}")

    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "queries": len(wl["queries"]),
        "artifacts": wl.get("artifacts", []),
        "provenance": {
            "nproc": cores(), "xmx": XMX, "xmx_mb_seen": res["xmx_mb"],
            "git_sha": git_sha(), "source_digest": source_digest(classes),
            "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
            "steal_pct_per_pass": [round(p["steal_pct"], 3) for p in passes],
            "host_ref_s": res["host_ref_s"],
            "inputs": json.load(open(os.path.join(data, "manifest.json")))["rows"],
        },
        "timeline_s": timeline,
        "check_pass_s": res["check_pass_s"],
        "peak_rss_mb": res["vmhwm_mb"],
        "pass_s": [p["wall_s"] for p in passes],
        "passes_traced": [p["traced"] for p in passes],
        "query_samples": len(samples),
        "query_samples_above_p90": sum(s > p90 for s in samples),
        "error_rate": failed / attempted,
        "failures": {**check_failed, **bad,
                     **{k: v for p in passes for k, v in p["errors"].items()}},
    }
    if args.trace:
        report.update(trace_report(passes))
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results",
                           f"{args.workload}_seed{args.seed}_trace{args.trace}.json"), "w") as f:
        json.dump({"report": report, "metrics": metrics, "passes": passes}, f, indent=1)
    print(json.dumps(report))
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}
    print(json.dumps(result))
    return 0 if failed == 0 else 1


def bench_all(args):
    """Runs every workload for one seed and prints each metric with its unit."""
    codes, rows = [], []
    for name in json.load(open(args.workload_file)):
        args.workload = name
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            codes.append(bench(args))
        res = json.loads(buf.getvalue().splitlines()[-1])
        rows += [f"{name:<10} {k:<26} {v['value']:>12.4f} {v['unit']}"
                 for k, v in res["metrics"].items()]
        rows.append(f"{name:<10} {'attempted/failed':<26} {res['attempted']:>7}/{res['failed']}")
    print("\n".join(rows))
    return max(codes)


def trace_report(passes):
    """Tracing overhead and closure: the third pass (traced) against the
    second (untraced), each query's traced construct + plan + execute
    against its untraced wall. Not the first pass: it also pays the cold
    builds of the artifacts that no check-pass query reads. A run that had
    time for only two passes reports no overhead."""
    report = {"construct_jobs_per_query": {n: q["construct_jobs"]
                                           for n, q in passes[0]["queries"].items()}}
    if len(passes) < 3:
        return report
    plain, traced = passes[1]["queries"], passes[2]["queries"]
    common = [n for n in traced if n in plain]
    closure = {n: traced[n]["wall_s"] / plain[n]["wall_s"] for n in common}
    t, u = passes[2]["wall_s"], passes[1]["wall_s"]
    report.update({
        "pass_s_traced": t, "pass_s_untraced": u, "tracing_overhead": t / u - 1,
        "closure_sum_ratio": sum(traced[n]["wall_s"] for n in common) /
                             sum(plain[n]["wall_s"] for n in common),
        "closure_per_query": closure,
    })
    return report


def selftest(args):
    """Planted controls: each must behave as stated or the self-test fails."""
    me = [sys.executable, os.path.abspath(__file__)]
    workloads = json.load(open(WORKLOADS))
    oracled = workloads["warehouse"]["queries"][0]
    results = []

    def run(extra, wfile=None):
        cmd = me + ["--seed", str(args.seed), "--seconds", "1"] + extra
        if wfile:
            cmd += ["--workload-file", wfile]
        r = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
        lines = r.stdout.strip().splitlines()
        return r.returncode, lines

    def check(name, ok, detail=""):
        results.append(ok)
        print(("PASS " if ok else "FAIL ") + name + (f": {detail}" if detail else ""))

    with tempfile.TemporaryDirectory(dir=BUILD) as tmp:
        wfile = os.path.join(tmp, "workloads.json")
        with open(wfile, "w") as f:
            json.dump({
                "controls": {"queries": ["_ctl_eager_collect", "_ctl_pure_scan"]},
                "unknown_query": {"queries": ["b4_tpch_q1", "no_such_query"]},
                "no_query": {"queries": []},
            }, f)
        code, lines = run(["--workload", "controls", "--trace", "1"], wfile)
        rep = json.loads(lines[-2]) if code == 0 and len(lines) >= 2 else {}
        jobs = rep.get("construct_jobs_per_query", {})
        check("eager construct-time collect counts construct.jobs >= 1",
              jobs.get("_ctl_eager_collect", 0) >= 1, str(jobs))
        check("pure scan counts construct.jobs == 0",
              jobs.get("_ctl_pure_scan") == 0, str(jobs))
        final = json.loads(lines[-1]) if lines else {}
        check("traced metric names equal BENCHMARK.json per_layer",
              code == 0 and set(final.get("metrics", {})) ==
              {m["name"] for m in json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["per_layer"]})
        for wl in ("unknown_query", "no_query"):
            code, lines = run(["--workload", wl, "--trace", "0"], wfile)
            check(f"workload {wl} fails the run", code != 0 and not any(
                l.startswith('{"correct"') for l in lines), f"exit {code}")
        code, lines = run(["--workload", "no_such_workload", "--trace", "0"])
        check("unknown workload fails the run", code != 0, f"exit {code}")
    code, lines = run(["--workload", "warehouse", "--trace", "0", "--plant-wrong", oracled])
    final = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else {}
    check(f"planted wrong output of {oracled} fails the run",
          code != 0 and final.get("correct") is False, f"exit {code}, {final.get('failed')} failed")
    print(f"selftest: {sum(results)}/{len(results)} passed")
    return 0 if all(results) else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=4)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    # self-test hooks
    ap.add_argument("--workload-file", default=WORKLOADS, help=argparse.SUPPRESS)
    ap.add_argument("--plant-wrong", help=argparse.SUPPRESS)
    args = ap.parse_args()
    try:
        if args.selftest:
            return selftest(args)
        if not args.workload:
            ap.error("--workload is required")
        if args.workload == "all":
            return bench_all(args)
        return bench(args)
    except (BenchError, build.BuildError, OSError, KeyError, ValueError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1


if __name__ == "__main__":
    sys.exit(main())
