#!/usr/bin/env python3
"""Benchmark of the registered graft queries, run from outside the program.

One run builds the program and the harness if needed, generates the input
tables from --seed, runs one workload in a fresh JVM (closed loop, one
client), checks every query's output against the DuckDB oracle, and prints
one JSON line last:

  python3 perfbench/run.py --workload text_pipeline --seed 1 --seconds 30 --trace 0

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones from
a traced run. A run measures a fixed number of passes (one cold, then
Harness.WarmupPasses and Harness.SteadyPasses), which on a 4-core host last
about 30 s;
--seconds is accepted for the benchmark's command line and does not change
the pass count. Two further modes:

  python3 perfbench/run.py --workload all [--seed N] [--seconds S]
      every workload untraced and traced: each end-to-end metric by name
      with its unit (bounded or not), the oracle tally, the layer split and
      the tracing overhead
  python3 perfbench/run.py --selftest
      injects a throwing query and checks it is reported as failed

Workload definitions, input sizes and session settings: perfbench/workloads.json.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
OUT = os.path.join(HERE, "out")
SPEC = json.load(open(os.path.join(HERE, "workloads.json")))
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
T0 = time.monotonic()
# A single-workload run must end within 180 s, or 900 s when it builds.
DEADLINE_S = 170
# Driver heap, pinned (-Xms = -Xmx) so that heap growth does not vary by run.
HEAP = "2g"
# The bounded times are scaled to a host whose CPU probes read this much.
# Other tenants of a shared host move the probes by up to a third within an
# hour, and the timings with them; scaled, the spread over seeds of a
# workload's cold and steady times falls by a third to a half on a 4-core
# host. Wall times are kept beside them.
REF_PROBE_MS = 500.0

JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench {time.monotonic() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(2)


def cores():
    return len(os.sched_getaffinity(0))


def source_hash():
    """Hash of every input to the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                os.path.join(HARNESS, "src"), os.path.join(HARNESS, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p.encode())
                h.update(open(p, "rb").read())
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt")):
        h.update(open(f, "rb").read())
    return h.hexdigest()


def build():
    """Compiles the program and the harness with sbt; returns the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail("no program sources next to the benchmark (build.sbt, src/main)")
    stamp_dir = os.path.join(OUT, "build")
    stamp, cp_file = os.path.join(stamp_dir, "stamp"), os.path.join(stamp_dir, "classpath")
    want = source_hash()
    if os.path.exists(stamp) and open(stamp).read() == want and os.path.exists(cp_file):
        return open(cp_file).read()
    log("building program and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=os.environ.get("SBT_OPTS") or
               "-Dsbt.override.build.repos=true -Dsbt.repository.config="
               + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export harness/Runtime/fullClasspath"],
                       cwd=HARNESS, env=env, capture_output=True, text=True, timeout=850)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail(f"sbt build failed (exit {r.returncode})")
    os.makedirs(stamp_dir, exist_ok=True)
    open(cp_file, "w").write(lines[-1])
    open(stamp, "w").write(want)
    return lines[-1]


def data_dir(seed):
    """Input tables for `seed`, generated once and reused."""
    sf = SPEC["data"]["scale_factor"]
    d = os.path.join(OUT, "data", f"seed{seed}-sf{sf}")
    done = os.path.join(d, "_COMPLETE")
    if not os.path.exists(done):
        shutil.rmtree(d, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(HERE, "gen_data.py"), d, str(seed), str(sf)],
                       check=True, timeout=120)
        open(done, "w").close()
    return d


def run_harness(cp, wl, seed, trace, timeout, dump=True, inject_throw=False):
    """Runs one workload in a fresh JVM on a fresh scratch root."""
    names = wl["queries"]
    run = os.path.join(OUT, "runs", f"{os.getpid()}-t{int(trace)}")
    shutil.rmtree(run, ignore_errors=True)
    scratch = os.path.join(run, "scratch")
    for sub in ("tmp", "derby"):
        os.makedirs(os.path.join(scratch, sub))
    data = data_dir(seed)
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=scratch,
               SPARK_LOCAL_DIRS=os.path.join(scratch, "spark-local"))
    cmd = (["java"] + JVM_OPENS + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={scratch}/tmp",
        f"-Dderby.system.home={scratch}/derby", "-cp", cp, "perfbench.Harness",
        "--data", data, "--scratch", scratch, "--out", run, "--queries", ",".join(names),
        "--seed", str(seed), "--trace", str(int(trace)), "--cores", str(cores()),
        "--dump", str(int(dump)), "--inject-throw", str(int(inject_throw))])
    with open(os.path.join(run, "jvm.log"), "w") as jlog:
        p = subprocess.Popen(cmd, cwd=scratch, env=env, stdout=jlog, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            fail(f"harness exceeded its time budget; log in {run}/jvm.log")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if code != 0:
        os.system(f"tail -20 {run}/jvm.log >&2")
        fail(f"harness exited {code}; log in {run}/jvm.log")
    log("harness finished")
    res = json.load(open(os.path.join(run, "harness.json")))
    oracle = oracle_check(data, os.path.join(run, "dump"), names) if dump else {}
    shutil.rmtree(scratch, ignore_errors=True)
    shutil.rmtree(os.path.join(run, "dump"), ignore_errors=True)
    return res, oracle


def oracle_check(data, dump, names):
    """Per-query status from the program's own oracle check, tools/check.py."""
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), data, dump],
                       capture_output=True, text=True, timeout=120)
    status = {}
    for line in r.stdout.splitlines():
        parts = line.split()
        if len(parts) >= 2 and not line.startswith(" "):
            status.setdefault(parts[1].rstrip(":"), parts[0])
    return {n: status.get(n, "MISSING-SPARK") for n in names}


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs):
    """The highest percentile with at least 10 samples beyond it."""
    s = sorted(xs)
    if len(s) < 11:
        return float("nan"), 0.0
    return s[len(s) - 11], 100.0 * (len(s) - 10) / len(s)


def summarize(res, oracle):
    execs = res["execs"]
    bad = {x["name"] for x in execs if x["error"]} | {n for n, s in oracle.items() if s != "OK"}
    ok = [x for x in execs if x["name"] not in bad]
    passes = sorted({x["pass"] for x in execs})
    steady_passes = [p for p in passes if p > res["warmup_passes"]]
    pass_s = {p: sum(x["wall_ms"] for x in ok if x["pass"] == p) / 1e3 for p in passes}
    steady = [x["wall_ms"] for x in ok if x["pass"] in steady_passes]
    tail_ms, tail_pct = tail(steady)
    wall = {"setup_s": res["setup_s"], "cold_s": pass_s[0],
            "steady_s": median([pass_s[p] for p in steady_passes])}
    scale = REF_PROBE_MS / statistics.mean(res["probe_ms"].values())
    e2e = {
        "setup_s": (wall["setup_s"] * scale, "s"),
        "cold_s": (wall["cold_s"] * scale, "s"),
        "steady_s": (wall["steady_s"] * scale, "s"),
        "query_p50_ms": (median(steady), "ms"),
        "query_tail_ms": (tail_ms, "ms"),
        "failed_frac": (sum(1 for x in execs if x["name"] in bad) / len(execs), "ratio"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        "scratch_mb": (res["scratch_mb"], "MB"),
    }
    info = {"failed_queries": sorted(bad), "tail_percentile": tail_pct,
            "tail_samples": len(steady), "passes": len(passes),
            "wall_s": wall, "host_scale": scale,
            "probe_ms": res["probe_ms"], "loadavg": res["loadavg"]}
    return e2e, info, bad


def pass_layers(res, bad):
    """Cold and steady layer totals of a traced run: per-execution metrics
    summed over each pass, leaving out every query in `bad`; cold is pass 0,
    steady the median over the passes after the warm-up ones."""
    keys = list(res["execs"][0]["layers"])
    per = {}
    for x in res["execs"]:
        if x["name"] not in bad:
            d = per.setdefault(x["pass"], dict.fromkeys(keys, 0.0) | {"wall.ms": 0.0})
            for k, v in x["layers"].items():
                d[k] += v
            d["wall.ms"] += x["wall_ms"]
    present = res["stores_present"]
    for d in per.values():
        d["jobs.core_util"] = (d["jobs.task_run_ms"] / (d["jobs.ms"] * res["cores"])
                               if d["jobs.ms"] > 0 else 0.0)
        d["stores.reuse_ratio"] = (1.0 - min(d["stores.created"], present) / present
                                   if present else 1.0)
    empty = dict.fromkeys(keys + ["wall.ms", "jobs.core_util", "stores.reuse_ratio"], 0.0)
    steady = [d for p, d in per.items() if p > res["warmup_passes"]]
    return {"cold": per.get(0, empty),
            "steady": {k: median([d[k] for d in steady]) for k in empty} if steady else empty}


def layer_metrics(res, e2e, info, bad):
    """Per-layer totals from a traced run, plus the host probes and the
    end-to-end figures that are reported but not bounded."""
    out = {}
    for phase, ly in pass_layers(res, bad).items():
        for k, v in sorted(ly.items()):
            out[f"{phase}.{k}"] = v
    for k, v in res["probe_ms"].items():
        out[f"host.probe_{k}_ms"] = v
    out["host.loadavg_max"] = max(res["loadavg"])
    out["host.scale"] = info["host_scale"]
    for k, v in info["wall_s"].items():
        out[f"run.{k[:-2]}_wall_s"] = v
    for k in ("query_p50_ms", "failed_frac", "peak_rss_mb", "scratch_mb"):
        out[f"run.{k}"] = e2e[k][0]
    return out


def unit_of(name):
    if "bytes" in name:
        return "B"
    if name.endswith("ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    if name.endswith(("util", "ratio", "frac", "loadavg_max", "scale")):
        return "ratio"
    return "count"


def one(args):
    wl = SPEC["workloads"].get(args.workload)
    if wl is None:
        fail(f"unknown workload {args.workload}; known: {', '.join(SPEC['workloads'])}")
    cp = build()
    # The deadline counts from here: a run that builds may take 900 s.
    res, oracle = run_harness(cp, wl, args.seed, args.trace, timeout=DEADLINE_S - 10)
    e2e, info, bad = summarize(res, oracle)
    log(f"workload {args.workload}: " + ", ".join(f"{k}={v:.4g} {u}" for k, (v, u) in e2e.items()))
    log(f"details: {json.dumps(info)}")
    if bad:
        log("failed queries: " + ", ".join(f"{n} ({oracle.get(n, 'threw')})" for n in sorted(bad)))
    if args.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layer_metrics(res, e2e, info, bad).items()}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": e2e[m["name"]][1]}
                   for m in BENCH["end_to_end"]}
    if not all(math.isfinite(m["value"]) for m in metrics.values()):
        fail(f"a metric is not a finite number: {metrics}")
    failed = sum(1 for x in res["execs"] if x["name"] in bad)
    print(json.dumps({"correct": not bad, "attempted": len(res["execs"]),
                      "failed": failed, "metrics": metrics}))


def all_workloads(args):
    cp = build()
    report = {}
    for name, wl in SPEC["workloads"].items():
        plain, oracle = run_harness(cp, wl, args.seed, False, timeout=600)
        traced, _ = run_harness(cp, wl, args.seed, True, timeout=600, dump=False)
        e2e, info, bad = summarize(plain, oracle)
        # Same seed, same data: the traced run leaves out what the oracle
        # rejected in the untraced one, as well as what threw in either.
        e2e_t, info_t, bad_t = summarize(traced, {n: s for n, s in oracle.items() if n in bad})
        layers = layer_metrics(traced, e2e_t, info_t, bad_t)
        totals = pass_layers(traced, bad_t)
        print(f"== {name} ({len(wl['queries'])} queries, oracle "
              f"{sum(s == 'OK' for s in oracle.values())}/{len(oracle)} OK)")
        for k, (v, u) in e2e.items():
            over = ""
            if k in ("cold_s", "steady_s", "query_p50_ms"):
                over = f"   traced {e2e_t[k][0]:.4g} (overhead {e2e_t[k][0] - v:+.4g} {u})"
            print(f"  {k:<14} {v:12.4f} {u}{over}")
        print(f"  setup_s, cold_s and steady_s are wall times scaled by {info['host_scale']:.4f} "
              f"(probes against {REF_PROBE_MS:.0f} ms); wall: " +
              ", ".join(f"{k} {v:.4f} s" for k, v in info["wall_s"].items()))
        print(f"  query_tail_ms is p{info['tail_percentile']:.1f} of {info['tail_samples']} samples")
        if bad:
            print(f"  FAILED: {', '.join(sorted(bad))}")
        for phase in ("cold", "steady"):
            ly = totals[phase]
            wall = ly.get("wall.ms", 0.0)
            print(f"  {phase}: wall {wall:.0f} ms = build {ly.get('build.ms', 0):.0f} + write "
                  f"{ly.get('write.ms', 0):.0f} = driver {ly.get('driver.ms', 0):.0f} + jobs "
                  f"{ly.get('jobs.ms', 0):.0f}")
        for k, v in layers.items():
            print(f"    {k:<34} {v:16.3f} {unit_of(k)}")
        report[name] = {"e2e": {k: v for k, (v, _) in e2e.items()}, "info": info,
                        "traced": {k: v for k, (v, _) in e2e_t.items()}}
    print(json.dumps(report))


def selftest(args):
    """A query that throws, or whose output the oracle rejects, must be
    reported as failed and left out of every timing and layer total; a run
    that times it as a fast success is wrong."""
    cp = build()
    res, _ = run_harness(cp, SPEC["selftest"], 1, True, timeout=600, dump=False,
                         inject_throw=True)
    injected = "perfbench_injected_throw"
    mismatched = SPEC["selftest"]["queries"][0]
    kept = [x for x in res["execs"] if x["name"] not in (injected, mismatched)]
    cold_ms = sum(x["wall_ms"] for x in kept if x["pass"] == 0)
    errors = [x for x in res["execs"] if x["name"] == injected]
    e2e, info, bad = summarize(res, {mismatched: "VAL-MISMATCH"})
    layers = pass_layers(res, bad)
    checks = {
        "injected query ran in every pass": len(errors) == info["passes"],
        "every injected execution failed": all(x["error"] for x in errors),
        "only the injected and the mismatched query failed": bad == {injected, mismatched},
        "both are listed by name": info["failed_queries"] == sorted(bad),
        "failed_frac counts them":
            abs(e2e["failed_frac"][0] - 1 + len(kept) / len(res["execs"])) < 1e-12,
        "cold_s leaves them out": abs(info["wall_s"]["cold_s"] - cold_ms / 1e3) < 1e-9
            and abs(e2e["cold_s"][0] - info["host_scale"] * cold_ms / 1e3) < 1e-9,
        "steady samples leave them out":
            info["tail_samples"] == sum(x["pass"] > res["warmup_passes"] for x in kept),
        "layer totals leave them out": abs(layers["cold"]["wall.ms"] - cold_ms) < 1e-6
            and abs(layers["cold"]["build.ms"] + layers["cold"]["write.ms"] - cold_ms) < 1e-6,
    }
    for k, v in checks.items():
        print(f"{'ok  ' if v else 'FAIL'} {k}")
    sys.exit(0 if all(checks.values()) else 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=BENCH["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    # A terminated run still stops its JVM (see run_harness's finally).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.selftest:
        selftest(args)
    elif args.workload == "all":
        all_workloads(args)
    elif args.workload:
        one(args)
    else:
        ap.error("--workload or --selftest is required")


if __name__ == "__main__":
    main()
