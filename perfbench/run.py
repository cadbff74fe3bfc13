#!/usr/bin/env python3
"""numaflowspark benchmark: one command, four workloads, checked outputs.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selfcheck

Run from the root of a checkout. The first run builds the program and the
benchmark JVM from source (`sbt launch` in perfbench/); later runs reuse the
build while the sources are unchanged. Build output, generated tables and
per-run results go to `.bench_build/` in the checkout.

Workloads (see BENCHMARK.json for why each was chosen):
  batch_mix       registered batch queries through the noop sink, cold pass
                  then warm passes, each result checked against its DuckDB
                  oracle
  stream_reduce   Pipeline DSL even/odd router + keyed 60 s window, compiled
                  by graft.streaming.Compiler; output ≡ batch twin
  stream_neardup  StreamingNearDup.pairs over seeded documents with planted
                  near-duplicates; pairs ≡ batch MinHash-LSH twin
  serve_sync      ServingEndpoint + UdSource DAG behind POST /v1/process/sync;
                  every body checked

With --trace 0 the last stdout line carries the end-to-end metrics, with
--trace 1 the per-layer ones (from spans recorded around the calls into each
layer). Lines before it are a report for people: provenance, every metric
with its unit, sample counts, and the workload's own figures.
"""
import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import stats  # noqa: E402

WORKLOADS = ("batch_mix", "stream_reduce", "stream_neardup", "serve_sync")
BATCH_SF = 0.01
HEAP = "3g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, cwd, log_path, timeout, env=None):
    """Run cmd in its own process group; kill the whole group on timeout."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def source_digest():
    """Digest of everything the build reads: the program and the benchmark."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def ensure_build():
    """Build once per source state; return the JVM launch arguments."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no program sources here: run from the root of a numaflowspark checkout")
    os.makedirs(BUILD, exist_ok=True)
    digest = source_digest()
    launch = os.path.join(BUILD, "launch.txt")
    stamp = os.path.join(BUILD, "launch.digest")
    if os.path.exists(launch) and os.path.exists(stamp) and open(stamp).read() == digest:
        return open(launch).read().splitlines(), digest
    rc = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                    "launch"], HERE, os.path.join(BUILD, "build.log"), BUILD_TIMEOUT_S)
    built = os.path.join(HERE, "target", "launch.txt")
    if rc != 0 or not os.path.exists(built):
        fail(f"build failed (sbt exit {rc}); see .bench_build/build.log", 3)
    shutil.copyfile(built, launch)
    with open(stamp, "w") as f:
        f.write(digest)
    return open(launch).read().splitlines(), digest


def batch_tables(seed):
    import gen
    base = os.path.join(BUILD, "data")
    d = os.path.join(base, f"seed{seed}-sf{BATCH_SF}")
    if os.path.isdir(base):  # keep a few recent table sets
        old = sorted((os.path.join(base, x) for x in os.listdir(base)), key=os.path.getmtime)
        for x in old[:-3]:
            if x != d:
                shutil.rmtree(x, ignore_errors=True)
    return gen.write(d, seed, BATCH_SF)


def provenance(digest, cores):
    sha = None
    try:  # only when the checkout itself is a git work tree
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
                             capture_output=True, text=True, timeout=10).stdout.split()
        if len(out) == 2 and os.path.samefile(out[0], ROOT):
            sha = out[1]
    except (OSError, subprocess.SubprocessError):
        pass
    return {"host": platform.node(), "nproc": os.cpu_count(), "cores": cores,
            "git_sha": sha, "source_digest": digest[:16], "python": platform.python_version()}


def end_to_end(res):
    lat = res["latency_ms"]
    # batch_mix pools seven unlike queries, whose pooled p50 jumps between
    # the fast and the slow ones; their geometric mean weighs each the same
    typical = statistics.geometric_mean(lat) if res["workload"] == "batch_mix" else stats.percentile(lat, 50)[0]
    return {
        "setup_s": res["setup_s"],
        "cold_s": res["cold_s"],
        "ops_per_s": res["ops_per_s"],
        "latency_ms": typical,
    }


def untraced_history(res, prov):
    """Earlier untraced runs of the same workload, code and core count."""
    path = os.path.join(BUILD, "history.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        rows = [json.loads(x) for x in f if x.strip()]
    return [r for r in rows if r["workload"] == res["workload"] and not r["trace"]
            and r["cores"] == res["cores"]
            and r["provenance"]["source_digest"] == prov["source_digest"]]


def per_layer(res, prov, names, e2e):
    vals = dict(res["layers"])
    vals.update(stats.trace_layers(res))
    vals["host.control_s"] = stats.median(res["control_s"])
    vals["jvm.peak_rss_mb"] = res["peak_rss_mb"]
    untraced = [h["latency_ms"] for h in untraced_history(res, prov) if "latency_ms" in h]
    vals["trace.overhead_frac"] = e2e["latency_ms"] / stats.median(untraced) - 1.0 if untraced else 0.0
    res["extra"]["untraced_runs_for_overhead"] = len(untraced)
    return {n: float(vals.get(n, 0.0)) for n in names}


def report(res, prov, spec, e2e, layers):
    print(f"== {res['workload']} seed={res['seed']} trace={int(res['trace'])} "
          f"seconds={res['seconds']} cores={res['cores']} spark={res['spark_version']}")
    print("provenance " + json.dumps(prov, sort_keys=True))
    print("confs " + json.dumps(res["confs"], sort_keys=True))
    print("host.control_s " + " ".join(f"{x:.4f}" for x in res["control_s"]) + " (start, middle, end)")
    if res["setup_warm_s"]:
        print("setup_warm_s " + " ".join(f"{x:.3f}" for x in res["setup_warm_s"]) +
              " (setup repeated in the warm JVM before the measured phases; not setup_s)")
    n = len(res["latency_ms"])
    for p in (50, 90):
        v, n, beyond = stats.percentile(res["latency_ms"], p)
        rule = "ok" if beyond >= stats.MIN_BEYOND else f"below the {stats.MIN_BEYOND}-beyond rule"
        print(f"latency p{p}: {v:.3f} ms over {n} samples, {beyond} beyond ({rule})")
    tail = stats.highest_supported(n)
    if tail is not None:
        print(f"latency p{tail} (highest supported): {stats.percentile(res['latency_ms'], tail)[0]:.3f} ms")
    print(f"peak_rss_mb {res['peak_rss_mb']:.1f} MB")
    print(f"failed_frac {res['failed'] / max(1, res['attempted']):.6f} "
          f"({res['failed']} of {res['attempted']} checked operations)")
    for note in res["notes"]:
        print(f"  wrong: {note}")
    for k, v in res["extra"].items():
        print(f"{k} {json.dumps(v)}")
    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    for k, v in e2e.items():  # from a traced run: for reading, not comparing
        print(f"{k} {v:.6g} {units[k]}" + (" (traced)" if layers else ""))
    if layers:
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        for k, v in layers.items():
            print(f"{k} {v:.6g} {units[k]}")
        spans = stats.resolve_parents([dict(s) for s in res["spans"]])
        print(f"{'span':<28}{'count':>8}{'total ms':>12}{'self ms':>12}")
        for name, (c, tot, slf) in sorted(stats.self_time_table(spans).items(), key=lambda x: -x[1][2]):
            print(f"{name:<28}{c:>8}{tot:>12.1f}{slf:>12.1f}")


def selfcheck(launch):
    import unittest
    suite = unittest.defaultTestLoader.discover(HERE, pattern="test_*.py")
    ok = unittest.TextTestRunner(verbosity=1).run(suite).wasSuccessful()
    r = subprocess.run(["java"] + launch + [f"-Xmx{HEAP}", "perfbench.Main", "--selfcheck"])
    return ok and r.returncode == 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=os.cpu_count())
    ap.add_argument("--selfcheck", action="store_true")
    a = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(spec_path) as f:
        spec = json.load(f)
    launch, digest = ensure_build()
    if a.selfcheck:
        sys.exit(0 if selfcheck(launch) else 1)
    if not a.workload:
        fail("--workload is required")

    out = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-c{a.cores}-{int(time.time() * 1000)}")
    os.makedirs(out)
    tmp = os.path.join(out, "work", "tmp")
    os.makedirs(tmp)
    data = batch_tables(a.seed) if a.workload == "batch_mix" else ""
    # the program's defaults, and Spark's scratch space inside the checkout
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k != "SPARK_LOCAL_DIRS"}
    cmd = (["java"] + launch +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--out", out, "--data", data, "--cores", str(a.cores)])
    rc = run_group(cmd, ROOT, os.path.join(out, "jvm.log"), JVM_TIMEOUT_S, env)
    shutil.rmtree(os.path.join(out, "work"), ignore_errors=True)
    result_path = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        fail(f"benchmark JVM failed (exit {rc}); see {os.path.relpath(out, ROOT)}/jvm.log", 1)
    with open(result_path) as f:
        res = json.load(f)

    if a.workload == "batch_mix":
        import oracle
        t0 = time.time()
        verdicts = oracle.check(data, os.path.join(out, "results"))
        res["extra"]["oracle_check_s"] = round(time.time() - t0, 3)
        for q, why in sorted(verdicts.items()):
            res["attempted"] += 1
            if why is not None:
                res["failed"] += 1
                res["notes"].append(f"{q}: {why}")

    prov = provenance(digest, a.cores)
    e2e = end_to_end(res)
    layers = per_layer(res, prov, [m["name"] for m in spec["per_layer"]], e2e) if a.trace else None
    report(res, prov, spec, e2e, layers)
    with open(os.path.join(BUILD, "history.jsonl"), "a") as f:
        f.write(json.dumps({"workload": a.workload, "seed": a.seed, "trace": bool(a.trace),
                            "cores": a.cores, "provenance": prov, **e2e}) + "\n")
    metrics = layers if a.trace else e2e
    units = {m["name"]: m["unit"] for m in spec["per_layer" if a.trace else "end_to_end"]}
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
