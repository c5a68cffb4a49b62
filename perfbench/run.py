#!/usr/bin/env python3
"""Benchmark of the Spark retail/corpus system, run from the checkout root.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 5 --trace 0

Builds the program and the benchmark client from source (first run only,
into .bench_build/), generates the input tables, runs the client JVM for
one workload and checks every query's result row count against
perfbench/expected_rows.json. Prints one line per metric, then as its
last line one JSON object: {"correct", "attempted", "failed", "metrics"}.
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones. See perfbench/NOTES.md for the metric definitions.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("analytics", "corpus", "maintain")
DATA_SEED = 42
DEFAULT_SF = 0.01
DRIVER_HEAP = "4g"
ARTIFACTS = ["o12_cc_drive", "eval_gram_index_build", "bloom_bits_build",
             "daily_rollup_build"]
RETAIL_STAGES = ["raw_sales", "dim_calendar", "dim_product", "dim_customer",
                 "fct_sales", "daily_fx_rates", "fct_sales_eur",
                 "agg_country_day"]
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

# End-to-end metric -> unit.
E2E = {"query_p50_s": "s", "query_p90_s": "s", "suite_s": "s",
       "ingest_s": "s", "setup_s": "s", "stored_mb": "MiB",
       "heap_peak_mb": "MiB"}
# Per-layer counter -> (unit, the end-to-end metric it should move).
LAYER = {
    "queries.build_s": ("s", "query_p50_s on analytics"),
    "queries.result_s": ("s", "suite_s on corpus"),
    "queries.count_s": ("s", "none (legacy .count() timing, on record)"),
    "catalyst.analysis_ms": ("ms", "query_p50_s on analytics"),
    "catalyst.optimization_ms": ("ms", "query_p50_s on analytics"),
    "catalyst.planning_ms": ("ms", "query_p50_s on analytics"),
    "catalyst.actions": ("count", "suite_s on corpus, ingest_s on maintain"),
    "sched.jobs": ("count", "query_p50_s on analytics"),
    "sched.stages": ("count", "query_p50_s on analytics"),
    "sched.tasks": ("count", "query_p50_s on analytics"),
    "driver.self_ms": ("ms", "query_p50_s on analytics, ingest_s on maintain"),
    "exec.run_ms": ("ms", "suite_s and query_p90_s on corpus"),
    "exec.cpu_ms": ("ms", "suite_s and query_p90_s on corpus"),
    "exec.gc_ms": ("ms", "suite_s and query_p90_s on corpus"),
    "exec.slot_util": ("ratio", "suite_s and query_p90_s on corpus"),
    "shuffle.read_bytes": ("bytes", "suite_s on corpus, rebuild_s on maintain"),
    "shuffle.write_bytes": ("bytes", "suite_s on corpus, rebuild_s on maintain"),
    "shuffle.records": ("count", "suite_s on corpus, rebuild_s on maintain"),
    "spill.bytes": ("bytes", "suite_s on corpus, rebuild_s on maintain"),
    "broadcast.bytes": ("bytes", "suite_s on corpus, rebuild_s on maintain"),
    "storage.input_bytes": ("bytes", "ingest_s, rebuild_s, stored_mb on maintain"),
    "storage.bytes_written": ("bytes", "ingest_s, rebuild_s, stored_mb on maintain"),
    "storage.files_written": ("count", "ingest_s, rebuild_s, stored_mb on maintain"),
    "storage.scratch_dirs": ("count", "ingest_s, rebuild_s, stored_mb on maintain"),
    "streaming.batches": ("count", "query_p90_s on analytics"),
    "streaming.trigger_ms": ("ms", "query_p90_s on analytics"),
    "streaming.add_batch_ms": ("ms", "query_p90_s on analytics"),
    "streaming.planning_ms": ("ms", "query_p90_s on analytics"),
    "streaming.commit_ms": ("ms", "query_p90_s on analytics"),
    "jvm.gc_ms": ("ms", "query_p90_s"),
    "trace_overhead": ("ratio", "none (traced suite_s / untraced suite_s - 1)"),
}
LAYER.update({f"pipeline.{a}_s": ("s", "ingest_s") for a in ARTIFACTS})
LAYER.update({f"pipeline.retail.{s}_ms": ("ms", "rebuild_s on maintain")
              for s in RETAIL_STAGES})
# Counters summed from the listener record of each traced op.
SUMMED = [k for k in LAYER if k.split(".")[0] in (
    "catalyst", "sched", "driver", "exec", "shuffle", "spill", "broadcast",
    "storage", "streaming") and k != "exec.slot_util"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def sbt_launcher():
    """The sbt launcher jar next to the `sbt` script; started directly, so
    that no JVM of the script's own runs outside .bench_build/."""
    sbt = shutil.which("sbt")
    jar = sbt and os.path.join(os.path.dirname(os.path.realpath(sbt)), "sbt-launch.jar")
    if not jar or not os.path.isfile(jar):
        fail("sbt launcher not found")
    return jar


def sbt_flags():
    """Offline sbt that keeps its own state under .bench_build/; the
    dependency cache and the launcher are only read."""
    return ["-Dsbt.log.noformat=true", "-Dsbt.supershell=false", "-Dsbt.ci=true",
            "-Dsbt.server.forcestart=false", "-Dsbt.offline=true",
            "-Dsbt.override.build.repos=true",
            f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}",
            f"-Dsbt.global.base={BUILD}/sbt-global",
            f"-Dsbt.ivy.home={BUILD}/ivy2", f"-Djna.tmpdir={BUILD}/tmp"]


def source_stamp():
    """Hash of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, ds, fs in os.walk(r)
            for f in fs if "target" not in d.split(os.sep))
        for p in paths:
            if p.endswith((".sbt", ".scala", ".java", ".properties", ".sql")) \
                    or "resources" in p:
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    cp = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.exists(cp) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp).read().strip(), stamp
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["java", "-Xmx3g", "-XX:-UsePerfData",
                            f"-Djava.io.tmpdir={BUILD}/tmp", *sbt_flags(),
                            "-jar", sbt_launcher(), "writeClasspath"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=600)
    if r.returncode != 0 or not os.path.exists(cp):
        fail(f"build failed, see {log}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(cp).read().strip(), stamp


def commit():
    """The checkout's git commit, when it is a git checkout."""
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "none (not a git checkout)"
    return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                          capture_output=True, text=True).stdout.strip()


def ensure_data(sf):
    sys.path.insert(0, HERE)
    import datagen
    d = os.path.join(BUILD, "data", f"sf{sf}-seed{DATA_SEED}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        datagen.generate(tmp, sf, DATA_SEED)
        open(os.path.join(tmp, "_DONE"), "w").close()
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    return d


def java_cmd(cp, work, heap):
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            *opens, "-cp", cp, "graft.perfbench.Main"]


def run_client(cp, args, data, heap, cpus):
    work = os.path.join(BUILD, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "raw.json")
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    env.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    log = os.path.join(BUILD, "logs", f"{args.workload}-seed{args.seed}-trace{args.trace}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    cmd = java_cmd(cp, work, heap) + [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", data, "--work", work, "--out", out]
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=lf,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=170)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"client timed out, see {log}")
    if rc != 0 or not os.path.exists(out):
        fail(f"client exited {rc}, see {log}")
    with open(out) as f:
        raw = json.load(f)
    shutil.rmtree(work, ignore_errors=True)
    return raw


def median(xs):
    return statistics.median(xs) if xs else 0.0


def p90(xs):
    """90th percentile, interpolated between order statistics."""
    if len(xs) < 2:
        return median(xs)
    return statistics.quantiles(xs, n=10, method="inclusive")[-1]


def check(raw, expected):
    """Marks each measured op ok/failed; returns (attempted, failures).
    `expected` maps query -> result rows; None skips the row check."""
    attempted, failures = 0, []
    for rnd in raw["rounds"]:
        if rnd.get("setup_error"):
            attempted += 1
            failures.append((rnd["round"], "setup", rnd["setup_error"]))
        for b in rnd["prebuilt"]:
            attempted += 1
            if b.get("error"):
                b["failed"] = True
                failures.append((rnd["round"], b["name"], b["error"]))
        for op in rnd["ops"]:
            attempted += 1
            err = op.get("error")
            if not err and op["type"] == "query" and expected is not None:
                exp = expected.get(op["name"])
                if op.get("rows") != exp:
                    err = {"class": "RowCountMismatch",
                           "message": f"rows {op.get('rows')} != expected {exp}"}
                    op["error"] = err
            op["failed"] = bool(err)
            if err:
                failures.append((rnd["round"], op["name"], err))
    return attempted, failures


def ops_of(rnd, typ=None):
    return [op for op in rnd["ops"]
            if not op["failed"] and (typ is None or op["type"] == typ)]


def pass_sums(rounds, key, typ=None):
    """Per round, the sum of `key` over the pass's successful ops."""
    return [sum(op[key] for op in ops_of(r, typ)) for r in rounds]


def end_to_end(raw, plain):
    setup_rounds = [r for r in raw["rounds"] if r["kind"] in ("plain", "setup")]
    setups = [r["setup_s"] for r in setup_rounds]
    # Per query, the median of its executions over the measured rounds;
    # the percentiles are taken over these, so one slow round of one query
    # does not move p50.
    execs = {}
    for r in plain:
        for op in ops_of(r, "query"):
            execs.setdefault(op["name"], []).append(op["secs"])
    lat = [median(xs) for xs in execs.values()]
    if raw["workload"] == "maintain":
        ingest = pass_sums(plain, "secs", "build")
    else:
        ingest = [sum(b["secs"] for b in r["prebuilt"]) for r in setup_rounds]
    m = {
        "query_p50_s": (median(lat), len(lat)),
        "query_p90_s": (p90(lat), len(lat)),
        "suite_s": (median(pass_sums(plain, "secs")), len(pass_sums(plain, "secs"))),
        "ingest_s": (median(ingest), len(ingest)),
        "setup_s": (median(setups), len(setups)),
        "stored_mb": (median([r["stored_bytes"] / 1048576 for r in plain]), len(plain)),
        "heap_peak_mb": (max(r["heap_mb"] for r in plain), len(plain)),
    }
    extra = {}
    if raw["workload"] == "maintain":
        reb = [op["secs"] for r in plain for op in ops_of(r, "rebuild")]
        rel = [op["secs"] for r in plain for op in ops_of(r, "query")
               if op["name"] == "pipe_corpus_release"]
        extra["rebuild_s"] = (median(reb), len(reb))
        extra["release_s"] = (median(rel), len(rel))
    return m, extra


def per_layer(raw, cores):
    traced = [r for r in raw["rounds"] if r["kind"] == "traced"]
    plain = [r for r in raw["rounds"] if r["kind"] == "plain"]
    counted = [r for r in raw["rounds"] if r["kind"] == "count"]
    per_round = []
    for r in traced:
        ok = ops_of(r)
        t = {k: sum(op.get("counters", {}).get(k, 0.0) for op in ok) for k in SUMMED}
        wall = sum(op.get("counters", {}).get("job_wall_ms", 0.0) for op in ok)
        t["exec.slot_util"] = t["exec.run_ms"] / (wall * cores) if wall else 0.0
        q = ops_of(r, "query")
        t["queries.build_s"] = sum(op["build_s"] for op in q)
        t["queries.result_s"] = sum(op["result_s"] for op in q)
        t["jvm.gc_ms"] = sum(op["jvm_gc_ms"] for op in ok)
        builds = {op["name"]: op["secs"] for op in ok if op["type"] == "build"}
        builds.update({b["name"]: b["secs"] for b in r["prebuilt"] if not b.get("failed")})
        for a in ARTIFACTS:
            t[f"pipeline.{a}_s"] = builds.get(a, 0.0)
        stages = next((op.get("stages_ms", {}) for op in ok
                       if op["type"] == "rebuild"), {})
        for s in RETAIL_STAGES:
            t[f"pipeline.retail.{s}_ms"] = float(stages.get(s, 0.0))
        per_round.append(t)
    m = {k: (median([t[k] for t in per_round]), len(per_round)) for k in per_round[0]}
    counts = pass_sums(counted, "secs", "query")
    m["queries.count_s"] = (median(counts), len(counts))
    base = median(pass_sums(plain, "secs"))
    traced_suite = median(pass_sums(traced, "secs"))
    m["trace_overhead"] = (traced_suite / base - 1 if base else 0.0, len(per_round))
    notes = {"trace_overhead_base_suite_s": base, "traced_suite_s": traced_suite,
             "query_noop_total_s": median(pass_sums(plain, "secs", "query")),
             "query_count_total_s": median(counts)}
    return m, notes


def spans(raw):
    """Per-op spans (name, start, end, parent, counters) of the traced rounds."""
    out = []
    for r in raw["rounds"]:
        rid = f"round-{r['round']}"
        out.append({"id": rid, "name": f"round {r['round']} ({r['kind']})", "parent": "run"})
        for op in r["ops"]:
            out.append({"id": f"op-{op['id']}", "name": op["name"], "parent": rid,
                        "start_ms": op.get("start_ms"), "end_ms": op.get("end_ms"),
                        "counters": op.get("counters", {}), "error": op.get("error")})
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=DEFAULT_SF,
                    help="input scale (default 0.01; the smoke test uses 0.001)")
    args = ap.parse_args()
    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload}; one of {', '.join(WORKLOADS)}")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no program sources under {ROOT}; run from a full checkout")
    t0 = time.time()
    cp, stamp = build()
    data = ensure_data(args.sf)
    cores = len(os.sched_getaffinity(0))
    expected = None  # row counts are recorded for the default scale only
    if args.sf == DEFAULT_SF:
        with open(os.path.join(HERE, "expected_rows.json")) as f:
            expected = json.load(f)
    raw = run_client(cp, args, data, DRIVER_HEAP, cores)
    attempted, failures = check(raw, expected)
    plain = [r for r in raw["rounds"] if r["kind"] == "plain"]
    e2e, extra = end_to_end(raw, plain)
    lines = dict(e2e, **extra)
    notes = {}
    if args.trace:
        layer, notes = per_layer(raw, cores)
        lines.update(layer)
    units = dict(E2E, rebuild_s="s", release_s="s", **{k: v[0] for k, v in LAYER.items()})
    prov = dict(raw["provenance"], workload=args.workload, seed=args.seed,
                trace=args.trace, source_sha256=stamp[:16], sf=args.sf,
                data_seed=DATA_SEED, wall_s=round(time.time() - t0, 1),
                boot_s=raw["boot_s"], measure_s=raw["measure_s"],
                rounds=len(raw["rounds"]), commit=commit())
    print("provenance " + json.dumps(prov, sort_keys=True))
    for k, (v, n) in lines.items():
        moves = f"  moves {LAYER[k][1]}" if k in LAYER else ""
        print(f"{k:34s} {v:14.4f} {units[k]:6s} n={n}{moves}")
    print(f"{'error_rate':34s} {len(failures) / attempted:14.4f} ratio  n={attempted}")
    for rnd, name, err in failures:
        print(f"FAILED round {rnd} {name}: {err.get('class')}: {err.get('message')}")
    for k, v in notes.items():
        print(f"note {k} = {v:.4f}")
    res_dir = os.path.join(BUILD, "results")
    os.makedirs(res_dir, exist_ok=True)
    stem = os.path.join(res_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump({"provenance": prov, "raw": raw}, f)
    if args.trace:
        with open(stem + ".trace.json", "w") as f:
            json.dump({"provenance": prov, "spans": spans(raw)}, f)
    keys = list(LAYER) if args.trace else list(E2E)
    result = {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": lines[k][0], "unit": units[k]} for k in keys},
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
