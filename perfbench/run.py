#!/usr/bin/env python3
"""The repository's benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It builds the engine and the harness
from source (first run only; the classpath is cached under
``.perfbench_build/`` and rebuilt when a source changes), generates the
workload's inputs from the seed, runs the harness JVM, checks every output
and prints, as the last line, ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics of BENCHMARK.json with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The line before it records the
seed, the input digest and the mix order. See README.md for what is
measured and why.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402

DEADLINE_S = 170        # a run must end within 180 s once built
BUILD_DEADLINE_S = 800  # the first run of a checkout builds (900 s)
GEN_REPEATS = 3         # set-up repeats input generation; the median counts

# The query mix, each query tagged with the layer that does most of its work.
# The analyst read path over the star schema: a window, an ordered fold, an
# as-of join, a range join, salted skew aggregation, grouped top-k, the
# marchmania team-season aggregates, and two queries that share one
# SpineCache spine (the daily revenue series; the first of them in a pass
# builds it). Latency here is per-query planning, codegen and scheduling.
RELATIONAL = [
    ("q07_latest_per_user", "operators"),
    ("q15_ewma_fold", "operators"),
    ("q37_asof_last_purchase", "operators"),
    ("q89_range_join", "operators"),
    ("q57_salted_skew_agg", "operators"),
    ("q50_grouped_topk", "plans"),
    ("q16_team_season_stats", "marchmania"),
    ("q1137_geweke_diagnostic", "sources"),
    ("q1138_batch_means_ess", "sources"),
]
# The curation path over the corpus: a per-row sketch kernel (MinHash),
# the tokenizer's vocabulary count, incremental dedup against an
# already-kept set, filtered vector search. Here the kernels and the
# dedup/similarity work dominate.
CORPUS = [
    ("q27_minhash_signatures", "functions"),
    ("q46_vocabulary", "text"),
    ("q73_incremental_dedup", "dedup"),
    ("q80_filtered_ann", "sim"),
]
MIX = RELATIONAL + CORPUS
QUERY_LAYERS = ["operators", "plans", "marchmania", "sources", "functions", "text", "dedup", "sim"]
PIPELINE_STAGES = {  # traced span name -> per-layer metric
    "sources.ingest": "sources.ingest_s", "sources.export": "sources.export_s",
    "marchmania.stats": "marchmania.stats_s", "marchmania.elo": "marchmania.elo_s",
    "marchmania.rolling": "marchmania.rolling_s", "marchmania.gold": "marchmania.gold_s",
    "ml.backtest": "ml.backtest_s", "ml.fit": "ml.fit_s",
}

# Same module-access flags as the repository's build.sbt: Spark on JDK 17
# outside spark-submit needs them.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
# The rest as there too, but with a fixed heap, touched up front, so that
# peak RSS reads the same from run to run.
JVM_OPTS = ADD_OPENS + ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
                        "-XX:ReservedCodeCacheSize=512m",
                        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


class BenchError(Exception):
    pass


def spec():
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def mix_order(seed):
    """The query mix in the order `seed` fixes."""
    entries = list(MIX)
    random.Random(seed).shuffle(entries)
    return entries


def percentile(values, q):
    """Linear-interpolated `q`-th percentile (0..100) of `values`."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def error_rate(failed, attempted):
    return failed / attempted if attempted else 1.0


def overhead_pct(traced_walls, walls):
    """How much longer the median traced iteration took, in %."""
    return 100.0 * (statistics.median(traced_walls) / statistics.median(walls) - 1)


# ---------------------------------------------------------------- build

def _sources():
    for base in (ROOT / "src" / "main", HERE / "harness" / "src"):
        yield from sorted(p for p in base.rglob("*") if p.is_file())
    for p in (ROOT / "build.sbt", ROOT / "project" / "build.properties",
              HERE / "harness" / "build.sbt", HERE / "harness" / "project" / "build.properties"):
        if p.is_file():
            yield p


def source_stamp():
    h = hashlib.sha256()
    for p in _sources():
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    return h.hexdigest()


def classpath():
    """The harness classpath, built with sbt unless the cache is current."""
    cache = ROOT / ".perfbench_build" / "classpath.json"
    stamp = source_stamp()
    if cache.is_file():
        cached = json.loads(cache.read_text())
        if cached["stamp"] == stamp and all(
                os.path.exists(p) for p in cached["classpath"].split(os.pathsep)):
            return cached["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    # the compiler recurses deep on the long query registry: big stack
    cmd = ["sbt", "-batch", "-J-Xss16m", "-J-XX:-UsePerfData", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false", "export Runtime / fullClasspath"]
    p = subprocess.run(cmd, cwd=HERE / "harness", env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=BUILD_DEADLINE_S)
    lines = [ln for ln in p.stdout.splitlines() if ln and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise BenchError(f"build failed (sbt exit {p.returncode})")
    cache.parent.mkdir(exist_ok=True)
    cache.write_text(json.dumps({"stamp": stamp, "classpath": lines[-1]}))
    return lines[-1]


# ---------------------------------------------------------------- run

def generate(workload, seed, run_dir):
    """Generates the inputs GEN_REPEATS times; returns (dir, median s,
    digest, whether every repeat was byte-identical to the first)."""
    times, digests = [], []
    for i in range(GEN_REPEATS):
        out = run_dir / f"gen{i}"
        t0 = time.perf_counter()
        gen.GENERATORS[workload](seed, str(out))
        times.append(time.perf_counter() - t0)
        digests.append(gen.digest(str(out)))
        if i:
            shutil.rmtree(out)
    deterministic = len(set(digests)) == 1
    if not deterministic:
        print("check failed: input generation is not deterministic", file=sys.stderr)
    return run_dir / "gen0", statistics.median(times), digests[0], deterministic


def run_jvm(cp, jvm_args, run_dir, deadline):
    """Runs the harness; returns (seconds from launch to READY, result)."""
    tmp = run_dir / "tmp"
    tmp.mkdir()
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={tmp}", "-cp", cp, "graft.perfbench.Main",
           *[f"{k}={v}" for k, v in jvm_args.items()]]
    log = open(run_dir / "jvm.log", "w")
    t0 = time.perf_counter()
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, stderr=log, text=True)
    timer = threading.Timer(max(1.0, deadline - time.monotonic()), proc.kill)
    timer.start()
    ready_s, result = None, None
    try:
        for line in proc.stdout:
            if line.strip() == "READY":
                ready_s = time.perf_counter() - t0
            elif line.startswith("RESULT "):
                result = json.loads(line[len("RESULT "):])
        proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        log.close()
    if proc.returncode != 0 or result is None or ready_s is None:
        sys.stderr.write((run_dir / "jvm.log").read_text()[-4000:])
        raise BenchError(f"harness JVM exit {proc.returncode}")
    return ready_s, result


def check_outputs(verify_dir, input_dir, names, deadline):
    """{query: failure reason or None}. The repository's correctness gate,
    tools/check.py, compares each saved result with its DuckDB oracle run
    over the same inputs, and checks that a query without one returns rows."""
    artifact = verify_dir / "check.json"
    subprocess.run([sys.executable, str(ROOT / "tools" / "check.py"), str(verify_dir),
                    str(input_dir), str(artifact)], stdout=sys.stderr, stderr=sys.stderr,
                   timeout=max(1.0, deadline - time.monotonic()))
    found = json.loads(artifact.read_text())["queries"] if artifact.is_file() else {}
    return {n: None if found.get(n, {}).get("status") == "ok"
            else found.get(n, {}).get("reason") or "no output or empty result"
            for n in names}


def mix_metrics(res, verdicts, trace):
    """(attempted, failed, metrics) of a query_mix run."""
    timed = [r for p in res["passes"] for r in p]
    traced = [r for p in res["traced"] for r in p["runs"]]
    runs = res["cold"] + timed + traced
    attempted = len(runs) + len(verdicts)
    failed = (sum(r["error"] is not None for r in runs)
              + sum(v is not None for v in verdicts.values()))
    walls = [sum(r["s"] for r in p) for p in res["passes"]]
    for i, r in enumerate(res["cold"]):
        warm = statistics.median(p[i]["s"] for p in res["passes"])
        print(f"{r['name']:32s} {r['layer']:10s} cold {r['s']:7.3f} s  warm {warm:7.3f} s",
              file=sys.stderr)
    if not trace:
        lat = [r["s"] for r in timed]
        return attempted, failed, {
            "wall_s": statistics.median(walls),
            "cold_wall_s": sum(r["s"] for r in res["cold"]),
            "query_p50_s": percentile(lat, 50), "query_p90_s": percentile(lat, 90),
        }
    m = {}
    for layer in QUERY_LAYERS:
        m[f"{layer}.query_s"] = statistics.median(
            sum(r["s"] for r in p["runs"] if r["layer"] == layer) for p in res["traced"])
    m["sources.spine_builds"] = statistics.median(p["spine_builds"] for p in res["traced"])
    for k in res["traced"][0]["counters"]:
        m[k] = statistics.median(p["counters"][k] for p in res["traced"])
    traced_walls = [sum(r["s"] for r in p["runs"]) for p in res["traced"]]
    m["trace.overhead_pct"] = overhead_pct(traced_walls, walls)
    return attempted, failed, m


def pipeline_metrics(res, trace):
    """(attempted, failed, metrics) of a pipeline run."""
    iters = res["iterations"] + res["traced"]
    attempted = 1 + len(iters)
    failed = int(bool(res["cold_failures"])) + sum(bool(i["failures"]) for i in iters)
    for msg in res["cold_failures"] + [f for i in iters for f in i["failures"]]:
        print(f"pipeline check failed: {msg}", file=sys.stderr)
    walls = [i["s"] for i in res["iterations"]]
    if not trace:
        jobs = [ms / 1e3 for i in res["iterations"] for ms in i["job_ms"]]
        return attempted, failed, {
            "wall_s": statistics.median(walls), "cold_wall_s": res["cold_s"],
            "query_p50_s": percentile(jobs, 50), "query_p90_s": percentile(jobs, 90),
        }
    tr = res["traced"]
    m = {metric: statistics.median(i["stages"][span] for i in tr)
         for span, metric in PIPELINE_STAGES.items()}
    for k in tr[0]["counters"]:
        m[k] = statistics.median(i["counters"][k] for i in tr)
    m["ml.backtest_folds"] = statistics.median(i["folds"] for i in tr)
    m["sources.write_mb"] = statistics.median(i["write_bytes"] for i in tr) / 1e6
    m["sources.write_files"] = statistics.median(i["write_files"] for i in tr)
    m["lake_write_amp"] = statistics.median(i["write_bytes"] for i in tr) / res["input_bytes"]
    traced_walls = [i["s"] for i in tr]
    m["trace.overhead_pct"] = overhead_pct(traced_walls, walls)
    return attempted, failed, m


def run(workload, seed, seconds, trace):
    t_start = time.monotonic()
    wanted = spec()["per_layer" if trace else "end_to_end"]
    if workload not in gen.GENERATORS:
        raise BenchError(f"unknown workload {workload}")
    needed = [ROOT / "build.sbt", ROOT / "src" / "main" / "scala" / "graft", ROOT / "tools" / "check.py"]
    if not all(p.exists() for p in needed):
        raise BenchError("not a checkout of the engine: " + ", ".join(
            str(p.relative_to(ROOT)) for p in needed if not p.exists()) + " missing")
    cp = classpath()
    deadline = time.monotonic() + DEADLINE_S
    run_dir = ROOT / ".perfbench_runs" / f"{workload}-{seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    try:
        input_dir, gen_s, digest, deterministic = generate(workload, seed, run_dir)
        jvm_args = {"workload": workload, "input": input_dir, "work": run_dir / "work",
                    "seconds": seconds, "trace": int(trace), "run_id": f"{workload}-{seed}",
                    "trace_out": ROOT / ".perfbench_out" / f"trace-{workload}-{seed}.jsonl"}
        order = []
        if workload == "pipeline":
            exp = gen.expected_pipeline()
            jvm_args["expect"] = ";".join(f"{k}={v}" for k, v in exp.items())
        else:
            order = mix_order(seed)
            jvm_args["queries"] = ",".join(f"{n}:{layer}" for n, layer in order)
        # the mix keeps ~15 s for the output checks after the JVM
        ready_s, res = run_jvm(cp, jvm_args, run_dir,
                               deadline - (0 if workload == "pipeline" else 15))
        if workload == "pipeline":
            attempted, failed, m = pipeline_metrics(res, trace)
        else:
            verdicts = check_outputs(run_dir / "work" / "verify", input_dir,
                                     [n for n, _ in order], deadline)
            for name, why in sorted(verdicts.items()):
                if why is not None:
                    print(f"check failed: {name}: {why}", file=sys.stderr)
            attempted, failed, m = mix_metrics(res, verdicts, trace)
        attempted, failed = attempted + 1, failed + (not deterministic)
        m["setup_s"] = gen_s + ready_s
        m["peak_rss_mb"] = res["peak_rss_mb"]
        m["spark.codegen_compile_s"] = res["compile"]["spark.codegen_compile_s"]
        m["jvm.jit_s"] = res["compile"]["jvm.jit_s"]
        m["error_rate"] = error_rate(failed, attempted)
        metrics = {d["name"]: {"value": float(m.get(d["name"], 0.0)), "unit": d["unit"]}
                   for d in wanted}
        print(json.dumps({"workload": workload, "seed": seed, "input_sha256": digest,
                          "order": [n for n, _ in order],
                          "elapsed_s": round(time.monotonic() - t_start, 1)}))
        return {"correct": failed == 0, "attempted": attempted, "failed": failed,
                "metrics": metrics}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = run(a.workload, a.seed, a.seconds, bool(a.trace))
    except (BenchError, subprocess.TimeoutExpired, OSError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
