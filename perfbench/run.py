"""The repository benchmark: one workload per call.

    python3 perfbench/run.py --workload analytics_warm --seed 1 --seconds 10 --trace 0

Builds the program and the harness (``build.py``), makes the workload's
inputs from the seed under ``<build dir>/runs/``, runs the harness in one JVM
on ``local[nproc]``, checks the outputs, and prints two lines: a ``detail``
JSON object (settings, the workload's own named figures, per-check results)
and, last, ``{"correct", "attempted", "failed", "metrics"}``. Exits 0 only
when every check passed. ``--workload all`` runs the four in turn.
See README.md for the workloads and metrics.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import inputs  # noqa: E402
import stats  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("analytics_warm", "nightly_crawl", "cpms_live", "cpms_phased")
# set-ups per run; setup_s is their median. A traced run reports no
# setup_s, so it sets up once.
SETUPS = 3
# Registry panel of analytics_warm: two queries from each registering
# module; q35, q176 and q177 serve DerivedCache artifacts, q131 a session memo.
PANEL = [
    "q03_join_inner_agg", "q23_dashboard_recent",
    "q24_sessionize", "q69_funnel",
    "q35_dedup_minhash_lsh", "q40_ann_brute",
    "q63_source_caps", "q97_corpus_report",
    "q114_zipf_slope", "q131_bpe_merges",
    "q176_link_graph", "q177_host_rank",
]
CPMS = dict(rate=1000, users=20000, backlog=25000, drains=3, csv_users=400, land_ms=50)
NIGHTLY = dict(shards=2, members=24, hosts=12, append_docs=50)
JAVA_OPTS = ["-Xmx2g", "-Xms2g", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"] + [
    a for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
                "java.nio", "java.util", "java.util.concurrent",
                "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
DEADLINE_S = 170


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def cpu_ticks():
    """(steal, total) CPU ticks from /proc/stat; (0, 0) where unavailable."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7] if len(f) > 7 else 0, sum(f)
    except (OSError, ValueError):
        return 0, 0


def commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0 and r.stdout.strip():
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "src-sha256:" + build.source_digest()


def nightly_inputs(seed, d):
    """Corpus, crawl and append slice of the two nights."""
    base = inputs.corpus(os.path.join(d, "nightly-corpus"), shuffle_seed=seed)
    warc = os.path.join(d, "warc")
    inputs.warc(warc, NIGHTLY["shards"], NIGHTLY["members"], NIGHTLY["hosts"], seed)
    extra = os.path.join(d, "append")
    inputs.warc(extra, 1, NIGHTLY["members"], NIGHTLY["hosts"], seed,
                first_shard=NIGHTLY["shards"])
    os.makedirs(os.path.join(extra, "docs"), exist_ok=True)
    docs = inputs.append_docs(os.path.join(extra, "docs"), 42, NIGHTLY["append_docs"])
    return {"base_corpus": base, "base_warc": warc, "append_docs": docs,
            "append_warc": os.path.join(extra, f"shard-{NIGHTLY['shards']:05d}.warc.gz"),
            "nightly_expected": os.path.join(HERE, "expected", "nightly_rows.json")}


def make_inputs(workload, seed, trace, d):
    """Inputs and harness options for one workload."""
    os.makedirs(d, exist_ok=True)
    if workload == "analytics_warm":
        opts = {"corpus": inputs.corpus(os.path.join(d, "corpus")),
                "panel": ",".join(PANEL),
                "expected": os.path.join(HERE, "expected", "analytics_digests.json")}
        # the traced run also runs the two nights
        return dict(opts, **nightly_inputs(seed, d)) if trace else opts
    if workload == "nightly_crawl":
        return nightly_inputs(seed, d)
    csv_dir = os.path.join(d, "csv")
    inputs.cpms_csvs(csv_dir, seed, CPMS["csv_users"])
    return {"csv": csv_dir, "rate": CPMS["rate"], "users": CPMS["users"],
            "backlog": CPMS["backlog"], "drains": CPMS["drains"], "land_ms": CPMS["land_ms"]}


def reduce(workload, raw, spec, trace):
    e = raw["e2e"]
    op = e["op_ms"]
    tail_v, tail_p, tail_n = stats.tail(op)
    values = {
        "setup_s": stats.median(e["setup_s"]),
        "op_iqm_ms": stats.iqm(op),
        "op_tail_ms": tail_v,
        "pass_s": stats.median(e["pass_s"]),
        "rss_peak_mb": e["rss_peak_mb"],
        "disk_mb": e["disk_mb"],
    }
    d = raw["detail"]
    failed, attempted = raw["failed"], max(1, raw["attempted"])
    named = {"setup_s": values["setup_s"], "error_rate": failed / attempted,
             "rss_peak_mb": values["rss_peak_mb"], "disk_mb": values["disk_mb"]}
    if workload == "analytics_warm":
        named.update(analytics_total_s=d["analytics_total_s"],
                     analytics_geomean_ms=d["analytics_geomean_ms"])
    elif workload.startswith("cpms_"):
        sv = stats.tail(d["serve_ms"])
        named.update(ingest_freshness_p50_s=stats.median(op) / 1000,
                     ingest_freshness_tail_s=tail_v / 1000,
                     ingest_runs=d["runs_live"],
                     ingest_capacity_eps=d["ingest_capacity_eps"],
                     serve_p50_ms=stats.median(d["serve_ms"]), serve_tail_ms=sv[0],
                     serve_tail_percentile=sv[1], serve_samples=sv[2])
    if "nightly_cold_s" in d:
        named.update(nightly_cold_s=d["nightly_cold_s"], nightly_append_s=d["nightly_append_s"])
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    if not trace:
        metrics = {m["name"]: values[m["name"]] for m in spec["end_to_end"]}
    else:
        layers = dict(raw["layers"])
        layers["trace_overhead_share"] = d["trace_bookkeeping_s"] / d["measured_s"]
        metrics = {m["name"]: float(layers.get(m["name"], 0.0)) for m in spec["per_layer"]}
    out = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
    named.update(op_p50_ms=stats.median(op), op_tail_percentile=tail_p, op_samples=tail_n)
    return out, named


def run_one(workload, seed, seconds, trace, expected=None):
    t_start = time.time()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    n = cores()
    load0 = os.getloadavg()
    ticks0 = cpu_ticks()
    cp = build.build(quiet=True)
    scratch = os.path.join(build.build_dir(), "runs", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(os.path.join(scratch, "tmp"))
    try:
        opts = make_inputs(workload, seed, trace, os.path.join(scratch, "inputs"))
        if expected is not None:
            opts["expected"] = expected
        for k in ("expected", "nightly_expected"):
            if not os.path.exists(opts.get(k, "")):
                opts.pop(k, None)  # first run: record, check nothing
        out = os.path.join(scratch, "result.json")
        traces = os.path.join(build.build_dir(), "traces")
        os.makedirs(traces, exist_ok=True)
        args = {"workload": workload, "seed": seed, "seconds": seconds,
                "trace": 1 if trace else 0, "cores": n, "scratch": scratch,
                "setups": 1 if trace else SETUPS, "out": out,
                "spans": os.path.join(traces, f"{workload}-seed{seed}.jsonl"), **opts}
        cmd = ["java"] + JAVA_OPTS + [f"-Djava.io.tmpdir={scratch}/tmp", "-cp", cp,
                                      "perfbench.Main"]
        for k, v in args.items():
            cmd += [f"--{k}", str(v)]
        env = dict(os.environ, SPARK_GRAFT_CACHE_DIR=os.path.join(scratch, "store"),
                   SPARK_LOCAL_DIRS=os.path.join(scratch, "spark-local"),
                   TMPDIR=os.path.join(scratch, "tmp"))
        left = DEADLINE_S - (time.time() - t_start)
        log = open(os.path.join(scratch, "harness.log"), "w")
        p = subprocess.Popen(cmd, cwd=scratch, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=max(10, left))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"{workload}: harness exceeded the time limit")
        finally:
            log.close()
        if p.returncode != 0 or not os.path.exists(out):
            sys.stderr.write(open(os.path.join(scratch, "harness.log")).read()[-4000:])
            raise SystemExit(f"{workload}: harness failed with code {p.returncode}")
        raw = json.load(open(out))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    metrics, named = reduce(workload, raw, spec, trace)
    load1 = os.getloadavg()
    ticks1 = cpu_ticks()
    total = ticks1[1] - ticks0[1]
    bad = [c for c in raw["checks"] if not c["ok"]]
    detail = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "commit": commit(), "nproc": n, "load_avg_start": load0, "load_avg_end": load1,
        "host_loaded_at_start": load0[0] > n,
        "cpu_steal_share": (ticks1[0] - ticks0[0]) / total if total else 0.0, "spark_conf": raw["settings"]["spark_conf"],
        "jvm_flags": raw["settings"]["jvm_flags"],
        "spark_version": raw["settings"]["spark_version"], "named": named,
        "figures": {k: v for k, v in raw["detail"].items() if not isinstance(v, list)},
        "checks_passed": len(raw["checks"]) - len(bad), "checks_failed": bad,
        "wall_s": time.time() - t_start}
    correct = not bad and raw["failed"] == 0
    return {"correct": correct, "attempted": int(max(1, raw["attempted"])),
            "failed": int(raw["failed"]), "metrics": metrics}, detail


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--expected", help="override the expected-output file (self-tests)")
    a = ap.parse_args(argv)
    todo = WORKLOADS if a.workload == "all" else (a.workload,)
    results = []
    for w in todo:
        res, detail = run_one(w, a.seed, a.seconds, bool(a.trace), a.expected)
        print(json.dumps({"detail": detail}), flush=True)
        results.append(res)
    if len(results) == 1:
        final = results[0]
    else:
        final = {"correct": all(r["correct"] for r in results),
                 "attempted": sum(r["attempted"] for r in results),
                 "failed": sum(r["failed"] for r in results),
                 "metrics": {f"{w}.{k}": v for w, r in zip(todo, results)
                             for k, v in r["metrics"].items()}}
    print(json.dumps(final), flush=True)
    return 0 if final["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
