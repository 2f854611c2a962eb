#!/usr/bin/env python3
"""graft workload benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace 0 --repeat 5

Run from the root of a graft checkout. The first run builds graft from
source together with the benchmark's JVM side (perfbench/build.sbt); inputs
are generated from the seed (perfbench/gen.py) and cached per seed. The
run itself is one JVM (perfbench/src) with Spark at local[nproc].

The last stdout line is one JSON object: correct, attempted, failed and
metrics — the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1. The exit code is non-zero when any op fails or any
output check fails. --repeat N runs seeds n..n+N-1 and prints each
metric's median and quartiles across the runs.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
CACHE = os.path.join(HERE, ".cache")
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ["tag_full", "curate_cdc", "serve_hybrid", "tag_delta"]

END_TO_END = {  # name -> unit
    "setup_s": "s", "wall_s": "s", "op_p50_s": "s", "rows_per_s": "1/s",
    "cpu_s": "s", "store_bytes_per_row": "B/row",
}
# in every run record, but not end-to-end metrics of BENCHMARK.json
# (README.md, "End-to-end metrics" says why)
RECORD_UNITS = {"peak_rss_mb": "MB", "ops_failed_frac": "ratio", "recall_at_10": "ratio"}

SPANS = ["rules.catalog_load", "sources.quality_gate", "engine.tag_assignments",
         "merge.memory_merge", "merge.merge_existing", "sources.snapshot_keys",
         "sources.snapshot_upsert", "sources.snapshot_validate",
         "dedup.minhash_signature", "streaming.sig_candidates", "streaming.sig_append",
         "queries.clean_incremental", "functions.bpe_encode", "queries.corpus_pipeline",
         "similarity.text_search", "similarity.pq_search", "queries.hybrid_rrf"]
SPAN_COUNTERS = {"wall_s": "s", "cpu_s": "s", "tasks": "count", "input_mb": "MB",
                 "shuffle_mb": "MB", "spill_mb": "MB"}
LAYER_EXTRAS = {
    "engine.tag_assignments.rows_out": "count",
    "sources.snapshot_keys.read_frac": "ratio",
    "sources.snapshot_keys.read_base_mb": "MB",
    "sources.snapshot_upsert.buckets_touched": "count",
    "sources.snapshot_upsert.write_amp": "ratio",
    "sources.snapshot_upsert.write_base_mb": "MB",
    "streaming.sig_candidates.pairs": "count",
    "streaming.sig_candidates.read_frac": "ratio",
    "streaming.sig_candidates.read_base_mb": "MB",
    "similarity.text_search.read_frac": "ratio",
    "similarity.text_search.read_base_mb": "MB",
    "similarity.pq_search.read_frac": "ratio",
    "similarity.pq_search.read_base_mb": "MB",
    "queries.hybrid_rrf.recall_at_10": "ratio",
    **{f"queries.stage.{s}_s": "s"
       for s in ["clean", "decontaminate", "scrub", "mix", "shard", "pack"]},
    "trace.coverage": "ratio",
    "trace.overhead_frac": "ratio",
}
PER_LAYER = {**{f"{s}.{c}": u for s in SPANS for c, u in SPAN_COUNTERS.items()},
             **LAYER_EXTRAS}

# tag_full and serve_hybrid fit in 180 s a run;
# tag_delta and curate_cdc ops cost 10-30 s each (README.md, "Sizing")
RUN_TIMEOUT_S = {"tag_full": 170, "serve_hybrid": 170, "tag_delta": 600, "curate_cdc": 900}
BUILD_TIMEOUT_S = 840


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    for top in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_child(cmd, cwd, env, timeout, out_path):
    """Run `cmd` in its own process group; stdout+stderr to out_path.
    The whole group is killed on timeout, and always waited for."""
    with open(out_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
        finally:
            try:
                os.killpg(p.pid, signal.SIGKILL)  # stray children of the group
            except ProcessLookupError:
                pass


def build():
    """Compile graft + the benchmark's JVM side once per source digest; returns the
    runtime classpath."""
    digest = sources_digest()
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(cp_file):
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building graft and the benchmark (sbt compile)")
    t = time.time()
    out = os.path.join(BUILD, "sbt.log")
    rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                    "compile", "export Runtime/fullClasspath"],
                   HERE, env, BUILD_TIMEOUT_S, out)
    lines = open(out).read().splitlines()
    if rc != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit(f"build failed (exit {rc})")
    cp = [l for l in lines if not l.startswith("[") and "scala-2.13/classes" in l][-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t:.0f} s")
    return cp


def java_cmd(cp, heap):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    cmd = ["java", f"-Xmx{heap}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in opens:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    return cmd + ["-cp", cp]


def load1():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def run_once(cp, workload, seed, seconds, trace, fail_op=None):
    t = time.time()
    inputs = gen.ensure(CACHE, workload, seed)
    gen_s = time.time() - t
    cores = len(os.sched_getaffinity(0))  # nproc
    load = load1()
    work = os.path.join(WORK, f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = java_cmd(cp, "3g") + [f"-Djava.io.tmpdir={work}/tmp", "graftbench.BenchMain",
                                "--workload", workload, "--inputs", inputs, "--work", work,
                                "--seconds", str(seconds), "--trace", str(trace),
                                "--cores", str(cores)]
    if fail_op is not None:
        cmd += ["--fail-op", str(fail_op)]
    log_path = os.path.join(WORK, f"{workload}-{seed}-{os.getpid()}.log")
    try:
        rc = run_child(cmd, ROOT, dict(os.environ), RUN_TIMEOUT_S[workload], log_path)
        lines = open(log_path).read().splitlines()
        rec = [l for l in lines if l.startswith("GRAFTBENCH ")]
        if rc != 0 or not rec:
            sys.stderr.write("\n".join(lines[-40:]) + "\n")
            raise SystemExit(f"benchmark JVM failed (exit {rc})")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    os.remove(log_path)
    r = json.loads(rec[-1][len("GRAFTBENCH "):])
    r.update(seed=seed, trace=trace, load1_start=load, cores=cores,
             quiet_host=load < 1.5, input_gen_s=round(gen_s, 3))
    return r


def result_line(r, trace):
    want = PER_LAYER if trace else END_TO_END
    missing = sorted(set(want) - set(r["metrics"]))
    if missing:
        raise SystemExit(f"run reported no value for {missing}")
    return {"correct": bool(r["correct"]), "attempted": int(r["attempted"]),
            "failed": int(r["failed"]),
            "metrics": {k: {"value": r["metrics"][k], "unit": u} for k, u in want.items()}}


def print_record(r, trace):
    units = PER_LAYER if trace else {**END_TO_END, **RECORD_UNITS}
    print(f"workload={r['workload']} seed={r['seed']} trace={trace} ops={r['op_count']} "
          f"attempted={r['attempted']} failed={r['failed']} load1_start={r['load1_start']} "
          f"quiet_host={str(r['quiet_host']).lower()} input_gen_s={r['input_gen_s']}")
    print(f"  session_s={r['session_s']:.3f} setup_builds_s={[round(x, 3) for x in r['setup_builds_s']]} "
          f"warmup_s={r['warmup_s']:.3f} op_latencies_s={[round(x, 3) for x in r['op_latencies_s']]}")
    for k in sorted(r["metrics"]):
        print(f"  {k} = {r['metrics'][k]} {units[k]}")
    for e in r["errors"]:
        print(f"  CHECK FAILED: {e}")


def repeat(cp, args):
    runs = []
    for i in range(args.repeat):
        r = run_once(cp, args.workload, args.seed + i, args.seconds, args.trace)
        print_record(r, args.trace)
        runs.append(r)
    summary = {}
    for k in sorted(runs[0]["metrics"]):
        vals = [x["metrics"][k] for x in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (vals[0],) * 3
        summary[k] = {"median": med, "q1": q1, "q3": q3,
                      "iqr_frac": (q3 - q1) / med if med else None}
        print(f"{k}: median={med:.6g} q1={q1:.6g} q3={q3:.6g} iqr/median={summary[k]['iqr_frac']}")
    ok = all(x["correct"] and x["failed"] == 0 for x in runs)
    print(json.dumps({"correct": ok, "attempted": sum(x["attempted"] for x in runs),
                      "failed": sum(x["failed"] for x in runs), "repeat": summary}))
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--repeat", type=int, default=0)
    ap.add_argument("--fail-op", type=int, default=None,
                    help="make op k fail (tests the failure accounting)")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log(f"no graft sources under {ROOT}/src/main/scala/graft: run from a graft checkout")
        return 2
    cp = build()
    if args.repeat:
        return repeat(cp, args)
    r = run_once(cp, args.workload, args.seed, args.seconds, args.trace, args.fail_op)
    print_record(r, args.trace)
    line = result_line(r, args.trace)
    print(json.dumps(line))
    return 0 if line["correct"] and line["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
