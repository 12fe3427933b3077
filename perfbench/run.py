#!/usr/bin/env python3
"""graft benchmark: four workloads, end-to-end and per-layer metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark's JVM side (`perfbench/jvm`, sbt, offline) into `perfbench/jvm/target`.
The input tables are fixed: `perfbench/data/sf<sf>` holds byte copies of
the seed-42 tables graft's tests read. The seed permutes op order within
each pass. Each run is a fresh JVM at local[nproc]: session set-up, one
cold pass that writes every op's result, then warm passes for about
`--seconds`; after the JVM exits, the written results go through the
DuckDB oracle gate (`oracle.py`). The last stdout line is one JSON
object: end-to-end metrics with `--trace 0`, per-layer metrics with
`--trace 1` (which also writes a span profile under
`perfbench/work/traces`; compare two with `profile_diff.py`). See NOTES.md.
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
import time

import oracle

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
JVM = os.path.join(BENCH, "jvm")
WORK = os.path.join(BENCH, "work")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")

# Each workload is a subset of its op family that keeps the family's
# regime and fits the run budget (NOTES.md): `pass_s` is its nominal warm
# pass at sf0.01 on a 4-core host, `copies` the ScaleUp multiple of the inputs.
# Staging is `<family>:<artifacts or shapes>`.
WORKLOADS = {
    "warehouse": dict(
        pass_s=5.6, staging="none",
        ops=["meta_extract", "meta_sqlgen", "etl_full_load", "etl_incremental_load",
             "etl_merge_upsert", "etl_scd2", "etl_consolidate", "etl_process_log",
             "q1_pricing_summary", "q6_revenue_delta", "src_csv_roundtrip"]),
    "corpus": dict(
        pass_s=7.0, staging="corpus:pair_graph,band_index,cluster_labels",
        ops=["dedup_clusters", "dedup_minhash_lsh", "dedup_exact", "dedup_containment",
             "dedup_ngram_jaccard"]),
    "stream": dict(
        pass_s=6.6, staging="stream:evfull,sess,vel",
        ops=["stream_enrich", "stream_file_sink", "stream_sessionize", "stream_state_metrics",
             "stream_velocity"]),
    "scale": dict(
        copies=10, pass_s=4.0, staging="none",
        ops=["q1_pricing_summary", "q21_sole_blame", "sim_knn_brute", "dedup_simhash"]),
}

DATA = os.path.join(BENCH, "data")
SCALES = ["0.01", "0.001"]  # the input sets under DATA; the first is the benchmark's
FAILED_LATENCY_S = 1e9  # a failed op's latency in the pools ("infinite")

LAYERS = ["queries", "sources", "ops", "streaming"]
ARTIFACTS = ["ivf_cells", "emb_pairs", "knn_graph", "pair_graph", "band_index",
             "cluster_labels", "cdc_canon", "purchase_graph", "pr_fixpoint"]

END_TO_END = {"setup_s": "s", "cold_s": "s", "wall_s": "s", "op_p50_s": "s",
              "op_tail_s": "s", "cpu_s": "s", "op_ok_rate": "ratio"}


def per_layer_units():
    """Every per-layer metric name -> unit, in BENCHMARK.json order."""
    u = {}
    for L in LAYERS:
        u.update({f"{L}.plan_s": "s", f"{L}.exec_s": "s", f"{L}.jobs": "count",
                  f"{L}.tasks": "count", f"{L}.cpu_s": "s", f"{L}.task_s": "s",
                  f"{L}.idle_s": "s", f"{L}.shuffle_mb": "MB", f"{L}.spill_mb": "MB",
                  f"{L}.input_mb": "MB", f"{L}.exchanges": "count", f"{L}.scans": "count"})
    u.update({f"staging.{a}_s": "s" for a in ARTIFACTS})
    u.update({"staging.stream_s": "s", "staging.jobs": "count", "staging.tasks": "count",
              "staging.cpu_s": "s", "staging.idle_s": "s", "staging.shuffle_mb": "MB",
              "staging.write_mb": "MB", "staging.pr_fixpoint_jobs": "count",
              "staging.cluster_labels_jobs": "count"})
    u.update({"streaming.batches": "count", "streaming.input_rows": "count",
              "streaming.trigger_s": "s", "streaming.add_batch_s": "s",
              "streaming.planning_s": "s", "streaming.offsets_s": "s", "streaming.wal_s": "s",
              "streaming.outside_s": "s", "streaming.state_rows": "count",
              "streaming.state_mb": "MB"})
    u.update({"plans.native_calls": "count", "plans.hof_lambdas": "count",
              "session.build_s": "s", "jvm.gc_s": "s", "jvm.peak_rss_mb": "MB",
              "storage.pinned_mb": "MB", "storage.tmp_mb": "MB",
              "trace.traced_pass_s": "s", "trace.untraced_pass_s": "s"})
    return u


T0 = time.time()


def log(msg):
    print(f"[perfbench] {time.time() - T0:7.2f} s  {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- statistics

def pass_orders(workload, seed, n_ops, n_passes):
    """The seeded op order of each pass: a permutation of range(n_ops)."""
    return [random.Random(f"{workload}/{seed}/{i}").sample(range(n_ops), n_ops)
            for i in range(n_passes)]


def tail_percentile(samples):
    """(percentile, value): the highest percentile with at least ten
    samples beyond it, i.e. the sample of nearest rank n - 10. A pool of
    fewer than twenty has no such percentile at or above its median, and
    then the median stands in (percentile 50)."""
    xs = sorted(samples)
    n = len(xs)
    if n < 20:
        return 50.0, statistics.median(xs)
    return 100.0 * (n - 10) / n, xs[n - 11]


def op_accounting(passes, bad_ops):
    """(attempted, failed, pooled warm latencies) over the timed passes.

    An op execution fails when it threw, or when the op's output failed
    the oracle gate (every execution of that op then counts). A failed
    execution enters the latency pool as FAILED_LATENCY_S."""
    attempted = failed = 0
    pool = []
    for p in passes:
        for o in p["ops"]:
            attempted += 1
            bad = o["error"] is not None or o["name"] in bad_ops
            failed += bad
            if p["index"] > 0:
                pool.append(FAILED_LATENCY_S if bad else o["plan_s"] + o["exec_s"])
    return attempted, failed, pool


def end_to_end(res, bad_ops):
    warm = [p for p in res["passes"] if p["index"] > 0]
    attempted, failed, pool = op_accounting(res["passes"], bad_ops)
    tail_p, tail_v = tail_percentile(pool)
    return attempted, failed, {
        "setup_s": (res["ready_us"] - res["launched_us"]) / 1e6,
        "cold_s": res["passes"][0]["wall_s"],
        "wall_s": statistics.median(p["wall_s"] for p in warm),
        "op_p50_s": statistics.median(pool),
        "op_tail_s": tail_v,
        "cpu_s": statistics.median(p["cpu_s"] for p in warm),
        "op_ok_rate": 1 - failed / attempted,
    }, {"op_tail_percentile": tail_p, "op_samples": len(pool), "warm_passes": len(warm)}


def layer_of(span):
    if span["kind"] == "artifact":
        return "staging"
    if span["kind"] == "session":
        return "session"
    n = span["name"]
    if n.startswith(("q", "etl_", "meta_")):
        return "queries"
    if n.startswith("src_"):
        return "sources"
    if n.startswith("stream_"):
        return "streaming"
    return "ops"


COUNTERS = ["jobs", "tasks", "cpu_s", "task_s", "shuffle_write_mb", "shuffle_read_mb",
            "spill_mb", "input_mb", "write_mb", "sql_execs", "exchanges", "scans",
            "native_calls", "hof_lambdas", "batches", "input_rows", "trigger_s",
            "add_batch_s", "planning_s", "offsets_s", "wal_s", "state_rows", "state_mb"]


def profile(res, cores):
    """Per-layer metrics (median over traced warm passes) and the
    per-op / per-artifact rows of the traced run."""
    traced = [p for p in res["passes"] if p["traced"] and p["index"] > 0]
    untraced = [p for p in res["passes"] if not p["traced"] and p["index"] > 0]
    ids = {p["index"] for p in traced}
    spans = [s for s in res["spans"] if s["pass"] in ids and s["kind"] in ("artifact", "run", "action")]

    def per_pass(f):
        return statistics.median(f([s for s in spans if s["pass"] == i]) for i in sorted(ids))

    def tot(ss, k):
        return sum(s[k] for s in ss)

    m = {}
    for L in LAYERS:
        def sel(ss, kind=None, L=L):
            return [s for s in ss if layer_of(s) == L and (kind is None or s["kind"] == kind)]
        m[f"{L}.plan_s"] = per_pass(lambda ss: tot(sel(ss, "run"), "dur_s"))
        m[f"{L}.exec_s"] = per_pass(lambda ss: tot(sel(ss, "action"), "dur_s"))
        for k, src in [("jobs", "jobs"), ("tasks", "tasks"), ("cpu_s", "cpu_s"),
                       ("task_s", "task_s"), ("spill_mb", "spill_mb"),
                       ("input_mb", "input_mb"), ("exchanges", "exchanges"), ("scans", "scans")]:
            m[f"{L}.{k}"] = per_pass(lambda ss, src=src: tot(sel(ss), src))
        m[f"{L}.shuffle_mb"] = per_pass(lambda ss: tot(sel(ss), "shuffle_write_mb"))
        m[f"{L}.idle_s"] = per_pass(
            lambda ss: tot(sel(ss), "dur_s") - tot(sel(ss), "task_s") / cores)

    def art(ss):
        return [s for s in ss if s["kind"] == "artifact"]

    for a in ARTIFACTS:
        m[f"staging.{a}_s"] = per_pass(lambda ss, a=a: tot([s for s in art(ss) if s["name"] == a], "dur_s"))
    m["staging.stream_s"] = per_pass(
        lambda ss: tot([s for s in art(ss) if s["name"].startswith("stream_stage_")], "dur_s"))
    for k, src in [("jobs", "jobs"), ("tasks", "tasks"), ("cpu_s", "cpu_s"),
                   ("shuffle_mb", "shuffle_write_mb"), ("write_mb", "write_mb")]:
        m[f"staging.{k}"] = per_pass(lambda ss, src=src: tot(art(ss), src))
    m["staging.idle_s"] = per_pass(lambda ss: tot(art(ss), "dur_s") - tot(art(ss), "task_s") / cores)
    for a in ("pr_fixpoint", "cluster_labels"):
        m[f"staging.{a}_jobs"] = per_pass(lambda ss, a=a: tot([s for s in art(ss) if s["name"] == a], "jobs"))

    for k in ("batches", "input_rows", "trigger_s", "add_batch_s", "planning_s", "offsets_s",
              "wal_s", "state_rows", "state_mb"):
        m[f"streaming.{k}"] = per_pass(lambda ss, k=k: tot(ss, k))
    m["streaming.outside_s"] = per_pass(lambda ss: sum(
        s["dur_s"] - s["trigger_s"] for s in ss if s["kind"] == "run" and layer_of(s) == "streaming"))
    m["plans.native_calls"] = per_pass(lambda ss: tot(ss, "native_calls"))
    m["plans.hof_lambdas"] = per_pass(lambda ss: tot(ss, "hof_lambdas"))
    m["session.build_s"] = res["build_s"]
    m["jvm.gc_s"] = statistics.median(p["gc_s"] for p in traced)
    m["jvm.peak_rss_mb"] = res["peak_rss_mb"]
    m["storage.pinned_mb"] = max(p["pinned_mb"] for p in res["passes"])
    m["storage.tmp_mb"] = max(p["tmp_mb"] for p in res["passes"])
    m["trace.traced_pass_s"] = statistics.median(p["wall_s"] for p in traced)
    m["trace.untraced_pass_s"] = (statistics.median(p["wall_s"] for p in untraced)
                                  if untraced else float("nan"))

    # rows for profile_diff: per op / artifact, summed over the traced
    # warm passes and divided by their number
    rows = {}
    for s in spans:
        key = f"{layer_of(s)}/{s['name']}"
        r = rows.setdefault(key, dict.fromkeys(["plan_s", "exec_s", "dur_s"] + COUNTERS, 0.0))
        r["dur_s"] += s["dur_s"]
        if s["kind"] == "run":
            r["plan_s"] += s["dur_s"]
        elif s["kind"] == "action":
            r["exec_s"] += s["dur_s"]
        for k in COUNTERS:
            r[k] += s[k]
    for r in rows.values():
        for k in r:
            r[k] /= len(ids)
    return m, rows


# --------------------------------------------------------------- environment

def cores():
    return len(os.sched_getaffinity(0))


def heap_size():
    """Half of RAM in GiB, clamped to 2..8."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def spark_home():
    """$SPARK_HOME, else the installation that `spark-submit` on PATH belongs to."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("perfbench: no Spark installation (set SPARK_HOME)")
    return home


def source_digest():
    h = hashlib.sha256()
    for base in (ENGINE_SRC, os.path.join(JVM, "src")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(JVM, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine and the benchmark with sbt unless the sources are unchanged."""
    classes = os.path.join(JVM, "target", "scala-2.13", "classes")
    stamp = os.path.join(JVM, "target", "perfbench.stamp")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == digest:
                return classes
    log("building the engine and the benchmark (sbt compile)")
    env = dict(os.environ, SPARK_HOME=spark_home(), COURSIER_MODE="offline", SBT_OPTS=os.environ.get(
        "SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.repository.config="
        f"{os.path.expanduser('~/.sbt/repositories')} -Dsbt.offline=true -Xmx2g"))
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=JVM,
                       env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    log(f"built in {time.time() - t0:.1f} s")
    with open(stamp, "w") as f:
        f.write(digest)
    return classes


ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar"]]


class Jvm:
    """Launches PerfBench modes with the heap formula and a private tmp dir."""

    def __init__(self, classes, tag):
        self.classes = classes
        self.tmp = os.path.join(WORK, "tmp", f"{tag}-{os.getpid()}")
        self.logs = os.path.join(WORK, "logs")
        os.makedirs(self.tmp, exist_ok=True)
        os.makedirs(self.logs, exist_ok=True)

    def cmd(self, *args):
        return (["java", f"-Xmx{heap_size()}"] + ADD_OPENS + [
            f"-Djava.io.tmpdir={self.tmp}", f"-Dspark.local.dir={self.tmp}", "-cp", f"{self.classes}{os.pathsep}{os.path.join(spark_home(), 'jars', '*')}",
            "graft.bench.PerfBench"] + [str(a) for a in args])

    def call(self, *args, timeout=170):
        logf = os.path.join(self.logs, f"{args[0]}-{os.getpid()}.log")
        with open(logf, "w") as lf:
            p = subprocess.Popen(self.cmd(*args), stdout=subprocess.PIPE, stderr=lf,
                                 text=True, cwd=self.tmp)
            try:
                out, _ = p.communicate(timeout=timeout)
            finally:
                # on a timeout or a signal, never leave the JVM behind
                if p.poll() is None:
                    p.kill()
                    p.wait()
        if p.returncode != 0:
            with open(logf) as lf:
                sys.stderr.write(lf.read()[-4000:])
            raise SystemExit(f"perfbench: JVM {args[0]} exited {p.returncode}")
        return out

    def close(self):
        shutil.rmtree(self.tmp, ignore_errors=True)


# ------------------------------------------------------------------- inputs

def inputs(sf):
    """The input tables at scale factor `sf`."""
    d = os.path.join(DATA, f"sf{sf}")
    if not os.path.isfile(os.path.join(d, "lineitem.parquet")):
        raise SystemExit(f"perfbench: input tables not found at {d}")
    return d


def scaled(jvm, src, copies):
    """The ScaleUp N× set of `src`, made once per source snapshot."""
    d = os.path.join(WORK, "scaled", f"{oracle.snapshot(src)[:16]}x{copies}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        t0 = time.time()
        out = jvm.call("scaleup", src, d, copies, cores())
        open(os.path.join(d, "_DONE"), "w").close()
        log(f"scale inputs ({copies}x) generated in {time.time() - t0:.1f} s, apart from setup_s: "
            + ", ".join(l.split(" ", 1)[1] for l in out.splitlines() if l.startswith("SCALED ")))
    return d


# --------------------------------------------------------------------- main

def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", choices=SCALES, default=SCALES[0],
                    help="input scale factor (the smaller one is for smoke tests)")
    a = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise SystemExit(f"perfbench: engine sources not found at {ENGINE_SRC}")

    w = WORKLOADS[a.workload]
    ops, staging = w["ops"], w["staging"]
    # a traced run makes at least one traced-untraced-untraced-traced cycle
    warm = max(4 if a.trace else 1, round(a.seconds / w["pass_s"]))
    classes = build()
    jvm = Jvm(classes, a.workload)
    try:
        data = inputs(a.sf)
        if "copies" in w:
            data = scaled(jvm, data, w["copies"])
        results = os.path.join(jvm.tmp, "results")
        plan = os.path.join(jvm.tmp, "plan.txt")
        out = os.path.join(jvm.tmp, "run.json")
        lines = [f"data={data}", f"ops={','.join(ops)}", f"staging={staging}", f"warm={warm}",
                 f"trace={a.trace}", f"cores={cores()}", f"results={results}"]
        lines += ["order=" + " ".join(map(str, o))
                  for o in pass_orders(a.workload, a.seed, len(ops), 64)]
        launched = time.time()
        with open(plan, "w") as f:
            f.write("\n".join(lines + [f"launched_us={int(launched * 1e6)}"]) + "\n")
        jvm.call("run", plan, out)
        log("run JVM exited")
        with open(out) as f:
            res = json.load(f)
        os.makedirs(os.path.join(WORK, "last"), exist_ok=True)
        shutil.copy(out, os.path.join(WORK, "last", f"{a.workload}.json"))

        t0 = time.time()
        verdict = oracle.check(data, results, res["oracle"], os.path.join(WORK, "oracle"), cores())
        bad = {n for n, e in verdict.items() if e is not None}
        for n in sorted(bad):
            log(f"oracle gate: {n}: {verdict[n]}")
        log(f"oracle gate: {len(verdict) - len(bad)}/{len(verdict)} ops match "
            f"({time.time() - t0:.1f} s)")

        attempted, failed, e2e, info = end_to_end(res, bad)
        log(f"op_tail_s is the p{info['op_tail_percentile']:g} of {info['op_samples']} "
            f"warm op latencies; {info['warm_passes']} warm passes")
        if a.trace:
            metrics, rows = profile(res, cores())
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            tpath = os.path.join(WORK, "traces", f"{a.workload}-seed{a.seed}-{int(launched)}.json")
            with open(tpath, "w") as f:
                json.dump({"workload": a.workload, "seed": a.seed, "cores": cores(),
                           "layers": metrics, "rows": rows, "spans": res["spans"],
                           "passes": [{k: p[k] for k in p if k != "ops"} for p in res["passes"]],
                           "end_to_end": e2e, "info": info}, f, indent=1)
            t, u = metrics["trace.traced_pass_s"], metrics["trace.untraced_pass_s"]
            print(f"trace: {os.path.relpath(tpath, ROOT)}; traced pass {t:.3f} s vs "
                  f"untraced {u:.3f} s ({(t / u - 1) * 100:+.1f}% overhead)")
            units = per_layer_units()
        else:
            metrics, units = e2e, END_TO_END
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}))
    finally:
        jvm.close()


def _terminate(signum, _frame):
    raise SystemExit(f"perfbench: stopped by signal {signum}")


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _terminate)
    main(sys.argv[1:])
