#!/usr/bin/env python3
"""graft benchmark: one command, two workloads, every metric by name.

    python3 perfbench/run.py --workload serve|ingest \
        --seed N --seconds S --trace 0|1 [--selftest]

A run measures whole rounds of its workload until S seconds have passed, at
least one round; a round takes longer than a second on every machine this
was written on, so `--seconds 1` measures exactly one round.

Run from the root of a checkout. The first run builds the engine and the
benchmark's Scala code from source (perfbench/build.sbt, offline); later runs
reuse that build while the sources are unchanged. Each run generates its
inputs from the seed into its own scratch directory, drives the engine in
one JVM, checks every output apart from the engine (checks.py), removes the
scratch directory and prints one JSON object as its last line. With
`--trace 1` the metrics are the per-layer ones, and the per-layer table and
the tracing overhead go to standard error. `--selftest` additionally shows
that every check rejects a corrupted copy of this run's results.
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
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ["serve", "ingest"]
END_TO_END = {"setup_s": "s", "round_s": "s", "query_ms": "ms",
              "store_bytes_per_doc": "bytes"}
PER_LAYER = {
    "session.start_s": "s", "jvm.peak_rss_mb": "MB", "jvm.live_heap_mb": "MB",
    "tables.load_s": "s",
    "sources.parse_s": "s", "sources.pages": "count",
    "pipelines.feature_s": "s", "pipelines.kept_per_input": "ratio",
    "chunker.s": "s", "chunker.chunks_per_doc": "ratio",
    "embedder.s": "s", "embedder.vectors": "count",
    "store.build_s": "s", "store.append_s": "s", "store.read_s": "s",
    "store.bytes_written": "bytes", "store.files_written": "count",
    "store.bytes_per_doc": "bytes",
    "lifecycle.upsert_s": "s", "lifecycle.delete_s": "s",
    "compaction.s": "s", "compaction.bytes_rewritten": "bytes",
    "vectorsearch.knn_ms": "ms",
    "ann.ivf_ms": "ms", "ann.ivfpq_ms": "ms", "ann.rows_scored_per_result": "ratio",
    "ann.recall_at_10": "ratio",
    "textsearch.bm25_ms": "ms", "fusion.hybrid_ms": "ms",
    "attribution.attach_ms": "ms", "attribution.pack_ms": "ms",
    "dedup.exact_s": "s", "dedup.minhash_s": "s", "dedup.flag_s": "s", "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count", "dedup.span_s": "s", "dedup.flagged_spans": "count",
    "clusters.s": "s", "decon.s": "s", "decon.flagged_docs": "count", "sampling.s": "s",
    "queries.rel_s": "s", "queries.evt_s": "s", "queries.doc_s": "s", "queries.ana_s": "s",
    "spark.jobs": "count", "spark.tasks": "count", "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.gc_s": "s", "spark.core_idle_s": "s",
    "trace.overhead_pct": "%",
}
# whole runs must end within 180 s; the JVM gets what is left after inputs
RUN_LIMIT_S = 170
OFFLINE_SBT = ("-Dsbt.override.build.repos=true -Dsbt.repository.config={home}/.sbt/repositories "
               "-Dsbt.offline=true -Xmx2g")
ADD_OPENS = [f"java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f[len(ROOT):].encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """The Spark distribution the toolchain ships (its jars are the engine's
    only dependencies): $SPARK_HOME, else the one `spark-submit` belongs to."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        log("no Spark distribution found (set SPARK_HOME)")
        sys.exit(2)
    return home


def classes_dir():
    return os.path.join(HERE, "target", "scala-2.13", "classes")


def build():
    """Compiles the engine and the benchmark's Scala code once per source
    state; build time is never part of a metric."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("engine sources (src/main/scala/graft) are not in this checkout")
        sys.exit(2)
    digest = sources_digest()
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest and \
            os.path.isdir(classes_dir()):
        return
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home(),
               SBT_OPTS=OFFLINE_SBT.format(home=os.path.expanduser("~")))
    t = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=840)
    if p.returncode != 0:
        log("build failed")
        sys.exit(2)
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t:.0f} s")


def heap_mb():
    """A quarter of the machine's memory, between 1 and 3 GB."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return max(1024, min(3072, kb // 4096))


def cpus():
    return max(1, min(4, len(os.sched_getaffinity(0))))


def run_engine(workload, work, seed, seconds, trace, deadline):
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", p)] + [
        f"-Xmx{heap_mb()}m",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dderby.system.home={work}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", ":".join([classes_dir(), os.path.join(ROOT, "src", "main", "resources"),
                         os.path.join(spark_home(), "jars", "*")]),
        "perfbench.Main", workload, work, str(seconds), str(trace), str(cpus()), str(seed)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    with open(os.path.join(work, "engine.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=logf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(work, "engine.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        log(f"engine run ended with {rc}")
        return None
    with open(os.path.join(work, "out", "result.json")) as f:
        return json.load(f)


def query_ms(res):
    """Geometric mean, over the query kinds, of each kind's median latency:
    one figure for a mix whose kinds differ tenfold in cost, which a plain
    median over the mix would not give steadily."""
    kinds = {}
    for name, ms, traced in res["ops"]:
        if name.startswith("query.") and not traced:
            kinds.setdefault(name, []).append(ms)
    return statistics.geometric_mean(statistics.median(v) for v in kinds.values())


def end_to_end(res):
    return {
        "setup_s": statistics.median(res["setup_s"]),
        "round_s": res["window_s"] / res["rounds"],
        "query_ms": query_ms(res),
        "store_bytes_per_doc": res["store_bytes"] / res["live_docs"],
    }


def per_layer(res, verdict):
    vals = {k: 0.0 for k in PER_LAYER}
    vals.update(res.get("layers", {}))
    vals["jvm.live_heap_mb"] = res["live_heap_mb"]
    if "recall_at_10" in verdict:
        vals["ann.recall_at_10"] = verdict["recall_at_10"]
    return vals


def print_table(workload, res, vals):
    rows = res.get("layer_table", [])
    log(f"per-layer table, workload {workload} (spans from the traced half of the "
        f"window plus set-up; self = span time minus child spans)")
    hdr = f"{'layer':<22}{'calls':>6}{'total_s':>9}{'self_s':>9}{'jobs':>6}{'tasks':>7}" \
          f"{'shuffle_B':>11}{'spill_B':>9}{'gc_s':>7}"
    print(hdr, file=sys.stderr)
    for r in rows:
        print(f"{r['layer']:<22}{r['calls']:>6}{r['total_s']:>9.3f}{r['self_s']:>9.3f}"
              f"{r['jobs']:>6}{r['tasks']:>7}{r['shuffle_bytes']:>11}{r['spill_bytes']:>9}"
              f"{r['gc_s']:>7.2f}", file=sys.stderr)
    q = [(ms, t) for name, ms, t in res["ops"] if name.startswith("query.")]
    on, off = [ms for ms, t in q if t], [ms for ms, t in q if not t]
    if on and off:
        log(f"tracing overhead: median query {statistics.median(on):.2f} ms traced "
            f"({len(on)}) vs {statistics.median(off):.2f} ms untraced ({len(off)}): "
            f"{vals['trace.overhead_pct']:+.1f}%")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    build()
    start = time.time()
    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        plan = gen.generate(a.workload, a.seed, os.path.join(work, "data"))
        res = run_engine(a.workload, work, a.seed, a.seconds, a.trace, start + RUN_LIMIT_S)
        if res is None:
            sys.exit(1)
        log(f"session start {res['session_start_s']:.2f} s, set-ups "
            f"{', '.join(f'{x:.2f}' for x in res['setup_s'])} s, {res['attempted']} operations "
            f"in {res['window_s']:.2f} s")
        verdict = checks.check(a.workload, plan, res, work)
        if "recall_at_10" in verdict:
            log(f"ANN recall@10 {verdict['recall_at_10']:.3f} against the corpus, IVF-PQ "
                f"{verdict['pq_cell_recall']:.3f} against its probed cells")
        for line in verdict["problems"][:20]:
            log(f"check failed: {line}")
        if a.selftest:
            ok = checks.selftest(a.workload, plan, res, work)
            log(f"self-test: {'every corruption rejected' if ok else 'a corruption passed'}")
            verdict["ok"] = verdict["ok"] and ok
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    if a.trace:
        vals = per_layer(res, verdict)
        print_table(a.workload, res, vals)
        metrics = {k: {"value": vals[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        vals = end_to_end(res)
        metrics = {k: {"value": vals[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": verdict["ok"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if verdict["ok"] and res["failed"] == 0 else 1)


if __name__ == "__main__":
    main()
