#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload batch_mix --seed 1 --seconds 8 --trace 0

Builds the engine from source (once per source tree), generates the
workload's inputs from the seed, runs the workload in one JVM
(local[4], 4 shuffle partitions, a closed loop with one client and the
graft.Bench reset between ops), checks every output against DuckDB and
prints a report followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
run also records spans and Spark listener events and the metrics are
the per-layer ones (see BENCHMARK.json for both lists, README.md for
their definitions).
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

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

CORES = 4
# The end-to-end metrics of the final JSON line (BENCHMARK.json's
# end_to_end list). Medians, tails, read latencies, ingest throughput,
# CPU seconds and the error rate are printed in the report above it with
# their sample counts. The gated op latency is a geometric mean over every
# timed op: the op times form clusters (short relational/etl queries and
# longer corpus ones; epochs, reads and maintenance) and their median
# jumps between them.
GATED = ("setup_s", "pass_s", "op_geomean_s", "heap_live_mb")


# The batch workload's queries: the yodel-etl and relational surface next
# to the corpus operators (including the ROADMAP's weak rows
# dedup_containment, dedup_prefix_filter and text_lm_kn5). At these input
# sizes all of them are planning- and dispatch-bound: a traced pass keeps
# about 12% of the 4 cores busy in tasks.
BATCH_QUERIES = [
    "etl_flatten_json", "etl_sse_parse", "etl_paged_qa", "q5_local_supplier_volume",
    "q21_range_join", "q37_pagerank", "q51_quantile_sketch",
    "dedup_prefix_filter", "dedup_containment", "text_lm_kn5", "ann_ivfpq_topk",
    "cur_source_cap",
]

WORKLOADS = {
    "batch_mix": {"kind": "batch", "sf": 0.01, "queries": BATCH_QUERIES,
                  "base_docs": 150, "base_vecs": 200, "replicas": 2},
    "stream_ingest": {"kind": "ingest", "epochs": 100, "rows": 400, "users": 2000,
                      "warm_epochs": 2, "maintain_every": 2},
}

# AlwaysPreTouch faults the whole heap in at JVM start, during set-up,
# instead of during the timed section as the young generation grows.
JVM_OPTS = ["-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-XX:ReservedCodeCacheSize=1g",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] + [
    x for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
                "java.nio", "java.util", "java.util.concurrent",
                "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                "sun.security.action", "sun.util.calendar")
    for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def load1():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


def make_inputs(w, seed, data):
    """Generate the workload's inputs; returns their content hash."""
    if w["kind"] == "batch":
        return (gen.tables(data, seed, w["sf"])
                + gen.corpus(data, seed, w["base_docs"], w["base_vecs"], w["replicas"]))
    return gen.epochs(data, seed, w["epochs"], w["rows"], w["users"])


def jvm_timeout(seconds):
    """Seconds the JVM may take: set-up (about 35 s for batch_mix on 4
    vCPUs), five traced units (about 45 s) and the measured seconds, all
    with room for a host running 2x slower."""
    return 160 + 2 * seconds


def run_jvm(classes, args, log):
    """Runs the JVM side; returns its exit code, or None when it ran
    past jvm_timeout and was killed."""
    cp = os.pathsep.join([classes] + build.jars())
    cmd = ["java"] + JVM_OPTS + ["-Djava.io.tmpdir=" + args["out"], "-cp", cp,
                                 "graft.perfbench.Main"]
    for k, v in args.items():
        cmd += ["--" + k, str(v)]
    with open(log, "w") as f:
        try:
            return subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT,
                                  timeout=jvm_timeout(args["seconds"])).returncode
        except subprocess.TimeoutExpired:
            return None


def keep(path, kind, name):
    """Copies a file out of the run directory (deleted at exit) to
    .bench_build/<kind>/<name>, replacing an earlier one; returns the copy."""
    dst = os.path.join(build.BUILD, kind, name)
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    shutil.copyfile(path, dst)
    return dst


def end_to_end(w, res, setup_s):
    """The workload's named end-to-end metrics: {name: (value, unit, n, note)}."""
    ops = res["ops"]
    heap = res["heap_mb"]
    units = [u["wall_s"] for u in res["units"]]
    out = {"setup_s": (setup_s, "s", 1, "process start to the first timed op, build excluded"),
           "heap_live_mb": (metrics.median(heap), "MB", len(heap),
                            "median live heap after the inter-op full GCs"),
           "heap_peak_mb": (max(heap), "MB", len(heap), "peak of the same samples"),
           "pass_cpu_s": (metrics.median([u["cpu_s"] for u in res["units"]]), "s",
                          len(units), "median JVM CPU seconds per unit")}
    if w["kind"] == "batch":
        q = [o["wall_s"] for o in ops if o["ok"]]
        v, p, n = metrics.tail(q)
        out["pass_s"] = (metrics.median(units), "s", len(units), "median pass")
        out["query_p50_s"] = (metrics.median(q), "s", len(q), "")
        out["query_tail_s"] = (v, "s", n, f"p{p:.1f}, {n - n * p / 100:.0f} beyond")
        out["op_geomean_s"] = (metrics.geomean(q), "s", len(q), "geometric mean query")
    else:
        ep = [o["wall_s"] for o in ops if o["kind"] == "epoch" and o["ok"]]
        rd = [o["wall_s"] for o in ops if o["kind"] == "read" and o["ok"]]
        ev, ep_p, en = metrics.tail(ep)
        rv, rp, rn = metrics.tail(rd)
        mt = [o["wall_s"] for o in ops if o["kind"] == "maintain" and o["ok"]]
        out["pass_s"] = (metrics.median(units), "s", len(units),
                         "median round (epoch cycles + maintenance)")
        out["epoch_p50_s"] = (metrics.median(ep), "s", len(ep), "")
        out["epoch_tail_s"] = (ev, "s", en, f"p{ep_p:.1f}, {en - en * ep_p / 100:.0f} beyond")
        out["read_p50_s"] = (metrics.median(rd), "s", len(rd), "")
        out["read_tail_s"] = (rv, "s", rn, f"p{rp:.1f}, {rn - rn * rp / 100:.0f} beyond")
        out["ingest_rows_per_s"] = (res["rows_committed"] / res["timed_wall_s"], "rows/s",
                                    len(ep), "change rows committed / timed wall")
        out["maintain_p50_s"] = (metrics.median(mt), "s", len(mt), "compact + vacuum")
        ok = [o["wall_s"] for o in ops if o["ok"]]
        out["op_geomean_s"] = (metrics.geomean(ok), "s", len(ok),
                               "geometric mean op (epochs, reads, maintenance)")
    return out


def main(argv=None):
    t_start = time.time()
    # SIGTERM unwinds like an error: subprocess.run kills and reaps the
    # JVM, and the run directory is removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("terminated"))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, help="override the table scale factor (smoke tests)")
    a = ap.parse_args(argv)
    w = dict(WORKLOADS[a.workload])
    if a.sf:
        w.update(sf=a.sf, base_docs=100, base_vecs=100, epochs=40, rows=50, users=100)
    host_load = load1()

    try:
        t_build = time.time()
        classes = build.build()
        build_s = time.time() - t_build
    except build.BuildError as e:
        sys.exit(f"build failed: {e}")

    root = build.BUILD
    run_dir = os.path.join(root, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    data, out = os.path.join(run_dir, "data"), os.path.join(run_dir, "out")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(out)
    try:
        t_in = time.time()
        input_hash = make_inputs(w, a.seed, data)
        inputs_s = time.time() - t_in
        jargs = {"workload": a.workload, "data": data, "out": out, "seconds": a.seconds,
                 "trace": a.trace, "seed": a.seed}
        if w["kind"] == "batch":
            jargs["queries"] = ",".join(w["queries"])
        else:
            jargs.update(users=w["users"], warm_epochs=w["warm_epochs"],
                         maintain_every=w["maintain_every"])
        log = os.path.join(run_dir, "jvm.log")
        rc = run_jvm(classes, jargs, log)
        if rc != 0:
            kept = keep(log, "logs", f"{a.workload}-{a.seed}.jvm.log")
            with open(kept) as f:
                sys.stderr.write(f.read()[-4000:])
            if rc is None:
                sys.exit(f"benchmark JVM killed after {jvm_timeout(a.seconds):.0f} s; log: {kept}")
            sys.exit(f"benchmark JVM exited with {rc}; log: {kept}")
        with open(os.path.join(out, "result.json")) as f:
            res = json.load(f)
        setup_s = res["first_op_epoch_ms"] / 1000.0 - t_start - build_s

        # correctness
        import oracle
        t_check = time.time()
        cache = os.path.join(root, "oracle-cache")
        # per code version (the class dir's source hash), workload, seed and inputs
        key = f"{os.path.basename(classes)}-{a.workload}-{a.seed}-{input_hash[:16]}"
        ops = res["ops"]
        if w["kind"] == "batch":
            bad = oracle.check_batch(data, os.path.join(out, "verify"), w["queries"], cache, key)
            failed_ops = [o for o in ops if not o["ok"] or o["name"] in bad]
        else:
            bad = oracle.check_ingest(os.path.join(out, "ingest", "in"), res, cache, key)
            bad_reads = {k for k in bad if not k.startswith("final_")}
            final_bad = any(k.startswith("final_") for k in bad)
            failed_ops = [o for o in ops if not o["ok"]
                          or (o["kind"] == "read" and f"{o['name'][5:]}@{o['epoch']}" in bad_reads)
                          or (o["kind"] == "epoch" and final_bad)]
        check_s = time.time() - t_check
        for name, why in sorted(bad.items()):
            print(f"MISMATCH {a.workload} seed={a.seed} op={name}: {why}")
        for o in ops:
            if not o["ok"]:
                print(f"FAILED {a.workload} seed={a.seed} op={o['name']}: {o['error']}")

        e2e = end_to_end(w, res, setup_s)
        e2e["error_rate"] = (len(failed_ops) / max(1, len(ops)), "fraction", len(ops), "")
        print(f"# {a.workload} seed={a.seed} input={input_hash[:16]} ops={len(ops)} "
              f"units={len(res['units'])} timed={res['timed_wall_s']:.2f}s load1={host_load}")
        for k, (v, unit, n, note) in e2e.items():
            print(f"{k:20s} {v:12.5f} {unit:9s} n={n:<5d} {note}")
        if a.trace:
            import layers
            span_file = keep(os.path.join(out, "spans.jsonl"), "traces",
                             f"{a.workload}-{a.seed}.spans.jsonl")
            print(f"# spans: {span_file}")
            with open(span_file) as f:
                spans = [json.loads(line) for line in f]
            report = layers.per_layer(w["kind"], res, spans, CORES)
            report.update({"setup.inputs_s": inputs_s, "harness.check_s": check_s,
                           "host.load1": host_load})
            layers.print_report(report, spans)
            chosen = {k: {"value": v, "unit": layers.UNITS[k]} for k, v in report.items()
                      if k in layers.UNITS}
        else:
            chosen = {k: {"value": e2e[k][0], "unit": e2e[k][1]} for k in GATED}
        print(json.dumps({"correct": not failed_ops, "attempted": len(ops),
                          "failed": len(failed_ops), "metrics": chosen}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
