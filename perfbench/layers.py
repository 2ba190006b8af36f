"""Per-layer metrics of a traced run, computed from its spans.

A traced run alternates untraced and traced units (a unit is one pass
for batch_mix and one round of epoch cycles plus maintenance for
stream_ingest; see Harness.timedLoop for the pattern). Each
metric is computed per traced unit; times and ratios report the median
over the traced units, and the exact counters (EXACT) report the first
traced unit, which is the same work in every run of a seed, so two
traced runs of one seed give identical counts.
"""
import metrics

MODULES = ("Relational", "Etl", "TextAnalysis", "Dedup", "Similarity", "Curation")
STREAM_PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset")

UNITS = {
    "spark.plan.analysis_ms": "ms", "spark.plan.optimization_ms": "ms",
    "spark.plan.planning_ms": "ms", "spark.plan.non_codegen_ops": "count",
    "spark.sched.jobs": "count", "spark.sched.stages": "count", "spark.sched.tasks": "count",
    "spark.sched.driver_ms": "ms",
    "spark.exec.run_ms": "ms", "spark.exec.cpu_ms": "ms", "spark.exec.gc_ms": "ms",
    "spark.exec.core_util": "fraction", "spark.exec.task_skew": "ratio",
    "spark.shuffle.write_bytes": "bytes", "spark.shuffle.read_bytes": "bytes",
    "spark.shuffle.fetch_wait_ms": "ms",
    "spark.mem.spill_bytes": "bytes", "spark.mem.peak_exec_bytes": "bytes",
    "spark.io.input_bytes": "bytes", "spark.io.output_bytes": "bytes",
    **{f"operators.{m}.{k}": u for m in MODULES
       for k, u in (("build_ms", "ms"), ("exec_ms", "ms"), ("jobs", "count"),
                    ("core_util", "fraction"))},
    "spark.storage.peak_cached_bytes": "bytes", "harness.reset_ms": "ms",
    "setup.session_s": "s", "setup.inputs_s": "s", "setup.warm_pass_s": "s",
    **{f"streaming.{q}.{k}": "ms" for q in ("cdc", "session")
       for k in ("start_ms", "trigger_ms") + tuple(f"{p}_ms" for p in STREAM_PHASES)},
    "streaming.state.rows_total": "count", "streaming.state.memory_bytes": "bytes",
    "streaming.state.commit_ms": "ms",
    "sources.Versioned.apply_ms": "ms", "sources.Versioned.read_partition_ms": "ms",
    "sources.Versioned.read_range_ms": "ms", "sources.Versioned.read_timetravel_ms": "ms",
    "sources.Versioned.files_scanned_per_read": "count",
    "sources.Versioned.prune_ratio": "fraction", "sources.Versioned.maintain_ms": "ms",
    "sources.Versioned.write_amp": "ratio", "sources.Versioned.space_amp": "ratio",
    "sources.Versioned.live_files": "count", "sources.Versioned.manifest_bytes": "bytes",
    "sources.Versioned.files_written": "count",
    "trace.overhead_frac": "fraction", "harness.check_s": "s", "host.load1": "load",
}

# Counters that must repeat exactly between two traced runs of one seed.
EXACT = {"spark.sched.jobs", "spark.sched.stages", "spark.sched.tasks",
         "spark.shuffle.write_bytes", "spark.shuffle.read_bytes", "spark.plan.non_codegen_ops",
         "sources.Versioned.files_scanned_per_read", "sources.Versioned.files_written",
         "sources.Versioned.live_files"} | {f"operators.{m}.jobs" for m in MODULES}


def _dur(s):
    return s["t1"] - s["t0"]


def _unit_metrics(kind, spans, cores):
    """Metrics of one traced unit from the spans inside it."""
    by_id = metrics.attach(spans)
    named = {}
    for s in by_id.values():
        named.setdefault(s["name"], []).append(s)
    ops = named.get("op", [])
    jobs, stages = named.get("spark.job", []), named.get("spark.stage", [])
    sql = named.get("spark.sql", [])
    out = {k: 0.0 for k in UNITS}

    def total(attr, pool):
        return float(sum(s["attrs"].get(attr, 0) for s in pool))

    for k in ("analysis_ms", "optimization_ms", "planning_ms", "non_codegen_ops"):
        out[f"spark.plan.{k}"] = total(k, sql)
    out["spark.sched.jobs"] = float(len(jobs))
    out["spark.sched.stages"] = float(len(stages))
    out["spark.sched.tasks"] = total("tasks", stages)
    op_wall = sum(_dur(o) for o in ops)
    out["spark.sched.driver_ms"] = sum(
        _dur(o) - metrics.covered([(max(o["t0"], j["t0"]), min(o["t1"], j["t1"]))
                                   for j in jobs if j["t1"] > o["t0"] and j["t0"] < o["t1"]])
        for o in ops)
    for k, attr in (("exec.run_ms", "run_ms"), ("exec.cpu_ms", "cpu_ms"), ("exec.gc_ms", "gc_ms"),
                    ("shuffle.write_bytes", "shuffle_write"), ("shuffle.read_bytes", "shuffle_read"),
                    ("shuffle.fetch_wait_ms", "fetch_wait_ms"), ("mem.spill_bytes", "spill"),
                    ("io.input_bytes", "input"), ("io.output_bytes", "output")):
        out[f"spark.{k}"] = total(attr, stages)
    out["spark.mem.peak_exec_bytes"] = float(max((s["attrs"]["peak_exec"] for s in stages), default=0))
    out["spark.exec.core_util"] = out["spark.exec.run_ms"] / (op_wall * cores) if op_wall else 0.0
    skews = [s["attrs"]["skew"] for s in stages if s["attrs"].get("tasks", 0) > 1]
    out["spark.exec.task_skew"] = metrics.percentile(skews, 90) if skews else 1.0
    out["spark.storage.peak_cached_bytes"] = float(
        max((o["attrs"].get("cached_bytes", 0) for o in ops), default=0))
    out["harness.reset_ms"] = sum(_dur(s) for s in named.get("harness.reset", []))

    def under(span, name):
        """Descendants of `span` called `name`."""
        found, todo = [], list(span["children"])
        while todo:
            c = todo.pop()
            if c["name"] == name:
                found.append(c)
            todo.extend(c["children"])
        return found

    mod_wall, mod_run = {}, {}
    for o in ops:
        m = o["attrs"].get("module")
        if m in MODULES:
            out[f"operators.{m}.build_ms"] += sum(_dur(c) for c in under(o, "op.build"))
            out[f"operators.{m}.exec_ms"] += sum(_dur(c) for c in under(o, "op.exec"))
            out[f"operators.{m}.jobs"] += len(under(o, "spark.job"))
            mod_wall[m] = mod_wall.get(m, 0.0) + _dur(o)
            mod_run[m] = mod_run.get(m, 0.0) + total("run_ms", under(o, "spark.stage"))
    for m, wall in mod_wall.items():  # task time over the module's op wall x cores
        out[f"operators.{m}.core_util"] = mod_run[m] / (wall * cores) if wall else 0.0

    if kind == "ingest":
        for q in ("cdc", "session"):
            for sink in named.get(f"sink.{q}", []):
                trig = sorted(under(sink, "stream.trigger"), key=lambda t: t["t0"])
                if trig:
                    out[f"streaming.{q}.start_ms"] += trig[0]["t0"] - sink["t0"]
                out[f"streaming.{q}.trigger_ms"] += sum(_dur(t) for t in trig)
                for t in trig:
                    for ph in t["children"]:
                        p = ph["name"].rsplit(".", 1)[1]
                        if p in STREAM_PHASES:
                            out[f"streaming.{q}.{p}_ms"] += _dur(ph)
                if q == "session" and trig:
                    last = [t for t in trig if "state_rows" in t["attrs"]]
                    if last:
                        out["streaming.state.rows_total"] = float(last[-1]["attrs"]["state_rows"])
                        out["streaming.state.memory_bytes"] = float(last[-1]["attrs"]["state_memory"])
                    out["streaming.state.commit_ms"] += total("state_commit_ms", trig)
        out["sources.Versioned.apply_ms"] = out["streaming.cdc.addBatch_ms"]
        scanned, pruned = [], []
        for kind_ in ("partition", "range", "timetravel"):
            rs = named.get(f"read.{kind_}", [])
            out[f"sources.Versioned.read_{kind_}_ms"] = sum(_dur(r) for r in rs)
            for r in rs:
                n = sum(s["attrs"].get("files_read", 0) for s in sql if r["t0"] <= s["t0"] <= r["t1"])
                scanned.append(n)
                pruned.append(n / max(1, r["attrs"].get("live_files", 0)))
        out["sources.Versioned.maintain_ms"] = sum(
            _dur(s) for s in named.get("maintain.compact", []) + named.get("maintain.vacuum", []))
        st = named.get("ingest.state", [])
        if st:
            a = st[-1]["attrs"]
            out["sources.Versioned.live_files"] = float(a["live_files"])
            out["sources.Versioned.manifest_bytes"] = float(a["manifest_bytes"])
            out["sources.Versioned.files_written"] = float(a["files_written"])
            out["sources.Versioned.write_amp"] = a["bytes_written"] / max(1, a["change_bytes"])
            out["sources.Versioned.space_amp"] = a["dir_bytes"] / max(1, a["snapshot_bytes"])
            if scanned:
                out["sources.Versioned.files_scanned_per_read"] = sum(scanned) / len(scanned)
                out["sources.Versioned.prune_ratio"] = sum(pruned) / len(pruned)
    return out


def per_layer(kind, res, spans, cores):
    """The per-layer report of a traced run (see the module docstring)."""
    unit_spans = sorted((s for s in spans if s["name"] == "unit"), key=lambda s: s["t0"])
    per_unit = []
    for u in unit_spans:
        inside = [s for s in spans if u["t0"] <= s["t0"] <= u["t1"] and s["name"] != "unit"]
        per_unit.append(_unit_metrics(kind, inside, cores))
    report = {}
    for k in UNITS:
        vals = [m[k] for m in per_unit]
        if vals:
            report[k] = vals[0] if k in EXACT else metrics.median(vals)
    report["setup.session_s"] = res["session_s"]
    report["setup.warm_pass_s"] = res["warm_pass_s"]
    later = [u for u in res["units"] if u["unit"] > 0]  # unit 0 still warms up
    traced = [u["wall_s"] for u in later if u["traced"]]
    plain = [u["wall_s"] for u in later if not u["traced"]]
    if traced and plain:
        report["trace.overhead_frac"] = metrics.median(traced) / metrics.median(plain) - 1
    return report


def print_report(report, spans):
    """Human-readable per-layer report: metrics, then self time per span."""
    for k in UNITS:
        if k in report:
            print(f"{k:44s} {report[k]:16.4f} {UNITS[k]}")
    print("# self time per span name (ms, all traced units)")
    selfs = metrics.self_times(metrics.attach(spans))
    for name, ms in sorted(selfs.items(), key=lambda kv: -kv[1]):
        print(f"  {name:40s} {ms:12.1f}")
