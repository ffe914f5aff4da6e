"""Pure parts of the benchmark: metric rules, output checks and the
per-layer arithmetic over spans. `run.py` wires them to a run; the
self-tests in test_bench.py pin them."""
import glob
import hashlib
import json
import os
import statistics

TAIL_BEYOND = 10
MODELS = 5
# accuracy floor on the generator's seeded signal (80% of sentiment words
# follow the label), over a validation split of ~400 rows: every model beats
# chance by two standard errors (0.5 + 2 * 0.025), and the best one (a linear
# model; they measured 0.83-0.88) reaches 0.75. The depth-2 random forest and
# Gaussian naive Bayes measured 0.59-0.67 on this signal.
MIN_ACCURACY = 0.55
BEST_ACCURACY = 0.75

LAYER_UNITS = {
    "operators.build_s": "s", "operators.build_jobs": "count",
    "memo.builds": "count", "memo.build_s": "s",
    "memo.setup_builds": "count", "memo.setup_build_s": "s",
    "plan.analysis_s": "s", "plan.optimization_s": "s", "plan.planning_s": "s",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.driver_gap_s": "s",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s", "exec.busy_cores": "cores",
    "input.mb": "MB", "shuffle.read_mb": "MB", "shuffle.write_mb": "MB",
    "spill.mb": "MB", "output.mb": "MB",
    "ml.train_s": "s", "ml.load_s": "s", "ml.score_s": "s",
    "storage.cached_mb": "MB",
}


def tail_rule(latencies, beyond=TAIL_BEYOND):
    """Latency at the highest percentile that still has at least `beyond`
    ops above it: with n sorted latencies, the (n - beyond)-th smallest, at
    percentile 100 * (n - beyond) / n. With n <= beyond no percentile
    qualifies and the rule falls back to the maximum (percentile 100)."""
    xs = sorted(latencies)
    n = len(xs)
    if n == 0:
        return {"value": 0.0, "percentile": 100.0, "ops": 0}
    if n <= beyond:
        return {"value": xs[-1], "percentile": 100.0, "ops": n}
    k = n - beyond
    return {"value": xs[k - 1], "percentile": 100.0 * k / n, "ops": n}


def summarize(record, wrong):
    """The end-to-end result of one run. An op fails when it raised or when
    the output check found its query's (or the pipeline's) output wrong."""
    ops = record["ops"]
    bad_names = set(wrong)
    failed = sum(1 for o in ops if o["error"] is not None or o["name"] in bad_names)
    if "*" in bad_names:  # a whole-run check failed: every op's output is suspect
        failed = len(ops)
    attempted = max(1, len(ops))
    lat = [o["s"] for o in ops]
    m = [("setup_s", record["setup_s"], "s"),
         ("wall_s", record["wall_s"], "s"),
         ("op_p50_s", statistics.median(lat) if lat else 0.0, "s"),
         ("op_tail_s", tail_rule(lat)["value"], "s"),
         ("cpu_s", record["cpu_s"], "s"),
         ("ok_ratio", 1.0 - failed / attempted, "ratio")]
    return {"correct": failed == 0 and len(ops) > 0, "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, v, u in m}}


# --- output checks --------------------------------------------------------------

def canonical(df):
    """tools/check_oracle.py's canonical form: columns by name, rows by
    value."""
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def fingerprint(df):
    """Content fingerprint of a result in canonical form: column names,
    dtypes and every value as check_oracle.py compares them (stringified)."""
    df = canonical(df)
    h = hashlib.sha256()
    h.update(json.dumps([list(df.columns), [str(t) for t in df.dtypes]]).encode())
    h.update(df.astype(str).to_csv(index=False, header=False).encode())
    return h.hexdigest()


def read_dump(con, path):
    files = glob.glob(os.path.join(path, "*.parquet"))
    if not files:
        return None
    return con.execute(f"SELECT * FROM '{path}/*.parquet'").fetchdf()


def catalog_wrong(names, record, dump_dir, pinned):
    """Names whose dumped output fails its pinned check: a DuckDB
    fingerprint for oracle-backed queries, the row count for rows-only
    ones. Returns {name: reason}."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    wrong = {f["op"]: f"{f['class']}: {f['message']}" for f in record["check_failures"]}
    for name in names:
        if name in wrong:
            continue
        pin = pinned.get(name)
        df = read_dump(con, os.path.join(dump_dir, name))
        if pin is None:
            wrong[name] = "no pinned output"
        elif df is None:
            wrong[name] = "no output"
        elif len(df) != pin["rows"]:
            wrong[name] = f"rows {len(df)} != pinned {pin['rows']}"
        elif pin.get("fp") and fingerprint(df) != pin["fp"]:
            wrong[name] = "content fingerprint differs from the DuckDB oracle"
    return wrong


def sentiment_wrong(s):
    """Pipeline invariants; any broken one marks the whole run ("*"). `s` is
    None when the pipeline itself failed (the failure is on the ops)."""
    if s is None:
        return {"*": "pipeline failed before its outputs could be checked"}
    problems = []
    if len(s["models_trained"]) != MODELS or s["models_loaded"] != s["models_trained"]:
        problems.append(f"models trained {s['models_trained']} loaded {s['models_loaded']}")
    by_model = {}
    for r in s["runs"]:
        by_model.setdefault(r["model"], {})[r["metric"]] = r["value"]
        by_model[r["model"]]["n"] = r["n"]
    accs = []
    for model, mt in sorted(by_model.items()):
        cells = sum(mt.get(c, 0) for c in ("tn", "fp", "fn", "tp"))
        if cells != s["valid_size"]:
            problems.append(f"{model}: confusion cells {cells} != validation size {s['valid_size']}")
        accs.append(mt.get("accuracy", 0.0))
    if len(by_model) != MODELS:
        problems.append(f"runs table has {len(by_model)} models")
    if not accs or min(accs) < MIN_ACCURACY or max(accs) < BEST_ACCURACY:
        problems.append(f"accuracies {accs} below the floor")
    if s["sink_rows"] != s["texts_sent"]:
        problems.append(f"scored rows {s['sink_rows']} != texts sent {s['texts_sent']}")
    if s["complete_rows"] != s["sink_rows"] or len(s["pred_columns"]) != MODELS:
        problems.append(f"pred columns {s['pred_columns']}, complete rows {s['complete_rows']}")
    return {"*": "; ".join(problems)} if problems else {}


def failure_lines(record, wrong):
    out = [f"op {o['name']} failed: {o['error']['class']}: {o['error']['message']}"
           for o in record["ops"] if o["error"] is not None]
    out += [f"set-up {f['op']} failed: {f['class']}: {f['message']}"
            for f in record.get("setup_failures", [])]
    out += [f"wrong output {k}: {v}" for k, v in wrong.items()]
    return out


# --- spans ------------------------------------------------------------------------

def union_s(intervals, lo, hi):
    """Seconds covered by the union of [start, end] ms intervals, clipped
    to [lo, hi]."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1e3


def _section_spans(spans, name="timed"):
    """(a top-level section, its direct children, its deeper descendants);
    (None, [], []) when the run has no such section."""
    by_id = {s["id"]: s for s in spans}
    section = next((s for s in spans if s["name"] == name and s["parent"] == -1), None)
    if section is None:
        return None, [], []

    def depth(s):
        d = 0
        while s["parent"] != -1:
            if s["parent"] == section["id"]:
                return d + 1
            s, d = by_id[s["parent"]], d + 1
        return None
    top = [s for s in spans if s["parent"] == section["id"]]
    deeper = [s for s in spans if (depth(s) or 0) > 1]
    return section, top, deeper


def layer_metrics(spans, cached_mb):
    """Per-layer totals over the timed section. Counters come from the
    section's direct children (the counted spans); build and score times
    from the nested spans of those names. `cached_mb` is the block-manager
    storage held at the end of the section. `memo.setup_*` count the memo
    builds of the set-up section instead: on catalog_warm that is where the
    memos are built (and `setup_s` pays for them), while its timed section
    should read 0 builds."""
    _, top, deeper = _section_spans(spans)
    _, setup_top, _ = _section_spans(spans, "setup")

    def c(key):
        return sum(s["counters"][key] for s in top)

    def wall(name, group):
        return sum(s["wall_s"] for s in group if s["name"] == name)
    job_union = sum(union_s(s["jobs"], s["start_ms"], s["end_ms"]) for s in top)
    builds = [s for s in deeper if s["name"] == "build"]
    mb = 1e6
    return {
        "operators.build_s": wall("build", deeper),
        "operators.build_jobs": sum(len(s["jobs"]) for s in builds),
        "memo.builds": sum(s["memo_builds"] for s in top),
        "memo.build_s": sum(s["memo_build_s"] for s in top),
        "memo.setup_builds": sum(s["memo_builds"] for s in setup_top),
        "memo.setup_build_s": sum(s["memo_build_s"] for s in setup_top),
        "plan.analysis_s": c("analysis_s"),
        "plan.optimization_s": c("optimization_s"),
        "plan.planning_s": c("planning_s"),
        "sched.jobs": c("jobs"),
        "sched.stages": c("stages"),
        "sched.tasks": c("tasks"),
        "sched.driver_gap_s": sum(s["wall_s"] for s in top) - job_union,
        "exec.run_s": c("run_s"),
        "exec.cpu_s": c("cpu_s"),
        "exec.gc_s": c("gc_s"),
        "exec.busy_cores": c("run_s") / job_union if job_union > 0 else 0.0,
        "input.mb": c("input_b") / mb,
        "shuffle.read_mb": c("shuffle_read_b") / mb,
        "shuffle.write_mb": c("shuffle_write_b") / mb,
        "spill.mb": c("spill_b") / mb,
        "output.mb": c("output_b") / mb,
        "ml.train_s": wall("ml.train", top),
        "ml.load_s": wall("ml.load", top),
        "ml.score_s": wall("ml.score", deeper),
        "storage.cached_mb": cached_mb,
    }


def self_times(spans):
    """Each span's self time: its wall time minus its children's."""
    child = {}
    for s in spans:
        if s["parent"] != -1:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["wall_s"]
    return {s["id"]: s["wall_s"] - child.get(s["id"], 0.0) for s in spans}


def self_time_by_name(spans):
    """Self time inside the timed section, summed per span kind
    (op:<query> spans fold into "op")."""
    st = self_times(spans)
    timed, top, deeper = _section_spans(spans)
    out = {}
    for s in [timed] + top + deeper:
        kind = "op" if s["name"].startswith("op:") else s["name"]
        out[kind] = out.get(kind, 0.0) + st[s["id"]]
    return out


def per_op(spans):
    """Per-op attribution inside the timed section."""
    _, top, deeper = _section_spans(spans)
    kids = {}
    for s in deeper:
        kids.setdefault(s["parent"], []).append(s)
    out = []
    for s in top:
        c = s["counters"]
        out.append({
            "name": s["name"], "wall_s": s["wall_s"],
            "build_s": sum(k["wall_s"] for k in kids.get(s["id"], []) if k["name"] == "build"),
            "jobs": c["jobs"], "stages": c["stages"], "tasks": c["tasks"],
            "driver_gap_s": s["wall_s"] - union_s(s["jobs"], s["start_ms"], s["end_ms"]),
            "run_s": c["run_s"], "plan_s": c["analysis_s"] + c["optimization_s"] + c["planning_s"],
            "memo_builds": s["memo_builds"]})
    return out
