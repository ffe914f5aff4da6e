#!/usr/bin/env python3
"""Maintenance tool: pins the catalog slices and the expected outputs.

Both read the record of the harness's `profile` workload (full-catalog
passes):

    # slices: a first pass and three served passes at sf0.01
    java ... perfbench.Harness workload=profile cores=4 out=warm.json \
        plan=noop:<sf0.01>,noop:<sf0.01>,noop:<sf0.01>,noop:<sf0.01>
    # outputs: the last pass dumps every result
    java ... perfbench.Harness workload=profile cores=4 out=pin.json dump=pin_dump \
        plan=noop:<sf0.01>,dump:<sf0.01>

    python3 perfbench/pin.py slices --profile warm.json --k 16 --passes 2 \
        --records <untraced catalog_warm records, at least one per slice>
    python3 perfbench/pin.py outputs --profile pin.json --dump pin_dump --scale 0.01

`slices` partitions the registry into k disjoint slices, stratified by
module (each module's queries spread over the slices, counts within one)
and balanced on catalog_warm's metrics as predicted from one profile run,
refined by catalog_warm runs of every slice (each scaled by its speed
against the profile, so host drift between runs does not bias the
comparison). `outputs`
evaluates every oracle query with
DuckDB over the generated tables and pins its fingerprint and row count;
rows-only queries pin the row count of the Spark dump. Each Spark result is
compared with DuckDB's on the way, and every mismatch is printed.
"""
import argparse
import json
import os
import random
import statistics
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import metrics  # noqa: E402

RESTARTS = 6  # local-search starts for `slices`


def make_slices(modules, k, stats, restarts=1):
    """Stratified, balanced partition into k slices.

    `modules`: [(module, [names])] in registry order. `stats`: [(fn,
    target, weight)], where fn maps a slice's names to a number (a predicted
    cost sum, a predicted op-latency percentile, the size) and target is the
    value every slice should have.

    Each module's queries are dealt round-robin, so every slice holds the
    same number of them give or take one. Local search then swaps two
    queries of one module between slices, or moves one from a slice holding
    more of that module to one holding fewer, while that lowers the summed
    squared relative deviation of the two slices from every target. The
    first start deals in registry order; each further restart deals a
    seeded shuffle of every module, and the partition with the lowest total
    deviation wins."""
    names = [n for _, ns in modules for n in ns]
    module_of = {n: m for m, ns in modules for n in ns}

    def dev(sl):
        return sum(w * (fn(sl) / t - 1.0) ** 2 for fn, t, w in stats)

    def count(sl, m):
        return sum(1 for n in sl if module_of[n] == m)

    def search(order):
        slices = [[] for _ in range(k)]
        for ns in order:
            for i, n in enumerate(ns):
                slices[i % k].append(n)
        where = {n: i for i, sl in enumerate(slices) for n in sl}
        improved = True
        while improved:
            improved = False
            for a in names:
                i, m = where[a], module_of[a]
                moves = [(t, None) for t in range(k) if count(slices[t], m) == count(slices[i], m) - 1]
                moves += [(where[b], b) for b in names
                          if module_of[b] == m and where[b] != i]
                for t, b in moves:
                    new_i = [n for n in slices[i] if n != a] + ([b] if b else [])
                    new_t = [n for n in slices[t] if n != b] + [a]
                    if dev(new_i) + dev(new_t) < dev(slices[i]) + dev(slices[t]) - 1e-12:
                        slices[i], slices[t] = new_i, new_t
                        where[a] = t
                        if b:
                            where[b] = i
                        improved = True
                        break
        return slices

    best = None
    for r in range(restarts):
        order = [list(ns) for _, ns in modules]
        if r:
            rng = random.Random(r)
            for ns in order:
                rng.shuffle(ns)
        slices = search(order)
        total = sum(dev(sl) for sl in slices)
        if best is None or total < best[0]:
            best = (total, slices)
    order = {n: j for j, n in enumerate(names)}
    return [sorted(sl, key=order.get) for sl in best[1]]


def predicted_ops(sl, served):
    """A slice's timed-op latencies: one per query and timed pass."""
    return sorted(p[n] for p in served for n in sl)


def measured_costs(profile, records, passes):
    """Per-query costs for balancing: the set-up pass's seconds, the wall
    seconds of each timed pass, and CPU seconds per timed op.

    The base is the profile: its first pass, and the median of its later,
    served passes for every timed pass. Where catalog_warm run records
    measured a query inside its slice, their medians replace the profile's
    (a slice run is less warmed up than a full-catalog pass, and its first
    timed pass is slower than the second). Each record's timed ops are first
    divided by the record's speed against the profile (its timed seconds
    over the profile's prediction for the same ops), so that host drift
    between runs does not bias the comparison of queries measured in
    different runs."""
    first = {q["name"]: q["s"] for q in profile["passes"][0]["queries"]}
    later = [{q["name"]: q for q in p["queries"]} for p in profile["passes"][1:]]
    base = {n: statistics.median(p[n]["s"] for p in later) for n in first}
    base_cpu = {n: statistics.median(p[n]["cpu_s"] for p in later) for n in first}
    served = [dict(base) for _ in range(passes)]
    cpu = dict(base_cpu)
    seen_first, seen, seen_cpu = {}, {}, {}
    for path in records:
        with open(path) as f:
            rec = json.load(f)
        r, size = rec["record"], len(rec["slice"])
        ops = r["ops"][:passes * size]
        speed = sum(o["s"] for o in ops) / sum(base[o["name"]] for o in ops)
        speed_cpu = sum(o["cpu_s"] for o in ops) / sum(base_cpu[o["name"]] for o in ops)
        for o in r["setup_ops"][:size]:
            seen_first.setdefault(o["name"], []).append(o["s"])
        for i, o in enumerate(ops):
            seen.setdefault((i // size, o["name"]), []).append(o["s"] / speed)
            seen_cpu.setdefault(o["name"], []).append(o["cpu_s"] / speed_cpu)
    for n, xs in seen_first.items():
        first[n] = statistics.median(xs)
    for (i, n), xs in seen.items():
        served[i][n] = statistics.median(xs)
    for n, xs in seen_cpu.items():
        cpu[n] = statistics.median(xs)
    return first, served, cpu


def cmd_slices(a):
    warm = json.load(open(a.profile))
    modules = [(m["module"], m["names"]) for m in warm["modules"]]
    first, served, cpu = measured_costs(warm, a.records, a.passes)
    everything = list(first)
    catalog_ops = predicted_ops(everything, served)
    size = len(everything) / a.k
    tail_rank = round(len(catalog_ops) * (1 - metrics.TAIL_BEYOND / (a.passes * size)))
    # catalog_warm's metrics as predicted for a slice: set-up pass, timed
    # passes, median and tail op latency, CPU, op count. setup_s has the
    # lowest weight: its spread across seeds is not bounded.
    stats = [
        (lambda sl: sum(first[n] for n in sl), sum(first.values()) / a.k, 0.5),
        (lambda sl: sum(p[n] for p in served for n in sl), sum(catalog_ops) / a.k, 3.0),
        (lambda sl: statistics.median(predicted_ops(sl, served)),
         statistics.median(catalog_ops), 3.0),
        (lambda sl: metrics.tail_rule(predicted_ops(sl, served))["value"],
         catalog_ops[tail_rank], 10.0),
        (lambda sl: sum(cpu[n] for n in sl), sum(cpu.values()) / a.k, 3.0),
        (len, size, 10.0),
    ]
    slices = make_slices(modules, a.k, stats, RESTARTS)
    for i, sl in enumerate(slices):
        print(i, " ".join(f"{fn(sl):7.3f}" for fn, _, _ in stats))
    print("target", " ".join(f"{t:7.3f}" for _, t, _ in stats))
    out = {"catalog": [n for _, ns in modules for n in ns],
           "modules": {m: ns for m, ns in modules},
           "slices": slices}
    with open(os.path.join(BENCH, "slices.json"), "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")


def cmd_outputs(a):
    import duckdb
    prof = json.load(open(a.profile))
    data = os.path.join(a.data or os.path.join(".bench_build", "data"),
                        f"sf{a.scale}-v{gen.GEN_VERSION}")
    if not os.path.exists(data):
        gen.write_catalog(a.scale, data)
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    oracle = prof["oracle"]
    pinned_path = os.path.join(BENCH, "pinned.json")
    pinned = json.load(open(pinned_path)) if os.path.exists(pinned_path) else {}
    out, bad = {}, 0
    for q in prof["passes"][-1]["queries"]:
        name = q["name"]
        spark_df = metrics.read_dump(con, os.path.join(a.dump, name))
        if spark_df is None:
            print(f"{name}: no Spark output ({q['error']})")
            bad += 1
            continue
        if name not in oracle:
            out[name] = {"rows": len(spark_df)}
            continue
        duck_df = con.execute(oracle[name]).fetchdf()
        fp = metrics.fingerprint(duck_df)
        out[name] = {"rows": len(duck_df), "fp": fp}
        if metrics.fingerprint(spark_df) != fp:
            print(f"{name}: Spark output differs from DuckDB "
                  f"({len(spark_df)} vs {len(duck_df)} rows)")
            bad += 1
    pinned[f"sf{a.scale}"] = out
    with open(pinned_path, "w") as f:
        json.dump(pinned, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"pinned {len(out)} outputs at sf{a.scale}, {bad} mismatches")


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    s = sub.add_parser("slices")
    s.add_argument("--profile", required=True, help="warm-path profile record")
    s.add_argument("--k", type=int, required=True)
    s.add_argument("--passes", type=int, default=2, help="catalog_warm's timed passes")
    s.add_argument("--records", nargs="*", default=[],
                   help="untraced catalog_warm run records (.bench_build/records/*.json)")
    o = sub.add_parser("outputs")
    o.add_argument("--profile", required=True)
    o.add_argument("--dump", required=True)
    o.add_argument("--scale", type=float, required=True)
    o.add_argument("--data", help="directory holding the generated sf<scale>-v<n> tables")
    a = ap.parse_args()
    {"slices": cmd_slices, "outputs": cmd_outputs}[a.cmd](a)


if __name__ == "__main__":
    main()
