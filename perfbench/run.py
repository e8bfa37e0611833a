#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload docs|raster --seed N --seconds S \
        --trace 0|1 [--threads 4]

Run from the root of a checkout. Builds the engine and the benchmark
(perfbench/build.py), generates the fixtures once in an untimed prepare step,
then runs the workload and prints one line per metric followed by one JSON line.
See perfbench/README.md.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import stats  # noqa: E402

ROOT = build.ROOT
WORK = os.path.join(build.BUILD, "work")
PINS = os.path.join(HERE, "pins.json")
MIB = 1024.0 * 1024.0
# fixed heap size, so heap sizing heuristics do not differ between runs
HEAP = "3g"
KERNELS = ["intensity", "caldiv", "speckle_lee", "halo_strip", "block_means"]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def jvm(mode, args):
    # C1 only: with C2, pass time in a fresh JVM keeps falling for minutes, so
    # a short window would measure how far the JIT has got, not the program.
    # C1 alone gets a 48 MB code cache, which Spark's generated classes fill after
    # about 40 s; the JVM then flushes and recompiles, and one pass burns twice
    # its usual CPU time. Hence the larger cache.
    # The serial collector frees heap only in the collections it reports, which
    # alloc_mb_per_pass counts on (G1 also frees whole regions in concurrent
    # cycles it reports nowhere), and runs no threads beside the program's.
    cmd = [build.java(), "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=256m",
           "-XX:+UseSerialGC", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m",
           *build.ADD_OPENS,
           f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", build.classpath(), "graftbench.Main", "--mode", mode, "--work", WORK]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=ROOT)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: JVM {mode} exited with {r.returncode}")


def prepare(threads):
    """Untimed: generate or verify the fixture tables once per build."""
    stamp = os.path.join(WORK, "prepared.stamp")
    want = open(build.STAMP).read()
    if os.path.exists(stamp) and open(stamp).read() == want:
        return
    log("preparing fixtures (untimed)")
    jvm("prepare", {"threads": threads})
    with open(stamp, "w") as fh:
        fh.write(want)


# ---------------------------------------------------------------- metrics

class Sample:
    """A metric value with its sample count and quartiles."""

    def __init__(self, value, unit, xs=None):
        self.value, self.unit = value, unit
        self.xs = list(xs) if xs is not None else [value]

    def describe(self):
        n = len(self.xs)
        if n > 1:
            q1, _, q3 = stats.quartiles(self.xs)
            return f"{self.value:.6g} {self.unit} (n={n}, q1={q1:.6g}, q3={q3:.6g})"
        return f"{self.value:.6g} {self.unit} (n={n})"


def med(xs, unit):
    return Sample(stats.median(xs), unit, xs)


def passes(raw, *kinds):
    return [p for p in raw["passes"] if p["kind"] in kinds]


def pass_rows(p):
    return sum(q["rows"] for q in p["queries"])


def results(raw):
    """Every (query, rows, checksum) the run produced: the passes, and the checksum
    sink of each layer decomposition."""
    out = []
    for p in raw["passes"]:
        out += [(q["name"], q["rows"], q["checksum"], q.get("error")) for q in p["queries"]]
    for s in raw["spans"]:
        if s["name"] == "lineage.checksum" and s["note"]:
            q, rows, cs = s["note"].split()
            out.append((q, int(rows), cs, None))
    return out


def agreed_results(raw):
    """({query: {"rows", "checksum"}}, problems): each query's one result, and what
    stops a pin: a query that threw, or runs of a query that disagree."""
    seen, bad = {}, []
    for q, rows, cs, err in results(raw):
        if err:
            bad.append(f"{q} threw {err}")
        seen.setdefault(q, set()).add((rows, cs))
    bad += [f"{q} gave {sorted(v)}" for q, v in sorted(seen.items()) if len(v) > 1]
    agreed = {q: {"rows": r, "checksum": c} for q, v in seen.items() if len(v) == 1 for r, c in v}
    return agreed, bad


def write_pins(raw):
    """Record each query's (rows, checksum) as its pin, if every run of it in this
    JVM gave the same one."""
    agreed, bad = agreed_results(raw)
    if bad:
        raise SystemExit("perfbench: no pins written, the runs disagree: " + "; ".join(bad))
    pins = json.load(open(PINS)) if os.path.exists(PINS) else {}
    pins.setdefault(raw["sf"], {}).update(agreed)
    with open(PINS, "w") as fh:
        json.dump(pins, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"pins of {len(agreed)} queries at {raw['sf']} written to {os.path.relpath(PINS, ROOT)}; "
          "run again without --write-pins to measure")


def check_passes(raw, pins):
    """(attempted, failed, messages): a pass fails if a query threw or its
    (rows, checksum) differs from the pin."""
    pinned = pins.get(raw["sf"], {})
    failed, msgs = 0, []
    for p in raw["passes"]:
        bad = []
        for q in p["queries"]:
            want = pinned.get(q["name"])
            if "error" in q:
                bad.append(f"{q['name']} threw {q['error']}")
            elif want is None:
                bad.append(f"{q['name']} has no pin at {raw['sf']}")
            elif (q["rows"], q["checksum"]) != (want["rows"], want["checksum"]):
                bad.append(f"{q['name']} gave ({q['rows']}, {q['checksum']}), "
                           f"pinned ({want['rows']}, {want['checksum']})")
        if bad:
            failed += 1
            msgs += [f"{p['id']}: {b}" for b in bad]
    # the checksum layer of every layer decomposition is checked the same way
    for s in raw["spans"]:
        if s["name"] == "lineage.checksum" and s["note"]:
            q, rows, cs = s["note"].split()
            want = pinned.get(q)
            if want is None or (int(rows), cs) != (want["rows"], want["checksum"]):
                msgs.append(f"{s['pass']}: {q} gave ({rows}, {cs}), pinned {want}")
    # and so is each copied prefix, completed to its engine query
    for c in raw.get("prefix_checks", []):
        want = pinned.get(c["query"])
        if want is None or (c["rows"], c["checksum"]) != (want["rows"], want["checksum"]):
            msgs.append(f"prefix {c['name']} completed to {c['query']} gave "
                        f"({c['rows']}, {c['checksum']}), pinned {want}")
    return len(raw["passes"]), failed, msgs


def collections(raw, p):
    """(heap bytes before, heap bytes after) of each collection during pass `p`."""
    c0, c1 = p["gc_counts_start"], p["gc_counts_end"]
    return [(before, after) for gc, n, before, after in raw["collections"] if c0[gc] < n <= c1[gc]]


def alloc_bytes(raw, p):
    """Heap bytes pass `p` allocated: the heap's growth over the pass plus what
    each collection during it freed."""
    freed = sum(before - after for before, after in collections(raw, p))
    return p["heap_end"] - p["heap_start"] + freed


def heap_peak(raw, ps):
    """The median, over the passes of `ps` with a collection, of the largest heap
    a collection in the pass left; printed, not a metric (see README)."""
    peaks = [max(after for _, after in cs) / MIB for cs in (collections(raw, p) for p in ps) if cs]
    return med(peaks, "MB") if peaks else None


def end_to_end(raw):
    timed = passes(raw, "timed")
    walls = [p["wall_s"] for p in timed]
    pass_s = med(walls, "s")
    m = {
        "setup_s": Sample(raw["setup_s"], "s"),
        "pass_s": pass_s,
        "rows_per_s": med([pass_rows(p) / p["wall_s"] for p in timed], "rows/s"),
        "cpu_s_per_pass": med([p["cpu_s"] for p in timed], "s"),
        "alloc_mb_per_pass": med([alloc_bytes(raw, p) / MIB for p in timed], "MB"),
    }
    return m


def layer_trees(raw):
    """{query: {node name: (best duration, self time, consumed nodes, span)}} from
    the layer spans; the span is the node's last round, for its counts."""
    trees = {}
    for s in raw["spans"]:
        if s["pass"].startswith("layers:"):
            trees.setdefault(s["pass"].split(":", 1)[1], []).append(s)
    out = {}
    for q, spans in trees.items():
        times = stats.layer_times(spans)
        last = {s["name"]: s for s in spans}
        out[q] = {n: (d, st, ch, last[n]) for n, (d, st, ch) in times.items()}
    return out


def per_query(ps, value, agg=stats.median):
    """{query: agg of value(pass)} over single-query passes."""
    by_q = {}
    for p in ps:
        (q,) = p["queries"]
        by_q.setdefault(q["name"], []).append(value(p))
    return {q: agg(xs) for q, xs in by_q.items()}


def per_layer(raw):
    """Per-layer metrics of a traced run. Each workload query was decomposed and
    run untraced ("timed") `layer_reps` times; the checksum sink on top of its
    decomposition is its traced run. A sum over the workload's queries is one
    pass."""
    trees = layer_trees(raw)
    workload_qs = raw["queries"]

    def dur(q, name):
        return trees[q][name][0]

    def self_t(q, name):
        return trees[q][name][1]

    def count(q, name, key):
        return trees[q][name][3][key]

    def one_pass(ps, value):
        return sum(per_query(ps, value).values())

    c = raw["counts"]
    timed = passes(raw, "timed")
    # best round, as for the layers: the time a host hiccup did not stretch
    untraced = per_query(timed, lambda p: p["queries"][0]["sec"], min)
    wall = sum(untraced.values())
    m = {
        "gen.ensure_s": Sample(raw["gen_ensure_s"], "s"),
        "gen.scan_s": Sample(dur("q_span_cells", "gen.scan.docs") + dur("q_speckle_lee", "gen.scan.tiles"), "s"),
        "gen.scan_mb": Sample((count("q_span_cells", "gen.scan.docs", "input_bytes")
                               + count("q_speckle_lee", "gen.scan.tiles", "input_bytes")) / MIB, "MB"),
        "spans.parse_s": Sample(self_t("q_span_cells", "spans.parse"), "s"),
        "spans.rows": Sample(c["spans_rows"], "count"),
        "cells.cover_rows": Sample(c["cover_rows"], "count"),
        "cells.sat_keep_ratio": Sample(c["sat_survivors"] / c["cell_candidates"], "ratio"),
        "split.select_s": Sample(dur("q_topsar_split", "split.select"), "s"),
        "split.join_s": Sample(self_t("q_aoi_doc_tiles", "split.join"), "s"),
        "split.join_rows": Sample(c["split_join_rows"], "count"),
        "raster.tiles_s": Sample(self_t("q_speckle_lee", "raster.tiles"), "s"),
        "raster.halo_s": Sample(self_t("q_speckle_lee", "raster.halo"), "s"),
        "raster.halo_shuffle_mb": Sample(count("q_speckle_lee", "raster.halo", "shuffle_write_bytes") / MIB, "MB"),
        "tc.resolve_s": Sample(dur("q_terrain_correction", "tc.resolve"), "s"),
        "tc.gather_s": Sample(self_t("q_terrain_correction", "tc.gather"), "s"),
        "tc.broadcast_mb": Sample(count("q_terrain_correction", "tc.gather", "broadcast_bytes") / MIB, "MB"),
        "chain.grd_s": Sample(dur("q_chain_grd", "chain.grd"), "s"),
        # checksum sink minus noop sink, over the workload's queries
        "lineage.checksum_s": Sample(sum(self_t(q, "lineage.checksum") for q in workload_qs), "s"),
        "spark.stages": Sample(one_pass(timed, lambda p: p["stages"]), "count"),
        "spark.tasks": Sample(one_pass(timed, lambda p: p["tasks"]), "count"),
        "spark.shuffle_write_mb": Sample(one_pass(timed, lambda p: p["shuffle_write_bytes"]) / MIB, "MB"),
        "spark.task_busy_frac": Sample(one_pass(timed, lambda p: p["task_run_ms"]) / 1e3
                                       / (raw["threads"] * wall), "ratio"),
        "driver.plan_s": Sample(sum((s["end_ns"] - s["start_ns"]) / 1e9
                                    for s in raw["spans"] if s["name"] == "driver.plan"), "s"),
        "trace.overhead_s": Sample(sum(dur(q, "lineage.checksum") for q in workload_qs) - wall, "s"),
        # pass time on one thread over threads x pass time on all of them
        "scaling_eff": Sample(passes(raw, "scaling")[0]["wall_s"] / (raw["threads"] * wall), "ratio"),
    }
    for k in KERNELS:
        m[f"exprs.{k}.ns_per_px"] = Sample(raw["kernels"][k], "ns/px")
    staged = passes(raw, "stage-probe")[0]["queries"]
    m["lineage.stage_write_s"] = Sample(sum(q["write_s"] for q in staged), "s")
    m["lineage.stage_mb"] = Sample(sum(q["stage_bytes"] for q in staged) / MIB, "MB")
    m["lineage.stage_files"] = Sample(sum(q["stage_files"] for q in staged), "count")
    m["lineage.resume_s"] = Sample(sum(q["resume_s"] for q in staged), "s")

    # prefix-sum check: a query's layer times telescope to its checksum-sink time
    # in the decomposition, compared with its untraced time
    errs = []
    for q in workload_qs:
        layer_sum = dur(q, "lineage.checksum")
        errs.append((q, layer_sum, untraced[q], stats.prefix_sum_ok(layer_sum, untraced[q])))
    m["trace.prefix_err"] = Sample(max(abs(s - u) / u for _, s, u, _ in errs), "ratio")
    # layers whose prefixes take longer than they do: (query, layer, self time,
    # time, whether it consumes one of the benchmark's copied prefixes)
    copied = set(raw["copied_layers"])
    negative = [(q, n, st, d, bool(copied & set(ch))) for q, t in sorted(trees.items())
                for n, (d, st, ch, _) in t.items() if not stats.self_time_ok(st, d)]
    return m, errs, negative


def contention(raw):
    b, a = raw["host_before"], raw["host_after"]
    (s0, t0), (s1, t1) = b["proc_stat"], a["proc_stat"]
    steal = (s1 - s0) / (t1 - t0) if t1 > t0 else 0.0
    timed = passes(raw, "timed")
    lines = [
        f"contention: load1 {b['load1']} -> {a['load1']}, steal {steal:.2%} of CPU ticks over the run",
        "contention per timed pass: steal " + ", ".join(f"{p['steal_frac']:.1%}" for p in timed)
        + "; load1 " + ", ".join(f"{p['load1']:.2f}" for p in timed)]
    if raw["trace"]:
        return lines  # a traced run times single queries, not passes
    first = passes(raw, "setup")[0]
    return lines + [
        f"warm-up trend: first pass {first['wall_s']:.3f} s / {first['cpu_s']:.3f} s CPU, "
        f"timed median {stats.median([p['wall_s'] for p in timed]):.3f} s / "
        f"{stats.median([p['cpu_s'] for p in timed]):.3f} s CPU",
    ]


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["docs", "raster"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--threads", type=int, default=4)
    ap.add_argument("--write-pins", action="store_true",
                    help="record each query's (rows, checksum) as its pin, if every run of it "
                         "agreed; measures nothing")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    build.build()
    os.makedirs(WORK, exist_ok=True)
    prepare(a.threads)

    out = os.path.join(WORK, f"raw-{a.workload}-{a.seed}-{a.trace}.json")
    if os.path.exists(out):
        os.remove(out)
    jvm("run", {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                "trace": a.trace, "threads": a.threads, "out": out})
    with open(out) as fh:
        raw = json.load(fh)

    if a.write_pins:
        write_pins(raw)
        return
    pins = json.load(open(PINS)) if os.path.exists(PINS) else {}
    attempted, failed, msgs = check_passes(raw, pins)
    correct = not msgs
    for msg in msgs:
        print(f"MISMATCH {msg}")

    scaling = passes(raw, "scaling")
    if scaling:
        # identical outputs at local[1] and local[threads]
        def sums(ps):
            return {(q["name"], q["rows"], q["checksum"]) for p in ps for q in p["queries"]}
        same = sums(scaling) == sums(passes(raw, "timed"))
        print(f"scaling: local[1] vs local[{raw['threads']}] checksums "
              f"{'identical' if same else 'DIFFER'}")
        correct = correct and same
    print(f"workload {a.workload}, seed {a.seed}, {raw['sf']}, local[{raw['threads']}], "
          f"trace {a.trace}: {attempted} passes attempted, {failed} failed")
    for line in contention(raw):
        print(line)
    print(f"failed_frac: {failed / attempted:.6g} ratio (n={attempted})")
    peak = None if a.trace else heap_peak(raw, passes(raw, "timed"))
    if peak:
        print(f"heap_peak_mb (not a metric): {peak.describe()}")

    if a.trace:
        layers, errs, negative = per_layer(raw)
        for q, s, u, ok in errs:
            print(f"prefix sum {q}: layers {s:.4f} s vs untraced {u:.4f} s "
                  f"({'within' if ok else 'OUTSIDE'} tolerance {stats.PREFIX_TOL:.0%} / "
                  f"{stats.PREFIX_TOL_ABS_S} s)")
        for q, n, st, d, of_copy in negative:
            print(f"{'FAILED DECOMPOSITION' if of_copy else 'negative self time'} {q}: {n} self "
                  f"time {st:.4f} s of {d:.4f} s is below -max({stats.PREFIX_TOL:.0%}, "
                  f"{stats.PREFIX_TOL_ABS_S} s)"
                  + ("; a copied prefix does more work than the step consuming it" if of_copy else
                     "; its prefixes are engine functions, so this is timing, not a wrong prefix"))
        correct = correct and not any(of_copy for *_, of_copy in negative)
        for c in raw["prefix_checks"]:
            print(f"prefix copy {c['name']}: completed to {c['query']}, plan "
                  + ("is the engine's" if c["same_plan"] else
                     "is NOT the engine's (STALE: the copy in Workloads.scala no longer "
                     "follows the engine; its layer metrics measure the copy)"))
        trace_path = os.path.join(WORK, f"trace-{a.workload}-{a.seed}.json")
        with open(trace_path, "w") as fh:
            json.dump({"spans": raw["spans"], "counts": raw["counts"], "kernels": raw["kernels"]}, fh)
        print(f"trace: {len(raw['spans'])} spans written to {os.path.relpath(trace_path, ROOT)}")
        wanted, metrics = spec["per_layer"], layers
    else:
        wanted, metrics = spec["end_to_end"], end_to_end(raw)

    result = {}
    for m in wanted:
        s = metrics[m["name"]]
        assert stats.valid_name(m["name"]) and s.unit == m["unit"], m
        print(f"{m['name']}: {s.describe()}")
        result[m["name"]] = {"value": s.value, "unit": s.unit}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": result}))


if __name__ == "__main__":
    main()
