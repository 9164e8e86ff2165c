"""Same-host benchmark of the engine, one client in a closed loop.

    python3 perfbench/run.py --workload store --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all          # every named metric
    python3 perfbench/run.py --smoke                 # each workload once, tiny
    python3 perfbench/run.py --selftest              # checks catch bad answers
    python3 perfbench/run.py --compare A.json B.json # same-host records only

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics of BENCHMARK.json
with ``--trace 0``, its per-layer metrics with ``--trace 1``. Every run
also writes a host-stamped record under ``.perfbench-work/records``.
See perfbench/README.md for the method.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import harness
from harness import ROOT, OpLog, median

SIZES = {
    # sized on a 4-core, 15 GB host at local[4] so that one run of a
    # workload, set-up included, stays near a minute
    "full": {"ingest_files": 10_000, "ingest_appends": 1,
             "read_chunk_rows": 1024, "read_lookups": 3,
             "update_files": 300, "queries_sf": 0.005},
    "smoke": {"ingest_files": 2_000, "ingest_appends": 1,
              "read_chunk_rows": 256, "read_lookups": 3,
              "update_files": 150, "queries_sf": 0.001},
}

# workload -> (parts run in the timed loop, parts traced only). A part
# is one of the engine's paths; every cycle runs each timed part's ops
# once. ``update`` is not in BENCHMARK.json: a 3-stage DAG wave takes
# ~15 s and its bootstrap up to 40 s on a 4-core host, more than one run
# of the benchmark's time budget (~70 s) allows, so the queries
# workload's traced run measures the DAG's layers instead.
WORKLOADS = {
    "store": (["ingest", "read"], []),
    "queries": (["queries"], ["update"]),
    "update": (["update"], []),
}


def _parts():
    from wl_ingest import Ingest
    from wl_queries import Queries
    from wl_read import Read
    from wl_update import Update

    return {p.name: p for p in (Ingest, Read, Update, Queries)}


class Composite:
    """A workload: its parts' set-ups, then a closed loop of cycles in
    which every part runs its ops once, each op after the previous one
    returns."""

    def __init__(self, name, parts, traced_only=()):
        self.name = name
        self.parts = parts
        self.traced_only = list(traced_only)
        self.reps = max(p.reps for p in parts)

    def build(self, rep: int) -> None:
        for p in self.parts:
            if rep < p.reps:
                p.build(rep)

    def setup(self, log) -> None:
        ctx: dict = {}
        for p in self.parts:
            p.setup(ctx, log)

    def cycle(self, log) -> None:
        for p in self.parts:
            p.cycle(log)

    def finish(self, log) -> None:
        for p in self.parts:
            if hasattr(p, "finish"):
                p.finish(log)

    def cycle_s(self, log) -> float:
        return sum(p.cycle_s(log) for p in self.parts)

    def named(self, log) -> list:
        return [x for p in self.parts for x in p.named(log)]

    def fingerprint(self) -> dict:
        return {p.name: p.fingerprint for p in self.parts}

    def trace(self, tr, log, timed_log):
        """Per-layer metrics of every part; coverage and overhead count
        only the parts whose ops the timed loop ran."""
        m: dict = {}
        layer_sum = traced = op_s = 0.0
        for p in self.parts:
            pm, ls, t = p.trace(tr, log)
            m.update(pm)
            layer_sum += ls
            traced += t
            op_s += p.op_time(timed_log)
        for p in self.traced_only:
            p.setup({}, log)
            m.update(p.trace(tr, log)[0])
        return m, layer_sum, traced, op_s


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_workload(name, spark, start_s, rss, seed, seconds, size, trace,
                 selftest=False) -> dict:
    parts = _parts()
    timed, traced_only = WORKLOADS[name]
    w = Composite(name, [parts[p](spark, seed, size) for p in timed],
                  [parts[p](spark, seed, size) for p in traced_only]
                  if trace else [])
    log = OpLog()
    rss.reset()
    builds = []
    for rep in range(w.reps):
        t0 = time.perf_counter()
        w.build(rep)
        builds.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    w.setup(log)
    once_s = time.perf_counter() - t0
    log.samples.clear()  # set-up ops count as attempted, not as latencies
    setup_s = start_s + (median(builds) if builds else 0.0) + once_s
    t_end = time.perf_counter() + seconds
    t0 = time.perf_counter()
    while True:
        w.cycle(log)
        if time.perf_counter() >= t_end:
            break
    measured_s = time.perf_counter() - t0
    w.finish(log)
    out = {
        "workload": name, "input_fingerprint": w.fingerprint(),
        "measured_s": measured_s, "log": log,
        "e2e": {"setup_s": setup_s, "cycle_s": w.cycle_s(log)},
        "named": w.named(log) + [
            ("setup_s", setup_s, "s"),
            ("peak_rss_mb", rss.peak_total / 2**20, "MB"),
            ("error_rate", log.failed / max(log.attempted, 1), "ratio"),
        ],
        "setup_detail": {"session_start_s": start_s, "builds_s": builds,
                         "once_s": once_s},
        "samples": {k: [round(x, 4) for x in v]
                    for k, v in log.samples.items()},
    }
    if selftest:
        for p in w.parts:
            before = log.failed
            p.selftest(log)
            out.setdefault("selftest", {})[p.name] = log.failed > before
    if trace:
        tr = harness.Tracer(f"{name}-{seed}", spark,
                            harness.RUN_DIR + "/eventlog")
        tlog = OpLog()
        m, layer_sum, traced_s, op_s = w.trace(tr, tlog, log)
        m["trace.coverage"] = layer_sum / op_s
        m["trace.overhead_s"] = traced_s - op_s
        m["session.start_s"] = start_s
        m["process.peak_rss_mb.jvm"] = rss.peak_jvm / 2**20
        m["process.peak_rss_mb.python"] = rss.peak_python / 2**20
        log.attempted += tlog.attempted
        log.failed += tlog.failed
        log.errors += tlog.errors
        out["per_layer"] = m
        out["tracer"] = tr
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", default="all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, one cycle of each workload")
    ap.add_argument("--selftest", action="store_true",
                    help="smoke run plus a corrupted result per check")
    ap.add_argument("--compare", nargs=2, metavar="RECORD")
    args = ap.parse_args(argv)
    if args.compare:
        return compare(*args.compare)

    spec = load_spec()
    harness.prepare_work_dir()
    sys.path.insert(0, ROOT)
    # the engine must be importable before anything runs or prints
    import __spark_entry__  # noqa: F401
    import parquet_producers_spark  # noqa: F401

    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    if any(n not in WORKLOADS for n in names):
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    small = args.smoke or args.selftest
    size = SIZES["smoke" if small else "full"]
    seconds = 0 if small else args.seconds
    codec_m: dict = {}
    if args.trace:
        import codecbench

        codec_m, measured_speed = codecbench.run(args.seed)
    results = []
    with harness.RssSampler() as rss:
        spark, start_s = harness.start_spark(
            f"perfbench-{args.workload}",
            harness.RUN_DIR + "/eventlog" if args.trace else None)
        try:
            host = harness.host_stamp(spark)
            for n in names:
                results.append(run_workload(
                    n, spark, start_s, rss, args.seed, seconds,
                    size, args.trace, selftest=args.selftest))
        finally:
            harness.stop_spark(spark)
            harness.clear_run_dir()

    attempted = sum(r["log"].attempted for r in results)
    failed = sum(r["log"].failed for r in results)
    for r in results:
        for name, value, unit in r["named"]:
            print(f"{r['workload']:<9} {name:<18} {value:>14.6g} {unit}")
        for e in r["log"].errors:
            print(f"{r['workload']:<9} error: {e}")
    if args.trace:
        for line in codecbench.speed_table(measured_speed):
            print(line)

    e2e_units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer_units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    metrics: dict = {}
    for r in results:
        prefix = "" if len(results) == 1 else r["workload"] + "."
        if args.trace:
            vals = {k: 0.0 for k in layer_units}
            vals.update(codec_m)
            unknown = set(r["per_layer"]) - set(layer_units)
            if unknown:
                raise KeyError(f"per-layer metrics missing from "
                               f"BENCHMARK.json: {sorted(unknown)}")
            vals.update(r["per_layer"])
            units = layer_units
            for k in ("trace.coverage", "trace.overhead_s"):
                print(f"{r['workload']:<9} {k}.{r['workload']:<10} "
                      f"{vals[k]:>10.4g} {units[k]}")
        else:
            vals, units = r["e2e"], e2e_units
        for k, unit in units.items():
            metrics[prefix + k] = {"value": float(vals[k]), "unit": unit}

    if args.selftest:
        ok = True
        for r in results:
            for part, caught in r["selftest"].items():
                ok = ok and caught
                print(f"{part:<8} selftest: corrupted result "
                      f"{'caught' if caught else 'NOT caught'}")
            print(f"{r['workload']:<9} error_rate after selftest "
                  f"{r['log'].failed / r['log'].attempted:.3f}")
        return 0 if ok else 1

    write_record(args, host, results, metrics, size)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def write_record(args, host, results, metrics, size) -> None:
    stamp = time.strftime("%Y%m%dT%H%M%S")
    base = os.path.join(
        harness.RECORDS_DIR,
        f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}-{os.getpid()}")
    rec = {
        "host": host,
        "git_sha": harness._git_sha(),
        "source_fingerprint": harness.source_fingerprint(),
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "size": size,
        "input_fingerprint": {r["workload"]: r["input_fingerprint"]
                              for r in results},
        "metrics": metrics,
        "named": {r["workload"]: {n: [v, u] for n, v, u in r["named"]}
                  for r in results},
        "samples": {r["workload"]: r["samples"] for r in results},
        "setup_detail": {r["workload"]: r["setup_detail"] for r in results},
    }
    with open(base + ".json", "w") as f:
        json.dump(rec, f, indent=1)
    for r in results:
        if "tracer" in r:
            r["tracer"].dump(base + f".{r['workload']}.spans.jsonl")


def compare(a_path: str, b_path: str) -> int:
    """Metric-by-metric ratio of two records; refuses records from
    different hosts, whose numbers are not comparable."""
    with open(a_path) as f:
        a = json.load(f)
    with open(b_path) as f:
        b = json.load(f)
    if a["host"] != b["host"]:
        print("refusing to compare records from different hosts:\n"
              f"  {a['host']}\n  {b['host']}", file=sys.stderr)
        return 3
    rows = [(k, va["value"], b["metrics"][k]["value"], va["unit"])
            for k, va in a["metrics"].items() if k in b["metrics"]]
    for w, named in a["named"].items():
        for k, (va, unit) in named.items():
            if k in b["named"].get(w, {}):
                rows.append((f"{w}.{k}", va, b["named"][w][k][0], unit))
    for k, va, vb, unit in rows:
        ratio = vb / va if va else float("nan")
        print(f"{k:<40} {va:>12.6g} {vb:>12.6g} {ratio:>8.3f}x {unit}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
