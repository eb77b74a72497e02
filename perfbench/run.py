#!/usr/bin/env python3
"""The repository benchmark: seeded, oracle-checked closed-loop workloads.

    python3 perfbench/run.py --workload tank_pipeline --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads (see ``BENCHMARK.json``):

* ``tank_pipeline`` - the paper's inventory pipeline queries and crosstab
  reports, the VOC round trip and the shapefile writer;
* ``tablelog`` - appends, upserts, DV merges and deletes, compaction and
  checkpoints beside latest, time-travel, skipping and change-feed reads on
  one ``graftlog`` table.

One client runs ops back to back (closed loop) on a ``local[nproc]``
session, in whole passes, until ``--seconds`` have elapsed. Inputs are
generated from ``--seed`` (``inputs.py``). Query results are checked
against their DuckDB oracles by ``tools/check.py`` after a warm-up pass
that writes them, and every timed result must match
the checked fingerprint; ``tablelog`` reads are checked against an
in-memory model of the table. ``--trace 1`` records spans, listener
counters and layer probes and reports the per-layer metrics instead.

The last stdout line is the JSON result; the lines before it print every
metric with its unit, the load stamps and each failed op with its cause.
Exit code is non-zero, with no result line, when the build or the run
fails.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import inputs  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("tank_pipeline", "tablelog")
RUN_TIMEOUT_S = 170
# A fixed-size heap: a heap that grows on demand made run-to-run times and
# peak memory swing with the GC's sizing decisions.
HEAP = "2g"
# Set-up repetitions per run; setup_s reports the median of their inputs
# and table-history steps.
SETUPS = 3

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

UNITS = {
    "setup_s": "s", "ops_per_s": "1/s", "read_p50_s": "s", "read_tail_s": "s",
    "write_p50_s": "s", "write_tail_s": "s", "error_rate": "ratio",
    "write_amp": "ratio", "space_amp": "ratio", "peak_rss_mb": "MB",
}


def run_jvm(root, classes, work, args):
    out = work / "record.json"
    (work / "tmp").mkdir(parents=True)
    # no perf-data file: the JVM would write it outside the checkout
    cmd = ["java", *ADD_OPENS, "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", f"{classes.resolve()}:{build.spark_jars()}/*", "graftbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--setups", str(SETUPS), "--work", str(work), "--out", str(out)]
    log = work / "jvm.log"
    with open(log, "w") as f:
        try:
            rc = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT, cwd=root,
                                timeout=RUN_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0 or not out.exists():
        sys.stderr.write(log.read_text()[-4000:])
        raise SystemExit(f"benchmark JVM failed ({rc})")
    return json.loads(out.read_text())


def oracle_check(root, input_dir, checks):
    """Runs the repository's DuckDB oracle compare (``tools/check.py``) over
    the check-pass results; returns ``{op: cause}`` for every op whose
    result is not its oracle's."""
    check_dir = Path(next(iter(checks.values()))["dir"]).parent  # one per run
    failures = {op: "no oracle SQL registered for this query"
                for op, c in checks.items() if not c["oracle"]}
    (check_dir / "oracle_sql.json").write_text(json.dumps(
        {op: c["oracle"] for op, c in checks.items() if c["oracle"]}))
    p = subprocess.run([sys.executable, str(root / "tools" / "check.py"), input_dir, str(check_dir)],
                       capture_output=True, text=True, timeout=RUN_TIMEOUT_S)
    for line in p.stdout.splitlines():
        tag, _, rest = line.partition(" ")
        if tag in ("FAIL", "NOSPARK", "EMPTY"):
            op, _, cause = rest.strip().partition(": ")
            failures[op] = f"{tag}: {cause}"
    if p.returncode != 0 and not failures:
        raise SystemExit(f"tools/check.py failed ({p.returncode}):\n{p.stdout[-2000:]}{p.stderr[-2000:]}")
    return failures


def judge(root, rec):
    """Marks each timed op failed or not; returns the ops and check causes."""
    check_fail = {}
    if rec["checks"]:
        check_fail = oracle_check(root, rec["input_dir"], rec["checks"])
    ops = rec["ops"]
    for op in ops:
        if op["ok"] and op["name"] in check_fail:
            op["ok"] = False
            op["cause"] = "check pass: " + check_fail[op["name"]]
    return ops, check_fail


def end_to_end(rec, ops, gen_s):
    """Every end-to-end metric: name -> (value or None, unit, note).

    ``setup_s`` is session build + input generation + table history +
    warm-up; the generation and history steps are repeated ``SETUPS``
    times and contribute their median. ``ops_per_s`` times each op at the
    median latency of its name over the loop (``metrics.median_rate``)."""
    setup = rec["setup"]
    out = {
        "setup_s": setup["session_s"] + metrics.median(gen_s)
        + metrics.median(setup["prepare_s"]) + setup["warmup_s"],
        "ops_per_s": metrics.median_rate([(o["name"], o["lat_s"], o["ok"]) for o in ops]),
        "error_rate": sum(1 for o in ops if not o["ok"]) / len(ops),
        "peak_rss_mb": rec["peak_rss_mb"],
    }
    notes = {}
    for kind in ("read", "write"):
        lat = [o["lat_s"] for o in ops if o["kind"] == kind]
        if not lat:
            continue
        out[f"{kind}_p50_s"] = metrics.median(lat)
        notes[f"{kind}_p50_s"] = f"n={len(lat)}"
        t = metrics.tail(lat)
        if t:
            out[f"{kind}_tail_s"] = t[0]
            notes[f"{kind}_tail_s"] = f"p{t[1]:.1f}, n={t[2]}"
        else:
            notes[f"{kind}_tail_s"] = f"needs >= {metrics.TAIL_BEYOND + 1} samples, had {len(lat)}"
    table = rec.get("table")
    if table:
        out["write_amp"] = metrics.write_amp(table["gained_bytes"], table["user_bytes"])
        out["space_amp"] = metrics.space_amp(table["disk_bytes"], table["snapshot_bytes"])
    return {k: (out.get(k), unit, notes.get(k, "")) for k, unit in UNITS.items()}


def per_layer(rec, ops):
    """Per-layer metrics over the first pass of a traced run: name -> value.
    Layers the workload does not call read 0."""
    first = [o for o in ops if o["pass"] == 0]
    idx = {o["i"] for o in first}
    spans = [s for s in rec["spans"] if s[1] in idx]

    def span_s(name):
        return sum(s[5] - s[4] for s in spans if s[2] == name) / 1e9

    def total(key):
        return sum(o["stats"][key] for o in first)

    job_s = gap_s = 0.0
    for o in first:
        lo, hi = o["wall_ms"]
        st = o["stats"]
        busy = metrics.union_length(metrics.clip(st["jobs"], lo, hi))
        phases = st["analysis_ms"] + st["optimization_ms"] + st["planning_ms"]
        job_s += busy / 1e3
        gap_s += max(0.0, (hi - lo) - busy - phases) / 1e3
    table = rec.get("table") or {}
    skip_ops = [o for o in first if o["i"] in set(table.get("skip_reads", []))]
    skip_in = sum(o["stats"]["input_bytes"] for o in skip_ops)
    skip_base = sum(table["skip_snapshot_bytes"][str(o["i"])] for o in skip_ops)
    out = {
        "queries.build_s": span_s("queries.build"),
        "plans.analysis_s": total("analysis_ms") / 1e3,
        "plans.optimization_s": total("optimization_ms") / 1e3,
        "plans.planning_s": total("planning_ms") / 1e3,
        "plans.exchanges": total("exchanges"),
        "plans.cached_relations": total("cached_relations"),
        "spark.jobs": sum(len(o["stats"]["jobs"]) for o in first),
        "spark.stages": total("stages"),
        "spark.tasks": total("tasks"),
        "spark.job_s": job_s,
        "spark.driver_gap_s": gap_s,
        "spark.shuffle_write_bytes": total("shuffle_write_bytes"),
        "spark.shuffle_read_bytes": total("shuffle_read_bytes"),
        "spark.shuffle_records": total("shuffle_records"),
        "spark.task_skew": max(o["stats"]["task_skew"] for o in first),
        "spark.spill_bytes": total("spill_bytes"),
        "spark.gc_s": total("gc_ms") / 1e3,
        "spark.input_bytes": total("input_bytes"),
        "spark.input_records": total("input_records"),
        "multimodal.chip_s": sum(o["lat_s"] for o in first if o["name"] == "g1_chip_pixels"),
        "sources.load_s": span_s("sources.load"),
        "sources.skip_ratio": metrics.ratio(skip_in, skip_base) or 0.0,
        "io.commit_s": span_s("io.commit"),
        "io.compaction_s": span_s("io.compaction"),
        "io.bytes_rewritten": sum(table.get("compaction_bytes", {}).get(str(i), 0) for i in idx),
    }
    out.update(rec["probes"])
    out.update(rec["state"])
    return out


def save_and_overhead(root, args, e2e):
    """Keeps this run's end-to-end numbers and, when the other trace mode
    has run on the same workload and seed, returns the tracing overhead."""
    last = root / ".bench_work" / "last"
    last.mkdir(parents=True, exist_ok=True)
    key = f"{args.workload}-s{args.seed}"
    (last / f"{key}-t{args.trace}.json").write_text(json.dumps({k: v[0] for k, v in e2e.items()}))
    other = last / f"{key}-t{1 - args.trace}.json"
    if not other.exists():
        return None
    mine = {k: v[0] for k, v in e2e.items()}
    theirs = json.loads(other.read_text())
    traced, plain = (mine, theirs) if args.trace else (theirs, mine)
    return {k: {"traced": traced[k], "untraced": plain[k],
                "delta": traced[k] - plain[k],
                "pct": 100.0 * (traced[k] - plain[k]) / plain[k] if plain[k] else None}
            for k in UNITS if traced.get(k) is not None and plain.get(k) is not None}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = Path.cwd()
    spec = json.loads((root / "BENCHMARK.json").read_text())
    classes = build.ensure(root)
    work = root / ".bench_work" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        load_before = os.getloadavg()[0]
        gen_s = []
        for rep in range(SETUPS):
            t = time.monotonic()
            if args.workload == "tablelog":
                inputs.history(work / f"inputs-{rep}", args.seed)
            else:
                inputs.generate(work / f"inputs-{rep}", args.seed)
            gen_s.append(time.monotonic() - t)
        rec = run_jvm(root, classes, work, args)
        load_after = os.getloadavg()[0]
        ops, check_fail = judge(root, rec)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e = end_to_end(rec, ops, gen_s)
    failed = [o for o in ops if not o["ok"]]
    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"nproc {rec['nproc']}  loadavg1 before {load_before:.2f} after {load_after:.2f}  "
          f"ops {len(ops)} in {rec['passes']} passes, {rec['loop_s']:.2f} s")
    for k, v in rec["facts"].items():
        print(f"  {k}: {v}")
    print(f"{'metric':<14} {'value':>12}  unit   note")
    for name, (value, unit, note) in e2e.items():
        shown = "n/a" if value is None else f"{value:.6g}"
        print(f"{name:<14} {shown:>12}  {unit:<6} {note}")
    for op, cause in sorted(check_fail.items()):
        print(f"CHECK FAILED {op}: {cause}")
    for o in failed:
        print(f"FAILED op {o['i']} {o['name']}: {o['cause']}")
    report = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "nproc": rec["nproc"], "loadavg1": [load_before, load_after],
              "end_to_end": {k: v[0] for k, v in e2e.items()},
              "setup": dict(rec["setup"], generate_s=gen_s),
              "op_median_s": {n: metrics.median([o["lat_s"] for o in ops if o["name"] == n])
                              for n in sorted({o["name"] for o in ops})},
              "failures": [{"op": o["name"], "i": o["i"], "cause": o["cause"]} for o in failed]}
    overhead = save_and_overhead(root, args, e2e)
    if overhead:
        report["trace_overhead"] = overhead
    if args.trace:
        layers = per_layer(rec, ops)
        report["per_layer"] = layers
        report["self_time_s"] = {k: v / 1e9 for k, v in sorted(metrics.self_times(
            [s for s in rec["spans"] if s[1] >= 0 and rec["ops"][s[1]]["pass"] == 0]).items())}
        wanted = [(m["name"], m["unit"]) for m in spec["per_layer"]]
    else:
        wanted = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
        layers = {k: v[0] for k, v in e2e.items()}
    print("report " + json.dumps(report))
    if args.trace:  # a layer the workload never calls did no work
        layers = {n: layers.get(n, 0) for n, _ in wanted}
    missing = [n for n, _ in wanted if layers.get(n) is None]
    if missing:
        raise SystemExit(f"metrics not measured on {args.workload}: {missing}")
    print(json.dumps({
        "correct": not failed and not check_fail,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {n: {"value": layers[n], "unit": u} for n, u in wanted},
    }))


if __name__ == "__main__":
    main()
