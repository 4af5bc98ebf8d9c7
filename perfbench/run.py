"""Run one benchmark workload and print its metrics.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
      [--pin]

Builds the program and the harness (perfbench/build.py), runs the harness
in one JVM, checks the outputs against perfbench/pins.json and prints, as
the last line, one JSON object with `correct`, `attempted`, `failed` and
`metrics`. With --trace 0 the metrics are the end-to-end metrics of
BENCHMARK.json; with --trace 1 they are its per-layer metrics. --pin
writes the run's row counts (and, traced, content hashes; for the visit
loop, the per-visit stats of this seed) into pins.json instead of
checking them.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import layers  # noqa: E402
from stats import median, tail  # noqa: E402

WORKLOADS = ("apdb_visits", "registry_sf0001")
HARNESS_TIMEOUT_S = 170
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
PINS = os.path.join(HERE, "pins.json")


def run_harness(args, work, record):
    cp = build.build()
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Harness",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", os.path.join(HERE, "data", "sf0.001"),
            "--work", work, "--out", record]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=HARNESS_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"harness exceeded {HARNESS_TIMEOUT_S} s")
    if code != 0 or not os.path.exists(record):
        raise SystemExit(f"harness failed with exit code {code}")
    with open(record) as f:
        return json.load(f)


def load_pins():
    if not os.path.exists(PINS):
        return {}
    with open(PINS) as f:
        return json.load(f)


def check(rec, pins, problems):
    """Marks ops that fail the output checks (ok=False) and appends every
    failed check to `problems`."""
    wl = rec["workload"]
    if wl == "apdb_visits":
        check_visits(rec, pins.get(wl, {}).get(str(rec["seed"])), problems)
        return
    want = pins.get(wl, {})
    for op in rec["ops"]:
        pin = want.get(op["name"])
        if not op["ok"]:
            continue
        if pin is None:
            op["ok"] = False
            problems.append(f"{op['name']}: no pinned row count")
        elif op["rows"] != pin["rows"]:
            op["ok"] = False
            problems.append(f"{op['name']}: {op['rows']} rows, pinned {pin['rows']}")
    for key, h in rec.get("hashes", {}).items():
        pin = want.get(key, {}).get("hash")
        if pin and h != pin:
            problems.append(f"{key}: content hash {h[:12]} differs from pin {pin[:12]}")


def check_visits(rec, seed_pins, problems):
    stats = rec["stats"]
    expected = rec["expected_sources"]
    by_visit = {s[0]: s for s in stats}
    bad = set()
    for s, exp in zip(stats, expected):
        if s[3] != exp:
            bad.add(s[0])
            problems.append(f"visit {s[0]}: {s[3]} sources, expected {exp}")
    for pinned in seed_pins or []:
        got = by_visit.get(pinned[0])
        if got is not None and got != pinned:
            bad.add(pinned[0])
            problems.append(f"visit {pinned[0]}: stats {got} differ from pin {pinned}")
    for op in rec["ops"]:
        if op["ok"] and op["visit"] in bad:
            op["ok"] = False
    if rec["obj_last_rows"] != rec["distinct_object_ids"]:
        problems.append(f"obj_last has {rec['obj_last_rows']} rows for "
                        f"{rec['distinct_object_ids']} distinct objects")
    total = sum(s[3] for s in stats)
    if rec["stored_sources"] != total:
        problems.append(f"{rec['stored_sources']} stored sources, visits reported {total}")
    if rec["leftover_markers"]:
        problems.append(f"markers left behind: {rec['leftover_markers']}")
    if rec["lease_held"]:
        problems.append("the writer lease was not released")


def write_pins(rec, pins):
    wl = rec["workload"]
    if wl == "apdb_visits":
        pins.setdefault(wl, {})[str(rec["seed"])] = rec["stats"]
    else:
        want = pins.setdefault(wl, {})
        for op in rec["ops"]:
            if op["ok"]:
                want.setdefault(op["name"], {})["rows"] = op["rows"]
        for key, h in rec.get("hashes", {}).items():
            if h:
                want.setdefault(key, {})["hash"] = h
    with open(PINS, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")


def end_to_end(rec, measured):
    ok = [op for op in measured if op["ok"]]
    walls = [op["wall_s"] for op in ok]
    pass_walls = {}
    for op in ok:
        pass_walls[op["pass"]] = pass_walls.get(op["pass"], 0.0) + op["wall_s"]
    tail_v, tail_p, n = tail(walls)
    print(f"[perfbench] op_tail_s is p{tail_p:.1f} of n={n}", file=sys.stderr)
    return {
        "setup_s": (rec["session_s"] + median(rec["prep_s"]) + rec["warm_s"], "s"),
        "op_p50_s": (median(walls), "s"),
        "op_tail_s": (tail_v, "s"),
        "pass_s": (median(list(pass_walls.values())), "s"),
        # the JIT's compile threads are excluded: while they are still
        # busy they add several CPU-seconds per pass that vary run to run
        "cpu_per_pass_s": (median([p["cpu_s"] - p["jit_s"] for p in rec["passes"]]), "CPU-s"),
        "heap_live_mb": (rec["heap_live_mb"], "MB"),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true")
    args = ap.parse_args()

    root = os.getcwd()
    work = os.path.join(root, ".bench_work", f"{args.workload}-{args.seed}-{args.trace}")
    record = os.path.join(root, ".bench_work", f"{args.workload}-{args.seed}-{args.trace}.json")
    try:
        rec = run_harness(args, work, record)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    pins = load_pins()
    if args.pin:
        write_pins(rec, pins)
    problems = [f"harness: {m}" for m in rec["failures"]]
    check(rec, pins, problems)
    for p in problems:
        print(f"[perfbench] CHECK FAILED {p}", file=sys.stderr)

    measured = [op for op in rec["ops"] if op.get("measured", True)]
    attempted = len(measured)
    failed = sum(1 for op in measured if not op["ok"])
    if args.trace:
        metrics = layers.per_layer(rec, measured)
    else:
        metrics = end_to_end(rec, measured)
    print(json.dumps({
        "correct": not problems and failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
