#!/usr/bin/env python3
"""graft's benchmark: one workload, one closed-loop client, one result line.

    python3 perfbench/run.py --workload light_sweep --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --selftest          # sf0.001, one pass per workload
    python3 perfbench/run.py --make-pins         # re-take perfbench/pins.json

Run from the root of a graft checkout. The first run builds graft and the
harness from source (sbt, offline) and generates the input tables; later
runs reuse both. Everything the benchmark writes goes under
perfbench/work/. See perfbench/README.md for the workloads and metrics.
"""

import sys

sys.dont_write_bytecode = True

import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
CONFIG = json.load(open(os.path.join(HERE, "workloads.json")))
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
PINS_FILE = os.path.join(HERE, "pins.json")
MAX_CPUS = 4        # local[k] with k = min(MAX_CPUS, nproc)
DATA_SEED = 42      # the tables are the same in every run; --seed draws op order and DML frames
SELFTEST_SF = 0.001
SETUPS = 3          # cold set-ups per measured run; setup_s is their median
WARM_PASS_S = 4     # a run makes one warm pass per WARM_PASS_S of --seconds, at least two
# sbt resolves from the local caches only, as the test suite does
SBT_REPOS = os.path.expanduser("~/.sbt/repositories")
SBT_OPTS = " ".join(["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
                    + ([f"-Dsbt.override.build.repos=true -Dsbt.repository.config={SBT_REPOS}"]
                       if os.path.exists(SBT_REPOS) else []))
JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cpus():
    return min(MAX_CPUS, os.cpu_count() or 1)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft and the harness; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isfile(os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala"))):
        die("no graft sources next to perfbench/ (run from the root of a graft checkout)")
    out = os.path.join(WORK, "build")
    os.makedirs(out, exist_ok=True)
    stamp, cp_file = source_stamp(), os.path.join(out, "classpath.txt")
    if os.path.exists(cp_file) and open(os.path.join(out, "stamp")).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=SBT_OPTS)
    log = os.path.join(out, "sbt.log")
    with open(log, "w") as fh:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                             "export Runtime/fullClasspath"], cwd=HERE, env=env,
                            stdout=fh, stderr=subprocess.STDOUT, timeout=800).returncode
    lines = open(log).read().splitlines()
    cp = [l for l in lines if l.startswith("/") and "classes" in l]
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        die(f"build failed (rc={rc}); log in {log}")
    open(cp_file, "w").write(cp[-1])
    open(os.path.join(out, "stamp"), "w").write(stamp)
    return cp[-1]


# ---------------------------------------------------------------- inputs

def data_dir(sf):
    return datagen.generate(os.path.join(WORK, "data", f"sf{sf}_v{datagen.VERSION}"), sf,
                            DATA_SEED)


def plan(workload, seed, count):
    """Op order of every pass. The cold pass runs the units in their listed
    order, so the same op pays first-touch costs in every run; each warm
    pass shuffles them with the seed. Steps inside a unit keep their order."""
    rng = random.Random(f"{workload}:{seed}")
    units = CONFIG[workload]["units"]
    passes = [units[:]]
    for _ in range(count - 1):
        order = units[:]
        rng.shuffle(order)
        passes.append(order)
    return [[op for unit in order for op in unit] for order in passes]


DML_COLS = ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_shipyear"]
DML_TYPES = [pa.int64(), pa.int32(), pa.float64(), pa.float64(), pa.int32()]


def _frame(cols):
    return pa.table([pa.array(c, t) for c, t in zip(cols, DML_TYPES)], names=DML_COLS)


def ingest_inputs(ddir, seed, batch_dir):
    """Write the seeded DML change frames; return the delete rule and the
    checksums the read-back must report for the two tables."""
    li = pq.read_table(os.path.join(ddir, "lineitem.parquet")).to_pandas()
    li = li[li.l_orderkey % 10 == 0]
    base = [li.l_orderkey.to_numpy(np.int64), li.l_linenumber.to_numpy(np.int32),
            li.l_quantity.to_numpy(np.float64), li.l_extendedprice.to_numpy(np.float64),
            li.l_shipdate.dt.year.to_numpy(np.int32)]
    rng = np.random.default_rng(seed)
    years = np.unique(base[4])

    def rows(n, keys_from, year_pool):
        return [keys_from, rng.integers(1, 8, n).astype(np.int32),
                rng.integers(1, 51, n).astype(np.float64),
                np.round(rng.uniform(900.0, 105000.0, n), 2),
                rng.choice(year_pool, n).astype(np.int32)]

    n = len(base[0])
    ins = rows(n // 50, 10_000_000 + rng.permutation(n // 50).astype(np.int64), years)
    items = [np.concatenate([b, i]) for b, i in zip(base, ins)]
    keys = np.unique(np.stack([items[0], items[1].astype(np.int64)], 1), axis=0)
    pick = keys[rng.choice(len(keys), len(keys) // 20, replace=False)]
    upd_qty = rng.integers(1, 51, len(pick)).astype(np.float64)
    rule = (13, int(rng.integers(0, 13)))
    part_years = rng.choice(years, 2, replace=False)
    parts = rows(n // 100, 20_000_000 + np.arange(n // 100, dtype=np.int64), part_years)

    os.makedirs(batch_dir, exist_ok=True)
    pq.write_table(_frame(ins), os.path.join(batch_dir, "insert.parquet"))
    pq.write_table(pa.table({"l_orderkey": pa.array(pick[:, 0], pa.int64()),
                             "l_linenumber": pa.array(pick[:, 1].astype(np.int32), pa.int32()),
                             "l_quantity": pa.array(upd_qty, pa.float64())}),
                   os.path.join(batch_dir, "update.parquet"))
    pq.write_table(_frame(parts), os.path.join(batch_dir, "partitions.parquet"))

    # expected final state: insert, update by key, delete by rule; and the
    # yearly table with the two seeded years replaced
    new_qty = dict(zip(map(tuple, pick.tolist()), upd_qty))
    items[2] = np.array([new_qty.get((k, l), q) for k, l, q in
                         zip(items[0].tolist(), items[1].tolist(), items[2])])
    keep = (items[0] + items[1]) % rule[0] != rule[1]
    items = [c[keep] for c in items]
    keep_y = ~np.isin(base[4], part_years)
    yearly = [np.concatenate([b[keep_y], p]) for b, p in zip(base, parts)]
    return rule, checksum(items) + checksum(yearly)


def checksum(cols):
    """The read-back op's checksums (see Harness.checksum), in int64."""
    k, ln, q, price, yr = cols
    k, ln, q, yr = k.astype(np.int64), ln.astype(np.int64), q.astype(np.int64), yr.astype(np.int64)
    cents = np.floor(price * 100 + 0.5).astype(np.int64)
    return [int(len(k)), int(k.sum()), int(ln.sum()), int(q.sum()), int(cents.sum()),
            int(((k * 8 + ln) * q).sum()), int(yr.sum())]


# ---------------------------------------------------------------- running

def java(cp, args, log):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", *JAVA_OPENS, "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Harness"] + args)
    return subprocess.Popen(cmd, cwd=WORK, stdout=subprocess.PIPE, stderr=log, text=True)


def launch(cp, args, log_path, deadline_s=165):
    """Run the harness; return (seconds from launch to READY, exit code)."""
    t0 = time.perf_counter()
    ready = []

    def watch(p):
        for line in p.stdout:
            if not ready and line.strip() == "READY":
                ready.append(time.perf_counter() - t0)

    with open(log_path, "w") as log:
        p = java(cp, args, log)
        t = threading.Thread(target=watch, args=(p,), daemon=True)
        t.start()
        try:
            rc = p.wait(timeout=deadline_s)
            t.join(timeout=5)
        except subprocess.TimeoutExpired:
            die(f"the harness did not finish within {deadline_s} s; log in {log_path}")
        finally:
            if p.poll() is None:
                p.kill()
            p.wait()
    return (ready[0] if ready else None), rc


def n_passes(seconds):
    """Passes in a run: a cold one and the warm ones. The count depends on
    --seconds only, so both commits under comparison make the same number."""
    return 1 + max(2, round(seconds / WARM_PASS_S))


def run_harness(cp, workload, seed, passes, trace, sf, setups=1, tag=""):
    """One measured run; returns the harness record and the output file
    stem. The record's setup_s is the median over `setups` cold set-ups,
    each from process launch to READY: the measured process's own and
    `setups - 1` processes that stop once set up."""
    ddir = data_dir(sf)
    k = cpus()
    name = f"{workload}_c{k}_s{seed}_t{int(trace)}{tag}"
    out_dir = os.path.join(WORK, "out")
    os.makedirs(out_dir, exist_ok=True)
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    expect, rule = None, (13, 0)
    if workload == "ingest":
        rule, expect = ingest_inputs(ddir, seed, os.path.join(run_dir, "ingest", "batches"))
    plan_file = os.path.join(run_dir, "plan.txt")
    with open(plan_file, "w") as f:
        f.write("\n".join(",".join(p) for p in plan(workload, seed, passes)) + "\n")
    out = os.path.join(out_dir, f"{name}.json")
    args = ["--cpus", str(k), "--data", ddir, "--work", run_dir, "--workload", workload,
            "--trace", str(int(trace)), "--seed", str(seed), "--passes", str(passes),
            "--plan", plan_file, "--out", out, "--delete-rule", f"{rule[0]}:{rule[1]}",
            "--spans", os.path.join(out_dir, f"{name}.spans.jsonl")]
    log = os.path.join(out_dir, f"{name}.log")

    def setup_sample(i):
        s, rc = launch(cp, args[:args.index("--passes")] + ["--passes", "0"], f"{log}.setup{i}")
        if rc != 0 or s is None:
            die(f"set-up sample {i} failed (exit code {rc}); log in {log}.setup{i}")
        return s

    # the extra set-ups run before and after the measured process, so the
    # median's samples are spread over the run
    samples = [setup_sample(i) for i in range(1, setups, 2)]
    setup, rc = launch(cp, args, log)
    if rc != 0 or setup is None or not os.path.exists(out):
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        die(f"harness failed (exit code {rc}); log in {log}")
    samples += [setup] + [setup_sample(i) for i in range(2, setups, 2)]
    rec = json.load(open(out))
    rec["setups_s"] = samples
    rec["expected_checksum"] = expect
    shutil.rmtree(run_dir, ignore_errors=True)
    shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)
    return rec, name


# ---------------------------------------------------------------- checks

def check_op(op, pins, expect):
    """None when the op's output matches its pin, else the reason."""
    if not op["ok"]:
        return op["error"] or "failed"
    name = op["op"]
    if name == "dml:readback":
        return None if op["checksum"] == expect else f"checksum {op['checksum']} != {expect}"
    if name.startswith("dml:"):
        return None
    pin = pins.get(name)
    if pin is None:
        return "no pin"
    return None if op["digest"] == pin["digest"] else f"digest {op['digest']} != {pin['digest']}"


def load_pins(workload, sf):
    pins = json.load(open(PINS_FILE))
    if pins["datagen_version"] != datagen.VERSION:
        die("pins.json was taken on another datagen version; re-take it with --make-pins")
    return pins["workloads"][workload].get(str(sf), {})


def quantile(xs, q):
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))]


def summarize(rec, pins):
    """End-to-end (or, for a traced run, per-layer) metrics and the checks."""
    ops, passes = rec["ops"], rec["passes"]
    reasons = [(op["op"], check_op(op, pins, rec["expected_checksum"])) for op in ops]
    failures = {}
    for name, why in reasons:
        if why:
            failures.setdefault(name, why)
    failed = sum(1 for _, why in reasons if why)
    walls = [op["wall_s"] for op in ops]
    warm = [p["wall_s"] for p in passes[1:]]
    if rec["trace"]:
        # the tracing overhead is trace.pass_s against an untraced run's pass_s
        metrics = {k: {"value": v["value"], "unit": v["unit"]} for k, v in rec["layers"].items()}
        metrics["trace.pass_s"] = {"value": statistics.median(warm or [passes[0]["wall_s"]]),
                                   "unit": "s"}
    else:
        metrics = {
            "setup_s": statistics.median(rec["setups_s"]),
            "cold_pass_s": passes[0]["wall_s"],
            "pass_s": statistics.median(warm) if warm else passes[0]["wall_s"],
            "op_p50_s": statistics.median(walls),
            "retained_heap_mb": statistics.median(p["heap_mb"] for p in passes),
        }
        units = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
        metrics = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
    extra = {"ops": len(ops), "passes": len(passes), "warm_passes": len(warm),
             "setups": len(rec["setups_s"]),
             "fail_ratio": failed / max(1, len(ops))}
    if len(ops) >= 100:
        extra["op_p90_s"] = quantile(walls, 0.9)
    return failed, failures, metrics, extra


def measure(workload, seed, seconds, trace):
    if workload not in CONFIG:
        die(f"unknown workload {workload!r}; one of {sorted(CONFIG)}")
    cp = build()
    sf = CONFIG[workload]["sf"]
    rec, name = run_harness(cp, workload, seed, n_passes(seconds), trace, sf,
                            setups=1 if trace else SETUPS)
    failed, failures, metrics, extra = summarize(rec, load_pins(workload, sf))
    result = {"correct": failed == 0, "attempted": len(rec["ops"]), "failed": failed,
              "metrics": metrics}
    with open(os.path.join(WORK, "out", f"{name}.result.json"), "w") as f:
        json.dump(dict(result, extra=extra, failures=failures), f, indent=1)
    for op, why in failures.items():
        print(f"FAILED {op}: {why}")
    print("samples " + json.dumps(extra))
    print(json.dumps(result))
    return 0 if failed == 0 else 1


# ---------------------------------------------------------------- maintenance

def make_pins():
    """Run every workload once at its own scale and at sf0.001, in listed
    order, and record each op's output digest."""
    cp = build()
    pins = {"datagen_version": datagen.VERSION, "workloads": {}}
    for w, spec in CONFIG.items():
        pins["workloads"][w] = {}
        for sf in sorted({spec["sf"], SELFTEST_SF}):
            rec, _ = run_harness(cp, w, 0, 1, False, sf, tag="_pins")
            got = {}
            for op in rec["ops"]:
                if not op["ok"]:
                    die(f"{w} sf{sf}: {op['op']} failed: {op['error']}")
                if not op["op"].startswith("dml:"):
                    got[op["op"]] = {"rows": op["rows"], "digest": op["digest"]}
            pins["workloads"][w][str(sf)] = got
            print(f"pinned {w} sf{sf}: {len(got)} ops")
    with open(PINS_FILE, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")


def selftest():
    """One pass of every workload at sf0.001, untraced and traced: every
    metric must be printed with its unit, and a corrupted pin must be
    reported as a failed op."""
    cp = build()
    sf = SELFTEST_SF
    want_e2e = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    want_layer = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    problems = []
    for w in CONFIG:
        pins = load_pins(w, sf)
        for trace, want in ((False, want_e2e), (True, want_layer)):
            rec, _ = run_harness(cp, w, 7, 1, trace, sf, tag="_selftest")
            failed, failures, metrics, _ = summarize(rec, pins)
            if failed:
                problems.append(f"{w} trace={int(trace)}: {failures}")
            for n, unit in want.items():
                if n not in metrics or metrics[n]["unit"] != unit:
                    problems.append(f"{w} trace={int(trace)}: metric {n} missing or unit != {unit}")
        victim = next(op for op in rec["ops"] if op["op"] in pins)
        bad = json.loads(json.dumps(pins))
        bad[victim["op"]] = {"rows": -1, "digest": "corrupted"}
        failed, failures, _, _ = summarize(rec, bad)
        if victim["op"] not in failures:
            problems.append(f"{w}: a corrupted pin for {victim['op']} was not reported")
        print(f"selftest {w}: {'ok' if not problems else 'problems so far: ' + str(len(problems))}")
    for p in problems:
        print("SELFTEST FAILED " + p, file=sys.stderr)
    return 1 if problems else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--make-pins", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        return selftest()
    if a.make_pins:
        return make_pins()
    if not a.workload:
        die("--workload is required")
    return measure(a.workload, a.seed, a.seconds, bool(a.trace))


if __name__ == "__main__":
    sys.exit(main())
