#!/usr/bin/env python3
"""Delivered-result benchmark of the graft query library.

Run from the repository root:

    python3 perfbench/run.py --workload star_sf0.1 --seed 1 --seconds 10 --trace 0

One run builds the library and the harness from source (cached by a
source stamp under .bench_build), generates the workload's inputs for the
seed (cached under .bench_data), and starts one JVM that drives the whole
run: a closed loop with one client on local[cores], running the
workload's keys one after another in the order workloads.json lists them.
Each key is timed as delivered: construct (SparkEntry.queries(k)(spark,
dir)), plan (queryExecution.executedPlan) and execute (write to the noop
sink, which runs the whole physical plan). Every pass starts cold;
untimed passes on the kept session settle it before the timed passes.

Set-up (session, function registration, index builds, warm-up pass) is
repeated and its median reported; each warm-up pass writes every result
as parquet. This script compares the last warm-up's results with DuckDB
through tools/check.py (the repository's comparator) and requires the
keys without oracle SQL to give identical results in every warm-up.

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer metrics
of a traced run. The last line of stdout is the JSON result.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

JVM_TIMEOUT_S = 150
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def env_record() -> dict:
    """Every GRAFT_*/SPARK_* variable of the calling environment. A GRAFT_*
    variable changes what the program does (or where it keeps state), so a
    run with one set from outside is refused."""
    rec = {k: v for k, v in sorted(os.environ.items())
           if k.startswith(("GRAFT_", "SPARK_"))}
    graft = [k for k in rec if k.startswith("GRAFT_")]
    if graft:
        fail(f"refusing to run with program knobs set from outside: {graft}")
    return rec


def source_stamp(root: str) -> str:
    h = hashlib.sha256()
    for base in ("src/main", "perfbench/harness", "perfbench/build.sh"):
        p = os.path.join(root, base)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build(root: str) -> str:
    """Compile once per source stamp, dropping builds of other stamps;
    return the classes directory."""
    base = os.path.join(root, ".bench_build", "perfbench")
    stamp = source_stamp(root)
    out = os.path.join(base, stamp)
    classes = os.path.join(out, "classes")
    if not os.path.isdir(classes):
        for old in os.listdir(base) if os.path.isdir(base) else []:
            if old != stamp:
                shutil.rmtree(os.path.join(base, old), ignore_errors=True)
        t0 = time.time()
        r = subprocess.run(["bash", os.path.join(HERE, "build.sh"), out],
                           cwd=root, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            fail(f"build failed:\n{r.stdout[-4000:]}")
        print(f"built in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def run_jvm(cmd: list, env: dict, log: str) -> None:
    """Run the harness in its own process group; kill the group on timeout
    and wait for it, so no process outlives the run."""
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, env=env, stdout=fh, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"harness timed out after {JVM_TIMEOUT_S} s (log: {log})")
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    if rc != 0:
        with open(log) as fh:
            tail = fh.read()[-3000:]
        fail(f"harness exited {rc}:\n{tail}")


def fingerprint(d: str) -> str:
    """Order-insensitive digest of a parquet result directory."""
    import pyarrow.parquet as pq
    files = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
    rows = []
    for f in files:
        t = pq.read_table(os.path.join(d, f))
        cols = sorted(t.column_names)
        rows += [repr(tuple(r[c] for c in cols)) for r in t.to_pylist()]
    return hashlib.sha256("\n".join(sorted(rows)).encode()).hexdigest()


def check(root: str, sf_dir: str, out: str, keys: list, oracle: dict,
          setups: int, tmp: str) -> dict:
    """key -> None if its delivered result is correct, else the reason.
    Keys with oracle SQL are compared with DuckDB by tools/check.py on the
    last warm-up pass's results; the others must give identical results
    in every warm-up pass."""
    last = os.path.join(out, f"warm{setups}")
    with open(os.path.join(last, "oracle_sql.json"), "w") as fh:
        json.dump(oracle, fh)
    verdict = {}
    oracled = [k for k in keys if k in oracle]
    if oracled:
        r = subprocess.run([sys.executable, os.path.join(root, "tools", "check.py"),
                            sf_dir, last] + oracled, cwd=root, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           env=dict(os.environ, TMPDIR=tmp), timeout=120)
        if r.returncode not in (0, 3):
            fail(f"comparator crashed ({r.returncode}):\n{r.stdout[-3000:]}")
        for line in r.stdout.splitlines():
            m = re.match(r"(PASS|FAIL|SKIP) (\S+?):? (.*)", line)
            if m and m.group(2) in oracled:
                verdict[m.group(2)] = None if m.group(1) == "PASS" else f"{m.group(1)} {m.group(3)}"
    for k in keys:
        if k in oracle:
            verdict.setdefault(k, "no comparator verdict")
            continue
        dirs = [os.path.join(out, f"warm{i}", k) for i in range(1, setups + 1)]
        if not all(os.path.isdir(d) for d in dirs):
            verdict[k] = "no result written"
        elif len({fingerprint(d) for d in dirs}) != 1:
            verdict[k] = "output differs between passes"
        else:
            verdict[k] = None
    return verdict


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a SIGTERM ends the run through run_jvm's cleanup, which kills the
    # harness's process group and waits for it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    env_rec = env_record()
    spec = json.load(open(os.path.join(HERE, "workloads.json")))
    wl = next((w for w in spec["workloads"] if w["name"] == a.workload), None)
    if wl is None:
        fail(f"unknown workload {a.workload}")
    for d in ("src/main/scala", "tools/check.py"):
        if not os.path.exists(os.path.join(root, d)):
            fail(f"{d} not found: run from the root of a repository checkout")
    classes = build(root)

    t0 = time.time()
    data_root = os.path.join(root, ".bench_data")
    os.makedirs(data_root, exist_ok=True)
    sf_dir = gen.ensure(data_root, wl["name"], wl["scale"], wl["layout"], a.seed)
    gen_s = time.time() - t0
    inputs = gen.describe(sf_dir)
    for t, want in wl["inputs"].items():
        got = inputs.get(t, {})
        if any(got.get(k) != want[k] for k in ("rows", "files", "row_groups")):
            fail(f"generated {t} is {got}, workloads.json records {want}")

    out = os.path.join(root, ".bench_out", a.workload)
    shutil.rmtree(out, ignore_errors=True)
    scratch, tmp, index = (os.path.join(out, x) for x in ("scratch", "tmp", "index"))
    for d in (scratch, tmp, index):
        os.makedirs(d)
    roots = [os.path.join(index, "ann"), os.path.join(index, "minhash")]
    # the child sees no outside SPARK_* (SPARK_LOCAL_DIRS would move
    # Spark's scratch out of the checkout) and only the benchmark's own
    # GRAFT_* paths: scratch and both persisted-index roots
    env = {k: v for k, v in os.environ.items() if not k.startswith(("SPARK_", "GRAFT_"))}
    env.update(GRAFT_SCRATCH_DIR=scratch, GRAFT_ANN_INDEX_ROOT=roots[0],
               GRAFT_MINHASH_INDEX_ROOT=roots[1])
    cores = spec["load"]["cores"]
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars", "*")
    # fixed, pre-touched heap with a fixed young generation: with adaptive
    # sizing, G1's decisions differ run to run and move GC time, resident
    # memory and the heap's peak use
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{wl['heap']}", f"-Xmx{wl['heap']}",
           f"-Xmn{wl['young']}", "-XX:+AlwaysPreTouch",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-cp", f"{classes}:{jars}", "perfbench.Harness",
           "--sf", sf_dir, "--keys", ",".join(wl["keys"]),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--cores", str(cores), "--setups", str(spec["load"]["setups"]),
           "--settle", str(spec["load"]["settle"]),
           "--min-passes", str(spec["load"]["min_passes"] * (2 if a.trace else 1)),
           "--out", out, "--index-roots", ",".join(roots), "--scratch", scratch,
           "--spark-conf", ",".join(f"{k}={v}" for k, v in wl.get("spark_conf", {}).items())]
    t1 = time.time()
    run_jvm(cmd, env, os.path.join(out, "harness.log"))
    jvm_s = time.time() - t1
    h = json.load(open(os.path.join(out, "harness.json")))

    t1 = time.time()
    verdict = check(root, sf_dir, out, wl["keys"], h["oracle_sql"],
                    spec["load"]["setups"], tmp)
    check_s = time.time() - t1
    errors = dict(h["warm_errors"])
    for p in h["passes"]:
        for k in p["keys"]:
            if k["error"]:
                errors.setdefault(k["key"], k["error"])
    bad = {k: errors.get(k) or v for k, v in verdict.items() if v or k in errors}
    # every key delivery of the warm-up, settling and timed passes, plus
    # each key's correctness verdict
    attempted = len(wl["keys"]) * (spec["load"]["setups"] + spec["load"]["settle"]
                                   + len(h["passes"]) + 1)
    failed = h["warm_failures"] + sum(1 for v in verdict.values() if v) + \
        sum(1 for p in h["passes"] for k in p["keys"] if k["error"])

    untraced = [p for p in h["passes"] if not p["traced"]]
    traced = [p for p in h["passes"] if p["traced"]]
    delivered = lambda k: k["construct_s"] + k["plan_s"] + k["execute_s"]
    e2e = {
        "wall_s": median([p["wall_s"] for p in untraced]),
        "slowest_key_s": median([max(delivered(k) for k in p["keys"]) for p in untraced]),
        "setup_s": median(h["setup_s"]),
        "ok_frac": 1 - len(bad) / len(wl["keys"]),
        "shuffle_write_mb": median([p["shuffle_write_mb"] for p in untraced]),
        # peak heap in use plus peak off-heap resident memory, per pass
        "peak_mem_mb": median([p["heap_peak_mb"] + p["offheap_peak_mb"] for p in untraced]),
    }
    bench = json.load(open(os.path.join(root, "BENCHMARK.json")))
    na = []
    if a.trace:
        layers = {m["name"]: median([p["layers"].get(m["name"], 0.0) for p in traced])
                  for m in bench["per_layer"]}
        tw, uw = median([p["wall_s"] for p in traced]), median([p["wall_s"] for p in untraced])
        layers["trace.overhead_pct"] = (tw / uw - 1) * 100
        streams = any(p["layers"].get("streaming.batches") for p in traced)
        na = [n for n in layers if n != "trace.overhead_pct" and (
            not any(n in p["layers"] for p in traced)
            or (n.startswith("streaming.") and not streams))]
        values, specs = layers, bench["per_layer"]
    else:
        values, specs = e2e, bench["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in specs}

    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "env": env_rec, "inputs": inputs,
              "input_stamp": os.path.basename(sf_dir),
              "timings_s": {"gen": gen_s, "jvm": jvm_s, "check": check_s},
              "load": spec["load"], "heap": wl["heap"], "keys": wl["keys"],
              "fail_frac": len(bad) / len(wl["keys"]), "failing_keys": bad,
              "end_to_end": e2e, "metrics": metrics, "not_applicable": na,
              "harness": {k: v for k, v in h.items() if k != "oracle_sql"}}
    with open(os.path.join(out, "record.json"), "w") as fh:
        json.dump(record, fh, indent=1)

    print(f"gen {gen_s:.1f} s, jvm {jvm_s:.1f} s (set-ups {sum(h['setup_s']):.1f} s), "
          f"check {check_s:.1f} s", file=sys.stderr)
    print(f"workload {a.workload} seed {a.seed}: {len(wl['keys'])} keys, "
          f"{len(untraced)} untraced + {len(traced)} traced passes, "
          f"closed loop, 1 client, local[{cores}], heap {wl['heap']}")
    print(f"fail_frac {len(bad) / len(wl['keys']):.4f} ({len(bad)}/{len(wl['keys'])} keys)")
    for k, why in sorted(bad.items()):
        print(f"FAILED {k}: {why}")
    for n, m in metrics.items():
        print(f"{n} = {m['value']:.6g} {m['unit']}" + ("  (n/a on this workload)" if n in na else ""))
    print(json.dumps({"correct": not bad, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
