#!/usr/bin/env python3
"""Closed-loop benchmark of the graft query engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the driver from source (once per source state),
generates the workload's inputs (fixed, or drawn from the seed for a
scaled workload), runs the driver JVM (set-up repeated on fresh copies of
the inputs, then timed passes over the workload's queries in an order
drawn from the seed), checks every query's output
against its DuckDB oracle, and prints the metrics. The last line of
standard output is one JSON object: `correct`, `attempted`, `failed`,
`metrics`. With `--trace 0` the metrics are the end-to-end ones; with
`--trace 1` they are the per-layer ones of a traced run, including the
tracing overhead against the untraced passes of the same run.

Workloads and their query lists are in `workloads.json`; the contract
(metrics, units, bounds) is in `BENCHMARK.json` at the repository root.
All files the run writes stay under `perfbench/`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import check
import gen
import layers
import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "build.stamp")

JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
# A fixed heap and young generation keep the JVM's peak RSS from
# following G1's run-to-run heap resizing decisions.
JVM_MEMORY = ["-Xms3g", "-Xmx3g", "-Xmn768m"]
# Set-up repetitions per run: the median of three leaves out the first,
# which also pays for JVM start and JIT warm-up.
SETUP_REPS = 3
# Fewest timed invocations per run, rounded up to whole passes: with at
# least 24, the tail percentile (10 samples beyond it) lies above the
# median. Past that, a run makes passes for `--seconds`, so a workload of
# short queries gets more passes than one of long queries.
MIN_INVOCATIONS = 24
# Generator seed of the workloads with unscaled inputs: their inputs are
# the same on every run and `--seed` only sets the query order.
DATA_SEED = 42
BUILD_TIMEOUT_S = 840
# The driver JVM is stopped after run_timeout() seconds (hang guard), and
# begins no further timed pass after run_timeout() - CHECK_ALLOWANCE_S
# once it has the fewest passes a result needs: a slow program yields
# fewer passes, not a killed run.
CHECK_ALLOWANCE_S = 70
ORACLE_CACHE = os.path.join(WORK, "oracle")


def run_timeout(seconds):
    """Seconds the driver JVM may take: a fixed allowance for JVM start,
    set-up and the output check, plus the measured time."""
    return max(165, seconds + 150)


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg):
    log(f"perfbench: {msg}")
    sys.exit(1)


def source_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project"),
              os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for base, dirs, files in os.walk(d):
            dirs[:] = sorted(x for x in dirs if x != "target")
            inputs += [os.path.join(base, f) for f in sorted(files)]
    for p in inputs:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode() + b"\0")
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the engine and the driver with sbt unless already built
    from the same sources; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail("no engine sources next to perfbench/ (build.sbt, src/main)")
    stamp = source_stamp()
    if os.path.isfile(CLASSPATH) and os.path.isfile(STAMP):
        with open(STAMP) as f:
            if f.read() == stamp:
                with open(CLASSPATH) as g:
                    return g.read()
    log("perfbench: building engine and driver with sbt")
    t0 = time.perf_counter()
    proc = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true",
                      "writeClasspath"], HERE, BUILD_TIMEOUT_S,
                     os.path.join(HERE, "build.log"))
    if proc != 0 or not os.path.isfile(CLASSPATH):
        fail(f"build failed (exit {proc}); see perfbench/build.log")
    with open(STAMP, "w") as f:
        f.write(stamp)
    log(f"perfbench: built in {time.perf_counter() - t0:.1f} s")
    with open(CLASSPATH) as f:
        return f.read()


def run_child(cmd, cwd, timeout, log_path, poll=lambda: None):
    """Run `cmd` with its output in `log_path`, calling `poll` while it
    runs; kill its whole process group on timeout or error and wait for
    it. Returns the exit code."""
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            deadline = time.monotonic() + timeout
            while p.poll() is None:
                if time.monotonic() > deadline:
                    raise subprocess.TimeoutExpired(cmd, timeout)
                poll()
                time.sleep(0.05)
            return p.returncode
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def min_passes(queries):
    return -(-MIN_INVOCATIONS // len(queries))


def cores():
    return len(os.sched_getaffinity(0))


def load_workload(name):
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)["workloads"]
    if name not in workloads:
        fail(f"unknown workload {name!r}; known: {sorted(workloads)}")
    return workloads[name]


def generate_inputs(work, seed, wl):
    """Generate the inputs once (timed), then give every further set-up
    repetition its own byte copy, so each starts with cold caches. Only
    scaled inputs are drawn from `seed`."""
    dirs = [os.path.join(work, f"data{i}") for i in range(SETUP_REPS)]
    t0 = time.perf_counter()
    info = gen.generate(dirs[0], seed if wl["scale"] > 1 else DATA_SEED,
                        wl["scale"])
    info["seconds"] = time.perf_counter() - t0
    for d in dirs[1:]:
        shutil.copytree(dirs[0], d)
    return dirs, info


def cached_oracle(data_dir, input_sha, oracle_sql, queries):
    """Oracle fingerprints, kept under ORACLE_CACHE keyed by the input
    fingerprint and the query's SQL, which together fix the result: a
    later run on the same inputs replays no oracle SQL."""
    os.makedirs(ORACLE_CACHE, exist_ok=True)
    out, paths = {}, {}
    for q in queries:
        key = hashlib.sha256(f"{input_sha}\0{oracle_sql.get(q)}".encode())
        paths[q] = os.path.join(ORACLE_CACHE, key.hexdigest() + ".json")
        if os.path.isfile(paths[q]):
            with open(paths[q]) as f:
                out[q] = json.load(f)
    todo = [q for q in queries if q not in out]
    for q, fp in check.oracle_fingerprints(data_dir, oracle_sql, todo).items():
        out[q] = fp
        if isinstance(fp, dict):  # reasons for no fingerprint are not kept
            with open(paths[q] + ".tmp", "w") as f:
                json.dump(fp, f)
            os.replace(paths[q] + ".tmp", paths[q])
    return out


def run_driver(classpath, work, dirs, input_sha, queries, args, n_cores):
    """Run the driver JVM; return its result document and the oracle
    fingerprints. The oracle side of the check needs only the inputs, so
    it runs while the driver writes its outputs, after the timed passes."""
    out = os.path.join(work, "driver.json")
    oracle_sql = os.path.join(work, "oracle_sql.json")
    cmd = (["java"]
           + [x for p in JVM_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + JVM_MEMORY + [f"-Djava.io.tmpdir={work}/tmp",
              f"-Dderby.system.home={work}",
              f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
              "-cp", classpath, "perfbench.Main",
              "--data", ",".join(dirs), "--queries", ",".join(queries),
              "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--min-passes", str(min_passes(queries)),
              "--stop-after", str(run_timeout(args.seconds) - CHECK_ALLOWANCE_S),
              "--trace", str(args.trace), "--cores", str(n_cores),
              "--out", out, "--check", os.path.join(work, "check"),
              "--work", work])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    oracle = {}

    def oracle_check():
        if not oracle and os.path.isfile(oracle_sql):
            with open(oracle_sql) as f:
                oracle.update(cached_oracle(dirs[-1], input_sha, json.load(f), queries))

    code = run_child(cmd, work, run_timeout(args.seconds),
                     os.path.join(work, "driver.log"),
                     oracle_check)
    if code != 0 or not os.path.isfile(out):
        with open(os.path.join(work, "driver.log")) as f:
            log(f.read()[-4000:])
        fail(f"driver exited with {code}")
    oracle_check()
    with open(out) as f:
        return json.load(f), oracle


def end_to_end(doc, inputs, ok_queries, n_min):
    """End-to-end metrics from the untraced passes of a run."""
    setup = [inputs["seconds"] + s["session_s"] + s["warm_s"] for s in doc["setup"]]
    untraced = {p["pass"] for p in doc["passes"] if not p["traced"]}
    samples = {}
    for i in doc["invocations"]:
        if i["pass"] in untraced and i["ok"] and i["query"] in ok_queries:
            samples.setdefault(i["query"], []).append(i["wall_s"])
    walls = [x for xs in samples.values() for x in xs]
    # a query that failed every invocation leaves fewer samples
    pct, tail = stats.tail(walls, min(n_min, len(walls)))
    return {
        "setup_s": stats.median(setup),
        "pass_s": stats.median([p["wall_s"] for p in doc["passes"]
                                if not p["traced"]]),
        "query_p50_s": stats.quantile(walls, 0.5),
        "query_tail_s": tail,
        "query_geomean_s": stats.geomean([stats.median(xs)
                                          for xs in samples.values()]),
        "peak_rss_mb": doc["peak_rss_mb"],
    }, {"tail_percentile": round(pct, 1), "samples": len(walls),
        "setup_reps_s": setup}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        contract = json.load(f)
    wl = load_workload(args.workload)
    queries = list(wl["queries"])
    classpath = build()

    t_run = time.perf_counter()
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        dirs, inputs = generate_inputs(work, args.seed, wl)
        n_cores = cores()
        t_driver = time.perf_counter()
        doc, oracle = run_driver(classpath, work, dirs, inputs["sha256"],
                                 queries, args, n_cores)
        t_check = time.perf_counter()
        verdict = check.compare(os.path.join(work, "check"), oracle, queries)
        for q, err in doc["check_errors"].items():
            verdict[q] = f"driver: {err}"
    finally:
        results = os.path.join(WORK, "results")
        os.makedirs(results, exist_ok=True)
        if "doc" in locals():
            with open(os.path.join(results, os.path.basename(work) + ".json"), "w") as f:
                json.dump({"inputs": inputs, "driver": doc,
                           "check": verdict if "verdict" in locals() else None}, f)
        shutil.rmtree(work, ignore_errors=True)

    bad = {q for q, err in verdict.items() if err}
    threw = [i for i in doc["invocations"] if not i["ok"]]
    attempted = len(doc["invocations"])
    failed = sum(1 for i in doc["invocations"] if not i["ok"] or i["query"] in bad)

    t_end = time.perf_counter()
    print(f"workload {args.workload} seed {args.seed}: {len(queries)} queries, "
          f"closed loop with 1 client, local[{n_cores}], "
          f"{len(doc['passes'])} timed passes in {doc['measure_s']:.1f} s")
    print(f"run took {t_end - t_run:.1f} s: inputs {t_driver - t_run:.1f}, "
          f"driver JVM and oracle {t_check - t_driver:.1f}, "
          f"output compare {t_end - t_check:.1f}")
    for t, s in inputs["tables"].items():
        print(f"input {t}: {s['rows']} rows, {s['bytes']} bytes")
    print(f"input fingerprint sha256 {inputs['sha256']}, generated in "
          f"{inputs['seconds']:.3f} s")
    print(f"spark_conf {json.dumps(doc['spark_conf'], sort_keys=True)}")
    for q in queries:
        print(f"check {q}: {'ok' if not verdict[q] else 'FAIL ' + verdict[q]}")
    for i in threw:
        print(f"failed invocation {i['query']} pass {i['pass']}: {i['error']}")

    if args.trace:
        values = layers.per_layer(doc, wl["queries"])
        specs = contract["per_layer"]
    else:
        values, info = end_to_end(doc, inputs, set(queries) - bad,
                                  len(queries) * min_passes(queries))
        specs = contract["end_to_end"]
        print(f"query_tail_s is p{info['tail_percentile']} of {info['samples']} "
              f"timed invocations; set-up repetitions "
              + ", ".join(f"{x:.3f}" for x in info["setup_reps_s"]) + " s")
    print(f"failed_frac {failed / attempted:.6f} ({failed} of {attempted} invocations)")
    metrics = {}
    for s in specs:
        metrics[s["name"]] = {"value": values[s["name"]], "unit": s["unit"]}
        print(f"{s['name']} {values[s['name']]} {s['unit']}")
    correct = not bad and not threw
    print(f"output check: {'PASS' if correct else 'FAIL'}")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
