"""The repo's benchmark of record.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload all --seed <n> --seconds <s>

Run from the root of a checkout. It builds the engine with the harness
(`build.py`), generates the workload's inputs from the seed (`gen.py`),
starts one benchmark process that sets up a session, runs one untimed pass
whose outputs are checked (`outputs.py`), then timed passes for `--seconds`.
Every metric is printed by name with its unit; the last line is one
JSON object. With `--trace 1` the metrics are the per-layer ones from the
traced half of the run (`stats.py`); its spans and each operation's plan
fingerprints stay in the run's work directory.

Workloads, their query lists and the rows left out are in `workloads.json`.
All workloads are closed loop with one client: each call waits for its
result before the next is made. `--workload all` runs every workload of
`workloads.json`, untraced and traced, one after the other.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

JVM_OPTS = [
    "-Xmx2g", "-XX:ReservedCodeCacheSize=512m",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [x for p in [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"] for x in ("--add-opens", p + "=ALL-UNNAMED")]


def run_timeout_s(seconds):
    """Limit on one benchmark process: set-up, the checked pass and the
    passes that reach the minimum sample count take up to about two
    minutes on a 4-core host; the timed passes take `--seconds`, and a
    traced run adds up to as much again for the tracer."""
    return 120 + 2 * seconds


def file_key(*paths):
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def inputs(workload, seed, root):
    """Generates (or reuses) the inputs; returns (data dir, account, posts)."""
    key = file_key(os.path.join(HERE, "gen.py"))
    if workload == "reddit_daily":
        d = os.path.join(root, "data", f"reddit-{key}-{seed}")
        shutil.rmtree(d, ignore_errors=True)
        account, posts = gen.reddit_days(d, seed)
        return d, account, posts
    # the catalog tables do not depend on the seed: made once per checkout
    d = os.path.join(root, "data", f"catalog-{key}")
    if not os.path.isdir(d):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.catalog_tables(tmp)
        os.rename(tmp, d)
    return d, None, None


def jvm(classes, work, args, timeout_s):
    """Runs the benchmark process; returns its result."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + JVM_OPTS +
           [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-cp", classes + os.pathsep + build.spark_jars(), "perfbench.Main",
            "--work", work] + [str(a) for a in args])
    log = os.path.join(work, "run.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            sys.exit(f"perfbench: benchmark process exceeded {timeout_s}s (log: {log})")
    if p.returncode != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-5000:])
        sys.exit(f"perfbench: benchmark process failed (log: {log})")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(HERE, "workloads.json")) as f:
        spec_all = json.load(f)
    if a.workload == "all":
        failed = [(w, t) for w in spec_all["workloads"] for t in (0, 1)
                  if subprocess.run([sys.executable, __file__, "--workload", w, "--seed", str(a.seed),
                                     "--seconds", str(a.seconds), "--trace", str(t)]).returncode]
        sys.exit(f"perfbench: failed runs {failed}" if failed else 0)
    if a.workload not in spec_all["workloads"]:
        sys.exit(f"perfbench: unknown workload {a.workload}")
    spec = spec_all["workloads"][a.workload]
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    declared = bench["per_layer" if a.trace else "end_to_end"]

    classes = build.build()
    root = build.BUILD_ROOT
    work = os.path.abspath(os.path.join(root, "work", f"{a.workload}-{a.seed}-{a.trace}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    t = time.perf_counter()
    data, account, posts = inputs(a.workload, a.seed, root)
    gen_s = time.perf_counter() - t

    cores = len(os.sched_getaffinity(0))
    res = jvm(classes, work, [
        "--workload", a.workload, "--data", os.path.abspath(data), "--cores", cores,
        "--seed", a.seed, "--queries", ",".join(spec.get("queries", [])) or "-",
        "--seconds", a.seconds, "--trace", a.trace, "--min-samples", spec["min_samples"],
        "--warm-passes", spec["warm_passes"]], run_timeout_s(a.seconds))
    res["workload"] = a.workload

    import outputs  # imports DuckDB; kept out of the build-only path
    out_dir = os.path.join(work, "outputs")
    if a.workload == "reddit_daily":
        checks = list(outputs.reddit(res, data, out_dir, account, posts))
    else:
        checks = list(outputs.catalog(res, data, out_dir, os.path.join(root, "oracle"),
                                      os.path.basename(data)))
    bad_checks = [(n, p) for n, p in checks if p]
    for n, p in bad_checks:
        print(f"CHECK FAILED  {n}: {p}")

    attempted = len(res["ops"]) + len(checks)
    failed = sum(1 for o in res["ops"] if not o[5]) + len(bad_checks)
    # keep the run's result, log and trace; drop tables, outputs and inputs
    for entry in os.listdir(work):
        if os.path.isdir(os.path.join(work, entry)):
            shutil.rmtree(os.path.join(work, entry))
    if account is not None:
        shutil.rmtree(data)

    e2e, tail_info = stats.end_to_end(res, spec["min_samples"])
    print(f"workload {a.workload}  seed {a.seed}  cores {cores}  closed loop, 1 client")
    print(f"input generation {gen_s:.3f} s (not part of setup_s)")
    print(f"op_tail_s is p{tail_info['op_tail_pct']} of {tail_info['op_samples']} op latencies")
    print(f"checks {len(checks) - len(bad_checks)}/{len(checks)} passed; "
          f"failed_frac {failed / attempted:.4f} ({failed} of {attempted})")
    if a.trace:
        with open(os.path.join(work, "trace.jsonl")) as f:
            lines = f.readlines()
        values = stats.per_layer(res, lines)
        fps = stats.fingerprints(res, lines)
        with open(os.path.join(work, "fingerprints.json"), "w") as f:
            json.dump(fps, f, indent=1)
        print(f"trace: {len(lines)} records in {os.path.join(work, 'trace.jsonl')}; "
              f"plan fingerprints of {len(fps)} operations in {os.path.join(work, 'fingerprints.json')}")
        # a bypassed layer reads 0; a loaded one the trace missed fails the run
        lost = stats.untraced_loaded(values, [m["name"] for m in declared], spec["loads"])
        for n, layer in lost:
            print(f"CHECK FAILED  {n}: not traced, though {a.workload} loads {layer}")
        bad_checks += lost
        failed += len(lost)
        attempted += len(lost)
    else:
        values = e2e
    metrics = {}
    for m in declared:
        v = values.get(m["name"])
        if v is None:
            if not a.trace:
                sys.exit(f"perfbench: metric {m['name']} was not measured")
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        print(f"{m['name']:>28} {v:>16.6f} {m['unit']}")
    correct = not bad_checks and failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    if not correct:
        sys.exit(1)


if __name__ == "__main__":
    main()
