#!/usr/bin/env python3
"""graft benchmark: run one workload with one seed and print its metrics.

    python3 perfbench/run.py --workload etl_mor_rw --seed 1 --seconds 1 --trace 0

Builds graft and the benchmark from source (perfbench/build.py), makes the
workload's inputs from the seed in a fresh run directory under
`.bench_run/` in the repository root, runs the workload in one JVM on
`graft.core.Sessions.local(n)` with n one less than the cores (at most 3),
checks its outputs, removes the run directory, and prints one JSON line
last:

    {"correct": true, "attempted": 12, "failed": 0, "metrics": {...}}

`--trace 0` reports the end-to-end metrics of BENCHMARK.json, `--trace 1`
the per-layer metrics, folded from spans; `--spans-out FILE` also keeps the
spans as JSON lines. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True

WORKLOADS = ("etl_daily", "etl_mor_rw", "query_iter", "query_scan")
# TPC-H scale factor of each query workload's tables
QUERY_SF = {"query_iter": 0.01, "query_scan": 0.1}
DEADLINE_S = 175
JVM_HEAP = "4g"
# Spark task slots: one core fewer than the host's (at most 4) leaves a core
# to the driver thread, the JIT and the collector. On a 4-core host this
# ran every workload faster and steadier than 4 slots.
CORES = max(1, min(4, os.cpu_count() or 1) - 1)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--spans-out", help="also write the traced run's spans here (JSON lines)")
    p.add_argument("--inject", choices=("drop_row", "alter_query"), help=argparse.SUPPRESS)
    return p.parse_args(argv)


def run_jvm(cmd, env, cwd, log_path, deadline):
    """Run the benchmark JVM in its own process group; kill the group at
    the deadline. Returns the exit code, or None on timeout."""
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=log,
                                start_new_session=True)
        try:
            return proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            return None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def measure(args, classes, run_dir, deadline):
    import build
    import oracle
    import tables
    store, tmp, local, data, out = (run_dir / d for d in ("store", "tmp", "spark-local", "data", "out"))
    for d in (store, tmp, local, data, out):
        d.mkdir(parents=True)
    query = args.workload.startswith("query_")
    t0 = time.time()
    if query:
        tables.generate(data, args.seed, QUERY_SF[args.workload])
    gen_s = time.time() - t0
    jars = build.spark_jars()
    result_file, spans_file = run_dir / "result.json", run_dir / "spans.jsonl"
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
            "-cp", f"{classes}:{jars}/*", "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(CORES),
            "--root", str(store), "--data", str(data), "--out", str(out),
            "--result", str(result_file), "--spans", str(spans_file)] +
           (["--inject", args.inject] if args.inject else []))
    # Spark's scratch space follows SPARK_LOCAL_DIRS ahead of spark.local.dir
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(local))
    t_launch = time.time()
    code = run_jvm(cmd, env, run_dir, run_dir / "jvm.log", deadline)
    t_exit = time.time()
    if code != 0 or not result_file.exists():
        tail = (run_dir / "jvm.log").read_text(errors="replace")[-4000:]
        what = "timed out" if code is None else f"exited with {code}"
        raise SystemExit(f"benchmark JVM {what}\n{tail}")
    for line in (run_dir / "jvm.log").read_text(errors="replace").splitlines():
        if line.startswith(("phase ", "op ")):
            print(line, file=sys.stderr)
    rec = json.loads(result_file.read_text())
    failures = list(rec["check_failures"])
    if query:
        failures += oracle.check(data, out)
    if args.trace and spans_file.exists():
        if args.spans_out:
            shutil.copyfile(spans_file, args.spans_out)
        for line in spans_file.read_text().splitlines():
            print("span " + line, file=sys.stderr)
    for f in failures[:20]:
        print(f"check failed: {f}", file=sys.stderr)
    for e in rec["errors"][:20]:
        print(f"operation failed: {e}", file=sys.stderr)
    # end-to-end times without the share of CPU time the hypervisor gave to
    # other guests (operations are corrected in the JVM; see Run.Op)
    values = {
        "setup_s": (rec["setup_end_ms"] / 1e3 - t_launch + gen_s) * (1 - rec["setup_steal"]),
        "op_s_p50": rec["op_s_p50"],
        "ops_per_min": rec["ops_per_min"],
        "core.peak_rss_mb": rec["peak_rss_mb"],
        "core.steal_share": rec["steal_p50"],
    }
    values.update(rec["layers"])
    print(f"jvm: started +{rec['jvm_start_ms'] / 1e3 - t_launch:.1f} s, "
          f"session +{rec['session_ready_ms'] / 1e3 - t_launch:.1f} s, "
          f"exit +{t_exit - t_launch:.1f} s", file=sys.stderr)
    print(f"steal share: set-up {rec['setup_steal']:.4f}, median operation {rec['steal_p50']:.4f}; "
          f"raw set-up {rec['setup_end_ms'] / 1e3 - t_launch + gen_s:.3f} s, "
          f"raw median operation {rec['op_wall_s_p50']:.4f} s", file=sys.stderr)
    print(f"run: {time.time() - t0:.1f} s wall, {values['setup_s']:.1f} s set-up, "
          f"{rec['timed_s']:.1f} s timed, {rec['attempted']} operations, "
          f"{rec['checks']} checks", file=sys.stderr)
    correct = not failures and rec["checks"] > 0
    return correct, rec["attempted"], rec["failed"], values


def main(argv):
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    start = time.time()
    import build
    classes = build.build(REPO)
    deadline = time.time() + DEADLINE_S - min(DEADLINE_S / 2, time.time() - start)
    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    run_root = REPO / ".bench_run"
    run_dir = run_root / f"{args.workload}-s{args.seed}-p{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        correct, attempted, failed, values = measure(args, classes, run_dir, deadline)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            run_root.rmdir()
        except OSError:
            pass
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        raise SystemExit(f"metrics not measured: {missing}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
