"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the program from source (see build.py), starts one JVM that sets up
the workload and measures it for S seconds, then prints one JSON line per
figure (name, unit, sample count, median, quartiles) and, last, the result
line: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end figures; with --trace 1 the per-layer ones, and
the spans are written to <build dir>/traces/.

Workloads (see BENCHMARK.json): lake_sync, curation_board, ingest_stream.
Each run gets its own temp dir, Spark local dir, stores, mirror and
checkpoint roots; all of it is removed at the end.

    python3 perfbench/run.py --selfcheck     # forced failures, digest checks
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

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import stats  # noqa: E402

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORKLOADS = ("lake_sync", "curation_board", "ingest_stream")
DIGESTS = BENCH / "expected" / "curation_digests.json"
# the curation corpus: documents and embeddings of the repo's sf0.01 data
DATA = BENCH / "data"
# the whole run must end well inside three minutes
RUN_LIMIT_S = 170
# a fixed heap (-Xms = -Xmx): left to G1's resizing, the curation pass of
# one seed took 4.9 s in one run and 6.6 s in the next
HEAP = "2g"

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def contract():
    with open(ROOT / "BENCHMARK.json") as fh:
        return json.load(fh)


def run_jvm(classpath, main_args, run_dir, deadline, cds=()):
    """Run perfbench.Main in its own process group; kill the group on
    timeout. Returns the exit code (None on timeout)."""
    tmp = run_dir / "tmp"
    local = run_dir / "spark-local"
    tmp.mkdir(parents=True)
    local.mkdir()
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", *cds, *ADD_OPENS,
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "perfbench.Main", *main_args])
    with open(run_dir / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True, cwd=run_dir)
        try:
            return proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            return None
        finally:
            # on timeout, or when this process is interrupted or terminated
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def jvm_args(name, seed, seconds, trace, result_file, record=False):
    return ["--workload", name, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--cpus", str(cpus()), "--out", str(result_file),
            "--data", str(DATA), "--expected", str(DIGESTS), "--record", "1" if record else "0"]


def class_archive(classpath, out, deadline):
    """JVM flags that map the build's class-data archive, made on first
    use: a self-check run dumps every class its JVM loaded (Spark's, the
    program's, the benchmark's), and each run then maps them instead of
    loading ~20k classes one by one, which saves about 6 s of every JVM
    start. It is made before the first run's JVM starts, so no run's
    set-up pays for the dump."""
    archive = out / "cds" / "classes.jsa"
    if not archive.exists():
        run_dir = out / "runs" / f"cds-{os.getpid()}"
        shutil.rmtree(run_dir, ignore_errors=True)
        dump = run_dir / "classes.jsa"
        try:
            run_jvm(classpath, jvm_args("selfcheck", 1, 1, 0, run_dir / "result.json"), run_dir,
                    deadline, [f"-XX:ArchiveClassesAtExit={dump}"])
            if dump.exists():
                archive.parent.mkdir(exist_ok=True)
                dump.replace(archive)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    return [f"-XX:SharedArchiveFile={archive}"] if archive.exists() else []


def log_tail(run_dir, n=40):
    try:
        return "\n".join((run_dir / "jvm.log").read_text(errors="replace").splitlines()[-n:])
    except OSError:
        return ""


def ledger_path(out, kind, name):
    """A file the checkout keeps between runs of one build, beside its jar."""
    d = out / kind
    d.mkdir(parents=True, exist_ok=True)
    return d / f"{name}.json"


def report(result, trace, out, seed, bench):
    """Print the figure lines and the result line for one run."""
    w = result["workload"]
    led, e2e = stats.end_to_end(result)
    for f in led["failures"]:
        print(json.dumps({"failed_op": f}))
    print(json.dumps({"metric": "op_fail_ratio", "unit": "ratio", "n": led["attempted"],
                      "median": led["fail_ratio"], "q1": led["fail_ratio"], "q3": led["fail_ratio"]}))
    for name, (unit, values) in {**e2e, **stats.workload_figures(result)}.items():
        print(stats.metric_line(name, unit, values))
    print(json.dumps({"setup_parts_s": {"session": result["session_s"],
                                        "generate": result["generate_s"],
                                        "warmup": result["warmup_s"]}}))
    walls = stats.round_walls_s(result["ops"], result["rounds"])

    metrics = {}
    if trace:
        last = ledger_path(out, "untraced", w)
        base = json.loads(last.read_text()).get("round_s") if last.exists() else None
        layer, per_op = stats.per_layer(result, base)
        if base is None:
            print(json.dumps({"note": "no untraced run of this workload in this build yet: "
                                      "trace.overhead_pct reads 0"}))
        for m in bench["per_layer"]:
            metrics[m["name"]] = {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
        for name, value in sorted(layer.items()):
            print(json.dumps({"layer_metric": name, "value": value}))
        trace_file = ledger_path(out, "traces", f"{w}-seed{seed}")
        trace_file.write_text(json.dumps({"spans": result.get("spans", []),
                                          "stages": result.get("stages", []),
                                          "per_op": per_op, "layer": layer}))
        print(json.dumps({"trace_file": str(trace_file.relative_to(ROOT))}))
    else:
        per_op = []
        values = {name: vals for name, (unit, vals) in e2e.items()}
        for m in bench["end_to_end"]:
            vals = values.get(m["name"]) or []
            if vals:
                metrics[m["name"]] = {"value": float(stats.summary(vals)["median"]), "unit": m["unit"]}
        if walls:
            ledger_path(out, "untraced", w).write_text(
                json.dumps({"round_s": stats.summary(walls)["median"]}))

    # counters that must repeat: within this run, and against the last run
    # of the same workload, seed and trace mode in this checkout
    counters, flags = stats.deterministic_counters(result, per_op)
    prev_file = ledger_path(out, "counters", f"{w}-seed{seed}-trace{int(trace)}")
    if prev_file.exists():
        flags += stats.compare_counters(json.loads(prev_file.read_text()), counters)
    prev_file.write_text(json.dumps(counters))
    for name in sorted(set(flags)):
        print(json.dumps({"flag": "counter_not_deterministic", "counter": name}))

    expected = {m["name"] for m in bench["per_layer" if trace else "end_to_end"]}
    correct = led["failed"] == 0 and led["attempted"] > 0 and set(metrics) == expected
    print(json.dumps({"correct": correct, "attempted": led["attempted"],
                      "failed": led["failed"], "metrics": metrics}))


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true",
                    help="run the forced-failure and digest self-checks")
    ap.add_argument("--record-digests", action="store_true",
                    help="curation_board: write the observed row digests as the expected ones")
    args = ap.parse_args(argv)
    if not args.selfcheck and not args.workload:
        ap.error("--workload is required")

    # a terminated run still stops its JVM (see run_jvm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    deadline = time.monotonic() + RUN_LIMIT_S
    bench = contract()
    classpath, out = build.build()
    name = "selfcheck" if args.selfcheck else args.workload
    cds = class_archive(classpath, out, deadline)
    run_dir = out / "runs" / f"{name}-{args.seed}-{args.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    result_file = run_dir / "result.json"
    main_args = jvm_args(name, args.seed, args.seconds, args.trace, result_file, args.record_digests)
    try:
        code = run_jvm(classpath, main_args, run_dir, deadline, cds)
        if code != 0 or not result_file.exists():
            sys.stderr.write(log_tail(run_dir) + "\n")
            sys.stderr.write(f"perfbench: JVM {'timed out' if code is None else f'exited {code}'}\n")
            return 1
        result = json.loads(result_file.read_text())
        if args.selfcheck:
            print(json.dumps(result))
            return 0 if result.get("passed") else 1
        if args.record_digests:
            DIGESTS.write_text(json.dumps(dict(sorted(result["digests"].items())), indent=1) + "\n")
        report(result, bool(args.trace), out, args.seed, bench)
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
