"""Benchmark entry point.

    python3 perfbench/run.py --workload clinical --seed 1 --seconds 15 --trace 0

Run from the repository root. Builds the program and the benchmark
(perfbench/build.py), makes the workload's inputs from the seed, runs it
in one JVM with one client thread, checks the outputs and prints, as the
last line of standard output, one JSON object: `correct`, `attempted`,
`failed` and `metrics` (the end-to-end metrics of BENCHMARK.json with
--trace 0, its per-layer metrics with --trace 1).

--write-expected records the first pass's output digests of this seed as
the expected digests (perfbench/expected_digests.json).
"""
import argparse
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402
import inputs  # noqa: E402
import stats  # noqa: E402

HERE = pathlib.Path(__file__).resolve().parent
EXPECTED = HERE / "expected_digests.json"

WORKLOADS = ("clinical", "battery")
#: The seed whose output digests are committed in expected_digests.json.
DEFAULT_SEED = 1
#: Fixed JVM heap, independent of the machine's memory.
HEAP = "2g"
#: Spark's local slots: at most this many, and at most the machine's cores.
MAX_SLOTS = 4
#: Clinical sources: users and weigh-ins (the test data's customers and
#: orders at scale factor 0.005).
CLINICAL_USERS, CLINICAL_WEIGHINS = 750, 7500
#: A run is stopped after this long.
RUN_TIMEOUT_S = 170

JVM_OPTS = [
    # the whole heap is committed and touched at start, so peak RSS does
    # not depend on how far the collector happened to grow the heap
    "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+AlwaysPreTouch", "-XX:ReservedCodeCacheSize=512m",
    # no performance-data file in the machine's temporary directory
    "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Dlog4j2.configurationFile=" + str(HERE / "log4j2.properties"),
] + [opt for pkg in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
) for opt in ("--add-opens", f"java.base/{pkg}=ALL-UNNAMED")]


def run_jvm(root, classes, args, work):
    """Runs one workload in a JVM; returns its raw figures."""
    out = work / "raw.json"
    log = work / "jvm.log"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    inputs_s = None
    if args.workload == "clinical":
        t0 = time.monotonic()
        inputs.write_clinical(work / "data" / "clinical", args.seed,
                              CLINICAL_USERS, CLINICAL_WEIGHINS)
        inputs_s = time.monotonic() - t0
    slots = min(MAX_SLOTS, os.cpu_count() or 1)
    cmd = ["java"] + JVM_OPTS + [
        f"-Djava.io.tmpdir={tmp}",
        "-cp", f"{classes}{os.pathsep}{build.spark_jars() / '*'}",
        "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cpus", str(slots), "--work", str(work / "data"),
        "--fixtures", str(root / "fixtures" / "clinical"),
        "--out", str(out), "--launch-ms", str(int(time.time() * 1000))]
    with open(log, "w") as log_file:
        proc = subprocess.Popen(cmd, stdout=log_file, stderr=subprocess.STDOUT,
                                cwd=work, start_new_session=True)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = "timeout"
    if code != 0 or not out.is_file():
        sys.stderr.write(log.read_text()[-8000:])
        raise SystemExit(f"perfbench: {args.workload} run failed ({code})")
    raw = json.loads(out.read_text())
    if inputs_s is not None:
        raw["inputs_s"] = inputs_s
    return raw


def check_outputs(raw, workload, seed):
    """(attempted, failed, notes): failed calls, outputs that differ from
    the same call's first output, failed checks and, for the default
    seed, digests that differ from the committed ones."""
    calls = raw["calls"]
    first = {}
    for c in calls:
        first.setdefault(c["name"], c)
    notes = []
    failed = 0
    for c in calls:
        if not c["ok"]:
            failed += 1
            notes.append(f"pass {c['pass']} {c['name']}: {c['output']}")
        elif c["output"] != first[c["name"]]["output"]:
            failed += 1
            notes.append(f"pass {c['pass']} {c['name']}: output {c['output']} "
                         f"differs from pass {first[c['name']]['pass']}: "
                         f"{first[c['name']]['output']}")
    for ch in raw["checks"]:
        if not ch["ok"]:
            failed += 1
            notes.append(f"check {ch['name']} failed")
    if seed == DEFAULT_SEED and EXPECTED.is_file():
        expected = json.loads(EXPECTED.read_text()).get(workload, {})
        for c in first.values():
            want = expected.get(c["name"])
            if want is not None and want != c["output"]:
                failed += 1
                notes.append(f"{c['name']}: digest {c['output']} != expected {want}")
    return len(calls) + len(raw["checks"]), failed, notes


def end_to_end(raw):
    passes = raw["passes"]
    measured = [p for p in passes if p["phase"] == "measured"]
    first = [p for p in passes if p["phase"] == "first"][0]
    measured_ids = {p["pass"] for p in measured}
    latencies = [c["seconds"] for c in raw["calls"] if c["pass"] in measured_ids]
    tail_value, tail_p, tail_n = stats.tail(latencies)
    metrics = {
        "setup_s": (stats.median(raw["setup_s"]), "s"),
        "first_pass_s": (first["seconds"], "s"),
        "pass_s": (stats.median([p["seconds"] for p in measured]), "s"),
        "call_p50_s": (stats.median(latencies), "s"),
        "call_tail_s": (tail_value, "s"),
        "cpu_s": (stats.median([p["cpu_s"] for p in measured]), "s"),
        "peak_rss_mb": (raw["peak_rss_mb"], "MB"),
    }
    note = (f"call_tail_s = {tail_value:.4f} s at p{tail_p} of n={tail_n} steady calls "
            f"({tail_n - 1 - stats.nearest_rank(sorted(latencies), tail_p)} beyond)")
    return metrics, note


def per_layer(raw, attempted, failed, spec):
    passes = raw["passes"]
    untraced = [p for p in passes if p["phase"] == "untraced"]
    traced = [p for p in passes if p["phase"] == "traced"]
    traced_ids = {p["pass"] for p in traced}
    values = dict(raw["layer"])
    values["trace.overhead"] = (stats.median([p["seconds"] for p in traced])
                                / stats.median([p["seconds"] for p in untraced]))
    values["check.failed_frac"] = failed / attempted
    values["setup.cold_s"] = raw["setup_s"][0]
    values["setup.inputs_s"] = raw["inputs_s"]
    steady = [c for c in raw["calls"] if c["pass"] in traced_ids]
    writes = [c["seconds"] for c in steady if c["kind"] == "write"]
    reads = [c["seconds"] for c in steady if c["kind"] == "read"]
    if writes and reads:
        values["sources.write_p50_s"] = stats.median(writes)
        values["sources.read_p50_s"] = stats.median(reads)
        values["sources.space_amp"] = stats.median([p["space_amp"] for p in traced])
    return {m["name"]: (values.get(m["name"], 0.0), m["unit"]) for m in spec["per_layer"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-expected", action="store_true")
    args = ap.parse_args()

    root = pathlib.Path.cwd()
    spec_path = root / "BENCHMARK.json"
    if not spec_path.is_file():
        raise SystemExit("perfbench: run from the repository root (no BENCHMARK.json here)")
    spec = json.loads(spec_path.read_text())
    classes = build.build(root)

    work = root / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        raw = run_jvm(root, classes, args, work)
    finally:
        # the JVM's log, raw figures and trace outlive the run's inputs
        kept = root / ".bench_work" / "runs"
        kept.mkdir(exist_ok=True)
        stem = f"{args.workload}-{args.seed}-trace{args.trace}"
        for src, name in ((work / "jvm.log", f"{stem}.log"), (work / "raw.json", f"{stem}.json"),
                          (work / "data" / f"trace-{args.workload}-{args.seed}.jsonl",
                           f"{stem}.spans.jsonl")):
            if src.is_file():
                shutil.move(str(src), kept / name)
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed, notes = check_outputs(raw, args.workload, args.seed)
    for n in notes[:20]:
        print(f"perfbench: WRONG {n}")
    if args.write_expected:
        first = {c["name"]: c["output"] for c in raw["calls"] if c["pass"] == 0}
        expected = json.loads(EXPECTED.read_text()) if EXPECTED.is_file() else {}
        expected[args.workload] = dict(sorted(first.items()))
        EXPECTED.write_text(json.dumps(expected, indent=1, sort_keys=True) + "\n")

    if args.trace:
        metrics = per_layer(raw, attempted, failed, spec)
    else:
        metrics, note = end_to_end(raw)
        print(note)
    passes = raw["passes"]
    print(f"{args.workload} seed={args.seed}: {len(passes)} passes "
          f"({sum(p['phase'] == 'measured' for p in passes)} measured), "
          f"{attempted} calls and checks, {failed} failed or wrong")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
