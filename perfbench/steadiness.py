"""Steadiness check: runs the benchmark as two sets of runs over the same
seeds and prints, per workload and end-to-end metric, each set's spread
(interquartile distance over the median) and the drift of the second
set's median from the first, against the metric's bound in
BENCHMARK.json.

    python3 perfbench/steadiness.py                    # both sets, then the report
    python3 perfbench/steadiness.py run A --runs 5     # one set named A
    python3 perfbench/steadiness.py report A B         # compare saved sets

Run from the repository root. Results are saved under
.bench_work/steadiness/<set>/<workload>-<seed>.json, and a saved result is
reused, so an interrupted set resumes. Comparing a set made on a parent
commit with one made on a change (copy the parent's set directory over)
tells a real move from noise: a drift beyond the bound while both spreads
stay inside it is a change, not noise.

A spread must stay within the bound (setup_s is exempt); the benchmark
aims for a third of it. The drift must stay within the bound for every
metric, setup_s included.
"""
import argparse
import json
import pathlib
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import stats  # noqa: E402

ROOT = pathlib.Path.cwd()
RESULTS = ROOT / ".bench_work" / "steadiness"


def spec():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def run_set(name, runs, first_seed, workloads):
    s = spec()
    out = RESULTS / name
    out.mkdir(parents=True, exist_ok=True)
    for seed in range(first_seed, first_seed + runs):
        for w in workloads:
            path = out / f"{w}-{seed}.json"
            if path.is_file():
                continue
            cmd = [sys.executable, str(HERE / "run.py"), "--workload", w, "--seed", str(seed),
                   "--seconds", str(s["run_seconds"]), "--trace", "0"]
            result = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
            lines = result.stdout.strip().splitlines()
            if result.returncode != 0 or not lines:
                raise SystemExit(f"run failed: {w} seed {seed} ({result.returncode})")
            line = json.loads(lines[-1])
            path.write_text(json.dumps(line) + "\n")
            m = line["metrics"]
            print(f"{name} {w} seed {seed}: correct={line['correct']} " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in m.items()), flush=True)


def load_set(name):
    by_workload = {}
    for path in sorted((RESULTS / name).glob("*.json")):
        w = path.stem.rsplit("-", 1)[0]
        by_workload.setdefault(w, []).append(json.loads(path.read_text()))
    return by_workload


def report(names):
    s = spec()
    sets = [load_set(n) for n in names]
    ok = True
    for w in [x["name"] for x in s["workloads"]]:
        print(f"\n{w}: " + ", ".join(f"set {n}: {len(st.get(w, []))} runs"
                                     for n, st in zip(names, sets)))
        print(f"  {'metric':14} {'bound':>6} " + " ".join(
            f"{'median ' + n:>14} {'spread ' + n:>10}" for n in names) + "   drift")
        for m in s["end_to_end"]:
            row, medians = [], []
            for st in sets:
                runs = st.get(w, [])
                values = [r["metrics"][m["name"]]["value"] for r in runs]
                if len(values) < 2:
                    row.append(f"{'-':>14} {'-':>10}")
                    continue
                sp = stats.spread(values)
                med = stats.median(values)
                medians.append(med)
                flag = "" if m["name"] == "setup_s" or sp <= m["bound"] else "!"
                ok &= not flag
                row.append(f"{med:>14.4g} {sp:>9.3f}{flag or ' '}")
            drift = ""
            if len(medians) == 2:
                d = (medians[1] - medians[0]) / medians[0]
                worse = d if m["better"] == "lower" else -d
                drift = f"{d:+.3f}" + (" !" if worse > m["bound"] else "")
                ok &= worse <= m["bound"]
            print(f"  {m['name']:14} {m['bound']:>6} " + " ".join(row) + f"   {drift}")
        for st, n in zip(sets, names):
            wrong = [r for r in st.get(w, []) if not r["correct"]]
            if wrong:
                ok = False
                print(f"  set {n}: {len(wrong)} runs with wrong outputs")
    print("\nsteady" if ok else "\nNOT steady ('!' marks a spread or drift beyond its bound)")
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = ap.add_subparsers(dest="cmd")
    r = sub.add_parser("run")
    r.add_argument("name")
    for p in (ap, r):
        p.add_argument("--runs", type=int, default=10)
        p.add_argument("--first-seed", type=int, default=1)
        p.add_argument("--workloads", default=None,
                       help="comma-separated (default: all in BENCHMARK.json)")
    rep = sub.add_parser("report")
    rep.add_argument("names", nargs="+")
    args = ap.parse_args()
    if args.cmd == "report":
        sys.exit(0 if report(args.names) else 1)
    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in spec()["workloads"]])
    names = [args.name] if args.cmd == "run" else ["A", "B"]
    for n in names:
        run_set(n, args.runs, args.first_seed, workloads)
    if args.cmd != "run":
        sys.exit(0 if report(names) else 1)


if __name__ == "__main__":
    main()
