#!/usr/bin/env python3
"""Compare a parent revision with this checkout on one benchmark workload.

    python3 tools/bench_pairs.py --parent REV --workload W --pairs N --seed0 S

The parent's committed files are extracted with `git archive` into a
temporary directory (under $TMPDIR), so both sides build from their own
sources. Pair i runs seed S+i on both sides; even pairs run the parent
first, odd pairs the change first. Each run is

    python3 perfbench/run.py --workload W --seed SEED --seconds 10 --trace 0

in that side's checkout. Both sides are built before the first pair, so
no build lands between the runs of a pair.

Prints every run, then for each end-to-end metric of BENCHMARK.json: the
parent and change medians, how many pairs the change won, the
interquartile range of the parent's runs, and a no-regression verdict
against the metric's bound: "no worse", "WORSE" (the change median is
worse than the parent's by more than the bound), or "unresolved" (the
parent's IQR is wider than the bound of its median and not every change
run beats every parent run). For pretrain_ingest it also
prints, per cycle, each side's median ingest time (the `cycle_ms=` field
of the details line; cycle 1 starts cold, later cycles probe a history)
and how many pairs the change won, and whether each seed's kept_id_hash
matched between the sides. The
temporary directory is removed on exit; nothing under perfbench/ is
edited. Exits non-zero if a run failed or reported a failed operation.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile

sys.dont_write_bytecode = True
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def extract(rev, dest):
    """The committed files of `rev`, written under `dest`."""
    os.makedirs(dest)
    archive = subprocess.Popen(["git", "-C", ROOT, "archive", "--format=tar", rev],
                               stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        raise SystemExit(f"git archive {rev} failed")


def build(side):
    subprocess.run([sys.executable, "-c",
                    "import sys; sys.dont_write_bytecode = True; "
                    "sys.path.insert(0, 'perfbench'); import build; build.ensure_built()"],
                   cwd=side, check=True)


def run(side, workload, seed):
    """(result dict or None, details dict) of one run in checkout `side`."""
    # its own process group, so an interrupted comparison stops the JVM too
    proc = subprocess.Popen([sys.executable, "perfbench/run.py", "--workload", workload,
                             "--seed", str(seed), "--seconds", "10", "--trace", "0"],
                            cwd=side, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate()
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    lines = [l for l in out.splitlines() if l.strip()]
    details = {}
    for l in lines:
        if l.startswith("[perfbench] ") and "=" in l:
            details.update(kv.split("=", 1) for kv in l.split()[1:] if "=" in kv)
    result = None
    if proc.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    return result, details


def values(result):
    """The run's metrics as name -> number."""
    return {k: (v["value"] if isinstance(v, dict) else v)
            for k, v in result["metrics"].items()}


def cycle_ingest_ms(details):
    """Ingest ms of each cycle, from `cycle_ms=ingest/forget/read,...`."""
    return [float(c.split("/")[0]) for c in details["cycle_ms"].split(",")]


def iqr(xs):
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4)
    return q[2] - q[0]


def verdict(p, c, lower, bound):
    """The no-regression verdict on one metric: WORSE when the change's
    median is worse than the parent's by more than `bound` (a fraction
    of the parent median); else unresolved when the parent's IQR is
    wider than `bound` of its median and not every change run beats
    every parent run; else no worse."""
    mp, mc = statistics.median(p), statistics.median(c)
    worse = (mc - mp if lower else mp - mc) / abs(mp) if mp else 0.0
    if worse > bound:
        return "WORSE"
    dominated = max(c) < min(p) if lower else min(c) > max(p)
    if mp and iqr(p) / abs(mp) > bound and not dominated:
        return "unresolved"
    return "no worse"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="git revision to compare against")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed0", type=int, required=True)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    # a terminated comparison still removes its temporary directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tmp = tempfile.mkdtemp(prefix="bench-pairs-")
    bad = 0
    try:
        parent = os.path.join(tmp, "parent")
        extract(a.parent, parent)
        sides = {"parent": parent, "change": ROOT}
        for side in sides.values():
            build(side)
        runs = {"parent": [], "change": []}
        cycles = {"parent": [], "change": []}
        hashes = []
        for i in range(a.pairs):
            seed = a.seed0 + i
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            got = {}
            for name in order:
                result, details = run(sides[name], a.workload, seed)
                got[name] = (result, details)
                if result is None:
                    bad += 1
                    print(f"pair {i} seed {seed} {name}: run failed", flush=True)
                    continue
                if not result["correct"] or result["failed"]:
                    bad += 1
                m = values(result)
                print(f"pair {i} seed {seed} {name}: correct={result['correct']} "
                      f"failed={result['failed']} " +
                      " ".join(f"{k}={m[k]:.4g}" for k in sorted(m)) +
                      (f" kept_id_hash={details['kept_id_hash']}"
                       if "kept_id_hash" in details else ""), flush=True)
            if all(r is not None for r, _ in got.values()):
                for name in runs:
                    runs[name].append(values(got[name][0]))
                if all("cycle_ms" in d for _, d in got.values()):
                    for name in cycles:
                        cycles[name].append(cycle_ingest_ms(got[name][1]))
                if "kept_id_hash" in got["parent"][1]:
                    hashes.append((seed, got["parent"][1]["kept_id_hash"],
                                   got["change"][1].get("kept_id_hash")))
        n = len(runs["parent"])
        print(f"\n{a.workload}: {n} complete pairs (parent {a.parent})")
        print(f"{'metric':<14} {'parent':>12} {'change':>12} {'wins':>6} {'parent IQR':>12}  verdict")
        for spec in metrics:
            k = spec["name"]
            p = [r[k] for r in runs["parent"] if k in r]
            c = [r[k] for r in runs["change"] if k in r]
            if not p or len(p) != len(c):
                continue
            lower = spec["better"] == "lower"
            wins = sum((y < x) if lower else (y > x) for x, y in zip(p, c))
            print(f"{k:<14} {statistics.median(p):>12.4f} {statistics.median(c):>12.4f} "
                  f"{wins:>3}/{len(p):<2} {iqr(p):>12.4f}  {verdict(p, c, lower, spec['bound'])}")
        if cycles["parent"]:
            print(f"\n{'cycle ingest ms':<16} {'parent':>10} {'change':>10} {'wins':>6}")
            for k in range(min(len(r) for r in cycles["parent"] + cycles["change"])):
                p = [r[k] for r in cycles["parent"]]
                c = [r[k] for r in cycles["change"]]
                wins = sum(y < x for x, y in zip(p, c))
                print(f"{'cycle ' + str(k + 1):<16} {statistics.median(p):>10.0f} "
                      f"{statistics.median(c):>10.0f} {wins:>3}/{len(p):<2}")
        for seed, hp, hc in hashes:
            print(f"kept_id_hash seed {seed}: {'same' if hp == hc else 'DIFFERENT'} "
                  f"(parent {hp}, change {hc})")
        if hashes:
            print("kept_id_hash: " + ("all seeds match" if all(hp == hc for _, hp, hc in hashes)
                                      else "MISMATCH"))
            bad += sum(hp != hc for _, hp, hc in hashes)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
