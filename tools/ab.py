#!/usr/bin/env python3
"""Alternating A/B of the benchmark on two source trees.

Runs `python3 perfbench/run.py` on a parent tree and a change tree, one
pair per seed, alternating which tree runs first, and prints for each
end-to-end metric of BENCHMARK.json the median and quartiles of both
sides, the pairs the change won, whether the change is within the
metric's regression bound, and whether the claim rule is met: the
change wins at least nine tenths of the pairs (ties count for neither)
and the medians differ, in the better direction, by more than the
parent's interquartile range.

    python3 tools/ab.py PARENT CHANGE --workload diff_churn_fk --seeds 1-10

PARENT and CHANGE are each a directory holding a source tree, or a git
revision of this repository, which is exported with `git archive` into
`--workdir`. Make tree directories the same way (`git archive` or
`git worktree`). Never copy a tree that holds a build (`target/`): sbt's
incremental compiler in the copy then deletes the original tree's
compiled classes, and the original's runs fail with NoClassDefFoundError.

Each tree builds itself on its first run (perfbench caches the build
under its `.bench_build/`); build time is not in any metric.

Host steal (the CPU time the hypervisor gave to other guests, read from
the `cpu` line of /proc/stat around each pair) is printed with each pair
and over the whole set, and written with every run to `--out`: a timing
claim reports it.
"""
import argparse
import json
import pathlib
import statistics
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent


def seeds_arg(text):
    """'1-10' or '1,3,5' or a mix: '1-3,7'."""
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def tree(spec, name, workdir):
    path = pathlib.Path(spec)
    if path.is_dir():
        return path.resolve()
    dest = pathlib.Path(workdir).resolve() / name
    if dest.exists():
        sys.exit(f"ab: {dest} exists; remove it or pass it as a directory")
    dest.mkdir(parents=True)
    archive = subprocess.run(["git", "-C", str(ROOT), "archive", spec],
                             check=True, stdout=subprocess.PIPE).stdout
    subprocess.run(["tar", "-x", "-C", str(dest)], input=archive, check=True)
    return dest


def run(tree_dir, workload, seed, seconds):
    """One untraced run; its result object, or None if it failed."""
    cmd = ["python3", "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=tree_dir, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write(f"ab: {tree_dir} seed {seed} printed no result (exit {p.returncode})\n"
                         + p.stderr[-2000:])
        return None


def cpu_times():
    """(steal, total) jiffies of the `cpu` line of /proc/stat, or None
    where there is no such file."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
    except OSError:
        return None
    ticks = [int(x) for x in fields[1:]]
    # steal is the 8th value; guest time is already counted in user
    return ticks[7], sum(ticks[:8])


def steal_share(before, after):
    """Steal as a share of all CPU time between two cpu_times() reads."""
    if not before or not after or after[1] == before[1]:
        return None
    return (after[0] - before[0]) / (after[1] - before[1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def pct(share):
    return "n/a" if share is None else f"{100 * share:.1f}%"


def fmt(v):
    return f"{v:,.0f}" if abs(v) >= 1e4 else f"{v:.4g}"


def spread(q):
    return f"{fmt(q[1])} [{fmt(q[0])}-{fmt(q[2])}]"


def report(metrics, pairs, out):
    """Prints one row per metric."""
    head = (f"{'metric':<18} {'parent median [q1-q3]':<30} {'change median [q1-q3]':<30} "
            f"{'won':<6} {'bound':<6} claim")
    print(head, file=out)
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        both = [(a["metrics"][name]["value"], b["metrics"][name]["value"]) for a, b in pairs
                if a and b and name in a["metrics"] and name in b["metrics"]]
        if not both:
            print(f"{name:<18} no complete pairs", file=out)
            continue
        ps, cs = [p for p, _ in both], [c for _, c in both]
        pq, cq = quartiles(ps), quartiles(cs)
        won = sum((c < p) if lower else (c > p) for p, c in both)
        gap = (pq[1] - cq[1]) if lower else (cq[1] - pq[1])
        worse = -gap / abs(pq[1]) if pq[1] else 0.0
        within = worse <= m["bound"]
        claim = won >= 0.9 * len(both) and gap > pq[2] - pq[0]
        print(f"{name:<18} {spread(pq):<30} {spread(cq):<30} {f'{won}/{len(both)}':<6} "
              f"{'ok' if within else 'WORSE':<6} {'met' if claim else 'not met'}", file=out)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent", help="parent tree directory or git revision")
    ap.add_argument("change", help="change tree directory or git revision")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"),
                    help="e.g. 1-10 or 11-20 or 1,4,9 (default 1-10)")
    ap.add_argument("--seconds", type=float, default=None,
                    help="run length (default: BENCHMARK.json run_seconds)")
    ap.add_argument("--workdir", default=str(ROOT / ".bench_build" / "ab"),
                    help="where revisions are exported")
    ap.add_argument("--out", help="append every run's result here, one JSON line each")
    a = ap.parse_args()

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = a.seconds or bench["run_seconds"]
    parent = tree(a.parent, "parent", a.workdir)
    change = tree(a.change, "change", a.workdir)
    sides = {"parent": parent, "change": change}

    pairs, failed = [], {"parent": 0, "change": 0}
    attempted = {"parent": 0, "change": 0}
    set_start = cpu_times()
    for i, seed in enumerate(a.seeds):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        got = {}
        pair_start = cpu_times()
        for side in order:
            run_start = cpu_times()
            r = run(sides[side], a.workload, seed, seconds)
            run_steal = steal_share(run_start, cpu_times())
            got[side] = r
            if r:
                attempted[side] += r.get("attempted", 0)
                failed[side] += r.get("failed", 0)
            if a.out:
                with open(a.out, "a") as f:
                    f.write(json.dumps({"workload": a.workload, "seed": seed, "side": side,
                                        "first": order[0], "steal": run_steal,
                                        "result": r}) + "\n")
        pairs.append((got["parent"], got["change"]))
        pair_steal = steal_share(pair_start, cpu_times())
        op = [(s, (got[s] or {}).get("metrics", {}).get("op_s", {}).get("value")) for s in order]
        print(f"pair {i + 1} seed {seed}: " +
              ", ".join(f"{s} op_s={v}" for s, v in op) + f", steal {pct(pair_steal)}",
              file=sys.stderr)

    print(f"workload {a.workload}, {len(pairs)} pairs, seeds {a.seeds[0]}..{a.seeds[-1]}, "
          f"--seconds {seconds:g}, host steal {pct(steal_share(set_start, cpu_times()))}")
    report(bench["end_to_end"], pairs, sys.stdout)
    for side in ("parent", "change"):
        print(f"{side}: failed ops {failed[side]}/{attempted[side]}, "
              f"failed runs {sum(1 for p in pairs if not p[0 if side == 'parent' else 1])}")


if __name__ == "__main__":
    main()
