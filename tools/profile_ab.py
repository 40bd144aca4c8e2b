#!/usr/bin/env python3
"""A/B of graft.tools.ProfileQuery between two checkouts.

Usage: python3 tools/profile_ab.py <parent> <change> <sfDir> <ids> <pairs>

  parent, change  two checkouts of this repo (e.g. a `git clone` of the
                  parent commit and the working tree)
  sfDir           the testdata directory every run reads
  ids             comma-separated registered query ids
  pairs           number of (parent, change) run pairs

Each run is one `sbt runMain graft.tools.ProfileQuery <sfDir> <ids>` in
its checkout. The side that runs first alternates per pair, so drift on
the host falls on both sides alike. Each side gets its own
java.io.tmpdir (`_JAVA_OPTIONS`), removed at exit: scratch tables live
under it, keyed by the SF dir only, and two checkouts sharing one would
read each other's tables. The environment (SPARK_GRAFT_CPUS,
SPARK_DRIVER_MEM, SBT_OPTS, ...) passes through to sbt unchanged.

Output, per id: jobs, tasks, Janino compiles and task-seconds of each
side's profiled runs as median [q1, q3], and in how many pairs the
change's task-seconds were lower. The
`=== id wall= jobs= tasks= compiles= taskSum= ===` headers are the only
input read from ProfileQuery's output.
"""
import os
import re
import shutil
import statistics
import subprocess
import sys
import tempfile

HEADER = re.compile(r"=== (\S+)\s+wall=[\d.]+ s\s+jobs=(\d+)\s+tasks=(\d+)"
                    r"\s+compiles=(\d+)\s+taskSum=([\d.]+) s ===")


def profile(checkout, tmpdir, sf_dir, ids):
    """One ProfileQuery run: {id: (jobs, tasks, task_s, compiles)}."""
    env = dict(os.environ, _JAVA_OPTIONS=f"-Djava.io.tmpdir={tmpdir}")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         f"runMain graft.tools.ProfileQuery {sf_dir} {ids}"],
        cwd=checkout, env=env, capture_output=True, text=True)
    got = {m[0]: (int(m[1]), int(m[2]), float(m[4]), int(m[3]))
           for m in HEADER.findall(out.stdout)}
    if out.returncode != 0 or len(got) != len(ids.split(",")):
        sys.exit(f"ProfileQuery failed in {checkout} (exit {out.returncode}):\n"
                 + out.stdout[-3000:] + out.stderr[-3000:])
    return got


def summary(xs):
    if len(xs) < 2:
        return f"{xs[0]:.3f}"
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return f"{med:.3f} [{q1:.3f}, {q3:.3f}]"


def main():
    if len(sys.argv) != 6:
        sys.exit(__doc__)
    parent, change, sf_dir, ids, pairs = sys.argv[1:]
    sides = {"parent": parent, "change": change}
    tmp = {s: tempfile.mkdtemp(prefix=f"profile_ab_{s}_") for s in sides}
    runs = {s: [] for s in sides}
    try:
        for i in range(int(pairs)):
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for s in order:
                runs[s].append(profile(sides[s], tmp[s], sf_dir, ids))
                print(f"pair {i + 1} {s}: " + "  ".join(
                    f"{k} jobs={v[0]} compiles={v[3]} task_s={v[2]:.3f}"
                    for k, v in runs[s][-1].items()), file=sys.stderr, flush=True)
    finally:
        for d in tmp.values():
            shutil.rmtree(d, ignore_errors=True)
    for qid in ids.split(","):
        print(f"{qid}")
        for s in sides:
            rows = [r[qid] for r in runs[s]]
            print(f"  {s:6}  jobs {summary([r[0] for r in rows])}"
                  f"  tasks {summary([r[1] for r in rows])}"
                  f"  compiles {summary([r[3] for r in rows])}"
                  f"  task_s {summary([r[2] for r in rows])}")
        lower = sum(c[qid][2] < p[qid][2]
                    for p, c in zip(runs["parent"], runs["change"]))
        print(f"  change task_s lower in {lower}/{len(runs['change'])} pairs")


if __name__ == "__main__":
    main()
