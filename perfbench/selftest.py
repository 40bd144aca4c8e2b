#!/usr/bin/env python3
"""Self-test of the benchmark itself. Run from the root of a checkout:

  python3 perfbench/selftest.py

Checks, in order:
  1. both input generators are deterministic: one seed, two invocations,
     byte-identical files;
  2. every workload runs with and without tracing, and each prints every
     metric BENCHMARK.json names, with its unit, and is correct;
  3. the output checks reject wrong outputs: a deliberately wrong ODM
     expectation fails check_odm_pass, and a query output with one row
     dropped fails tools/check_oracle.py.
Exits non-zero on the first failure.
"""
import filecmp
import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen_odm  # noqa: E402
import gen_tables  # noqa: E402
import run  # noqa: E402

TMP = ROOT / ".bench_build" / "selftest"


def check(cond, what):
    print(f"{'ok  ' if cond else 'FAIL'} {what}", flush=True)
    if not cond:
        sys.exit(1)


def same_tree(a: Path, b: Path) -> bool:
    fa = sorted(p.relative_to(a) for p in a.rglob("*") if p.is_file())
    fb = sorted(p.relative_to(b) for p in b.rglob("*") if p.is_file())
    return fa == fb and all(filecmp.cmp(a / f, b / f, shallow=False) for f in fa)


def determinism():
    for n in ("a", "b"):
        gen_odm.write(str(TMP / f"odm_{n}"), 7, 4, 3)
        gen_tables.write(str(TMP / f"tables_{n}"), 7, 0.01)
    check(same_tree(TMP / "odm_a", TMP / "odm_b"), "gen_odm: same seed, identical corpus and expectations")
    check(same_tree(TMP / "tables_a", TMP / "tables_b"), "gen_tables: same seed, identical tables")
    gen_odm.write(str(TMP / "odm_c"), 8, 4, 3)
    check(not same_tree(TMP / "odm_a", TMP / "odm_c"), "gen_odm: another seed, another corpus")


def runs(spec):
    for w in spec["workloads"]:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            r = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", w["name"],
                                "--seed", "11", "--seconds", "1", "--trace", str(trace)],
                               cwd=ROOT, capture_output=True, text=True, timeout=600)
            lines = r.stdout.strip().splitlines()
            check(r.returncode == 0 and lines, f"{w['name']} trace={trace}: exits 0 with output")
            out = json.loads(lines[-1])
            check(sorted(out) == ["attempted", "correct", "failed", "metrics"]
                  and out["correct"] and out["failed"] == 0 and out["attempted"] > 0,
                  f"{w['name']} trace={trace}: correct, {out['attempted']} operations")
            want = {m["name"]: m["unit"] for m in spec[kind]}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            check(got == want, f"{w['name']} trace={trace}: every {kind} metric with its unit")
            if trace == 0:
                for name in ("query_p90_s", "failed_ratio") + (
                        ("import_cmds_per_s",) if w["name"] == "odm_import" else ()):
                    check(any(f"metric {name} = " in ln for ln in lines),
                          f"{w['name']}: prints {name}")


def rejects_wrong_outputs():
    work = ROOT / ".bench_build" / "work"
    exp = json.loads((work / "odm_import" / "input" / "expect.json").read_text())
    rec = json.loads((work / "odm_import" / "record.json").read_text())
    obs = rec["passes"][0]["obs"]
    check(run.check_odm_pass(obs, exp) == [], "odm: a real pass matches its expectations")
    wrong = dict(exp, state_rows=exp["state_rows"] + 1)
    check(run.check_odm_pass(obs, wrong) != [], "odm: a wrong expectation is rejected")
    wrong = json.loads(json.dumps(exp))
    k = next(iter(wrong["cmds"]))
    wrong["cmds"][k] -= 1
    check(run.check_odm_pass(obs, wrong) != [], "odm: a wrong command count is rejected")

    import pyarrow.parquet as pq
    src = work / "query_mix" / "outputs"
    dst = TMP / "outputs"
    shutil.copytree(src, dst)
    qid = sorted(p.name for p in dst.iterdir() if p.is_dir())[0]
    part = sorted((dst / qid).glob("*.parquet"))[0]
    t = pq.read_table(part)
    pq.write_table(t.slice(1), part)
    res = run.check_oracle(work / "query_mix" / "input", dst)
    check(res.get(qid) is False and all(v for k, v in res.items() if k != qid),
          f"oracle: {qid} with one row dropped is rejected, the rest pass")


def main():
    shutil.rmtree(TMP, ignore_errors=True)
    TMP.mkdir(parents=True)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    determinism()
    runs(spec)
    rejects_wrong_outputs()
    print("selftest passed")


if __name__ == "__main__":
    main()
