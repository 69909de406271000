#!/usr/bin/env python3
"""Smoke test of the benchmark harness at tiny sizes (about 4 minutes).

    python3 perfbench/smoke.py

Runs every workload untraced and traced at --size tiny (a 3,000-page web,
query data at sf0.001) with the default seed, and checks that:
  - each run exits 0 and reports correct=true with no failed op;
  - the metric names and units printed are exactly BENCHMARK.json's
    end_to_end list (untraced) and per_layer list (traced);
  - every end-to-end value is a positive number;
  - every output digest was compared with a recorded value (digests.json);
  - the traced record states the tracing overhead and why each absent
    per-layer metric is absent (absent metrics print 0);
  - in a directory holding only BENCHMARK.json and perfbench/, run.py exits
    non-zero without printing a result.
It is not part of the repository's test suite.
"""
import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)


def run(args, cwd=CHECKOUT):
    p = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py")] + args,
                       cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, timeout=1200)
    return p.returncode, p.stdout.decode(errors="replace").splitlines(), p.stderr.decode(errors="replace")


def main():
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    want = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
            1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    problems = []
    for w in [x["name"] for x in bench["workloads"]]:
        for trace in (0, 1):
            tag = f"{w} trace={trace}"
            rc, out, err = run(["--workload", w, "--seed", "42", "--seconds", "20",
                                "--trace", str(trace), "--size", "tiny"])
            if rc != 0 or len(out) < 2:
                problems.append(f"{tag}: exit {rc}\n{err[-2000:]}")
                continue
            result = json.loads(out[-1])
            record = json.loads(out[-2])["record"]
            if set(result) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: result keys {sorted(result)}")
            if not result["correct"] or result["failed"] != 0 or result["attempted"] < 1:
                problems.append(f"{tag}: correct={result['correct']} failed={result['failed']} "
                                f"checks={record['check_failures']}")
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if got != want[trace]:
                missing = sorted(set(want[trace]) - set(got))
                extra = sorted(set(got) - set(want[trace]))
                wrong = sorted(k for k in set(got) & set(want[trace]) if got[k] != want[trace][k])
                problems.append(f"{tag}: missing {missing} extra {extra} wrong units {wrong}")
            for k, v in result["metrics"].items():
                x = v["value"]
                if not isinstance(x, (int, float)) or math.isnan(x) or (trace == 0 and x <= 0):
                    problems.append(f"{tag}: {k} = {x}")
            if record.get("digest_source") != "recorded":
                problems.append(f"{tag}: digests not compared with recorded values "
                                f"({record.get('digest_source')})")
            if trace == 1:
                overhead = record.get("tracing_overhead")
                if not isinstance(overhead, dict) or set(overhead) != set(want[0]):
                    problems.append(f"{tag}: tracing overhead missing: {overhead}")
                absent = record.get("absent", {})
                odd = sorted(k for k in absent if result["metrics"].get(k, {}).get("value") != 0)
                if odd or not absent:
                    problems.append(f"{tag}: absent metrics must print 0 and be listed: {odd}")
                if any(v["value"] < 0 for v in result["metrics"].values()):
                    problems.append(f"{tag}: negative per-layer value")
            print(f"ok {tag}" if not any(p.startswith(tag) for p in problems) else f"FAIL {tag}",
                  flush=True)

    bare = os.path.join(HERE, ".work", "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(CHECKOUT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("target", ".work"))
    rc, out, _ = run(["--workload", "query_suite", "--seed", "1", "--seconds", "20", "--trace", "0"],
                     cwd=bare)
    if rc == 0 or any(l.startswith("{") for l in out):
        problems.append(f"bare directory: exit {rc}, printed {out[-1:]}")
    else:
        print("ok bare directory fails without a result", flush=True)
    shutil.rmtree(bare, ignore_errors=True)

    for p in problems:
        print("FAIL", p)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
