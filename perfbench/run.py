"""The repository's benchmark: the DrugBank pipeline and the synonymizer.

    python3 perfbench/run.py --workload drugbank_text --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. It builds the program from source
(build.py), generates the workload's inputs from the seed (gen.py, cached
per seed under .bench_build), runs one JVM on local[4] or fewer cores, and
prints every metric by name and unit. The last line of standard output is
the result object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones from a separate traced run (spans go to
.bench_build/perfbench/work/<workload>-<seed>/trace.json).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import verify  # noqa: E402

JVM_TIMEOUT_S = 170


def inputs(workload, seed):
    """Generated inputs for (workload, seed); reused while gen.py is unchanged."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:12]
    data = os.path.join(build.BUILD, "data", f"{workload}-{seed}-{tag}")
    if not os.path.exists(os.path.join(data, "manifest.json")):
        tmp = data + ".partial"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(workload, seed, tmp)
        shutil.rmtree(data, ignore_errors=True)
        os.rename(tmp, data)
    return data


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    build.build()
    data = inputs(a.workload, a.seed)
    work = os.path.join(build.BUILD, "work", f"{a.workload}-{a.seed}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = build.java("perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--data", data, "--work", work], tmp)
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True,
                          timeout=JVM_TIMEOUT_S)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout)
        raise SystemExit(f"perfbench: benchmark JVM exited with {proc.returncode}")
    result = json.loads(lines[-1])
    truth = None
    for out in result.pop("verify"):
        truth = truth or verify.expected(data)
        bad = verify.mismatches(data, out, truth)
        result["attempted"] += 1
        result["failed"] += bad > 0
        if bad:
            sys.stderr.write(f"perfbench: {bad} records in {out} differ from the planted truth\n")
    result["correct"] = result["failed"] == 0
    for line in lines[:-1]:
        print(line)
    print(f"failed_frac: {result['failed'] / result['attempted']} "
          f"({result['failed']} of {result['attempted']} checked operations)")
    for name, m in result["metrics"].items():
        print(f"metric {name} = {m['value']:.6g} {m['unit']}")
    shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
