#!/usr/bin/env python3
"""Re-establish the expected row counts and digests of a query panel.

    python3 perfbench/record_expected.py query [runs]

Runs the workload `runs` times (default 3) in record mode, each with its
own seed and therefore its own query order, and rewrites
`expected/<workload>.tsv`. A row count must agree across every pass of
every run, or the script fails. A digest that differs between passes or
runs (floating sums folded in a different order, ties broken
differently) is written as `*`, so only that row's count is checked.
"""

import os
import subprocess
import sys
import tempfile

BENCH = os.path.dirname(os.path.abspath(__file__))


def main():
    workload = sys.argv[1]
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    path = os.path.join(BENCH, "expected", f"{workload}.tsv")
    header = [l for l in open(path) if l.startswith("#")]
    seen = {}
    with tempfile.TemporaryDirectory(dir=os.path.join(BENCH, ".work")) as tmp:
        for seed in range(1, runs + 1):
            out = os.path.join(tmp, f"{seed}.tsv")
            subprocess.run([sys.executable, os.path.join(BENCH, "run.py"),
                            "--workload", workload, "--seed", str(seed),
                            "--seconds", "15", "--trace", "0", "--record", out],
                           check=True, stdout=subprocess.DEVNULL)
            for line in open(out):
                name, family, rows, digest = line.rstrip("\n").split("\t")
                seen.setdefault((name, family), []).append((int(rows), digest))
    bad = [n for (n, _), obs in seen.items()
           if len({r for r, _ in obs}) != 1 or obs[0][0] < 0]
    if bad:
        sys.exit(f"row counts differ or failed for: {', '.join(sorted(bad))}")
    with open(path, "w") as fh:
        fh.writelines(header)
        for (name, family), obs in sorted(seen.items()):
            digests = {d for _, d in obs}
            digest = digests.pop() if len(digests) == 1 else "*"
            fh.write(f"{name}\t{family}\t{obs[0][0]}\t{digest}\n")
    print(f"{path}: {len(seen)} rows, "
          f"{sum(1 for o in seen.values() if len({d for _, d in o}) > 1)} unstable digests")


if __name__ == "__main__":
    main()
