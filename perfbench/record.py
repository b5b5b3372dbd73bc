#!/usr/bin/env python3
"""Records expected.tsv, the values run.py checks every result against.

    python3 perfbench/record.py

Builds every workload key once (the harness's record mode), writing each
result as parquet with its DuckDB oracle SQL beside it, then runs
tools/compare.py on that dump against the same sf0.1 data. A key is
recorded only if:
  * oracle-backed: compare.py passes for it and its fingerprint is the
    same on the live result and on the parquet written from it
    (kind `oracle`: rows and hash must match later);
  * rows-only: it produced rows (kind `rows`: schema must match and the
    result must not be empty later).
Every other key is listed as a comment and counts as failed in a run.
Run it only on a commit whose results are known good.
"""
import os
import re
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def main():
    classpath = run.build()
    out = os.path.join(run.WORK, "record")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    _, records = run.harness(classpath, "--mode", "record", "--out", out,
                             timeout=1800)
    compare = subprocess.run(
        [sys.executable, os.path.join(run.ROOT, "tools", "compare.py"),
         run.DATA, out], capture_output=True, text=True)
    print(compare.stdout, end="", file=sys.stderr)
    passed = set(re.findall(r"^PASS (\S+)", compare.stdout, re.M))
    lines, skipped = [], []
    for tag, r in records:
        if tag != "EXPECT":
            continue
        key = r["key"]
        if "error" in r:
            skipped.append(f"# {key}: not recorded: {r['error']}")
        elif r["kind"] == "oracle" and key not in passed:
            skipped.append(f"# {key}: not recorded: oracle compare failed")
        elif r["kind"] == "oracle" and not r["stable"]:
            skipped.append(f"# {key}: not recorded: fingerprint not stable")
        elif r["kind"] == "rows" and r["rows"] == 0:
            skipped.append(f"# {key}: not recorded: empty result")
        else:
            lines.append("\t".join([key, r["kind"], str(r["rows"]), r["hash"],
                                    r["schema"]]))
    with open(run.EXPECTED, "w") as fh:
        fh.write("# key\tkind\trows\thash\tschema (written by record.py)\n")
        fh.write("\n".join(skipped + sorted(lines)) + "\n")
    print(f"recorded {len(lines)} keys, skipped {len(skipped)}", file=sys.stderr)


if __name__ == "__main__":
    main()
