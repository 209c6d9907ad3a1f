#!/usr/bin/env python3
"""Re-pins the query_mix results (perfbench/queries/query_mix.tsv).

    python3 perfbench/pin.py [candidates.txt]

Runs the candidate queries (default: the current list) twice over the
vendored sf0.01 tables, the second time in reverse order, and keeps a
query only if both runs give the same row count and hash AND
tools/oracle_check.py shows the DuckDB oracle agrees with its result.
Development tool: the benchmark runs never call it.
"""
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402

LIST = os.path.join(HERE, "queries", "query_mix.tsv")
DATA = os.path.join(HERE, "data", "sf0.01")


def pin(names, out, classes):
    tmp = os.path.join(ROOT, ".bench_build", "tmp")
    os.makedirs(tmp, exist_ok=True)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    with open(os.path.join(out, "names.txt"), "w") as fh:
        fh.write("\n".join(names) + "\n")
    subprocess.run(["java"] + run.jvm_options(tmp) + ["-cp", build.classpath(classes),
                    "graft.perfbench.Pin", DATA, os.path.join(out, "names.txt"), out],
                   cwd=ROOT, check=True, stdout=sys.stderr)
    with open(os.path.join(out, "pins.tsv")) as fh:
        return {l.split("\t")[0]: l.rstrip("\n") for l in fh if l.strip()}


def main():
    src = sys.argv[1] if len(sys.argv) > 1 else LIST
    with open(src) as fh:
        names = [l.split("\t")[0].strip() for l in fh if l.strip() and not l.startswith("#")]
    classes, _ = build.build()
    work = os.path.join(ROOT, ".bench_build", "pin")
    a = pin(names, os.path.join(work, "a"), classes)
    b = pin(names[::-1], os.path.join(work, "b"), classes)
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "oracle_check.py"),
                        DATA, os.path.join(work, "a")], capture_output=True, text=True)
    agreed = {l.split()[1].rstrip(":") for l in r.stdout.splitlines() if l.startswith("OK ")}
    keep = [n for n in names if n in agreed and a.get(n) == b.get(n)]
    for n in names:
        if n not in keep:
            why = "oracle disagrees" if n not in agreed else "unstable across orders"
            print(f"dropped {n}: {why}", file=sys.stderr)
    with open(LIST, "w") as fh:
        fh.write("# query\trows\thash (perfbench/pin.py; oracle-checked at sf0.01)\n")
        fh.write("\n".join(a[n] for n in sorted(keep)) + "\n")
    print(f"pinned {len(keep)} of {len(names)} queries")


if __name__ == "__main__":
    main()
