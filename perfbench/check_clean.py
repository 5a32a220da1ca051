"""Checks that one benchmark run leaves the repository as it found it.

Compares `git status --porcelain` before and after a run of
`perfbench/run.py` with the given arguments; every file a run writes
must be ignored by git (the `.bench_*` directories) or outside the
checkout. Exits non-zero and prints the difference otherwise.

    python3 perfbench/check_clean.py --workload cql-oltp --seed 1 --seconds 2
"""
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def status():
    return subprocess.run(["git", "status", "--porcelain", "--untracked-files=all"],
                          cwd=ROOT, check=True, capture_output=True,
                          text=True).stdout.splitlines()


def main():
    before = status()
    subprocess.run([sys.executable, os.path.join(HERE, "run.py")] + sys.argv[1:]
                   + ([] if "--trace" in sys.argv else ["--trace", "0"]),
                   cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
    after = status()
    added = sorted(set(after) - set(before))
    removed = sorted(set(before) - set(after))
    if added or removed:
        print("the run changed the repository:")
        for line in added:
            print("  +", line)
        for line in removed:
            print("  -", line)
        raise SystemExit(1)
    print("clean: git status is unchanged by the run")


if __name__ == "__main__":
    main()
