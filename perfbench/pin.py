"""Records the outputs every benchmark rep must reproduce, per workload and
seed, in perfbench/pinned.tsv (see perfbench.Pin):

    python3 perfbench/pin.py 0 99

Run it only when a change is meant to alter what a workload computes; the
benchmark's correctness gate fails any run whose outputs differ from the
values pinned for its seed.
"""

import os
import sys

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402


def main():
    first, last = (int(a) for a in sys.argv[1:3])
    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    work = os.path.join(build.OUT, "pin")
    lines = []
    code, final = run.run_jvm(
        run.jvm(classpath, "perfbench.Pin", work) + [work, str(first), str(last)],
        lines.append)
    if code != 0:
        return code
    lines = [l for l in lines + [final + "\n"] if l.count("\t") == 2]
    with open(run.PINNED, "w") as fh:
        fh.write("# workload\tseed\toutputs; written by "
                 f"python3 perfbench/pin.py {first} {last}\n")
        fh.writelines(sorted(lines, key=lambda l: (l.split("\t")[0],
                                                    int(l.split("\t")[1]))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
