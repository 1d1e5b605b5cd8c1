"""Run one benchmark workload and print its result as the last line.

    python3 v6bench/run.py --workload <dedup_scale|corpus_publish> \
        --seed <n> --seconds <s> --trace <0|1>

The inputs and expected results of the seed are built first (and
cached under ``v6bench/_cache``); then ``measure.py`` runs the
workload in a fresh process, so its set-up time starts at its own
process start.  The exit code is the measuring process's.
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)


def main() -> int:
    import v6spark  # noqa: F401  (fail fast outside a checkout of the program)

    import prepare

    args = sys.argv[1:]
    workload = args[args.index("--workload") + 1]
    seed = int(args[args.index("--seed") + 1])
    if workload not in prepare.BUILDERS:
        print(f"unknown workload {workload!r}", file=sys.stderr)
        return 2
    prepare.ensure(workload, seed)
    child = subprocess.Popen([sys.executable, os.path.join(HERE, "measure.py"), *args])

    def stop(signum, _frame):
        child.terminate()
        child.wait()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    try:
        return child.wait()
    finally:
        if child.poll() is None:
            child.kill()
            child.wait()


if __name__ == "__main__":
    sys.exit(main())
