"""Request-level benchmark of the sparkdiff engine.

Run from the repository root:

    python3 perfbench/run.py --workload parity --seed 1 --seconds 10 --trace 0

Prints progress and a human summary on stderr, writes a self-describing
artifact under ``.perfbench/results/``, and prints the result as one JSON
object on the last line of stdout.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    if not (
        os.path.isfile(os.path.join(ROOT, "sparkdiff", "__init__.py"))
        and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
    ):
        print(f"perfbench: no sparkdiff checkout at {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    from graftbench.runner import run

    return run(sys.argv[1:], ROOT)


if __name__ == "__main__":
    sys.exit(main())
