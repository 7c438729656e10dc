"""Print the two size numbers tracked every round: non-blank lines of
Python under ``hudi_0_10_0_spark/`` and the number of ``WriteConfig``
fields (the engine's knobs).

Usage: python tools/size_report.py [repo_root]
``repo_root`` defaults to this checkout; pass another checkout to
measure it the same way (its own ``WriteConfig`` is imported).
"""

from __future__ import annotations

import dataclasses
import os
import sys


def nonblank_lines(pkg_dir: str) -> int:
    total = 0
    for dirpath, _, names in os.walk(pkg_dir):
        for name in names:
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), encoding="utf-8") as f:
                    total += sum(1 for line in f if line.strip())
    return total


def main() -> None:
    root = os.path.abspath(
        sys.argv[1] if len(sys.argv) > 1 else os.path.join(os.path.dirname(__file__), "..")
    )
    sys.path.insert(0, root)
    from hudi_0_10_0_spark.config import WriteConfig

    lines = nonblank_lines(os.path.join(root, "hudi_0_10_0_spark"))
    print(f"hudi_0_10_0_spark non-blank lines: {lines}")
    print(f"WriteConfig fields: {len(dataclasses.fields(WriteConfig))}")


if __name__ == "__main__":
    main()
