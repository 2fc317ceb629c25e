"""One set-up sample: a fresh process launches the JVM through the
engine's ``get_spark``, prints ``{"setup_s": seconds}`` and stops.

Usage: python3 perfbench/setup_probe.py WORK_DIR
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import env  # noqa: E402


def main() -> None:
    env.pin(sys.argv[1])
    spark, seconds = env.start_session("perfbench-setup")
    env.stop_session(spark)
    print(json.dumps({"setup_s": seconds}))


if __name__ == "__main__":
    main()
