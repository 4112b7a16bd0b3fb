"""Time ``session.get_spark`` in a fresh process, then stop everything.

Usage: python3 perfbench/setup_probe.py <work dir> <slots>
Prints the seconds spent in get_spark as the last line of stdout.
"""

from __future__ import annotations

import sys
from pathlib import Path

import spark_side

if __name__ == "__main__":
    work = Path(sys.argv[1])
    spark_side.prepare_env(work, int(sys.argv[2]))
    sys.path.insert(0, str(spark_side.ROOT))
    spark, seconds = spark_side.start(work)
    spark_side.stop(spark)
    print(repr(seconds))
