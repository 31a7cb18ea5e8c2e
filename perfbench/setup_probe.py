"""One set-up sample: start, open the benchmark's Spark session, print
``ready``, then close the session and wait for its processes.

Run from the checkout root as ``python3 -m perfbench.setup_probe N``
(N = cores of ``local[N]``); the caller times start to ``ready``.
"""

from __future__ import annotations

import sys

from perfbench.env import close_session, open_session, prepare_process_env


def main() -> None:
    prepare_process_env()
    spark = open_session(f"local[{int(sys.argv[1])}]")
    print("ready", flush=True)
    close_session(spark)


if __name__ == "__main__":
    main()
