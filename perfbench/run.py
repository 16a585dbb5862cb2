"""The repo benchmark: one seeded workload per run, one JSON result line.

    python3 perfbench/run.py --workload bidlog_pipeline --seed 1 \\
        --seconds 4 --trace 0 [--smoke]

Run it from the root of a checkout. A run starts one local SparkSession
on every core, writes the seed's inputs under ``.perfbench_work/``, runs
the workload's op mix once untimed (warm-up), then runs passes of the op
mix in a closed loop until ``--seconds`` have passed and at least two ops
have run, finishing the pass in progress. It then reads the memory metrics, and with ``--trace 1``
runs the same window again with spans and Spark counters on, plus the
per-layer prefix materialisations. Last it checks the outputs against
the DuckDB oracle. The last stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones; the line before it records the host (steal %, load1,
heap, cores). ``--smoke`` shrinks the inputs tenfold for a quick test.
See perfbench/NOTES.md for what each metric means.
"""

import os
import sys
import time

if __name__ == "__main__":
    t_start = time.monotonic()
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from perfbench.bench import main

    raise SystemExit(main(sys.argv[1:], t_start))
