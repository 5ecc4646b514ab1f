"""Repository benchmark: Parquet->queue publishing, declared SQL and sized
Parquet writes, measured from outside the engine through its public calls.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root; see ``run.py``.
"""
