"""Seeded, oracle-checked benchmark of the fulltext engine; run it with
``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>``."""
