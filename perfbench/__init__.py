"""Pipeline benchmark for ayeaye_spark; run it with ``python3 perfbench/run.py``."""
