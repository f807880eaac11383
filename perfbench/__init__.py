"""Seeded end-to-end benchmark for the index build, search and ingest paths.

Run ``python3 perfbench/run.py --workload <build|search|ingest> --seed <n>
--seconds <s> --trace <0|1>`` from the repository root; see README.md.
"""
