"""The repository benchmark: seeded workloads that drive the program's
public functions from outside and report end-to-end and per-layer
metrics. Run ``python3 perfbench/run.py --help`` from the repo root."""
