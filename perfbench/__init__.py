"""End-to-end and per-layer benchmark of the sync engine and its query
corpus; ``python3 perfbench/run.py --help``."""
