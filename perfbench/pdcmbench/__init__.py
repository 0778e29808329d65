"""The repository benchmark: workloads, engine counters, tracing and
output checks behind perfbench/run.py."""
