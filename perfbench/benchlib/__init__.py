"""Support modules for perfbench/run.py: build, inputs, workloads,
oracle comparison, statistics and the trace rollup."""
