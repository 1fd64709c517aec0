"""Benchmark for spark-frontier: crawl and analytics workloads, timed end to
end and, in a separate traced run, layer by layer. Entry point: run.py."""
