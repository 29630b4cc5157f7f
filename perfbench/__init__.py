"""Layered benchmark for the ordered store, AggStream and the
micro-batch sinks. Entry point: ``python3 perfbench/run.py``."""
