"""Benchmark for sparkolumnar; entry point: perfbench/run.py."""
