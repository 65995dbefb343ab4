"""Benchmark for mycenae_spark; entry point perfbench/run.py."""
