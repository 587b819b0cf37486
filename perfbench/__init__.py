"""Batch-lifecycle benchmark for etl_batch_spark; entry point: perfbench/run.py."""
