"""Benchmark for the data_pipeline_etl_spark engine; see perfbench/README.md."""
