"""Empty on purpose: the span tracer of the benchmark (`perfbench/spans.py`)
imports every source module by name. The registry reads the testdata
parquet through `sources/loaders.py`."""
