"""Empty on purpose: the span tracer of the benchmark (`perfbench/spans.py`)
imports every streaming module by name. The materialized views the
registry serves are the epoch-state maintainers in `streaming/ingest.py`."""
