"""Empty on purpose: the span tracer of the benchmark (`perfbench/spans.py`)
imports every source module by name. Small-file compaction and Z-order
clustering live in `operators/layout.py`."""
