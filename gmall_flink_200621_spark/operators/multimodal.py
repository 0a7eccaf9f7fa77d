"""Empty on purpose: the span tracer of the benchmark (`perfbench/spans.py`)
imports every operator module by name."""
