"""CDC benchmark for pipelinewise_spark: see README.md in this directory."""
