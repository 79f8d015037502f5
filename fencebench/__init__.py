"""fences_spark end-to-end benchmark: workloads, checks and the traced run."""
