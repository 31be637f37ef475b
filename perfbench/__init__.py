"""dataforge_spark benchmark: workloads, checks, tracing and host records."""
