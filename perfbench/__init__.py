"""grapho-spark benchmark: workloads, tracing and the runner."""
