"""The repository's benchmark: three OpenSeizureDatabase-lifecycle
workloads measured end to end, with a traced run for per-layer numbers.
See README.md."""
