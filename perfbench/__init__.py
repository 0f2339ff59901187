"""Repository benchmark: seeded corpus, workloads, oracle checks, tracing."""
