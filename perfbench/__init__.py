"""The repository benchmark: seeded workloads over the engine's public
functions, end-to-end metrics and an outside-in per-layer trace. See
README.md in this directory."""
