"""Link-graph benchmark harness (see README.md)."""
