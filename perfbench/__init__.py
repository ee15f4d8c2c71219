"""Job-level benchmark harness for kiez_spark (see README.md)."""
