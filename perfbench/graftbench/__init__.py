"""Request-level benchmark harness for the sparkdiff engine."""
