"""fairy-core-spark benchmark: see README.md."""
