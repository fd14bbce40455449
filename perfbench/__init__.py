"""Extraction-engine benchmark: see ``perfbench/README.md``."""
