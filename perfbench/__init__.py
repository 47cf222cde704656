"""Layered benchmark for zebra-spark (see perfbench/README.md)."""
