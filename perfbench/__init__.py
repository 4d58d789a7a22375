"""Layered benchmark for lakota_spark: see perfbench/README.md."""
