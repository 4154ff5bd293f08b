"""Conversion benchmark for the SOSI->OSM pipeline (see perfbench/README.md)."""
