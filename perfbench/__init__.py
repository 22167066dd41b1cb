"""The aef-mosaic-spark benchmark (see perfbench/README.md)."""
