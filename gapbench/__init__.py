"""Gap-fill benchmark for ssgp_toolbox_spark (see gapbench/README.md)."""
