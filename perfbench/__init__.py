"""Pipeline-shaped benchmark of etl_bom_radiation_spark (see run.py)."""
