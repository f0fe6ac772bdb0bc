"""Layered benchmark for geojson_vt_rs_spark (see README.md)."""
