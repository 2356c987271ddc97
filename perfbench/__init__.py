"""OSM-history benchmark for the oshdb_spark engine (see README.md)."""
