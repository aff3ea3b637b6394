"""Benchmark of the ETL engine: seeded ETL feeds and a registry query mix."""
