"""Seeded benchmark of planet_search_spark: see WORKLOADS.md."""
