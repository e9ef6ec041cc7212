"""Seeded closed-loop benchmark for the CDC replica, its stores, the
corpus ingest pipeline and the query registry (see ``run.py``)."""
