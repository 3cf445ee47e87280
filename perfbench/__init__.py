"""Crawl-loop benchmark harness (see run.py)."""
