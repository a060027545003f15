"""Layered benchmark of the ingest service and the LLM corpus-prep
queries. Entry point: ``python3 perfbench/run.py`` (see README.md)."""
