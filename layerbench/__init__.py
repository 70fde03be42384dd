"""Layered benchmark of the CDC ingest path and the operator registry (see NOTES.md)."""
