"""Structured Streaming over the ``events`` table (``events``)."""
