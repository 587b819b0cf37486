"""Reusable DataFrame operators; each module is imported by the queries that use it."""
