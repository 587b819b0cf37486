"""Exact-parity scalar utilities (``scalars``) and the Oracle SQL
dialect bridge (``oracle_sql``)."""
