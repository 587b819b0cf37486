"""Sources and sinks: the transaction-log table (``txlog``) and IO helpers (``io``)."""
