"""Sinks: join-based upsert/merge (S6/J1/A8), JDBC upsert writer, and
the job table's version store (S9)."""
