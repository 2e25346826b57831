"""Streaming path (SURVEY.md §2.10): live metric broadcast (live) and
the snapshot-table sinks (snapsink)."""
