"""Streaming path (SURVEY.md §2.10): live metric broadcast and
streaming dedup (live), and the snapshot-table sink (snapsink)."""
