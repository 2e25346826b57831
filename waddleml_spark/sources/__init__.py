"""Source connectors and table layouts (SURVEY.md §2.1 S6).

    binary.py     bulk artifact ingest via the binaryFile source (S6)
    bucketed.py   bucketed-table layout for shuffle-free co-located joins
    zorder.py     Z-order (Morton-curve) multi-column layout
    snaptable.py  the one table format: versioned snapshot commits
"""
