"""Table layouts and the table format.

    bucketed.py   bucketed-table layout for shuffle-free co-located joins
    zorder.py     Z-order (Morton-curve) multi-column layout
    snaptable.py  the snapshot table format: versioned snapshot commits
"""
