#!/usr/bin/env python
"""Write every catalog query's optimized logical plan to one JSON file.

    python tools/plan_fingerprint.py OUT.json

For each ``catalog.QUERIES`` key at sf0.001 the file maps the name to the
optimized-plan string with expression ids (``#123``) and ``plan_id=<n>``
tags stripped, so two checkouts' files compare equal exactly when no
query's plan changed.  A query whose plan cannot be built maps to its
exception's type name.
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_DIR = "/root/testdata/sf0.001"
_IDS = re.compile(r"#\d+L?|plan_id=\d+")


def main() -> int:
    if len(sys.argv) != 2:
        print(__doc__.strip().splitlines()[2].strip(), file=sys.stderr)
        return 2
    from waddleml_spark import catalog
    from waddleml_spark.session import command_spark

    plans = {}
    with command_spark("plan-fingerprint") as spark:
        for name in sorted(catalog.QUERIES):
            try:
                df = catalog.QUERIES[name](spark, SF_DIR)
                plan = df._jdf.queryExecution().optimizedPlan().toString()
                plans[name] = _IDS.sub("", plan)
            except Exception as ex:  # a plan that needs runtime state
                plans[name] = type(ex).__name__
    Path(sys.argv[1]).write_text(json.dumps(plans, indent=1, sort_keys=True) + "\n")
    print(f"wrote {sys.argv[1]} ({len(plans)} plans)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
