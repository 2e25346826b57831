"""Plan-quality report generator: for every catalog query, summarize the
physical plan (scans + pushed filters, join strategies, exchange count,
codegen coverage) into a markdown table — regenerate PLANS.md with

    PYTHONPATH=. python -m waddleml_spark.plans.report
"""

from __future__ import annotations

import re


def summarize(df) -> dict:
    from waddleml_spark.plans.inspect import explain_str

    text = explain_str(df, "formatted")
    ops = re.findall(r"\(\d+\) ([A-Za-z]+)", text)
    joins = [o for o in ops if "Join" in o]
    return {
        "exchanges": sum(1 for o in ops if o == "Exchange"),
        "joins": ",".join(sorted(set(joins))) or "-",
        "pushed": "; ".join(
            m.group(1)
            for m in re.finditer(r"PushedFilters: \[([^\]]+)\]", text)
            if m.group(1).strip()
        )
        or "-",
        "top_k": "TakeOrderedAndProject" in text,
        "window_limit": "WindowGroupLimit" in text,
        "codegen": len(re.findall(r"codegen id", text)) > 0,
    }


def main(sf_dir: str = "/root/testdata/sf0.01") -> None:
    from waddleml_spark import catalog
    from waddleml_spark.session import command_spark

    lines = [
        "# PLANS — physical-plan summary per catalog query",
        "",
        f"Generated from `.explain('formatted')` at `{sf_dir}`.",
        "`exch` = shuffle exchanges; `top-k` = TakeOrderedAndProject;",
        "`wgl` = WindowGroupLimit (pre-shuffle per-group limit).",
        "",
        "| query | exch | joins | top-k | wgl | pushed filters |",
        "|---|---|---|---|---|---|",
    ]
    with command_spark("plan-report") as spark:
        for name in sorted(catalog.QUERIES):
            try:
                s = summarize(catalog.QUERIES[name](spark, sf_dir))
                pushed = s["pushed"][:90] + ("…" if len(s["pushed"]) > 90 else "")
                lines.append(
                    f"| {name} | {s['exchanges']} | {s['joins']} | "
                    f"{'✓' if s['top_k'] else ''} | {'✓' if s['window_limit'] else ''} | "
                    f"`{pushed}` |"
                )
            except Exception as ex:  # rows-only ops needing runtime state etc.
                lines.append(f"| {name} | — | — | | | ({type(ex).__name__}) |")
    with open("PLANS.md", "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote PLANS.md ({len(catalog.QUERIES)} queries)")


if __name__ == "__main__":
    main()
