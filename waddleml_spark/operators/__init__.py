"""Read-path operator library (SURVEY.md §2.2-2.8).

Every operator is a pure function DataFrame -> DataFrame built from
Catalyst-optimizable primitives — no UDFs, no collect loops — so predicate
pushdown, column pruning, broadcast selection and whole-stage codegen apply.
"""
