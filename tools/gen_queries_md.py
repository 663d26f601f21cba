"""Regenerate QUERIES.md from the live registry (run from the repo root:
``python tools/gen_queries_md.py``). One row per queries() entry in
registration order; summary = the callable's docstring lead sentence,
flattened and truncated to 140 chars. Kept in sync by
tests/test_oracle_parity.py::test_queries_md_in_sync.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

HEADER = """# QUERIES — registry index (generated; kept in sync by tests/test_oracle_parity.py::test_queries_md_in_sync)

One row per `__spark_entry__.queries()` entry, in registration order
(the driver's CORRECTNESS gate samples the first 50). `oracle` =
DuckDB SQL twin hash-compared at sf0.001 and sf0.01; `rows-only` =
engine-hash-dependent result verified by pytest instead. Summaries
are the callable's docstring lead sentence. COVERAGE.md maps these
onto the SURVEY §2 operator inventory.

| # | query | check | summary |
|---|---|---|---|
"""

ROWS_ONLY_HEADER = """
## Rows-only entries — why, and what certifies them

The driver records a weaker rows-only check for these; none is an
unverified gap. Each line: why no engine-portable oracle can exist,
then the green check that certifies the values.

| query | why no oracle | certified by |
|---|---|---|
"""


def summarize(fn) -> str:
    doc = (fn.__doc__ or "").strip()
    flat = re.sub(r"\s+", " ", doc)
    lead = flat.split(". ")[0].rstrip(".").replace("|", "\\|")
    if len(lead) > 140:
        lead = lead[:137] + "..."
    return lead


def build() -> str:
    """The full QUERIES.md text — shared by main() and the sync test
    (tests/test_oracle_parity.py::test_queries_md_in_sync compares this
    byte-for-byte, so a rotation or docstring edit cannot leave the
    committed index stale)."""
    from procoggraph_spark.queries import registry
    from procoggraph_spark.queries.common import REGISTRY

    queries, oracles = registry()
    rows_only = [n for n in queries if n not in oracles]
    lines = [HEADER]
    for i, (name, fn) in enumerate(queries.items()):
        check = "oracle" if name in oracles else "rows-only"
        lines.append(f"| {i} | `{name}` | {check} | {summarize(fn)} |\n")
    lines.append(ROWS_ONLY_HEADER)
    for name in rows_only:
        why, cert = REGISTRY[name][2]
        lines.append(f"| `{name}` | {why} | {cert} |\n")
    return "".join(lines)


def main() -> None:
    out = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "QUERIES.md")
    text = build()
    with open(out, "w") as f:
        f.write(text)
    import re

    n = len(re.findall(r"^\| \d+ \| `", text, flags=re.M))
    print(f"wrote {n} rows")


if __name__ == "__main__":
    main()
