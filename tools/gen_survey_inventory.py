"""Regenerate SURVEY.md §2.Z — the canonical, machine-diffable key
inventory. One row per registry key: key | one-line description (from the
query function's docstring) | oracle mode | implementation file:line.

Run after adding/removing registry keys:
    python tools/gen_survey_inventory.py
tests/test_sql_entry.py::test_survey_inventory_matches_registry fails
until the block matches the registry again.
"""

from __future__ import annotations

import inspect
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BEGIN = "<!-- BEGIN GENERATED KEY INVENTORY (tools/gen_survey_inventory.py) -->"
END = "<!-- END GENERATED KEY INVENTORY -->"
FAM_BEGIN = "<!-- BEGIN GENERATED FAMILY COUNTS (tools/gen_survey_inventory.py) -->"
FAM_END = "<!-- END GENERATED FAMILY COUNTS -->"


def build_family_counts() -> str:
    """The §2 per-family prose line, generated so it can never drift from
    the registry again (r7 verdict hygiene item 1)."""
    from collections import Counter

    from scopus_spark import registry

    qs = registry.all_queries()
    fams = Counter(re.match(r"([a-z]+)", k).group(1) for k in qs)
    parts = ", ".join(f"{f}={fams[f]}" for f in sorted(fams))
    return f"{parts} — {len(qs)} keys total."


def _family_order(key: str) -> tuple[str, int]:
    m = re.match(r"([a-z]+)(\d+)", key)
    return (m.group(1), int(m.group(2)))


def build_table() -> str:
    from scopus_spark import registry

    qs = registry.all_queries()
    oracles = registry.all_oracles()
    lines = [
        "| key | operator (docstring line 1) | oracle | impl |",
        "| --- | --- | --- | --- |",
    ]
    for key in sorted(qs, key=_family_order):
        fn = inspect.unwrap(qs[key])  # the registered build, not its query scope
        doc = (inspect.getdoc(fn) or "").split("\n")[0].strip()
        if len(doc) > 88:
            doc = doc[:85] + "..."
        doc = doc.replace("|", "\\|")
        repo_root = os.path.dirname(
            os.path.dirname(os.path.abspath(__file__))
        )
        src = os.path.relpath(inspect.getsourcefile(fn), repo_root)
        line = inspect.getsourcelines(fn)[1]
        mode = "HASH" if key in oracles else "ROWS/UNIT"
        lines.append(f"| {key} | {doc} | {mode} | {src}:{line} |")
    n_hash = sum(1 for k in qs if k in oracles)
    lines.append("")
    lines.append(
        f"({len(qs)} keys: {n_hash} HASH, {len(qs) - n_hash} ROWS/UNIT — "
        "regenerate with `python tools/gen_survey_inventory.py`)"
    )
    return "\n".join(lines)


def main() -> None:
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SURVEY.md")
    text = open(path).read()
    block = f"{BEGIN}\n\n{build_table()}\n\n{END}"
    if FAM_BEGIN in text:
        fam_block = f"{FAM_BEGIN}\n{build_family_counts()}\n{FAM_END}"
        text = re.sub(
            re.escape(FAM_BEGIN) + r".*?" + re.escape(FAM_END),
            fam_block,
            text,
            flags=re.S,
        )
    if BEGIN in text:
        text = re.sub(
            re.escape(BEGIN) + r".*?" + re.escape(END), block, text, flags=re.S
        )
    else:
        anchor = "\n---\n\n## 3. Query lifecycle"
        section = (
            "\n### 2.Z Canonical key inventory (generated — the diffable "
            "contract)\n\nEvery `queries()` key, exactly as the registry "
            "declares it. This table IS\nthe coverage contract: "
            "tests/test_sql_entry.py diffs it against\n"
            "`registry.all_queries()`, so it cannot drift.\n\n"
            + block
            + "\n"
        )
        text = text.replace(anchor, section + anchor, 1)
    open(path, "w").write(text)
    print("SURVEY.md §2.Z regenerated")


if __name__ == "__main__":
    main()
