"""One-shot registry-hygiene sync: regenerate every generated contract doc
from the live registry (SURVEY.md §2.Z inventory + docs/COVERAGE.md, and
the §2 key-count totals). Run after ANY register() add/remove:

    python tools/sync.py

tests/test_sql_entry.py::test_survey_inventory_matches_registry stays red
until this has been run — this wrapper exists so a new key can never ship
with stale contract docs (VERDICT round-5 item 8).
"""

from __future__ import annotations

import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    rc = 0
    for script in ("gen_survey_inventory.py", "gen_coverage.py"):
        # -P: keep tools/ off sys.path, where profile.py shadows the stdlib
        r = subprocess.run([sys.executable, "-P", os.path.join(HERE, script)])
        rc = rc or r.returncode
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
