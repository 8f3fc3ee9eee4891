"""Write ``perfbench/oracles.json``: the normalized DuckDB oracle result of
each ``ops_iterative`` query over the test tables, keyed by a hash of its
oracle SQL, the normalization code and the tables' content.

Run from the repository root (takes about a minute; DuckDB only, no Spark):

    python3 perfbench/freeze_oracles.py
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

ROOT = Path.cwd()
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(Path(__file__).parent))

import checks  # noqa: E402
import ops  # noqa: E402


def main() -> int:
    from shelf_spark.data import DEFAULT_SF_DIR as sf_dir

    out = {}
    for name in ops.ITERATIVE:
        out[name] = checks.freeze_oracle(str(ROOT), sf_dir, name)
        print(f"{name}: {out[name]['rows']} rows", file=sys.stderr)
    checks.ORACLE_FILE.write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
