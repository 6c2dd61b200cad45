"""Generate QUERIES.md — the browsable catalog of every registered query
(name, check mode, one-line doc), grouped by implementing module.
Regenerate after adding queries:  python scripts/gen_catalog.py
"""

from __future__ import annotations

import sys
from collections import defaultdict
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from time_series_spark_spark.queries import REGISTRY  # noqa: E402


def main() -> None:
    by_module: dict[str, list] = defaultdict(list)
    for name, q in REGISTRY.items():
        mod = q.fn.__module__.rsplit(".", 1)[-1]
        by_module[mod].append((name, q))
    n_oracle = sum(1 for q in REGISTRY.values() if q.oracle)
    lines = [
        "# QUERIES — the registered query catalog",
        "",
        f"{len(REGISTRY)} queries; {n_oracle} DuckDB-oracle-checked "
        f"(value-hash), {len(REGISTRY) - n_oracle} rows-only (non-SQL-"
        "expressible; each names its pytest evidence in the doc). "
        "Generated by `scripts/gen_catalog.py` — do not edit by hand. "
        "NOTE: listing order here is alphabetical per module; the "
        "REGISTRY's own order is registration order.",
        "",
    ]
    for mod in sorted(by_module):
        lines.append(f"## {mod}")
        lines.append("")
        lines.append("| query | check | what it does |")
        lines.append("|---|---|---|")
        for name, q in sorted(by_module[mod]):
            mode = "oracle" if q.oracle else "rows-only"
            doc = " ".join((q.doc or "").split())
            lines.append(f"| `{name}` | {mode} | {doc} |")
        lines.append("")
    Path(__file__).resolve().parent.parent.joinpath("QUERIES.md").write_text(
        "\n".join(lines)
    )
    print(f"QUERIES.md: {len(REGISTRY)} queries across {len(by_module)} modules")


if __name__ == "__main__":
    main()
