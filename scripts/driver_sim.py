"""Driver-faithful full-registry sweep: run EVERY registered query the way
the grading driver does — oracle-backed queries compared dtype-strictly
against DuckDB (tests/oracle_harness.compare), rows-only queries executed
and canonicalized (the driver's hash crashes on array/struct cells; _canon
raises exactly where it would).

Usage:
    python scripts/driver_sim.py [sf_dir]     # default /root/testdata/sf0.01

Prints one line per failure and a final `SWEEP <dir>: N/M ok ... BAD=[...]`.
Run it green at sf0.01 AND sf0.1 before a change that touches query code
is handed on.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tests"))

from oracle_harness import _canon, compare, duck_connect  # noqa: E402

from time_series_spark_spark.queries import REGISTRY  # noqa: E402
from time_series_spark_spark.session import get_spark  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("driver_sim", master="local[16]", shuffle_partitions=16)
    con = duck_connect(sf_dir)
    bad, n_ok = [], 0
    t0 = time.time()
    for name, q in REGISTRY.items():
        try:
            if q.oracle is not None:
                if compare(spark, con, name, q.fn, q.oracle, sf_dir=sf_dir):
                    n_ok += 1
                else:
                    bad.append(name)
            else:
                pdf = q.fn(spark, sf_dir).toPandas()
                _canon(pdf)  # raises where the driver's hash would crash
                n_ok += 1
        except Exception as e:  # noqa: BLE001 — report and continue
            bad.append(name)
            print(f"[ERR] {name}: {type(e).__name__}: {e}", flush=True)
    print(
        f"SWEEP {sf_dir}: {n_ok}/{len(REGISTRY)} ok "
        f"in {time.time() - t0:.0f}s BAD={bad}",
        flush=True,
    )
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
