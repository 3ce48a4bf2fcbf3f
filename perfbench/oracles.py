"""Compute registry queries' DuckDB oracle answers in a side process.

    python3 perfbench/oracles.py <input dir> <output dir> <query>...

Writes ``<output dir>/<query>.pkl``, the pickled pandas frame DuckDB
returns for each query's oracle SQL over the ``documents``,
``embeddings`` and ``events`` tables in ``<input dir>``. The curation
workload starts one such process per query while Spark starts, because
planning the vector queries' unrolled oracle SQL costs DuckDB seconds
(~4 s for product-quantization search, ~10-20 s for SemDeDup), and
waits for them before its second set-up.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main(src: str, out: str, names: list[str]) -> None:
    import duckdb

    from perfbench.workloads import registry

    con = duckdb.connect()
    con.execute("SET threads=1")
    for t in ("documents", "embeddings", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{src}/{t}.parquet')")
    reg = registry()
    for name in names:
        df = con.execute(reg[name].oracle).fetchdf()
        tmp = os.path.join(out, f"{name}.pkl.part")
        df.to_pickle(tmp)
        os.rename(tmp, os.path.join(out, f"{name}.pkl"))


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], sys.argv[3:])
