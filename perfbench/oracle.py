"""Result checks for the query workload.

`normalize` is the comparison the repository's oracle sweep uses: sort
the columns by name, print floats to six decimals, stringify every
value and sort the rows, so the check ignores row and column order.
"""

from __future__ import annotations

import duckdb

SOURCE_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def normalize(rows, columns) -> list[str]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = f"{v:.6f}"
            vals.append(str(v))
        out.append("\x00".join(vals))
    out.sort()
    return out


class DuckOracle:
    """DuckDB over the generated source files, one view per table."""

    def __init__(self, src_dir: str):
        self.con = duckdb.connect()
        for t in SOURCE_TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src_dir}/{t}.parquet')"
            )

    def check(self, sql: str, columns: list[str], normalized: list[str]) -> str | None:
        """None when the oracle agrees, else what differs."""
        cur = self.con.execute(sql)
        ocols = [d[0] for d in cur.description]
        orows = normalize(cur.fetchall(), ocols)
        if sorted(columns) != sorted(ocols):
            return f"columns {sorted(columns)} != oracle {sorted(ocols)}"
        if len(orows) != len(normalized):
            return f"{len(normalized)} rows != oracle {len(orows)}"
        if orows != normalized:
            diff = [(a, b) for a, b in zip(normalized, orows) if a != b][:2]
            return f"values differ, first: {diff}"
        return None

    def close(self) -> None:
        self.con.close()
