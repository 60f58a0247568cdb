"""DuckDB oracle over the fold of a CDC stream.

``Oracle`` holds the table the stream should have produced (the base rows
with every folded row laid over them) as DuckDB table ``transactions``.
It checks the engine's final table against it and runs the analyst
statements the ``cdc_mor_live_sql`` workload sends to the engine: the
reference README's smoke query, Risk Analysis (README 169-185), Hourly
Pattern (README 189-205) and a point lookup by key. ``CURRENT_DATE``
becomes the stream's last event date, so results do not depend on the
wall clock.
"""

from __future__ import annotations

from decimal import Decimal

import duckdb

from cdcgen import COLUMNS, rows_table

TABLE = "analytics.transactions"

TEMPLATES = {
    "smoke": "SELECT * FROM {table} LIMIT 100",
    "risk": """
SELECT region, merchant_category, date,
       COUNT(*) AS total_transactions,
       SUM(CAST(amount AS DECIMAL(12,2))) AS total_amount,
       COUNT(CASE WHEN risk_score = 'HIGH' THEN 1 END) AS high_risk_count,
       COUNT(CASE WHEN velocity_check = 'FLAG' THEN 1 END) AS velocity_flags,
       COUNT(CASE WHEN status = 'FLAGGED' THEN 1 END) AS flagged_transactions
FROM {table}
WHERE date >= DATE '{anchor}' - INTERVAL '7' DAY
GROUP BY region, merchant_category, date
HAVING COUNT(CASE WHEN risk_score = 'HIGH' THEN 1 END) > 0
ORDER BY high_risk_count DESC""",
    "hourly": """
SELECT date, hour, merchant_category, payment_method,
       COUNT(*) AS total_transactions,
       SUM(CAST(amount AS DECIMAL(12,2))) AS total_amount,
       COUNT(DISTINCT customer_id) AS unique_customers,
       COUNT(CASE WHEN status = 'DECLINED' THEN 1 END) AS declined_count,
       COUNT(CASE WHEN amount_threshold = 'HIGH' THEN 1 END) AS high_amount_count
FROM {table}
WHERE date = DATE '{anchor}'
GROUP BY date, hour, merchant_category, payment_method
ORDER BY hour, total_amount DESC""",
    "lookup": "SELECT * FROM {table} WHERE transaction_id = '{key}'",
}

# order-independent checksum: the sum of per-row hashes over all columns
_CHECKSUM = ("SELECT count(*), count(DISTINCT transaction_id), "
             f"sum(hash({', '.join(COLUMNS)})::HUGEINT) FROM {{}}")


def render(name: str, anchor, key: str, table: str = TABLE) -> str:
    return TEMPLATES[name].format(table=table, anchor=anchor.isoformat(), key=key)


def canon_rows(rows) -> list[tuple]:
    """Rows as sorted tuples of text; decimals at two places."""
    def canon(v) -> str:
        if isinstance(v, Decimal):
            return format(v.quantize(Decimal("0.01")), "f")
        return "" if v is None else str(v)

    return sorted(tuple(canon(v) for v in r) for r in rows)


class Oracle:
    def __init__(self, base, folded: dict):
        self.con = duckdb.connect()
        self.con.register("base", base)
        self.con.register("folded", rows_table(folded, base.schema))
        self.con.execute(
            "CREATE TABLE transactions AS SELECT * FROM base WHERE transaction_id"
            " NOT IN (SELECT transaction_id FROM folded)"
            " UNION ALL SELECT * FROM folded")

    def table_stats(self, table=None) -> tuple[int, int, int]:
        """(rows, distinct keys, checksum) of the fold, or of an Arrow
        table with the same columns."""
        if table is None:
            return self.con.execute(_CHECKSUM.format("transactions")).fetchone()
        self.con.register("got", table.select(list(COLUMNS)))
        return self.con.execute(_CHECKSUM.format("got")).fetchone()

    def check(self, name: str, got_rows, anchor, key) -> str | None:
        """None when ``got_rows`` matches the fold, else a short reason."""
        got = canon_rows(got_rows)
        if name == "smoke":
            if len(got) != 100:
                return f"smoke returned {len(got)} rows, expected 100"
            keys = ", ".join(f"'{r[0]}'" for r in got)
            want = canon_rows(self.con.execute(
                f"SELECT * FROM transactions WHERE transaction_id IN ({keys})"
            ).fetchall())
        else:
            want = canon_rows(self.con.execute(
                render(name, anchor, key, "transactions")).fetchall())
        if got != want:
            return f"{name}: {len(got)} rows differ from the fold's {len(want)}"
        return None
