"""Result checks: every engine answer is compared with DuckDB over the
same generated files. Checks run outside the timed regions; each one
is one operation, and a mismatch or an exception is one failure."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

class Checker:
    """Counts checks and failures; keeps the first few failure reasons."""

    def __init__(self, tmp_dir: str, threads: int):
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []
        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory = '{tmp_dir}'")
        # checks run while Spark is idle, so they may use its cores: the
        # brute-force q_llm_ann_ivf oracle took 10 s on one thread
        self.con.execute(f"SET threads = {threads}")

    def close(self) -> None:
        self.con.close()

    def check(self, what: str, got, want_fn) -> bool:
        """One operation: ``got`` (a DataFrame, or a thunk producing one)
        must equal ``want_fn()``, order-insensitively."""
        self.attempted += 1
        try:
            g = got() if callable(got) else got
            ok = frames_equal(g, want_fn())
        except Exception as e:  # a crashing check is a failed operation
            ok = False
            what = f"{what}: {type(e).__name__}: {e}"
        if not ok:
            self.failed += 1
            if len(self.reasons) < 5:
                self.reasons.append(what)
        return ok

    def fail(self, what: str) -> None:
        """Count an operation that raised before it could be checked."""
        self.attempted += 1
        self.failed += 1
        if len(self.reasons) < 5:
            self.reasons.append(what)

    # -- truths --------------------------------------------------------------

    def _fold_sql(self, files: list[str]) -> str:
        lst = ", ".join(f"'{f}'" for f in files)
        return f"""
            SELECT key, seq_no AS last_seq, payload_value FROM (
                SELECT key, seq_no, op, payload_value,
                       row_number() OVER (PARTITION BY key ORDER BY seq_no DESC) AS rn
                FROM read_parquet([{lst}])
            ) WHERE rn = 1 AND op <> 'REMOVE'"""

    def fold(self, files: list[str]) -> pd.DataFrame:
        """Per-key max-seq fold of changelog files: the live rows."""
        return self.con.execute(self._fold_sql(files)).fetchdf()

    def changes(self, files_from: list[str], files_to: list[str]) -> pd.DataFrame:
        """Changefeed truth between the folds of two changelog prefixes:
        one row per key whose live row changed, classified INSERT /
        UPDATE / DELETE, with the post- and pre-image payloads."""
        return self.con.execute(
            f"""
            WITH a AS ({self._fold_sql(files_from)}),
                 b AS ({self._fold_sql(files_to)})
            SELECT coalesce(a.key, b.key) AS key,
                   CASE WHEN a.last_seq IS NULL THEN 'INSERT'
                        WHEN b.last_seq IS NULL THEN 'DELETE'
                        ELSE 'UPDATE' END AS change_type,
                   coalesce(b.last_seq, a.last_seq) AS last_seq,
                   b.payload_value AS payload_value,
                   a.payload_value AS payload_value_old
            FROM a FULL OUTER JOIN b ON a.key = b.key
            WHERE a.last_seq IS NULL OR b.last_seq IS NULL
               OR a.last_seq <> b.last_seq
            """
        ).fetchdf()

    def sql(self, text: str, views: dict[str, str]) -> pd.DataFrame:
        for name, path in views.items():
            self.con.execute(
                f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )
        return self.con.execute(text).fetchdf()


def frames_equal(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    """Same columns, same multiset of rows; floats within 1e-9."""
    if sorted(a.columns) != sorted(b.columns) or len(a) != len(b):
        return False
    cols = sorted(a.columns)
    a = a[cols].sort_values(cols).reset_index(drop=True)
    b = b[cols].sort_values(cols).reset_index(drop=True)
    for c in cols:
        x, y = a[c], b[c]
        if pd.api.types.is_float_dtype(x) or pd.api.types.is_float_dtype(y):
            if not np.allclose(x.fillna(-9e30).astype(float), y.fillna(-9e30).astype(float),
                               rtol=0, atol=1e-9):
                return False
        elif not ((x.astype(object) == y.astype(object)) | (x.isna() & y.isna())).all():
            return False
    return True
