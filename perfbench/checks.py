"""Output checks, run outside the timed region.

Registered queries are compared with their DuckDB oracle over the same
seeded input files, using the comparison helpers of
``tools/check_correctness.py`` (imported, not copied): row count, column
names and the order-insensitive value hash, plus its type guards.
"""

from __future__ import annotations

import importlib.util
import os


def load_checker(root: str):
    """Import tools/check_correctness.py from the checkout."""
    path = os.path.join(root, "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("perfbench_check_correctness", path)
    if spec is None or not os.path.exists(path):
        raise FileNotFoundError(path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Oracle:
    """DuckDB views over one input directory plus the checker's comparison."""

    def __init__(self, checker, data_dir: str) -> None:
        import duckdb

        self.checker = checker
        self.con = duckdb.connect()
        for t in checker.TABLES:
            p = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(p):
                self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        self._hashes: dict[str, tuple] = {}

    def close(self) -> None:
        self.con.close()

    def _oracle(self, name: str, sql: str) -> tuple:
        """(row count, sorted columns, value hash, problems) of the oracle."""
        if name not in self._hashes:
            ck = self.checker
            try:
                rel = self.con.sql(sql)
                problems = ck.duckdb_type_problems(rel)
                dpdf = rel.df()
            except Exception as e:  # noqa: BLE001 -- reported as a failed check
                self._hashes[name] = (None, None, None, [f"duckdb error: {e}"])
                return self._hashes[name]
            try:
                dh = ck.frame_hash(dpdf)
            except TypeError as e:
                dh = None
                problems.append(f"oracle canonicalization crash: {e}")
            self._hashes[name] = (len(dpdf), sorted(dpdf.columns), dh, problems)
        return self._hashes[name]

    def compare(self, spark, name: str, sql: str, schema, rows: list) -> list[str]:
        """Problems found comparing the collected ``rows`` (with the Spark
        ``schema``) against the oracle; an empty list means they match."""
        ck = self.checker
        sdf = spark.createDataFrame(rows, schema)
        problems = list(ck.spark_type_problems(sdf))
        spdf = sdf.toPandas()
        n, cols, dh, oracle_problems = self._oracle(name, sql)
        problems += oracle_problems
        if problems:
            return problems
        if len(spdf) != n:
            problems.append(f"rowcount spark={len(spdf)} duckdb={n}")
        if sorted(spdf.columns) != cols:
            problems.append(f"columns spark={sorted(spdf.columns)} duckdb={cols}")
        if not problems:
            try:
                sh = ck.frame_hash(spdf)
            except TypeError as e:
                problems.append(f"canonicalization crash: {e}")
            else:
                if sh != dh:
                    problems.append(f"value-hash spark={sh} duckdb={dh}")
        return problems
