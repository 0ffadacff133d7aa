"""Result check: every timed execution is compared with its DuckDB oracle on
the same data dir — row count, column set and types, and the
order-insensitive value hash of ``tools/verify_oracle.py`` (imported from
there, not copied)."""

from __future__ import annotations

import importlib.util
import os


def load_verify_oracle(root: str):
    path = os.path.join(root, "tools", "verify_oracle.py")
    spec = importlib.util.spec_from_file_location("verify_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _rows(table) -> list[tuple]:
    return list(zip(*(c.to_pylist() for c in table.columns))) if table.num_columns else []


class Oracle:
    """Expected results for a pool, computed once before any timing."""

    def __init__(self, root: str, sf_dir: str, specs: dict):
        import duckdb

        vo = self._vo = load_verify_oracle(root)
        con = duckdb.connect()
        try:
            for t in vo.TESTDATA_TABLES:
                p = os.path.join(sf_dir, f"{t}.parquet")
                if os.path.exists(p):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            self.expected = {}
            for name, spec in specs.items():
                tbl = con.execute(spec.oracle).fetch_arrow_table()
                cols = tbl.schema.names
                self.expected[name] = (sorted(cols), vo.table_hash(cols, _rows(tbl)), tbl.schema)
        finally:
            con.close()

    def check(self, name: str, schema, table) -> str | None:
        """None when the Arrow result ``table`` (Spark ``schema``) matches
        the oracle, else the reason it does not."""
        cols, (n, h), oschema = self.expected[name]
        names = [f.name for f in schema.fields]
        if sorted(names) != cols:
            return f"columns differ: spark={sorted(names)} oracle={cols}"
        mismatch = self._vo.type_mismatches(schema, oschema)
        if mismatch:
            return f"column type mismatch: {mismatch}"
        sn, sh = self._vo.table_hash(names, _rows(table) if table is not None else [])
        if sn != n:
            return f"rowcount spark={sn} oracle={n}"
        if sh != h:
            return f"value hash mismatch ({sn} rows)"
        return None
