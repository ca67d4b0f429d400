"""Correctness check of every timed operation against the DuckDB oracle.

Expected results come from DuckDB running the registry's oracle SQL
(`graft.SparkEntry.oracleSql`, exported by the JVM run) on the exact inputs
of the run; they never come from the program's own output. The comparison
follows `tools/oracle_check.py`: columns sorted by name, rows sorted by all
columns, dtypes equal, values equal.
"""
import glob
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

# The dx_pipeline oracle stamps batch 1; each dx batch carries its own id.
DX_BATCH_LITERAL = "CAST(1 AS BIGINT) AS batch_id"


def canon(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), ignore_index=True)


def mismatch(got, want):
    """None when the frames are equal, else a one-line reason."""
    g, w = canon(got), canon(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} vs {list(w.columns)}"
    if len(g) != len(w):
        return f"rows {len(g)} vs {len(w)}"
    drift = [(c, str(g[c].dtype), str(w[c].dtype)) for c in g.columns
             if g[c].dtype != w[c].dtype]
    if drift:
        return f"dtype drift {drift}"
    for c in g.columns:
        a, b = g[c], w[c]
        try:
            eq = (a.isna() & b.isna()) | (a == b)
        except Exception:
            eq = a.astype(str) == b.astype(str)
        if not eq.all():
            i = int((~eq).idxmax())
            return f"column {c}: {a[i]!r} vs {b[i]!r} ({int((~eq).sum())} rows)"
    return None


def corrupt(df):
    """A deliberately wrong expected result (the checker's own test)."""
    return df.iloc[1:] if len(df) else pd.concat([df, df.head(1)])


class Oracle:
    def __init__(self, threads, wrong=False):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {int(threads)}")
        self.wrong = wrong

    def _want(self, sql):
        df = self.con.execute(sql).df()
        return corrupt(df) if self.wrong else df

    def _read(self, path, where=""):
        files = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not files:
            return None
        sql = f"SELECT * FROM read_parquet({files!r}) {where}"
        return self.con.execute(sql).df()

    def dx_batch(self, sql, input_dir, batch_id, got):
        """Expected output of one DX batch, compared with `got`."""
        if DX_BATCH_LITERAL not in sql:
            return "dx_pipeline oracle no longer stamps a literal batch id"
        self.con.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM "
                         f"read_parquet('{input_dir}/*.parquet')")
        want = self._want(sql.replace(
            DX_BATCH_LITERAL, f"CAST({int(batch_id)} AS BIGINT) AS batch_id"))
        if got is None:
            return "no output"
        return mismatch(got, want)

    def dx_output(self, path, batch_id=None):
        where = "" if batch_id is None else f"WHERE batchid = {int(batch_id)}"
        return self._read(path, where)

    def registry(self, tables_dir, oracle_sql, outputs):
        """{query: reason or None} for each (query, output dir) in outputs."""
        for t in TABLES:
            p = os.path.join(tables_dir, f"{t}.parquet")
            self.con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{p}'")
        wants, verdicts = {}, {}
        for key, (name, path) in outputs.items():
            got = self._read(path)
            if got is None:
                verdicts[key] = "no output"
                continue
            if name not in wants:
                try:
                    wants[name] = self._want(oracle_sql[name])
                except Exception as e:  # an oracle that cannot run fails the check
                    wants[name] = e
            want = wants[name]
            verdicts[key] = (f"oracle error {want}" if isinstance(want, Exception)
                             else mismatch(got, want))
        return verdicts
