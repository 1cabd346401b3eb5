"""Output checks, run after the JVM has exited, outside every timed region.

Export ops: the op's single Parquet file must hold the expected number of
rows, in (paramIndex, startTime) order, and the sum of the CRC-32 of its
payloads must equal the digest the harness computed from the table's
plaintext formula. Registry ops: the result must hash-equal its DuckDB
oracle, compared the way the engine's tools/compare.py does (columns sorted
by name, values and dtypes hashed, row order kept).
"""
import glob
import hashlib
import os
import zlib

import duckdb
import pyarrow.parquet as pq


def part_files(out):
    return sorted(glob.glob(os.path.join(out, "*.parquet")))


def check_export(op):
    """Sets op['ok'], op['rows'] and op['bytes']."""
    files = part_files(op["out"])
    op["bytes"] = sum(os.path.getsize(f) for f in files)
    if len(files) != 1:
        op.update(ok=False, rows=0, why=f"{len(files)} files, expected one")
        return
    t = pq.read_table(files[0])
    n = t.num_rows
    op["rows"] = n
    pids = t.column("paramIndex").to_pylist()
    starts = t.column("startTime").cast("int64").to_pylist()
    keys = list(zip(pids, starts))
    ordered = all(keys[i] <= keys[i + 1] for i in range(n - 1))
    digest = sum(zlib.crc32(s.encode()) for s in t.column("traceData").to_pylist())
    wrote_ok = op["wrote"] == (op["expect_rows"] > 0)
    op["ok"] = n == op["expect_rows"] and ordered and digest == op["expect_digest"] and wrote_ok
    if not op["ok"]:
        op["why"] = (f"rows {n}/{op['expect_rows']} ordered={ordered} "
                     f"digest {'=' if digest == op['expect_digest'] else 'DIFF'} wrote={op['wrote']}")


def canon(con, sql):
    df = con.sql(sql).fetchdf()
    df = df.reindex(sorted(df.columns), axis=1)
    body = df.to_csv(index=False, float_format="%.10g")
    return len(df), list(df.columns), [str(t) for t in df.dtypes], hashlib.sha256(body.encode()).hexdigest()


def oracle_connection(corpus_dir):
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus_dir}/{t}.parquet')")
    return con


def check_oracle(op, con):
    """Sets op['ok'], op['rows'] and op['bytes']."""
    files = part_files(op["out"])
    op["bytes"] = sum(os.path.getsize(f) for f in files)
    got = canon(con, f"SELECT * FROM read_parquet('{op['out']}/*.parquet')")
    want = canon(con, op["sql"])
    op["rows"] = got[0]
    op["ok"] = got == want
    if not op["ok"]:
        op["why"] = f"rows {got[0]}/{want[0]} cols {got[1] == want[1]} types {got[2] == want[2]} hash differs"


def check_all(ops, corpus_dir):
    con = None
    for op in ops:
        if op.get("error"):
            op["ok"] = False
            continue
        try:
            if op["kind"] == "export":
                check_export(op)
            else:
                con = con or oracle_connection(corpus_dir)
                check_oracle(op, con)
        except Exception as e:  # a check that cannot run fails its op
            op.update(ok=False, why=f"check raised {e!r}")
