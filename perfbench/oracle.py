"""DuckDB reference answers for the benchmark's statements.

Every answer is the result of the statement's DuckDB-dialect SQL run by the
installed duckdb over the same files the engine reads, stored as an Arrow
IPC file ``<answers>/<id>.arrow``. The harness decodes it with the same code
that decodes the engine's result and compares the two.
"""
import os
import re
import threading

import duckdb
import pyarrow as pa
import pyarrow.ipc

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


MATERIALIZE = re.compile(r"(^|,\s*|WITH\s+)(\w+) AS \(", re.MULTILINE)


def _run(con, sql, timeout_s):
    """The answer as an Arrow table, or None when it takes over timeout_s."""
    timer = threading.Timer(timeout_s, con.interrupt) if timeout_s else None
    if timer:
        timer.start()
    try:
        return con.sql(sql).arrow()
    except duckdb.InterruptException:
        return None
    finally:
        if timer:
            timer.cancel()


def _current(out_dir, ident, sql):
    try:
        with open(f"{out_dir}/{ident}.sql") as f:
            return f.read() == sql and os.path.exists(f"{out_dir}/{ident}.arrow")
    except FileNotFoundError:
        return False


def write_answers(items, out_dir, base_dir, search_dirs, arrow_streams=(),
                  timeout_s=None):
    """Write ``<out_dir>/<id>.arrow`` for each ``(id, sql)`` whose answer is
    missing or was computed from other SQL (kept beside it as ``<id>.sql``).

    The catalog tables are views named like the engine's, ``search_dirs``
    resolve bare file names, and each ``(name, path)`` in ``arrow_streams``
    is an Arrow IPC stream file queryable under ``name``. A statement that
    DuckDB cannot answer within ``timeout_s`` is retried with its CTEs
    materialized (DuckDB inlines them, and the label-propagation operators
    nest them four deep); one that still times out gets no answer file, and
    the harness reports its result as wrong. Returns the ids left unanswered.
    """
    todo = [(i, q) for i, q in items if not _current(out_dir, i, q)]
    if not todo:
        return []
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{base_dir}/{t}.parquet'")
    con.execute(f"SET file_search_path = '{','.join(search_dirs)}'")
    for name, path in arrow_streams:
        with pa.OSFile(path, "rb") as f:
            con.register(name, pa.ipc.open_stream(f).read_all())
    missing = []
    for ident, sql in todo:
        table = _run(con, sql, timeout_s)
        if table is None:
            table = _run(con, MATERIALIZE.sub(r"\1\2 AS MATERIALIZED (", sql), timeout_s)
        if table is None:
            missing.append(ident)
            continue
        path = f"{out_dir}/{ident}.arrow"
        with pa.OSFile(path + ".tmp", "wb") as sink:
            with pa.ipc.new_file(sink, table.schema) as w:
                w.write_table(table)
        os.replace(path + ".tmp", path)
        with open(f"{out_dir}/{ident}.sql", "w") as f:
            f.write(sql)
    con.close()
    return missing
