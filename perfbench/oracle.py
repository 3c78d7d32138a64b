"""Untimed correctness checks.

Both workloads are checked against a DuckDB latest-wins fold of the
generated inputs. Values compare repr-exact after normalisation, the
standard the registry's own oracle gate uses. DuckDB is imported only
where a check runs, so the measured process does not load it before its
peak RSS is taken.
"""

from __future__ import annotations

import datetime
import decimal

import pyarrow as pa


def norm(v):
    if v is None:
        return "None"
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        # Arrow hands Spark timestamps over tz-aware; DuckDB's are naive UTC
        v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple((k, norm(x)) for k, x in sorted(v.items()))
    if hasattr(v, "asDict"):  # a nested pyspark Row
        return norm(v.asDict())
    return repr(v)


def diff_rows(actual: list[tuple], expected: list[tuple]) -> str | None:
    """None when both multisets of rows match, else a short description."""
    a = sorted(tuple(norm(x) for x in r) for r in actual)
    e = sorted(tuple(norm(x) for x in r) for r in expected)
    if a == e:
        return None
    extra = [r for r in a if r not in set(e)][:2]
    missing = [r for r in e if r not in set(a)][:2]
    return f"{len(a)} rows vs {len(e)} expected; extra {extra}; missing {missing}"


# -- ingest_cow ------------------------------------------------------------

INGEST_COLUMNS = ["rk", "doc_id", "ts", "status", "customer_id", "customer_name",
                  "region", "sku", "qty", "price", "line_total", "tags"]


def ingest_expected(files: list[str]) -> list[tuple]:
    """Latest-wins fold (max ``ts`` per record key) of every imported
    document, exploded and transformed as the import's SQL does."""
    import duckdb

    con = duckdb.connect()
    try:
        return con.execute(
            """
            WITH docs AS (
              SELECT *, unnest(items) AS it FROM read_json(?, format='newline_delimited',
                columns={'doc_id': 'BIGINT', 'ts': 'BIGINT', 'status': 'VARCHAR',
                         'customer': 'STRUCT(id BIGINT, name VARCHAR, region VARCHAR)',
                         'items': 'STRUCT(sku VARCHAR, qty INTEGER, price DOUBLE)[]',
                         'tags': 'VARCHAR[]'}))
            SELECT CAST(doc_id AS VARCHAR) || ':' || it.sku AS rk, doc_id, ts, status,
                   customer.id, customer.name, customer.region, it.sku, it.qty,
                   it.price, it.qty * it.price, tags
            FROM docs
            QUALIFY row_number() OVER (PARTITION BY rk ORDER BY ts DESC) = 1
            """,
            [files],
        ).fetchall()
    finally:
        con.close()


# -- cdc_mor ---------------------------------------------------------------

def cdc_expected(batches: list[list[dict]],
                 compactions: dict[str, list[int]] | None = None) -> list[tuple]:
    """Latest-wins fold of the delivered change events (``batches[b]`` is
    micro-batch ``b``, the genesis load first), as the streamer documents
    it: inside one micro-batch the winner per key is the max of (ts, binlog
    file index, binlog offset); across micro-batches the max of (ts, commit
    order); a winning delete removes the key.

    ``compactions[table]`` lists the batch counts after which that table
    was compacted. Compaction folds the log into the base and drops it, so
    the table forgets its deleted keys there: a later event for such a key,
    even an older one delivered late, inserts it again. A live row keeps
    its ts and still competes with later events."""
    import duckdb

    rows = [{"tbl": e["table"], "op": e["op"], "batch": b, "id": e["id"],
             "data": e["data"], "ts": e["ts"], "binlog_file": e["binlog_file"],
             "binlog_offset": e["binlog_offset"]}
            for b, events in enumerate(batches) for e in events]
    compactions = compactions or {}
    cuts = sorted({c for cs in compactions.values() for c in cs if 0 < c < len(batches)})
    con = duckdb.connect()
    try:
        con.register("ev", pa.Table.from_pylist(rows))
        # the winner of each key in each micro-batch
        con.execute(
            """
            CREATE TABLE w AS
            SELECT tbl, op, batch, id, data, CAST(ts AS TIMESTAMP) AS t,
                   binlog_file, binlog_offset
            FROM ev
            QUALIFY row_number() OVER (
              PARTITION BY tbl, id, batch
              ORDER BY t DESC,
                       TRY_CAST(split_part(binlog_file, '.', -1) AS BIGINT) DESC NULLS LAST,
                       binlog_offset DESC NULLS LAST) = 1
            """
        )
        # fold the batches between compactions, carrying each key's winner
        con.execute("CREATE TABLE s AS SELECT * FROM w LIMIT 0")
        for lo, hi in zip([0] + cuts, cuts + [len(batches)]):
            con.execute(
                """
                CREATE OR REPLACE TABLE s AS
                SELECT * FROM (SELECT * FROM s UNION ALL
                               SELECT * FROM w WHERE batch >= ? AND batch < ?)
                QUALIFY row_number() OVER (PARTITION BY tbl, id ORDER BY t DESC, batch DESC) = 1
                """,
                [lo, hi],
            )
            gone = [t for t, cs in compactions.items() if hi in cs]
            if gone:
                con.execute("DELETE FROM s WHERE op = 'delete' AND list_contains(?, tbl)",
                            [gone])
        return con.execute(
            "SELECT tbl, id, data, epoch_us(t), binlog_file, binlog_offset FROM s "
            "WHERE op <> 'delete'"
        ).fetchall()
    finally:
        con.close()
