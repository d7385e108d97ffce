"""Reference results for every checked operation.

- Query keys: the key's DuckDB oracle (`SparkEntry.oracleSql`) run over
  the workload's own input (it holds there for every `olap` key).
- `storage_rw`: the same seeded commits replayed on a DuckDB table; each
  read is checked against the replayed state at the version it read.
"""
import os

import duckdb

from canonical import digest

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _connect(data_dir):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def _digest_of(con, sql):
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    return digest(names, cur.fetchall())


def oracle_digests(data_dir, keys, oracle_sql):
    """key -> digest of its DuckDB oracle's result (None: no oracle)."""
    con = _connect(data_dir)
    return {k: _digest_of(con, oracle_sql[k]) if k in oracle_sql else None
            for k in keys}


ORDER_COLS = ("o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
              "o_orderdate, o_orderpriority")


class StorageReplay:
    """Replays one pass's commits on a DuckDB table. Reads are answered
    from the state recorded at each committed version."""

    def __init__(self, data_dir):
        self.con = _connect(data_dir)
        self.con.execute(f"CREATE TABLE t AS SELECT {ORDER_COLS} FROM orders LIMIT 0")
        self.con.execute("CREATE TABLE cdf (ct VARCHAR, v BIGINT, k BIGINT, p DOUBLE)")
        self.versions = []          # committed version numbers, in order
        self.states = {}            # version -> table digest
        self.ipc = {}               # codec -> digest of the snapshot written

    def _src(self, lo, n):
        return f"SELECT {ORDER_COLS} FROM orders WHERE o_orderkey >= {lo} AND o_orderkey < {lo + n}"

    def _cdf(self, tag, v, select):
        self.con.execute(f"INSERT INTO cdf SELECT '{tag}', {v}, o_orderkey, o_totalprice FROM ({select})")

    def commit(self, op, version):
        kind, *a = op.split(":")
        c = self.con
        if kind in ("create", "append"):
            lo, n = int(a[0]), int(a[1])
            c.execute(f"INSERT INTO t BY NAME {self._src(lo, n)}")
            self._cdf("insert", version, self._src(lo, n))
        elif kind == "merge":
            lo, n = int(a[0]), int(a[1])
            src = (f"SELECT * REPLACE (o_totalprice + 1.0 AS o_totalprice, "
                   f"'M' AS o_orderstatus) FROM ({self._src(lo, n)})")
            c.execute(f"CREATE OR REPLACE TEMP TABLE s AS {src}")
            self._cdf("update_preimage", version, "SELECT * FROM t WHERE o_orderkey IN (SELECT o_orderkey FROM s)")
            self._cdf("update_postimage", version, "SELECT * FROM s WHERE o_orderkey IN (SELECT o_orderkey FROM t)")
            self._cdf("insert", version, "SELECT * FROM s WHERE o_orderkey NOT IN (SELECT o_orderkey FROM t)")
            c.execute("DELETE FROM t WHERE o_orderkey IN (SELECT o_orderkey FROM s)")
            c.execute("INSERT INTO t BY NAME SELECT * FROM s")
        elif kind == "update":
            where = f"o_orderkey BETWEEN {a[0]} AND {a[1]}"
            self._cdf("update_preimage", version, f"SELECT * FROM t WHERE {where}")
            self._cdf("update_postimage", version,
                      f"SELECT o_orderkey, o_totalprice + 1.0 AS o_totalprice FROM t WHERE {where}")
            c.execute(f"UPDATE t SET o_totalprice = o_totalprice + 1.0 WHERE {where}")
        elif kind in ("dv", "delrange"):
            where = f"o_orderkey BETWEEN {a[0]} AND {a[1]}"
            self._cdf("delete", version, f"SELECT * FROM t WHERE {where}")
            c.execute(f"DELETE FROM t WHERE {where}")
        elif kind == "addcol":
            c.execute("ALTER TABLE t ADD COLUMN o_note VARCHAR")
        elif kind == "ipcw":
            self.ipc[a[0]] = self.states[self.versions[-1]]
            return
        else:
            raise ValueError(f"not a commit: {op}")
        self.versions.append(version)
        self.states[version] = _digest_of(c, "SELECT * FROM t")

    def expected(self, op, version):
        """Digest the read `op` at `version` should return."""
        kind, *a = op.split(":")
        if kind in ("snap", "tt"):
            return self.states.get(version)
        if kind == "changes":
            return _digest_of(self.con, f"""
                SELECT ct AS _change_type, CAST(v AS INTEGER) AS _commit_version,
                       k AS o_orderkey, p AS o_totalprice
                FROM cdf WHERE v > {version}""")
        if kind == "history":
            return _digest_of(self.con, "SELECT CAST(v AS INTEGER) AS version FROM ("
                              + " UNION ALL ".join(f"SELECT {v} AS v" for v in self.versions) + ")")
        if kind in ("ipcr", "ipcd"):
            return self.ipc.get(a[0])
        raise ValueError(f"not a read: {op}")
