"""DuckDB replay of a `table_cycle` run: the same operation list, applied
by key to the same inputs, checks every read's fingerprint and the final
table heads.

`idx` is modelled as the set of lineitem buckets each version holds
(appends add one, a compaction keeps the set); `mor` is a DuckDB table the
DELETE/UPDATE/MERGE operations mutate; `side` is the per-customer
aggregate of the orders chunks its epochs consumed. Operations the runner
reports as failed are not applied: a failed graft commit leaves the table
unchanged.
"""
import duckdb

BASE = list(range(16))
LI = ("SELECT l_orderkey * 8 + l_linenumber AS lid, l_orderkey, l_partkey, "
      "l_quantity, CAST(l_extendedprice AS DECIMAL(12,2)) AS price, "
      "l_shipdate, l_returnflag, l_orderkey % 64 AS bucket "
      "FROM read_parquet('{}/lineitem.parquet')")
COLS = "lid, l_orderkey, l_partkey, l_quantity, price, l_shipdate, l_returnflag"
FP = ("SELECT count(*), sum(lid), sum(l_partkey), "
      "sum(CAST(l_quantity AS BIGINT)), sum(CAST(price * 100 AS BIGINT)), "
      "sum(epoch_us(l_shipdate) // 1000000), "
      "sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) FROM ({}) q")
SIDE_FP = ("SELECT count(*), sum(o_custkey), sum(CAST(total * 100 AS BIGINT)), "
           "sum(n) FROM (SELECT o_custkey, sum(CAST(o_totalprice AS "
           "DECIMAL(12,2))) AS total, count(*) AS n FROM "
           "read_parquet('{}/orders.parquet') WHERE o_orderkey % 64 IN ({}) "
           "GROUP BY o_custkey) q")


def _in(buckets):
    return ", ".join(str(b) for b in buckets)


class Model:
    def __init__(self, data):
        self.con = duckdb.connect()
        self.data = data
        self.con.execute(f"CREATE VIEW li AS {LI.format(data)}")
        self.con.execute(f"CREATE TABLE mor AS SELECT {COLS} FROM li "
                         f"WHERE bucket < 16")
        self.idx = {0: list(BASE)}
        self.head = 0
        self.side = list(BASE)

    def one(self, sql):
        return self.con.execute(sql).fetchone()

    def fp(self, sql):
        return "|".join("0" if v is None else str(v)
                        for v in self.one(FP.format(sql)))

    def idx_rows(self, version):
        return f"SELECT * FROM li WHERE bucket IN ({_in(self.idx[version])})"

    def count(self, where):
        return self.one(f"SELECT count(*) FROM mor WHERE {where}")[0]

    def apply(self, r):
        """Apply one operation; return (rows it changed, expected
        fingerprint or None)."""
        door = r["door"]
        if door == "append":
            self.idx[r["version"]] = self.idx[self.head] + [r["bucket"]]
            self.head = r["version"]
            return self.one(f"SELECT count(*) FROM li WHERE bucket = "
                            f"{r['bucket']}")[0], None
        if door == "maintain":
            if r["version"] != self.head:
                self.idx[r["version"]] = self.idx[self.head]
                self.head = r["version"]
            return 0, None
        if door in ("vacuum", "checkpoint"):
            return 0, None
        if door == "epoch_upsert":
            self.side.append(r["bucket"])
            return self.one(
                f"SELECT count(DISTINCT o_custkey) FROM read_parquet("
                f"'{self.data}/orders.parquet') WHERE o_orderkey % 64 = "
                f"{r['bucket']}")[0], None
        if door in ("read_stats", "read_bloom", "read_asof"):
            rows = self.idx_rows(r["version"])
            if door == "read_stats":
                rows += (f" AND epoch_us(l_shipdate) BETWEEN {r['lo_us']} "
                         f"AND {r['hi_us']}")
            if door == "read_bloom":
                rows += f" AND l_orderkey = {r['key']}"
            return 0, self.fp(rows)
        if door == "read_head":
            return 0, self.fp("SELECT * FROM mor")
        m = f"lid % 997 = {r['rem']}"
        if door in ("delete_pos", "delete_sql"):
            n = self.count(m)
            self.con.execute(f"DELETE FROM mor WHERE {m}")
            return n, None
        if door in ("update_pos", "update_sql"):
            n = self.count(m)
            sets = ("l_quantity = l_quantity + 1, price = price + 1"
                    if door == "update_pos" else "l_quantity = l_quantity + 2")
            self.con.execute(f"UPDATE mor SET {sets} WHERE {m}")
            return n, None
        if door == "merge_sql":
            b = r["bucket"]
            self.con.execute(
                f"CREATE OR REPLACE TEMP TABLE src AS SELECT *, CASE WHEN "
                f"bucket = {b} THEN 'I' WHEN lid % 2 = 0 THEN 'D' ELSE 'U' "
                f"END AS op FROM li WHERE {m} AND (bucket < 16 OR bucket = {b})")
            self.con.execute("CREATE OR REPLACE TEMP TABLE hit AS SELECT "
                             "s.lid, s.op FROM src s JOIN mor t USING (lid)")
            n = self.one("SELECT count(*) FROM hit")[0]
            ins = self.one("SELECT count(*) FROM src WHERE op = 'I' AND lid "
                           "NOT IN (SELECT lid FROM hit)")[0]
            self.con.execute(f"INSERT INTO mor SELECT {COLS} FROM src WHERE "
                             "op = 'I' AND lid NOT IN (SELECT lid FROM hit)")
            self.con.execute("DELETE FROM mor WHERE lid IN (SELECT lid FROM "
                             "hit WHERE op = 'D')")
            self.con.execute("UPDATE mor SET price = price + 5 WHERE lid IN "
                             "(SELECT lid FROM hit WHERE op <> 'D')")
            return n + ins, None
        raise ValueError(f"unknown door {door}")


def check(data, recs):
    """Return {"failed": op ids whose result differs (plus "final:<table>"
    for a wrong head), "rows_changed": {door: rows}}."""
    model = Model(str(data))
    failed = set()
    changed = {}
    for r in recs:
        if r["type"] not in ("warmup", "op"):
            continue
        ok = r.get("ok", "error" not in r)
        if not ok:
            continue
        rows, fp = model.apply(r)
        if r["type"] == "op":
            changed[r["door"]] = changed.get(r["door"], 0) + rows
            if fp is not None and fp != r["fingerprint"]:
                failed.add(r["id"])
    final = next(x for x in recs if x["type"] == "final")
    expect = {
        "idx": model.fp(model.idx_rows(model.head)),
        "mor": model.fp("SELECT * FROM mor"),
        "side": "|".join("0" if v is None else str(v) for v in model.one(
            SIDE_FP.format(data, _in(model.side)))),
    }
    failed |= {f"final:{t}" for t, v in expect.items()
               if final["heads"][t] != v}
    return {"failed": failed, "rows_changed": changed}
