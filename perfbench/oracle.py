"""Output checks.

Every op result is hash-compared with DuckDB through the canonical form
of `tools/validate.py` (sorted column names, canonical cells, sorted
rows, sha256) where the op has an oracle, or compared with a plain
pandas model of the table (`table_churn`).
"""
import hashlib
import importlib.util
import os

import duckdb
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location(
    "validate", os.path.join(ROOT, "tools", "validate.py"))
validate = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(validate)

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# pig_scripts op name -> the SparkEntry story (and oracle) it reuses
PIG_STORIES = {
    "l01": "q202_pigmix_l01", "l02": "q203_pigmix_l02", "l03": "q204_pigmix_l03",
    "l04": "q205_pigmix_l04", "l05": "q206_pigmix_l05", "l06": "q207_pigmix_l06",
    "l07": "q208_pigmix_l07", "l08": "q209_pigmix_l08", "l09": "q210_pigmix_l09",
    "l10": "q211_pigmix_l10", "l11": "q212_pigmix_l11", "l12": "q213_pigmix_l12",
    "l12multi": "q230_pigmix_l12_multistore", "l13": "q214_pigmix_l13",
    "l14": "q215_pigmix_l14", "l15": "q216_pigmix_l15", "l16": "q217_pigmix_l16",
    "l17": "q218_pigmix_l17", "l02macro": "q238_pigmix_l02macro",
    "l16cmp": "q239_pigmix_l16cmp", "l01flat": "q240_pigmix_l01flat"}

CURATION_STORIES = ["q35_dedup_minhash", "q146_verbatim_spans", "q148_span_removal",
                    "q107_bigram_ppl", "q100_tfidf", "q152_hot_ngrams",
                    "q196_bpe_model_serve"]


def fed_sql(p):
    """DuckDB SQL of the federated workload's FedPlans (controls share it)."""
    dsum = "CAST(sum(CAST({} AS DECIMAL(18,2))) AS DOUBLE)"
    return {
        "q105": f"""SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_orders,
                      {dsum.format('o_totalprice')} AS sum_price
                    FROM orders JOIN customer ON o_custkey = c_custkey
                    WHERE o_totalprice > {p['min_price']} GROUP BY c_nationkey""",
        "q130": f"""SELECT n_name, CAST(count(*) AS BIGINT) AS n_orders,
                      {dsum.format('o_totalprice')} AS sum_price
                    FROM orders JOIN customer ON o_custkey = c_custkey
                      JOIN nation ON c_nationkey = n_nationkey
                    WHERE o_orderstatus = '{p['status']}' GROUP BY n_name""",
        "bigcut": f"""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_lines,
                        {dsum.format('l_quantity')} AS sum_qty,
                        {dsum.format('l_extendedprice')} AS sum_price
                      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                      WHERE year(l_shipdate) <> {p['skip_year']}
                      GROUP BY o_orderpriority"""}


def connect(data_dir):
    """DuckDB with a view per fixture table present in `data_dir`."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        f = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(f):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{f}'")
    return con


def canon_hash(rel):
    """(sorted columns, rows, sha256) of a relation, canonicalised as
    tools/validate.py does."""
    cols, rows = validate.fetch(rel)
    return sorted(cols), len(rows), validate.row_hash(validate.canon_rows(cols, rows))


def compare(got, want):
    if got[0] != want[0]:
        return f"columns {got[0]} != oracle {want[0]}"
    if got[1] != want[1]:
        return f"{got[1]} rows != oracle {want[1]}"
    if got[2] != want[2]:
        return "row hash differs from the oracle"
    return None


class HashOracle:
    """Oracle hashes for the ops of one run, computed once at setup."""

    def __init__(self, data_dir, sql_by_op):
        self.con = connect(data_dir)
        self.expected = {op: canon_hash(self.con.sql(sql)) for op, sql in sql_by_op.items()}
        self._seen = {}

    def output_hash(self, name, out):
        """Canonical hash of an op's parquet output; an op repeats, and a
        byte-identical output is hashed once."""
        files = sorted(os.path.join(d, f) for d, _, fs in os.walk(out) for f in fs
                       if f.endswith(".parquet"))
        key = (name, tuple(sorted(hashlib.sha256(open(f, "rb").read()).hexdigest()
                                  for f in files)))
        if key not in self._seen:
            glob = f"{out}/*/*.parquet" if name == "l12multi" else f"{out}/*.parquet"
            self._seen[key] = canon_hash(self.con.sql(f"SELECT * FROM '{glob}'"))
        return self._seen[key]

    def check(self, name, out):
        """None when the op's output matches its oracle, else why not."""
        if name == "ann_serve":  # checked in the JVM against the setup answer
            return None
        if name not in self.expected:
            return f"no oracle for {name}"
        return compare(self.output_hash(name, out), self.expected[name])


def _cents(s):
    return int(round(float(s) * 100))


class ChurnModel:
    """The `table_churn` table as a plain DataFrame: the same seeded
    changes applied to the source parquet without VersionedTable."""

    COLS = ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"]

    def __init__(self, data_dir, spec, oracles):
        self.oracles = oracles
        self.fed_sql = fed_sql(spec["fed"])["q105"].replace("FROM orders ", "FROM model_orders ")
        self.src = pd.read_parquet(os.path.join(data_dir, "orders.parquet")).set_index("o_orderkey")
        self.n_orders = spec["n_orders"]
        self.rounds = spec["churn"]
        self.cur = self.src.copy()
        self.version = 0
        self.aggs = {0: self._agg(self.cur)}
        self.changes = {0: len(self.cur)}  # rows each version feeds
        self.cursor = (0, self.cur.copy())
        self.bytes_per_row = []  # (changed rows, table bytes / live rows) per write

    @staticmethod
    def _agg(df):
        return len(df), int((df["o_totalprice"] * 100).round().astype("int64").sum())

    def _new_rows(self, keys):
        k = pd.Index(keys, name="o_orderkey")
        return pd.DataFrame({
            "o_custkey": k.values % self.n_orders,
            "o_orderstatus": "O",
            "o_totalprice": 1000.0 + (k.values % 1000).astype("float64"),
            "o_orderdate": pd.Timestamp("2000-01-01"),
            "o_orderpriority": "3-MEDIUM"}, index=k)

    @staticmethod
    def _diff(old, new):
        """insert/update/delete counts between two snapshots, by value."""
        ins = new.index.difference(old.index)
        dele = old.index.difference(new.index)
        both = old.index.intersection(new.index)
        a, b = old.loc[both, ChurnModel.COLS], new.loc[both, ChurnModel.COLS]
        upd = int((a != b).any(axis=1).sum())
        return {k: v for k, v in (("insert", len(ins)), ("update", upd),
                                  ("delete", len(dele))) if v}

    def _commit(self, old):
        self.version += 1
        self.changes[self.version] = sum(self._diff(old, self.cur).values())
        self.aggs[self.version] = self._agg(self.cur)

    def apply(self, rec):
        """Replay one op record; None when its result matches the model."""
        name, info = rec["name"], rec["info"]
        r = self.rounds[rec["round"]]
        old = self.cur
        if name == "merge":
            m = r["merge"]
            upd = self.src.loc[self.src.index.intersection(m["update_keys"])].copy()
            upd["o_totalprice"] = upd["o_totalprice"] + m["price_delta"]
            ch = pd.concat([upd, self._new_rows(m["insert_keys"])])
            self.cur = pd.concat([old.drop(old.index.intersection(ch.index)), ch])
            self._commit(old)
            return self._write_check(info, old)
        if name == "delete":
            d = r["delete"]
            k = old.index
            hit = (k >= d["lo"]) & (k < d["hi"]) & (k % d["mod"] == d["rem"])
            n = int(hit.sum())
            if n:
                self.cur = old[~hit]
                self._commit(old)
            if info.get("rows_deleted") != n:
                return f"rows_deleted {info.get('rows_deleted')} != model {n}"
            return self._write_check(info, old) if n else (
                None if info.get("version") == -1 else "delete of nothing committed")
        if name == "update":
            u = r["update"]
            k = old.index
            hit = (k >= u["lo"]) & (k < u["hi"])
            if not hit.any():
                return None if info.get("version") == -1 else "update of nothing committed"
            self.cur = old.copy()
            self.cur.loc[hit, "o_orderstatus"] = u["status"]
            self.cur.loc[hit, "o_totalprice"] = self.cur.loc[hit, "o_totalprice"] + 1.5
            self._commit(old)
            return self._write_check(info, old)
        if name == "append":
            self.cur = pd.concat([old, self._new_rows(r["append"]["keys"])])
            self._commit(old)
            return self._write_check(info, old)
        if name == "point_read":
            k = info["key"]
            want = [] if k not in self.cur.index else [
                [self.cur.at[k, "o_orderstatus"], float(self.cur.at[k, "o_totalprice"])]]
            got = [[s, float(p)] for s, p in info["rows"]]
            return None if got == want else f"point read {k}: {got} != model {want}"
        if name == "snapshot_read":
            g = self.cur.groupby("o_orderstatus")["o_totalprice"]
            want = {s: (int(n), c) for s, n, c in zip(
                g.size().index, g.size().values,
                (self.cur["o_totalprice"] * 100).round().astype("int64")
                .groupby(self.cur["o_orderstatus"]).sum().values)}
            got = {s: (int(n), _cents(c)) for s, n, c in info["groups"]}
            return None if got == want else f"snapshot {got} != model {want}"
        if name == "timetravel_read":
            want = self.aggs.get(info["version"])
            got = (info["n"], _cents(info["sum"]))
            return None if got == want else f"version {info['version']}: {got} != model {want}"
        if name == "feed_poll":
            cv, snap = self.cursor
            if "from" not in info:
                return None if cv == self.version else "poll saw no changes; model has some"
            if (info["from"], info["to"]) != (cv, self.version):
                return f"poll {info['from']}->{info['to']} != model {cv}->{self.version}"
            want = self._diff(snap, self.cur)
            self.cursor = (self.version, self.cur.copy())
            return None if info["counts"] == want else f"feed {info['counts']} != model {want}"
        if name in ("q105", "q105_ctl"):
            # the federated read of the table: q105 over the model's rows
            self.oracles.con.register("model_orders", self.cur.reset_index())
            want = canon_hash(self.oracles.con.sql(self.fed_sql))
            return compare(self.oracles.output_hash(name, rec["out"]), want)
        if name == "stream_drain":
            got = {int(v): n for v, n in info["by_version"].items()}
            want = {v: n for v, n in self.changes.items() if v <= info["version"] and n}
            return None if got == want else f"stream sink {got} != model {want}"
        return f"unknown op {name}"

    def _write_check(self, info, old):
        if info.get("version") != self.version:
            return f"committed version {info.get('version')} != model {self.version}"
        if "bytes_table" in info and len(self.cur):
            changed = self.changes[self.version]
            self.bytes_per_row.append((changed, info["bytes_table"] / len(self.cur)))
        return None
